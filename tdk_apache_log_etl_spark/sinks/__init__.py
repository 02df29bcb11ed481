from .staging import (  # noqa: F401
    STAGING_TABLE,
    archive_processed,
    read_staging,
    write_staging,
)
from .jdbc import jdbc_writer, write_jdbc  # noqa: F401
