"""Seeded input generator for the benchmark.

Everything the program reads is made here, from ``--seed`` alone, before
any timed region: Apache Combined Log Format (CLF) day files and arrival
files, and the warehouse tables (TPC-H-like star schema, ``events``,
``documents``) that the corpus pipeline and the registered queries scan.
The same seed always gives byte-identical inputs; input sizes do not
depend on the seed, only contents do.

Alongside the log text the generator derives, from the same rows, what a
correct program must produce: per-user request counts, distinct users,
the status-200 count and the quarantine (malformed-line) count per day,
and the per-UTC-date row counts of the arrival stream.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The CLF shape (one group per field), used only to prove that every
#: rendered good line is well formed and every injected bad line is not.
_CLF = re.compile(
    r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "([^"]*)" (\S+) (\S+) "([^"]*)" "([^"]*)"\s*$'
)

_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_TZ_POOL = (0, 330, -480, 60, -300, 120, -420, 540, -180, 600)  # minutes
_METHODS = ("GET", "GET", "GET", "POST", "PUT", "HEAD")
_PROTOCOLS = ("HTTP/1.1", "HTTP/1.1", "HTTP/1.0", "HTTP/2.0")
_STATUS = np.array([200, 304, 404, 500, 301, 401])
_STATUS_P = np.array([0.70, 0.08, 0.10, 0.05, 0.04, 0.03])
_AGENTS = (
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64)",
    "curl/8.4.0",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
)
_CLF_EPOCH = dt.date(2026, 8, 1)

#: Users that the log lines name; the ``-`` placeholder is drawn instead
#: for about one line in ten (anonymous traffic, NULL user_id).
CLF_USERS = 2000


@dataclass
class DayExpect:
    """What the nightly job must report for one day file."""

    date: str
    lines: int
    per_user: dict[int, int]
    user_count: int
    status_200: int
    corrupt: int


@dataclass
class LogBatch:
    """One rendered block of CLF text plus its ground truth."""

    text: str
    good: int
    corrupt: int
    per_user: Counter = field(default_factory=Counter)
    status_200: int = 0
    utc_dates: Counter = field(default_factory=Counter)


def _render_lines(
    rng: np.random.Generator,
    n: int,
    day: dt.date,
    tz_choices: np.ndarray,
    tag: str,
    corrupt_share: float,
) -> LogBatch:
    """Render ``n`` lines for local calendar ``day``; about
    ``corrupt_share`` of them (placed by ``rng``) are malformed."""
    secs = np.sort(rng.integers(0, 86400, n))
    tz = rng.choice(tz_choices, n)
    anon = rng.random(n) < 0.1
    users = rng.integers(0, CLF_USERS, n)
    status = rng.choice(_STATUS, n, p=_STATUS_P)
    sizes = rng.integers(100, 60000, n)
    method = rng.integers(0, len(_METHODS), n)
    proto = rng.integers(0, len(_PROTOCOLS), n)
    agent = rng.integers(0, len(_AGENTS), n)
    ref = rng.integers(-3, 50, n)
    ip = rng.integers(1, 255, (n, 3))
    bad = np.flatnonzero(rng.random(n) < corrupt_share)
    bad_kind = rng.integers(0, 3, len(bad))

    date_s = f"{day.day:02d}/{_MONTHS[day.month - 1]}/{day.year}"
    out = LogBatch(text="", good=n - len(bad), corrupt=len(bad))
    tz_s = {
        int(o): f"{'+' if o >= 0 else '-'}{abs(o) // 60:02d}{abs(o) % 60:02d}"
        for o in tz_choices
    }
    secs_l, tz_l, users_l = secs.tolist(), tz.tolist(), users.tolist()
    anon_l, status_l = anon.tolist(), status.tolist()
    lines = [
        f"10.{a}.{b}.{c} - {'-' if an else u} "
        f"[{date_s}:{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d} {tz_s[o]}] "
        f'"{_METHODS[m]} /r/{tag}/{i} {_PROTOCOLS[p]}" '
        f"{st} {'-' if st == 304 else sz} "
        f'"{"-" if r < 0 else f"https://example.com/p/{r}"}" "{_AGENTS[ag]}"'
        for i, (a, b, c), an, u, s, o, m, p, st, sz, r, ag in zip(
            range(n), ip.tolist(), anon_l, users_l, secs_l, tz_l,
            method.tolist(), proto.tolist(), status_l, sizes.tolist(),
            ref.tolist(), agent.tolist(),
        )
    ]
    is_bad = np.zeros(n, dtype=bool)
    is_bad[bad] = True
    for j, i in enumerate(bad):
        line = lines[i]
        kind = bad_kind[j]
        if kind == 0:  # truncated mid-request
            line = line[: line.index('"') + 6]
        elif kind == 1:  # not a log line at all
            line = f"not a log line {tag} {i}"
        else:  # timestamp lost its brackets
            line = line.replace("[", "", 1).replace("]", "", 1)
        lines[i] = line
    good = ~is_bad
    named = good & ~anon
    counts = np.bincount(users[named], minlength=CLF_USERS)
    out.per_user = Counter(
        {u: int(c) for u, c in enumerate(counts.tolist()) if c}
    )
    out.status_200 = int(np.count_nonzero(good & (status == 200)))
    utc_day = np.floor_divide(secs[good] - 60 * tz[good], 86400)
    for k, c in zip(*np.unique(utc_day, return_counts=True)):
        out.utc_dates[(day + dt.timedelta(days=int(k))).isoformat()] = int(c)
    # proof of the ground truth: every bad line and a sample of the good
    # ones are labelled as the CLF shape says
    for i in [*range(0, n, max(1, n // 2000)), *bad]:
        if bool(_CLF.match(lines[i])) == bool(is_bad[i]):
            raise RuntimeError(f"generator line {i} mislabelled: {lines[i]!r}")
    out.text = "\n".join(lines) + "\n"
    return out


def tz_offsets(rng: np.random.Generator) -> np.ndarray:
    """The seed's mix of UTC offsets: three distinct ones from the pool."""
    return rng.choice(np.array(_TZ_POOL), 3, replace=False)


def write_clf_days(
    root: str, seed: int, days: int, lines_per_day: int
) -> tuple[list[str], list[DayExpect], int]:
    """Render ``days`` daily files, each in its own directory
    ``root/<date>/<date>.log`` (the nightly job ingests one directory
    per run). Returns the day directories, the per-day expectations and
    the total raw bytes."""
    rng = np.random.default_rng([seed, 1])
    tzs = tz_offsets(rng)
    dirs, expect, raw = [], [], 0
    for d in range(days):
        day = _CLF_EPOCH + dt.timedelta(days=d)
        date = day.isoformat()
        b = _render_lines(rng, lines_per_day, day, tzs, f"d{d}", 0.01)
        path = os.path.join(root, date)
        os.makedirs(path, exist_ok=True)
        data = b.text.encode()
        with open(os.path.join(path, f"{date}.log"), "wb") as f:
            f.write(data)
        raw += len(data)
        dirs.append(path)
        expect.append(
            DayExpect(
                date=date,
                lines=lines_per_day,
                per_user=dict(b.per_user),
                user_count=len(b.per_user),
                status_200=b.status_200,
                corrupt=b.corrupt,
            )
        )
    return dirs, expect, raw


def render_arrivals(
    seed: int, files: int, lines_per_file: int
) -> list[LogBatch]:
    """The arrival stream: ``files`` small CLF files, in arrival order,
    spanning a few local days with the seed's tz mix."""
    rng = np.random.default_rng([seed, 2])
    tzs = tz_offsets(rng)
    per_day = max(1, files // 3)
    return [
        _render_lines(
            rng,
            lines_per_file,
            _CLF_EPOCH + dt.timedelta(days=k // per_day),
            tzs,
            f"a{k}",
            0.01,
        )
        for k in range(files)
    ]


# ---------------------------------------------------------------------------
# Warehouse tables. Row counts follow the TPC-H-like fixture family at a
# scale factor ``sf`` (sf 0.1: 600k lineitem, 150k orders, 100k events,
# 5k documents); columns, types and value ranges match that family, so
# every registered query and its DuckDB oracle run on them unchanged.
# ---------------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
_ADJ = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
_NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring")
_PTYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days_ts(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "ms")
    span = (end - start).days
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[ms]"), pa.timestamp("ms"))


def _documents(rng, n: int) -> pa.Table:
    words = np.array(_WORDS)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng, n: int, users: int) -> pa.Table:
    gaps = rng.exponential(30 * 86400e9 / n, n).astype(np.int64)
    ts = np.datetime64("2024-01-01", "ns") + np.cumsum(gaps).astype(
        "timedelta64[ns]"
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n), pa.string()),
            "value": pa.array(
                np.round(rng.exponential(50.0, n), 2), pa.float64()
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def write_tables(root: str, seed: int, sf: float, names: tuple[str, ...]) -> int:
    """Write the named warehouse tables as ``root/<name>.parquet``;
    returns the bytes written."""
    rng = np.random.default_rng([seed, 3])
    n_sup = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    tables = {
        "region": lambda: pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(_REGIONS, pa.string()),
            }
        ),
        "nation": lambda: pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "supplier": lambda: pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_sup)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
                "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_sup)),
            }
        ),
        "customer": lambda: pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
            }
        ),
        "part": lambda: pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{_ADJ[a]} {_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                ),
                "p_type": pa.array(rng.choice(_PTYPES, n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(
                    900.0 + (np.arange(n_part) % 1000) / 10.0
                ),
            }
        ),
        "orders": lambda: pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(("O", "P", "F"), n_ord)),
                "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": _days_ts(
                    rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord
                ),
                "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
            }
        ),
        "lineitem": lambda: pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": pa.array(
                    rng.integers(1, 51, n_li).astype(np.float64)
                ),
                "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li)),
                "l_linestatus": pa.array(rng.choice(("O", "F"), n_li)),
                "l_shipdate": _days_ts(
                    rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li
                ),
            }
        ),
        "events": lambda: _events(
            rng, max(1000, int(1_000_000 * sf)), max(15, int(15_000 * sf))
        ),
        "documents": lambda: _documents(rng, max(50, int(50_000 * sf))),
    }
    os.makedirs(root, exist_ok=True)
    total = 0
    for name in names:
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(tables[name](), path)
        total += os.path.getsize(path)
    return total
