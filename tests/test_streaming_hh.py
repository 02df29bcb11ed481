"""Streaming heavy hitters (streaming/heavy_hitters_stream.py): the
maintained MG summary must honor the classic invariants against exact
counts of the SAME stream — est ≤ count ≤ est + err_bound,
err_bound ≤ n/(k+1), no truly-heavy n-gram missing, no false
``guaranteed`` — plus the state-size bound, replay idempotence, and
torn-write tolerance of the batch-id protocol."""

from __future__ import annotations

import os
from collections import Counter

import pandas as pd

from tdk_apache_log_etl_spark.streaming.heavy_hitters_stream import (
    apply_hh_batch,
    maintain_heavy_hitters_stream,
    read_current_heavy_hitters,
)
from tdk_apache_log_etl_spark.streaming.state_swap import committed_batches

DOC_DDL = "doc_id long, text string, lang string, source string, n_chars long"

#: the batch-dir parts heavy_hitters_stream commits per batch
STATE_PARTS = ("summary", "meta")


def _docs(texts, start_id=0):
    return pd.DataFrame(
        {
            "doc_id": range(start_id, start_id + len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )


def _exact_trigram_counts(texts) -> Counter:
    c: Counter = Counter()
    for t in texts:
        w = t.split(" ")
        for i in range(len(w) - 2):
            c[" ".join(w[i : i + 3])] += 1
    return c


# heavy phrase repeated across batches; junk phrases mostly unique, so a
# k=4 budget forces the decrement path in every merge
HEAVY = "alpha beta gamma"
BATCH1 = [HEAVY] * 6 + [f"junk{i} filler{i} noise{i} pad{i}" for i in range(9)]
BATCH2 = [HEAVY] * 6 + [f"more{i} junk{i} here{i} pad{i}" for i in range(9)]


def _check_invariants(rows, exact: Counter, k: int):
    n = sum(exact.values())
    assert len(rows) <= k
    by_ngram = {r.ngram: r for r in rows}
    for r in rows:
        assert r.n_total == n
        assert r.err_bound * (k + 1) <= n
        assert r.est <= exact[r.ngram] <= r.est + r.err_bound
        if r.guaranteed:  # no false positives among guaranteed
            assert exact[r.ngram] * (k + 1) > n
    for g, c in exact.items():  # no false negatives
        if c * (k + 1) > n:
            assert g in by_ngram and by_ngram[g].possible


def test_streamed_mg_invariants_end_to_end(spark, tmp_path):
    src = tmp_path / "docs"
    src.mkdir()
    _docs(BATCH1).to_parquet(src / "d1.parquet")
    _docs(BATCH2, start_id=100).to_parquet(src / "d2.parquet")
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(DOC_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = maintain_heavy_hitters_stream(
        spark, stream, state, str(tmp_path / "ckpt"), k=4
    ).start()
    assert q.awaitTermination(120)
    assert len(committed_batches(state, STATE_PARTS)) == 2
    rows = read_current_heavy_hitters(spark, state, k=4).collect()
    exact = _exact_trigram_counts(BATCH1 + BATCH2)
    _check_invariants(rows, exact, k=4)
    # the planted phrase is heavy (12 of 66 trigrams ≫ 66/5) and must be
    # GUARANTEED from the summary alone
    assert {r.ngram for r in rows if r.guaranteed} == {HEAVY}


def test_replayed_batch_does_not_double_count(spark, tmp_path):
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(_docs(BATCH1), DOC_DDL)
    apply_hh_batch(spark, state, b0, 0, k=4)
    before = sorted(
        tuple(r) for r in read_current_heavy_hitters(spark, state, k=4).collect()
    )
    apply_hh_batch(spark, state, b0, 0, k=4)  # at-least-once replay
    after = sorted(
        tuple(r) for r in read_current_heavy_hitters(spark, state, k=4).collect()
    )
    assert after == before


def test_torn_state_write_ignored(spark, tmp_path):
    state = str(tmp_path / "state")
    apply_hh_batch(
        spark, state, spark.createDataFrame(_docs(BATCH1), DOC_DDL), 0, k=4
    )
    torn = os.path.join(state, "batch=1", "summary")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"torn")
    assert committed_batches(state, STATE_PARTS) == [0]
    # a later good batch still lands and the combined invariants hold
    apply_hh_batch(
        spark, state, spark.createDataFrame(_docs(BATCH2), DOC_DDL), 1, k=4
    )
    rows = read_current_heavy_hitters(spark, state, k=4).collect()
    _check_invariants(rows, _exact_trigram_counts(BATCH1 + BATCH2), k=4)
