"""Physical-plan shape assertions — the 100 TB story is in the plan, not
the row counts: broadcast joins where we demanded them, filters pushed into
the parquet scan, top-k planned as TakeOrderedAndProject (no global sort),
partition pruning on the staging table."""

from __future__ import annotations

from pyspark.sql import functions as F

from tdk_apache_log_etl_spark.operators import QUERIES

from .conftest import SF_DIR_CORRECT


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_are_broadcast(spark):
    plan = _plan(QUERIES["join_customer_region"](spark, SF_DIR_CORRECT))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # no shuffle of the fact side


def test_filters_and_projection_pushed_to_scan(spark):
    plan = _plan(QUERIES["events_filter_project"](spark, SF_DIR_CORRECT))
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters")[1][:200]
    # projection pruning: the scan must not read props/ts
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "props" not in read_schema


def test_topk_plans_take_ordered(spark):
    plan = _plan(QUERIES["topk_orders_by_price"](spark, SF_DIR_CORRECT))
    assert "TakeOrderedAndProject" in plan


def test_q1_whole_stage_codegen(spark):
    df = QUERIES["tpch_q1_pricing_summary"](spark, SF_DIR_CORRECT)
    # AQE hides codegen until the plan is finalized — execute, then inspect.
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "*(" in plan  # WholeStageCodegen stage marker


def test_window_top1_uses_group_limit(spark):
    plan = _plan(QUERIES["window_top_order_per_customer"](spark, SF_DIR_CORRECT))
    # Spark 3.5+/4.x pushes rn==1 into a per-partition WindowGroupLimit
    assert "WindowGroupLimit" in plan


def test_staging_partition_pruning(spark, tmp_path):
    from tdk_apache_log_etl_spark.sinks.staging import read_staging, write_staging

    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "2026-08-12").otherwise("2026-08-13")
        .alias("date"),
    )
    path = str(tmp_path / "staging")
    write_staging(df, path)
    pruned = read_staging(spark, path, date="2026-08-13")
    assert pruned.count() == 50
    plan = _plan(pruned)
    # partition filter applied at scan; only one of two partitions read
    assert "PartitionFilters" in plan and "2026-08-13" in plan


def test_catalog_registration_and_pruned_sql(spark, tmp_path):
    from tdk_apache_log_etl_spark.sinks.staging import (
        register_staging_table,
        write_staging,
    )

    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "2026-08-12").otherwise("2026-08-13")
        .alias("date"),
    )
    path = str(tmp_path / "staging_cat")
    write_staging(df, path)
    register_staging_table(spark, path, table="log_clean_cat_test")
    # idempotent: second registration is a no-op
    register_staging_table(spark, path, table="log_clean_cat_test")

    assert spark.read.table("log_clean_cat_test").count() == 100
    pruned = spark.sql(
        "SELECT count(*) AS n FROM log_clean_cat_test WHERE date = '2026-08-13'"
    )
    assert pruned.collect()[0].n == 50
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "2026-08-13" in plan
    spark.sql("DROP TABLE log_clean_cat_test")


def test_no_forced_broadcast_of_unbounded_dimension():
    # Policy gate: a F.broadcast() hint pins the frame into executor
    # memory regardless of size, so it is only allowed on frames bounded
    # at ANY scale factor — nation (25 rows), region (5), single-row
    # aggregates, and the by-contract-small query/dim sets. customer,
    # supplier, part, orders, lineitem grow with SF; hinting them is the
    # plan that OOMs a 100 TB cluster even though it passes every sf0.1
    # test. AQE picks broadcast for them at bench scale anyway.
    import pathlib
    import re

    allowed = {
        "nation", "region", "max_rev", "queries", "query_probes", "dim",
        # 1-row aggregates (global scalar-subquery results):
        "threshold", "total", "bounds", "n_min",
        # per-source keep-rate frame: one row per distinct `source` value
        # (a by-contract-small label set, like dim)
        "rates",
        # N_GROUPS-row prefix-sum offset frame (packing.py)
        "group_offsets",
        # distributed-quantile selection (relational.py): P-row
        # per-range-partition offsets and the 2·|qs|-row target ranks
        "offsets", "targets", "n_total",
        # bm25 (text.py): |terms|-row document frequencies and the 1-row
        # corpus stats
        "corpus", "term_df",
        # co-occurrence lift (text.py): the top-M token set and the
        # 1-row doc count
        "top_tokens", "n",
        # benford (logmetrics.py): the fixed 9-row expectation table
        "expected",
        # dow baseline (robuststats.py): ≤ |event types| × 7 rows
        "base",
        # covariance per-dimension stats (similarity.py): |dims| rows each
        "si", "sj",
        # OOV vocabulary (text.py): top-K rows by contract
        "vocab",
        # key-skew audit (concentration.py): the 1-row quantile array
        "q",
        # cohort LTV (logmetrics.py): one row per first-seen week —
        # grows with calendar time, not data volume (like months)
        "sizes",
        # approx-percentile rank verification (logmetrics.py): the
        # |event types|-row sketch-result frame joined back for the
        # exact-rank count
        "approx",
        # KLL rollup verification (sketches.py): |event types|+1 rows
        "quants",
        # theta set-ops (sketches.py): the 1-row pair of sketch binaries
        "sketches",
        # HLL rollup verification (sketches.py): one row per grain cell
        # — grows with calendar days × event types, not fact volume
        "ests",
        # Misra–Gries candidates (sketches.py): ≤ partitions·MG_K rows
        # regardless of vocabulary/corpus size — that bound is the point
        # of the operator
        "cands",
        # trigram-noise head (text.py): the 1-row doc count and the
        # common-trigram head, bounded by avg-distinct-tri-per-doc/1%
        # at any corpus size (rare tail never broadcast)
        "n_docs", "common",
        # PQ re-rank (similarity.py): the TOPK_N_QUERIES-row query frame
        "qframe",
        # hybrid RRF / MMR (similarity.py): the 1-row query vector
        "qvec",
        # label-noise audit (similarity.py): NOISE_PROBES rows by contract
        "probes",
        # Poisson bootstrap (concentration.py): the two 1-row CI bounds
        "lo", "hi",
        # TF-cosine df cap (text.py): the 1-row corpus doc count
        "nd",
        # personalized PageRank (graph.py): the 1-row source-node scalar
        "src0",
        # Cramér's V (concentration.py): the 1-row (n, nr, nc) totals
        "tot",
        # SAX (robuststats.py): the 1-row global-moment frame
        "m",
        # CF holdout eval (basket.py): the 1-row cold-item count
        "cold",
        # KS drift (concentration.py): the 1-row (n1, n2) totals and
        # the 1-row max-gap scalar
        "totals", "mx",
        # Welch t-test (concentration.py): the 1-row second-group moments
        "b",
        # target encoding (mlprep.py): |segments|- and |folds|-row
        # marginal frames off the 25-row cell frame
        "seg", "fld",
        # two-phase prefix sums (robuststats.py, mlprep.py): the 32-row
        # pid-offset frame (the _global_ranks shape)
        "off",
        # decision stump (mlprep.py): the 1-row min-gini and argmin rows
        "mn", "best_v",
        # t-closeness (privacy.py): the ≤11-row sensitive-band marginal
        "glob",
        # Spearman (robuststats.py): quantity-rank frame bounded by the
        # 2-dp quantity DOMAIN (~5k rows at any volume)
        "rq",
        # power iteration (similarity.py): the 1-row L∞ norm scalar
        "nrm",
        # Bloom probe (sketches.py, bloom_stream.py): the one-row dense
        # word array (m/8 bytes by the FILTER SIZE constant) and the
        # ≤ m/64-row sparse word table it is assembled from
        "bloom", "words",
        # datasheet card (text.py): the 1-row vocab count frame
        "v",
        # unigram sampling table (text.py): the 1-row (Z, T) normalizer
        "z",
        # event-mix drift (concentration.py): the 2-row halves marginal
        "ct",
        # cross-source duplication (dedup.py): |sources|-row inventories
        "ia", "ib",
        # nearest-centroid (similarity.py): the |labels|×dims centroid
        # frame (constants at any corpus size)
        "cent",
        # freshness audit (logmetrics.py): the 1-row corpus high-water
        "g",
        # churn ladder (growth.py): 1-row corpus-end + 3-row windows
        "wins",
        # Kendall tau-b (concentration.py): 1-row tie marginals off the
        # <=550-cell domain grid
        "qm", "dm",
        # Kruskal-Wallis (concentration.py): the 1-row tie-cube frame
        "tie",
        # conformal interval (mlprep.py): 1-row calibration moments /
        # quantile / test-coverage frames
        "cal", "tst",
        # Hodges-Lehmann (robuststats.py): the value-DOMAIN cell frame
        # (bounded by value range, not volume) and the 1-row N frame
        "cells_b", "tot",
        # zone-map audit (tablestats.py): one-row-per-date cumulative
        # frame (calendar-bounded), the 6-row literal probe frame, and
        # the 2-row/≤12-row per-layout / per-probe summary frames
        "cum", "probes", "totals", "matched",
        # empirical-Bayes shrinkage (temporal.py): the 1-row moment frame
        "prior",
        # PSI (concentration.py): the 1-row calendar midpoint and the
        # |features|-row Laplace totals frame
        "mid", "ft",
        # replay watermark audit (temporal.py): the 32-row per-partition
        # prefix-max frame
        "prevmax",
        # k-anon planner (privacy.py): the 1-row lattice-winner frame
        "winner",
        # OBF sequential monitoring (concentration.py): the 1-row
        # calendar-bounds and first-crossing frames
        "bounds", "first_x",
        # LPM routing (logmetrics.py): the literal route table — a
        # production BGP table (~1e6 short rows, tens of MB) is still
        # the textbook broadcast side
        "routes",
        # greedy coverage (hygiene.py): the covered-vocabulary frame,
        # bounded by K x the largest doc's bigram vocabulary
        "covered",
    }
    src = pathlib.Path(__file__).resolve().parent.parent / "tdk_apache_log_etl_spark"
    bad = []
    for p in sorted(src.rglob("*.py")):
        for m in re.finditer(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)", p.read_text()):
            if m.group(1) not in allowed:
                bad.append(f"{p.name}: F.broadcast({m.group(1)}...)")
    assert not bad, f"forced broadcast of unbounded frame(s): {bad}"


def test_q4_exists_plans_semi_join_with_residual(spark):
    plan = _plan(QUERIES["tpch_q4_priority_count"](spark, SF_DIR_CORRECT))
    assert "LeftSemi" in plan
    # the inequality rides the semi join as a residual condition, not a
    # nested-loop: no BroadcastNestedLoopJoin anywhere in the plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q5_star_broadcasts_every_dimension(spark):
    plan = _plan(QUERIES["tpch_q5_local_supplier_volume"](spark, SF_DIR_CORRECT))
    # 5 joins total; the explicitly-broadcast dims must all be BHJ. At this
    # SF AQE may broadcast the fact-fact join too, so just require zero
    # shuffle-requiring join strategies for the dimensions:
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in plan


def test_q14_single_aggregation_pass(spark):
    df = QUERIES["tpch_q14_promo_revenue"](spark, SF_DIR_CORRECT)
    plan = _plan(df)
    # both CASE-sums fold into one HashAggregate pair (partial+final over
    # the broadcast join) — a second aggregate would mean two scans
    assert plan.count("HashAggregate") == 2
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_skips_shuffle_and_sort(spark, tmp_path):
    from tdk_apache_log_etl_spark.sinks.staging import write_bucketed

    o = spark.range(0, 10_000).selectExpr(
        "id AS o_orderkey", "id % 5 AS o_status"
    )
    li = spark.range(0, 40_000).selectExpr(
        "id % 10000 AS l_orderkey", "id AS l_qty"
    )
    write_bucketed(o, "b_orders", "o_orderkey", 8, str(tmp_path / "bo"))
    write_bucketed(li, "b_lineitem", "l_orderkey", 8, str(tmp_path / "bl"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # Spark 3+ ignores per-bucket sort metadata unless this is on (the
        # one-file-per-bucket layout write_bucketed guarantees is exactly
        # the condition that makes it safe):
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        joined.collect()
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        # bucketing makes both sides pre-partitioned AND pre-sorted on the
        # key: the join must plan no exchange and no per-task sort
        assert "Exchange hashpartitioning" not in plan
        assert "Sort [" not in plan.replace("SortMergeJoin", "")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_q21_reads_lineitem_once(spark):
    # the EXISTS/NOT EXISTS pair decorrelates into window aggregates, so
    # lineitem and orders are each scanned exactly once — the naive
    # groupBy + join-back rewrite scans them twice (no ReusedExchange)
    df = QUERIES["tpch_q21_waiting_suppliers"](spark, SF_DIR_CORRECT)
    df.collect()
    # AQE's toString prints the Initial Plan below the Final Plan — only
    # count scans in the executed (final) section
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1
    assert "TakeOrderedAndProject" in plan


def test_q17_correlated_avg_is_one_window_pass(spark):
    # the correlated AVG(l_quantity) decorrelates into a window over the
    # part key: one scan of lineitem, no self-join back
    plan = _plan(QUERIES["tpch_q17_small_qty_revenue"](spark, SF_DIR_CORRECT))
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan


def test_q2_min_subquery_is_window_not_join(spark):
    # MIN-per-part decorrelates to a window, so the aggregated unit-cost
    # frame appears once and lineitem is scanned once
    plan = _plan(QUERIES["tpch_q2_min_cost_supplier"](spark, SF_DIR_CORRECT))
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_q16_blacklist_is_anti_join(spark):
    plan = _plan(QUERIES["tpch_q16_supplier_cnt"](spark, SF_DIR_CORRECT))
    assert "LeftAnti" in plan


def test_q20_nested_subquery_is_semi_join(spark):
    plan = _plan(QUERIES["tpch_q20_promotion_suppliers"](spark, SF_DIR_CORRECT))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_top3_per_group_plans_window_group_limit(spark):
    plan = _plan(QUERIES["top3_orders_per_segment"](spark, SF_DIR_CORRECT))
    assert "WindowGroupLimit" in plan


def test_compact_staging_reduces_files_and_preserves_rows(spark, tmp_path):
    from tdk_apache_log_etl_spark.sinks.staging import (
        compact_staging,
        read_staging,
    )

    path = str(tmp_path / "staging_compact")
    # simulate many micro-batch appends: 8 writes x 2 partitions
    for i in range(8):
        df = spark.range(i * 10, (i + 1) * 10).select(
            F.col("id"),
            F.when(F.col("id") % 2 == 0, "2026-08-12")
            .otherwise("2026-08-13")
            .alias("date"),
        )
        df.repartition(4).write.mode("append").partitionBy("date").parquet(
            path
        )
    import glob
    import os as _os

    def n_files(d):
        return len(
            glob.glob(_os.path.join(path, f"date={d}", "*.parquet"))
        )

    assert n_files("2026-08-12") > 8
    before = read_staging(spark, path).groupBy("date").count().collect()

    n = compact_staging(spark, path, dates=["2026-08-12"])
    assert n == 1
    # compacted partition: 1 file; untouched partition: still many
    assert n_files("2026-08-12") == 1
    assert n_files("2026-08-13") > 8
    after = read_staging(spark, path).groupBy("date").count().collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_compact_staging_honors_target_above_one(spark, tmp_path):
    from tdk_apache_log_etl_spark.sinks.staging import compact_staging

    path = str(tmp_path / "staging_compact2")
    df = spark.range(1000).select(
        F.col("id"), F.lit("2026-08-12").alias("date")
    )
    df.repartition(16).write.mode("append").partitionBy("date").parquet(path)
    compact_staging(spark, path, target_files_per_partition=3)
    import glob
    import os as _os

    files = glob.glob(_os.path.join(path, "date=2026-08-12", "*.parquet"))
    assert 1 <= len(files) <= 3


def test_salting_splits_hot_key_partitions(spark):
    from tdk_apache_log_etl_spark.operators.skew import salted_join

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # the session sizes shuffles to the core count (8 on a small host);
    # the 8x bound below assumes 32 reducers for the 64 salted groups
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        # 90% of the big side carries ONE key — the stranded-reducer shape
        big = spark.range(100_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(1))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("rid"),
        )
        small = big.select("k").distinct().withColumn("v", F.col("k") * 2)

        def max_partition_rows(df):
            sizes = (
                df.withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .count()
                .collect()
            )
            return max(r["count"] for r in sizes)

        plain = big.join(small, "k")
        salted = salted_join(big, small, "k", "rid", n_salts=64)
        assert plain.count() == salted.count() == 100_000

        hot = 90_000
        m_plain = max_partition_rows(plain)
        m_salted = max_partition_rows(salted)
        # unsalted: the hot key lands intact in one task
        assert m_plain >= hot
        # salted: 64 hot-key groups spread over the 32 shuffle
        # partitions; even with birthday-collision stacking the biggest
        # partition must shrink at least 8x
        assert m_salted <= m_plain / 8, (m_plain, m_salted)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_q2_single_exchange_feeds_agg_and_window(spark):
    """The r2 Q2 rewrite: the p_type semi-join sits BELOW the aggregate,
    and one hash partitioning on l_partkey serves both the
    (partkey, suppkey) aggregate and the per-partkey window — no second
    lineitem-wide exchange between them."""
    df = QUERIES["tpch_q2_min_cost_supplier"](spark, SF_DIR_CORRECT)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    assert "LeftSemi" in plan, "p_type filter not pushed below agg"
    # ONE shuffle exchange in the whole query (the l_partkey repartition
    # shared by agg + window); every other join is broadcast at this sf
    shuffles = re.findall(r"[+:]- Exchange \(", plan)
    assert len(shuffles) == 1, plan


def test_fuzzy_pairs_is_hash_join_not_bnlj(spark):
    # The blocked ER join must plan as an equi-join on the block key with
    # levenshtein as residual — a BroadcastNestedLoopJoin would mean the
    # blocking failed and every name pair is compared.
    plan = _plan(QUERIES["fuzzy_part_name_pairs"](spark, SF_DIR_CORRECT))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_trend_is_single_aggregation_pass(spark):
    # All four OLS moments must ride one partial+final hash aggregate —
    # no join, no window, no second scan of events.
    plan = _plan(QUERIES["events_value_trend"](spark, SF_DIR_CORRECT))
    assert plan.count("Scan parquet") == 1
    assert "HashAggregate" in plan
    assert "Join" not in plan


def test_commonness_total_is_broadcast(spark):
    # The corpus-total single-row frame must come in as a broadcast,
    # never a shuffled cross join.
    plan = _plan(QUERIES["token_commonness_scores"](spark, SF_DIR_CORRECT))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_lateral_decorrelates_to_window_group_limit(spark):
    # The correlated LATERAL-with-LIMIT must decorrelate: one equi-join
    # plus WindowGroupLimit, never a per-row nested loop.
    plan = _plan(QUERIES["lateral_top2_orders"](spark, SF_DIR_CORRECT))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    # Optimizer coverage: with a selective filter on the dim side of a
    # SHUFFLE join, Spark injects a runtime bloom filter
    # (bloom_filter_agg on the dim key, BloomFilterMightContain on the
    # fact side) so fact rows that cannot join are dropped before the
    # exchange — at 100 TB this is the difference between shuffling the
    # whole fact table and shuffling the ~matching slice. Thresholds are
    # tuned down because the fixture is tiny; production defaults
    # (10 MB creation side / 10 GB application side) express the same
    # plan at real scale. Broadcast is disabled for the test because a
    # broadcast join already prunes at the hash lookup — the bloom
    # filter only pays for itself on shuffle joins.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    import pyspark.sql.functions as F

    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{SF_DIR_CORRECT}/orders.parquet")
        li = spark.read.parquet(f"{SF_DIR_CORRECT}/lineitem.parquet")
        sel = orders.where(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_weighted_sample_plans_window_group_limit(spark):
    # rank<=K must prune per-partition before the stratum exchange
    plan = _plan(QUERIES["weighted_sample_events"](spark, SF_DIR_CORRECT))
    assert "WindowGroupLimit" in plan


def test_bm25_topn_is_take_ordered(spark):
    plan = _plan(QUERIES["bm25_doc_ranking"](spark, SF_DIR_CORRECT))
    assert "TakeOrderedAndProject" in plan


def test_cooccurrence_top_tokens_are_broadcast(spark):
    # the top-M token set must broadcast into the incidence self-join —
    # a shuffled pair join over the raw vocabulary would be the
    # quadratic plan this operator exists to avoid
    plan = _plan(QUERIES["token_cooccurrence_lift"](spark, SF_DIR_CORRECT))
    assert "BroadcastHashJoin" in plan


def test_transition_counts_have_partial_aggregate(spark):
    # the |types|^2 pair counts must collapse map-side (partial_count)
    # before any exchange
    plan = _plan(QUERIES["event_transition_matrix"](spark, SF_DIR_CORRECT))
    assert "partial_count" in plan


def test_locf_spine_bounds_are_broadcast(spark):
    # day bounds ride a broadcast, and the LOCF window must NOT add a
    # second exchange on top of the spine join's user partitioning
    df = QUERIES["user_daily_value_locf"](spark, SF_DIR_CORRECT)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    n_user_exchanges = plan.count("hashpartitioning(user_id")
    assert n_user_exchanges <= 2, plan[:2000]


def test_sketch_rollups_partial_aggregate_and_broadcast_verify(spark):
    # Sketch builds must be map-side combinable (ObjectHashAggregate with
    # partial modes — the monoid property the 100 TB story rests on), and
    # the exact-rank/exact-count verification joins must broadcast the
    # tiny sketch-result frames, never shuffle the facts twice.
    plan = _plan(QUERIES["kll_quantile_rollup"](spark, SF_DIR_CORRECT))
    assert "ObjectHashAggregate" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    plan = _plan(QUERIES["hll_user_rollup"](spark, SF_DIR_CORRECT))
    assert "ObjectHashAggregate" in plan
    assert "SortMergeJoin" not in plan

    # theta: the only non-equi join is the deliberate 1-row x 1-row
    # scalar combine; the sketch build itself is a partial aggregate
    plan = _plan(QUERIES["theta_user_set_ops"](spark, SF_DIR_CORRECT))
    assert "ObjectHashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_trigram_noise_scoring_join_is_broadcast(spark):
    # the per-occurrence frame joins the bounded common head by BHJ —
    # a SortMergeJoin here would shuffle the whole char-level explode
    plan = _plan(QUERIES["char_trigram_noise"](spark, SF_DIR_CORRECT))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_heavy_hitters_exact_pass_is_broadcast_and_arrow(spark):
    plan = _plan(QUERIES["heavy_hitter_ngrams"](spark, SF_DIR_CORRECT))
    # MG candidate stage is the Arrow-batched form, never BatchEvalPython
    assert "MapInPandas" in plan
    # the verify pass joins candidates by BHJ (bounded partitions·k rows)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_skyline_local_phase_is_bucket_partitioned(spark):
    # phase 1 windows must partition by the hash bucket (parallel local
    # skylines); exactly ONE single-partition window pass (phase 2) may
    # remain, over the reduced survivor union
    plan = _plan(
        QUERIES["skyline_customers_spend_orders"](spark, SF_DIR_CORRECT)
    )
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the skyline plan"
    global_specs = [
        s for s in specs if re.match(r"\s*\w+#\d+\w* (ASC|DESC)", s)
    ]
    partitioned = [s for s in specs if s not in global_specs]
    assert partitioned, "local phase lost its _pid partitioning"


def test_frequent_triples_prune_is_semi_join(spark):
    plan = _plan(QUERIES["frequent_part_triples"](spark, SF_DIR_CORRECT))
    assert "LeftSemi" in plan  # the downward-closure prune
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
