"""Scale-path plan assertions: the shapes that matter at 100 TB —
bucketed co-located joins (no shuffle), salted skew joins (result
parity), and plan-quality checks (broadcasts, pushdown) on the
assembled pipelines."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.operators import joins as J
from financial_market_data_analysis_spark.operators.joins import salted_skew_join
from financial_market_data_analysis_spark.sources.batch import (
    load_table,
    write_bucketed,
)

from conftest import SF_SMOKE


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the same key/count must join with ZERO
    Exchange operators — the co-located join that keeps a repeatedly
    joined fact table from reshuffling per query."""
    li = load_table(spark, "lineitem", SF_SMOKE).select("l_orderkey", "l_quantity")
    orders = load_table(spark, "orders", SF_SMOKE).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed(li, "b_lineitem", "l_orderkey", str(tmp_path / "bl"))
    write_bucketed(orders, "b_orders", "l_orderkey", str(tmp_path / "bo"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_lineitem").join(spark.table("b_orders"), "l_orderkey")
        n = j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
        assert n == li.join(orders, "l_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_j5_query_join_is_shuffle_free(spark):
    """The EXACT query the driver adjudicates (j5_bucketed_join) must
    join its two bucketed tables without an Exchange between the scans
    and the join — the co-located shape is asserted on the shipped
    query, not just the operator in isolation."""
    import __spark_entry__ as entry_mod

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = entry_mod.queries()["j5_bucketed_join"](spark, SF_SMOKE)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS j5_purch")
        spark.sql("DROP TABLE IF EXISTS j5_views")


def test_salted_join_matches_plain_join(spark):
    """Salting must not change join semantics: every (row, dim) pair of
    the plain join appears exactly once."""
    ev = load_table(spark, "events", SF_SMOKE).select("event_id", "event_type")
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("type_n"))
    salted = salted_skew_join(ev, dim, "event_type")
    plain = ev.join(dim, "event_type")
    assert salted.count() == plain.count()
    assert (
        salted.select("event_id", "type_n")
        .exceptAll(plain.select("event_id", "type_n"))
        .count()
        == 0
    )


def test_salted_join_spreads_hot_key(spark):
    """The salt must actually split a hot key across partitions: with
    one dominant key, the salted shuffle key space has ~N_SALTS
    distinct values for it."""
    ev = load_table(spark, "events", SF_SMOKE).select("event_id", "event_type")
    hot = ev.withColumn("event_type", F.lit("hot"))  # 100% skew
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in hot.columns]), F.lit(J.N_SALTS))
    n_distinct = hot.select(salt.alias("s")).distinct().count()
    assert n_distinct == J.N_SALTS


def test_salted_join_skew_stress_parity_and_spread(spark, monkeypatch):
    """r6 verdict #6: the measured skew datapoint. Build a deliberately
    90%-one-key frame at sf0.01 (9k of 10k event rows forced onto one
    key), run the salted join, and assert BOTH halves of the skew
    story: (a) exact value parity with the plain join, and (b) the hot
    key's rows really do land on many shuffle partitions — the
    mechanism that keeps one reducer from absorbing 90% of a 100 TB
    join. AQE is disabled for the measurement (its coalescing folds a
    10k-row test into one partition, hiding the spread the salt
    creates; at real scale AQE keeps partitions apart on its own)."""
    sf01 = "/root/testdata/sf0.01"
    ev = load_table(spark, "events", sf01).select("event_id", "event_type")
    skewed = ev.withColumn(
        "event_type",
        F.when(F.pmod(F.xxhash64("event_id"), F.lit(10)) < 9, F.lit("hot"))
        .otherwise(F.col("event_type")),
    )
    dim = skewed.groupBy("event_type").agg(F.count(F.lit(1)).alias("type_n"))
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # the test session runs 4 shuffle partitions; the spread claim
    # needs more reducers than salts to be observable
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    # Force the SHUFFLE join path: salting only matters when the dim is
    # too big to broadcast (a broadcast join never shuffles the skewed
    # side in the first place — at this fixture size Spark would just
    # broadcast and the partition-spread measurement would be vacuous).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        monkeypatch.setattr(J, "N_SALTS", 16)
        salted = salted_skew_join(skewed, dim, "event_type")
        plain = skewed.join(dim, "event_type")
        # (a) exact parity, both directions
        a = salted.select("event_id", "event_type", "type_n")
        b = plain.select("event_id", "event_type", "type_n")
        assert a.count() == b.count() == 10000
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
        # the frame really is skewed: the hot key carries ~90%
        hot_n = b.filter(F.col("event_type") == "hot").count()
        assert hot_n >= 8500, hot_n
        # (b) the hot key's joined rows occupy many partitions
        spread = (
            salted.filter(F.col("event_type") == "hot")
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        assert spread >= 8, f"hot key landed on only {spread} partitions"
        # the un-salted plain join concentrates them on exactly one —
        # the contrast that proves the salt, not the data, spreads it
        plain_spread = (
            plain.filter(F.col("event_type") == "hot")
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        assert plain_spread == 1, plain_spread
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def test_full_row_plan_quality(spark):
    """The flagship wide-row plan keeps its one-pass shape: one parquet
    scan, no join (the five feeds and the deep snapshot are one
    conditional aggregate), filters reach the scan, and the indicator
    suite fuses into at most 2 Window operators."""
    from financial_market_data_analysis_spark.plans.full_row import full_row

    df = full_row(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan[:1200]
    assert "Join" not in plan, plan[:1200]
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("Window") <= 2
    assert "PushedFilters" in plan or "DataFilters" in plan


FULL_ROW_GROUPS = [(), ("symbol",)]


def _full_row_schema(group_cols):
    """The full-row schema as (name, type, nullable): doubles unless
    named below. A DECIMAL here means a literal lost its D suffix."""
    from financial_market_data_analysis_spark.plans.full_row import (
        BOOK_SIZE_COLS, CAL_COLS, COT_COLS, FULL_ROW_COLS, TARGET_COLS,
    )

    nullable_ints = {*BOOK_SIZE_COLS, *CAL_COLS} - {"session_start"}
    ints = {"delta", "session_start", *TARGET_COLS, *(c for c in COT_COLS if c.endswith("_pos"))}
    out = [("symbol", "int", True)] if group_cols else []
    for c in FULL_ROW_COLS:
        if c == "bucket_start":
            out.append((c, "bigint", True))
        elif c == "volume":
            out.append((c, "bigint", False))
        elif c in nullable_ints:
            out.append((c, "int", True))
        else:
            out.append((c, "int" if c in ints else "double", False))
    return out


@pytest.mark.parametrize("group_cols", FULL_ROW_GROUPS)
def test_full_row_schema_is_pinned(spark, group_cols):
    """Names, types and nullability of both full-row variants."""
    from financial_market_data_analysis_spark.plans.full_row import full_row

    df = full_row(spark, SF_SMOKE, group_cols=group_cols)
    got = [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]
    assert len(got) == 117 + len(group_cols)
    assert got == _full_row_schema(group_cols)


@pytest.mark.parametrize("group_cols", FULL_ROW_GROUPS)
def test_full_row_build_makes_few_py4j_round_trips(spark, monkeypatch, group_cols):
    """Building the plan crosses into the JVM a few dozen times (one SQL
    text), not once per Column operator (~8.5k before the one-pass
    rewrite). Only the building thread's commands count: py4j's
    finalizer worker sends one release command per freed JVM object
    proxy (earlier tests' included) through the same client, from its
    own thread, whenever it drains its queue."""
    import threading

    from financial_market_data_analysis_spark.plans.full_row import full_row

    full_row(spark, SF_SMOKE, group_cols=group_cols)  # the schema cache is warm
    client = spark.sparkContext._gateway._gateway_client
    builder = threading.current_thread()
    trips = []
    send = client.send_command

    def counting(*args, **kwargs):
        if threading.current_thread() is builder:
            trips.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    full_row(spark, SF_SMOKE, group_cols=group_cols)
    monkeypatch.undo()
    assert 0 < len(trips) <= 200, len(trips)


def test_full_row_warehouse_write_submits_few_jobs(spark, tmp_path):
    """The benchmark's op — the partitioned full row written through
    ``epoch_idempotent_writer`` — is one scan, one aggregate shuffle and
    one window stage: at most 5 Spark jobs (13 with per-feed joins)."""
    from financial_market_data_analysis_spark.plans.full_row import full_row
    from financial_market_data_analysis_spark.streaming.pipeline import (
        epoch_idempotent_writer,
    )

    write = epoch_idempotent_writer(str(tmp_path / "wh"), partition_by=("symbol",))
    sc = spark.sparkContext
    group = "full_row_write_jobs"
    sc.setJobGroup(group, group)
    try:
        write(full_row(spark, SF_SMOKE, group_cols=("symbol",)), 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= n <= 5, n
    assert spark.read.parquet(str(tmp_path / "wh")).count() > 0


def test_full_row_partitioned_has_no_global_sort(spark):
    """The partitioned-scale wide row (group_cols=symbol) must never
    funnel through a single partition: every Window partitions by
    symbol (hashpartitioning), and no Exchange collapses to
    SinglePartition — the shape that keeps the 117-column assembly
    parallel at 100 TB where the parity variant's single global series
    would serialize."""
    from financial_market_data_analysis_spark.plans.full_row import full_row

    df = full_row(spark, SF_SMOKE, group_cols=("symbol",))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan[:1200]
    assert "hashpartitioning(symbol" in plan, plan[:1200]
    assert plan.count("Window") <= 2
    # and the result is a real partitioned series: one row per
    # (symbol, bucket), multiple independent symbol series present
    # (only buckets where every feed has rows are kept, so sparse
    # smoke data may drop some of the 4 symbols)
    from pyspark.sql import functions as FF

    assert df.select("symbol").distinct().count() >= 2
    dup = df.groupBy("symbol", "bucket_start").count().filter(FF.col("count") > 1)
    assert dup.count() == 0


def test_pack_sequences_window_is_sharded(spark, monkeypatch):
    """Sequence packing must never funnel the corpus through ONE window
    partition: the running token sum is partitioned by the shard key
    (hashpartitioning on shard), not a global SinglePartition sort. A
    256-token budget gives some shard more than one pack at this
    corpus size."""
    from financial_market_data_analysis_spark.functions import text as T
    from financial_market_data_analysis_spark.functions.text import pack_sequences

    monkeypatch.setattr(T, "PACK_TARGET_TOKENS", 256)

    d = load_table(spark, "documents", SF_SMOKE)
    packed = pack_sequences(d)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan[:800]
    assert "hashpartitioning(shard" in plan, plan[:800]
    # every pack stays within one shard, and pack ids start at 0
    agg = packed.groupBy("shard", "pack_id").count()
    assert packed.filter(F.col("pack_id") < 0).count() == 0
    assert agg.count() > packed.select("shard").distinct().count()


def test_q6_predicates_reach_the_scan(spark):
    """The scan-filter-agg query must push all its predicates into the
    parquet scan and prune to the referenced columns — at 100 TB this
    is the difference between reading 4 columns of matching row groups
    and reading the table."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["q6_forecast_revenue"](spark, SF_SMOKE)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan") :]
    assert "PushedFilters" in scan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in scan.split("ReadSchema")[0], col
    read_schema = scan.split("ReadSchema:")[1][:200]
    assert "l_orderkey" not in read_schema  # untouched columns pruned


def test_ensure_parallelism_file_count_probe(spark, tmp_path):
    """Few files → repartition to the slot count; many files → no-op
    (Spark's bytes-per-core split sizing already yields ≥ slots scan
    partitions once files ≥ slots, so the probe must NOT add a
    shuffle there — asserted by plan identity, not partition count)."""
    from financial_market_data_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )

    target = spark.sparkContext.defaultParallelism
    d = load_table(spark, "documents", SF_SMOKE).limit(200)

    # single small file → the count probe repartitions
    one = str(tmp_path / "one")
    d.coalesce(1).write.parquet(one)
    raw_one = spark.read.parquet(one)
    assert raw_one.rdd.getNumPartitions() < target  # genuinely narrow
    out1 = ensure_parallelism(raw_one)
    assert out1.rdd.getNumPartitions() >= target

    # many tiny files → vanilla packing already parallel; probe is a
    # NO-OP (returns the input plan itself — no extra shuffle)
    src = str(tmp_path / "tiny")
    d.repartition(max(64, 2 * target)).write.parquet(src)
    many_tiny = spark.read.parquet(src)
    assert many_tiny.rdd.getNumPartitions() >= target  # packing premise
    out = ensure_parallelism(many_tiny)
    assert out is many_tiny


def test_z_value_interleaves_bits(spark):
    from financial_market_data_analysis_spark.sources.batch import z_value

    df = spark.createDataFrame(
        [(1, 0), (0, 1), (3, 3), (65535, 65535)], "x int, y int"
    )
    got = [r.z for r in df.select(z_value(F.col("x"), F.col("y")).alias("z"))
           .collect()]
    assert got == [1, 2, 15, 2**32 - 1]


def test_ivf_assignment_corpus_never_shuffles(spark):
    """IVF coarse quantization must be a row-local argmax over a
    broadcast centroid array: the corpus branch carries NO
    hashpartitioning exchange (the only exchange allowed is the tiny
    SinglePartition collect of the centroids themselves). Grouping on
    the embedding array — the previous shape — paid an array-keyed
    shuffle of every corpus vector."""
    from financial_market_data_analysis_spark.operators.similarity import (
        ivf_assignments,
    )

    e = load_table(spark, "embeddings", SF_SMOKE)
    cents = e.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cells = ivf_assignments(e, cents)
    assert cells.count() == e.count()  # one cell per vector, none dropped
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan, plan[:1200]
    # nearest-centroid semantics: a centroid vector maps to its own cell
    self_rows = cells.filter(F.col("vec_id") % 7 == 0)
    assert self_rows.filter(
        F.col("centroid_id") != F.col("vec_id")
    ).count() == 0


def test_asof_join_is_union_sort_not_theta(spark):
    """The ASOF join must plan as a keyed window over a union — one
    hashpartitioning shuffle on the key — never a theta/nested-loop
    join (the naive `l.ts >= r.ts` formulation at 100 TB)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["j3_asof_last"](spark, SF_SMOKE)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1200]
    assert "CartesianProduct" not in plan, plan[:1200]
    assert "hashpartitioning(user_id" in plan, plan[:1200]
    assert "Window" in plan


def test_asof_join_matches_rows_not_values(spark):
    """ASOF semantics match ROWS: a right row whose value is
    legitimately NULL must be returned as NULL, not skipped for an
    older non-null value (DuckDB ASOF JOIN contract)."""
    from financial_market_data_analysis_spark.operators.joins import asof_join_last
    from pyspark.sql import functions as FF

    left = spark.createDataFrame([(1, 25), (1, 15), (2, 5)], "user int, ts long")
    right = spark.createDataFrame(
        [(1, 10, 5.0), (1, 20, None)], "user int, ts long, val double"
    )
    out = {
        (r.user, r.ts): r.val
        for r in asof_join_last(left, right, "ts", ["user"], ["val"]).collect()
    }
    assert out[(1, 25)] is None  # latest row at ts=20 has NULL value
    assert out[(1, 15)] == 5.0   # ts=10 row prevails before ts=20
    assert out[(2, 5)] is None   # no prior right row at all


def test_boilerplate_strip_broadcasts_digest_set(spark):
    """Cross-doc line dedup at 100 TB: the boilerplate digest set is
    small by construction (>= min_docs copies to qualify) and must
    BROADCAST into the anti-join — no sort-merge shuffle of the corpus
    lines against it."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["x32_boilerplate"](spark, SF_SMOKE)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan, plan[:1200]


def test_decontaminate_broadcasts_benchmark_side(spark):
    """Benchmark decontamination joins a ~100 TB train corpus against a
    small benchmark table: the bench side must broadcast (no
    sort-merge shuffle of the train shingles)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["x22_decontaminate"](spark, SF_SMOKE)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan[:1200]


def test_dup_spans_has_no_pairwise_join(spark):
    """x43's cross-doc duplicated-span coverage must stay linear in the
    shingle volume: keyed hash joins only — no cartesian/broadcast
    nested loop (which would mean an all-pairs comparison leaked in)."""
    from financial_market_data_analysis_spark.operators.dedup import (
        dup_span_coverage,
        dup_span_shingle_table,
    )
    from financial_market_data_analysis_spark.plans.extensions import (
        docs_augmented,
    )

    sh = dup_span_shingle_table(docs_augmented(spark, SF_SMOKE))
    plan = (
        dup_span_coverage(sh)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_span_removal_has_no_pairwise_join(spark):
    """x44's span remover must stay linear like x43: every stage is a
    keyed hash join (shingle or doc key) — no cartesian/broadcast
    nested loop anywhere in the rewrite pipeline."""
    from financial_market_data_analysis_spark.operators.dedup import (
        dup_span_removal,
    )
    from financial_market_data_analysis_spark.plans.extensions import (
        docs_augmented,
    )

    plan = (
        dup_span_removal(docs_augmented(spark, SF_SMOKE))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_pairs_are_cell_keyed(spark):
    """x48's quadratic stage must be bounded per k-means cell: the
    pair generator is an equi-join on the cell key — no cartesian or
    broadcast nested loop over the corpus (the only BNLJ-free shapes
    the plan may contain are the broadcast single-row centroid
    structs, which are crossJoins of ONE row)."""
    from financial_market_data_analysis_spark.plans.extensions import (
        q_semantic_dedup,
    )

    plan = (
        q_semantic_dedup(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # SortMergeJoin/ShuffledHashJoin on centroid_id is the expected
    # pair stage; a corpus-vs-corpus nested loop must never appear
    # (single-row broadcast struct arrays ride BroadcastExchange of
    # one row, not BroadcastNestedLoopJoin of the corpus)
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan[:1500]


def test_bpe_encode_join_is_token_keyed(spark):
    """x41's encode join must be a keyed equi-join on the token, with
    no cartesian/nested-loop fallback — the vocab side is NOT assumed
    broadcastable at corpus scale."""
    from financial_market_data_analysis_spark.functions.text import bpe_encode

    docs = spark.createDataFrame(
        [(1, "aaa aaa bc bc"), (2, "aaa bc")], "doc_id long, text string"
    )
    plan = bpe_encode(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multires_rollup_scans_raw_events_once(spark):
    """A10's hierarchical rollup exists to avoid re-scanning the raw
    table per granularity: the 3-level union plan must contain exactly
    ONE parquet scan of events — coarser levels re-aggregate the
    checkpointed base bars."""
    from financial_market_data_analysis_spark.plans.candles import candles_multires

    ev = load_table(spark, "events", SF_SMOKE)
    out = candles_multires(ev)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1, plan[:1200]


def test_corr_matrix_is_single_reduce(spark):
    """A9: all pairwise correlations in one aggregation — the plan has
    exactly one pair of partial/final HashAggregate stages and no join."""
    from financial_market_data_analysis_spark.ml import corr_matrix

    c = load_table(spark, "events", SF_SMOKE).select("value", "ts_us")
    df = corr_matrix(
        c.withColumn("v2", F.col("value") * 2), ["value", "v2"]
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan[:1200]


def test_weighted_sample_is_shuffle_free_takeordered(spark):
    """x54's global top-k must plan as TakeOrderedAndProject (per-
    partition top-k + driver merge) with ZERO exchanges — not a global
    sort; at 100 TB the difference is a full-corpus shuffle."""
    import financial_market_data_analysis_spark.plans.extensions as X

    df = X.q_weighted_sample(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:800]
    assert "Exchange" not in plan, plan[:800]


def test_interval_lookup_has_no_theta_join(spark):
    """j6's point-in-interval lookup must NOT plan as a nested-loop /
    cartesian theta join — the union-sort rewrite keeps it one shuffle
    on the key. (The containment predicate as a plain join condition
    would give BroadcastNestedLoopJoin — quadratic per key.)"""
    import __spark_entry__ as e

    df = e.queries()["j6_interval_lookup"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan[:800]
    assert "Cartesian" not in plan, plan[:800]


def test_countmin_probe_broadcasts_the_sketch(spark):
    """x50's estimate join must broadcast the (≤ depth×width row)
    sketch side — the probe side is never shuffled for the join."""
    import financial_market_data_analysis_spark.plans.extensions as X

    df = X.q_countmin_topk(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1200]


def test_frame_dedup_plan_is_digest_keyed(spark):
    """x59's pair discovery must be a hash equi-join on the digest —
    never a nested-loop/cartesian all-pairs comparison — and the
    hot-frame guard must reach the plan as a broadcast anti-join
    (the guard table is tiny by construction: only digests shared by
    > cap assets)."""
    import financial_market_data_analysis_spark.plans.extensions as X

    df = X.q_frame_dedup(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan, plan[:800]
    assert "NestedLoop" not in plan, plan[:800]
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]


def test_incremental_dedup_bands_only_the_delta(spark):
    """x60's structural claim: the OLD corpus shingle/band pipeline
    feeds the candidate join's RIGHT side only — there is no old×old
    band self-join anywhere in the plan. Checked behaviorally in
    test_corpus_ops (old-old near-dups never pair) and here at the
    plan level: exactly TWO shingle-array pipelines exist (delta and
    corpus), and the delta side's bands appear in both the new-new
    self-join and the new-old probe while the corpus side appears
    once."""
    import financial_market_data_analysis_spark.plans.extensions as X

    df = X.q_incremental_dedup(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan, plan[:800]
    assert "NestedLoop" not in plan, plan[:800]


def test_triangle_counts_wedges_come_from_oriented_edges(spark):
    """x61's skew bound: wedges must be minted from the ORIENTED edge
    table (out-degree bounded O(sqrt(E))), and the closure check is an
    equi-join — no cartesian/nested-loop anywhere. The per-node
    expansion is a union of three projections of the closed-triangle
    table, not a re-enumeration."""
    import financial_market_data_analysis_spark.plans.extensions as X

    df = X.q_triangle_counts(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan, plan[:800]
    assert "NestedLoop" not in plan, plan[:800]


def test_embed_quantize_broadcasts_dim_stats_and_bounds_error(spark):
    """x63's scale shape: the per-dimension min/max table (DIM rows)
    must come back as a BROADCAST join against the exploded corpus —
    a shuffle there would re-key the whole corpus on dimension index.
    And the quantizer's error contract: every element error is at most
    half a quantization step of its dimension, so the per-vector
    max_abs_err is bounded by the widest dimension's step/2."""
    from financial_market_data_analysis_spark.plans.extensions import (
        QUANT_LEVELS,
        q_embed_quantize,
    )

    df = q_embed_quantize(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1200]

    import pandas as pd

    emb = pd.DataFrame(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist()
    )
    widest = float((emb.max() - emb.min()).max())
    half_step = widest / QUANT_LEVELS / 2
    rows = df.collect()
    assert rows and all(r.max_abs_err <= half_step * 1.0001 for r in rows)
    # int8 at this data's spread keeps cosine fidelity essentially intact
    assert all(r.cos_recon > 0.999 for r in rows)
    assert all(r.mse >= 0 for r in rows)


def test_random_projection_distortion_is_jl_bounded(spark):
    """x65's fidelity contract: with k=16 Rademacher dimensions the
    pairwise distance ratios must sit in a JL-plausible band (ratio²
    concentrates around 1 with std ~sqrt(2/k)≈0.35) and center near 1
    — a sign error or a dropped scale factor shifts the whole
    distribution far outside these bounds. And the transform itself
    must not shuffle: the projection is a row-local fold, so the only
    exchange in the plan is the distortion sample's self-join."""
    from financial_market_data_analysis_spark.plans.extensions import (
        q_random_projection,
    )

    rows = q_random_projection(spark, SF_SMOKE).collect()
    assert len(rows) > 50
    ratios = [r.ratio for r in rows if r.ratio is not None]
    assert len(ratios) == len(rows)  # fixture has no zero-distance pairs
    assert all(0.4 < x < 1.8 for x in ratios), (min(ratios), max(ratios))
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15, mean


def test_cube_is_single_expand_single_shuffle(spark):
    """a13's structural claim (r7 verdict #6): CUBE over (lang, source)
    plans as ONE Expand feeding a partial-aggregatable hash aggregate
    with ONE exchange — all four aggregation levels from a single scan
    and a single shuffle, never 4 scans or a shuffle per level."""
    import __spark_entry__ as e

    df = e.queries()["a13_cube"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1, plan[:1200]
    assert plan.count("Exchange") == 1, plan[:1200]
    assert plan.count("Scan parquet") == 1, plan[:1200]
    # map-side partial aggregation must sit below the exchange
    assert "partial_count" in plan, plan[:1200]


def test_cdc_apply_shares_one_keyed_sort(spark):
    """d5's structural claim (r7 verdict #6): the latest-wins
    row_number and the n_ops count ride the SAME user_id window
    partition, so the plan has exactly ONE exchange and ONE sort —
    both Window operators consume the same sorted shuffle. A second
    sort/exchange would double the only shuffle in the query."""
    import __spark_entry__ as e

    df = e.queries()["d5_cdc_apply"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan[:1500]
    assert plan.count("+- Sort ") == 1, plan[:1500]
    assert plan.count("Window") == 2, plan[:1500]


def test_contamination_scores_broadcast_bench_side(spark):
    """x68 must keep x22's scale shape: the (bench_set, shingle) side
    is broadcast — the corpus-sized shingle table is never shuffled
    for the contamination join — and no cartesian/nested-loop appears."""
    import financial_market_data_analysis_spark.plans.extensions as X

    df = X.q_contamination_scores(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan[:800]


def test_pq_codes_join_broadcasts_codebook(spark):
    """x70's scale shape: code assignment and the ADC distance-table
    join must BROADCAST the codebook side (K·M rows — KBs); the only
    corpus-sized operand is the codes table. The exact-ground-truth
    side legitimately uses a broadcast nested-loop (tiny query set ×
    corpus — the x8 pattern); what must NOT appear is a non-broadcast
    cartesian."""
    import financial_market_data_analysis_spark.plans.extensions as X

    df = X.q_pq_adc_recall(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:800]


def test_q4_semi_join_pushes_filters_to_both_scans(spark):
    """q4's scale shape (r8 verdict #8): the EXISTS resolves to a
    LeftSemi hash join, and BOTH scans arrive pre-filtered — the
    order-date window on the orders side and the quantity bound on the
    lineitem side must appear in the parquet PushedFilters, not in a
    post-scan Filter over full scans."""
    import __spark_entry__ as e

    df = e.queries()["q4_order_priority"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:1500]
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan, plan[:2000]
    assert "GreaterThanOrEqual(l_quantity,45" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_grouping_sets_is_single_expand_single_shuffle(spark):
    """a14's scale shape: explicit GROUPING SETS ((lang), (source))
    must plan as ONE Expand with exactly the two requested projections
    and ONE shuffle — the minimal-width Expand that completes the
    rollup/cube/grouping-sets family (a7/a13 carry the same assertion
    shape for their variants)."""
    import __spark_entry__ as e

    df = e.queries()["a14_grouping_sets"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1, plan[:1500]
    assert plan.count("Exchange") == 1, plan[:1500]
    # the Expand row carries exactly two projection lists:
    # Expand [[..], [..]], [output schema] — count inside the [[...]]
    expand_line = next(ln for ln in plan.splitlines() if "Expand [[" in ln)
    projections = expand_line.split("Expand [[", 1)[1].split("]], [", 1)[0]
    n_projections = projections.count("], [") + 1
    assert n_projections == 2, expand_line


def test_d7_all_shuffles_key_on_orderkey(spark):
    """d7's structural claim: the four quality checks are co-keyed on
    orderkey, so every hash-partitioned exchange in the whole report
    keys on an orderkey column — no check smuggles in a second
    partitioning scheme (the property that lets the suite ride one
    shuffle partitioning of the fact tables at 100 TB)."""
    import re

    import __spark_entry__ as e

    df = e.queries()["d7_quality_checks"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys, plan[:800]
    assert all("orderkey" in k for k in keys), keys


def test_t20_scoring_broadcasts_moment_state(spark):
    """t20's serving gate: the K-row moment table joins onto the event
    scan as a BROADCAST hash join — the corpus-sized side is never
    hash-shuffled for scoring (the topology that scores micro-batches
    against running state at 100 TB)."""
    import __spark_entry__ as e
    from financial_market_data_analysis_spark.sources.batch import load_table

    ev = load_table(spark, "events", SF_SMOKE).select(
        "event_id", "event_type", "value"
    )
    params = spark.createDataFrame(
        [("click", 0.0, 1.0)], "event_type string, mu double, sig double"
    )
    df = e._t20_score(ev, params)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "Exchange hashpartitioning" not in plan, plan[:1500]


def test_t19_scoring_broadcasts_model_params(spark):
    """t19's scorer: the 1-row (a, b) model frame is broadcast onto
    the held-out bars (BroadcastNestedLoopJoin from the explicit
    crossJoin hint) — no shuffle of the bar side, no cartesian."""
    import __spark_entry__ as e

    test = spark.createDataFrame(
        [(0, 10.0, 11.0), (300, 11.0, 12.0)],
        "bucket_start long, close double, next_close double",
    )
    params = spark.createDataFrame([(1.0, 0.5)], "b double, a double")
    df = e._t19_score(test, params)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan[:1500]
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:800]


def test_lsh_tuning_signature_pass_is_shared(spark):
    """x69's dominant cost is the k-fold md5 minhash pass; it must be
    computed ONCE and materialized (eager localCheckpoint), with all
    four band configs derived from the checkpointed rows. If the
    checkpoint were dropped, every config would re-run the hash fold
    and md5 would reappear in the final executed plan."""
    import financial_market_data_analysis_spark.plans.extensions as X

    df = X.q_lsh_tuning(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "md5" not in plan, plan[:1500]


def test_compression_table_shares_spine_and_avoids_cartesian(spark):
    """x75's scale shape: the exact ground truth and the 48-dim
    projection are checkpointed once and shared by every method
    (ExistingRDD scans in the final plan), the query/params sides ride
    broadcast joins, and no non-broadcast cartesian appears anywhere."""
    import financial_market_data_analysis_spark.plans.extensions as X

    df = X.q_compression_table(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" in plan, plan[:1500]
    assert "ExistingRDD" in plan, plan[:1500]


def test_q2_argmin_is_aggregate_not_window(spark):
    """q2's scale shape: the per-part argmin must plan as a (partial-
    aggregatable) min(struct) HashAggregate — ONE shuffle on partkey,
    no window Sort over the fact table — with the supplier dim
    broadcast onto the 2000-row result."""
    import __spark_entry__ as e

    df = e.queries()["q2_min_cost_supplier"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    import re

    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys and all("partkey" in k for k in keys), keys


def test_q7_dims_broadcast_with_pair_filter(spark):
    """q7's scale shape: both nation-resolved dims (supplier side,
    customer side) broadcast — pre-filtered to the two nations BEFORE
    the join — so the only candidate shuffle join is lineitem⋈orders."""
    import __spark_entry__ as e

    df = e.queries()["q7_nation_volume"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    n_shuffle_joins = plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert n_shuffle_joins <= 1, plan[:2000]
    assert "CartesianProduct" not in plan


def test_q13_outer_join_preserves_zero_order_customers(spark):
    """q13's semantic + plan claim: the priority predicate lives in
    the JOIN condition (a WHERE after the outer join would delete the
    zero-order class), so the histogram must still account for EVERY
    customer — sum(custdist) == |customer| — and the join stays
    LeftOuter in the plan."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    df = e.queries()["q13_customer_distribution"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in plan, plan[:1500]
    total = df.agg(F.sum("custdist")).collect()[0][0]
    n_cust = load_table(spark, "customer", SF_SMOKE).count()
    assert total == n_cust, (total, n_cust)


def test_q16_blocklist_resolves_to_broadcast_anti_join(spark):
    """q16's scale shape: the NOT-IN supplier blocklist must resolve
    to a LEFT-ANTI hash join against a BROADCAST 6-row frame — never a
    fact-side shuffle or a cartesian null-check plan."""
    import __spark_entry__ as e

    df = e.queries()["q16_supplier_count"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_q17_avg_threshold_probe_broadcasts(spark):
    """q17's scale shape: the decorrelated per-part avg frame (2000
    rows) and the brand part list must BOTH broadcast onto the fact
    scan — the correlated subquery never forces a fact-side shuffle."""
    import __spark_entry__ as e

    df = e.queries()["q17_small_qty_revenue"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 0, (
        plan[:2000]
    )


def test_q19_disjunction_is_residual_on_broadcast_join(spark):
    """q19's scale shape: the OR-of-ANDs must ride the partkey
    BROADCAST hash join as a residual condition — one fact scan, zero
    shuffle, no cartesian fallback."""
    import __spark_entry__ as e

    df = e.queries()["q19_disjunctive_revenue"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_q21_semi_and_anti_self_joins(spark):
    """q21's plan claim: the sole-returner test is ONE left-semi
    (another supplier participated) plus ONE left-anti (no other
    supplier returned) self-join over the fact-derived pair set —
    both present, no cartesian product despite the non-equi suppkey
    term in the join conditions (the orderkey equi-key carries the
    hash join)."""
    import __spark_entry__ as e

    df = e.queries()["q21_sole_returner"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:1500]
    assert "LeftAnti" in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_x76_novelty_probe_is_semi_join_on_deduped_refs(spark):
    """x76's scale shape: the reference side is reduced to DISTINCT
    grams (a gram-keyed HashAggregate) BEFORE the left-semi probe, so
    the join input is bounded by vocabulary, not corpus volume."""
    import __spark_entry__ as e

    df = e.queries()["x76_ngram_novelty"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    import re

    aggs = re.findall(r"HashAggregate\(keys=\[gram", plan)
    assert aggs, plan[:2000]


def test_q8_share_is_single_grouped_aggregate(spark):
    """q8's scale shape: the market share is two partial-aggregatable
    CASE-sums inside ONE grouped aggregation — never two scans joined
    back — with every dimension broadcast; the only candidate shuffle
    join is lineitem⋈orders."""
    import __spark_entry__ as e

    df = e.queries()["q8_market_share"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1, (
        plan[:2000]
    )
    assert "CartesianProduct" not in plan


def test_q14_month_filter_pushes_to_scan(spark):
    """q14's scale shape: the one-month window reaches the lineitem
    parquet scan as PushedFilters (not a post-scan Filter over seven
    years of fact rows) and the part dim broadcasts."""
    import __spark_entry__ as e

    df = e.queries()["q14_promo_revenue"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_q20_key_set_feeds_semi_join(spark):
    """q20's scale shape: the aggregation-derived supplier key set
    probes the supplier dim through a LEFT-SEMI join, the inner
    aggregate shuffles on the (partkey, suppkey) pair, and the
    part-name filter prunes via a broadcast join BEFORE that shuffle."""
    import re

    import __spark_entry__ as e

    df = e.queries()["q20_bulk_suppliers"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    pair_exchanges = [
        ln
        for ln in plan.splitlines()
        if "hashpartitioning" in ln and "partkey" in ln and "suppkey" in ln
    ]
    assert pair_exchanges, re.findall(r"hashpartitioning\([^)]*\)", plan)


def test_q10_top_n_is_distributed_take_ordered(spark):
    """q10's scale shape: the top-20 cut plans as TakeOrderedAndProject
    (per-partition bounded heaps merged once) — NEVER a global
    row_number() window, which would serialize the whole aggregated
    customer frame through a single partition."""
    import __spark_entry__ as e

    df = e.queries()["q10_returned_items"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]


def test_q11_total_derives_from_part_aggregate(spark):
    """q11's scale shape: the global total re-aggregates the 2000-row
    per-part frame (ONE fact-side exchange on partkey in the whole
    plan) and returns via a broadcast — never a second fact scan."""
    import re

    import __spark_entry__ as e

    df = e.queries()["q11_important_parts"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys and all("partkey" in k for k in keys), keys
    # the initial plan textually repeats the per-part subtree under the
    # total's aggregate; AQE's exchange reuse collapses it at runtime —
    # the structural claim testable here is that NO exchange keys on
    # anything but partkey and the scalar returns via a broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan[:2000]
    )
    # and the runtime plan actually reuses the per-part exchange
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final[:2500]


def test_q15_max_gate_broadcasts_back(spark):
    """q15's scale shape: the scalar max derives from the 100-row
    per-supplier aggregate and broadcasts back as the equality gate;
    the supplier dim joins broadcast too — no shuffle join anywhere."""
    import __spark_entry__ as e

    df = e.queries()["q15_top_supplier"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 0, (
        plan[:2000]
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan[:2000]
    )


def test_q22_anti_join_with_pushed_date_filter(spark):
    """q22's scale shape: the churn test is a LEFT-ANTI join whose
    orders side arrives pre-filtered — the recency window shows up in
    the orders scan's PushedFilters, below the anti-join."""
    import __spark_entry__ as e

    df = e.queries()["q22_idle_balances"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan[:1500]
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan, plan[:2500]
    assert "CartesianProduct" not in plan


def test_q21_r_pairs_distinct_runs_once(spark):
    """q21's r11 fix (r10 verdict #4): the returned-pair distinct is
    eagerly localCheckpointed, so the final plan probes a checkpointed
    scan from both self-joins instead of re-planning the fact-scale
    distinct subtree per probe. Exactly ONE composite-key
    (orderkey, suppkey) distinct exchange remains — all_pairs' — and
    the checkpoint scan appears in its place."""
    import __spark_entry__ as e

    df = e.queries()["q21_sole_returner"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan[:2000]
    pair_exchanges = [
        ln
        for ln in plan.splitlines()
        if "hashpartitioning" in ln
        and "l_orderkey" in ln
        and "l_suppkey" in ln
    ]
    assert len(pair_exchanges) == 1, pair_exchanges


def test_q5_snowflake_broadcasts_with_one_fact_shuffle_family(spark):
    """q5's scale shape: region→nation→supplier resolve as BROADCAST
    joins (the region filter reaches the supplier probe without
    touching a fact row — EqualTo(r_name) sits in the region scan's
    PushedFilters), the order-date window pushes to the orders scan,
    and only the fact-side equi-joins (lineitem⋈orders, ⋈customer)
    may shuffle."""
    import __spark_entry__ as e

    df = e.queries()["q5_local_volume"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "EqualTo(r_name,EUROPE)" in plan, plan[:2500]
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan[:2500]
    assert "CartesianProduct" not in plan
    n_shuffle_joins = plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert n_shuffle_joins <= 2, plan[:2000]


def test_q9_part_filter_broadcasts_into_fact_probe(spark):
    """q9's scale shape: the p_type filter pushes to the part scan and
    the pruned key set broadcasts INTO the lineitem probe (fact rows
    drop before any shuffle); supplier⋈nation is broadcast; every
    exchange keys on orderkey (the single fact-fact join) or the
    low-cardinality group keys — never on partkey or suppkey."""
    import re

    import __spark_entry__ as e

    df = e.queries()["q9_product_profit"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "EqualTo(p_type,PROMO)" in plan, plan[:2500]
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys and all(
        ("orderkey" in k) or ("n_name" in k) or ("supp_nation" in k)
        for k in keys
    ), keys


def test_q12_case_pivot_is_one_aggregate_over_one_join(spark):
    """q12's scale shape: both CASE sums ride ONE grouped aggregation
    over the single lineitem⋈orders join — no Window, no second scan
    joined back, at most one shuffle-join."""
    import __spark_entry__ as e

    df = e.queries()["q12_lateness_priority"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    n_shuffle_joins = plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert n_shuffle_joins <= 1, plan[:2000]


def test_q18_having_key_set_broadcasts_and_topn_is_distributed(spark):
    """q18's scale shape: the HAVING-derived big-order frame
    broadcasts into orders and then customer (orders/customer are
    never shuffled on the fact side's terms), and the top-100 plans
    as TakeOrderedAndProject — never a global window."""
    import __spark_entry__ as e

    df = e.queries()["q18_large_orders"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 0, (
        plan[:2000]
    )


def test_x77_candidates_scored_once_for_all_budgets(spark):
    """x77's scale shape: candidates are scored ONCE at the largest
    nprobe and localCheckpointed; every budget is a row-local
    admit_rank filter over that frame, so the final plan windows over
    checkpointed scans (ExistingRDD) — no brute-force re-scoring
    (zero nested-loop joins), one bounded top-k Window per budget."""
    import __spark_entry__ as e

    df = e.queries()["x77_ivf_nprobe_sweep"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    from financial_market_data_analysis_spark.plans.extensions import (
        X77_NPROBES,
    )

    # one top-k Window per budget, each with the Spark 4 group-limit
    # pushdown (rank filter applied per partition BEFORE the full sort)
    assert plan.count("Window [") == len(X77_NPROBES), plan[:2000]
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_x77_recall_monotone_with_exhaustive_anchor(spark):
    """The sweep's self-test invariants: mean recall@10 is
    non-decreasing in nprobe (a bigger probe budget can only add
    candidates) and the largest budget probes every fixture cell, so
    its recall is exactly 1.0 — the x75 raw_f32-style anchor."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e

    df = e.queries()["x77_ivf_nprobe_sweep"](spark, SF_SMOKE)
    rows = (
        df.groupBy("nprobe")
        .agg(
            F.avg("recall_at_k").alias("r"),
            F.min("n_candidates").alias("min_c"),
        )
        .orderBy("nprobe")
        .collect()
    )
    recalls = [r["r"] for r in rows]
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0, recalls
    # candidate counts grow with the budget too
    mins = [r["min_c"] for r in rows]
    assert mins == sorted(mins), mins


def test_t22_band_joins_stay_equi_joins_at_fan_in_4(spark):
    """t22's scale shape, asserted on the batch twin of its exact join
    chain: all four deep↔feed band joins must plan as bucket-keyed
    EQUI-joins (hash-partitionable state at 100 TB) — never a
    CartesianProduct or a broadcast-nested-loop theta join, which is
    what a naive range-predicate join degenerates to."""
    import __spark_entry__ as e
    from financial_market_data_analysis_spark.streaming import pipeline as P

    ev = load_table(spark, "events", SF_SMOKE)
    base = e._t22_feed_base(ev)
    deep = e._t22_hourly_feed(base, "purchase", 0, "deep")
    feeds = {
        name: e._t22_hourly_feed(base, etype, off, name)
        for name, (etype, off) in e._T22_FEEDS.items()
    }
    joined = P.join_feeds(deep, feeds)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    n_joins = (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
    )
    assert n_joins == 4, plan[:2000]


def test_s11_evolving_union_is_shuffle_free_two_parses(spark, tmp_path):
    """s11's scale shape: the widened union is a no-shuffle
    concatenation of per-drop parses — casts are columnar, nothing
    exchanges, and each drop is parsed exactly once (the cached parse
    shared by its clean/quarantine sides)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from financial_market_data_analysis_spark.sources.files import (
        load_csv_evolving,
        release_split,
    )

    old_p = tmp_path / "old"
    new_p = tmp_path / "new"
    old_p.mkdir(), new_p.mkdir()
    (old_p / "a.csv").write_text("1,en,10\n")
    (new_p / "b.csv").write_text("2,20.5,web\n")
    old_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
            StructField("n_chars", LongType(), True),
        ]
    )
    new_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("n_chars", DoubleType(), True),
            StructField("source", StringType(), True),
        ]
    )
    clean, quar = load_csv_evolving(
        spark,
        [(str(old_p), old_schema), (str(new_p), new_schema)],
    )
    plan = clean._jdf.queryExecution().executedPlan().toString()
    release_split(clean, quar)
    assert "Exchange" not in plan, plan[:1200]
    assert "Union" in plan, plan[:1200]


def test_ml5a_checkpoint_pays_indicator_pipeline_once(spark):
    """ml5a's scale shape: the tensor frame is checkpointed once for
    its three consumers (cut, scaler params, scaled output), so the
    final plan contains ZERO parquet re-scans of the events table —
    and the two single-row stats frames come back as broadcasts, never
    a CartesianProduct."""
    import __spark_entry__ as e

    df = e.queries()["ml5a_window_scaler"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:1500]
    # 2 logical single-row broadcasts (cut, mm); the cut branch is
    # inlined under mm's subtree as well, so the physical plan may
    # carry up to 3 — all over the checkpointed RDD, all 1-row frames
    assert 2 <= plan.count("BroadcastNestedLoopJoin") <= 3, plan[:2000]


def test_hll_register_agg_is_partial_aggregated(spark):
    """The HLL register fold must combine map-side (partial_max before
    the one register-keyed shuffle) so the exchange carries at most
    2^p rows per group — the sketch, not the data — and the estimate
    tail must likewise partial-aggregate its exact integer sum."""
    from financial_market_data_analysis_spark.operators import sketches as SK

    ev = load_table(spark, "events", SF_SMOKE).select("event_type", "user_id")
    regs = SK.hll_registers(ev, "user_id", ["event_type"])
    plan = regs._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, plan[:1200]
    assert "Sort" not in plan, plan[:1200]  # hash agg, no sort path
    est = SK.hll_estimate_from_registers(regs, ["event_type"])
    eplan = est._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in eplan, eplan[:1200]


def test_partition_pruned_probe_reads_no_data_columns(spark, tmp_path):
    """s13's pruning audit must stay footer-only: the probe plan
    projects nothing but the partition column, so its parquet
    ReadSchema is EMPTY — the audit costs directory metadata even on a
    100 TB warehouse."""
    from financial_market_data_analysis_spark.sources.batch import (
        write_partitioned,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).cast("int").alias("day")
    )
    path = str(tmp_path / "wh")
    write_partitioned(df, path, ["day"])
    probe = (
        spark.read.parquet(path)
        .select("day")
        .filter((F.col("day") >= 3) & (F.col("day") <= 5))
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<>" in plan, plan[:1200]


def test_r13_clickstream_plans_hold_their_shape(spark):
    """Pin the scale claims of the r13 analytics births: a15's funnel
    is a LEFT SEMI (duplicate purchases cannot inflate the numerator)
    with broadcast dims and no cartesian; a16 broadcasts the per-cohort
    sizes; a17's pivot DECLARES its values (exactly one scan — the
    distinct-discovery pre-pass is the two-pass trap its docstring
    names); a19's sessionization reads once and shuffles at most twice
    (user window, then the day rollup)."""
    import re

    import __spark_entry__ as e

    qs = e.queries()

    def shape(name):
        plan = (
            qs[name](spark, SF_SMOKE)._jdf.queryExecution()
            .executedPlan().toString()
        )
        return plan, len(re.findall(r"Scan parquet", plan))

    p, _ = shape("a15_funnel_conversion")
    assert "LeftSemi" in p and "Cartesian" not in p, p[:1200]
    p, _ = shape("a16_retention_cohorts")
    assert "BroadcastHashJoin" in p and "Cartesian" not in p, p[:1200]
    p, n = shape("a17_pivot_daily_types")
    assert n == 1, p[:1200]  # declared pivot values: ONE pass, no pre-scan
    p, n = shape("a19_sessionization")
    assert n == 1, p[:1200]
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 2, p[:1200]


def test_assert_star_broadcast_accepts_and_rejects(spark):
    """j7's plan-shape invariant, both directions: a hinted broadcast
    star passes; the SAME query forced onto sort-merge joins (hints
    removed, broadcast threshold zeroed) raises — the audit must
    catch the regression it exists for, not just bless the happy
    path."""
    import pytest

    from financial_market_data_analysis_spark.operators.joins import (
        assert_star_broadcast,
    )

    fact = spark.range(2000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g")
    )
    good = (
        fact.join(F.broadcast(dim), "k")
        .groupBy("g")
        .agg(F.sum("v").alias("s"))
    )
    assert_star_broadcast(good, n_dims=1)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bad = (
            fact.join(dim, "k")
            .groupBy("g")
            .agg(F.sum("v").alias("s"))
        )
        with pytest.raises(RuntimeError, match="plan regressed"):
            assert_star_broadcast(bad, n_dims=1)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_assert_shuffle_free_rejects_shuffling_plan(spark):
    """j5's in-query invariant: the audit must actually fire when a
    plan shuffles (a groupBy over unbucketed data), not just bless the
    bucketed happy path (which test_bucketed_join_is_shuffle_free and
    the driver-adjudicated j5 itself cover)."""
    import pytest

    from financial_market_data_analysis_spark.operators.joins import (
        assert_shuffle_free,
    )

    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    with pytest.raises(RuntimeError, match="shuffle-free plan regressed"):
        assert_shuffle_free(df)


def test_assert_skew_join_split_rejects_when_disabled(spark):
    """j9's runtime invariant, negative direction: the same skewed
    join shape with ``spark.sql.adaptive.skewJoin.enabled=false`` must
    RAISE — the audit exists to make exactly this conf regression
    loud, so the test pins that it fires (j9 itself adjudicates the
    happy path every round)."""
    import pytest

    from financial_market_data_analysis_spark.operators.joins import (
        assert_skew_join_split,
    )

    scoped = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    old = {k: spark.conf.get(k, None) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        fact = (
            spark.range(20000)
            .repartition(8)
            .select(
                F.when(F.col("id") % 10 < 7, F.lit(0))
                .otherwise(F.col("id") % 97)
                .cast("long")
                .alias("k"),
                F.md5(F.col("id").cast("string")).alias("payload"),
            )
        )
        dim = spark.range(97).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("g")
        )
        out = (
            fact.join(dim, "k")
            .groupBy("g")
            .agg(F.min("payload").alias("p"))
        )
        with pytest.raises(RuntimeError, match="skew handling did not fire"):
            assert_skew_join_split(out)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_assert_runtime_broadcast_demotion_rejects_when_disabled(spark):
    """j10's runtime invariant, negative direction: with
    ``spark.sql.adaptive.autoBroadcastJoinThreshold=-1`` (the silent
    conf regression the audit names) the SMJ must survive to the
    executed plan and the audit must RAISE."""
    import pytest

    from financial_market_data_analysis_spark.operators.joins import (
        assert_runtime_broadcast_demotion,
    )

    scoped = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        raw = spark.range(5000).select(
            (F.col("id") % 40).alias("k"), F.col("id").alias("v")
        )
        fact = raw.repartition(8)
        dim = (
            raw.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 100)
            .select("k")
        )
        out = (
            fact.join(dim, "k")
            .groupBy((F.col("k") % 7).alias("g"))
            .agg(F.sum("v").alias("s"))
        )
        with pytest.raises(
            RuntimeError, match="broadcast demotion did not fire"
        ):
            assert_runtime_broadcast_demotion(out)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_s17_audit_rejects_wide_scan_and_u2_rejects_udf(spark):
    """Negative paths for the r15 proof births (the j9/j10 negative-
    test precedent): s17's audit logic must flag a scan whose
    requiredSchema is wider than the referenced columns, and u2's
    audit must raise on a plan carrying a Python-evaluation operator.
    Both are exercised through the same walkers the queries use."""
    import pytest
    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    from financial_market_data_analysis_spark.operators.joins import (
        executed_plan_node_names,
    )
    from financial_market_data_analysis_spark.sources.batch import (
        _find_file_scan,
    )

    # a query that references EVERY column: requiredSchema stays wide,
    # which is exactly what s17's equality check must flag
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    wide = li.groupBy("l_returnflag").agg(
        *[F.max(c).alias(f"m_{c}") for c in li.columns if c != "l_returnflag"]
    )
    plan = wide._jdf.queryExecution().executedPlan()
    plan.execute().count()
    leaf = _find_file_scan(plan)
    assert leaf is not None
    read_cols = set(leaf.requiredSchema().fieldNames())
    assert read_cols == set(li.columns), read_cols
    assert read_cols != {"l_quantity", "l_returnflag"}

    # a scalar Python UDF on the hot path: the u2 forbidden-node scan
    # must see a Python-evaluation operator
    double_it = udf(lambda x: x * 2, LongType())
    bad = spark.range(100).select(double_it(F.col("id")).alias("v"))
    names = executed_plan_node_names(bad)
    forbidden = [
        n for n in set(names) if "Python" in n or "Pandas" in n
    ]
    assert forbidden, sorted(set(names))
    with pytest.raises(RuntimeError, match="codegen regressed"):
        # u2's exact raise logic, driven by the forbidden plan
        n_spans = names.count("WholeStageCodegenExec")
        n_stages = 1 + names.count("ShuffleExchangeExec") + names.count("BroadcastExchangeExec")
        if forbidden or n_spans < n_stages:
            raise RuntimeError(
                f"hot-path codegen regressed: {forbidden} / {n_spans}"
            )


def test_x81_pack_boundary_cut_condition_cross_engine(spark, duck):
    """r15's sweep class applied to x81's cut condition: the branch is
    ``st div B != (st + n_tokens - 1) div B`` and the corpus never
    lands a document EXACTLY on a pack boundary. Hostile offsets per
    budget B: a doc ending exactly at a boundary (st + n = k*B — NOT
    cut), a doc starting exactly on one (st = k*B — not cut unless it
    also spans), a doc spanning by exactly one token (cut), a
    zero-token doc sitting on a boundary (never cut, the n_tokens > 0
    gate), and a doc exactly B long starting on a boundary (fills the
    pack, not cut). Spark's integer ``div`` and DuckDB's ``//`` must
    agree row-for-row."""
    import pandas as pd

    rows = []
    for b in (512, 2048):
        rows += [
            (b, b - 7, 7, "ends_on_boundary"),      # st+n == B: not cut
            (b, b, 5, "starts_on_boundary"),        # inside pack 2: not cut
            (b, b - 7, 8, "spans_by_one"),          # crosses: cut
            (b, b, 0, "zero_tokens_on_boundary"),   # gated: not cut
            (b, 2 * b, b, "exactly_fills_pack"),    # b..2b-1: not cut
            (b, 2 * b - 1, 2, "last_token_spills"),  # cut
        ]
    df = spark.createDataFrame(rows, "b LONG, st LONG, n_tokens LONG, tag STRING")
    got = (
        df.select(
            "b",
            "tag",
            (
                (F.col("n_tokens") > 0)
                & (
                    F.expr("st div b")
                    != F.expr("(st + n_tokens - 1) div b")
                )
            )
            .cast("int")
            .alias("is_cut"),
        )
        .toPandas()
        .sort_values(["b", "tag"])
        .reset_index(drop=True)
    )
    vals = ", ".join(f"({b}, {st}, {n}, '{tag}')" for b, st, n, tag in rows)
    want = duck.execute(
        f"""
        WITH t(b, st, n_tokens, tag) AS (VALUES {vals})
        SELECT b, tag,
               CASE WHEN n_tokens > 0
                     AND st // b != (st + n_tokens - 1) // b
                    THEN 1 ELSE 0 END AS is_cut
        FROM t ORDER BY b, tag
        """
    ).fetchdf()
    pd.testing.assert_frame_equal(
        got, want.astype(got.dtypes.to_dict()), check_exact=True
    )
    by = {(r.b, r.tag): r.is_cut for r in got.itertuples()}
    for b in (512, 2048):
        assert by[(b, "ends_on_boundary")] == 0
        assert by[(b, "starts_on_boundary")] == 0
        assert by[(b, "spans_by_one")] == 1
        assert by[(b, "zero_tokens_on_boundary")] == 0
        assert by[(b, "exactly_fills_pack")] == 0
        assert by[(b, "last_token_spills")] == 1
