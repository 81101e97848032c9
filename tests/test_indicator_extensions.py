"""Semantics tests for the round-5 extension operators: rolling
median (W13), the hierarchical multi-resolution rollup (A10), the
one-pass correlation matrix (A9), and cross-document duplicated-span
coverage (x43) — properties the driver's oracle-parity check doesn't
pin down (partitioned evaluation, composition invariants, edge
frames)."""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_market_data_analysis_spark.ml import corr_matrix
from financial_market_data_analysis_spark.operators import windows as W
from financial_market_data_analysis_spark.operators.windows import rolling_median
from financial_market_data_analysis_spark.plans.candles import candles_multires


def test_rolling_median_even_frame_averages_middle_pair(spark, monkeypatch):
    rows = [(i, float(v)) for i, v in enumerate([5, 1, 4, 2, 9, 7, 3, 8])]
    df = spark.createDataFrame(rows, "t INT, v DOUBLE")
    monkeypatch.setattr(W, "ROLLING_PERIOD", 4)
    out = (
        rolling_median(df, "v", ["t"])
        .orderBy("t")
        .select("median")
        .collect()
    )
    got = [r.median for r in out]
    # warm-up rows (frame < 4 rows) are NULL
    assert got[:3] == [None, None, None]
    # frame [5,1,4,2] sorted = [1,2,4,5] → (2+4)/2
    assert got[3] == 3.0
    # frame [1,4,2,9] sorted = [1,2,4,9] → (2+4)/2
    assert got[4] == 3.0


def test_multires_rollup_composition_equals_direct(spark, monkeypatch):
    """The hierarchical 15-min/60-min bars must equal bars aggregated
    DIRECTLY from the events at that granularity — including open/close
    selected by global min/max event_id, the part naive composition
    (open of earliest fine bar) would get wrong whenever event_id order
    differs from time order."""
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "ts", "value")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    multi = candles_multires(ev).filter(F.col("granularity") == 900)
    from financial_market_data_analysis_spark.plans import candles as C

    monkeypatch.setattr(C, "BUCKET_SECONDS", 900)
    direct = C.candles_from_events(ev)
    m = {r.bucket_start: r for r in multi.collect()}
    d = {r.bucket_start: r for r in direct.collect()}
    assert set(m) == set(d)
    for k in d:
        assert m[k].open == d[k].open and m[k].close == d[k].close, k
        assert m[k].high == d[k].high and m[k].low == d[k].low, k
        assert m[k].n_events == d[k].n_events, k
        assert abs(m[k].volume - d[k].volume) < 1e-6, k


def test_multires_and_bucket_floor_align_negative_epochs(spark):
    """Pre-1970 timestamps: the coarse re-bucket and the µs bucket key
    must FLOOR-align (like time_bucket), not truncate toward zero —
    truncation would put -1 s into bucket 0 instead of bucket -300
    (r5 advice)."""
    from financial_market_data_analysis_spark.plans.candles import time_bucket_us

    # -1 s and -301 s before the epoch, plus one positive control
    ev = spark.createDataFrame(
        [(1, -1.0, 10.0), (2, -301.0, 20.0), (3, 1.0, 30.0)],
        "event_id LONG, epoch_s DOUBLE, value DOUBLE",
    ).withColumn("ts", F.col("epoch_s").cast("timestamp"))
    multi = candles_multires(ev)
    coarse = {
        r.bucket_start for r in multi.filter(F.col("granularity") == 900).collect()
    }
    assert coarse == {-900, 0}  # NOT {0}: negatives floor to -900
    fine = {
        r.bucket_start for r in multi.filter(F.col("granularity") == 300).collect()
    }
    assert fine == {-600, -300, 0}
    us = spark.createDataFrame(
        [(-1_000_000,), (-301_000_000,), (1_000_000,)], "ts_us LONG"
    ).select(time_bucket_us("ts_us", 300).alias("b"))
    assert {r.b for r in us.collect()} == {-300, -600, 0}


def test_corr_matrix_survives_hostile_identifiers(spark):
    """Column names with spaces/dots/backticks must neither break the
    unpivot nor collide in aliases (r5 advice: the selectExpr string
    assembly choked on them)."""
    df = spark.createDataFrame(
        [(float(i), float(2 * i), float(-i)) for i in range(8)],
        ["a b", "c.d", "e`f"],
    )
    out = {
        (r.col_a, r.col_b): r.corr
        for r in corr_matrix(df, ["a b", "c.d", "e`f"]).collect()
    }
    assert set(out) == {("a b", "c.d"), ("a b", "e`f"), ("c.d", "e`f")}
    assert out[("a b", "c.d")] == pytest_approx(1.0)
    assert out[("a b", "e`f")] == pytest_approx(-1.0)


def pytest_approx(x):
    import pytest

    return pytest.approx(x, abs=1e-9)


def test_corr_matrix_matches_pairwise_corr_and_is_one_pass(spark):
    df = spark.createDataFrame(
        [(float(i), float(2 * i + 1), float(-i)) for i in range(10)],
        "x DOUBLE, y DOUBLE, z DOUBLE",
    )
    out = {(r.col_a, r.col_b): r.corr for r in corr_matrix(df, ["x", "y", "z"]).collect()}
    assert set(out) == {("x", "y"), ("x", "z"), ("y", "z")}
    # perfectly linear series: |corr| = 1 with the right signs
    assert abs(out[("x", "y")] - 1.0) < 1e-12
    assert abs(out[("x", "z")] + 1.0) < 1e-12
    # one aggregation pass: a single Aggregate node feeds the generator
    plan = corr_matrix(df, ["x", "y", "z"])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1, plan


def test_dup_spans_flags_exact_copies_only(spark):
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    uniq = "kilo lima mike november oscar papa quebec romeo sierra tango"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, uniq)], "doc_id LONG, text STRING"
    )
    from financial_market_data_analysis_spark.functions import text as T
    from financial_market_data_analysis_spark.operators import dedup as D

    toks = df.select(
        "doc_id",
        F.explode(
            F.array_distinct(T.all_grams(T.tokens("text"), D.DUP_SPAN_N))
        ).alias("shingle"),
    )
    shared = (
        toks.groupBy("shingle").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    per_doc = toks.join(shared, "shingle", "left_semi").groupBy("doc_id").count()
    got = {r.doc_id: r["count"] for r in per_doc.collect()}
    # docs 1 and 2 share every 8-token span; doc 3 shares none
    assert got.get(1, 0) > 0 and got.get(1) == got.get(2)
    assert 3 not in got


def test_ewma_constant_series_is_identity_and_weights_normalize(spark):
    df = spark.createDataFrame(
        [(i, 7.5) for i in range(25)], "t INT, v DOUBLE"
    )
    from financial_market_data_analysis_spark.operators.windows import rolling_ewma

    out = rolling_ewma(df, "v", ["t"], period=20).orderBy("t").collect()
    # warm-up rows NULL, then the renormalized weights must sum to 1 —
    # a constant series maps to itself exactly
    assert all(r.ewma is None for r in out[:19])
    assert all(abs(r.ewma - 7.5) < 1e-12 for r in out[19:])


def test_ewma_weights_most_recent_highest(spark):
    # step series: after a jump, truncated EWMA must sit strictly
    # between the flat MA (which lags more) and the latest value
    vals = [1.0] * 20 + [11.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "t INT, v DOUBLE"
    )
    from financial_market_data_analysis_spark.operators.windows import rolling_ewma

    last = rolling_ewma(df, "v", ["t"], period=20).orderBy("t").collect()[-1]
    flat_ma = (19 * 1.0 + 11.0) / 20  # = 1.5
    assert flat_ma < last.ewma < 11.0
    # closed form: frame = 19 ones + one 11 at weight (1-α)^0
    decay = 1.0 - 2.0 / 21
    den = sum(decay**k for k in range(20))
    expect = (11.0 + (den - 1.0)) / den
    assert abs(last.ewma - expect) < 1e-12


def test_containment_scores_fragment_near_one(spark):
    from financial_market_data_analysis_spark.operators.dedup import (
        jaccard_verify,
        shingle_arrays,
    )
    from pyspark.sql import functions as F

    words = " ".join(f"tok{i}" for i in range(40))
    frag = " ".join(f"tok{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, words), (2, frag)], "doc_id LONG, text STRING"
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a LONG, doc_b LONG")
    v = jaccard_verify(pairs, shingle_arrays(docs)).withColumn(
        "containment",
        F.col("n_inter").cast("double") / F.least("n_a", "n_b").cast("double"),
    ).collect()[0]
    # every fragment shingle is inside the source doc
    assert v.containment == 1.0
    # while Jaccard sees only ~half overlap
    assert v.jaccard < 0.6


def test_shuffle_shards_is_stable_contiguous_permutation(spark):
    from financial_market_data_analysis_spark.functions.text import shuffle_shards

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id LONG")
    out = shuffle_shards(df).collect()
    # total disjoint cover: every doc exactly once
    assert len(out) == 200 and len({r.doc_id for r in out}) == 200
    # per-shard positions are contiguous 1..n
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # growth stability: adding docs never reorders existing (shard, pos)
    # prefixes relative to each other — keys are content-free hashes
    bigger = shuffle_shards(
        spark.createDataFrame([(i,) for i in range(300)], "doc_id LONG")
    ).collect()
    old_order = {
        s: [r.doc_id for r in sorted((x for x in out if x.shard == s), key=lambda x: x.pos)]
        for s in by_shard
    }
    new_order = {
        s: [r.doc_id for r in sorted((x for x in bigger if x.shard == s), key=lambda x: x.pos) if r.doc_id < 200]
        for s in by_shard
    }
    assert old_order == new_order


def test_rsi_extremes_and_bounds(spark):
    from financial_market_data_analysis_spark.operators.windows import rsi

    up = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "t INT, v DOUBLE"
    )
    rows = rsi(up, "v", ["t"]).filter(F.col("rsi").isNotNull()).collect()
    # monotonically rising series: all-gain frames clamp to exactly 100
    assert rows and all(r.rsi == 100.0 for r in rows)
    down = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(20)], "t INT, v DOUBLE"
    )
    rows = rsi(down, "v", ["t"]).filter(F.col("rsi").isNotNull()).collect()
    # monotonically falling: RSI exactly 0
    assert rows and all(r.rsi == 0.0 for r in rows)
    mixed = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(30)], "t INT, v DOUBLE"
    )
    rows = rsi(mixed, "v", ["t"]).filter(F.col("rsi").isNotNull()).collect()
    assert all(0.0 <= r.rsi <= 100.0 for r in rows)
    # completely flat (dead) series: neutral 50, NOT the all-gain
    # clamp of 100 (r5 advice — 0/0 frames used to report maximal
    # momentum)
    flat = spark.createDataFrame(
        [(i, 7.0) for i in range(20)], "t INT, v DOUBLE"
    )
    rows = rsi(flat, "v", ["t"]).filter(F.col("rsi").isNotNull()).collect()
    assert rows and all(r.rsi == 50.0 for r in rows)


def test_obv_signs_and_running_sum(spark):
    from financial_market_data_analysis_spark.operators.windows import (
        on_balance_volume,
    )

    bars = [
        (0, 10.0, 100.0),  # first bar: contributes 0
        (1, 11.0, 50.0),   # up: +50
        (2, 11.0, 70.0),   # flat: 0
        (3, 9.0, 30.0),    # down: -30
        (4, 12.0, 20.0),   # up: +20
    ]
    df = spark.createDataFrame(bars, "t INT, close DOUBLE, vol DOUBLE")
    out = on_balance_volume(df, "close", "vol", ["t"]).orderBy("t").collect()
    assert [r.obv for r in out] == [0.0, 50.0, 50.0, 20.0, 40.0]


def test_macd_flat_series_is_zero_and_crossover_sign(spark):
    from financial_market_data_analysis_spark.operators.windows import macd

    flat = spark.createDataFrame(
        [(i, 50.0) for i in range(40)], "t INT, close DOUBLE"
    )
    rows = macd(flat, "close", ["t"]).filter(
        F.col("macd_signal").isNotNull()
    ).collect()
    assert rows and all(
        abs(r.macd_line) < 1e-12
        and abs(r.macd_signal) < 1e-12
        and abs(r.macd_hist) < 1e-12
        for r in rows
    )
    # rising series: fast EWMA sits above slow → positive line
    up = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "t INT, close DOUBLE"
    )
    rows = macd(up, "close", ["t"]).filter(
        F.col("macd_signal").isNotNull()
    ).collect()
    assert rows and all(r.macd_line > 0 for r in rows)


def test_macd_no_extra_shuffles_per_stage(spark):
    """The three EWMA passes share one (partition, order) key; the plan
    must not add an Exchange per stage (single-partition parity mode
    has exactly one exchange to the lone partition)."""
    from financial_market_data_analysis_spark.operators.windows import macd

    df = spark.range(100).select(
        F.col("id").alias("t"), (F.col("id") * 1.0).alias("close")
    )
    plan = (
        macd(df, "close", ["t"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") <= 1, plan[:1500]


def test_rolling_median_and_ewma_null_values_do_not_misalign(spark, monkeypatch):
    """r5 review regression: collect_list drops NULLs, so the full-frame
    gate must count VALUES, not rows — a gappy series must emit NULL
    (not a confidently wrong number) until a clean full frame exists."""
    from financial_market_data_analysis_spark.operators.windows import (
        rolling_ewma,
        rolling_median,
    )

    vals = [1.0, 2.0, None, 4.0, 5.0, 6.0, 7.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "t INT, v DOUBLE"
    )
    monkeypatch.setattr(W, "ROLLING_PERIOD", 4)
    med = {r.t: r.median for r in rolling_median(df, "v", ["t"]).collect()}
    ew = {r.t: r.ewma for r in rolling_ewma(df, "v", ["t"], period=4).collect()}
    # frames containing the NULL at t=2 (t=2..5) hold only 3 values → NULL
    for t in (0, 1, 2, 3, 4, 5):
        assert med[t] is None, t
        assert ew[t] is None, t
    # t=6: frame [4,5,6,7] is clean → both emit
    assert med[6] == 5.5
    assert ew[6] is not None


def test_obv_long_volume_stays_long(spark):
    """r5 review regression: integer volume must accumulate as exact
    LongType (the fixed-point guarantee), not be promoted to double."""
    from financial_market_data_analysis_spark.operators.windows import (
        on_balance_volume,
    )

    df = spark.createDataFrame(
        [(0, 1.0, 10), (1, 2.0, 20), (2, 1.5, 30)],
        "t INT, close DOUBLE, vol LONG",
    )
    out = on_balance_volume(df, "close", "vol", ["t"])
    assert dict(out.dtypes)["obv"] == "bigint"
    assert [r.obv for r in out.orderBy("t").collect()] == [0, 20, -10]


def test_pagerank_conserves_mass_and_ranks_hub_highest(spark):
    """x47 semantics on a known graph: with symmetrized edges (no
    dangling nodes) total rank mass stays 1 every iteration, and the
    hub of a star graph outranks the leaves."""
    from financial_market_data_analysis_spark.operators.dedup import pagerank

    # star: 0 - {1,2,3,4}, symmetrized — exercises the SAME operator
    # q_pagerank runs (r5 review: the test previously duplicated the
    # production loop and could not catch regressions in it)
    pairs = [(0, k) for k in range(1, 5)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src LONG, dst LONG",
    )
    ranks = pagerank(edges)
    got = {r.doc_id: r.rank for r in ranks.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-12
    assert all(got[0] > got[k] for k in range(1, 5))
    # leaves are symmetric → identical ranks
    assert len({round(got[k], 12) for k in range(1, 5)}) == 1


def test_pagerank_empty_graph_returns_empty(spark):
    from financial_market_data_analysis_spark.operators.dedup import pagerank

    empty = spark.createDataFrame([], "src LONG, dst LONG")
    out = pagerank(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "rank"]


def test_rolling_corr_and_rsi_null_gaps_emit_null(spark, monkeypatch):
    """r5 review regression (second pass): the count-based full-frame
    gate applies to rolling_corr (complete pairs) and rsi (real
    deltas) too — a gap inside the frame must yield NULL, not a
    value computed over a short frame / phantom zero bars."""
    from financial_market_data_analysis_spark.operators.windows import (
        rolling_corr,
        rsi,
    )

    rows = [
        (i, None if i == 3 else float(i), float(i * 2 + (i % 2)))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "t INT, x DOUBLE, y DOUBLE")
    monkeypatch.setattr(W, "ROLLING_PERIOD", 4)
    monkeypatch.setattr(W, "OSCILLATOR_PERIOD", 4)
    corr = {r.t: r.corr for r in rolling_corr(df, "x", "y", ["t"]).collect()}
    # frames touching the t=3 gap (t=3..6) hold only 3 complete pairs
    for t in (0, 1, 2, 3, 4, 5, 6):
        assert corr[t] is None, t
    assert corr[7] is not None
    r = {row.t: row.rsi for row in rsi(df, "x", ["t"]).collect()}
    # deltas at t=3 and t=4 are NULL (null value at t=3) → frames
    # t=4..7 lack 4 real deltas
    for t in (0, 1, 2, 3, 4, 5, 6, 7):
        assert r[t] is None, t
    assert r[8] is not None and r[8] == 100.0  # strictly rising resumes


def test_adx_trends_flats_and_warmup(spark):
    """W21 semantics the oracle-parity row can't pin alone: a steady
    uptrend drives +DI > −DI with DX/ADX → 100, a dead-flat series
    clamps every stage to 0 (no 0/0 leakage), and the warm-up trim is
    exactly 2·period bars."""
    from financial_market_data_analysis_spark.operators.windows import adx

    def bars(vals):
        return spark.createDataFrame(
            [(i, v + 1.0, v - 1.0, v) for i, v in enumerate(vals)],
            "t INT, high DOUBLE, low DOUBLE, close DOUBLE",
        )

    up = adx(bars([float(i) for i in range(40)]), "high", "low", "close", ["t"])
    got = up.filter(F.col("adx").isNotNull()).collect()
    # first non-null ADX needs period DX rows, each needing period deltas
    assert up.filter(F.col("adx").isNotNull()).count() == 40 - 2 * 14 + 1
    assert all(r.plus_di > r.minus_di and r.minus_di == 0.0 for r in got)
    assert all(r.dx == 100.0 and r.adx == 100.0 for r in got)

    flat = adx(bars([5.0] * 40), "high", "low", "close", ["t"])
    rows = flat.filter(F.col("adx").isNotNull()).collect()
    # flat frame: ATR = high-low = 2 (nonzero), DMs all 0 → DI 0, and
    # the +DI+−DI = 0 clamp keeps DX/ADX at 0 instead of NULL/NaN
    assert rows and all(
        r.plus_di == 0.0 and r.minus_di == 0.0 and r.dx == 0.0 and r.adx == 0.0
        for r in rows
    )


def test_chaikin_money_flow_bounds_and_flat_bars(spark, monkeypatch):
    """w22: CMF is a volume-weighted average of multipliers in [-1, 1],
    so every emitted value must sit inside that band; a flat bar
    (high == low) contributes zero flow rather than NULL-poisoning the
    window (try_divide + coalesce)."""
    from pyspark.sql import functions as F

    from financial_market_data_analysis_spark.operators import windows as W

    rows = []
    for i in range(30):
        # bar 7 is flat: high == low == close
        if i == 7:
            rows.append((i, 10.0, 10.0, 10.0, 100.0))
        else:
            rows.append((i, 10.0 + i * 0.1, 9.0, 9.5 + i * 0.05, 50.0 + i))
    df = spark.createDataFrame(
        rows, "bucket_start long, high double, low double, close double, volume double"
    )
    monkeypatch.setattr(W, "ROLLING_PERIOD", 10)
    out = W.chaikin_money_flow(
        df, "high", "low", "close", "volume", ["bucket_start"]
    )
    vals = [r.cmf for r in out.filter(F.col("cmf").isNotNull()).collect()]
    assert len(vals) == 30 - 10 + 1
    assert all(-1.0 <= v <= 1.0 for v in vals), (min(vals), max(vals))


def test_ml9_grouped_ols_fits_are_sane(spark):
    """ml9: one closed-form model per group — r² must be a valid
    fraction of variance (0..1), every group present, and the fitted
    line must reproduce a synthetic exact linear relation."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from conftest import SF_SMOKE

    out = {r.event_type: r for r in e.queries()["ml9_grouped_ols"](spark, SF_SMOKE).collect()}
    assert len(out) >= 3
    for r in out.values():
        assert r.n > 0 and 0.0 <= r.r2 <= 1.0 + 1e-9

    # exact fit: y = 3x + 2 per group must recover slope/intercept
    rows = [("g", float(x), 3.0 * x + 2.0) for x in range(10)]
    df = spark.createDataFrame(rows, "event_type string, x double, y double")
    g = df.groupBy("event_type").agg(
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("b"),
        (F.avg("y") - (F.covar_pop("x", "y") / F.var_pop("x")) * F.avg("x")).alias("a"),
    ).first()
    assert abs(g.b - 3.0) < 1e-9 and abs(g.a - 2.0) < 1e-9


def test_clustering_coef_on_known_graph(spark):
    """x67 kernel check on a hand graph: a triangle node inside a
    4-clique has cc=1; a star hub has cc=0; a bridge between two
    triangles has cc below 1."""
    from financial_market_data_analysis_spark.plans.extensions import (
        _triangle_counts,
    )
    from pyspark.sql import functions as F

    # 4-clique {1,2,3,4} + star hub 10 connected to 20,21,22 (no
    # edges among leaves) + node 5 bridging two triangles (5,6,7) and
    # (5,8,9)
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (10, 20), (10, 21), (10, 22),
        (5, 6), (6, 7), (5, 7), (5, 8), (8, 9), (5, 9),
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    tri = {r.doc_id: r.n_tri for r in _triangle_counts(pairs).collect()}
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1

    def cc(v):
        d = deg[v]
        return 0.0 if d < 2 else 2.0 * tri.get(v, 0) / (d * (d - 1))

    assert cc(1) == 1.0          # clique member: all wedges closed
    assert cc(10) == 0.0         # star hub: no closed wedge
    assert tri[5] == 2 and abs(cc(5) - 2 * 2 / (4 * 3)) < 1e-12  # bridge


def test_gap_fill_locf_chunked_spine_long_range(spark, monkeypatch):
    """Verdict #4: the spine must be built from BOUNDED chunks, so one
    sparse long-lived series can never materialize its whole range as a
    single in-memory array. Pins (a) exact spine coverage across chunk
    boundaries at a tiny chunk size — including a range that is an
    exact multiple of the chunk span and a single-bucket series — with
    both fill policies (LOCF, zero) and a present bar with a NULL close
    (not a gap; LOCF reaches back), and (b) a real sparse series whose
    spine exceeds the default chunk."""
    import financial_market_data_analysis_spark.operators.windows as W

    from financial_market_data_analysis_spark.operators.windows import (
        gap_fill_locf,
    )

    # (a) chunk arithmetic at chunk=4, step=300: series A spans 13
    # buckets (crosses 3 chunk edges), series B spans exactly 2 chunks
    # (hi lands ON a chunk boundary), series C is a single bucket.
    monkeypatch.setattr(W, "_SPINE_CHUNK", 4)
    rows = [
        ("A", 0, 1.0, 1.0), ("A", 3600, 2.0, 1.0),
        ("B", 300, 3.0, 1.0), ("B", 2700, 4.0, 1.0), ("B", 3000, None, 2.0),
        ("C", 900, 5.0, 1.0),
    ]
    bars = spark.createDataFrame(
        rows, "symbol string, bucket_start long, close double, volume double"
    )
    out = [
        r
        for k in "ABC"
        for r in gap_fill_locf(
            bars.filter(F.col("symbol") == k).drop("symbol"),
            "bucket_start", 300, ["close"], zero_cols=["volume"],
        ).withColumn("symbol", F.lit(k)).collect()
    ]
    got = {(r["symbol"], r["bucket_start"]) for r in out}
    assert len(out) == len(got), "chunk overlap produced duplicate buckets"
    assert got == (
        {("A", b) for b in range(0, 3601, 300)}
        | {("B", b) for b in range(300, 3001, 300)}
        | {("C", 900)}
    )
    by_key = {(r["symbol"], r["bucket_start"]): r for r in out}
    assert by_key[("A", 3300)]["close"] == 1.0  # LOCF across chunk edges
    assert by_key[("A", 3300)]["is_gap"] == 1
    assert by_key[("A", 3300)]["volume"] == 0.0  # zero policy
    assert by_key[("B", 3000)]["is_gap"] == 0  # present bar, NULL close
    assert by_key[("B", 3000)]["close"] == 4.0
    assert by_key[("B", 3000)]["volume"] == 2.0
    assert by_key[("C", 900)]["is_gap"] == 0

    # (b) default chunk (8192): a sparse key spanning 20001 buckets —
    # the pre-chunk code would have built this as ONE 20001-element
    # array in a single row.
    monkeypatch.setattr(W, "_SPINE_CHUNK", 8192)
    sparse = spark.createDataFrame(
        [("S", 0, 7.0, 1.0), ("S", 20000 * 300, 9.0, 1.0)],
        "symbol string, bucket_start long, close double, volume double",
    )
    filled = gap_fill_locf(sparse, "bucket_start", 300, ["close"], zero_cols=["volume"])
    agg = filled.groupBy().agg(
        F.count("*").alias("n"),
        F.countDistinct("bucket_start").alias("nd"),
        F.sum("is_gap").alias("gaps"),
        F.min("close").alias("lo_c"),
        F.max("close").alias("hi_c"),
    ).collect()[0]
    assert agg["n"] == 20001 and agg["nd"] == 20001
    assert agg["gaps"] == 19999
    assert (agg["lo_c"], agg["hi_c"]) == (7.0, 9.0)


def test_rolling_beta_recovers_exact_linear_relation(spark, monkeypatch):
    """y = 2x + 3 exactly → beta = 2, alpha = 3 on every complete
    frame; a null gap re-arms the pair gate; a flat-x frame (var = 0)
    yields NULL rather than a division."""
    from financial_market_data_analysis_spark.operators.windows import (
        rolling_beta,
    )

    xs = [1.0, 3.0, 2.0, 5.0, 4.0, 6.0, 8.0, 7.0]
    rows = [(i, x, 2.0 * x + 3.0) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "t INT, x DOUBLE, y DOUBLE")
    monkeypatch.setattr(W, "ROLLING_PERIOD", 4)
    out = {r.t: (r.beta, r.alpha) for r in
           rolling_beta(df, "y", "x", ["t"]).collect()}
    for t in (0, 1, 2):
        assert out[t] == (None, None), t  # warm-up
    for t in (3, 4, 5, 6, 7):
        b, a = out[t]
        assert abs(b - 2.0) < 1e-9 and abs(a - 3.0) < 1e-9, (t, b, a)

    gap = [(i, None if i == 2 else float(i + 1), float(i)) for i in range(8)]
    dg = spark.createDataFrame(gap, "t INT, x DOUBLE, y DOUBLE")
    got = {r.t: r.beta for r in
           rolling_beta(dg, "y", "x", ["t"]).collect()}
    for t in (2, 3, 4, 5):  # frames touching the t=2 gap
        assert got[t] is None, t
    assert got[6] is not None

    flat = spark.createDataFrame(
        [(i, 5.0, float(i)) for i in range(6)], "t INT, x DOUBLE, y DOUBLE"
    )
    fb = {r.t: r.beta for r in
          rolling_beta(flat, "y", "x", ["t"]).collect()}
    assert all(v is None for v in fb.values())


def test_rolling_beta_range_frame_is_time_based(spark, monkeypatch):
    """w26's RANGE frame: the look-back is a fixed event-time span,
    not a row count — an isolated old point falls OUT of frame even
    though a ROWS frame would still include it; sparse stretches fail
    the min-pairs gate; an exact linear relation is recovered on
    qualifying frames; a flat-x frame yields NULL."""
    from financial_market_data_analysis_spark.operators.windows import (
        rolling_beta_range,
    )

    # dense cluster at t=100..104, one old outlier at t=0 whose pair
    # would corrupt the fit if the frame were row-counted
    rows = [(0, 100.0, 999.0)] + [
        (100 + i, float(i + 1), 2.0 * (i + 1) + 3.0) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "t LONG, x DOUBLE, y DOUBLE")
    out = {r.t: (r.beta, r.alpha) for r in
           rolling_beta_range(df, "y", "x", "t", span=10)
           .collect()}
    # the outlier and the warm-up rows fail the ≥5-pair gate
    for t in (0, 100, 101, 102, 103):
        assert out[t] == (None, None), t
    # t=104's frame is [94, 104]: exactly the 5 clean pairs
    b, a = out[104]
    assert abs(b - 2.0) < 1e-9 and abs(a - 3.0) < 1e-9
    # flat x in frame → NULL even with enough pairs
    flat = spark.createDataFrame(
        [(i, 5.0, float(i)) for i in range(6)], "t LONG, x DOUBLE, y DOUBLE"
    )
    monkeypatch.setattr(W, "BETA_RANGE_MIN_PAIRS", 3)
    fb = {r.t: r.beta for r in
          rolling_beta_range(flat, "y", "x", "t", span=10)
          .collect()}
    assert all(v is None for v in fb.values())


def test_rolling_beta_range_span_boundary_cross_engine(spark, duck):
    """r14 verdict #6 — the HLL-lesson sweep applied to w26's RANGE
    frame: the branch is the frame's LOWER BOUND, and the sf fixtures
    never land a pair exactly ``span`` apart. Hostile series, run
    side-by-side through the engine kernel
    (``rolling_beta_range``) and the shipped oracle's window text
    (``RANGE BETWEEN span PRECEDING AND CURRENT ROW``):

    - a frame whose oldest row sits EXACTLY span before the current
      row — inclusive on both engines, so the row changes the fitted
      beta (a one-sided exclusion shifts the value, not just a gate);
    - a frame where that boundary row is the 5th pair — the
      ``min_pairs`` gate EMITS iff the bound is inclusive, so an
      inclusivity disagreement changes the ROW SET, not a decimal.

    Integer-valued doubles everywhere, so the moments are exact and
    any mismatch is frame semantics, not float noise."""
    import pandas as pd

    from financial_market_data_analysis_spark.operators.windows import (
        rolling_beta_range,
    )

    span, min_pairs = 86400, W.BETA_RANGE_MIN_PAIRS
    # group 1: six rows; at t=86400 the frame reaches t=0 exactly —
    # the boundary row is IN (6 pairs) and moves the fit
    g1 = [
        (0, 1.0, 2.0),
        (100, 2.0, 1.0),
        (200, 3.0, 4.0),
        (300, 4.0, 3.0),
        (400, 5.0, 6.0),
        (86400, 6.0, 5.0),
    ]
    # group 2 (shifted far past group 1's reach): five rows; at
    # t=1086400 the frame holds exactly min_pairs rows IFF the bound
    # is inclusive — emission itself is the assertion
    base = 1_000_000
    g2 = [
        (base + 0, 1.0, 3.0),
        (base + 100, 2.0, 5.0),
        (base + 200, 3.0, 4.0),
        (base + 300, 4.0, 7.0),
        (base + 86400, 5.0, 6.0),
    ]
    rows = g1 + g2
    df = spark.createDataFrame(rows, "bucket LONG, rx DOUBLE, ry DOUBLE")
    got = (
        rolling_beta_range(
            df, "ry", "rx", "bucket", span=span
        )
        .filter(F.col("beta").isNotNull())
        .select(
            "bucket",
            F.round("beta", 6).alias("beta_1d"),
            F.round("alpha", 6).alias("alpha_1d"),
        )
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    vals = ", ".join(f"({t}, {x!r}, {y!r})" for t, x, y in rows)
    want = duck.execute(
        f"""
        WITH j(bucket, rx, ry) AS (VALUES {vals}),
        c AS (
            SELECT bucket,
                   covar_pop(ry, rx) OVER w AS cv,
                   var_pop(rx) OVER w AS vx,
                   avg(ry) OVER w AS my,
                   avg(rx) OVER w AS mx,
                   count(*) OVER w AS cnt
            FROM j
            WINDOW w AS (ORDER BY bucket
                         RANGE BETWEEN {span} PRECEDING AND CURRENT ROW)
        )
        SELECT bucket, round(cv / vx, 6) AS beta_1d,
               round(my - (cv / vx) * mx, 6) AS alpha_1d
        FROM c WHERE cnt >= {min_pairs} AND vx > 0
        ORDER BY bucket
        """
    ).fetchdf()
    # the emission-deciding row must actually be emitted (inclusive
    # bound on BOTH engines), and the boundary-valued frames agree
    assert base + 86400 in set(got["bucket"]), "min_pairs boundary row lost"
    assert 86400 in set(got["bucket"])
    pd.testing.assert_frame_equal(
        got, want.astype(got.dtypes.to_dict()), check_exact=True
    )
