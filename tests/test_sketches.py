"""Semantics tests for the sketch tier (operators/sketches.py), the
point-in-interval lookup join (J6), and the Donchian channel (W18) —
the invariants the driver's oracle-parity hash can't express: sketch
error bounds (one-sided overestimates, no false negatives), interval
boundary conventions, and partitioned evaluation."""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_market_data_analysis_spark.operators import sketches as SK
from financial_market_data_analysis_spark.operators import windows as W
from financial_market_data_analysis_spark.operators.joins import (
    interval_lookup_join,
)
from financial_market_data_analysis_spark.operators.windows import (
    donchian_channel,
)


def test_countmin_never_underestimates(spark, monkeypatch):
    # a 3 × 8 sketch: 13 keys must collide
    monkeypatch.setattr(SK, "CMS_DEPTH", 3)
    monkeypatch.setattr(SK, "CMS_WIDTH", 8)
    rows = [(f"k{i % 13}", 1) for i in range(400)]
    counts = (
        spark.createDataFrame(rows, "tok STRING, one INT")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sketch = SK.countmin_sketch(counts, "tok", "cnt")
    est = SK.countmin_estimate(
        sketch, counts.select("tok"), "tok"
    )
    joined = counts.join(est, "tok").collect()
    assert len(joined) == 13
    # CMS is a one-sided overestimate, never an underestimate
    assert all(r.cms_est >= r.cnt for r in joined)


def test_countmin_exact_when_width_exceeds_keys(spark):
    # with width >> #keys and md5-spread buckets, collisions are
    # unlikely → estimates equal truth for this fixed fixture
    rows = [("a", 5), ("b", 3), ("c", 11)]
    counts = spark.createDataFrame(rows, "tok STRING, cnt INT")
    sketch = SK.countmin_sketch(counts, "tok", "cnt")
    est = SK.countmin_estimate(
        sketch, counts.select("tok"), "tok"
    )
    got = {r.tok: r.cms_est for r in est.collect()}
    assert got == {"a": 5, "b": 3, "c": 11}


def test_kmv_exact_below_k_and_estimates_above(spark):
    small = spark.createDataFrame(
        [("g1", f"v{i}") for i in range(10)], "g STRING, k STRING"
    )
    out = SK.kmv_distinct(small, "k", ["g"]).collect()[0]
    assert out.n_distinct == 10
    assert out.est_distinct == 10.0 and out.rel_err == 0.0

    big = spark.createDataFrame(
        [("g1", f"v{i}") for i in range(2000)], "g STRING, k STRING"
    )
    est = SK.kmv_distinct(big, "k", ["g"]).collect()[0]
    assert est.n_distinct == 2000
    # k=64 → expected relative error ~ 1/sqrt(k-2) ≈ 13%; assert a
    # loose 3σ envelope (deterministic fixture, so this is stable)
    assert abs(est.est_distinct - 2000) / 2000 < 0.5
    assert est.est_distinct != 2000.0


def test_bloom_has_no_false_negatives(spark):
    members = spark.createDataFrame(
        [(f"m{i}",) for i in range(50)], "k STRING"
    )
    bits = SK.bloom_bits(members, "k")
    probe = members.unionByName(
        spark.createDataFrame([(f"x{i}",) for i in range(50)], "k STRING")
    )
    out = SK.bloom_maybe_member(probe, bits, "k").collect()
    got = {r.k: r.maybe_member for r in out}
    # every true member is a maybe-member — the Bloom guarantee
    assert all(got[f"m{i}"] == 1 for i in range(50))
    # the filter is small enough that SOME non-member must be rejected
    assert any(got[f"x{i}"] == 0 for i in range(50))


def test_interval_lookup_boundary_conventions(spark):
    iv = spark.createDataFrame(
        [(1, 100, 200, "v1"), (1, 200, None, "v2")],
        "user_id INT, s BIGINT, e BIGINT, tag STRING",
    )
    pr = spark.createDataFrame(
        [(1, 1, 50), (2, 1, 100), (3, 1, 199), (4, 1, 200), (5, 1, 999),
         (6, 2, 150)],
        "pid INT, user_id INT, ts BIGINT",
    )
    # no two intervals share a start, so the tiebreak column is moot
    out = interval_lookup_join(
        pr, iv, ["user_id"], "ts", "s", "e", ["tag"], tie_col="s"
    )
    got = {r.pid: r.tag for r in out.collect()}
    # probe before any interval and probe for an interval-less user drop
    assert 1 not in got and 6 not in got
    # ts == start is INSIDE ([start, end)); ts just under end stays
    assert got[2] == "v1" and got[3] == "v1"
    # ts == end belongs to the NEXT interval (half-open ranges)
    assert got[4] == "v2" and got[5] == "v2"


def test_interval_lookup_same_start_last_tie_wins(spark):
    # two intervals share a start (the d4 LEAD makes the earlier peer
    # an empty [t, t) interval) — the larger tie value must win
    iv = spark.createDataFrame(
        [(1, 100, 100, 7, "empty"), (1, 100, None, 9, "live")],
        "user_id INT, s BIGINT, e BIGINT, tie INT, tag STRING",
    )
    pr = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 150)], "pid INT, user_id INT, ts BIGINT"
    )
    out = interval_lookup_join(
        pr, iv, ["user_id"], "ts", "s", "e", ["tag"], tie_col="tie"
    )
    got = {r.pid: r.tag for r in out.collect()}
    assert got == {1: "live", 2: "live"}


def test_donchian_channel_and_breakouts(spark, monkeypatch):
    rows = [
        # t, high, low, close — breakout above on t=3, below on t=5
        (0, 10.0, 9.0, 9.5),
        (1, 11.0, 9.5, 10.0),
        (2, 10.5, 9.8, 10.2),
        (3, 12.0, 10.0, 11.5),
        (4, 11.8, 10.5, 11.0),
        (5, 11.0, 8.0, 8.5),
    ]
    df = spark.createDataFrame(rows, "t INT, high DOUBLE, low DOUBLE, close DOUBLE")
    monkeypatch.setattr(W, "ROLLING_PERIOD", 2)
    out = (
        donchian_channel(df, "high", "low", "close", ["t"])
        .orderBy("t")
        .collect()
    )
    # warm-up: frame < 2 rows → channel NULL, flag NULL (no prior bar)
    assert out[0].donchian_upper is None and out[0].donchian_break is None
    # t=1 channel = max(10,11)/min(9,9.5); flag still NULL (prev NULL)
    assert out[1].donchian_upper == 11.0 and out[1].donchian_lower == 9.0
    assert out[1].donchian_break is None
    # t=3: close 11.5 > prev upper 11.0 → breakout up
    assert out[3].donchian_break == 1
    # t=5: close 8.5 < prev lower 10.0 → breakdown
    assert out[5].donchian_break == -1
    # t=2 and t=4 inside the prior channel
    assert out[2].donchian_break == 0 and out[4].donchian_break == 0
    # midline is the channel average
    assert out[1].donchian_mid == 10.0


def test_kmv_bottomk_is_mergeable(spark):
    # the k-smallest of the union of two sketches == the sketch of the
    # union — the merge property x55's set-algebra estimate rests on
    left = spark.createDataFrame(
        [("l", f"v{i}") for i in range(300)], "g STRING, k STRING"
    )
    right = spark.createDataFrame(
        [("r", f"v{i}") for i in range(150, 450)], "g STRING, k STRING"
    )
    both = left.unionByName(right).select(F.lit("u").alias("g"), "k")
    direct = SK.kmv_bottomk(both, "k", ["g"], k=32)
    sk_l = SK.kmv_bottomk(left, "k", ["g"], k=32)
    sk_r = SK.kmv_bottomk(right, "k", ["g"], k=32)
    merged_vals = (
        sk_l.select("k", "__u").unionByName(sk_r.select("k", "__u")).distinct()
    )
    from pyspark.sql import Window as W2

    merged = merged_vals.withColumn(
        "rn", F.row_number().over(W2.orderBy("__u", "k"))
    ).filter(F.col("rn") <= 32)
    a = sorted(r.k for r in direct.collect())
    b = sorted(r.k for r in merged.collect())
    assert a == b


def test_weighted_sample_favors_heavy_docs(spark):
    import financial_market_data_analysis_spark.plans.extensions as X

    sample = X.q_weighted_sample(spark, "/root/testdata/sf0.001").toPandas()
    assert len(sample) == X.X54_K
    # A-Res with weight = n_chars: the sampled mean length must exceed
    # the corpus mean (deterministic fixture, stable assertion)
    import duckdb

    corpus_mean = duckdb.sql(
        "SELECT avg(n_chars) FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchone()[0]
    assert sample["n_chars"].mean() > corpus_mean


def test_histogram_quantiles_on_uniform_grid(spark):
    # values 1..64 with 64 bins: ceil(q*n) lands exactly; estimate must
    # be within one bucket width of the exact rank value
    rows = [("g", float(v)) for v in range(1, 65)]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = {
        r.q: r.est_q
        for r in SK.histogram_quantiles(df, "v", ["g"]).collect()
    }
    assert abs(out[0.5] - 32.0) <= 1.0
    assert abs(out[0.95] - 61.0) <= 1.0
    assert abs(out[0.99] - 64.0) <= 1.0


def test_histogram_quantiles_degenerate_group(spark):
    # min == max: every estimate is the constant
    df = spark.createDataFrame([("g", 7.0)] * 5, "g STRING, v DOUBLE")
    out = SK.histogram_quantiles(df, "v", ["g"]).collect()
    assert len(out) == 3 and all(r.est_q == 7.0 for r in out)


def test_auc_rank_formula_against_known_case(spark):
    # perfectly separated scores → AUC 1; with one tie pair straddling
    # the classes the midrank convention gives 0.875 (U = 3.5 of 4)
    from pyspark.sql import Window as W2

    def auc_of(rows):
        df = spark.createDataFrame(rows, "p DOUBLE, up INT")
        r = F.rank().over(W2.orderBy("p"))
        c = F.count(F.lit(1)).over(W2.partitionBy("p"))
        mr = r + (c - F.lit(1)) / F.lit(2.0)
        a = df.select("up", mr.alias("mr")).agg(
            F.sum("up").alias("n1"),
            F.sum(1 - F.col("up")).alias("n0"),
            F.sum(F.when(F.col("up") == 1, F.col("mr"))).alias("s"),
        ).collect()[0]
        return (a.s - a.n1 * (a.n1 + 1) / 2.0) / (a.n1 * a.n0)

    assert auc_of([(0.1, 0), (0.2, 0), (0.8, 1), (0.9, 1)]) == 1.0
    assert auc_of([(0.1, 0), (0.5, 0), (0.5, 1), (0.9, 1)]) == 0.875


def _py_hll_registers(keys, salt="hll", p=8, w_hex=15):
    # pure-Python reference of the md5 register/rank slice
    import hashlib

    regs: dict[int, int] = {}
    for k in keys:
        h = hashlib.md5(f"{salt}:{k}".encode()).hexdigest()
        j = int(h[: p // 4], 16)
        sub = h[p // 4 : p // 4 + w_hex]
        v = int(sub, 16)
        rho = (4 * w_hex + 1) if v == 0 else (4 * w_hex - v.bit_length() + 1)
        regs[j] = max(regs.get(j, 0), rho)
    return regs


def test_hll_registers_match_python_reference(spark):
    keys = [str(i) for i in range(500)]
    df = spark.createDataFrame([(k,) for k in keys], "k STRING")
    got = {
        r.register: r.rho
        for r in SK.hll_registers(df, "k", []).collect()
    }
    assert got == _py_hll_registers(keys)


def test_hll_register_merge_is_idempotent_and_order_free(spark):
    # max-merge of per-shard registers == registers of the union, and
    # a duplicate shard cannot change the merged state — the algebra
    # t27's append-only store rests on
    left = spark.createDataFrame(
        [("g", f"v{i}") for i in range(400)], "g STRING, k STRING"
    )
    right = spark.createDataFrame(
        [("g", f"v{i}") for i in range(200, 700)], "g STRING, k STRING"
    )
    direct = SK.hll_registers(left.unionByName(right), "k", ["g"])
    merged = (
        SK.hll_registers(left, "k", ["g"])
        .unionByName(SK.hll_registers(right, "k", ["g"]))
        .unionByName(SK.hll_registers(left, "k", ["g"]))  # replayed shard
        .groupBy("g", "register")
        .agg(F.max("rho").alias("rho"))
    )
    a = sorted((r.register, r.rho) for r in direct.collect())
    b = sorted((r.register, r.rho) for r in merged.collect())
    assert a == b


def test_hll_estimate_raw_branch_accuracy(spark):
    # 5000 distinct keys over 256 registers leaves ~no empty register,
    # so the RAW alpha*m^2/S branch fires (the driver fixture exercises
    # the linear-counting branch); standard error is 1.04/sqrt(256) ≈
    # 6.5%, so 20% is a generous determinism-safe bound
    n = 5000
    df = spark.createDataFrame([(f"u{i}",) for i in range(n)], "k STRING")
    est = SK.hll_estimate_from_registers(
        SK.hll_registers(df, "k", []), []
    ).collect()[0]
    assert abs(est.est_distinct - n) / n < 0.20
    # raw branch: with ~0 empty registers the linear-counting guard
    # (zeros > 0 AND raw <= 2.5m) cannot have produced this estimate
    assert est.nonzero_registers > 240


def test_hll_estimate_formula_both_branches(spark):
    import math

    m = 256
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # small-range branch: 3 registers set, 253 zeros — including the
    # rho = 61 all-zero-slice cap, which the integer fold must scale
    # without a negative shift (a JVM shiftleft(1, -1) silently wraps
    # to -2^63 and corrupts the sum)
    small = spark.createDataFrame(
        [(0, 1), (1, 61), (2, 3)], "register INT, rho INT"
    )
    got = SK.hll_estimate_from_registers(small, []).collect()[0]
    assert got.est_distinct == round(m * math.log(m / 253), 6)
    # raw branch: every register set -> zeros == 0; one register at
    # the rho cap must contribute exactly 2^-61, not garbage
    full = spark.createDataFrame(
        [(j, 2) for j in range(m - 1)] + [(m - 1, 61)],
        "register INT, rho INT",
    )
    got = SK.hll_estimate_from_registers(full, []).collect()[0]
    expected = alpha * m * m / ((m - 1) * 2.0**-2 + 2.0**-61)
    assert got.est_distinct == round(expected, 6)
    assert got.est_distinct > 0


def test_hll_null_keys_are_no_observation(spark):
    # a NULL key must not mint a phantom register — with one it would
    # inflate nonzero_registers and deflate the linear-counting zeros
    with_nulls = spark.createDataFrame(
        [(f"v{i}",) for i in range(100)] + [(None,)] * 5, "k STRING"
    )
    clean = with_nulls.filter(F.col("k").isNotNull())
    a = sorted(
        (r.register, r.rho)
        for r in SK.hll_registers(with_nulls, "k", []).collect()
    )
    b = sorted(
        (r.register, r.rho) for r in SK.hll_registers(clean, "k", []).collect()
    )
    assert a == b
    assert all(reg is not None for reg, _ in a)


def test_hll_estimate_parity_spark_vs_duckdb_both_branches(spark):
    """Adversarial cross-engine check of the FULL estimate path —
    register build, exact integer fold, and BOTH estimate branches
    (linear-counting uses ln(), the one float op whose last ulp could
    in principle differ between libm and the JVM): the rounded
    estimates must match bit-for-bit at cardinalities that land on
    each side of the 2.5m threshold."""
    import duckdb

    for n in (3, 150, 5000):
        keys = [(f"g", f"u{i}") for i in range(n)]
        df = spark.createDataFrame(keys, "g STRING, k STRING")
        got = SK.hll_estimate_from_registers(
            SK.hll_registers(df, "k", ["g"]), ["g"]
        ).collect()[0]
        con = duckdb.connect()
        con.execute("CREATE TABLE t (g VARCHAR, k VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", keys)
        want = con.execute(SK.hll_sql("t", "k", ["g"])).fetchall()[0]
        assert (got.nonzero_registers, got.est_distinct) == (
            want[1],
            want[2],
        ), (n, got, want)


def test_kmv_estimate_parity_spark_vs_duckdb_both_branches(spark):
    """The same cross-engine sweep for KMV: the below-k EXACT fallback
    and the (k-1)/u_k estimator branch must both round identically in
    Spark and the DuckDB oracle twin (the fixture-driven driver row
    only ever exercises one side of the k threshold)."""
    import duckdb

    for n in (10, 2000):
        keys = [("g", f"v{i}") for i in range(n)]
        df = spark.createDataFrame(keys, "g STRING, k STRING")
        got = SK.kmv_distinct(df, "k", ["g"]).collect()[0]
        con = duckdb.connect()
        con.execute("CREATE TABLE t (g VARCHAR, k VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", keys)
        want = con.execute(
            SK.kmv_distinct_sql("src", "k", ["g"],
                                extra_ctes="src AS (SELECT * FROM t),")
        ).fetchall()[0]
        assert (got.n_distinct, got.est_distinct, got.rel_err) == (
            want[1],
            want[2],
            want[3],
        ), (n, got, want)


def test_histogram_quantiles_parity_spark_vs_duckdb(spark):
    """Cross-engine sweep of the histogram-quantile estimate path,
    including the mx == mn degenerate branch (a flat group estimates
    every quantile at the constant) the fixtures never hit."""
    import duckdb

    cases = {
        "flat": [("flat", 7.5)] * 40,
        "spread": [("spread", float(i * i % 97)) for i in range(500)],
    }
    rows = [r for rs in cases.values() for r in rs]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    got = sorted(
        (r.g, r.q, r.est_q)
        for r in SK.histogram_quantiles(df, "v", ["g"]).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = sorted(
        (r[0], float(r[1]), r[2])  # DuckDB's VALUES q arrives as Decimal
        for r in con.execute(
            SK.histogram_quantiles_sql(
                "src", "v", ["g"], extra_ctes="src AS (SELECT * FROM t),"
            )
        ).fetchall()
    )
    assert got == want


def test_countmin_and_bloom_cells_parity_spark_vs_duckdb(spark):
    """Completes the cross-engine sweep class for the integer-only
    sketches: every count-min cell and every Bloom set bit must be
    identical between the Spark fold and the DuckDB twin on keys the
    driver fixtures never hash (unicode, empty-adjacent, numeric-like
    strings) — the hash-slice portability these sketches rest on."""
    import duckdb

    rows = [(k, n) for n, k in enumerate(
        ["a", "0", "émoji✓", "k" * 200, "-1", "NaN", "null", "x:y"], 1
    )]
    df = spark.createDataFrame(rows, "tok STRING, cnt INT")
    cm = sorted(
        (r.r, r.b, r.cell)
        for r in SK.countmin_sketch(df, "tok", "cnt").collect()
    )
    bl = sorted(r.bit for r in SK.bloom_bits(df, "tok").collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (tok VARCHAR, cnt INT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cm_want = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(
            "WITH c AS (SELECT tok, cnt FROM t) " + SK.countmin_cells_sql("c")
        ).fetchall()
    )
    bl_want = sorted(
        r[0]
        for r in con.execute(
            "WITH c AS (SELECT tok FROM t) " + SK.bloom_bits_sql("c", "tok")
        ).fetchall()
    )
    assert cm == cm_want
    assert bl == bl_want


def test_pq_adc_parity_spark_vs_duckdb_cell_boundaries(spark, tmp_path):
    """Adversarial cross-engine sweep of x70's PQ/ADC path (r13
    verdict #4 — the HLL-lesson discipline): the branch is the
    codebook CELL boundary (row_number over (d, cid) picking the
    nearest centroid), which the sf fixtures never land on. Hostile
    embeddings: exact float32 midpoints between two centroids (a
    bit-exact distance TIE per subquantizer — the assignment must
    break to the lowest cid in BOTH engines) and magnitude-mixed
    components (1e8 next to 1e-3) whose squared-L2 partial sums differ
    in the last ulp under any re-ordering — pinning that both engines
    really fold i-ascending from 0.0. Adjudicated at BOTH levels:
    every (vec_id, m, code) assignment, then the published recall
    table."""
    import duckdb
    import numpy as np

    import financial_market_data_analysis_spark.plans.extensions as X

    n, dim = 220, 64
    rows = []
    for i in range(n):
        # integer-valued float32 base grid — exact in f32 and f64
        v = np.array(
            [((i * 7 + j * 13) % 31) - 15 for j in range(dim)],
            dtype=np.float32,
        )
        rows.append(v)
    # centroids are vec_id % 101 == 0 -> {0, 101, 202}
    c0, c1 = rows[0].copy(), rows[101].copy()
    for i in range(5, 13):
        # exact midpoint of two integer-valued f32 vectors: every
        # component is k/2 (exact in f32), so d(v, c0) == d(v, c101)
        # bit-for-bit per subvector — the cell-boundary tie
        rows[i] = ((c0 + c1) / np.float32(2.0)).astype(np.float32)
    mags = np.array([1e8, 1.0, -1e8, 1e-3] * (dim // 4), dtype=np.float32)
    for i in range(13, 21):
        # magnitude-mixed: fold order changes the last ulp of the
        # squared-L2 sum, so parity here proves both engines sum
        # i-ascending from 0.0
        rows[i] = (mags * np.float32(1.0 + (i - 13) / 8.0)).astype(
            np.float32
        )
    data = [
        (i, [float(x) for x in rows[i]], int(i % 3)) for i in range(n)
    ]
    df = spark.createDataFrame(
        data, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    path = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'"
    )
    # level 1: every code assignment identical across engines
    e = spark.read.parquet(path)
    codes, _ = X._pq_codes_dtab(e)
    got_codes = sorted(
        (r.vec_id, r.m, r.code) for r in codes.collect()
    )
    want_codes = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(
            f"WITH {X._pq_oracle_ctes()} "
            "SELECT vec_id, m, code FROM codes"
        ).fetchall()
    )
    assert got_codes == want_codes
    # the tie rows must exist and resolve to the LOWEST cid (0)
    tie_codes = {c for v, m, c in got_codes if 5 <= v <= 12}
    assert tie_codes == {0}
    # level 2: the UNROUNDED ADC doubles bit-for-bit — on the
    # magnitude-mixed vectors any fold-order deviation in either
    # engine shifts the last ulp, so exact equality here is the
    # fold-order proof (the derived ranking alone could survive an
    # off-boundary ulp drift)
    codes2, dtab = X._pq_codes_dtab(e)
    got_adc = sorted(
        (r.query_id, r.vec_id, r.adist)
        for r in X._adc_dist(codes2, dtab).collect()
    )
    want_adc = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(
            f"WITH {X._pq_oracle_ctes()} "
            "SELECT query_id, vec_id, adist FROM adc"
        ).fetchall()
    )
    assert got_adc == want_adc
    # level 3: the published recall table
    got = sorted(
        (r.query_id, r.n_hits, round(r.recall_at_k, 6))
        for r in X.q_pq_adc_recall(spark, str(tmp_path)).collect()
    )
    want = sorted(
        (r[0], r[1], round(r[2], 6))
        for r in con.execute(X.pq_adc_recall_oracle()).fetchall()
    )
    assert got == want


def test_ares_key_parity_spark_vs_duckdb_weight_extremes(spark, tmp_path):
    """Adversarial cross-engine sweep of x54's A-Res draw (r13 verdict
    #4): the acceptance key ln(u)/w is the one place libm-vs-JVM ln()
    and the division could diverge in the last ulp, and the fixtures
    only ever exercise n_chars in a narrow band. Hostile weights span
    six orders of magnitude (w=1 maximizes |ln(u)/w|, w=10^6 pushes
    keys toward the round-to-zero boundary), and 300 rows make the
    top-100 cut a real ordering boundary. The full 100-row result —
    ids, ordering, and rounded keys — must match the DuckDB oracle
    exactly."""
    import duckdb

    import financial_market_data_analysis_spark.plans.extensions as X

    weights = [1, 2, 3, 7, 97, 1009, 65537, 999983, 10**6]
    data = [
        (
            i,
            f"doc {i}",
            "en",
            f"src{i % 4}",
            weights[i % len(weights)],
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(
        data, "doc_id LONG, text STRING, lang STRING, source STRING, "
        "n_chars LONG"
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'"
    )

    def norm(v: float) -> float:
        # w=10^6 keys can round to -0.0; both engines keep the sign,
        # but normalize so the comparison tests VALUES not zero signs
        return 0.0 if v == 0 else v

    got = [
        (r.doc_id, r.source, r.n_chars, norm(r.ares_key))
        for r in X.q_weighted_sample(spark, str(tmp_path)).collect()
    ]
    want = [
        (r[0], r[1], r[2], norm(r[3]))
        for r in con.execute(X.weighted_sample_oracle()).fetchall()
    ]
    assert len(got) == 100
    assert got == want


def test_kmv_bottomk_merge_is_idempotent_and_order_free(spark):
    """The algebra t18's append-only store rests on (r13 verdict #5,
    the t27 pattern applied to KMV): per-shard bottom-k sketches
    collapse to the bottom-k of the union via distinct-union +
    re-bottom-k, and a REPLAYED shard cannot change the merged state —
    bottom-k over sets is a commutative idempotent monoid, so the
    store needs no copy-on-write snapshot chain."""
    from pyspark.sql import Window as W2

    k = 8
    left = spark.createDataFrame(
        [("g", f"v{i}") for i in range(60)], "g STRING, k STRING"
    )
    right = spark.createDataFrame(
        [("g", f"v{i}") for i in range(40, 120)], "g STRING, k STRING"
    )

    def collapse(sketches):
        return (
            sketches.select("g", "__u")
            .distinct()
            .withColumn("__rn", F.row_number().over(
                W2.partitionBy("g").orderBy("__u")))
            .filter(F.col("__rn") <= k)
        )

    direct = SK.kmv_bottomk(left.unionByName(right), "k", ["g"], k=k)
    merged = collapse(
        SK.kmv_bottomk(left, "k", ["g"], k=k)
        .unionByName(SK.kmv_bottomk(right, "k", ["g"], k=k))
        .unionByName(SK.kmv_bottomk(left, "k", ["g"], k=k))  # replay
    )
    a = sorted(r["__u"] for r in direct.select("__u").collect())
    b = sorted(r["__u"] for r in merged.select("__u").collect())
    assert len(a) == k
    assert a == b


def test_x80_within_eps_integer_ties_cross_engine(spark, duck):
    """r14 verdict #6 — the HLL-lesson sweep applied to x80's
    within-ε counting kernel. The branch is the strict-< in
    ``ε·|m·u − i·k| < k·u`` (1/ε integer: 20 for 5%, 10 for 10%),
    and the sf fixtures never land a pair exactly ON a boundary.
    Hostile (m, i, u) quadruples per k ∈ {4, 8, 16, 32}:

    - EXACT 5% ties from both sides (|m·u − i·k| = k·u/20, via
      u = 20k, m = k/2, i = 9k and 11k) — strict-< must EXCLUDE them
      in both engines;
    - an exact 10% tie that is 5%-outside (i = 8k);
    - Δ = 0 (dead center, included) and u = 10^12 (the products reach
      ~6·10^14 — pins that neither engine's integer arithmetic
      truncates or silently wraps at scale).

    The Spark expression and the oracle SQL are the literal fragments
    the shipped query/oracle use, evaluated per row side-by-side."""
    import pandas as pd
    from pyspark.sql import functions as F

    from financial_market_data_analysis_spark.plans.extensions import X80_KS

    rows = []
    for k in X80_KS:
        u = 20 * k
        m = k // 2
        rows += [
            (k, m, 9 * k, u, "tie5_pos"),
            (k, m, 11 * k, u, "tie5_neg"),
            (k, m, 8 * k, u, "tie10_pos"),
            (k, m, 12 * k, u, "tie10_neg"),
            (k, m, 10 * k, u, "center"),
            (k, k, 0, 10**12, "huge_u_far"),
            (k, k, 10**12, 10**12, "huge_u_exact"),
        ]
    df = spark.createDataFrame(
        rows, "k LONG, m LONG, i LONG, u LONG, tag STRING"
    )
    got = (
        df.select(
            "k",
            "tag",
            (
                20 * F.abs(F.col("m") * F.col("u") - F.col("i") * F.col("k"))
                < F.col("k") * F.col("u")
            )
            .cast("int")
            .alias("in5"),
            (
                10 * F.abs(F.col("m") * F.col("u") - F.col("i") * F.col("k"))
                < F.col("k") * F.col("u")
            )
            .cast("int")
            .alias("in10"),
        )
        .toPandas()
        .sort_values(["k", "tag"])
        .reset_index(drop=True)
    )
    vals = ", ".join(
        f"({k}, {m}, {i}, {u}, '{tag}')" for k, m, i, u, tag in rows
    )
    want = duck.execute(
        f"""
        WITH t(k, m, i, u, tag) AS (VALUES {vals})
        SELECT k, tag,
               CASE WHEN 20 * abs(m * u - i * k) < k * u
                    THEN 1 ELSE 0 END AS in5,
               CASE WHEN 10 * abs(m * u - i * k) < k * u
                    THEN 1 ELSE 0 END AS in10
        FROM t ORDER BY k, tag
        """
    ).fetchdf()
    pd.testing.assert_frame_equal(
        got, want.astype(got.dtypes.to_dict()), check_exact=True
    )
    # the ties really are ties: strictly excluded at their own ε,
    # included one step inside — pin the intended geometry, not just
    # engine agreement
    by = {(r.k, r.tag): (r.in5, r.in10) for r in got.itertuples()}
    for k in X80_KS:
        assert by[(k, "tie5_pos")][0] == 0 and by[(k, "tie5_neg")][0] == 0
        assert by[(k, "tie5_pos")][1] == 1 and by[(k, "tie5_neg")][1] == 1
        assert by[(k, "tie10_pos")] == (0, 0)
        assert by[(k, "tie10_neg")] == (0, 0)
        assert by[(k, "center")] == (1, 1)
        assert by[(k, "huge_u_far")] == (0, 0)
        assert by[(k, "huge_u_exact")] == (1, 1)
