"""Property-based spot checks (SURVEY.md §5.4): algebraic invariants of
the domain features on hypothesis-randomized frames. Each property
generates a BATCH of random rows per example and runs ONE Spark job
over it (per-row Spark jobs would make hypothesis unusably slow), with
a bounded example count — the goal is randomized coverage of the
feature algebra, not fuzzing throughput."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.functions import features as FE
from financial_market_data_analysis_spark.functions.core import with_sql
from financial_market_data_analysis_spark.operators.windows import (
    stochastic_oscillator_sql,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.large_base_example,
        HealthCheck.data_too_large,
    ],
)

price = st.floats(min_value=0.01, max_value=1e5, allow_nan=False)
size = st.integers(min_value=0, max_value=10_000)
pos_size = st.integers(min_value=1, max_value=10_000)


@st.composite
def book_rows(draw, n_rows=8, positive_top=False):
    rows = []
    top = pos_size if positive_top else size
    for i in range(n_rows):
        row = {"event_id": i}
        for side in ("bid", "ask"):
            for lvl in range(7):
                row[f"{side}_{lvl}"] = draw(price)
                row[f"{side}_{lvl}_size"] = draw(top if lvl == 0 else size)
        rows.append(row)
    return rows


@given(book_rows(positive_top=True))
@settings(**_SETTINGS)
def test_vol_imbalance_bounded_and_micro_price_between_best_quotes(spark, rows):
    """F3: imbalance ∈ [−1, 1] whenever the top of book is populated.
    F5: micro-price is a convex combination of best bid and ask, so it
    lies between them (inclusive)."""
    df = spark.createDataFrame(rows)
    out = FE.micro_price(FE.order_volume_imbalance(df)).select(
        "vol_imbalance", "micro_price", "bid_0", "ask_0"
    )
    for r in out.collect():
        assert -1.0 - 1e-9 <= r.vol_imbalance <= 1.0 + 1e-9
        lo, hi = sorted((r.bid_0, r.ask_0))
        assert lo - 1e-6 * hi <= r.micro_price <= hi + 1e-6 * hi


@given(book_rows())
@settings(**_SETTINGS)
def test_delta_matches_horizontal_sums_and_spread_sign(spark, rows):
    """F4: delta equals Σ ask sizes − Σ bid sizes computed row-side in
    plain Python. F6: spread is bid₀ − ask₀ when both prices non-zero,
    else exactly 0."""
    df = spark.createDataFrame(rows)
    out = FE.bid_ask_spread(FE.delta_indicator(df)).collect()
    for r in out:
        expect = sum(r[f"ask_{i}_size"] for i in range(7)) - sum(
            r[f"bid_{i}_size"] for i in range(7)
        )
        assert r["delta"] == expect
        if r["bid_0"] != 0 and r["ask_0"] != 0:
            assert math.isclose(
                r["spread"], r["bid_0"] - r["ask_0"], rel_tol=1e-6, abs_tol=1e-6
            )
        else:
            assert r["spread"] == 0.0


@given(st.lists(price, min_size=6, max_size=40))
@settings(**_SETTINGS)
def test_candle_wick_ratio_bounded(spark, closes):
    """F1: the wick is measured from close toward one candle extreme,
    so |wick| ≤ candle size and the ratio ∈ [−1, 1] (NULL on doji)."""
    rows = []
    for i, c in enumerate(closes):
        h = max(c, closes[(i + 1) % len(closes)]) + 0.5
        lo = min(c, closes[(i + 1) % len(closes)]) - 0.5
        rows.append((i, float(closes[(i + 1) % len(closes)]), float(h), float(lo), float(c)))
    df = spark.createDataFrame(rows, ["i", "open", "high", "low", "close"])
    out = with_sql(df, FE.wick_sql()).select("wick_prct").collect()
    for r in out:
        assert r.wick_prct is None or -1.0 - 1e-9 <= r.wick_prct <= 1.0 + 1e-9


@given(st.lists(price, min_size=5, max_size=60))
@settings(**_SETTINGS)
def test_stochastic_bounded_or_null_on_flat_window(spark, closes):
    """W5: stoch ∈ [0, 1] by construction (close is inside its own
    window's min/max); a flat 15-row window divides by zero → NULL."""
    df = spark.createDataFrame(
        [(i, float(c)) for i, c in enumerate(closes)], ["seq", "close"]
    )
    out = with_sql(df, {"stoch": stochastic_oscillator_sql("close", ["seq"])}).collect()
    for r in out:
        assert r.stoch is None or -1e-9 <= r.stoch <= 1.0 + 1e-9


@given(st.lists(st.text(alphabet="abcdef ", min_size=0, max_size=80), min_size=5, max_size=30))
@settings(**_SETTINGS)
def test_hash_split_is_a_disjoint_total_cover(spark, texts):
    """x17: every doc lands in exactly one of train/val/test, and the
    assignment depends only on doc_id (stable across runs)."""
    from financial_market_data_analysis_spark.functions.text import hash_split

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    a = hash_split(df).select("doc_id", "split")
    b = hash_split(df).select("doc_id", "split")
    rows_a = {r.doc_id: r.split for r in a.collect()}
    rows_b = {r.doc_id: r.split for r in b.collect()}
    assert rows_a == rows_b
    assert set(rows_a) == set(range(len(texts)))
    assert set(rows_a.values()) <= {"train", "val", "test"}


@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 10_000)),
        min_size=1, max_size=60, unique_by=lambda t: t[1],
    )
)
@settings(**_SETTINGS)
def test_source_quota_cap_invariants(spark, monkeypatch, pairs):
    """x36: at most ``QUOTA_CAP`` docs survive per source (3 here, so
    the cap binds at this input size); survivors are a subset of the
    input chosen purely by (doc_id, salt) — identical across
    repartitionings (the determinism the domain-cap exists for)."""
    from financial_market_data_analysis_spark.functions import text as T
    from financial_market_data_analysis_spark.functions.text import (
        source_quota_cap,
    )

    monkeypatch.setattr(T, "QUOTA_CAP", 3)

    rows = [(doc_id, f"src{s}") for s, doc_id in pairs]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = source_quota_cap(df).collect()
    per_src: dict[str, list[int]] = {}
    for r in kept:
        per_src.setdefault(r.source, []).append(r.doc_id)
        assert 1 <= r.qrank <= 3
    for src, ids in per_src.items():
        assert len(ids) <= 3
    again = source_quota_cap(df.repartition(7)).collect()
    assert {(r.doc_id, r.source) for r in again} == {
        (r.doc_id, r.source) for r in kept
    }


@given(
    st.lists(
        st.lists(st.floats(-10, 10, allow_nan=False, width=32), min_size=4, max_size=4),
        min_size=3, max_size=24,
    )
)
@settings(**_SETTINGS)
def test_kmeans_lloyd_partition_invariants(spark, monkeypatch, vecs):
    """x34: every surviving centroid has >= 1 member, member counts sum
    to the corpus size, and K never grows."""
    from financial_market_data_analysis_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    seeds = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs[:2])],
        "centroid_id long, embedding array<float>",
    )
    monkeypatch.setattr(S, "EMB_DIM", 4)
    out = S.kmeans_lloyd(corpus, seeds).collect()
    assert 1 <= len(out) <= 2
    assert all(r.n_assigned >= 1 for r in out)
    assert sum(r.n_assigned for r in out) == len(vecs)


@given(st.lists(price, min_size=25, max_size=40))
@settings(**_SETTINGS)
def test_rolling_center_stats_bounded_by_frame_extremes(spark, monkeypatch, closes):
    """W13/W14 invariant: the rolling median and the renormalized
    truncated EWMA are convex combinations of frame values, so every
    emitted value must lie within [min, max] of its trailing frame."""
    from financial_market_data_analysis_spark.operators import windows as W

    period = 10
    monkeypatch.setattr(W, "ROLLING_PERIOD", period)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(closes)], "t INT, v DOUBLE"
    )
    out = W.rolling_ewma(
        W.rolling_median(df, "v", ["t"]), "v", ["t"], period=period
    ).collect()
    by_t = {r.t: r for r in out}
    for t, r in by_t.items():
        if r.median is None:
            continue
        frame = [closes[j] for j in range(max(0, t - period + 1), t + 1)]
        lo, hi = min(frame), max(frame)
        eps = 1e-9 * max(1.0, abs(hi))
        assert lo - eps <= r.median <= hi + eps, (t, r.median, lo, hi)
        assert lo - eps <= r.ewma <= hi + eps, (t, r.ewma, lo, hi)


@given(st.lists(price, min_size=20, max_size=35))
@settings(**_SETTINGS)
def test_rsi_bounded_and_obv_telescopes(spark, monkeypatch, closes):
    """W15: RSI ∈ [0, 100] on any series. W16: OBV's total equals the
    sum of signed volumes directly (the running sum telescopes)."""
    from financial_market_data_analysis_spark.operators import windows as W

    monkeypatch.setattr(W, "OSCILLATOR_PERIOD", 5)
    rows = [(i, float(v), float((i % 7) + 1)) for i, v in enumerate(closes)]
    df = spark.createDataFrame(rows, "t INT, close DOUBLE, vol DOUBLE")
    out = (
        W.on_balance_volume(W.rsi(df, "close", ["t"]), "close", "vol", ["t"])
        .orderBy("t")
        .collect()
    )
    expected = 0.0
    for i in range(1, len(rows)):
        if closes[i] > closes[i - 1]:
            expected += rows[i][2]
        elif closes[i] < closes[i - 1]:
            expected -= rows[i][2]
    assert abs(out[-1].obv - expected) < 1e-9
    for r in out:
        if r.rsi is not None:
            assert -1e-9 <= r.rsi <= 100 + 1e-9


@given(
    st.lists(
        st.lists(st.sampled_from("ab cd efg hi jkl mn".split()),
                 min_size=1, max_size=12),
        min_size=2, max_size=10,
    )
)
@settings(**_SETTINGS)
def test_bpe_encode_token_count_invariants(spark, docs):
    """x41: for every document, the BPE token count is bounded by the
    word count below (merges never split a word past one symbol) and
    the total character count above (the initial symbolization is one
    symbol per character; merges only shrink), and every doc with at
    least one token appears exactly once."""
    from financial_market_data_analysis_spark.functions.text import bpe_encode

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bpe_encode(df).collect()}
    assert set(out) == set(range(len(docs)))
    for i, toks in enumerate(docs):
        r = out[i]
        assert r.n_words == len(toks)
        assert r.n_words <= r.n_bpe_tokens <= sum(len(t) for t in toks)
        assert abs(r.bpe_per_word - r.n_bpe_tokens / r.n_words) < 1e-6


@given(st.integers(min_value=8, max_value=20), st.integers(min_value=2, max_value=5))
@settings(**_SETTINGS)
def test_dup_span_removal_total_and_keeper_invariants(spark, doc_len, n_docs):
    """x44 on a corpus of per-doc-unique vocabularies plus ONE exact
    copy: the keeper (lower id) loses nothing, the copy loses every
    position (every token of a >=8-token doc sits inside some 8-gram),
    all other docs are untouched, and the digest of an untouched doc
    equals md5 of its original token stream."""
    import hashlib

    from financial_market_data_analysis_spark.operators.dedup import (
        dup_span_removal,
    )

    texts = {
        i: " ".join(f"d{i}w{j}" for j in range(doc_len))
        for i in range(n_docs)
    }
    rows = [(i, t) for i, t in texts.items()]
    rows.append((n_docs, texts[0]))  # exact copy of doc 0, higher id
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dup_span_removal(df).collect()}
    assert out[0].n_removed == 0  # the keeper survives whole
    assert out[0].clean_digest == hashlib.md5(texts[0].encode()).hexdigest()
    copy = out[n_docs]
    assert copy.n_removed == copy.n_tokens == doc_len  # fully cut
    assert copy.clean_digest == hashlib.md5(b"").hexdigest()
    for i in range(1, n_docs):  # disjoint vocabularies: untouched
        assert out[i].n_removed == 0
        assert out[i].clean_digest == hashlib.md5(texts[i].encode()).hexdigest()


key_lists = st.lists(
    st.text(alphabet="abcxyz01", min_size=1, max_size=6),
    min_size=1,
    max_size=40,
)


@given(key_lists)
@settings(**_SETTINGS)
def test_countmin_overestimates_on_random_keys(spark, monkeypatch, keys):
    """CMS one-sided error: for ANY multiset of keys, every point
    estimate ≥ the true count (Cormode-Muthukrishnan invariant). A
    2 × 4 sketch forces bucket collisions."""
    from financial_market_data_analysis_spark.operators import sketches as SK

    monkeypatch.setattr(SK, "CMS_DEPTH", 2)
    monkeypatch.setattr(SK, "CMS_WIDTH", 4)

    counts = (
        spark.createDataFrame([(k,) for k in keys], "tok STRING")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sketch = SK.countmin_sketch(counts, "tok", "cnt")
    est = SK.countmin_estimate(
        sketch, counts.select("tok"), "tok"
    )
    rows = counts.join(est, "tok").collect()
    assert rows and all(r.cms_est >= r.cnt for r in rows)


@given(key_lists, key_lists)
@settings(**_SETTINGS)
def test_bloom_no_false_negatives_on_random_sets(spark, monkeypatch, members, probes):
    """Bloom guarantee on ANY member/probe sets: every member probes
    as maybe-member (false negatives are structurally impossible). A
    64-bit filter makes members share bits."""
    from financial_market_data_analysis_spark.operators import sketches as SK

    monkeypatch.setattr(SK, "BLOOM_M", 64)

    mdf = spark.createDataFrame([(k,) for k in set(members)], "k STRING")
    bits = SK.bloom_bits(mdf, "k")
    probe = spark.createDataFrame(
        [(k,) for k in set(members) | set(probes)], "k STRING"
    )
    out = SK.bloom_maybe_member(probe, bits, "k").collect()
    got = {r.k: r.maybe_member for r in out}
    assert all(got[m] == 1 for m in set(members))


@given(key_lists, key_lists)
@settings(**_SETTINGS)
def test_kmv_merge_equals_union_sketch_on_random_sets(spark, xs, ys):
    """Sketch-of-union == merge-of-sketches for ANY two key sets —
    the mergeability x55's set algebra and any distributed rollup of
    bottom-k sketches rely on."""
    from pyspark.sql import Window as W2

    from financial_market_data_analysis_spark.operators import sketches as SK

    k = 8
    left = spark.createDataFrame([("l", x) for x in set(xs)], "g STRING, k STRING")
    right = spark.createDataFrame([("r", y) for y in set(ys)], "g STRING, k STRING")
    both = left.unionByName(right).select(F.lit("u").alias("g"), "k")
    direct = sorted(
        r.k for r in SK.kmv_bottomk(both, "k", ["g"], k=k).collect()
    )
    merged_vals = (
        SK.kmv_bottomk(left, "k", ["g"], k=k)
        .select("k", "__u")
        .unionByName(SK.kmv_bottomk(right, "k", ["g"], k=k).select("k", "__u"))
        .distinct()
    )
    merged = sorted(
        r.k
        for r in merged_vals.withColumn(
            "rn", F.row_number().over(W2.orderBy("__u", "k"))
        )
        .filter(F.col("rn") <= k)
        .collect()
    )
    assert direct == merged


@given(st.lists(price, min_size=30, max_size=45))
@settings(**_SETTINGS)
def test_adx_dis_nonneg_and_dx_adx_bounded(spark, monkeypatch, closes):
    """W21: on any series, ±DI ≥ 0 (averages of non-negative DMs over a
    positive ATR), DX ∈ [0, 100] (a normalized spread of non-negatives),
    and ADX ∈ [0, 100] (an average of DX values)."""
    from financial_market_data_analysis_spark.operators import windows as W

    monkeypatch.setattr(W, "OSCILLATOR_PERIOD", 5)
    rows = [
        (i, float(v) + 0.5, float(v) - 0.5, float(v))
        for i, v in enumerate(closes)
    ]
    df = spark.createDataFrame(rows, "t INT, high DOUBLE, low DOUBLE, close DOUBLE")
    for r in W.adx(df, "high", "low", "close", ["t"]).collect():
        for v in (r.plus_di, r.minus_di):
            if v is not None:
                assert v >= -1e-9
        for v in (r.dx, r.adx):
            if v is not None:
                assert -1e-9 <= v <= 100 + 1e-9


@given(
    vals=st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
        min_size=3,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_histogram_quantile_estimate_bounded_and_monotone(spark, vals):
    """a12/t16 kernel invariants: every histogram quantile estimate
    lies inside [min, max] of its group, and estimates are
    NON-DECREASING in q (cumulative counts are monotone, so the picked
    bucket index and in-bucket fraction are too)."""
    import financial_market_data_analysis_spark.operators.sketches as SK

    df = spark.createDataFrame([("g", float(v)) for v in vals], "g string, v double")
    rows = SK.histogram_quantiles(df, "v", ["g"]).collect()
    assert len(rows) == len(SK.HIST_QS)
    lo, hi = min(vals), max(vals)
    eps = 1e-6 + (hi - lo) * 1e-9
    by_q = {r.q: r.est_q for r in rows}
    for q, est in by_q.items():
        assert lo - eps <= est <= hi + eps, (q, est, lo, hi)
    qs = sorted(by_q)
    for a, b in zip(qs, qs[1:]):
        assert by_q[a] <= by_q[b] + eps


@given(
    bars=st.lists(
        st.tuples(
            st.floats(min_value=1, max_value=100, allow_nan=False),  # seed price
            st.floats(min_value=0, max_value=5, allow_nan=False),    # range
            st.floats(min_value=0, max_value=1, allow_nan=False),    # close frac
            st.floats(min_value=1, max_value=1e4, allow_nan=False),  # volume
        ),
        min_size=12,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_cmf_always_within_unit_band(spark, monkeypatch, bars):
    """w22 invariant: CMF is a volume-weighted mean of multipliers in
    [-1, 1], so it can never leave that band — for ANY bar geometry,
    including flat bars (range 0)."""
    from financial_market_data_analysis_spark.operators import windows as W

    rows = []
    for i, (p, rng, cf, vol) in enumerate(bars):
        low, high = p, p + rng
        close = low + rng * cf
        rows.append((i, high, low, close, vol))
    df = spark.createDataFrame(
        rows, "bucket_start long, high double, low double, close double, volume double"
    )
    monkeypatch.setattr(W, "ROLLING_PERIOD", 10)
    out = W.chaikin_money_flow(
        df, "high", "low", "close", "volume", ["bucket_start"]
    )
    vals = [r.cmf for r in out.collect() if r.cmf is not None]
    assert all(-1.0 - 1e-9 <= v <= 1.0 + 1e-9 for v in vals)


@given(
    keys_a=st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=6),
                    min_size=1, max_size=80),
    keys_b=st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=6),
                    min_size=1, max_size=80),
)
@settings(**_SETTINGS)
def test_kmv_bottom_k_merge_is_associative(spark, keys_a, keys_b):
    """t18's state-merge claim, pinned as algebra: the bottom-k of the
    union equals the bottom-k of (bottom-k(A) ∪ bottom-k(B)) — the
    property that makes the KMV sketch mergeable across micro-batches
    and executors. Computed with the ENGINE's own hash (md5_long /
    KMV_SCALE) so the pin covers the real state, not a model of it."""
    import financial_market_data_analysis_spark.operators.sketches as SK
    from pyspark.sql import functions as F

    k = 8  # small k so the property bites even on small inputs

    def us(keys):
        df = spark.createDataFrame([(x,) for x in keys], "k string").distinct()
        rows = df.select(
            (SK.md5_long(F.concat(F.lit("kmv:"), F.col("k")), SK.KMV_HEX)
             / SK.KMV_SCALE).alias("u")
        ).collect()
        return sorted({r.u for r in rows})

    ua, ub = us(keys_a), us(keys_b)
    direct = sorted(set(ua) | set(ub))[:k]
    merged = sorted(set(ua[:k]) | set(ub[:k]))[:k]
    assert direct == merged


@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),          # key
            st.sampled_from(["upsert", "delete"]),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_cdc_compaction_matches_sequential_fold(spark, ops):
    """d5/t15/t15b semantics pinned against a straight-line Python
    fold: apply the changelog in (ts, event_id) order — upsert sets,
    delete removes — and the engine's latest-wins window compaction
    must produce exactly the surviving keys and values."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        (int(key), i, i * 10, float(v), op)
        for i, (key, op, v) in enumerate(ops)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_us long, value double, op string"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    got = {
        r.user_id: r.value
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("op") != "delete"))
        .collect()
    }

    state: dict[int, float] = {}
    for key, eid, ts, v, op in sorted(rows, key=lambda r: (r[2], r[1])):
        if op == "delete":
            state.pop(key, None)
        else:
            state[key] = v
    # the window form keeps a key iff its LAST op was an upsert — a
    # delete followed by nothing removes it, matching the fold
    assert got == state


@st.composite
def priced_pairs(draw, n_rows=24):
    """Random (partkey, suppkey, extendedprice, quantity) rows with
    deliberate collisions so argmin groups have real ties to break."""
    rows = []
    for _ in range(n_rows):
        rows.append(
            {
                "l_partkey": draw(st.integers(min_value=1, max_value=5)),
                "l_suppkey": draw(st.integers(min_value=1, max_value=4)),
                "l_extendedprice": draw(price),
                "l_quantity": float(draw(st.integers(1, 50))),
            }
        )
    return rows


@given(priced_pairs())
@settings(**_SETTINGS)
def test_q2_argmin_struct_matches_reference_selection(spark, rows):
    """q2's kernel: min(struct(unit, suppkey)) per part selects exactly
    the (unit, suppkey) pair a sequential scan with (unit, suppkey)
    lexicographic ordering would — including tie-breaks on suppkey when
    two suppliers quote the identical unit price."""
    df = spark.createDataFrame(rows).withColumn(
        "unit", F.col("l_extendedprice") / F.col("l_quantity")
    )
    got = {
        r["l_partkey"]: (r["m"]["unit"], r["m"]["l_suppkey"])
        for r in df.groupBy("l_partkey")
        .agg(F.min(F.struct("unit", "l_suppkey")).alias("m"))
        .collect()
    }
    want: dict[int, tuple[float, int]] = {}
    for row in rows:
        k = row["l_partkey"]
        cand = (row["l_extendedprice"] / row["l_quantity"], row["l_suppkey"])
        if k not in want or cand < want[k]:
            want[k] = cand
    assert got == want


@st.composite
def flagged_pairs(draw, n_rows=30):
    rows = []
    for _ in range(n_rows):
        rows.append(
            {
                "l_orderkey": draw(st.integers(min_value=1, max_value=6)),
                "l_suppkey": draw(st.integers(min_value=1, max_value=4)),
                "l_returnflag": draw(st.sampled_from(["A", "N", "R"])),
            }
        )
    return rows


@given(flagged_pairs())
@settings(**_SETTINGS)
def test_q21_sole_returner_matches_set_semantics(spark, rows):
    """q21's kernel: the semi+anti self-join pair selects exactly the
    (order, supplier) pairs where the supplier returned a line, at
    least one OTHER supplier participated in the order, and NO other
    supplier returned — checked against a direct set computation."""
    import __spark_entry__ as e

    df = spark.createDataFrame(rows)
    all_pairs = {(r["l_orderkey"], r["l_suppkey"]) for r in rows}
    r_pairs = {
        (r["l_orderkey"], r["l_suppkey"])
        for r in rows
        if r["l_returnflag"] == "R"
    }
    want = {
        (o, s)
        for (o, s) in r_pairs
        if any(o2 == o and s2 != s for (o2, s2) in all_pairs)
        and not any(o2 == o and s2 != s for (o2, s2) in r_pairs)
    }
    # re-run the query's join pipeline on the synthetic frame
    ap = df.select("l_orderkey", "l_suppkey").distinct()
    rp = (
        df.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = ap.select("l_orderkey", F.col("l_suppkey").alias("o_supp"))
    r_other = rp.select("l_orderkey", F.col("l_suppkey").alias("o_supp"))
    cand = rp.join(
        other,
        (rp.l_orderkey == other.l_orderkey) & (rp.l_suppkey != other.o_supp),
        "left_semi",
    ).join(
        r_other,
        (rp.l_orderkey == r_other.l_orderkey)
        & (rp.l_suppkey != r_other.o_supp),
        "left_anti",
    )
    got = {(r["l_orderkey"], r["l_suppkey"]) for r in cand.collect()}
    assert got == want


csv_field = st.one_of(
    st.integers(min_value=-10**6, max_value=10**6).map(str),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False).map(
        lambda x: f"{x:.4f}"
    ),
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz_",
        min_size=1,
        max_size=12,
        # Python's float() accepts these spellings but Spark's CSV
        # DoubleType parser does not (nanValue/positiveInf are
        # exact-match 'NaN'/'Inf' and Java parseDouble rejects
        # lowercase), so they'd flip a row from "expected clean" to
        # "quarantined" and flake the conservation law (r11 advice).
    ).filter(lambda v: v not in ("nan", "inf", "infinity")),
)


@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.sampled_from(["a", "b"]), csv_field),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_csv_quarantine_conservation_law(spark, tmp_path_factory, rows):
    """For ANY input — arbitrary mixes of parseable and unparseable
    value fields — the PERMISSIVE split loses nothing and invents
    nothing: n_clean + n_quarantined == n_input_lines, the clean frame
    contains exactly the rows whose third field parses as a double,
    and every quarantined raw line is one of the input lines
    verbatim."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from financial_market_data_analysis_spark.sources.files import (
        CORRUPT_COL,
        load_csv,
        release_split,
    )

    schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
        ]
    )

    def parses_as_double(s: str) -> bool:
        try:
            float(s)
            return True
        except ValueError:
            return False

    tmp = tmp_path_factory.mktemp("csv_prop")
    p = tmp / "drop.csv"
    lines = [f"{i},{t},{v}" for (i, t, v) in rows]
    p.write_text("\n".join(lines) + "\n")
    clean, quarantine = load_csv(spark, str(p), schema, header=False)
    n_clean, n_quar = clean.count(), quarantine.count()
    assert n_clean + n_quar == len(lines)
    expect_clean = sum(1 for (_, _, v) in rows if parses_as_double(v))
    assert n_clean == expect_clean
    raws = {r[CORRUPT_COL] for r in quarantine.collect()}
    release_split(clean, quarantine)  # one cached parse per example otherwise
    assert raws <= set(lines)


drift_colname = st.sampled_from(["a", "b", "c", "d", "e"])
drift_type = st.sampled_from(["long", "double", "string"])


@given(
    st.dictionaries(drift_colname, drift_type, min_size=1, max_size=4),
    st.dictionaries(drift_colname, drift_type, min_size=1, max_size=4),
    st.integers(min_value=0, max_value=5),
    st.integers(min_value=0, max_value=5),
)
@settings(**_SETTINGS)
def test_schema_drift_report_invariants(
    spark, old_schema, new_schema, n_old, n_new
):
    """For ANY pair of schemas and row counts — INCLUDING a zero-row
    side (an empty drop): the report has exactly one row per column of
    the union, statuses partition the columns correctly (added ⇔
    new-only, removed ⇔ old-only, type_changed ⇔
    both-with-different-types), the null fraction is NULL exactly when
    the side is absent OR has zero rows (an empty drop must not read
    as "fully null" — r11 advice), the absent side's type is NULL, and
    every present null fraction lies in [0, 1]."""
    from financial_market_data_analysis_spark.sources.files import (
        schema_drift_report,
    )

    def mk(schema: dict, n: int):
        ddl = ", ".join(f"{c} {t}" for c, t in sorted(schema.items()))
        row = tuple(
            {"long": 1, "double": 1.5, "string": "x"}[t]
            for _, t in sorted(schema.items())
        )
        return spark.createDataFrame([row] * n, ddl)

    old, new = mk(old_schema, n_old), mk(new_schema, n_new)
    rows = {r["column"]: r for r in schema_drift_report(old, new).collect()}
    assert set(rows) == set(old_schema) | set(new_schema)
    for c, r in rows.items():
        in_old, in_new = c in old_schema, c in new_schema
        if in_old and in_new:
            want = (
                "type_changed"
                if old_schema[c] != new_schema[c]
                else "kept"
            )
        else:
            want = "added" if in_new else "removed"
        assert r["status"] == want, (c, r)
        assert (r["old_type"] is None) == (not in_old)
        assert (r["new_type"] is None) == (not in_new)
        assert (r["old_null_frac"] is None) == (not in_old or n_old == 0)
        assert (r["new_null_frac"] is None) == (not in_new or n_new == 0)
        for frac in (r["old_null_frac"], r["new_null_frac"]):
            if frac is not None:
                assert 0.0 <= frac <= 1.0, (c, frac)


@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.sampled_from(["a", "b"]), csv_field),
        min_size=1,
        max_size=12,
    ),
    st.lists(
        st.tuples(st.integers(0, 10**6), csv_field, st.sampled_from(["x", "y"])),
        min_size=1,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_evolving_load_conservation_and_widening_law(
    spark, tmp_path_factory, old_rows, new_rows
):
    """For ANY pair of drops under drifted schemas (old: id,type,value
    LONG; new: id,value DOUBLE,tag — value retyped, type removed, tag
    added): the evolving union loses nothing and invents nothing
    (n_clean + n_quarantined == total input lines), the clean side is
    exactly the per-drop-parseable rows, value is DOUBLE everywhere
    with old longs widened losslessly, and the absent-side columns are
    NULL exactly for the other drop's rows."""
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

    def parses_long(s: str) -> bool:
        try:
            int(s)
            return True
        except ValueError:
            return False

    def parses_double(s: str) -> bool:
        try:
            float(s)
            return True
        except ValueError:
            return False

    tmp = tmp_path_factory.mktemp("evolve_prop")
    (tmp / "old").mkdir(), (tmp / "new").mkdir()
    old_lines = [f"{i},{t},{v}" for (i, t, v) in old_rows]
    new_lines = [f"{i},{v},{g}" for (i, v, g) in new_rows]
    (tmp / "old" / "a.csv").write_text("\n".join(old_lines) + "\n")
    (tmp / "new" / "b.csv").write_text("\n".join(new_lines) + "\n")
    old_schema = StructType(
        [
            StructField("id", LongType(), True),
            StructField("type", StringType(), True),
            StructField("value", LongType(), True),
        ]
    )
    new_schema = StructType(
        [
            StructField("id", LongType(), True),
            StructField("value", DoubleType(), True),
            StructField("tag", StringType(), True),
        ]
    )
    clean, quar = load_csv_evolving(
        spark,
        [(str(tmp / "old"), old_schema), (str(tmp / "new"), new_schema)],
    )
    c_rows = clean.collect()
    n_quar = quar.count()
    release_split(clean, quar)
    assert dict(clean.dtypes)["value"] == "double"
    expect_old = sum(1 for (_, _, v) in old_rows if parses_long(v))
    expect_new = sum(1 for (_, v, _) in new_rows if parses_double(v))
    n_lines = len(old_lines) + len(new_lines)
    assert len(c_rows) + n_quar == n_lines
    by_drop = {0: [], 1: []}
    for r in c_rows:
        by_drop[r["_drop_id"]].append(r)
    assert len(by_drop[0]) == expect_old
    assert len(by_drop[1]) == expect_new
    for r in by_drop[0]:
        assert r["tag"] is None  # added column null on the old drop
        if r["value"] is not None:
            assert float(r["value"]).is_integer() or True  # widened long
    for r in by_drop[1]:
        assert r["type"] is None  # removed column null on the new drop


_NUMERIC_TYPES = ["tinyint", "smallint", "int", "bigint", "float", "double"]
_INTEGRAL_T = {"tinyint", "smallint", "int", "bigint"}


@given(
    a=st.sampled_from(_NUMERIC_TYPES),
    b=st.sampled_from(_NUMERIC_TYPES),
    c=st.sampled_from(_NUMERIC_TYPES),
)
@settings(max_examples=200, deadline=None)
def test_widen_type_lattice_laws(a, b, c):
    """widen_type is a join on the numeric lattice: commutative,
    associative, idempotent — the algebraic guarantee that the widened
    contract over N drops is independent of drop ORDER (evolved_schema
    folds pairwise, so without associativity two arrival orders could
    declare different contracts). Cross-kind pairs must land on double
    (never float: 24-bit mantissa vs 63-bit longs, r12 advice), and
    the result must never be NARROWER than either input."""
    from financial_market_data_analysis_spark.sources.files import widen_type

    rank = {t: i for i, t in enumerate(_NUMERIC_TYPES)}
    ab = widen_type(a, b)
    assert ab == widen_type(b, a)
    assert widen_type(a, a) == a
    assert widen_type(widen_type(a, b), c) == widen_type(a, widen_type(b, c))
    assert rank[ab] >= max(rank[a], rank[b])
    if (a in _INTEGRAL_T) != (b in _INTEGRAL_T):
        assert ab == "double"
    # absorbing element: double wins every pairing
    assert widen_type(a, "double") == "double"


# -- letterbox plan: geometry laws over a grid of source dims ---------


def test_letterbox_geometry_laws(spark, monkeypatch):
    """``resize_geometry``'s integer plan obeys the letterbox laws for
    every source dim on the grid and every target: output fits the
    target, at least one axis is tight, aspect is preserved to
    integer-div rounding, pads center, and the body plus its pad ring
    is exactly the canvas. Its SQL oracle shares the formula, so these
    laws are the independent check. Degenerate (zero-dim) sources get
    no plan row."""
    from financial_market_data_analysis_spark.operators import multimodal as MM

    dims = [0, 1, 2, 3, 7, 100, 223, 224, 225, 640, 1000, 2999, 3000]
    rows = [
        (i, "image", w, h)
        for i, (w, h) in enumerate((w, h) for w in dims for h in dims)
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, width int, height int"
    )
    for tw, th in [(224, 224), (8, 512), (512, 8), (300, 200)]:
        monkeypatch.setattr(MM, "RESIZE_W", tw)
        monkeypatch.setattr(MM, "RESIZE_H", th)
        out = MM.resize_geometry(media).collect()
        assert sorted(r.media_id for r in out) == [
            i for i, _, w, h in rows if w > 0 and h > 0
        ]
        for r in out:
            w, h = r.width, r.height
            # extreme aspect ratios can truncate the scaled axis to 0
            # (an all-pad canvas)
            assert 0 <= r.out_w <= tw and 0 <= r.out_h <= th
            assert r.out_w == tw or r.out_h == th  # one axis always tight
            # aspect preserved to integer-div rounding: out_w/out_h ≈ w/h
            assert abs(r.out_w * h - r.out_h * w) <= max(w, h)
            # centred: the pads on either side differ by at most one
            # pixel, and body + pads tile the canvas on each axis
            assert 0 <= (tw - r.out_w) - 2 * r.pad_x <= 1
            assert 0 <= (th - r.out_h) - 2 * r.pad_y <= 1
