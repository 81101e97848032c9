"""Unit tests for the ML featurizer and multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.ml import (
    sliding_window_vectors,
    train_target_classifier,
)
from financial_market_data_analysis_spark.operators.multimodal import (
    extract_features,
    fake_decode_features,
    media_from_documents,
)
from financial_market_data_analysis_spark.operators.windows import indicator_suite
from financial_market_data_analysis_spark.plans.candles import candles_from_events
from financial_market_data_analysis_spark.sources.batch import load_table

from conftest import SF_SMOKE


def test_sliding_window_vectors_shape(spark):
    c = candles_from_events(load_table(spark, "events", SF_SMOKE))
    out = sliding_window_vectors(
        c, ["close", "volume"], window=5, order_cols=["bucket_start"]
    )
    rows = out.select("window_features").limit(3).collect()
    assert all(len(r.window_features) == 10 for r in rows)  # 5 steps × 2 feats
    # full-window filter drops exactly window-1 warm-up rows
    assert out.count() == c.count() - 4


def test_sliding_window_time_major_order(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 6)], ["t", "v"]
    )
    out = sliding_window_vectors(df, ["v"], window=3, order_cols=["t"])
    got = {r.t: r.window_features for r in out.collect()}
    assert got[3] == [1.0, 2.0, 3.0]
    assert got[5] == [3.0, 4.0, 5.0]


def test_train_target_classifier_runs(spark):
    c = candles_from_events(load_table(spark, "events", SF_SMOKE))
    bars = indicator_suite(c, ["bucket_start"])
    feats = ["close", "volume", "price_MA20", "ATR", "stoch"]
    _, train, test, metrics = train_target_classifier(bars, feats)
    m = metrics.collect()[0]
    assert 0.0 <= m.accuracy <= 1.0
    assert m.n_test > 0
    # time split: every test bucket after every train bucket
    assert (
        train.agg(F.max("bucket_start")).collect()[0][0]
        <= test.agg(F.min("bucket_start")).collect()[0][0]
    )


def test_train_window_classifier_runs(spark):
    """ml5 — the biGRU-analog MLP over the flattened 5-bar window must
    train, score the held-out time slice, and respect the time split;
    its input width must equal window × n_features."""
    from financial_market_data_analysis_spark.ml import train_window_classifier

    c = candles_from_events(load_table(spark, "events", SF_SMOKE))
    bars = indicator_suite(c, ["bucket_start"])
    feats = ["close", "volume", "price_MA20", "ATR"]
    model, train, test, metrics = train_window_classifier(bars, feats)
    m = metrics.collect()[0]
    assert 0.0 <= m.accuracy <= 1.0 and m.n_test > 0
    assert (
        train.agg(F.max("bucket_start")).collect()[0][0]
        <= test.agg(F.min("bucket_start")).collect()[0][0]
    )
    mlp = model.stages[-1]
    assert mlp.getLayers()[0] == 5 * len(feats)
    # deterministic re-fit: same seed, same weights
    model2, _, _, _ = train_window_classifier(bars, feats)
    import numpy as np

    assert np.allclose(
        np.array(model.stages[-1].weights),
        np.array(model2.stages[-1].weights),
    )


def test_ml2_seeded_fit_accuracy_is_stable(spark):
    """ml2 is rows-only in the driver contract (an LR fit is not
    SQL-expressible), so a silent MLlib regression could hide behind
    "rows=1". Bound that blind spot (r6 verdict #3): on the frozen
    sf0.001 fixture the seeded fit is fully deterministic — two
    independent fits must produce the IDENTICAL ordered prediction
    vector, and the held-out accuracy must sit in a tight band around
    the recorded value (0.70745, 133/188 — re-derive with
    tools/verify_contract.py's fixture if the testdata ever changes).
    The band is wide enough for legitimate cross-version float drift
    yet far above the ~0.5 a broken scaler/assembler would score."""
    c = candles_from_events(load_table(spark, "events", SF_SMOKE))
    bars = indicator_suite(c, ["bucket_start"])
    feats = [
        "close", "volume", "vol_MA6", "vol_MA20", "price_MA20",
        "upper_BB_dist", "lower_BB_dist", "stoch", "price_change", "ATR",
    ]
    model_a, _, test_a, metrics_a = train_target_classifier(bars, feats)
    model_b, _, test_b, _ = train_target_classifier(bars, feats)
    pred_a = [
        r.prediction
        for r in model_a.transform(test_a)
        .select("bucket_start", "prediction").orderBy("bucket_start").collect()
    ]
    pred_b = [
        r.prediction
        for r in model_b.transform(test_b)
        .select("bucket_start", "prediction").orderBy("bucket_start").collect()
    ]
    assert pred_a == pred_b
    m = metrics_a.collect()[0]
    assert m.n_test == 188
    assert abs(m.accuracy - 0.70745) < 0.05, m.accuracy


def test_ml5_seeded_fit_accuracy_is_stable(spark):
    """Same blind-spot bound for ml5's windowed-MLP fit (r6 verdict
    #3): identical prediction vector across two seeded fits and
    accuracy pinned near the recorded 0.73262 (137/187) on the frozen
    sf0.001 fixture — default hyperparameters, i.e. exactly what
    q_ml_window_mlp runs."""
    from financial_market_data_analysis_spark.ml import train_window_classifier

    c = candles_from_events(load_table(spark, "events", SF_SMOKE))
    bars = indicator_suite(c, ["bucket_start"])
    feats = ["close", "volume", "vol_MA6", "price_MA20", "ATR"]
    model_a, _, test_a, metrics_a = train_window_classifier(bars, feats)
    model_b, _, test_b, _ = train_window_classifier(bars, feats)
    pred_a = [
        r.prediction
        for r in model_a.transform(test_a)
        .select("bucket_start", "prediction").orderBy("bucket_start").collect()
    ]
    pred_b = [
        r.prediction
        for r in model_b.transform(test_b)
        .select("bucket_start", "prediction").orderBy("bucket_start").collect()
    ]
    assert pred_a == pred_b
    m = metrics_a.collect()[0]
    assert m.n_test == 187
    assert abs(m.accuracy - 0.73262) < 0.05, m.accuracy


def test_mllib_scoring_matches_closed_form(spark):
    """MLlib's LogisticRegressionModel.transform must agree with the
    closed-form ``sigmoid(coef·x + intercept)`` computed from the
    fitted model's own coefficients — the semantics ml3's
    fixed-coefficient oracle checks cross-engine (training itself
    stays rows-only in ml2; this pins the SCORING half to MLlib)."""
    import numpy as np

    c = candles_from_events(load_table(spark, "events", SF_SMOKE))
    bars = indicator_suite(c, ["bucket_start"])
    feats = ["close", "volume", "price_MA20", "ATR", "stoch"]
    model, _, test, _ = train_target_classifier(bars, feats)
    pred = model.transform(test).select("features", "probability").limit(50).collect()
    lr = model.stages[-1]
    coef = np.array(lr.coefficients)
    b = lr.intercept
    for r in pred:
        p_mllib = float(r.probability[1])
        p_closed = 1.0 / (1.0 + np.exp(-(float(np.dot(coef, r.features)) + b)))
        assert abs(p_mllib - p_closed) < 1e-9


def test_fake_decode_deterministic():
    a = fake_decode_features(b"hello")
    b = fake_decode_features(b"hello")
    assert a == b and len(a) == 8
    assert all(0 <= v <= 32 for v in a)


def test_extract_features_batch_contract(spark):
    media = media_from_documents(load_table(spark, "documents", SF_SMOKE))
    out = extract_features(media)
    rows = out.limit(5).collect()
    assert all(len(r.features) == 8 for r in rows)
    assert out.count() == media.count()


def test_kmeans_lloyd_converges_to_cluster_means(spark, monkeypatch):
    """Two well-separated clusters with seeds one-per-cluster: after 2
    Lloyd iterations each centroid must equal its cluster's element-wise
    mean (rounded), with the right member counts; a seed that captures
    no vectors must drop out (cells can only shrink)."""
    from financial_market_data_analysis_spark.operators import similarity as S

    monkeypatch.setattr(S, "EMB_DIM", 4)
    a = [[1.0, 0.0, 0.0, 0.1], [1.0, 0.1, 0.0, 0.0], [0.9, 0.0, 0.1, 0.0]]
    b = [[0.0, 1.0, 0.2, 0.0], [0.0, 0.9, 0.0, 0.1]]
    rows = [(i, v) for i, v in enumerate(a + b)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # seeds: one in each cluster, plus an orthogonal decoy that wins no
    # vectors — it must DROP OUT, not survive as a NaN centroid
    seeds = spark.createDataFrame(
        [(0, a[0]), (3, b[0]), (9, [0.0, 0.0, 0.0, -1.0])],
        "centroid_id long, embedding array<float>",
    )
    got = {
        r.centroid_id: (r.n_assigned, [round(x, 6) for x in r.embedding])
        for r in S.kmeans_lloyd(corpus, seeds).collect()
    }
    assert set(got) == {0, 3}  # the member-less seed 9 dropped out
    assert got[0][0] == 3 and got[3][0] == 2
    mean_a = [round(sum(v[j] for v in a) / 3, 6) for j in range(4)]
    mean_b = [round(sum(v[j] for v in b) / 2, 6) for j in range(4)]
    assert got[0][1] == pytest.approx(mean_a, abs=2e-6)
    assert got[3][1] == pytest.approx(mean_b, abs=2e-6)


def test_gaussian_bucket_dim_guard(spark):
    """A vector whose length differs from the plane dim must raise, not
    silently land in the all-zeros bucket (r2 advice)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from financial_market_data_analysis_spark.operators.similarity import (
        hyperplane_bucket_gaussian,
    )

    bad = spark.createDataFrame([([1.0, 2.0, 3.0],)], ["embedding"])
    with pytest.raises(SparkRuntimeException, match="embedding dim"):
        bad.select(hyperplane_bucket_gaussian("embedding", dim=64)).collect()


def test_gaussian_plane_dot_margin(spark):
    """Engine/oracle bucket parity relies on identical IEEE sums; a
    plane dot within a few ULPs of 0 could flip its sign bit under a
    different summation order. Assert the fixture data keeps a real
    margin from 0 so a future parity break is diagnosable (r2 advice)."""
    from financial_market_data_analysis_spark.operators.similarity import (
        dot_expr,
        gaussian_planes,
    )

    emb = load_table(spark, "embeddings", SF_SMOKE)
    planes = gaussian_planes(8, 64, seed=7)
    dots = [
        F.abs(dot_expr("embedding", F.array(*[F.lit(float(v)) for v in p])))
        for p in planes
    ]
    min_abs = emb.select(F.least(*dots).alias("m")).agg(F.min("m")).collect()[0][0]
    assert min_abs > 1e-9, f"plane dot too close to 0: {min_abs}"


def test_audio_frames_grid(spark):
    from financial_market_data_analysis_spark.operators.multimodal import audio_frames

    media = spark.createDataFrame(
        [(1, "audio", 100), (2, "audio", 24), (3, "video", 500)],
        "media_id long, kind string, duration_ms int",
    )
    rows = audio_frames(media).collect()
    # 100ms clip at 25/10 → 8 frames starting 0..70; sub-frame clip and
    # non-audio rows yield nothing
    assert {r.media_id for r in rows} == {1}
    assert [(r.frame_idx, r.start_ms) for r in sorted(rows, key=lambda r: r.frame_idx)] == [
        (i, i * 10) for i in range(8)
    ]


def test_resize_geometry_letterbox(spark):
    from financial_market_data_analysis_spark.operators.multimodal import (
        resize_geometry,
    )

    media = spark.createDataFrame(
        [(1, "image", 640, 480), (2, "image", 100, 400), (3, "image", 0, 10)],
        "media_id long, kind string, width int, height int",
    )
    out = {r.media_id: r for r in resize_geometry(media).collect()}
    assert 3 not in out  # degenerate dims filtered
    assert (out[1].out_w, out[1].out_h, out[1].pad_x, out[1].pad_y) == (224, 168, 0, 28)
    assert (out[2].out_w, out[2].out_h, out[2].pad_x, out[2].pad_y) == (56, 224, 84, 0)


def test_model_save_load_round_trip(spark, tmp_path):
    """The fitted pipeline must survive save → load with identical
    predictions — the deployability contract between the training job
    and the streaming-inference hook (which would load the model from
    shared storage on a real cluster)."""
    from pyspark.ml import PipelineModel

    c = candles_from_events(load_table(spark, "events", SF_SMOKE))
    bars = indicator_suite(c, ["bucket_start"])
    feats = ["close", "volume", "price_MA20", "ATR", "stoch"]
    model, _, test, _ = train_target_classifier(bars, feats)
    path = str(tmp_path / "model")
    model.write().overwrite().save(path)
    loaded = PipelineModel.load(path)
    orig = model.transform(test).select("bucket_start", "prediction")
    redo = loaded.transform(test).select("bucket_start", "prediction")
    assert orig.exceptAll(redo).count() == 0
    assert orig.count() == redo.count() > 0


def test_frame_fingerprint_pairs_finds_shared_segments(spark, monkeypatch):
    """x59 core: two payloads sharing a long byte run pair up; the
    overlap ratio is shared/min and a disjoint payload pairs with
    nothing."""
    from financial_market_data_analysis_spark.plans import extensions as X
    from financial_market_data_analysis_spark.plans.extensions import (
        frame_fingerprint_pairs,
    )

    monkeypatch.setattr(X, "X59_MIN_SHARED", 2)

    shared = b"A" * 31 + bytes(range(64)) + b"B" * 31
    rows = [
        (1, shared),
        (2, shared + b"tail-only-in-two" * 4),
        (3, bytes(range(128, 254)) * 2),  # disjoint content
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {
        (r.media_a, r.media_b): (r.n_shared, r.overlap_ratio)
        for r in frame_fingerprint_pairs(media).collect()
    }
    assert (1, 2) in out
    n_shared, ratio = out[(1, 2)]
    assert n_shared >= 2
    # asset 1 is the smaller side and is a strict prefix of asset 2,
    # so every one of its windows is shared
    assert ratio == 1.0
    assert not any(3 in pair for pair in out)


def test_frame_fingerprint_hot_frame_guard(spark, monkeypatch):
    """The hot-frame guard is the quadratic-blowup bound: a segment
    present in MORE than X59_HOT_FRAME_CAP assets must mint no pairs
    (with the cap raised, the same data pairs every asset against every
    other — the explosion the guard exists to stop)."""
    from financial_market_data_analysis_spark.plans import extensions as X
    from financial_market_data_analysis_spark.plans.extensions import (
        frame_fingerprint_pairs,
    )

    ubiquitous = b"\x00" * 64  # same leading segment in every asset
    rows = [
        (i, ubiquitous + f"unique-tail-{i:04d}-".encode() * 3)
        for i in range(12)
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    monkeypatch.setattr(X, "X59_MIN_SHARED", 1)
    monkeypatch.setattr(X, "X59_HOT_FRAME_CAP", 10)
    assert frame_fingerprint_pairs(media).count() == 0
    monkeypatch.setattr(X, "X59_HOT_FRAME_CAP", 1000)
    assert frame_fingerprint_pairs(media).count() == 12 * 11 // 2


def test_x59_oracle_ascii_assumption(spark):
    """frame_dedup_oracle windows VARCHAR text by CHARACTERS while the
    engine windows the binary payload by BYTES (DuckDB has no blob
    substr, so a byte-based oracle is inexpressible — r7 advice).
    Parity is sound only while the fixture text is pure ASCII; fail
    LOUDLY here the moment a fixture change breaks that, instead of
    letting x59 silently diverge at the driver gate."""
    from pyspark.sql import functions as F

    from conftest import SF_SMOKE
    from financial_market_data_analysis_spark.plans.extensions import (
        docs_augmented,
    )

    aug = docs_augmented(spark, SF_SMOKE)
    non_ascii = aug.filter(
        F.octet_length("text") != F.length("text")
    ).count()
    assert non_ascii == 0, (
        f"{non_ascii} non-ASCII docs: the x59 char-based DuckDB oracle "
        "no longer matches the byte-based engine; regenerate or filter"
    )


def test_pq_codes_are_argmin_assignments(spark):
    """x70 kernel on a hand-built case: with centroids at known
    positions, every subvector must be coded as its true nearest
    centroid (L2, ties to the lowest id), and the ADC distance of a
    vector exactly equal to a centroid in every subspace is 0."""
    from pyspark.sql import functions as F

    from financial_market_data_analysis_spark.plans.extensions import (
        CENTROID_MOD,
        q_pq_adc_recall,  # noqa: F401  (import proves wiring)
    )

    # two centroid rows (vec_id 0 and CENTROID_MOD are % CENTROID_MOD == 0)
    c0 = [0.0] * 64
    c1 = [1.0] * 64
    near_c1 = [0.9] * 64
    rows = [(0, c0, 0), (CENTROID_MOD, c1, 0), (7, near_c1, 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    # reproduce the code-assignment fragment: slice into 8 subvectors,
    # nearest centroid per slice
    from financial_market_data_analysis_spark.plans.extensions import (
        PQ_M,
        PQ_SUBDIM,
    )

    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sub = F.explode(
        F.array(*[
            F.struct(F.lit(m).alias("m"),
                     F.slice(emb, m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"))
            for m in range(PQ_M)
        ])
    ).alias("s")
    corpus = df.select("vec_id", sub).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv")
    )
    cents = df.filter(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("cid"), sub
    ).select("cid", F.col("s.m").alias("m"), F.col("s.sv").alias("csv"))

    def l2(a, b):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, v: acc + v,
        )

    from pyspark.sql import Window

    w = Window.partitionBy("vec_id", "m").orderBy("d", "cid")
    codes = (
        corpus.join(F.broadcast(cents), "m")
        .withColumn("d", l2("sv", "csv"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "m", "cid")
        .collect()
    )
    by_vec = {}
    for r in codes:
        by_vec.setdefault(r.vec_id, set()).add(r.cid)
    assert by_vec[0] == {0}                      # centroid codes itself
    assert by_vec[CENTROID_MOD] == {CENTROID_MOD}
    assert by_vec[7] == {CENTROID_MOD}           # 0.9 is nearer to 1.0
