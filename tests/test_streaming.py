"""Streaming semantics tests (SURVEY.md §5.3): JSON decode, stream/batch
parity of the interval join, watermark late-data behavior, dedup, and
the foreachBatch incremental-materialization sink."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.functions.schemas import FEED_SCHEMAS
from financial_market_data_analysis_spark.sources.batch import load_table
from financial_market_data_analysis_spark.sources.kafka import json_decode_flatten
from financial_market_data_analysis_spark.streaming import pipeline as P

from conftest import SF_SMOKE


def _sample_payload(feed: str) -> dict:
    ts = "2020-01-06 09:30:00"
    if feed == "vix":
        return {"ts": ts, "vix": 13.5}
    if feed == "volume":
        return {"ts": ts, "open": 1.0, "high": 2.0, "low": 0.5, "close": 1.5, "volume": 100}
    if feed == "cot":
        return {
            "ts": ts,
            "asset": {"asset_long_pos": 1, "asset_short_pos": 2,
                      "asset_long_pos_change": 0.1, "asset_short_pos_change": 0.2,
                      "asset_long_open_int": 0.3, "asset_short_open_int": 0.4},
            "leveraged": {"leveraged_long_pos": 5, "leveraged_short_pos": 6,
                          "leveraged_long_pos_change": 0.5, "leveraged_short_pos_change": 0.6,
                          "leveraged_long_open_int": 0.7, "leveraged_short_open_int": 0.8},
        }
    if feed == "ind":
        return {
            "ts": ts,
            "nonfarm_payrolls": {"nonfarm_payrolls_actual": 150.0,
                                 "nonfarm_payrolls_prev_actual_diff": -5.0,
                                 "nonfarm_payrolls_forc_actual_diff": 0.0},
            "core_cpi": {"core_cpi_actual": 0.2, "core_cpi_prev_actual_diff": 0.0,
                         "core_cpi_forc_actual_diff": 0.1},
            "unemployment_rate": {"unemployment_rate_actual": 3.6,
                                  "unemployment_rate_prev_actual_diff": 0.1,
                                  "unemployment_rate_forc_actual_diff": 0.0},
        }
    if feed == "deep":
        d: dict = {"ts": ts}
        for i in range(7):
            d[f"bids_{i}"] = {f"bid_{i}": 100.0 - i, f"bid_{i}_size": 10 + i}
            d[f"asks_{i}"] = {f"ask_{i}": 100.0 + i, f"ask_{i}_size": 20 + i}
        return d
    raise ValueError(feed)


@pytest.mark.parametrize("feed", sorted(FEED_SCHEMAS))
def test_json_decode_flatten(spark, feed):
    schema = FEED_SCHEMAS[feed]()
    raw = spark.createDataFrame(
        [(json.dumps(_sample_payload(feed)),)], ["value"]
    )
    out = json_decode_flatten(raw, schema)
    row = out.collect()[0]
    # flattened: no struct columns remain; ts is a real timestamp
    assert all("." not in c for c in out.columns)
    assert out.schema["ts"].dataType.typeName() == "timestamp"
    assert row["ts"] is not None
    if feed == "deep":
        assert row["bid_0"] == 100.0 and row["ask_6_size"] == 26
    if feed == "cot":
        assert row["leveraged_short_open_int"] == pytest.approx(0.8)


def _two_feeds(spark):
    ev = load_table(spark, "events", SF_SMOKE)
    deep = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("deep_id"), F.col("ts").alias("deep_ts"),
        F.col("value").alias("deep_val"),
    )
    quote = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"),
        F.col("value").alias("view_val"),
    )
    return deep, quote


def test_stream_batch_parity_interval_join(spark, tmp_path):
    """The same asof_band_join, run (a) batch and (b) as a stream-stream
    join over a file stream, must produce identical pairs."""
    from financial_market_data_analysis_spark.operators.joins import asof_band_join

    deep, quote = _two_feeds(spark)
    batch = asof_band_join(deep, quote, "deep_ts", "view_ts", ts_unit="ts").select(
        "deep_id", "view_id"
    )
    expected = {(r.deep_id, r.view_id) for r in batch.collect()}

    deep_dir, quote_dir = str(tmp_path / "deep"), str(tmp_path / "quote")
    deep.write.parquet(deep_dir)
    quote.write.parquet(quote_dir)

    s_deep = P.watermarked(
        spark.readStream.schema(deep.schema).parquet(deep_dir), "deep_ts"
    )
    s_quote = P.watermarked(
        spark.readStream.schema(quote.schema).parquet(quote_dir), "view_ts"
    )
    joined = asof_band_join(s_deep, s_quote, "deep_ts", "view_ts", ts_unit="ts").select(
        "deep_id", "view_id"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("parity_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.deep_id, r.view_id)
        for r in spark.sql("SELECT * FROM parity_join").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """T5 — a row arriving >5 min behind the advanced watermark must not
    re-open its already-finalized window (append-mode agg)."""
    src = str(tmp_path / "wm_src")
    os.makedirs(src)
    df1 = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1.0), ("2024-01-01 10:20:00", 2.0)], ["ts_s", "v"]
    ).select(F.to_timestamp("ts_s").alias("ts"), "v")
    df1.write.mode("append").parquet(src)

    agg = (
        P.watermarked(spark.readStream.schema(df1.schema).parquet(src), "ts")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory").queryName("wm_agg")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        # late row for the long-closed 10:00 window
        spark.createDataFrame([("2024-01-01 10:01:00", 99.0)], ["ts_s", "v"]).select(
            F.to_timestamp("ts_s").alias("ts"), "v"
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
        # flush: a fresh event advances the watermark past both windows
        spark.createDataFrame([("2024-01-01 11:00:00", 3.0)], ["ts_s", "v"]).select(
            F.to_timestamp("ts_s").alias("ts"), "v"
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["w"].start.strftime("%H:%M"): r["n"] for r in spark.sql("SELECT * FROM wm_agg").collect()}
    # the 10:00 window must have count 1 — the late 10:01 row was dropped
    assert rows.get("10:00") == 1


def test_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "dd_src")
    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1), ("2024-01-01 10:00:00", 1), ("2024-01-01 10:02:00", 2)],
        ["ts_s", "k"],
    ).select(F.to_timestamp("ts_s").alias("ts"), "k")
    df.write.parquet(src)
    stream = P.watermarked(spark.readStream.schema(df.schema).parquet(src), "ts")
    out = P.dedup_within_watermark(stream, ["k"])
    q = (
        out.writeStream.format("memory").queryName("dd_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    assert spark.sql("SELECT count(*) AS c FROM dd_out").collect()[0]["c"] == 2


def test_parquet_append_sink_with_indicator_hook(spark, tmp_path):
    """K1 + T9: micro-batches append to the warehouse; the post-batch
    hook materializes the W1-W8 indicator tail."""
    deep, _ = _two_feeds(spark)
    bars = deep.select(
        "deep_ts",
        F.col("deep_val").alias("close"),
        (F.col("deep_val") + 1).alias("high"),
        (F.col("deep_val") - 1).alias("low"),
        F.lit(100).alias("volume"),
    )
    src = str(tmp_path / "bars_src")
    bars.write.parquet(src)
    wh = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    stream = spark.readStream.schema(bars.schema).parquet(src)
    sink = P.parquet_append_sink(
        stream, wh, ckpt, post_batch=P.incremental_indicators(wh)
    )
    q = sink.trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert spark.read.parquet(wh).count() == bars.count()
    ind = spark.read.parquet(wh + "_indicators")
    assert "ATR" in ind.columns and "upper_BB_dist" in ind.columns
    assert ind.count() > 0


def test_incremental_indicators_partition_pruned_and_frame_correct(spark, tmp_path):
    """T9 at scale: the warehouse is partitioned by a date bucket, the
    hook reads ONLY tail partitions (bounded inputFiles), and the
    indicator snapshot equals a full-warehouse batch recompute on every
    snapshot row (the r2 edge defect), with the LEAD-incomplete tail
    rows explicitly flagged."""
    from financial_market_data_analysis_spark.operators.windows import indicator_suite

    deep, _ = _two_feeds(spark)
    bars = deep.select(
        "deep_ts",
        F.col("deep_val").alias("close"),
        (F.col("deep_val") + 1).alias("high"),
        (F.col("deep_val") - 1).alias("low"),
        F.lit(100).alias("volume"),
        F.datediff(F.col("deep_ts"), F.lit("1970-01-01").cast("date")).alias(
            "date_bucket"
        ),
    )
    src = str(tmp_path / "bars_src")
    bars.write.parquet(src)
    wh = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    tail_rows = 20
    stream = spark.readStream.schema(bars.schema).parquet(src)
    sink = P.parquet_append_sink(
        stream, wh, ckpt,
        post_batch=P.incremental_indicators(
            wh, tail_rows=tail_rows, order_col="deep_ts",
            partition_col="date_bucket",
        ),
        partition_by=["date_bucket"],
    )
    q = sink.trigger(availableNow=True).start()
    q.awaitTermination(120)

    # partition layout + pruning: the tail read touches a strict subset
    # of the warehouse files (partition pruning on date_bucket)
    all_files = spark.read.parquet(wh).inputFiles()
    newest = spark.read.parquet(wh).agg(F.max("date_bucket")).first()[0]
    pruned = spark.read.parquet(wh).filter(
        F.col("date_bucket") >= newest - 9
    )
    # input_file_name() over the executed rows = files actually read
    # after partition pruning (inputFiles() ignores pushed filters)
    read_files = {
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert len(read_files) < len(all_files)
    assert all("date_bucket=" in f for f in read_files)

    # frame correctness: snapshot == full-warehouse recompute, row for row
    snap = spark.read.parquet(wh + "_indicators")
    assert snap.count() == tail_rows
    full = indicator_suite(spark.read.parquet(wh), ["deep_ts"])
    ind_cols = ["vol_MA6", "vol_MA20", "price_MA20", "upper_BB_dist",
                "lower_BB_dist", "stoch", "price_change", "ATR",
                "up1", "down1", "up2", "down2"]
    joined = snap.alias("s").join(full.alias("f"), "deep_ts").select(
        *[F.col(f"s.{c}").alias(f"s_{c}") for c in ind_cols],
        *[F.col(f"f.{c}").alias(f"f_{c}") for c in ind_cols],
    ).collect()
    assert len(joined) == tail_rows
    for r in joined:
        for c in ind_cols:
            s, f = r[f"s_{c}"], r[f"f_{c}"]
            if s is None or f is None:
                assert s == f, c
            else:
                assert abs(s - f) < 1e-9, (c, s, f)

    # the last MAX_LEAD rows are flagged not-final
    flags = spark.read.parquet(wh + "_indicators").select(
        "deep_ts", "targets_complete"
    ).orderBy("deep_ts").collect()
    assert [r.targets_complete for r in flags[-P.MAX_LEAD:]] == [False] * P.MAX_LEAD
    assert all(r.targets_complete for r in flags[:-P.MAX_LEAD])


def test_streaming_inference_predictions(spark, tmp_path):
    """The predict.py analog end to end: train an MLlib pipeline on a
    batch warehouse, then stream fresh bars through the sink with the
    indicator hook + prediction hook chained, and assert prediction
    rows appear for the fresh keys."""
    from financial_market_data_analysis_spark.ml import train_target_classifier
    from financial_market_data_analysis_spark.operators.windows import indicator_suite

    deep, _ = _two_feeds(spark)
    bars = deep.select(
        "deep_ts",
        F.col("deep_val").alias("close"),
        (F.col("deep_val") + 1).alias("high"),
        (F.col("deep_val") - 1).alias("low"),
        F.lit(100).alias("volume"),
    )
    feature_cols = ["close", "volume", "vol_MA6", "vol_MA20", "price_MA20",
                    "upper_BB_dist", "lower_BB_dist", "ATR"]

    # train on the batch half (the reference trains offline, predict.py
    # serves online — same split here)
    hist = indicator_suite(bars, ["deep_ts"]).withColumn(
        "bucket_start", F.unix_timestamp("deep_ts")
    )
    model, _, _, _ = train_target_classifier(hist, feature_cols)

    src = str(tmp_path / "bars_src")
    bars.write.parquet(src)
    wh = str(tmp_path / "warehouse")
    pred = str(tmp_path / "predictions")

    stream = spark.readStream.schema(bars.schema).parquet(src)
    sink = P.parquet_append_sink(
        stream, wh, str(tmp_path / "ckpt"),
        post_batch=P.compose_hooks(
            P.incremental_indicators(wh, tail_rows=30, order_col="deep_ts"),
            P.streaming_predictions(
                model, wh + "_indicators", pred,
                order_col="deep_ts", feature_cols=feature_cols,
            ),
        ),
    )
    q = sink.trigger(availableNow=True).start()
    q.awaitTermination(120)

    out = spark.read.parquet(pred)
    assert out.count() > 0
    assert set(out.columns) >= {"deep_ts", "prediction", "epoch_id"}
    assert out.filter(~F.col("prediction").isin(0.0, 1.0)).count() == 0
    # every predicted key is a real warehouse bar
    wh_keys = spark.read.parquet(wh).select("deep_ts")
    assert out.join(wh_keys, "deep_ts", "left_anti").count() == 0


def test_streaming_predictions_drop_stale(spark, tmp_path):
    """P5 serve-side staleness policy (predict.py:135-137): a trigger
    row older than the staleness bound must NOT be scored — it is
    dropped before the model runs, a fresh row in the same batch still
    produces a prediction."""
    from financial_market_data_analysis_spark.ml import train_target_classifier
    from financial_market_data_analysis_spark.operators.windows import indicator_suite

    deep, _ = _two_feeds(spark)
    bars = deep.select(
        "deep_ts",
        F.col("deep_val").alias("close"),
        (F.col("deep_val") + 1).alias("high"),
        (F.col("deep_val") - 1).alias("low"),
        F.lit(100).alias("volume"),
    )
    feature_cols = ["close", "volume", "vol_MA6", "vol_MA20", "price_MA20",
                    "upper_BB_dist", "lower_BB_dist", "ATR"]
    hist = indicator_suite(bars, ["deep_ts"]).withColumn(
        "bucket_start", F.unix_timestamp("deep_ts")
    )
    model, _, _, _ = train_target_classifier(hist, feature_cols)

    ind_path = str(tmp_path / "indicators")
    indicator_suite(bars, ["deep_ts"]).write.parquet(ind_path)
    pred = str(tmp_path / "predictions")

    # pin the serving clock to the newest bar; allow half the span —
    # the older half of the batch is stale by construction
    lo, hi = bars.agg(
        F.min("deep_ts"), F.max("deep_ts")
    ).first()
    staleness = (hi - lo).total_seconds() / 2
    assert staleness > 0
    hook = P.streaming_predictions(
        model, ind_path, pred,
        order_col="deep_ts", feature_cols=feature_cols,
        max_staleness_seconds=staleness, now_ts=hi,
    )
    hook(bars, 0)

    out = spark.read.parquet(pred)
    cutoff = hi - __import__("datetime").timedelta(seconds=staleness)
    n_stale = bars.filter(F.col("deep_ts") < F.lit(cutoff)).count()
    assert n_stale > 0  # the scenario is real: stale triggers existed
    # no stale key was scored; at least one fresh key was
    assert out.filter(F.col("deep_ts") < F.lit(cutoff)).count() == 0
    assert out.filter(F.col("deep_ts") >= F.lit(cutoff)).count() > 0


def test_left_outer_stream_join_null_padding(spark, tmp_path):
    """J4 — the reference's designed-but-disabled left-outer
    stream-stream join (spark_consumer.py:144-149): an unmatched left
    row must be emitted null-padded once the watermark passes its
    band, not silently dropped."""
    from financial_market_data_analysis_spark.operators.joins import asof_band_join

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")

    def _write(path, rows, col):
        spark.createDataFrame(rows, ["ts_s", col]).select(
            F.to_timestamp("ts_s").alias(f"{col}_ts"), col
        ).write.mode("append").parquet(path)

    _write(ldir, [("2024-01-01 10:00:00", 1.0), ("2024-01-01 10:02:00", 2.0)], "lval")
    _write(rdir, [("2024-01-01 10:01:00", 10.0)], "rval")

    lschema = spark.read.parquet(ldir).schema
    rschema = spark.read.parquet(rdir).schema
    sl = P.watermarked(spark.readStream.schema(lschema).parquet(ldir), "lval_ts")
    sr = P.watermarked(spark.readStream.schema(rschema).parquet(rdir), "rval_ts")
    joined = asof_band_join(
        sl, sr, "lval_ts", "rval_ts", ts_unit="ts", how="left_outer"
    ).select("lval_ts", "lval", "rval")
    q = (
        joined.writeStream.format("memory").queryName("oj")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark far past 10:02 + band on BOTH sides
        _write(ldir, [("2024-01-01 10:30:00", 3.0)], "lval")
        _write(rdir, [("2024-01-01 10:30:00", 30.0)], "rval")
        q.processAllAvailable()
        _write(ldir, [("2024-01-01 11:00:00", 4.0)], "lval")
        _write(rdir, [("2024-01-01 11:00:00", 40.0)], "rval")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r.lval, r.rval) for r in spark.sql("SELECT * FROM oj").collect()
    }
    assert (1.0, 10.0) in rows          # matched within band
    assert (2.0, None) in rows          # expired unmatched -> null-padded


def test_parquet_sink_restart_no_duplicates(spark, tmp_path):
    """T7 — kill-and-restart: the checkpointed parquet sink must resume
    exactly where it stopped — already-committed files are not
    re-appended, new files are picked up (the exactly-once story the
    reference's at-least-once JDBC append lacks)."""
    deep, _ = _two_feeds(spark)
    bars = deep.select("deep_ts", F.col("deep_val").alias("close")).limit(50)
    src = str(tmp_path / "src")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    schema = bars.schema

    first = bars.limit(30)
    first.write.mode("append").parquet(src)

    def _run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = P.parquet_append_sink(stream, wh, ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)

    _run()
    n1 = spark.read.parquet(wh).count()
    assert n1 == 30

    # "kill" (query already terminated), add data, restart on same ckpt
    bars.subtract(first).write.mode("append").parquet(src)
    _run()
    n2 = spark.read.parquet(wh).count()
    assert n2 == 50
    assert spark.read.parquet(wh).select("deep_ts").distinct().count() == 50

    # restart with nothing new: no re-processing, no duplicates
    _run()
    assert spark.read.parquet(wh).count() == 50


def test_retried_epoch_writes_no_duplicate_bars(spark, tmp_path):
    """T7 — the failure mode the plain append cannot survive: an epoch
    that partially writes, then is RETRIED by the engine (foreachBatch
    is at-least-once). The epoch-idempotent writer must leave exactly
    one copy of the epoch's bars — the retry replaces the partial
    partition instead of appending next to it."""
    deep, _ = _two_feeds(spark)
    # materialize a deterministic 20-row slice first: limit() without an
    # order is not stable across re-evaluations on a multi-partition
    # source, and the epoch slices below re-evaluate their parent
    bars = (
        deep.select("deep_ts", F.col("deep_val").alias("close"))
        .orderBy("deep_ts").limit(20).localCheckpoint(eager=True)
    )
    wh = str(tmp_path / "wh")
    write = P.epoch_idempotent_writer(wh)

    # epoch 0 commits, epoch 1 first attempt writes only HALF its rows
    # (simulated mid-epoch crash), then the engine retries epoch 1 whole
    e0 = bars.orderBy("deep_ts").limit(8).localCheckpoint(eager=True)
    e1 = bars.subtract(e0).localCheckpoint(eager=True)
    write(e0, 0)
    write(e1.orderBy("deep_ts").limit(4), 1)  # partial attempt
    write(e1, 1)               # retry of the same epoch
    out = spark.read.parquet(wh)
    assert out.count() == 20   # 8 + 12, zero duplicates
    assert out.select("deep_ts").distinct().count() == 20
    assert out.filter(F.col("epoch_id") == 1).count() == 12
    # a THIRD delivery of a committed epoch is also harmless
    write(e1, 1)
    assert spark.read.parquet(wh).count() == 20


def _jobs_in_group(spark, group: str, action) -> int:
    """Number of Spark jobs ``action()`` submits under job group
    ``group`` (cleared again afterwards)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_epoch_writer_submits_only_the_write_jobs(spark, tmp_path):
    """One evaluation per warehouse write: the epoch writer submits
    exactly the jobs of a bare ``df.write`` of the same frame — no
    emptiness probe re-running the frame's scan and aggregate shuffle
    ahead of the write."""
    import uuid

    df = spark.range(0, 2000, numPartitions=4).groupBy(
        (F.col("id") % 7).alias("k")
    ).agg(F.sum("id").alias("s"))
    tag = uuid.uuid4().hex
    bare = _jobs_in_group(
        spark,
        f"bare_{tag}",
        lambda: df.write.mode("overwrite").parquet(str(tmp_path / "bare")),
    )
    write = P.epoch_idempotent_writer(str(tmp_path / "wh"))
    ours = _jobs_in_group(spark, f"epoch_{tag}", lambda: write(df, 0))
    assert bare >= 1
    assert ours == bare, (ours, bare)


def _epoch_dirs(path: str) -> list[str]:
    return sorted(d for d in os.listdir(path) if d.startswith("epoch_id="))


def test_empty_epoch_leaves_the_warehouse_unchanged(spark, tmp_path):
    """An empty epoch is a dynamic overwrite of zero partitions: into
    an existing warehouse (a new epoch or a replay of a committed one)
    it changes no row and no ``epoch_id=`` dir; into a fresh path it
    creates no ``epoch_id=`` dir."""
    bars = spark.range(12).select(
        F.col("id").alias("bar"), (F.col("id") * 0.5).alias("close")
    )
    wh = str(tmp_path / "wh")
    write = P.epoch_idempotent_writer(wh)
    write(bars.filter(F.col("bar") < 5), 0)
    write(bars.filter(F.col("bar") >= 5), 1)
    before = sorted(spark.read.parquet(wh).collect())
    dirs = _epoch_dirs(wh)
    assert dirs == ["epoch_id=0", "epoch_id=1"]

    empty = bars.filter(F.lit(False))
    write(empty, 2)  # a new, empty epoch
    write(empty, 1)  # an empty replay of a committed epoch
    assert sorted(spark.read.parquet(wh).collect()) == before
    assert _epoch_dirs(wh) == dirs

    fresh = str(tmp_path / "fresh")
    P.epoch_idempotent_writer(fresh)(empty, 0)
    assert not os.path.isdir(fresh) or _epoch_dirs(fresh) == []


def test_clean_quarantining_batch_writes_drift_but_no_quarantine_epoch(
    spark, tmp_path
):
    """A micro-batch with no malformed row still writes its drift
    accounting rows, while its empty quarantine write creates no
    ``epoch_id=`` dir."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from financial_market_data_analysis_spark.sources.files import (
        CORRUPT_COL,
        _with_corrupt_field,
    )

    schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    src = tmp_path / "drops"
    src.mkdir()
    (src / "a.csv").write_text("1,click,0.5\n2,view,1.5\n3,click,2.5\n")
    quar_dir = str(tmp_path / "quar")
    drift_dir = str(tmp_path / "drift")
    stream = (
        spark.readStream.schema(_with_corrupt_field(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(str(src))
    )
    q = P.quarantining_ingest_sink(
        stream,
        str(tmp_path / "clean"),
        quar_dir,
        str(tmp_path / "ckpt"),
        drift_dir=drift_dir,
    ).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()

    assert spark.read.parquet(str(tmp_path / "clean")).count() == 3
    drift = spark.read.parquet(drift_dir).collect()
    assert sorted(r["column"] for r in drift) == sorted(schema.fieldNames())
    assert all(
        r["quarantine_frac"] == 0.0 and not r["drifted"] for r in drift
    ), drift
    assert not os.path.isdir(quar_dir) or _epoch_dirs(quar_dir) == []


def test_sliding_window_agg_streaming_parity(spark, tmp_path):
    """T3 — the sliding-window aggregate run as an ACTUAL streaming
    query (watermark upstream, append mode): every finalized window the
    stream emits must equal the batch computation of the same operator
    on the same data."""
    from financial_market_data_analysis_spark.operators.windows import (
        sliding_window_agg,
    )

    ev = load_table(spark, "events", SF_SMOKE).select("ts", "value")
    cut = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    src = str(tmp_path / "sw_src")
    # two time-ordered files so the second batch's watermark finalizes
    # the first batch's windows
    ev.filter(F.col("ts") <= cut).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = sliding_window_agg(P.watermarked(stream, "ts"), "ts", "value",
                             "600 seconds", "300 seconds")
    q = (
        agg.writeStream.format("memory").queryName("sw_agg")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    emitted = spark.sql("SELECT * FROM sw_agg").collect()
    assert len(emitted) > 0
    batch = {
        r.window_start: (r.avg_value, r.n)
        for r in sliding_window_agg(ev, "ts", "value",
                                    "600 seconds", "300 seconds").collect()
    }
    for r in emitted:
        b_avg, b_n = batch[r.window_start]
        assert r.n == b_n, (r.window_start, r.n, b_n)
        assert abs(r.avg_value - b_avg) < 1e-9


def test_session_windows_streaming_parity(spark, tmp_path):
    """T4 — session_windows under a watermark: every finalized session
    the stream emits must equal the batch computation."""
    from financial_market_data_analysis_spark.operators.windows import (
        session_windows,
    )

    ev = load_table(spark, "events", SF_SMOKE).select("user_id", "ts", "value")
    cut = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    src = str(tmp_path / "sess_src")
    ev.filter(F.col("ts") <= cut).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = session_windows(P.watermarked(stream, "ts"), "ts", ("user_id",))
    q = (
        agg.writeStream.format("memory").queryName("sess_agg")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    emitted = spark.sql("SELECT * FROM sess_agg").collect()
    assert len(emitted) > 0
    batch = {
        (r.user_id, r.session_start): (r.session_last, r.n_events, r.sum_value)
        for r in session_windows(ev, "ts", ("user_id",)).collect()
    }
    for r in emitted:
        last, n, s = batch[(r.user_id, r.session_start)]
        assert (r.session_last, r.n_events) == (last, n)
        assert abs(r.sum_value - s) < 1e-9


def test_session_windows_restart_no_duplicate_sessions(spark, tmp_path):
    """T4/T7 — kill-and-restart for session-window state: a restart on
    the same checkpoint must resume the session store (sessions
    straddling the restart merge correctly) and never re-emit an
    already-finalized session."""
    from financial_market_data_analysis_spark.operators.windows import (
        session_windows,
    )

    ev = load_table(spark, "events", SF_SMOKE).select("user_id", "ts", "value")
    cut = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    src = str(tmp_path / "sess_src")
    ckpt = str(tmp_path / "sess_ckpt")
    out = str(tmp_path / "sess_out")

    def _run():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = session_windows(P.watermarked(stream, "ts"), "ts", ("user_id",))
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    ev.filter(F.col("ts") <= cut).coalesce(1).write.mode("append").parquet(src)
    _run()
    n_first = spark.read.parquet(out).count()

    ev.filter(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(src)
    _run()

    emitted = spark.read.parquet(out)
    assert emitted.count() > n_first  # restart picked up the new file
    # no session emitted twice across the restart boundary
    assert (
        emitted.groupBy("user_id", "session_start").count().filter("count > 1").count()
        == 0
    )
    # every emitted session matches the batch computation exactly
    batch = {
        (r.user_id, r.session_start): (r.session_last, r.n_events)
        for r in session_windows(ev, "ts", ("user_id",)).collect()
    }
    for r in emitted.collect():
        assert batch[(r.user_id, r.session_start)] == (r.session_last, r.n_events)


def test_stateful_stream_on_rocksdb_state_store(spark, tmp_path):
    """The RocksDB state-store scale path actually runs in this
    environment: a watermarked dedup (stateful) query executes with the
    provider switched per-query."""
    from financial_market_data_analysis_spark.session import ROCKSDB_PROVIDER

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        src = str(tmp_path / "rdb_src")
        df = spark.createDataFrame(
            [("2024-01-01 10:00:00", 1), ("2024-01-01 10:00:00", 1),
             ("2024-01-01 10:02:00", 2)],
            ["ts_s", "k"],
        ).select(F.to_timestamp("ts_s").alias("ts"), "k")
        df.write.parquet(src)
        stream = P.watermarked(spark.readStream.schema(df.schema).parquet(src), "ts")
        out = P.dedup_within_watermark(stream, ["k"])
        q = (
            out.writeStream.format("memory").queryName("rdb_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        assert spark.sql("SELECT count(*) AS c FROM rdb_out").collect()[0]["c"] == 2
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_five_feed_pipeline_end_to_end(spark, tmp_path):
    """The reference's whole consumer topology (spark_consumer.py:88-488)
    over the REAL feed schemas: 5 JSON streams -> schema decode/flatten
    -> watermark -> deep x {vix,volume,cot,ind} interval joins -> dedup
    -> parquet warehouse. One wide row per deep event."""
    import datetime as dt

    feeds = ["deep", "vix", "volume", "cot", "ind"]
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    n_buckets = 8

    def payload(feed, ts):
        p = _sample_payload(feed)
        p["ts"] = ts.strftime("%Y-%m-%d %H:%M:%S")
        return p

    dirs = {}
    for feed in feeds:
        rows = []
        for b in range(n_buckets):
            # deep at bucket start; others 30 s later -> same 5-min
            # bucket, inside the 3-min band
            off = 0 if feed == "deep" else 30
            ts = base + dt.timedelta(minutes=5 * b, seconds=off)
            rows.append((json.dumps(payload(feed, ts)),))
        d = str(tmp_path / feed)
        spark.createDataFrame(rows, ["value"]).write.parquet(d)
        dirs[feed] = d

    streams = {}
    for feed in feeds:
        raw = spark.readStream.schema("value string").parquet(dirs[feed])
        streams[feed] = P.watermarked(
            json_decode_flatten(raw, FEED_SCHEMAS[feed]()), "ts"
        )

    joined = P.join_feeds(
        streams["deep"],
        {k: streams[k] for k in ("vix", "volume", "cot", "ind")},
    )
    deduped = P.dedup_within_watermark(joined, ["deep_ts"])

    wh = str(tmp_path / "wh")
    q = (
        P.parquet_append_sink(deduped, wh, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(wh)
    assert out.count() == n_buckets
    # one column family per feed made it through the join
    for c in ("bid_0", "ask_6_size",            # deep
              "vix",                             # vix
              "close", "volume",                 # candle
              "asset_long_pos", "leveraged_short_open_int",   # cot 12
              "nonfarm_payrolls_actual", "core_cpi_forc_actual_diff"):  # ind
        assert c in out.columns, c
    # the 13-event registry flows through: 39 indicator leaf columns
    from financial_market_data_analysis_spark.functions.schemas import (
        INDICATOR_EVENTS,
        INDICATOR_VALUES,
    )
    for ev in INDICATOR_EVENTS:
        for v in INDICATOR_VALUES:
            assert f"{ev}_{v}" in out.columns
    row = out.orderBy("deep_ts").first()
    assert row["vix"] == pytest.approx(13.5)
    assert row["asset_long_pos"] == 1


def test_stateful_indicator_suite_matches_batch(spark, tmp_path):
    """T9 single-pass path, full W1-W8: the applyInPandasWithState
    suite, fed two time-ordered micro-batches per key, must equal the
    batch ``indicator_suite`` row for row on every emitted row — the
    O(period) tail state carries MA/Bollinger/stochastic/ATR frames
    across the batch boundary, and the pending buffer finalizes the
    LEAD targets exactly as the batch computation does. Rows whose
    15-ahead close never arrives are (by design) not emitted."""
    from financial_market_data_analysis_spark.operators.windows import indicator_suite

    ev = load_table(spark, "events", SF_SMOKE).select(
        F.col("event_type").alias("symbol"), "ts",
        F.col("value").alias("close"),
        (F.col("value") + 1).cast("double").alias("high"),
        (F.col("value") - 1).cast("double").alias("low"),
        (F.col("value") * 2).cast("double").alias("volume"),
    ).dropDuplicates(["symbol", "ts"])
    cut = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    src = str(tmp_path / "sis_src")
    ev.filter(F.col("ts") <= cut).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = P.stateful_indicator_suite(stream, ("symbol",), "ts")
    q = (
        out.writeStream.format("memory").queryName("sis_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    got = spark.sql("SELECT * FROM sis_out")
    expected = indicator_suite(ev, ["ts"], partition_cols=["symbol"])
    # every row except each key's last 15 must be emitted, exactly once
    n_keys = ev.select("symbol").distinct().count()
    assert got.count() == ev.count() - n_keys * P.MAX_LEAD
    assert got.groupBy("symbol", "ts").count().filter(F.col("count") > 1).count() == 0

    ind_cols = ["vol_MA6", "vol_MA20", "price_MA20", "upper_BB_dist",
                "lower_BB_dist", "stoch", "price_change", "ATR",
                "up1", "down1", "up2", "down2"]
    j = got.alias("g").join(expected.alias("e"), ["symbol", "ts"]).select(
        *[F.col(f"g.{c}").alias(f"g_{c}") for c in ind_cols],
        *[F.col(f"e.{c}").alias(f"e_{c}") for c in ind_cols],
    )
    rows = j.collect()
    assert len(rows) == got.count()
    import math as _m

    for r in rows:
        for c in ind_cols:
            g, e = r[f"g_{c}"], r[f"e_{c}"]
            g_null = g is None or (isinstance(g, float) and _m.isnan(g))
            e_null = e is None or (isinstance(e, float) and _m.isnan(e))
            if g_null or e_null:
                assert g_null and e_null, (c, g, e)
            else:
                assert abs(g - e) < 1e-9, (c, g, e)


def test_corpus_curation_runs_in_streaming_mode(spark, tmp_path):
    """The corpus-curation transforms (quality filter → language ID →
    hash split) are row-local projections, so the SAME functions must
    run unchanged under Structured Streaming with exact batch parity —
    the write-once/run-both contract extended to the LLM-pipeline ops."""
    from financial_market_data_analysis_spark.functions.text import (
        hash_split,
        language_id,
        quality_filter,
    )

    docs = load_table(spark, "documents", SF_SMOKE).limit(200)
    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs.write.parquet(src)

    def curate(df):
        kept = quality_filter(df).filter(F.col("kept") == 1)
        return hash_split(language_id(kept)).select(
            "doc_id", "lang_pred", "split"
        )

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        curate(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    batch = curate(docs)
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0


def test_incremental_indicators_sparse_bucket_fallback(spark, tmp_path):
    """If the pruned tail partitions hold fewer rows than tail_rows +
    warm-up (sparse newest bucket), the hook must fall back to an
    unpruned read and still match a full-warehouse recompute — not
    silently compute indicators over truncated frames."""
    import datetime

    from financial_market_data_analysis_spark.operators.windows import indicator_suite

    rows = []
    for day, n in [(1, 40), (2, 5), (3, 5)]:  # newest two buckets: 10 rows
        for m in range(n):
            ts = datetime.datetime(2024, 1, day, 10, m, 0)
            rows.append((ts, 100.0 + day * 60 + m, day))
    bars = spark.createDataFrame(
        rows, "deep_ts timestamp, close double, date_bucket int"
    ).select(
        "deep_ts", "close",
        (F.col("close") + 1).alias("high"),
        (F.col("close") - 1).alias("low"),
        F.lit(100).alias("volume"),
        "date_bucket",
    )
    src = str(tmp_path / "bars_src")
    bars.write.parquet(src)
    wh = str(tmp_path / "warehouse")

    tail_rows = 20  # need = 20 + 19 = 39 > the 10 rows the pruned read holds
    stream = spark.readStream.schema(bars.schema).parquet(src)
    sink = P.parquet_append_sink(
        stream, wh, str(tmp_path / "ckpt"),
        post_batch=P.incremental_indicators(
            wh, tail_rows=tail_rows, order_col="deep_ts",
            partition_col="date_bucket",
        ),
        partition_by=["date_bucket"],
    )
    q = sink.trigger(availableNow=True).start()
    q.awaitTermination(120)

    snap = spark.read.parquet(wh + "_indicators")
    assert snap.count() == tail_rows
    full = indicator_suite(spark.read.parquet(wh), ["deep_ts"])
    ind_cols = ["vol_MA6", "vol_MA20", "price_MA20", "upper_BB_dist",
                "lower_BB_dist", "stoch", "price_change", "ATR"]
    joined = snap.alias("s").join(full.alias("f"), "deep_ts").select(
        *[F.col(f"s.{c}").alias(f"s_{c}") for c in ind_cols],
        *[F.col(f"f.{c}").alias(f"f_{c}") for c in ind_cols],
    ).collect()
    assert len(joined) == tail_rows
    for r in joined:
        for c in ind_cols:
            s, f = r[f"s_{c}"], r[f"f_{c}"]
            if s is None or f is None:
                assert s == f, c
            else:
                assert abs(s - f) < 1e-9, (c, s, f)


def test_streaming_predictions_epoch_retry_idempotent(spark, tmp_path):
    """foreachBatch hooks run at-least-once: re-running the SAME epoch
    (simulated crash-retry) must not duplicate prediction rows, and a
    later epoch must not clobber earlier ones (per-epoch dynamic
    partition overwrite)."""
    from financial_market_data_analysis_spark.ml import train_target_classifier
    from financial_market_data_analysis_spark.operators.windows import indicator_suite

    deep, _ = _two_feeds(spark)
    bars = deep.select(
        "deep_ts",
        F.col("deep_val").alias("close"),
        (F.col("deep_val") + 1).alias("high"),
        (F.col("deep_val") - 1).alias("low"),
        F.lit(100).alias("volume"),
    )
    feature_cols = ["close", "volume", "vol_MA6", "vol_MA20", "price_MA20",
                    "upper_BB_dist", "lower_BB_dist", "ATR"]
    hist = indicator_suite(bars, ["deep_ts"]).withColumn(
        "bucket_start", F.unix_timestamp("deep_ts")
    )
    model, _, _, _ = train_target_classifier(hist, feature_cols)

    ind = str(tmp_path / "indicators")
    hist.write.parquet(ind)
    pred = str(tmp_path / "predictions")
    hook = P.streaming_predictions(
        model, ind, pred, order_col="deep_ts", feature_cols=feature_cols
    )

    hook(bars, 3)
    n3 = spark.read.parquet(pred).count()
    assert n3 > 0
    hook(bars, 3)  # crash-retry of the same epoch
    after_retry = spark.read.parquet(pred)
    assert after_retry.count() == n3
    assert after_retry.filter(F.col("epoch_id") == 3).count() == n3

    hook(bars.limit(5), 4)  # next epoch appends its own partition
    final = spark.read.parquet(pred)
    assert final.filter(F.col("epoch_id") == 3).count() == n3
    assert final.filter(F.col("epoch_id") == 4).count() > 0


def test_sliding_join_back_nondivisible_slide(spark):
    """slide ∤ length: every event appears exactly once per sliding
    window that contains it — ceil(length/slide) candidate starts plus
    a membership filter (floor division used to silently drop an edge
    event's earliest window; blind ceil without the filter would
    attach windows the event is not in)."""
    import datetime

    from financial_market_data_analysis_spark.operators.windows import (
        sliding_join_back,
    )

    offsets = [0, 50, 250, 650, 950]
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)  # epoch-multiple of 300
    ev = spark.createDataFrame(
        [(base + datetime.timedelta(seconds=s), float(s)) for s in offsets],
        "ts timestamp, value double",
    )
    out = sliding_join_back(ev, "ts", "value", 700, 300)
    got = {(int(r["ts"].timestamp()), r["window_start"]) for r in out.collect()}

    base_u = int(base.timestamp())
    expected = set()
    for s in offsets:
        t = base_u + s
        first = ((t - 700) // 300 + 1) * 300  # lowest aligned start > t-700
        expected |= {
            (t, st) for st in range(first, t + 1, 300) if st <= t < st + 700
        }
    assert got == expected
    # spot-check: the edge event at +950 is in 3 windows (ceil(700/300))
    assert len([g for g in got if g[0] == base_u + 950]) == 3


def test_t17_straggler_set_is_nonempty(spark):
    """t17 adjudicates the late-data DROP — which is vacuous if the
    staged straggler batch happens to be empty. Pin the two properties
    the hash signal depends on: (1) the marked straggler subset is
    non-empty at the smoke scale, and (2) every straggler sits at
    least 2×delay below the midpoint cut, i.e. far past any watermark
    boundary subtlety."""
    from pyspark.sql import functions as F

    from conftest import SF_SMOKE
    from financial_market_data_analysis_spark.sources.batch import load_table

    ev = load_table(spark, "events", SF_SMOKE)
    b = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    ).first()
    cut = (b.mn + b.mx) // 2
    delay_us = 600 * 1_000_000
    stragglers = ev.filter(
        (F.unix_micros("ts") < cut - 2 * delay_us) & (F.col("user_id") % 7 == 0)
    )
    n = stragglers.count()
    assert n > 0, "no stragglers staged — t17's drop adjudication is vacuous"
    # margin on the other side: the cut is far below the max, so the
    # watermark after batch 1 is far above every straggler window
    assert b.mx - cut > 2 * delay_us + 300 * 1_000_000


def test_t17_folded_precounts_match_separate_counts(spark):
    """r16 §13 pins: `_late_drop_stream` folds its three proof counts
    (straggler rows, distinct straggler windows, distinct kept windows)
    into ONE aggregation pass. The folded `count(when)` /
    `count_distinct(when)` forms must equal the original three separate
    filter+count jobs — t31's metric bounds are built from these exact
    values, so a drift here silently weakens the state-metrics proof."""
    from pyspark.sql import functions as F

    from conftest import SF_SMOKE
    from financial_market_data_analysis_spark.sources.batch import load_table

    ev = load_table(spark, "events", SF_SMOKE).select("ts", "user_id", "value")
    b = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    ).first()
    delay_us = 600 * 1_000_000
    cut = (b.mn + b.mx) // 2
    is_straggler = (F.unix_micros("ts") < cut - 2 * delay_us) & (
        F.col("user_id") % 7 == 0
    )
    w_us = F.expr("unix_micros(ts) div 300000000")
    pre = ev.agg(
        F.count(F.when(is_straggler, F.lit(1))).alias("n_strag"),
        F.count_distinct(F.when(is_straggler, w_us)).alias("nsw"),
        F.count_distinct(F.when(~is_straggler, w_us)).alias("nw"),
    ).first()
    assert pre.n_strag == ev.filter(is_straggler).count()
    assert (
        pre.nsw
        == ev.filter(is_straggler).select(w_us.alias("w")).distinct().count()
    )
    assert (
        pre.nw
        == ev.filter(~is_straggler).select(w_us.alias("w")).distinct().count()
    )


def test_momentum_incremental_line_history_matches_naive(spark, tmp_path):
    """r16 pins: `stateful_momentum_suite` carries the `signal` most
    recent MACD lines incrementally (re-deriving the pre-batch ones
    from the carried close tail at each batch boundary) instead of
    recomputing signal×2 EWMA folds per row, and folds with
    precomputed weight tables instead of per-element pow. Both must be
    BIT-IDENTICAL to the original naive per-row recompute — this test
    drives the real operator across THREE micro-batches (one cut
    inside the slow warm-up, one far past it, so the boundary
    re-derivation runs with 0 and with signal−1 pre-batch lines) and
    compares exactly (==, not approx) against the naive form."""
    import math
    import os

    import pandas as pd

    fast, slow, signal = 12, 26, 9
    rsi_period = 14
    n_rows = 90
    rows = []
    for s, sym in enumerate(("AAA", "BBB")):
        for i in range(n_rows):
            # deterministic, varied, with flat repeats (OBV-neutral and
            # potential flat-RSI branches) and fractional volumes
            # (HALF-UP rounding exercised)
            c = 100.0 + ((i * 37 + s * 11) % 97) * 0.25 - (i % 5) * 0.1
            if i % 17 == 3:
                c = rows[-1][2] if rows and rows[-1][0] == sym else c
            v = 1000.0 + ((i * 13 + s) % 7) * 0.5
            rows.append((sym, i * 300_000_000, c, v))
    pdf = pd.DataFrame(rows, columns=["symbol", "ts_us", "close", "volume"])
    pdf["ts"] = pd.to_datetime(pdf["ts_us"], unit="us")
    bars = spark.createDataFrame(pdf[["symbol", "ts", "close", "volume"]])

    src = str(tmp_path / "mom_src")
    cuts = [20, 45]  # row-index cuts: inside warm-up, past slow+signal
    bounds = [0] + [c * 300_000_000 for c in cuts] + [n_rows * 300_000_000]
    for b in range(3):
        lo, hi = bounds[b], bounds[b + 1]
        (
            bars.filter(
                (F.unix_micros("ts") >= lo) & (F.unix_micros("ts") < hi)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    # strictly increasing mtimes so FileStreamSource preserves order
    parts = sorted(
        (os.path.getmtime(p), p)
        for p in __import__("glob").glob(os.path.join(src, "*.parquet"))
    )
    base = parts[0][0]
    for k, (_, p) in enumerate(parts):
        os.utime(p, (base + 2 * k, base + 2 * k))

    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = P.stateful_momentum_suite(stream, ("symbol",), "ts")
    q = (
        out.writeStream.format("memory").queryName("mom_incr")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    emitted = {
        (r.symbol, r.ts): (
            r.close, r.rsi14, r.obv_micro,
            r.macd_line, r.macd_signal, r.macd_hist,
        )
        for r in spark.sql("SELECT * FROM mom_incr").collect()
    }
    assert len(emitted) == 2 * n_rows

    # naive reference: the ORIGINAL kernel math — per-row inline-pow
    # EWMA folds and a full signal×2 recompute of the line list
    dec_f = 1.0 - 2.0 / (fast + 1)
    dec_s = 1.0 - 2.0 / (slow + 1)
    dec_g = 1.0 - 2.0 / (signal + 1)
    den_f = float(sum(dec_f**k for k in range(fast)))
    den_s = float(sum(dec_s**k for k in range(slow)))
    den_g = float(sum(dec_g**k for k in range(signal)))
    max_tail = max(slow + signal - 1, rsi_period + 1)

    def ewma_naive(closes, period, decay, den):
        acc = 0.0
        frame = closes[-period:]
        for i, x in enumerate(frame):
            acc += x * decay ** (period - 1 - i)
        return acc / den

    for sym in ("AAA", "BBB"):
        srows = pdf[pdf.symbol == sym].sort_values("ts_us")
        tail, obv, n_seen = [], 0, 0
        for t, c, v in zip(srows.ts_us, srows.close, srows.volume):
            prev = tail[-1] if tail else None
            x = v * 1_000_000.0
            vm = int(math.copysign(math.floor(abs(x) + 0.5), x))
            if prev is not None and c > prev:
                obv += vm
            elif prev is not None and c < prev:
                obv -= vm
            tail.append(c)
            if len(tail) > max_tail:
                tail.pop(0)
            n_seen += 1
            rsi = None
            if n_seen >= rsi_period + 1:
                deltas = [
                    tail[i] - tail[i - 1]
                    for i in range(len(tail) - rsi_period, len(tail))
                ]
                ag = sum(d if d > 0 else 0.0 for d in deltas) / rsi_period
                al = sum(-d if d < 0 else 0.0 for d in deltas) / rsi_period
                if ag == 0.0 and al == 0.0:
                    rsi = 50.0
                elif al == 0.0:
                    rsi = 100.0
                else:
                    rsi = 100.0 - 100.0 / (1.0 + ag / al)
            line = sig = hist = None
            if n_seen >= slow:
                line = ewma_naive(tail, fast, dec_f, den_f) - ewma_naive(
                    tail, slow, dec_s, den_s
                )
                if n_seen >= slow + signal - 1:
                    lines = [
                        ewma_naive(tail[: len(tail) - j], fast, dec_f, den_f)
                        - ewma_naive(tail[: len(tail) - j], slow, dec_s, den_s)
                        for j in range(signal - 1, -1, -1)
                    ]
                    acc = 0.0
                    for i, x2 in enumerate(lines):
                        acc += x2 * dec_g ** (signal - 1 - i)
                    sig = acc / den_g
                    hist = line - sig
            got = emitted[(sym, pd.Timestamp(t, unit="us").to_pydatetime())]
            assert got[0] == c and got[2] == obv
            assert got[1] == rsi and got[3] == line
            assert got[4] == sig and got[5] == hist


def test_snapshot_merge_sink_replay_is_idempotent(spark, tmp_path):
    """t15b's replay contract, driven directly: re-running a batch id
    (a micro-batch RETRY after partial failure) must leave the exact
    same snapshot as running it once — because batch N rebuilds v{N}
    from the untouched v{N-1}, never appends. Also checks the merge
    semantics: a key updated in batch 1 is replaced, an untouched key
    survives, a new key is added."""
    from pyspark.sql import functions as F  # noqa: F401

    from financial_market_data_analysis_spark.streaming.pipeline import (
        snapshot_merge_sink,
    )

    snap = str(tmp_path / "snap")
    sink = snapshot_merge_sink(spark, snap)

    b0 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "user_id long, val double"
    )
    b1 = spark.createDataFrame(
        [(2, 99.0), (3, 30.0)], "user_id long, val double"
    )
    sink(b0, 0)
    sink(b1, 1)
    once = {r.user_id: r.val for r in spark.read.parquet(f"{snap}/v1").collect()}
    assert once == {1: 10.0, 2: 99.0, 3: 30.0}

    # retry batch 1 (same payload, same id) — the replay case
    sink(b1, 1)
    again = {r.user_id: r.val for r in spark.read.parquet(f"{snap}/v1").collect()}
    assert again == once

    # retry with a DIFFERENT payload (the failed-then-recomputed case)
    b1b = spark.createDataFrame([(3, 33.0)], "user_id long, val double")
    sink(b1b, 1)
    redo = {r.user_id: r.val for r in spark.read.parquet(f"{snap}/v1").collect()}
    assert redo == {1: 10.0, 2: 20.0, 3: 33.0}


def test_snapshot_merge_sink_missing_prev_raises(spark, tmp_path):
    """r8 ADVICE (medium): batch_id>0 with v{batch_id-1} ABSENT must
    raise, not silently reset state to this batch's touched keys —
    update-mode batches carry only touched keys, so the old
    fall-through was silent data loss after snapshot cleanup or any
    non-contiguous batch-id situation. Cold start (batch 0) still
    writes v0 without a previous snapshot."""
    import pytest

    from financial_market_data_analysis_spark.streaming.pipeline import (
        resolve_prev_snapshot,
        snapshot_merge_sink,
    )

    snap = str(tmp_path / "snap")
    sink = snapshot_merge_sink(spark, snap)
    b = spark.createDataFrame([(1, 10.0)], "user_id long, val double")

    # cold start is fine
    assert resolve_prev_snapshot(snap, 0) is None
    sink(b, 0)

    # contiguous chain is fine
    sink(b, 1)

    # a gap (v2 missing when batch 3 arrives) must refuse loudly
    with pytest.raises(RuntimeError, match="previous snapshot"):
        sink(b, 3)
    with pytest.raises(RuntimeError, match="v2"):
        resolve_prev_snapshot(snap, 3)


def test_t22_five_feed_join_has_cross_batch_matches(spark):
    """t22's load-bearing claim: because the four non-deep feeds trail
    deep by six hours in micro-batch 1, every match in the trailing
    window REQUIRES deep-side join state to survive the batch
    boundary. Run the real query at sf0.01 and assert that
    cross-batch window is non-empty AND fully matched — a run that
    dropped cross-batch state would emit zero rows there and silently
    still pass a rows-exist check."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.01"
    df = e.queries()["t22_stream_five_feed_join"](spark, sf)
    base = e._t22_feed_base(load_table(spark, "events", sf))
    deep = e._t22_hourly_feed(base, "purchase", 0, "deep")
    cut = deep.agg(
        F.percentile_approx(F.unix_micros("ts"), 0.5)
    ).first()[0]
    lo, hi = cut - e._T22_LAG_US, cut
    out = df.localCheckpoint(eager=True)
    n_total = out.count()
    n_cross = out.filter(
        (F.col("hour_us") > lo) & (F.col("hour_us") <= hi)
    ).count()
    assert n_total > 0
    assert n_cross > 0, "no matches in the cross-batch trailing window"
    # and the cross-batch slice matches the batch twin exactly
    feeds = {
        n: e._t22_hourly_feed(base, et, off, n)
        for n, (et, off) in e._T22_FEEDS.items()
    }
    from financial_market_data_analysis_spark.streaming.pipeline import (
        join_feeds,
    )

    batch_twin = (
        join_feeds(deep, feeds)
        .select(F.unix_micros("deep_ts").alias("hour_us"))
        .filter((F.col("hour_us") > lo) & (F.col("hour_us") <= hi))
    )
    assert n_cross == batch_twin.count()


def test_t22_refuses_a_feed_with_an_empty_half(spark, monkeypatch):
    """t22's cross-batch proof needs every feed in both micro-batches:
    with a lag longer than the fixture's span the four trailing feeds
    have no first-half rows, and t22 raises before running the stream
    instead of passing without cross-batch join state."""
    import __spark_entry__ as e

    monkeypatch.setattr(e, "_T22_LAG_US", 100 * 365 * 86_400 * 1_000_000)
    with pytest.raises(RuntimeError, match="both halves non-empty"):
        e.queries()["t22_stream_five_feed_join"](spark, SF_SMOKE)
    assert not spark.streams.active


def test_stateful_gap_fill_fills_across_batch_boundary(spark, tmp_path):
    """The streaming gap fill must synthesize the buckets INSIDE a gap
    that spans the micro-batch boundary — those rows exist only if the
    (last_bucket, last_value) state survives the batch — and the full
    emitted series must equal the batch gap_fill_locf row for row."""
    from financial_market_data_analysis_spark.operators.windows import (
        gap_fill_locf,
    )
    from financial_market_data_analysis_spark.streaming.pipeline import (
        stateful_gap_fill,
    )

    rows = [
        ("S", 0, 10.0, 1.0),
        ("S", 300, 11.0, 2.0),
        # gap: 600, 900 missing — and the batch boundary sits here
        ("S", 1200, 12.0, 3.0),
        ("S", 1500, 13.0, 4.0),
    ]
    bars = spark.createDataFrame(
        rows, "symbol string, bucket_start long, close double, volume double"
    )
    src = str(tmp_path / "bars")
    import os
    import time

    bars.filter(F.col("bucket_start") <= 300).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    bars.filter(F.col("bucket_start") > 300).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    files = sorted(
        (os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    now = time.time()
    for i, f in enumerate(files):
        os.utime(f, (now - 10 + 5 * i, now - 10 + 5 * i))

    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_gap_fill(stream, key_cols=("symbol",))
        .writeStream.format("memory")
        .queryName("gapfill_boundary_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r["bucket_start"]: r
        for r in spark.table("gapfill_boundary_out").collect()
    }
    assert set(got) == {0, 300, 600, 900, 1200, 1500}
    # the boundary-spanning gap rows: carried close, zero volume
    for b in (600, 900):
        assert got[b]["is_gap"] == 1
        assert got[b]["close"] == 11.0
        assert got[b]["volume"] == 0.0
    assert got[1200]["is_gap"] == 0 and got[1200]["close"] == 12.0
    # row-for-row equality with the batch operator
    batch = {
        r["bucket_start"]: r
        for r in gap_fill_locf(
            bars, "bucket_start", 300, ["close"], zero_cols=["volume"]
        ).collect()
    }
    assert set(batch) == set(got)
    for b, r in got.items():
        assert (r["close"], r["volume"], r["is_gap"]) == (
            batch[b]["close"], batch[b]["volume"], batch[b]["is_gap"]
        ), b


def test_stateful_gap_fill_null_values_match_batch_across_cut(spark, tmp_path):
    """Null parity with the batch twin (r12 advice, verdict #3): a
    present bar whose close/volume is NULL must emit the LOCF carry /
    0.0 exactly like batch ``last(ignorenulls)`` / ``coalesce(col, 0)``
    — with the nulls STRADDLING a micro-batch cut so the carry that
    fills them is state, not same-batch context. Also pins the
    leading-null case: a key whose FIRST bar has a null close emits
    NULL (no prior observation), both sides."""
    from financial_market_data_analysis_spark.operators.windows import (
        gap_fill_locf,
    )
    from financial_market_data_analysis_spark.streaming.pipeline import (
        stateful_gap_fill,
    )

    rows = [
        # S: null close AND null volume on a present bar right before
        # the cut; a gap right after it proves the null never entered
        # the carry state.
        ("S", 0, 10.0, 1.0),
        ("S", 300, None, None),  # batch 1 ends here
        # 600 missing (gap synthesized from carried 10.0)
        ("S", 900, None, 2.0),   # batch 2: null close again, real volume
        ("S", 1200, 14.0, None),
        # L: leading null close — no observation to carry yet
        ("L", 0, None, 3.0),     # batch 1
        ("L", 300, 20.0, 4.0),   # batch 2
    ]
    bars = spark.createDataFrame(
        rows, "symbol string, bucket_start long, close double, volume double"
    )
    src = str(tmp_path / "bars")
    import os
    import time

    bars.filter(F.col("bucket_start") <= 300).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    bars.filter(F.col("bucket_start") > 300).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    files = sorted(
        (os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    now = time.time()
    for i, f in enumerate(files):
        os.utime(f, (now - 10 + 5 * i, now - 10 + 5 * i))

    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_gap_fill(stream, key_cols=("symbol",))
        .writeStream.format("memory")
        .queryName("gapfill_null_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["symbol"], r["bucket_start"]): r
        for r in spark.table("gapfill_null_out").collect()
    }
    # the null-close present bars emit the carry, not NaN/None
    assert got[("S", 300)]["close"] == 10.0
    assert got[("S", 300)]["volume"] == 0.0
    assert got[("S", 300)]["is_gap"] == 0
    # the cross-cut gap fills from the PRE-null carry
    assert got[("S", 600)]["close"] == 10.0 and got[("S", 600)]["is_gap"] == 1
    assert got[("S", 900)]["close"] == 10.0
    assert got[("S", 900)]["volume"] == 2.0
    assert got[("S", 1200)]["close"] == 14.0
    assert got[("S", 1200)]["volume"] == 0.0
    # leading null: a TRUE null (not NaN), like the batch window
    assert got[("L", 0)]["close"] is None
    assert got[("L", 300)]["close"] == 20.0
    # row-for-row equality with the batch operator (one series per
    # key) on ALL columns
    batch = {
        (k, r["bucket_start"]): r
        for k in ("S", "L")
        for r in gap_fill_locf(
            bars.filter(F.col("symbol") == k), "bucket_start", 300, ["close"],
            zero_cols=["volume"],
        ).collect()
    }
    assert set(batch) == set(got)
    for k, r in got.items():
        assert (r["close"], r["volume"], r["is_gap"]) == (
            batch[k]["close"], batch[k]["volume"], batch[k]["is_gap"]
        ), k


def test_evolving_ingest_sink_accounting(spark, tmp_path):
    """evolving_ingest_sink (r12 verdict #5) must (a) WIDEN a retyped
    drop arriving mid-stream instead of quarantining it, (b) quarantine
    only true row-level conflicts (unparseable payloads, unregistered
    versions), and (c) land per-(epoch, version) accounting rows
    proving which batch widened what — v1 rows widen n_chars
    (bigint→double contract) and null-fill source; v2 rows widen
    nothing and null-fill lang."""
    import os
    import time

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from financial_market_data_analysis_spark.streaming.pipeline import (
        evolving_ingest_sink,
    )

    schemas = {
        1: StructType(
            [
                StructField("doc_id", LongType(), True),
                StructField("lang", StringType(), True),
                StructField("n_chars", LongType(), True),
            ]
        ),
        2: StructType(
            [
                StructField("doc_id", LongType(), True),
                StructField("n_chars", DoubleType(), True),
                StructField("source", StringType(), True),
            ]
        ),
    }
    batch0 = ["1,10,en,100", "1,11,de,200"]
    batch1 = ["2,20,300.5,web", "2,21,xbad,web", "9,22,unregistered"]
    src = str(tmp_path / "drops")
    os.makedirs(src)
    for i, lines in enumerate([batch0, batch1]):
        p = os.path.join(src, f"b{i}.txt")
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(p, (time.time() - 10 + 5 * i,) * 2)

    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .text(src)
    )
    q = evolving_ingest_sink(
        stream,
        schemas,
        str(tmp_path / "clean"),
        str(tmp_path / "quar"),
        str(tmp_path / "ckpt"),
        accounting_dir=str(tmp_path / "acct"),
    ).trigger(availableNow=True).start()
    assert q.awaitTermination(120)

    clean = {
        (r["epoch_id"], r["doc_id"]): r
        for r in spark.read.parquet(str(tmp_path / "clean")).collect()
    }
    # v1 rows landed widened: bigint 100 as double, source null-filled
    assert clean[(0, 10)]["n_chars"] == 100.0
    assert clean[(0, 10)]["source"] is None
    assert clean[(0, 10)]["schema_version"] == 1
    # v2 retyped row landed as VALUES, lang null-filled — not quarantined
    assert clean[(1, 20)]["n_chars"] == 300.5
    assert clean[(1, 20)]["lang"] is None
    assert clean[(1, 20)]["schema_version"] == 2
    assert len(clean) == 3  # 21 (corrupt) and 22 (unregistered) kept out
    quar = spark.read.parquet(str(tmp_path / "quar")).collect()
    assert {r["value"] for r in quar} == {"2,21,xbad,web", "9,22,unregistered"}
    # the unregistered row KEEPS its parsed tag (9) — the audit trail
    # should say which unknown version arrived, not just "unknown"
    assert {r["schema_version"] for r in quar} == {2, 9}

    acct = {
        (r["epoch_id"], r["schema_version"]): r
        for r in spark.read.parquet(str(tmp_path / "acct")).collect()
    }
    # which batch widened what: epoch 0 is v1 (n_chars widened to the
    # union contract, source null-filled); epoch 1 is v2 (nothing
    # widened, lang null-filled) plus the unregistered row
    assert acct[(0, 1)]["widened_cols"] == "n_chars"
    assert acct[(0, 1)]["null_filled_cols"] == "source"
    assert acct[(0, 1)]["n_rows"] == 2 and acct[(0, 1)]["n_quarantined"] == 0
    assert acct[(1, 2)]["widened_cols"] == ""
    assert acct[(1, 2)]["null_filled_cols"] == "lang"
    assert acct[(1, 2)]["n_rows"] == 2 and acct[(1, 2)]["n_quarantined"] == 1
    assert acct[(1, 9)]["n_rows"] == 1
    assert acct[(1, 9)]["n_quarantined"] == 1
    assert acct[(1, 9)]["widened_cols"] == ""  # unregistered: no contract


def test_evolving_ingest_sink_replay_is_idempotent(spark, tmp_path):
    """The evolving sink writes clean/quarantine/accounting through the
    epoch-idempotent dynamic-partition-overwrite writer — so REPLAYING
    the same drops against the same output dirs (fresh checkpoint, so
    epoch ids restart at 0) must REPLACE each epoch partition, never
    duplicate rows in any of the three sinks."""
    import os
    import time

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from financial_market_data_analysis_spark.streaming.pipeline import (
        evolving_ingest_sink,
    )

    schemas = {
        1: StructType(
            [
                StructField("doc_id", LongType(), True),
                StructField("n_chars", LongType(), True),
            ]
        ),
        2: StructType(
            [
                StructField("doc_id", LongType(), True),
                StructField("n_chars", DoubleType(), True),
                StructField("source", StringType(), True),
            ]
        ),
    }
    src = str(tmp_path / "drops")
    os.makedirs(src)
    for i, lines in enumerate([["1,1,10", "1,2,xbad"], ["2,3,30.5,web"]]):
        p = os.path.join(src, f"b{i}.txt")
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(p, (time.time() - 10 + 5 * i,) * 2)

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", 1)
            .text(src)
        )
        q = evolving_ingest_sink(
            stream,
            schemas,
            str(tmp_path / "clean"),
            str(tmp_path / "quar"),
            str(tmp_path / ckpt),
            accounting_dir=str(tmp_path / "acct"),
        ).trigger(availableNow=True).start()
        assert q.awaitTermination(120)

    run("ckpt1")
    first = {
        d: spark.read.parquet(str(tmp_path / d)).collect()
        for d in ("clean", "quar", "acct")
    }
    run("ckpt2")  # full replay: same files, epochs 0..1 again
    for d in ("clean", "quar", "acct"):
        again = spark.read.parquet(str(tmp_path / d)).collect()
        assert sorted(map(str, again)) == sorted(map(str, first[d])), d
    assert len(first["clean"]) == 2 and len(first["quar"]) == 1


def test_stateful_sessionize_merges_sessions_across_cut(spark, tmp_path):
    """t28's merge law: a session STRADDLING the micro-batch cut must
    be emitted once, with the event count and duration spanning both
    batches — possible only if (start, last, n) survived as state.
    Also pins the data-driven close (a session is emitted exactly when
    the next event arrives ≥ gap later) and the never-emitted final
    session per key."""
    import os
    import time

    from financial_market_data_analysis_spark.streaming.pipeline import (
        stateful_sessionize,
    )

    m = 60_000_000  # one minute in µs
    rows = [
        # user 1: session A = [0, 10m], session B = [50m..70m]
        # (B straddles the cut at 55m), session C = [120m] (never
        # emitted — still open)
        (1, 0 * m), (1, 10 * m),
        (1, 50 * m), (1, 55 * m),          # batch 1 ends at 55m
        (1, 70 * m),                        # batch 2 extends B
        (1, 120 * m),                       # opens C, closing B
        # user 2: one session per batch, second stays open
        (2, 0 * m),
        (2, 100 * m),
    ]
    ev = spark.createDataFrame(rows, "user_id int, ts_us long")
    src = str(tmp_path / "ev")
    ev.filter(F.col("ts_us") <= 55 * m).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ev.filter(F.col("ts_us") > 55 * m).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    files = sorted(
        (os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    now = time.time()
    for i, f in enumerate(files):
        os.utime(f, (now - 10 + 5 * i, now - 10 + 5 * i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_sessionize(stream, gap_us=30 * m)
        .writeStream.format("memory")
        .queryName("sessionize_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.start_us, r.n_events, r.dur_us)
        for r in spark.table("sessionize_out").collect()
    )
    assert got == [
        (1, 0, 2, 10 * m),        # session A, closed inside batch 1
        (1, 50 * m, 3, 20 * m),   # session B MERGED across the cut
        (2, 0, 1, 0),             # user 2's first session
    ]


# ---------------------------------------------------------------------------
# availableNow run harness (streaming_run)

_HARNESS_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
)


def _conf_values(spark) -> dict:
    return {k: spark.conf.get(k) for k in _HARNESS_CONFS}


def _dedup_feed(sr, spark):
    """t1's fixture stream at sf0.001: events in two time-ordered
    micro-batches through the watermarked key dedup."""
    ev = load_table(spark, "events", SF_SMOKE).select("event_id", "ts", "value")
    cut = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    stream = sr.stream(ev, (F.col("ts") <= cut, F.col("ts") > cut))
    return ev, P.dedup_within_watermark(P.watermarked(stream, "ts"), ["event_id"])


def test_streaming_run_state_partitions_and_trailing_batch(spark):
    """The stream keeps the state-partition count and the no-data
    switch it was started with: every batch reports exactly
    ``state_partitions`` state stores, the default run adds the
    trailing watermark batch, and ``no_data_batches=False`` runs the
    two data batches only."""
    batches = {}
    for no_data in (True, False):
        with P.streaming_run(
            spark, state_partitions=3, no_data_batches=no_data
        ) as sr:
            ev, out = _dedup_feed(sr, spark)
            rows = sr.memory(out)
            progress = sr.progress[0]
            assert rows.count() == ev.count()
        stores = {
            op["numStateStoreInstances"]
            for p in progress
            for op in p["stateOperators"]
        }
        assert stores == {3}
        batches[no_data] = [p["numInputRows"] for p in progress]
    assert len(batches[False]) == 2 and 0 not in batches[False]
    assert batches[True] == batches[False] + [0]


def test_streaming_run_restores_confs_right_after_start(spark):
    """The confs are set only around ``start()``: while the query is
    still running, the session already reads its own values again."""
    before = _conf_values(spark)
    seen = {}

    class Query:
        def __init__(self, q):
            self._q = q

        def awaitTermination(self, timeout):
            seen.update(_conf_values(spark))
            return self._q.awaitTermination(timeout)

        def __getattr__(self, name):
            return getattr(self._q, name)

    class Writer:
        def __init__(self, w):
            self._w = w

        def queryName(self, name):
            return Writer(self._w.queryName(name))

        def trigger(self, **kw):
            return Writer(self._w.trigger(**kw))

        def start(self):
            return Query(self._w.start())

    with P.streaming_run(spark, state_partitions=3, no_data_batches=False) as sr:
        _, out = _dedup_feed(sr, spark)
        progress = sr.run(Writer(out.writeStream.format("noop")))
    assert seen == before
    assert _conf_values(spark) == before
    assert {
        op["numStateStoreInstances"] for p in progress for op in p["stateOperators"]
    } == {3}


def test_streaming_run_failure_stops_query_and_cleans_up(spark):
    """A foreachBatch that raises: the exception reaches the caller,
    no query is left running, the scratch dir is gone and the session
    confs are the caller's."""
    from pyspark.errors import StreamingQueryException

    before = _conf_values(spark)

    def boom(batch, batch_id):
        raise ValueError("sink failure")

    with pytest.raises(StreamingQueryException, match="sink failure"):
        with P.streaming_run(spark, state_partitions=3) as sr:
            root = sr.root
            _, out = _dedup_feed(sr, spark)
            sr.run(out.writeStream.foreachBatch(boom))
    assert not spark.streams.active
    assert not os.path.exists(root)
    assert _conf_values(spark) == before

    # a failing memory-sink run leaves no sink name behind either
    with pytest.raises(StreamingQueryException, match="bad row"):
        with P.streaming_run(spark) as sr:
            _, out = _dedup_feed(sr, spark)
            sr.memory(out.select(F.raise_error(F.lit("bad row"))))
    assert not spark.streams.active
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("stream_run_")
    ]


def test_streaming_run_timeout_stops_query(spark, monkeypatch):
    """A query that outlives the run timeout raises TimeoutError and is
    stopped, not left running."""
    import time

    def slow(batch, batch_id):
        time.sleep(3)

    monkeypatch.setattr(P, "_TIMEOUT_S", 0.5)
    with pytest.raises(TimeoutError):
        with P.streaming_run(spark) as sr:
            root = sr.root
            _, out = _dedup_feed(sr, spark)
            sr.run(out.writeStream.foreachBatch(slow))
    assert not spark.streams.active
    assert not os.path.exists(root)


def test_streaming_run_staging_failure_removes_scratch(spark):
    """A staging error (here: a slice split over several part files)
    raises inside the scope, and the scope still removes every file it
    wrote, the staging dir included."""
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        with pytest.raises(RuntimeError, match="expected one part file"):
            with P.streaming_run(spark) as sr:
                root = sr.root
                sr.stage(spark.range(4), (F.col("id") < 2, F.col("id") >= 2))
    finally:
        spark.conf.set(key, old)
    assert not os.path.exists(root)


def test_streaming_run_concurrent_runs_get_distinct_sinks(spark):
    """Two runs at once each get their own memory sink, and each sink
    holds exactly its own stream's rows after both scopes exit."""
    from concurrent.futures import ThreadPoolExecutor

    before = _conf_values(spark)

    def one(mod):
        with P.streaming_run(spark) as sr:
            ev = load_table(spark, "events", SF_SMOKE).filter(
                F.col("event_id") % 2 == mod
            )
            rows = sr.memory(sr.stream(ev.select("event_id"), (F.lit(True),)))
            name = sr.progress[0][0]["name"]
        return name, rows, ev.count()

    with ThreadPoolExecutor(2) as pool:
        results = list(pool.map(one, (0, 1)))
    (name_a, rows_a, n_a), (name_b, rows_b, n_b) = results
    assert name_a != name_b
    assert rows_a.count() == n_a and rows_b.count() == n_b
    assert rows_a.filter(F.col("event_id") % 2 == 1).count() == 0
    assert name_a not in {t.name for t in spark.catalog.listTables()}
    assert _conf_values(spark) == before


def test_entry_harnesses_leave_lifecycle_to_streaming_run():
    """Guard against the hand-rolled streaming lifecycle coming back:
    no function in ``__spark_entry__.py`` awaits a query, scopes the
    shuffle-partition count or sets a session conf, and none that
    builds a ``writeStream`` makes its own temp dir — all of that is
    ``streaming_run``'s job."""
    import ast
    from pathlib import Path

    src = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    tree = ast.parse(src.read_text())

    def dotted(node) -> str:
        parts = []
        while isinstance(node, ast.Attribute):
            parts.append(node.attr)
            node = node.value
        if isinstance(node, ast.Name):
            parts.append(node.id)
        return ".".join(reversed(parts))

    bad = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        names = {
            dotted(n.func) for n in ast.walk(fn) if isinstance(n, ast.Call)
        }
        attrs = {n.attr for n in ast.walk(fn) if isinstance(n, ast.Attribute)}
        for call in names:
            last = call.rsplit(".", 1)[-1]
            if last in ("awaitTermination", "push_small_shuffle") or call.endswith(
                "conf.set"
            ):
                bad.append(f"{fn.name}: {call}")
        if "writeStream" in attrs and "tempfile.mkdtemp" in names:
            bad.append(f"{fn.name}: tempfile.mkdtemp beside writeStream")
    assert not bad, bad


def test_engine_constructs_no_observation():
    """Guard: neither the package nor ``__spark_entry__.py`` builds a
    ``pyspark.sql.Observation``. The first ``Observation`` in a session
    initialises its ``observationManager``, which cannot be serialized;
    from then on scoring with an MLlib model that holds a training
    summary fails with "Task not serializable".
    ``test_streaming_predictions_epoch_retry_idempotent`` catches that
    only when an ``Observation`` ran earlier in the same session, so
    this scan catches it up front, whatever the test order."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    files = [root / "__spark_entry__.py", *sorted(
        (root / "financial_market_data_analysis_spark").rglob("*.py")
    )]
    bad = []
    for f in files:
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
                fn, "id", None
            )
            if name == "Observation":
                bad.append(f"{f.relative_to(root)}:{node.lineno}")
    assert len(files) > 10
    assert not bad, bad
