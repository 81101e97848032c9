"""The live tail of corpus_dedup's traced run: the reference's live
consumer, cut to what one benchmark run can afford. It rides on the
corpus run because that run is the shorter of the two: a traced
warehouse_rebuild run with the tail took ~150 s of the 180 s a run may
take on a loaded 4-vCPU host.

It lands two REST polls of the deep and volume feeds, trains the
predictor (``ml.train_target_classifier``) on the indicator history of
the landed bars (the batch twin below), then runs the polls as a real
stream (``availableNow``, one micro-batch per poll): ``rest_stream``
decode, book features, the 3-minute band join,
``dedup_within_watermark``, null fill and the day-partitioned
``parquet_append_sink`` with the indicator and prediction hooks
composed behind it. The first poll is a backlog of bars; the second
carries the last few bars and a re-delivered bar. No bar is late: a
micro-batch drops late rows by the watermark the previous batch ran
with, and the first batch runs with none, so only a third batch could
drop one; the traced run has no room for it.

A five-feed micro-batch takes ~25 s on a 4-core host (two feeds: ~10 s),
so the stream runs only here, once per traced run: its figures are
per-layer metrics of one cold and one second batch, not a gated
steady-state time.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import functions as F

import gen
import harness as H
from conftest import assert_frame_parity
from financial_market_data_analysis_spark.functions import features as FE
from financial_market_data_analysis_spark.ml import train_target_classifier
from financial_market_data_analysis_spark.operators.windows import indicator_suite
from financial_market_data_analysis_spark.sources.rest import rest_batch, rest_stream
from financial_market_data_analysis_spark.streaming import pipeline as P

N_BARS = 100  # one 5-minute bar per slot, 300 s apart
N_SECOND = 5  # bars in the second poll
TAIL_ROWS = 64  # the indicator hook's snapshot length (+19 warm-up rows read)
FEATURES = ["close", "volume", "vol_MA6", "vol_MA20", "price_MA20",
            "upper_BB_dist", "lower_BB_dist", "ATR"]
STOP_TIMEOUT_S = 120
# stateful operator (progress report's operatorName) → metric prefix
STATE_OPS = {"symmetricHashJoin": "join_volume", "dedupeWithinWatermark": "dedup"}


def book_features(deep):
    for side in ("bid", "ask"):
        deep = FE.book_weighted_average(deep, side)
    deep = FE.order_volume_imbalance(deep)
    deep = FE.delta_indicator(deep)
    deep = FE.micro_price(deep)
    deep = FE.bid_ask_spread(deep)
    return FE.relative_price_levels(deep)


def consumer_plan(feeds: dict):
    """decode → book features → band join → dedup → fill → day key.
    ``feeds`` maps feed name → decoded frame (stream or batch twin)."""
    feeds = {k: P.watermarked(v) for k, v in feeds.items()}
    joined = P.join_feeds(book_features(feeds["deep"]), {"volume": feeds["volume"]})
    # the batch twin has no watermark: a key-scoped dropDuplicates is
    # what dropDuplicatesWithinWatermark computes over a finite input
    deduped = (
        P.dedup_within_watermark(joined, ["deep_ts"]) if joined.isStreaming
        else joined.dropDuplicates(["deep_ts"])
    )
    return deduped.na.fill(0.0).withColumn("day", F.to_date("deep_ts"))


def run(ctx: H.Ctx) -> tuple[bool, dict]:
    """Land the polls, train, run the two-poll stream and check it.
    Returns (correct, record); per-layer figures go to ``ctx.layers``."""
    spark, L = ctx.spark, ctx.layers
    dirs = {f: ctx.path("live", "src", f, "") for f in gen.LIVE_FEEDS}
    wh, ckpt, pred = ctx.path("live", "wh"), ctx.path("live", "ckpt"), ctx.path("live", "pred")
    polls = gen.live_polls(ctx.seed, N_BARS, N_SECOND)
    staged = sum(gen.stage_poll(p, dirs, k) for k, p in enumerate(polls))

    # the batch twin (rest_batch through the same plan) over the landed
    # polls: the training history here and the expected warehouse in check()
    twin = consumer_plan({f: rest_batch(spark, dirs[f], f) for f in gen.LIVE_FEEDS}).localCheckpoint()
    with ctx.span("live.ml_train") as sp:
        hist = indicator_suite(twin, ["deep_ts"]).withColumn("bucket_start", F.unix_timestamp("deep_ts"))
        model, _, _, _ = train_target_classifier(hist, FEATURES)
    L["ml.train_s"] = sp.elapsed

    hook_s: dict[str, list[float]] = {"indicators": [], "predict": []}

    def timed(name, hook):
        def _h(batch, epoch_id):
            p = time.perf_counter()
            hook(batch, epoch_id)
            hook_s[name].append(time.perf_counter() - p)
        return _h

    hooks = P.compose_hooks(
        timed("indicators", P.incremental_indicators(
            wh, tail_rows=TAIL_ROWS, order_col="deep_ts", partition_col="day")),
        timed("predict", P.streaming_predictions(
            model, wh + "_indicators", pred, order_col="deep_ts", feature_cols=FEATURES)),
    )
    stream = consumer_plan({f: rest_stream(spark, dirs[f], f) for f in gen.LIVE_FEEDS})
    q = P.parquet_append_sink(stream, wh, ckpt, post_batch=hooks, trigger={"availableNow": True},
                              partition_by=("day",)).queryName(f"live_tail_{ctx.seed}").start()
    try:
        if not q.awaitTermination(STOP_TIMEOUT_S):
            raise RuntimeError(f"live tail: stream still running after {STOP_TIMEOUT_S} s")
    finally:
        q.stop()
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    if len(progress) != len(polls):
        raise RuntimeError(f"live tail: {len(progress)} batches for {len(polls)} polls")

    ok, detail = check(spark, twin, wh)
    last = progress[-1]
    for phase, key in (("queryPlanning", "query_planning_ms"), ("addBatch", "add_batch_ms"),
                       ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
                       ("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms")):
        L[f"streaming.{key}"] = last.durationMs.get(phase, 0)
    L["streaming.batch_s"] = last.durationMs["triggerExecution"] / 1000.0
    for o in last.stateOperators:
        name = STATE_OPS[o.operatorName]
        L[f"state.{name}.rows_total"] = o.numRowsTotal
        L[f"state.{name}.memory_bytes"] = o.memoryUsedBytes
        L[f"state.{name}.commit_ms"] = o.commitTimeMs
        L[f"state.{name}.update_ms"] = o.allUpdatesTimeMs
        L[f"state.{name}.dropped_by_watermark"] = o.numRowsDroppedByWatermark
    L["hooks.indicators_s"] = hook_s["indicators"][-1]
    L["hooks.predict_s"] = hook_s["predict"][-1]
    L["sink.warehouse_files"] = H.count_files(wh)
    record = {
        "inputs": {"polls": len(polls), "bars": N_BARS, "bytes_staged": staged,
                   "feeds": list(gen.LIVE_FEEDS)},
        "batch_s": [p.durationMs["triggerExecution"] / 1000.0 for p in progress],
        "batches": [(p.batchId, pd.Timestamp(p.timestamp).timestamp(),
                     pd.Timestamp(p.timestamp).timestamp() + p.durationMs["triggerExecution"] / 1000.0)
                    for p in progress],
        "detail": detail,
    }
    return ok, record


def check(spark, twin, wh: str) -> tuple[bool, dict]:
    """The warehouse equals the batch ``twin`` (``rest_batch`` through
    the same features, join, dedup and fill over the same staged files),
    which holds one row per bar; the indicator snapshot equals
    ``indicator_suite`` over the warehouse tail."""
    detail = {}
    got = spark.read.parquet(wh).drop("epoch_id", "day")
    twin = twin.drop("day")
    want = twin.toPandas()
    try:
        assert len(want) == N_BARS, f"twin holds {len(want)} bars, not {N_BARS}"
        assert_frame_parity(got, want)
        detail["warehouse_ok"] = True
    except AssertionError as e:
        detail["warehouse_ok"] = False
        detail["warehouse_error"] = str(e)[:500]
    tail = got.orderBy(F.desc("deep_ts")).limit(TAIL_ROWS + P.MAX_PRECEDING)
    snap = indicator_suite(tail.orderBy("deep_ts"), ["deep_ts"]).toPandas()
    snap = snap.sort_values("deep_ts").tail(TAIL_ROWS)
    try:
        written = spark.read.parquet(wh + "_indicators").drop("epoch_id", "day", "targets_complete")
        assert_frame_parity(written, snap)
        detail["snapshot_ok"] = True
    except AssertionError as e:
        detail["snapshot_ok"] = False
        detail["snapshot_error"] = str(e)[:500]
    return detail["warehouse_ok"] and detail["snapshot_ok"], detail
