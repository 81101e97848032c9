"""REST poll sources (S3/S4): the reference's HTTP GET poll loops —
IEX `/deep/book` (getMarketData.py:82-136) and AlphaVantage intraday
bars (getMarketData.py:139-248) — re-expressed as Spark micro-batch
ingestion.

The reference couples fetching, reshaping, and Kafka production in one
driver-side Python loop. Here the poller only LANDS raw documents: each
poll GETs JSON and appends it as one single-row parquet file to a
staging directory (mtimes strictly increasing, so FileStreamSource
replays polls in arrival order), and ALL reshaping happens in Spark via
``json_decode_flatten`` with the feed-schema registry of the
reference's Kafka feeds — the transformation path is byte-identical
whether a document arrived from a REST poll or a replayed directory.

Scale shape: the poll loop is inherently driver-side (one small HTTP
GET per interval — the reference polls once per 300 s per feed,
BASELINE.md), so nothing here touches executors until the staged files
enter the normal streaming plan; a fleet of feeds is a fleet of
pollers writing to per-topic directories consumed by one streaming
query each, exactly the reference's one-reader-per-topic topology
(spark_consumer.py:94-101).
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from financial_market_data_analysis_spark.functions.schemas import FEED_SCHEMAS
from financial_market_data_analysis_spark.sources.kafka import json_decode_flatten

# S4's delayed-data policy (getMarketData.py:225-236): accept the bar
# but warn when the feed's latest timestamp lags wall clock past this.
MAX_DELAY_WARN_S = 240

_RAW_SCHEMA = "value string, polled_at_us long"


def fetch_json(url: str) -> str:
    """One HTTP GET returning the response body as text — the unit the
    reference wraps in requests.get (getMarketData.py:96, 186). Kept
    trivially small so tests (and air-gapped runs) can inject a fake."""
    with urllib.request.urlopen(url, timeout=10.0) as resp:  # noqa: S310
        return resp.read().decode("utf-8")


def _staleness_check(body: str, ts_field: str, max_delay_s: float) -> None:
    """S4's accept-but-warn freshness gate: parse the payload's own
    event timestamp (top-level ``ts``, the feed contract in
    functions/schemas.py — a UTC wall-clock string) and warn when it
    trails wall clock. Never raises: any payload shape this can't read
    is accepted silently and surfaces downstream in ``from_json``."""
    import calendar

    try:
        doc = json.loads(body)
        if not isinstance(doc, dict):
            return
        raw_ts = doc.get(ts_field)
        if not isinstance(raw_ts, str):
            return
        # calendar.timegm, NOT time.mktime: the feed contract is UTC
        # and mktime would apply the host's local offset to the lag
        event_s = calendar.timegm(time.strptime(raw_ts, "%Y-%m-%d %H:%M:%S"))
    except (ValueError, json.JSONDecodeError):
        return
    lag = time.time() - event_s
    if lag > max_delay_s:
        warnings.warn(
            f"REST payload is {lag:.0f}s old (> {max_delay_s:.0f}s): "
            f"{ts_field}={raw_ts!r} — accepted anyway "
            "(delayed-data policy, getMarketData.py:225-236)",
            stacklevel=3,
        )


def poll_to_staging(
    spark: SparkSession,
    url: str,
    out_dir: str,
    n_polls: int = 1,
    interval_s: float = 0.0,
    fetch: Callable[[str], str] = fetch_json,
    ts_field: str = "ts",
    max_delay_s: float = MAX_DELAY_WARN_S,
) -> list[str]:
    """S3/S4 — the poll loop: ``n_polls`` × (GET → stage one raw
    single-row parquet file). Returns the staged file paths in poll
    order. Files carry (value: raw JSON text, polled_at_us: wall-clock
    epoch µs) and get strictly increasing mtimes so the streaming
    reader's file ordering matches poll order by construction (the
    same guarantee the availableNow harnesses rely on).

    ``interval_s`` is the reference's inter-poll sleep (300 s in
    production per BASELINE.md; 0 in tests). ``fetch`` is injectable
    for fixture servers / air-gapped replay.
    """
    os.makedirs(out_dir, exist_ok=True)
    staged: list[str] = []
    # Seed the mtime floor from files already staged (a previous poll
    # session into the same directory): a fresh session must land its
    # files strictly AFTER everything already there, or the streaming
    # reader would replay new polls before old ones.
    existing = [
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    ]
    last_mtime = max((os.path.getmtime(p) for p in existing), default=0.0)
    for i in range(n_polls):
        if i > 0 and interval_s > 0:
            time.sleep(interval_s)
        body = fetch(url)
        _staleness_check(body, ts_field, max_delay_s)
        polled_us = int(time.time() * 1_000_000)
        before = set(os.listdir(out_dir))
        (
            spark.createDataFrame([(body, polled_us)], _RAW_SCHEMA)
            .coalesce(1)
            .write.mode("append")
            .parquet(out_dir)
        )
        new = [
            os.path.join(out_dir, f)
            for f in set(os.listdir(out_dir)) - before
            if f.endswith(".parquet")
        ]
        for p in new:
            mt = max(os.path.getmtime(p), last_mtime + 1)
            os.utime(p, (mt, mt))
            last_mtime = mt
            staged.append(p)
    return staged


def rest_stream(spark: SparkSession, staging_dir: str, topic: str) -> DataFrame:
    """Streaming reader over a poll-staging directory, decoded through
    the SAME feed-schema registry as the Kafka reader (one source of
    truth for stream + warehouse schemas, SURVEY §1.3): each staged
    file is one micro-batch (poll order == file mtime order)."""
    raw = (
        spark.readStream.schema(_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging_dir)
    )
    return json_decode_flatten(raw, FEED_SCHEMAS[topic]())


def rest_batch(spark: SparkSession, staging_dir: str, topic: str) -> DataFrame:
    """Batch twin of ``rest_stream`` — replay the whole staging
    directory through the identical decode projection (the engine's
    batch/stream unification: one logical plan, two execution modes)."""
    raw = spark.read.schema(_RAW_SCHEMA).parquet(staging_dir)
    return json_decode_flatten(raw, FEED_SCHEMAS[topic]())
