"""Candle (OHLCV bar) construction from the generic event stream.

The reference receives pre-built bars from AlphaVantage
(getMarketData.py:139-248) and buckets every feed onto a 5-minute
tumbling key with ``floor(unix_timestamp(ts)/300)*300``
(spark_consumer.py:110-111 — operator F10). The engine generalizes
that: any (ts, value) stream → OHLCV bars via one partial-aggregatable
groupBy, which is how a 100 TB tick table becomes bars in one shuffle.

Determinism: open/close are selected with ``min_by``/``max_by`` on a
unique sequence column (event_id), not on ts, so results are stable
under duplicate timestamps in any engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKET_SECONDS = 300  # 5-minute tumbling key, spark_consumer.py:110-111
# multi-resolution levels (a10); each divides the next, so a coarse
# bucket never splits a fine bar
MULTIRES_GRANULARITIES = (300, 900, 3600)


def time_bucket(ts_col: str | Column, seconds: int = BUCKET_SECONDS) -> Column:
    """F10 — tumbling bucket key as epoch seconds (BIGINT).

    Kept as a long, not a timestamp, so the key is timezone-proof and
    cheap to hash-partition on.
    """
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return (F.floor(F.unix_timestamp(c) / seconds) * seconds).cast("long")


def time_bucket_us_sql(ts_us_col: str, seconds: int = BUCKET_SECONDS) -> str:
    """F10 over an epoch-microseconds long column, as Spark SQL. Integer
    arithmetic keeps the bucketing exact — epoch micros exceed double's
    2^53 integer range, so float division could mis-bucket values near a
    boundary. ``div`` truncates toward zero, so a pre-1970 negative
    timestamp gets an explicit -1 correction to FLOOR-align the same
    way ``time_bucket``/DuckDB ``time_bucket`` do (r5 advice)."""
    us = seconds * 1_000_000
    return (
        f"CAST((({ts_us_col} div {us})"
        f" - (CASE WHEN {ts_us_col} % {us} < 0 THEN 1 ELSE 0 END))"
        f" * {seconds} AS BIGINT)"
    )


def time_bucket_us(ts_us_col: str, seconds: int = BUCKET_SECONDS) -> Column:
    """``time_bucket_us_sql`` as a Column."""
    return F.expr(time_bucket_us_sql(ts_us_col, seconds))


def candles_from_events(events: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Aggregate a (seq, ts, value) stream into OHLCV bars per bucket.

    All six aggregates are partial-aggregatable (map-side combine), so
    the plan is scan → partial agg → single shuffle on bucket → final
    agg; no window functions, no sort. ``group_cols`` adds per-series
    keys (symbol) — the shape a 100 TB multi-symbol tick table needs so
    every downstream window can partition by symbol.
    """
    if "ts_us" in events.columns:
        bucket = time_bucket_us("ts_us", BUCKET_SECONDS).alias("bucket_start")
    else:
        bucket = time_bucket("ts", BUCKET_SECONDS).alias("bucket_start")
    return events.groupBy(*group_cols, bucket).agg(
        F.min_by("value", "event_id").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "event_id").alias("close"),
        F.sum("value").alias("volume"),
        F.count(F.lit(1)).alias("n_events"),
    )


def candles_multires(events: DataFrame) -> DataFrame:
    """Hierarchical multi-resolution OHLCV rollup (the hypertable
    continuous-aggregate pattern): the raw stream is scanned ONCE into
    base-granularity bars, and every coarser level re-aggregates the
    level below it — at 100 TB the 15-minute and hourly views cost a
    shuffle over the (already tiny) bar table, not another full scan
    of the tick data.

    Exact composition, not an approximation: each bar carries its
    open/close *selector* sequence numbers (``min(seq)`` / ``max(seq)``)
    so a coarse bar's open is ``min_by(open, open_seq)`` — the value at
    the globally smallest sequence number in the coarse bucket, exactly
    what a direct aggregation of the raw stream would select. high/low/
    volume/n_events compose as max/min/sum over the levels of
    ``MULTIRES_GRANULARITIES``.

    Returns the union of all levels: (granularity, bucket_start, open,
    high, low, close, volume, n_events).
    """
    g0, *coarser = MULTIRES_GRANULARITIES
    if "ts_us" in events.columns:
        bucket = time_bucket_us("ts_us", g0)
    else:
        bucket = time_bucket("ts", g0)
    base = events.groupBy(bucket.alias("bucket_start")).agg(
        F.min_by("value", "event_id").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "event_id").alias("close"),
        F.sum("value").alias("volume"),
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("open_seq"),
        F.max("event_id").alias("close_seq"),
    )
    # Each level re-reads the one below; localCheckpoint the base bars
    # so the raw-event scan is paid once, not once per level in the
    # unioned plan (the whole point of the hierarchical shape).
    base = base.localCheckpoint(eager=True)
    out_cols = [
        "granularity", "bucket_start",
        "open", "high", "low", "close", "volume", "n_events",
    ]
    levels = [base.withColumn("granularity", F.lit(g0)).select(out_cols)]
    prev = base
    for g in coarser:
        prev = prev.groupBy(
            # FLOOR division, not `div` (truncation toward zero): a
            # pre-1970 negative bucket_start must floor-align the same
            # way time_bucket does, or the coarse levels would
            # mis-bucket the row (r5 advice). Same exact-integer
            # div-plus-negative-remainder form as time_bucket_us — no
            # double round-trip, so correctness isn't silently bounded
            # to 2^53 (r6 review).
            F.expr(
                f"CAST(((bucket_start div {g})"
                f" - (CASE WHEN bucket_start % {g} < 0 THEN 1 ELSE 0 END))"
                f" * {g} AS BIGINT)"
            ).alias("bucket_start")
        ).agg(
            F.min_by("open", "open_seq").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "close_seq").alias("close"),
            F.sum("volume").alias("volume"),
            F.sum("n_events").alias("n_events"),
            F.min("open_seq").alias("open_seq"),
            F.max("close_seq").alias("close_seq"),
        )
        levels.append(prev.withColumn("granularity", F.lit(g)).select(out_cols))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def candles_multires_oracle_sql() -> str:
    """DuckDB twin of ``candles_multires``: each level aggregated
    DIRECTLY from the raw events (arg_min/arg_max on event_id) — so the
    oracle checks that the hierarchical composition equals the
    from-scratch aggregation at every granularity. Volume is a sum of
    doubles whose addition grouping differs between the composed and
    direct forms, so BOTH sides round it to 6 decimals (the x19/x33
    float precedent); the OHLC columns are selections and stay exact.
    """
    parts = []
    for g in MULTIRES_GRANULARITIES:
        parts.append(f"""
        SELECT
            {g} AS granularity,
            CAST(epoch(time_bucket(INTERVAL '{g} seconds', ts)) AS BIGINT)
                AS bucket_start,
            arg_min(value, event_id) AS open,
            max(value) AS high,
            min(value) AS low,
            arg_max(value, event_id) AS close,
            round(sum(value), 6) AS volume,
            count(*) AS n_events
        FROM events
        GROUP BY 1, 2
        """)
    return " UNION ALL ".join(parts)


def candles_oracle_sql() -> str:
    """DuckDB-equivalent CTE body for ``candles_from_events`` over the
    pre-registered ``events`` view; reused by every indicator oracle."""
    return f"""
    SELECT
        CAST(epoch(time_bucket(INTERVAL '{BUCKET_SECONDS} seconds', ts)) AS BIGINT) AS bucket_start,
        arg_min(value, event_id) AS open,
        max(value) AS high,
        min(value) AS low,
        arg_max(value, event_id) AS close,
        sum(value) AS volume,
        count(*) AS n_events
    FROM events
    GROUP BY 1
    """
