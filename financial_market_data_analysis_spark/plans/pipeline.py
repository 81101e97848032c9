"""The flagship warehouse-assembly pipeline — the engine's equivalent of
the reference's whole dataflow (SURVEY.md §3.1-3.2) in one batch plan:

    5 pseudo-feeds (split from ``events`` by event_type)
      → per-bucket feed aggregation                (F10 + producer cadence)
      → buckets that carry all five feeds          (J1/J2 assembly)
      → order-book + candle + calendar features    (F1-F9)
      → W1-W8 indicator suite + forward targets    (the 8 MariaDB views)
      → fillna(0)                                  (P4)

One wide row per bucket — the ``stock_data_joined`` + ``join_statement``
analog (create_database.py:240-258), with every half of the reference's
split engine expressed in the same Spark plan.

Scale shape: one scan → one ``GROUP BY (series keys, bucket_start)`` →
projections → one window stage, sent to the JVM as ONE Spark SQL text
(``one_pass_sql``). Every feed aggregate carries ``FILTER (WHERE
event_type = '<feed>')`` and ``HAVING`` keeps only buckets where every
feed has rows, which is what the reference's four inner joins on the
bucket keep; the deep snapshot (the earliest event's id, value and
user) is three more aggregates of the same ``GROUP BY``, so the book is
a projection, not a join back. The aggregate is partial-aggregatable
(one shuffle on the bucket key) and the window suite is the only
ordered stage (partition it by symbol at real scale — here one series,
reference parity). The DuckDB oracles keep the literal per-feed joins,
so they check this rewrite independently.

The 6-hour bucket (vs the reference's 5 minutes) matches the driver
data's event density so every feed has rows in most buckets; the
operator chain is bucket-size-agnostic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from financial_market_data_analysis_spark.functions import features as FE
from financial_market_data_analysis_spark.operators.windows import indicator_suite_sql
from financial_market_data_analysis_spark.plans.book import LEVELS, book_oracle_cte, book_sql
from financial_market_data_analysis_spark.plans.candles import time_bucket_us_sql
from financial_market_data_analysis_spark.sources.batch import load_table

PIPELINE_BUCKET_SECONDS = 21_600  # 6 h — see module docstring

_FEED_TYPES = {
    "deep": "purchase",
    "candle": "click",
    "vix": "view",
    "cot": "signup",
    "ind": "error",
}

# feed → its per-bucket columns, each an aggregate over that feed's events
_FEED_AGGS = {
    # representative snapshot per bucket (earliest event); the synthetic
    # 7-level book is derived from it. Named apart from the event
    # columns so the other aggregates still read the inputs.
    "deep": {
        "snap_event_id": "min(event_id)",
        "snap_value": "min_by(value, event_id)",
        "snap_user_id": "min_by(user_id, event_id)",
    },
    "candle": {
        "open": "min_by(value, event_id)",
        "high": "max(value)",
        "low": "min(value)",
        "close": "max_by(value, event_id)",
        "volume": "count(1)",
    },
    "vix": {"vix": "min_by(value, event_id)"},
    "cot": {"cot_pos": "min_by(value, event_id)", "cot_chg": "avg(value)"},
    "ind": {"ind_actual": "sum(value)", "ind_count": "count(1)"},
}


def feed_filter(kind: str) -> str:
    """The SQL predicate selecting one pseudo-feed's events."""
    return f"event_type = '{_FEED_TYPES[kind]}'"


def feed_aggs(kinds: Sequence[str]) -> dict[str, str]:
    """column → FILTERed aggregate for the named feeds' own columns."""
    return {
        name: f"{agg} FILTER (WHERE {feed_filter(kind)})"
        for kind in kinds
        for name, agg in _FEED_AGGS[kind].items()
    }


def bar_stages(
    partition_cols: Sequence[str] = (), extra_features: dict[str, str] | None = None
) -> list[dict[str, str]]:
    """The projection stages over the per-bucket aggregate: the
    snapshot's book with F1 and F8; then F2-F6 over the book and F9 (plus
    ``extra_features``); then the W1-W8 suite over the bucket order."""
    ts = "timestamp_seconds(bucket_start)"
    return [
        {
            **book_sql(event_id="snap_event_id", user_id="snap_user_id", value="snap_value"),
            **FE.wick_sql(),
            **FE.calendar_sql(ts),
        },
        {
            "bids_ord_WA": FE.book_weighted_average_sql("bid"),
            "asks_ord_WA": FE.book_weighted_average_sql("ask"),
            "vol_imbalance": FE.order_volume_imbalance_sql(),
            "delta": FE.delta_indicator_sql(),
            "micro_price": FE.micro_price_sql(),
            "spread": FE.bid_ask_spread_sql(),
            **FE.one_hot_calendar_sql(),
            **(extra_features or {}),
        },
        *indicator_suite_sql(["bucket_start"], partition_cols=partition_cols, delta_col="delta"),
    ]


def one_pass_sql(
    aggs: dict[str, str],
    stages: list[dict[str, str]],
    out: dict[str, str],
    group_cols: Sequence[str] = (),
) -> str:
    """One Spark SQL text over the ``{events}`` frame: one ``GROUP BY
    (group_cols, bucket_start)`` computing ``aggs``, keeping the buckets
    where every feed has rows (the deep feed's snapshot id, which the
    book derives from, must be non-NULL) and the keys are non-NULL, as
    inner joins on them would; each stage's columns added over the
    previous stage; and ``out`` (name → expression) selected last."""
    keys = [*group_cols, "bucket_start"]
    bucket = time_bucket_us_sql("ts_us", PIPELINE_BUCKET_SECONDS)
    present = [f"{k} IS NOT NULL" for k in keys] + [
        f"min(event_id) FILTER (WHERE {feed_filter(k)}) IS NOT NULL" if k == "deep"
        else f"count(1) FILTER (WHERE {feed_filter(k)}) > 0"
        for k in _FEED_TYPES
    ]
    types = ", ".join(f"'{t}'" for t in _FEED_TYPES.values())

    def cols(d: dict[str, str]) -> str:
        return ",\n    ".join(f"{sql} AS {name}" for name, sql in d.items())

    ctes = [
        f"src AS (SELECT *, {bucket} AS bucket_start\nFROM {{events}} WHERE event_type IN ({types}))",
        f"s0 AS (SELECT {', '.join(keys)},\n    {cols(aggs)}\nFROM src GROUP BY {', '.join(keys)}"
        f"\nHAVING {' AND '.join(present)})",
    ]
    ctes += [f"s{i} AS (SELECT *,\n    {cols(st)}\nFROM s{i - 1})" for i, st in enumerate(stages, 1)]
    body = ",\n".join(ctes)
    return f"WITH {body}\nSELECT {cols(out)}\nFROM s{len(stages)}"


BARS_JOINED_COLS = [
    "bucket_start", "open", "high", "low", "close", "volume",
    "candle_size", "wick_size", "wick_prct",
    "bids_ord_WA", "asks_ord_WA", "vol_imbalance", "delta",
    "micro_price", "spread",
    "vix", "cot_pos", "cot_chg", "ind_actual", "ind_count",
    "day_of_week", "week_of_month", "session_start",
    "day_1", "day_2", "day_3", "day_4",
    "week_1", "week_2", "week_3", "week_4",
    "vol_MA6", "vol_MA20", "price_MA20", "delta_MA12",
    "upper_BB_dist", "lower_BB_dist",
    "stoch", "price_change", "ATR", "up1", "down1", "up2", "down2",
]


def bars_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One bar per bucket with all five feeds: the narrow
    ``stock_data_joined`` row, built by ``one_pass_sql``."""
    text = one_pass_sql(
        feed_aggs(list(_FEED_TYPES)), bar_stages(), {c: c for c in BARS_JOINED_COLS}
    )
    return spark.sql(text, events=load_table(spark, "events", sf_dir)).na.fill(0)


def bars_joined_oracle() -> str:
    """DuckDB mirror, CTE for CTE."""
    bs = PIPELINE_BUCKET_SECONDS
    bkt = f"CAST(epoch(time_bucket(INTERVAL '{bs} seconds', ts)) AS BIGINT)"
    book_inner = book_oracle_cte().replace("FROM events", "FROM deep_snap")
    wa_bid = _wa_sql("bid")
    wa_ask = _wa_sql("ask")
    asks = " + ".join(f"COALESCE(ask_{i}_size, 0)" for i in range(7))
    bids = " + ".join(f"COALESCE(bid_{i}_size, 0)" for i in range(7))
    imb = "(bid_0_size / (bid_0_size + ask_0_size))"
    return f"""
        WITH deep_snap AS (
            SELECT {bkt} AS bucket_start,
                   min(event_id) AS event_id,
                   arg_min(value, event_id) AS value,
                   arg_min(user_id, event_id) AS user_id,
                   make_timestamp({bkt} * 1000000) AS ts
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        book AS (
            SELECT b.*, d.bucket_start FROM ({book_inner}) b
            JOIN deep_snap d ON b.event_id = d.event_id
        ),
        deep_feats AS (
            SELECT bucket_start,
                {wa_bid} AS bids_ord_WA,
                {wa_ask} AS asks_ord_WA,
                (bid_0_size - ask_0_size) / (bid_0_size + ask_0_size) AS vol_imbalance,
                ({asks}) - ({bids}) AS delta,
                {imb} * ask_0 + (1 - {imb}) * bid_0 AS micro_price,
                CASE WHEN bid_0 <> 0 AND ask_0 <> 0 THEN bid_0 - ask_0
                     ELSE 0 END AS spread
            FROM book
        ),
        candle AS (
            SELECT {bkt} AS bucket_start,
                   arg_min(value, event_id) AS open,
                   max(value) AS high,
                   min(value) AS low,
                   arg_max(value, event_id) AS close,
                   count(*) AS volume
            FROM events WHERE event_type = 'click' GROUP BY 1
        ),
        vix AS (
            SELECT {bkt} AS bucket_start, arg_min(value, event_id) AS vix
            FROM events WHERE event_type = 'view' GROUP BY 1
        ),
        cot AS (
            SELECT {bkt} AS bucket_start,
                   arg_min(value, event_id) AS cot_pos, avg(value) AS cot_chg
            FROM events WHERE event_type = 'signup' GROUP BY 1
        ),
        ind AS (
            SELECT {bkt} AS bucket_start,
                   sum(value) AS ind_actual, count(*) AS ind_count
            FROM events WHERE event_type = 'error' GROUP BY 1
        ),
        bars AS (
            SELECT c.bucket_start, c.open, c.high, c.low, c.close, c.volume,
                   c.high - c.low AS candle_size,
                   CASE WHEN c.close >= c.open THEN c.high - c.close
                        ELSE c.low - c.close END AS wick_size,
                   (CASE WHEN c.close >= c.open THEN c.high - c.close
                         ELSE c.low - c.close END) / (c.high - c.low) AS wick_prct,
                   d.bids_ord_WA, d.asks_ord_WA, d.vol_imbalance, d.delta,
                   d.micro_price, d.spread,
                   v.vix, t.cot_pos, t.cot_chg, i.ind_actual, i.ind_count
            FROM candle c
            JOIN deep_feats d USING (bucket_start)
            JOIN vix v USING (bucket_start)
            JOIN cot t USING (bucket_start)
            JOIN ind i USING (bucket_start)
        ),
        cal AS (
            SELECT *,
                CAST(isodow(make_timestamp(bucket_start * 1000000)) AS INT)
                    AS day_of_week,
                CAST(ceil(date_part('day', make_timestamp(bucket_start * 1000000))
                     / 7) AS INT) AS week_of_month,
                CASE WHEN hour(make_timestamp(bucket_start * 1000000)) >= 11
                      AND minute(make_timestamp(bucket_start * 1000000)) >= 30
                     THEN 0 ELSE 1 END AS session_start
            FROM bars
        ),
        onehot AS (
            SELECT *,
                CAST(day_of_week = 1 AS INT) AS day_1,
                CAST(day_of_week = 2 AS INT) AS day_2,
                CAST(day_of_week = 3 AS INT) AS day_3,
                CAST(day_of_week = 4 AS INT) AS day_4,
                CAST(week_of_month = 1 AS INT) AS week_1,
                CAST(week_of_month = 2 AS INT) AS week_2,
                CAST(week_of_month = 3 AS INT) AS week_3,
                CAST(week_of_month = 4 AS INT) AS week_4
            FROM cal
        ),
        ind_w AS (
            SELECT *,
                avg(volume) OVER (ORDER BY bucket_start
                    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS vol_MA6,
                avg(volume) OVER (ORDER BY bucket_start
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vol_MA20,
                avg(delta) OVER (ORDER BY bucket_start
                    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS delta_MA12,
                avg(close) OVER w20 AS price_MA20,
                (avg(close) OVER w20 + 2 * stddev_pop(close) OVER w20) - close
                    AS upper_BB_dist,
                close - (avg(close) OVER w20 - 2 * stddev_pop(close) OVER w20)
                    AS lower_BB_dist,
                (close - min(close) OVER w15)
                    / (max(close) OVER w15 - min(close) OVER w15) AS stoch,
                close - lag(close, 1) OVER (ORDER BY bucket_start) AS price_change,
                avg(high - low) OVER w15 AS ATR
            FROM onehot
            WINDOW
                w20 AS (ORDER BY bucket_start ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
                w15 AS (ORDER BY bucket_start ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
        ),
        tgt AS (
            SELECT *,
                CASE WHEN lead(close, 8) OVER w >= close + 1.5 * ATR
                     THEN 1 ELSE 0 END AS up1,
                CASE WHEN lead(close, 8) OVER w <= close - 1.5 * ATR
                     THEN 1 ELSE 0 END AS down1,
                CASE WHEN lead(close, 15) OVER w >= close + 3 * ATR
                     THEN 1 ELSE 0 END AS up2,
                CASE WHEN lead(close, 15) OVER w <= close - 3 * ATR
                     THEN 1 ELSE 0 END AS down2
            FROM ind_w
            WINDOW w AS (ORDER BY bucket_start)
        )
        SELECT bucket_start, open, high, low, close, volume,
               candle_size, wick_size, COALESCE(wick_prct, 0) AS wick_prct,
               COALESCE(bids_ord_WA, 0) AS bids_ord_WA,
               COALESCE(asks_ord_WA, 0) AS asks_ord_WA,
               COALESCE(vol_imbalance, 0) AS vol_imbalance,
               delta, COALESCE(micro_price, 0) AS micro_price, spread,
               vix, cot_pos, cot_chg, ind_actual, ind_count,
               day_of_week, week_of_month, session_start,
               day_1, day_2, day_3, day_4, week_1, week_2, week_3, week_4,
               vol_MA6, vol_MA20, price_MA20, delta_MA12,
               upper_BB_dist, lower_BB_dist,
               COALESCE(stoch, 0) AS stoch,
               COALESCE(price_change, 0) AS price_change, ATR,
               up1, down1, up2, down2
        FROM tgt
    """


def _wa_sql(side: str) -> str:
    num = " + ".join(
        f"COALESCE(({side}_0 - {side}_{i}) * {side}_{i}_size, 0)" for i in range(LEVELS)
    )
    den = " + ".join(f"COALESCE({side}_{i}_size, 0)" for i in range(LEVELS))
    return f"(({num}) / ({den}))"
