"""The FULL-WIDTH warehouse row — the reference's ~109-feature
``stock_data_joined`` point (create_database.py:69-73; SURVEY.md §1.4)
assembled as one Spark plan, with every column family routed through
the real schema registry:

    26 order-book columns (7+7 sizes, 6+6 relative depth prices)
  +  6 book-derived features (F2-F6)
  +  8 candle columns (OHLCV + wick geometry, F1)
  +  1 VIX
  + 12 COT columns           (COT_GROUPS × COT_MEASURES registry)
  + 39 indicator columns     (13 INDICATOR_EVENTS × 3 INDICATOR_VALUES)
  + 11 calendar columns      (F8 + F9 one-hots)
  +  9 window indicators     (W1-W7 views incl. delta_MA12)
  +  4 LEAD targets          (W8)
  → 116 feature columns + ``bucket_start`` = 117 columns.

The COT and indicator feeds are synthesized deterministically from the
driver's ``events`` table (the same stand-in strategy as
``plans/book.py::book_sql``): trader groups split the signup feed by a
``user_id`` modulus; each of the 13 calendar events owns the
``user_id % 13`` residue slice of the error feed, with
``actual`` = latest value, ``prev_actual_diff`` = previous − actual
(the reference's orientation quirk, economic_indicators_spider.py:196),
``forc_actual_diff`` = forecast-proxy − actual, NULL → 0 via the
template default (config.py:60-65) / fillna (P4).

Single-source parity: the COT and indicator aggregate fragments below
are SQL text used by both engines — the engine's one SQL text (with
the feed predicate ANDed into each ``FILTER``) and the DuckDB oracle
(over its pre-filtered feed) share ``FILTER (WHERE …)`` clauses and
``min_by``/``max_by``, so the wide row stays hash-checkable end to end.
Everything else in the oracle — feeds, joins, book, features, windows —
is written independently of the engine's text.

Scale shape: ``plans/pipeline.py::one_pass_sql`` — one scan → one
``GROUP BY (series keys, bucket_start)`` whose every aggregate is
``FILTER``ed to its feed, with ``HAVING`` keeping the buckets that carry
all five feeds (what the reference's inner joins keep) → projections →
one window stage, sent to the JVM as one Spark SQL text. The deep
snapshot is three aggregates of that ``GROUP BY``, so the book is a
projection with no join back; the window suite is the only ordered
stage (partitioned by symbol on the scale path, reference-parity
unpartitioned here). Plan: one parquet scan and no join; the JVM
parses the text in one call, so building the plan costs tens of Py4J
round trips, not one per Column operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.functions import features as FE
from financial_market_data_analysis_spark.functions.schemas import (
    COT_GROUPS,
    COT_MEASURES,
    INDICATOR_EVENTS,
    INDICATOR_VALUES,
)
from financial_market_data_analysis_spark.plans.book import book_oracle_cte
from financial_market_data_analysis_spark.plans.pipeline import (
    PIPELINE_BUCKET_SECONDS,
    _wa_sql,
    bar_stages,
    feed_aggs,
    feed_filter,
    one_pass_sql,
)
from financial_market_data_analysis_spark.sources.batch import load_table

# trader-group membership predicate: user_id modulus per group
_COT_GROUP_MOD = {"asset": 2, "leveraged": 3}


def _where(feed: str | None, pred: str) -> str:
    return f"FILTER (WHERE {feed} AND {pred})" if feed else f"FILTER (WHERE {pred})"


def cot_agg_fragments(feed: str | None = None) -> dict[str, str]:
    """column → aggregate-SQL fragment for the 12 COT columns, generated
    from the registry (COT_GROUPS × COT_MEASURES → same names as
    ``cot_schema()``'s flattened leaves). Long/short positions split the
    feed by the group's membership predicate; ``feed``, when given, is
    ANDed into every ``FILTER`` (the engine's one-aggregate plan reads
    all feeds at once; the oracle pre-filters its feed and passes none)."""
    frags: dict[str, str] = {}
    for g in COT_GROUPS:
        m = _COT_GROUP_MOD[g]
        longs = _where(feed, f"user_id % {m} = 0")
        shorts = _where(feed, f"user_id % {m} <> 0")
        tmpl = {
            "long_pos": f"CAST(count(*) {longs} AS INT)",
            "short_pos": f"CAST(count(*) {shorts} AS INT)",
            "long_pos_change": f"sum(value) {longs}",
            "short_pos_change": f"sum(value) {shorts}",
            "long_open_int": f"avg(value) {longs}",
            "short_open_int": f"avg(value) {shorts}",
        }
        for name, _t in COT_MEASURES:
            frags[f"{g}_{name}"] = tmpl[name]
    return frags


def indicator_agg_fragments(feed: str | None = None) -> dict[str, str]:
    """column → aggregate-SQL fragment for the 39 indicator columns
    (13 INDICATOR_EVENTS × INDICATOR_VALUES, names identical to
    ``indicator_schema()``'s flattened leaves). Event j owns the
    ``user_id % 13 = j`` slice of the feed; ``feed`` as in
    ``cot_agg_fragments``."""
    n = len(INDICATOR_EVENTS)
    frags: dict[str, str] = {}
    for j, ev in enumerate(INDICATOR_EVENTS):
        w = _where(feed, f"user_id % {n} = {j}")
        actual = f"max_by(value, event_id) {w}"
        prev = f"min_by(value, event_id) {w}"
        tmpl = {
            "actual": actual,
            # previous − actual (NOT actual − previous): the reference's
            # orientation, economic_indicators_spider.py:196
            "prev_actual_diff": f"{prev} - {actual}",
            "forc_actual_diff": f"avg(value) {w} - {actual}",
        }
        for v in INDICATOR_VALUES:
            frags[f"{ev}_{v}"] = tmpl[v]
    return frags


BOOK_SIZE_COLS = [f"{s}_{i}_size" for s in ("bid", "ask") for i in range(7)]
BOOK_REL_COLS = [f"{s}_{i}" for s in ("bid", "ask") for i in range(1, 7)]
BOOK_FEAT_COLS = [
    "bids_ord_WA", "asks_ord_WA", "vol_imbalance", "delta", "micro_price", "spread",
]
CANDLE_COLS = [
    "open", "high", "low", "close", "volume",
    "candle_size", "wick_size", "wick_prct",
]
COT_COLS = [f"{g}_{m}" for g in COT_GROUPS for m, _t in COT_MEASURES]
IND_COLS = [f"{e}_{v}" for e in INDICATOR_EVENTS for v in INDICATOR_VALUES]
CAL_COLS = [
    "day_of_week", "week_of_month", "session_start",
    "day_1", "day_2", "day_3", "day_4",
    "week_1", "week_2", "week_3", "week_4",
]
WINDOW_COLS = [
    "vol_MA6", "vol_MA20", "price_MA20", "delta_MA12",
    "upper_BB_dist", "lower_BB_dist", "stoch", "price_change", "ATR",
]
TARGET_COLS = ["up1", "down1", "up2", "down2"]

FULL_ROW_COLS = (
    ["bucket_start", "vix"]
    + CANDLE_COLS
    + BOOK_SIZE_COLS
    + BOOK_REL_COLS
    + BOOK_FEAT_COLS
    + COT_COLS
    + IND_COLS
    + CAL_COLS
    + WINDOW_COLS
    + TARGET_COLS
)


N_SYMBOLS = 4  # synthetic series count for the partitioned-scale variant


def full_row(
    spark: SparkSession, sf_dir: str, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The assembled full-width warehouse row (117 columns: 116
    features + ``bucket_start``), as one ``one_pass_sql`` text. F7's
    relative depth prices replace the absolute ones the other book
    features read, so they are computed as ``rel_*`` and renamed last.

    With ``group_cols`` (the partitioned-scale path, SURVEY.md §7.3)
    the aggregate keys on (series, bucket) and the W1-W8 window stage
    partitions by the series keys — NO global single-partition sort
    anywhere in the plan (asserted by tests/test_scale.py). The
    reference-parity default (no groups) keeps the single unpartitioned
    series the MariaDB views define."""
    ev = load_table(spark, "events", sf_dir)
    if group_cols:
        # synthetic series key: events split into N_SYMBOLS series
        ev = ev.withColumn("symbol", F.expr(f"CAST(user_id % {N_SYMBOLS} AS INT)"))
    rel = {f"rel_{c}": sql for c, sql in FE.relative_price_levels_sql().items()}
    aggs = {
        **feed_aggs(("deep", "candle", "vix")),
        **cot_agg_fragments(feed_filter("cot")),
        **indicator_agg_fragments(feed_filter("ind")),
    }
    out = {c: f"rel_{c}" if c in BOOK_REL_COLS else c for c in (*group_cols, *FULL_ROW_COLS)}
    text = one_pass_sql(aggs, bar_stages(group_cols, rel), out, group_cols)
    return spark.sql(text, events=ev).na.fill(0)


# ---------------------------------------------------------------------------
# DuckDB oracle — the literal per-feed joins; it shares only the COT and
# indicator fragment builders with the engine


def _wide_feed_sql(
    event_type: str,
    frags: dict[str, str],
    bkt: str,
    sym: str = "",
    grp: str = "GROUP BY 1",
) -> str:
    cols = ",\n                   ".join(
        f"{frag} AS {name}" for name, frag in frags.items()
    )
    return (
        f"SELECT {bkt} AS bucket_start,\n                   {sym}{cols}\n"
        f"            FROM events WHERE event_type = '{event_type}' {grp}"
    )


def full_row_oracle(partitioned: bool = False) -> str:
    """DuckDB mirror of ``full_row``. ``partitioned=True`` mirrors the
    ``group_cols=("symbol",)`` engine variant: every feed aggregates per
    (symbol, bucket), joins co-key on both, and every window adds
    PARTITION BY symbol."""
    bs = PIPELINE_BUCKET_SECONDS
    bkt = f"CAST(epoch(time_bucket(INTERVAL '{bs} seconds', ts)) AS BIGINT)"
    book_inner = book_oracle_cte().replace("FROM events", "FROM deep_snap")
    asks = " + ".join(f"COALESCE(ask_{i}_size, 0)" for i in range(7))
    bids = " + ".join(f"COALESCE(bid_{i}_size, 0)" for i in range(7))
    imb = "(bid_0_size / (bid_0_size + ask_0_size))"
    rel = ",\n                ".join(
        f"CASE WHEN {s}_{i} <> 0 THEN {s}_0 - {s}_{i} ELSE 0 END AS {s}_{i}"
        for s in ("bid", "ask")
        for i in range(1, 7)
    )
    sizes = ", ".join(BOOK_SIZE_COLS)
    # partitioned-variant splices: a symbol projection + group key in
    # every feed, a co-key join, and PARTITION BY in every window
    sym = f"CAST(user_id % {N_SYMBOLS} AS INT) AS symbol,\n                   " if partitioned else ""
    grp = "GROUP BY 1, 2" if partitioned else "GROUP BY 1"
    using = "USING (symbol, bucket_start)" if partitioned else "USING (bucket_start)"
    part = "PARTITION BY symbol " if partitioned else ""
    final_cols = ["symbol"] if partitioned else []
    for c in FULL_ROW_COLS:
        if c == "bucket_start":
            final_cols.append(c)
        else:
            final_cols.append(f"COALESCE({c}, 0) AS {c}")
    final = ",\n               ".join(final_cols)
    return f"""
        WITH deep_snap AS (
            SELECT {bkt} AS bucket_start,
                   {sym}min(event_id) AS event_id,
                   arg_min(value, event_id) AS value,
                   arg_min(user_id, event_id) AS user_id,
                   make_timestamp({bkt} * 1000000) AS ts
            FROM events WHERE event_type = 'purchase' {grp}
        ),
        book AS (
            SELECT b.*, d.bucket_start{", d.symbol" if partitioned else ""}
            FROM ({book_inner}) b
            JOIN deep_snap d ON b.event_id = d.event_id
        ),
        deep_wide AS (
            SELECT {"symbol, " if partitioned else ""}bucket_start, {sizes},
                {rel},
                {_wa_sql("bid")} AS bids_ord_WA,
                {_wa_sql("ask")} AS asks_ord_WA,
                (bid_0_size - ask_0_size) / (bid_0_size + ask_0_size) AS vol_imbalance,
                ({asks}) - ({bids}) AS delta,
                {imb} * ask_0 + (1 - {imb}) * bid_0 AS micro_price,
                CASE WHEN bid_0 <> 0 AND ask_0 <> 0 THEN bid_0 - ask_0
                     ELSE 0 END AS spread
            FROM book
        ),
        candle AS (
            SELECT {bkt} AS bucket_start,
                   {sym}arg_min(value, event_id) AS open,
                   max(value) AS high,
                   min(value) AS low,
                   arg_max(value, event_id) AS close,
                   count(*) AS volume
            FROM events WHERE event_type = 'click' {grp}
        ),
        vix AS (
            SELECT {bkt} AS bucket_start, {sym}arg_min(value, event_id) AS vix
            FROM events WHERE event_type = 'view' {grp}
        ),
        cot AS (
            {_wide_feed_sql("signup", cot_agg_fragments(), bkt, sym, grp)}
        ),
        ind AS (
            {_wide_feed_sql("error", indicator_agg_fragments(), bkt, sym, grp)}
        ),
        bars AS (
            SELECT {"c.symbol, " if partitioned else ""}c.bucket_start,
                   c.open, c.high, c.low, c.close, c.volume,
                   c.high - c.low AS candle_size,
                   CASE WHEN c.close >= c.open THEN c.high - c.close
                        ELSE c.low - c.close END AS wick_size,
                   (CASE WHEN c.close >= c.open THEN c.high - c.close
                         ELSE c.low - c.close END) / (c.high - c.low) AS wick_prct,
                   d.* EXCLUDE ({"symbol, " if partitioned else ""}bucket_start),
                   v.vix,
                   t.* EXCLUDE ({"symbol, " if partitioned else ""}bucket_start),
                   i.* EXCLUDE ({"symbol, " if partitioned else ""}bucket_start)
            FROM candle c
            JOIN deep_wide d {using}
            JOIN vix v {using}
            JOIN cot t {using}
            JOIN ind i {using}
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
                avg(volume) OVER ({part}ORDER BY bucket_start
                    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS vol_MA6,
                avg(volume) OVER ({part}ORDER BY bucket_start
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vol_MA20,
                avg(delta) OVER ({part}ORDER BY bucket_start
                    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS delta_MA12,
                avg(close) OVER w20 AS price_MA20,
                (avg(close) OVER w20 + 2 * stddev_pop(close) OVER w20) - close
                    AS upper_BB_dist,
                close - (avg(close) OVER w20 - 2 * stddev_pop(close) OVER w20)
                    AS lower_BB_dist,
                (close - min(close) OVER w15)
                    / (max(close) OVER w15 - min(close) OVER w15) AS stoch,
                close - lag(close, 1) OVER ({part}ORDER BY bucket_start)
                    AS price_change,
                avg(high - low) OVER w15 AS ATR
            FROM onehot
            WINDOW
                w20 AS ({part}ORDER BY bucket_start ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
                w15 AS ({part}ORDER BY bucket_start ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
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
            WINDOW w AS ({part}ORDER BY bucket_start)
        )
        SELECT {final}
        FROM tgt
    """
