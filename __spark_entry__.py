"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Query keys map to SURVEY.md §2 operator IDs (W1-W8 window indicators,
F-features, J1 interval join, A aggregates, D dedup) plus the scale
extensions (dedup / similarity / text over documents+embeddings).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as SW
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.functions import features as FE
from financial_market_data_analysis_spark.functions.core import with_sql
from financial_market_data_analysis_spark.functions.text import (
    bigram_logprob_sql,
    bpe_encode_sql,
    bpe_merges_sql,
    hash_split_sql,
    quality_filter_sql,
    rolling_fp_sql,
    simhash32_sql,
    chunk_documents_sql,
    pack_sequences_sql,
    repetition_signals_sql,
    source_quota_cap_sql,
    stratified_sample_sql,
    tfidf_topk_sql,
    unigram_logprob_sql,
    vocab_topk_sql,
)
from financial_market_data_analysis_spark.functions import text as T
from financial_market_data_analysis_spark.plans import extensions as X
from financial_market_data_analysis_spark.operators import dedup as D
from financial_market_data_analysis_spark.operators import sketches as SK
from financial_market_data_analysis_spark.operators import windows as W
from financial_market_data_analysis_spark.operators.joins import asof_band_join
from financial_market_data_analysis_spark.plans.book import book_oracle_cte, book_sql
from financial_market_data_analysis_spark.plans.candles import (
    candles_from_events,
    candles_multires,
    candles_multires_oracle_sql,
    candles_oracle_sql,
    time_bucket_us,
)
from financial_market_data_analysis_spark.plans.pipeline import _wa_sql
from financial_market_data_analysis_spark.sources.batch import load_table
from financial_market_data_analysis_spark.streaming.pipeline import (
    QUARANTINE_ALERT,
    epoch_idempotent_writer,
    streaming_run,
)

# ---------------------------------------------------------------------------
# helpers


def _candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return candles_from_events(load_table(spark, "events", sf_dir))


_ORDER = ["bucket_start"]

# DuckDB CTE prefix shared by every indicator oracle.
_CANDLES_CTE = f"WITH candles AS ({candles_oracle_sql()})"


# ---------------------------------------------------------------------------
# queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: TPC-H-Q1-style pricing summary
    (A2/A3-class grouped aggregation, SURVEY.md §2.5) — one shuffle,
    map-side partial aggregation."""
    return _q1_pricing_summary(spark, "/root/testdata/sf0.001")


def _q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pricing summary aggregates per returnflag/linestatus."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _candles_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 time bucketing + deterministic OHLCV aggregation."""
    return _candles(spark, sf_dir)


def _w1_vol_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — volume moving averages MA6/MA20 (the vol_MA view)."""
    ma = W.moving_average_sql("volume", (6, 20), _ORDER, prefix="vol")
    df = with_sql(_candles(spark, sf_dir), ma)
    return df.select("bucket_start", "volume", "vol_MA6", "vol_MA20")


def _w2_price_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — close-price MA20 (the price_MA view)."""
    ma = W.moving_average_sql("close", (20,), _ORDER, prefix="price")
    df = with_sql(_candles(spark, sf_dir), ma)
    return df.select("bucket_start", "close", "price_MA20")


def _w4_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — Bollinger band distances via stddev_pop (bollinger_bands view)."""
    df = with_sql(_candles(spark, sf_dir), W.bollinger_bands_sql("close", _ORDER))
    return df.select("bucket_start", "close", "upper_BB_dist", "lower_BB_dist")


def _w5_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — stochastic oscillator over a 15-row frame (stochastic_oscillator view)."""
    df = with_sql(_candles(spark, sf_dir), {"stoch": W.stochastic_oscillator_sql("close", _ORDER)})
    return df.select("bucket_start", "close", "stoch")


def _w6_price_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 — LAG-based price change percentage (price_change view)."""
    df = with_sql(_candles(spark, sf_dir), {"price_change": W.price_change_sql("close", _ORDER)})
    return df.select("bucket_start", "close", "price_change")


def _w7_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 — average true range over a 15-row frame (ATR view)."""
    df = with_sql(_candles(spark, sf_dir), {"ATR": W.average_true_range_sql("high", "low", _ORDER)})
    return df.select("bucket_start", "high", "low", "ATR")


def _w8_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 — LEAD-derived binary prediction targets x4 (target view)."""
    df = with_sql(_candles(spark, sf_dir), {"ATR": W.average_true_range_sql("high", "low", _ORDER)})
    df = with_sql(df, W.forward_targets_sql("close", "ATR", _ORDER))
    return df.select("bucket_start", "close", "up1", "down1", "up2", "down2")


def _w3_delta_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — the ``delta_MA`` view (create_database.py:106-118, period 12
    from config.py:42): order-flow delta (F4) per 5-minute bucket, then
    its 12-row moving average."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "ts", "ts_us", "user_id", "value")
    book = with_sql(ev, book_sql())
    d = FE.delta_indicator(book)
    per_bucket = d.groupBy(
        time_bucket_us("ts_us").alias("bucket_start")
    ).agg(F.avg("delta").alias("delta"))
    out = with_sql(per_bucket, W.moving_average_sql("delta", (12,), _ORDER, prefix="delta"))
    return out.select("bucket_start", "delta", "delta_MA12")


def _w9_partitioned_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100×-scale path for W1-W8: per-symbol candles, indicator
    suite with ``partition_cols=["symbol"]`` — each symbol's windows
    evaluate as an independent task instead of one global sort
    (SURVEY.md §7.3 'Global-ordered windows at scale')."""
    ev = load_table(spark, "events", sf_dir).withColumn(
        "symbol", F.col("event_type")
    )
    c = candles_from_events(ev, group_cols=("symbol",))
    out = W.indicator_suite(c, _ORDER, partition_cols=["symbol"])
    return out.select(
        "symbol", "bucket_start", "close",
        "vol_MA6", "vol_MA20", "price_MA20",
        "upper_BB_dist", "lower_BB_dist", "stoch", "price_change", "ATR",
        "up1", "down1", "up2", "down2",
    )


def _a5_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/T3 — sliding-window average (length 10 min, slide 5 min): the
    reference's disabled Spark-2.4 design (spark_consumer.py:129-149),
    working batch+stream on Spark 3.5."""
    ev = load_table(spark, "events", sf_dir)
    return W.sliding_window_agg(ev)


def _a6_sliding_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/T3's join-back half — every event annotated with the sliding
    moving average of each window it falls in (the reference's disabled
    leftOuter design, spark_consumer.py:144-149), as an exploded
    equi-join on the window-start key (no range join)."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "ts", "value")
    out = W.sliding_join_back(ev)
    return out.select(
        "event_id", "window_start", "window_end", "value", "avg_value", "n"
    )


def _t4_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 — per-user session windows (30-min inactivity gap) via the
    built-in session_window; oracle is the gaps-and-islands SQL, so the
    built-in's merge semantics are proven ANSI-equivalent."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    return W.session_windows(ev)


def _f1_wick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — candle wick percentage features."""
    df = with_sql(_candles(spark, sf_dir), FE.wick_sql())
    return df.select("bucket_start", "open", "close", "candle_size", "wick_size", "wick_prct")


def _f2_book_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-F6 over the synthetic 7-level book, then fillna(0) (P4)."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "ts", "ts_us", "user_id", "value")
    book = with_sql(ev, book_sql())
    df = FE.book_weighted_average(book, "bid")
    df = FE.book_weighted_average(df, "ask")
    df = FE.order_volume_imbalance(df)
    df = FE.delta_indicator(df)
    df = FE.micro_price(df)
    df = FE.bid_ask_spread(df)
    out = df.select(
        "event_id", "bids_ord_WA", "asks_ord_WA", "vol_imbalance", "delta",
        "micro_price", "spread",
    )
    return out.na.fill(0)


def _f7_relative_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — order-book price levels relative to the best price."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "ts", "ts_us", "user_id", "value")
    book = with_sql(ev, book_sql())
    df = FE.relative_price_levels(book)
    return df.select(
        "event_id",
        *[f"bid_{i}" for i in range(1, 7)],
        *[f"ask_{i}" for i in range(1, 7)],
    )


def _f8_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F9 — calendar features with manual one-hot encoding."""
    ev = load_table(spark, "events", sf_dir)
    df = with_sql(with_sql(ev, FE.calendar_sql()), FE.one_hot_calendar_sql())
    return df.select(
        "event_id", "day_of_week", "week_of_month", "session_start",
        "day_1", "day_2", "day_3", "day_4",
        "week_1", "week_2", "week_3", "week_4",
    )


def _f13_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 — min-max normalization against global aggregates."""
    li = load_table(spark, "lineitem", sf_dir)
    df = FE.minmax_normalize(li, ["l_quantity", "l_extendedprice", "l_discount"])
    return df.select(
        "l_orderkey", "l_linenumber",
        "l_quantity_norm", "l_extendedprice_norm", "l_discount_norm",
    )


def _j1_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — bucketed as-of band join between two feeds split out of the
    event stream (reference semantics: equi-key on the 5-min bucket AND
    a 3-minute band, spark_consumer.py:437-445)."""
    ev = load_table(spark, "events", sf_dir)
    deep = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("deep_id"),
        F.col("ts_us").alias("deep_ts_us"),
        F.col("value").alias("deep_val"),
    )
    quote = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts_us").alias("view_ts_us"),
        F.col("value").alias("view_val"),
    )
    joined = asof_band_join(deep, quote, "deep_ts_us", "view_ts_us")
    return joined.select("deep_id", "view_id", "deep_val", "view_val")


def _j3_asof_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True ASOF join (operators/joins.py:asof_join_last): every view
    event takes the latest purchase value at-or-before it per user —
    the union-sort pattern (one keyed shuffle, no theta join), checked
    against DuckDB's native ASOF LEFT JOIN."""
    from financial_market_data_analysis_spark.operators.joins import asof_join_last

    ev = load_table(spark, "events", sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts_us", F.col("value").alias("view_val")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("purch_val"))
    )
    out = asof_join_last(
        views, purchases, "ts_us", ["user_id"], ["purch_val"]
    )
    return out.select("event_id", "user_id", "ts_us", "view_val", "purch_val")


def _j2_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join: events (5 heavily-hot event_type keys)
    joined to a per-type dimension through (key, salt) so each hot key
    spreads over 8 reducers. Result is provably identical to the plain
    join (this oracle)."""
    from financial_market_data_analysis_spark.operators.joins import salted_skew_join

    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_n"), F.avg("value").alias("type_avg")
    )
    out = salted_skew_join(ev, dim, "event_type")
    return out.select("event_id", "event_type", "type_n", "type_avg")


def _q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2-class multi-join + grouped agg (TPC-H Q3 shape). The customer
    side is dimension-sized → broadcast; lineitem⋈orders shuffles on
    the order key."""
    cust = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1999-03-15").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1999-03-15").cast("timestamp")
    )
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def _q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast star join: orders ⋈ customer ⋈ nation ⋈ region (all
    dims broadcast — zero shuffle on the fact side until the final
    agg)."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def _q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate — the query every
    columnar engine must run at I/O speed. All four predicates push to
    the parquet scan (PushedFilters), projection prunes to 4 columns,
    and the agg is a single partial+final pass with no shuffle of row
    data."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-06-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def _a8_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution stats per group: p50/p95/p99 by explicit rank
    selection (value at row ceil(q*n) of the sorted group) — exact and
    engine-portable, unlike interpolated percentiles whose float
    blending differs across engines. Scale: one window per group key;
    at 100 TB swap in percentile_approx's KLL-style sketch (same
    output shape) when a full per-group sort is too expensive."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    w = SW.partitionBy("event_type").orderBy("value")
    d = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(SW.partitionBy("event_type"))
    )
    qs = F.explode(F.array(*[F.lit(q) for q in (0.5, 0.95, 0.99)])).alias("q")
    return (
        d.select("event_type", "value", "rn", "n", qs)
        .filter(
            F.col("rn")
            == F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("n")))
        )
        .select("event_type", "q", F.col("value").alias("q_value"))
    )


def _a1_minmax_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — global MIN/MAX normalization params in one partial-agg pass
    (sql_pytorch_dataloader.py:93-115 runs 2 full scans; here it's one)."""
    li = load_table(spark, "lineitem", sf_dir)
    aggs = []
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return li.agg(*aggs)


def _a2_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 — COUNT + SUM + AVG per group."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
        F.avg("value").alias("avg_value"),
    )


def _a7_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family multi-level aggregation: ROLLUP over
    (l_returnflag, l_linestatus) producing per-group, per-flag, and
    grand-total rows in ONE pass. Spark plans this as a single Expand +
    hash aggregate — partial aggregation still applies map-side, so the
    rollup costs one shuffle, not three scans. ``grouping_id``
    disambiguates subtotal rows from genuine NULL groups. Quantities
    are integral doubles, so the sums are order-independent exact."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.grouping_id().cast("int").alias("gid"),
    )


def _a13_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 — CUBE over (lang, source) on the documents table: all four
    aggregation levels (per-pair, per-lang, per-source, grand total) in
    ONE pass — the missing sibling of a7's ROLLUP (a rollup drills one
    hierarchy; a cube cross-tabulates independent dimensions, the
    datacard slice-report shape). Same plan story as a7: one Expand +
    partial-aggregatable hash aggregate, one shuffle for every level —
    NOT 4 scans. ``grouping_id`` disambiguates subtotal NULLs from
    data NULLs; char sums are exact integers."""
    d = load_table(spark, "documents", sf_dir)
    return d.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.grouping_id().cast("int").alias("gid"),
    )


def _a13_oracle() -> str:
    return """
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(GROUPING(lang, source) AS INT) AS gid
        FROM documents
        GROUP BY CUBE (lang, source)
    """


def _a15_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — windowed funnel conversion (absent from the reference,
    which has no user-behavior analytics at all; the events table is
    exactly the clickstream this genre runs on): per epoch-day, the
    fraction of VIEW events followed by a PURCHASE from the SAME user
    within 30 minutes. The conversion test is EXISTS semantics — one
    converted view counts once however many purchases land in its
    window — so the plan is a LEFT SEMI join, never an inner join
    whose duplicate matches would inflate the numerator.

    Scale shape: both sides shuffle ONCE on the user_id equi-key with
    the time band inside the join condition (per-user bucket compare,
    never a global theta join); the per-day rollup is one
    partial-aggregatable hash aggregate. Day keys are integer epoch
    days (µs div), timezone-proof on both engines."""
    ev = load_table(spark, "events", sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.unix_micros("ts").alias("v_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.unix_micros("ts").alias("p_us"),
    )
    converted = views.join(
        purchases,
        (views.user_id == purchases.user_id)
        & (F.col("p_us") >= F.col("v_us"))
        & (F.col("p_us") <= F.col("v_us") + F.lit(1_800_000_000)),
        "left_semi",
    ).select(F.expr("v_us div 86400000000").alias("day_num"))
    all_views = views.select(
        F.expr("v_us div 86400000000").alias("day_num")
    )
    n_all = all_views.groupBy("day_num").agg(
        F.count(F.lit(1)).alias("n_views")
    )
    n_conv = converted.groupBy("day_num").agg(
        F.count(F.lit(1)).alias("n_conversions")
    )
    return (
        n_all.join(n_conv, "day_num", "left")
        .na.fill(0, ["n_conversions"])
        .select(
            "day_num",
            "n_views",
            "n_conversions",
            F.round(F.col("n_conversions") / F.col("n_views"), 6).alias(
                "conversion_rate"
            ),
        )
    )


_A15_ORACLE = """
    WITH v AS (
        SELECT user_id, epoch_us(ts) AS v_us
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id, epoch_us(ts) AS p_us
        FROM events WHERE event_type = 'purchase'
    ),
    flagged AS (
        SELECT v_us // 86400000000 AS day_num,
               CASE WHEN EXISTS (
                   SELECT 1 FROM p
                   WHERE p.user_id = v.user_id
                     AND p.p_us >= v.v_us
                     AND p.p_us <= v.v_us + 1800000000
               ) THEN 1 ELSE 0 END AS conv
        FROM v
    )
    SELECT day_num,
           count(*) AS n_views,
           CAST(sum(conv) AS BIGINT) AS n_conversions,
           round(sum(conv) / count(*), 6) AS conversion_rate
    FROM flagged
    GROUP BY day_num
"""


def _a16_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — weekly retention cohorts (the second classic clickstream
    rollup a15's funnel implies): users are cohorted by the epoch-week
    of their FIRST event; for every (cohort_week, week_offset) cell,
    the number of cohort users active in that week and the retention
    fraction against the cohort's size. Week-0 retention is 1.0 by
    construction — kept in the output as the self-check row.

    Scale shape: first-event week is ONE partial-aggregatable min per
    user; activity is a distinct over (user, week) — one shuffle on
    user_id covers both (co-keyed), then the cell rollup is a second
    hash aggregate on the (cohort, offset) pair; cohort sizes join
    back broadcast-sized (one row per cohort week)."""
    ev = load_table(spark, "events", sf_dir)
    weeks = ev.select(
        "user_id",
        (F.unix_micros("ts").cast("long")).alias("ts_us"),
    ).select(
        "user_id", F.expr("ts_us div 604800000000").alias("week_num")
    )
    first = weeks.groupBy("user_id").agg(
        F.min("week_num").alias("cohort_week")
    )
    active = weeks.distinct()
    cells = (
        active.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week_num") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return cells.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


_A16_ORACLE = """
    WITH w AS (
        SELECT DISTINCT user_id,
               epoch_us(ts) // 604800000000 AS week_num
        FROM events
    ),
    first AS (
        SELECT user_id, min(week_num) AS cohort_week
        FROM w GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_week, count(*) AS cohort_size
        FROM first GROUP BY cohort_week
    ),
    cells AS (
        SELECT f.cohort_week,
               w.week_num - f.cohort_week AS week_offset,
               count(*) AS n_active
        FROM w JOIN first f ON w.user_id = f.user_id
        GROUP BY 1, 2
    )
    SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
           round(c.n_active / s.cohort_size, 6) AS retention
    FROM cells c JOIN sizes s ON c.cohort_week = s.cohort_week
"""


# a19 session gap: 30 minutes of inactivity closes a session (the
# industry-standard cut GA/Adobe use; t4b's streaming session windows
# use the same inactivity semantics)
_A19_GAP_US = 1_800_000_000


def _a19_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 — BATCH sessionization of the clickstream (the third
    classic rollup after a15's funnel and a16's cohorts, and the batch
    twin of t4b's streaming session windows): events of a user whose
    inactivity gap reaches 30 minutes split into separate sessions;
    published per start-day as session count, exact total event and
    duration sums (integer — strong hash signal), and the two derived
    averages. The reference has no user-behavior analytics at all; the
    events table is exactly this genre's input.

    The kernel is the gaps-and-islands pattern done the one-shuffle
    way: LAG over the (user_id)-keyed event-time order marks session
    STARTS, a running SUM of the marks numbers the islands — no
    self-join, no correlated subquery. The tie-break on event_id makes
    the order total, so both engines see identical islands. One
    shuffle on user_id covers the lag, the numbering, and the
    per-session aggregate (co-keyed); the per-day rollup then runs on
    a sessions-sized frame. At 100 TB: sessionization states nothing
    beyond the window sort, and a skewed power-user key degrades one
    partition's sort, not a join (d8 is the diagnostic for that)."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = SW.partitionBy("user_id").orderBy("ts_us", "event_id")
    marked = ev.withColumn(
        "new_sess",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) >= _A19_GAP_US, 1
        )
        .otherwise(0)
        + F.when(F.lag("ts_us").over(w).isNull(), 1).otherwise(0),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(SW.unboundedPreceding, SW.currentRow)
        ),
    )
    sessions = marked.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("dur_us"),
    )
    return (
        sessions.groupBy(
            F.expr("start_us div 86400000000").alias("day_num")
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
            F.sum("dur_us").alias("total_dur_us"),
        )
        .select(
            "day_num",
            "n_sessions",
            "total_events",
            "total_dur_us",
            F.round(F.col("total_events") / F.col("n_sessions"), 6).alias(
                "avg_events"
            ),
            F.round(
                F.col("total_dur_us") / F.col("n_sessions") / 1e6, 6
            ).alias("avg_dur_s"),
        )
    )


_A19_ORACLE = f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, ts_us,
               CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                    WHEN ts_us - lag(ts_us) OVER w >= {_A19_GAP_US}
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    numbered AS (
        SELECT user_id, ts_us,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sess_id
        FROM marked
    ),
    sessions AS (
        SELECT user_id, sess_id,
               count(*) AS n_events,
               min(ts_us) AS start_us,
               max(ts_us) - min(ts_us) AS dur_us
        FROM numbered
        GROUP BY 1, 2
    )
    SELECT start_us // 86400000000 AS day_num,
           count(*) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS total_events,
           CAST(sum(dur_us) AS BIGINT) AS total_dur_us,
           round(sum(n_events) / count(*), 6) AS avg_events,
           round(sum(dur_us) / count(*) / 1e6, 6) AS avg_dur_s
    FROM sessions
    GROUP BY 1
"""


def _a20_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 — HyperLogLog distinct-user estimation per event_type
    (operators/sketches.py ``hll_registers`` →
    ``hll_estimate_from_registers``): the register-max mergeable
    distinct algebra next to the KMV bottom-k one the sketch tier
    already adjudicates (a12 family). Published per group: the exact
    distinct count, the count of non-empty registers, the HLL
    estimate, and the measured relative error — the estimator is
    MEASURED against the exact pass, not asserted (the kmv_distinct
    precedent). The reference has no approximate tier at all (its
    aggregates are exact MariaDB views, create_database.py:60-200);
    at 100 TB the register relation is the ONLY per-group state that
    stays 2^p bytes no matter the cardinality, and it merges across
    shards/streams by per-register max (t27 adjudicates that merge
    across micro-batch replays).

    Scale shape: one row-local hash projection, one partial-aggregated
    groupBy whose output is ≤256 rows per group, a broadcastable join
    against the exact side (which exists only to grade the estimate).
    Float determinism: the register sum is an exact DECIMAL integer
    fold; see the operator docstring."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "user_id")
    regs = SK.hll_registers(ev, "user_id", ["event_type"])
    est = SK.hll_estimate_from_registers(regs, ["event_type"])
    return _hll_grade(est, ev)


def _hll_grade(est: DataFrame, ev: DataFrame) -> DataFrame:
    """The published HLL grading shape, shared by a20 and t27 so the
    two stay column-for-column identical to ``_a20_oracle``'s SQL (both
    queries hash against it): exact distinct per group, broadcast-
    joined back, measured relative error rounded to 6."""
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        "nonzero_registers",
        "est_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("n_exact"))
            / F.col("n_exact"),
            6,
        ).alias("rel_err"),
    )


def _a20_oracle() -> str:
    hll = SK.hll_sql("events", "user_id", ["event_type"])
    return f"""
        WITH est AS ({hll}),
        exact AS (
            SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY event_type
        )
        SELECT est.event_type, exact.n_exact, est.nonzero_registers,
               est.est_distinct,
               round(abs(est.est_distinct - exact.n_exact)
                     / exact.n_exact, 6) AS rel_err
        FROM est JOIN exact ON est.event_type = exact.event_type
    """


_A17_TYPES = ["click", "error", "purchase", "signup", "view"]


def _a17_pivot_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — relational PIVOT (``groupBy().pivot(values).count()``):
    the day × event_type count matrix, completing the reshape family
    (a13 CUBE and a14 GROUPING SETS aggregate along hierarchies; PIVOT
    transposes a dimension into columns — the report layout BI tools
    ask the engine for). The pivot VALUES are declared explicitly, so
    the plan needs NO distinct-discovery pre-pass (the two-pass trap
    of ``pivot(col)`` without values, which at 100 TB is an extra full
    scan) and the output schema is static. Absent cells emit 0, not
    NULL — a day with no errors had zero errors. One scan, one
    partial-aggregatable pivot aggregate, one shuffle on the day
    key."""
    ev = load_table(spark, "events", sf_dir)
    days = ev.select(
        F.unix_micros("ts").alias("ts_us"), "event_type"
    ).select(
        F.expr("ts_us div 86400000000").alias("day_num"), "event_type"
    )
    out = (
        days.groupBy("day_num")
        .pivot("event_type", _A17_TYPES)
        .count()
        .na.fill(0, _A17_TYPES)
    )
    return out.select(
        "day_num", *[F.col(t).alias(f"n_{t}") for t in _A17_TYPES]
    )


_A17_ORACLE = """
    SELECT epoch_us(ts) // 86400000000 AS day_num,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view
    FROM events
    GROUP BY 1
"""


def _a18_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 — time-weighted average price per epoch-day over the
    IRREGULAR bar series (a11's VWAP weights by volume; TWAP weights
    by how long each price was the prevailing one — the benchmark
    execution algos settle against, and the measure that is only
    honest on irregular bars: a bar before a quiet hour carries that
    hour). Each bar's weight is the µs until the day's NEXT bar; the
    day's last bar has no forward duration and is excluded by
    convention (both engines identically). One window pass for the
    lead, one grouped aggregate; weights are exact integer µs.

    ``sum(close·w)/sum(w)`` is evaluated as the two partial-
    aggregatable sums divided once, never a per-row running mean."""
    bars = _candles(spark, sf_dir).select("bucket_start", "close")
    day = F.expr("bucket_start div 86400")
    timed = bars.select(
        day.alias("day_num"),
        "bucket_start",
        "close",
        (F.lead("bucket_start").over(
            SW.partitionBy(day).orderBy("bucket_start")
        ) - F.col("bucket_start")).alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull())
    return timed.groupBy("day_num").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.round(
            F.sum(F.col("close") * F.col("dur_s")) / F.sum("dur_s"), 6
        ).alias("twap"),
    )


_A18_ORACLE = f"""
    {_CANDLES_CTE},
    timed AS (
        SELECT bucket_start // 86400 AS day_num, close,
               lead(bucket_start) OVER (
                   PARTITION BY bucket_start // 86400
                   ORDER BY bucket_start
               ) - bucket_start AS dur_s
        FROM candles
    )
    SELECT day_num, count(*) AS n_bars,
           round(sum(close * dur_s) / sum(dur_s), 6) AS twap
    FROM timed
    WHERE dur_s IS NOT NULL
    GROUP BY day_num
"""


def _a14_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — explicit GROUPING SETS ((lang), (source)): the
    arbitrary-set form completing the multi-level aggregation family
    (a7 ROLLUP drills one hierarchy, a13 CUBE cross-tabulates all
    combinations, A14 computes EXACTLY the marginals a datacard needs
    — per-lang and per-source — without paying for the (lang, source)
    pairs or the grand total the cube would also mint). Same plan
    story: ONE Expand (two projections per row) into a
    partial-aggregatable hash aggregate — one scan, one shuffle, not
    one query per marginal."""
    return spark.sql(
        """
        SELECT lang, source,
               count(*) AS n_docs,
               sum(n_chars) AS sum_chars,
               CAST(grouping_id() AS INT) AS gid
        FROM {docs}
        GROUP BY GROUPING SETS ((lang), (source))
        """,
        docs=load_table(spark, "documents", sf_dir),
    )


def _a14_oracle() -> str:
    return """
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(GROUPING(lang, source) AS INT) AS gid
        FROM documents
        GROUP BY GROUPING SETS ((lang), (source))
    """


def _q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 — TPC-H-Q4-shaped order-priority count: orders in a
    one-quarter window having AT LEAST ONE qualifying lineitem — the
    EXISTS / LEFT-SEMI join shape, the one relational join type the
    catalog had not adjudicated (d2 covers anti, the j-family
    equi/interval/as-of). The fixture's slim lineitem has no
    commit/receipt dates, so the existence predicate is a bulk-line
    test (l_quantity >= 45) instead of TPC-H's lateness test — the
    join shape, pushdown, and aggregation are identical. Spark plans
    the semi-join hash-partitioned on orderkey with both filters
    pushed to the scans; the existence check never multiplies rows,
    so the aggregate sees each order once however many lines qualify.
    The window is 1996-Q3, inside the fixture's 1995-2001 order-date
    range — the original 1993-Q3 window predated the data, so the r9
    adjudication matched on zero rows (vacuously green, fixed r10)."""
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    late = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_quantity") >= 45
    ).select(F.col("l_orderkey").alias("o_orderkey"))
    return (
        o.join(late, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q4_oracle() -> str:
    return """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= DATE '1996-07-01'
          AND o_orderdate < DATE '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_quantity >= 45)
        GROUP BY o_orderpriority
    """


# ---------------------------------------------------------------------------
# r10 planner suite — the TPC-H join/decorrelation shapes the catalog had not
# yet adjudicated, each re-cut to the fixture's slim schema (no partsupp, no
# commit/receipt dates, no comment columns). What each one pins down is the
# PLAN: argmin decorrelation (q2), two-dim star with a pair predicate (q7),
# deterministic top-N (q10), grouped HAVING vs a global scalar (q11), outer
# join + histogram-of-counts (q13), scalar-max subquery (q15), anti-join +
# COUNT DISTINCT (q16), correlated-avg decorrelation (q17), disjunctive
# join predicate (q19), EXISTS + NOT EXISTS self-joins (q21), and anti-join
# + scalar-avg threshold (q22).


def _q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shaped ARGMIN DECORRELATION: for every part, the supplier
    quoting the minimum unit price — TPC-H Q2's correlated
    ``ps_supplycost = (SELECT min ...)`` subquery, re-cut onto
    lineitem as the part-supplier price relation (the fixture has no
    partsupp). The Spark-first shape is NOT the window-rank rewrite: a
    single ``min(struct(unit, suppkey))`` aggregation — lexicographic
    struct min — is partial-aggregatable (map-side combine), so the
    whole argmin costs ONE shuffle on partkey with no sort, and the
    supplier dim broadcasts onto the 2000-row result. The unit price
    is a row-local division (bit-identical on both engines), and the
    suppkey in the struct breaks ties deterministically."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
    )
    best = li.groupBy("l_partkey").agg(
        F.min(F.struct("unit", "l_suppkey")).alias("m")
    )
    supp = load_table(spark, "supplier", sf_dir)
    return (
        best.select(
            F.col("l_partkey").alias("part_key"),
            F.col("m.l_suppkey").alias("supp_key"),
            F.round("m.unit", 6).alias("min_unit_price"),
        )
        .join(F.broadcast(supp), F.col("supp_key") == F.col("s_suppkey"))
        .select("part_key", "supp_key", "s_name", "min_unit_price")
    )


def _q2_oracle() -> str:
    return """
        SELECT part_key, supp_key, s_name, min_unit_price FROM (
            SELECT l_partkey AS part_key, l_suppkey AS supp_key,
                   round(l_extendedprice / l_quantity, 6) AS min_unit_price,
                   row_number() OVER (
                       PARTITION BY l_partkey
                       ORDER BY l_extendedprice / l_quantity, l_suppkey
                   ) AS rk
            FROM lineitem
        ) b JOIN supplier s ON s.s_suppkey = b.supp_key
        WHERE rk = 1
    """


def _q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-shaped NATION-PAIR VOLUME: shipping revenue between two
    nations in both directions, by year — the two-dimension star where
    the supplier side and the customer side each need their own copy
    of the nation dim, plus a disjunctive PAIR predicate across the
    two. Both nation-resolved dims (supplier⋈nation, customer⋈nation)
    are filtered to the two nations BEFORE the join — at 100 TB that
    prunes the fact rows at the (broadcast) hash-join probe instead of
    post-join — and lineitem⋈orders is the only real shuffle."""
    nation = load_table(spark, "nation", sf_dir)
    supp = (
        load_table(spark, "supplier", sf_dir)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_3", "NATION_8"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, "customer", sf_dir)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_3", "NATION_8"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q7_oracle() -> str:
    return """
        SELECT supp_nation, cust_nation, l_year,
               round(sum(volume), 6) AS revenue,
               count(*) AS n_lines
        FROM (
            SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                   EXTRACT(year FROM l_shipdate) AS l_year,
                   l_extendedprice * (1 - l_discount) AS volume
            FROM lineitem
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation ns ON ns.n_nationkey = s_nationkey
            JOIN nation nc ON nc.n_nationkey = c_nationkey
            WHERE ns.n_name IN ('NATION_3', 'NATION_8')
              AND nc.n_name IN ('NATION_3', 'NATION_8')
              AND ns.n_name <> nc.n_name
        )
        GROUP BY supp_nation, cust_nation, l_year
    """


def _q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-shaped RETURNED-ITEM RANKING: revenue lost to returns
    ('R' lines) per customer over one quarter, top 20 — the
    fact-filter → join → group → deterministic-top-N report shape.
    The top-N orders on (rounded revenue DESC, custkey) — the ROUNDED
    sum with an int tiebreak so the cut is reproducible across engines
    (an ulp in an unrounded double sum could flip rank 20/21) — and
    takes the cut with orderBy().limit(), which Spark plans as
    TakeOrderedAndProject: each partition keeps its local top-20 and
    only those survivors reach the driver-side merge. A global
    row_number() window here would serialize the whole aggregated
    frame through ONE partition — the difference between a bounded
    per-partition heap and a single-node sort when the customer
    dimension is millions of rows."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
    )
    return (
        rev.orderBy(F.col("revenue").desc(), F.col("o_custkey"))
        .limit(20)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_custkey").alias("cust_key"),
            "c_name",
            "revenue",
            F.round("c_acctbal", 6).alias("acctbal"),
            "n_name",
        )
    )


def _q10_oracle() -> str:
    return """
        SELECT cust_key, c_name, revenue,
               round(c_acctbal, 6) AS acctbal, n_name FROM (
            SELECT o_custkey AS cust_key,
                   round(sum(l_extendedprice * (1 - l_discount)), 6)
                       AS revenue
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY o_custkey
            ORDER BY revenue DESC, cust_key
            LIMIT 20
        ) r
        JOIN customer ON c_custkey = cust_key
        JOIN nation ON n_nationkey = c_nationkey
    """


Q11_SHARE_FRAC = 0.00065


def _q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11-shaped GROUPED-HAVING vs a GLOBAL SCALAR: parts whose
    lineitem value exceeds a fraction of the corpus-wide total — the
    plan where one aggregation's scalar result gates another's groups.
    Spark computes the per-part sums in ONE shuffle, derives the total
    from a SECOND aggregation of those 2000 part rows (not a second
    fact scan), and broadcasts the 1-row total back as a cross join —
    the A1 global-params pattern. The share is rounded to 8 before
    the threshold test so the gate is reproducible across engines."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val"),
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("val").alias("part_value"))
    total = per_part.agg(F.sum("part_value").alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .withColumn(
            "share", F.round(F.col("part_value") / F.col("total_value"), 8)
        )
        .filter(F.col("share") > Q11_SHARE_FRAC)
        .select(
            F.col("l_partkey").alias("part_key"),
            F.round("part_value", 6).alias("part_value"),
            "share",
        )
    )


def _q11_oracle() -> str:
    return f"""
        WITH pp AS (
            SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS pv
            FROM lineitem GROUP BY l_partkey
        ),
        tot AS (SELECT sum(pv) AS tv FROM pp)
        SELECT l_partkey AS part_key, round(pv, 6) AS part_value,
               round(pv / tv, 8) AS share
        FROM pp, tot
        WHERE round(pv / tv, 8) > {Q11_SHARE_FRAC}
    """


def _q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-shaped OUTER-JOIN HISTOGRAM: the distribution of customers
    by how many (non-urgent) orders they placed, INCLUDING the
    zero-order customers — the left-outer join whose unmatched side is
    the point of the query, followed by a histogram-of-counts double
    aggregation. The predicate lives in the JOIN (filtering orders
    before the outer join), not a WHERE — a WHERE after the join would
    silently delete the zero-order class. All-integer output: no float
    hashing concerns. At scale: one shuffle on custkey, then the
    second groupBy runs on a counts-sized frame."""
    cust = load_table(spark, "customer", sf_dir).select("c_custkey")
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def _q13_oracle() -> str:
    return """
        SELECT c_count, count(*) AS custdist FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON o_custkey = c_custkey
                            AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """


def _q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-shaped SCALAR-MAX SUBQUERY: the supplier(s) whose quarterly
    shipped revenue equals the maximum over all suppliers — TPC-H's
    revenue-view + ``= (SELECT max ...)`` pattern. The max is derived
    from the 100-row per-supplier aggregate (never a second fact
    scan), broadcast back as a 1-row cross join, and the equality gate
    runs on ROUNDED revenue on both engines so an ulp in the shuffled
    sum cannot split the winner set."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("total_revenue")
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supp = load_table(spark, "supplier", sf_dir)
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("supp_key"), "s_name", "total_revenue"
        )
    )


def _q15_oracle() -> str:
    return """
        WITH rev AS (
            SELECT l_suppkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 6)
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey AS supp_key, s_name, total_revenue
        FROM rev JOIN supplier ON s_suppkey = l_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """


def _q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-shaped ANTI-JOIN + COUNT DISTINCT: how many distinct
    suppliers can provide each (brand, type, size-band) of part,
    excluding a supplier blocklist — TPC-H's ``NOT IN (SELECT
    s_suppkey ...)`` resolved as a LEFT-ANTI join (the fixture's
    stand-in blocklist: suppliers in arrears, s_acctbal < 0; TPC-H
    greps complaint comments the slim schema doesn't carry). The
    part-supplier relation is the DISTINCT (partkey, suppkey) pair set
    of lineitem (no partsupp table). Part dim and the 6-row blocklist
    both broadcast; the count distinct is the only shuffle. Integer
    output — no float hashing concerns."""
    pairs = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    )
    bad = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        pairs.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def _q16_oracle() -> str:
    return """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
    """


def _q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shaped CORRELATED-AVG DECORRELATION: revenue from orders of
    less than 20% of a part's average order quantity, for one brand —
    TPC-H's correlated ``l_quantity < (SELECT 0.2 * avg ...)``
    subquery, decorrelated into a per-part aggregate joined back. The
    2000-row avg frame BROADCASTS (Spark never shuffles the fact side
    for the threshold probe). The fixture's quantities are integral
    doubles, so each per-part avg is an exact-integer sum over an
    exact count — bit-identical on both engines — and the 0.2·avg
    comparison cannot straddle an ulp. One scalar output row."""
    li = load_table(spark, "lineitem", sf_dir)
    avg_qty = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    brand = load_table(spark, "part", sf_dir).filter(
        F.col("p_brand") == "Brand#4"
    ).select("p_partkey")
    return (
        li.join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(avg_qty), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 6).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q17_oracle() -> str:
    return """
        SELECT round(sum(l_extendedprice) / 7.0, 6) AS avg_yearly,
               count(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#4'
          AND l_quantity < (
              SELECT 0.2 * avg(l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = lineitem.l_partkey)
    """


def _q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-shaped DISJUNCTIVE JOIN PREDICATE: revenue from three
    brand/size/quantity windows OR-ed together — the plan shape where
    a naive engine evaluates the disjunction post-join while a good
    one pushes the common partkey equi-key into the hash join and the
    OR-of-ANDs into the probe filter. Spark plans exactly that: a
    BROADCAST hash join on partkey with the disjunction as a residual
    join condition — zero fact-side shuffle. Single aggregate row,
    revenue rounded to 6."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    cond = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#16")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(
            F.broadcast(part),
            (F.col("l_partkey") == F.col("p_partkey")) & cond,
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q19_oracle() -> str:
    return """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
               count(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#16' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """


def _q21_sole_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-shaped EXISTS + NOT-EXISTS SELF-JOINS: suppliers who were
    the ONLY supplier with a returned line in a multi-supplier order —
    TPC-H's waiting-suppliers query re-cut onto the return flag (the
    slim lineitem has no commit/receipt dates), preserving the plan
    that matters: one fact-derived pair set probed by BOTH a left-semi
    (another supplier participated) and a left-anti (no OTHER supplier
    had a return) self-join. The returned-pair set is distinct-ed ONCE
    and eagerly localCheckpointed (r10 verdict: without it the r_pairs
    subtree is re-planned for the probe side of each self-join — one
    redundant fact-scale distinct shuffle at 100 TB). Note the two
    shuffle families genuinely differ: the distincts hash on the
    (orderkey, suppkey) composite while the self-joins hash on
    orderkey alone, so the join exchange is inherent to the shape, not
    waste. Integer counts out; suppkey is the deterministic group
    key."""
    pairs = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_suppkey", "l_returnflag")
    )
    all_pairs = pairs.select("l_orderkey", "l_suppkey").distinct()
    # Computed once, reused by the semi probe, the anti probe, and the
    # left side — the catalog's established reuse pattern (_l2_exact_topk)
    r_pairs = (
        pairs.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    other = all_pairs.select(
        F.col("l_orderkey"), F.col("l_suppkey").alias("o_supp")
    )
    r_other = r_pairs.select(
        F.col("l_orderkey"), F.col("l_suppkey").alias("o_supp")
    )
    cand = r_pairs.join(
        other,
        (r_pairs.l_orderkey == other.l_orderkey)
        & (r_pairs.l_suppkey != other.o_supp),
        "left_semi",
    ).join(
        r_other,
        (r_pairs.l_orderkey == r_other.l_orderkey)
        & (r_pairs.l_suppkey != r_other.o_supp),
        "left_anti",
    )
    supp = load_table(spark, "supplier", sf_dir)
    return (
        cand.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("s_suppkey").alias("supp_key"), "s_name", "numwait")
    )


def _q21_oracle() -> str:
    return """
        WITH rp AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
            WHERE l_returnflag = 'R'
        ),
        ap AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        SELECT s_suppkey AS supp_key, s_name, count(*) AS numwait
        FROM rp
        JOIN supplier ON s_suppkey = rp.l_suppkey
        WHERE EXISTS (SELECT 1 FROM ap
                      WHERE ap.l_orderkey = rp.l_orderkey
                        AND ap.l_suppkey <> rp.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM rp r2
                          WHERE r2.l_orderkey = rp.l_orderkey
                            AND r2.l_suppkey <> rp.l_suppkey)
        GROUP BY s_suppkey, s_name
    """


def _q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-shaped ANTI-JOIN + SCALAR-AVG THRESHOLD: customers with
    above-average positive balances with no RECENT order (none since
    1999 — every fixture customer has ordered at some point, so the
    all-time test would be vacuous), summarized per market segment
    (the fixture's stand-in for TPC-H's phone country codes) — the
    churn-candidate anti-join every CRM-ish warehouse runs. The scalar
    avg comes from one dimension-side aggregation broadcast back; the
    anti-join probes the date-filtered orders' custkey set (the filter
    pushes to the orders scan, BELOW the anti-join). The avg is
    ROUNDED to 6 decimals on BOTH engines before the threshold
    comparison (the q15 pattern, r10 advice): Spark's shuffled
    partial sums and DuckDB's sequential sum over non-representable
    2-decimal balances can differ by an ulp, and a customer balance
    exactly at the boundary must not flip between engines."""
    cust = load_table(spark, "customer", sf_dir)
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 6).alias("avg_bal")
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 6).alias("totacctbal"),
        )
    )


def _q22_oracle() -> str:
    return """
        SELECT c_mktsegment, count(*) AS numcust,
               round(sum(c_acctbal), 6) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT round(avg(c_acctbal), 6) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY c_mktsegment
    """


def _q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-shaped MARKET SHARE: one supplier nation's fraction of the
    revenue delivered into one region's customers, per order year —
    the conditional-sum-over-total ratio computed INSIDE a single
    grouped aggregation (two partial-aggregatable sums, one shuffle),
    never as two scans joined back. The customer side resolves through
    the nation→region snowflake (all three dims broadcast); the
    supplier side carries only its nation name for the CASE test. The
    share divides the two same-group sums — their ulp jitter is
    perfectly correlated at ~1e-12 relative, so round-6 is stable."""
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(
        F.col("r_name") == "ASIA"
    )
    cust = (
        load_table(spark, "customer", sf_dir)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        load_table(spark, "supplier", sf_dir)
        .join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        0.0
                    )
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q8_oracle() -> str:
    return """
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               round(sum(CASE WHEN ns.n_name = 'NATION_3'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6)
                   AS mkt_share,
               count(*) AS n_lines
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation nc ON nc.n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = nc.n_regionkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ns ON ns.n_nationkey = s_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY o_year
    """


def _q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-shaped CONDITIONAL-SHARE: the percentage of one month's
    revenue that came from promotional parts — the CASE-sum / total
    ratio inside ONE aggregate over a broadcast part join, the
    ad-hoc KPI shape every BI layer emits. The month filter pushes to
    the lineitem scan; one fact pass, no shuffle before the single
    global aggregate (partial-agg combine does the work)."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q14_oracle() -> str:
    return """
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6)
                   AS promo_share_pct,
               count(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-06-01'
          AND l_shipdate < TIMESTAMP '1997-07-01'
    """


Q20_QTY_CUT = 40  # per-(part, supplier) 1997 shipped-qty threshold


def _q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-shaped NESTED SEMI-JOIN over an AGGREGATION-DERIVED KEY
    SET: suppliers who moved bulk volume (per-(part, supplier) 1997
    shipped quantity over the cut) of 'red'-named parts — TPC-H Q20's
    availqty > ½·shipped test re-based on the shipped aggregate alone
    (no partsupp table). The plan that matters: the inner aggregate
    GROUPS THE FACT TABLE ONCE on (partkey, suppkey), the part-name
    filter broadcasts INTO that aggregate's input (pruning before the
    shuffle, not after), the HAVING keeps the key set small, and the
    supplier dim is probed with a LEFT-SEMI join — the engine never
    materializes a supplier×part cross product. Quantities are
    integral doubles, so the threshold gate is exact on both engines."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    red = load_table(spark, "part", sf_dir).filter(
        F.col("p_name").like("red %")
    ).select("p_partkey")
    bulk = (
        li.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > Q20_QTY_CUT)
        .select("l_suppkey")
    )
    supp = load_table(spark, "supplier", sf_dir)
    return (
        supp.join(
            bulk, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select(
            F.col("s_suppkey").alias("supp_key"),
            "s_name",
            F.round("s_acctbal", 6).alias("acctbal"),
        )
    )


def _q20_oracle() -> str:
    return f"""
        SELECT s_suppkey AS supp_key, s_name,
               round(s_acctbal, 6) AS acctbal
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_name LIKE 'red %'
              AND l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_partkey, l_suppkey
            HAVING sum(l_quantity) > {Q20_QTY_CUT}
        )
    """


def _q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped LOCAL-SUPPLIER VOLUME: revenue per nation, one region
    and one order-year, counting only lines where the CUSTOMER and the
    SUPPLIER sit in the same nation — TPC-H Q5's six-table snowflake
    with its equi-condition that is NOT a key join (c_nationkey =
    s_nationkey). The plan that matters at 100 TB: region prunes
    nation, nation prunes supplier — all BROADCAST, so the region
    filter reaches the supplier probe without touching a fact row; the
    date filter pushes to the orders scan; lineitem⋈orders is the only
    fact-fact shuffle (orderkey-hashed); customer joins on custkey
    (dim-scale shuffle at worst — AQE broadcasts it at fixture scale);
    the local-nation test rides the broadcast supplier probe as part
    of its join condition, never as a post-join filter over a wider
    product. Revenue rounded to 6 on both engines."""
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(
        F.col("r_name") == "EUROPE"
    )
    nat = (
        nation.join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .select("n_nationkey", "n_name")
    )
    supp = (
        load_table(spark, "supplier", sf_dir)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey"
    )
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q5_oracle() -> str:
    return """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN supplier ON s_suppkey = l_suppkey
                     AND s_nationkey = c_nationkey
        JOIN nation   ON n_nationkey = s_nationkey
        JOIN region   ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY n_name
    """


def _q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-shaped PRODUCT-TYPE PROFIT: revenue from one product type
    per supplier nation per order year — TPC-H Q9's profit rollup
    re-based on the discounted price alone (the slim fixture has no
    partsupp, so the ps_supplycost·qty term is dropped; the JOIN
    TOPOLOGY — part prunes lineitem, supplier resolves to nation,
    orders contributes only the year — is what this adjudicates).
    Scale shape: the p_type filter broadcasts INTO the lineitem probe
    (fact rows drop before any shuffle), supplier⋈nation is a
    broadcast snowflake, and lineitem⋈orders is the only fact-fact
    shuffle. Group keys (nation, year) are low-cardinality, so the
    partial aggregate collapses the map side."""
    promo = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    nation = load_table(spark, "nation", sf_dir)
    supp = (
        load_table(spark, "supplier", sf_dir)
        .join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .select("s_suppkey", "n_name")
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q9_oracle() -> str:
    return """
        SELECT n_name AS supp_nation,
               EXTRACT(year FROM o_orderdate) AS o_year,
               round(sum(l_extendedprice * (1 - l_discount)), 6) AS profit,
               count(*) AS n_lines
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        JOIN orders   ON o_orderkey = l_orderkey
        WHERE p_type = 'PROMO'
        GROUP BY supp_nation, o_year
    """


Q12_LATE_DAYS = 180  # ship-delay cut separating ONTIME from LATE


def _q12_lateness_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shaped PRIORITY-BY-LATENESS: high- vs low-priority line
    counts per lateness class — TPC-H Q12's CASE-count pivot re-cut
    onto ship delay (days between order date and ship date; the slim
    fixture has no shipmode or commit/receipt dates). The shape that
    matters: both CASE sums ride ONE grouped aggregation over the
    single lineitem⋈orders fact shuffle — never two scans joined
    back — and the day arithmetic is DATE-truncated on both engines
    so timestamp times can't skew a boundary. Counts are integers:
    exact on both engines."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_shipdate"
    )
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.when(delay > Q12_LATE_DAYS, F.lit("LATE"))
            .otherwise(F.lit("ONTIME"))
            .alias("ship_class")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def _q12_oracle() -> str:
    return f"""
        SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE)) > {Q12_LATE_DAYS}
                    THEN 'LATE' ELSE 'ONTIME' END AS ship_class,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        GROUP BY ship_class
    """


Q18_QTY_CUT = 300  # per-order total-quantity threshold (~p99.5)


def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shaped LARGE-VOLUME ORDERS: the top orders by price among
    those whose total line quantity exceeds a cut — TPC-H Q18's
    HAVING-derived semi-join plus top-N. The plan that matters: the
    fact table aggregates ONCE on orderkey, the HAVING keeps the
    surviving key set tiny (~p99.5), and that AGGREGATION-DERIVED
    frame broadcasts into orders and then into customer — the engine
    never shuffles orders or customer on the big side's terms. Top-N
    is orderBy+limit = TakeOrderedAndProject (per-partition heaps —
    the r10 q10 lesson), with orderkey as the deterministic
    tiebreaker on BOTH engines. Quantities are integral doubles, so
    the cut is exact. Supersedes the r3 query of the same name
    (driver-green in CORRECTNESS_r03), which lacked the top-N and
    broadcast the fact-derived side the wrong way; rebirth stamped
    r11, fresh adjudication this round."""
    li = load_table(spark, "lineitem", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY_CUT)
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name"
    )
    ord_big = orders.join(
        F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey")
    )
    return (
        cust.join(
            F.broadcast(ord_big), F.col("c_custkey") == F.col("o_custkey")
        )
        .select(
            "c_name",
            F.col("c_custkey").alias("cust_key"),
            F.col("o_orderkey").alias("order_key"),
            "o_orderdate",
            F.round("o_totalprice", 6).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.desc("total_price"), "order_key")
        .limit(100)
    )


def _q18_oracle() -> str:
    return f"""
        SELECT c_name, c_custkey AS cust_key, o_orderkey AS order_key,
               o_orderdate, round(o_totalprice, 6) AS total_price,
               total_qty
        FROM orders
        JOIN customer ON c_custkey = o_custkey
        JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > {Q18_QTY_CUT}) big
          ON big.l_orderkey = o_orderkey
        ORDER BY total_price DESC, order_key
        LIMIT 100
    """


def _stage_corrupt_csv(docs: DataFrame, src: str, n_files: int = 1) -> None:
    """Render documents as headerless CSV text lines — (doc_id, lang,
    n_chars) — deliberately corrupting the n_chars field of every row
    where ``doc_id % 7 == 3`` (a non-numeric token a LongType field
    cannot bind, so the PERMISSIVE parser must quarantine exactly that
    slice). Written distributed (no driver collect); ``n_files`` > 1
    splits rows by ``doc_id % n_files`` into separate files so a
    FileStreamSource with maxFilesPerTrigger=1 sees a deterministic
    batch count.

    Staging precondition (r11 advice): the rows are rendered with
    ``concat_ws`` and NO quoting, so a lang containing the separator /
    a quote / a newline, or a null in any field (``concat_ws``
    silently drops nulls), would shift field arity and move the
    injected corruption to the wrong column — silently breaking the
    s8/t21 oracle rule. The fixture has no such values; this asserts
    that contract instead of assuming it."""
    n_bad = (
        docs.agg(
            F.sum(
                (
                    F.col("doc_id").isNull()
                    | F.col("n_chars").isNull()
                    | F.col("lang").isNull()
                    | F.col("lang").rlike('[,"\n\r]')
                ).cast("int")
            ).alias("n_bad")
        ).first()["n_bad"]
        or 0
    )
    if n_bad:
        raise ValueError(
            f"_stage_corrupt_csv: {n_bad} fixture rows violate the "
            "unquoted-CSV staging precondition (null field or "
            "separator/quote/newline inside lang)"
        )
    lines = docs.select(
        F.col("doc_id"),
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.col("lang"),
            F.when(
                F.col("doc_id") % 7 == 3,
                F.concat(F.lit("x"), F.col("n_chars").cast("string")),
            ).otherwise(F.col("n_chars").cast("string")),
        ).alias("value"),
    )
    for i in range(n_files):
        (
            lines.filter(F.col("doc_id") % n_files == i)
            .select("value")
            .coalesce(1)
            .write.mode("append")
            .text(src)
        )


def _docs_csv_schema():
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
            StructField("n_chars", LongType(), True),
        ]
    )


# Both engines must agree on which rows the corruption rule hit; the
# oracle recomputes the rule from the SAME fixture column, so the
# driver row adjudicates the LOADER (parse + quarantine split), not
# the staging.
_S8_ORACLE = """
    SELECT CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean,
           CAST(sum(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quarantined,
           round(sum(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END)
                 / count(*), 6) AS quarantine_frac,
           CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN n_chars ELSE 0 END)
                AS BIGINT) AS clean_chars_sum
    FROM documents
"""


def _s8_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8 — the schema-enforced CSV bulk-drop loader under the
    driver's oracle (the r10 verdict's one un-adjudicated capability):
    documents rendered to a headerless CSV with a known corrupt slice
    (``doc_id % 7 == 3`` carries an unparseable n_chars), loaded back
    through ``load_csv``'s PERMISSIVE quarantine split, and published
    as the one-row ingest accounting (n_clean, n_quarantined,
    quarantine_frac) plus a checksum over the CLEAN frame. The oracle
    recomputes all four from the fixture's documents table and the
    same corruption rule, so a loader that drops a clean row, coerces
    a corrupt one, or double-counts either side hash-mismatches.
    Scale shape: staging is distributed text-write, the load is ONE
    parse shared by both split sides (sources/files.py:63 cache), and
    every published number is an aggregate — no collect anywhere."""
    import shutil
    import tempfile

    from financial_market_data_analysis_spark.sources import files as FS

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    src = tempfile.mkdtemp(prefix="s8_csv_")
    try:
        _stage_corrupt_csv(docs, src)
        clean, quar = FS.load_csv(
            spark, src, _docs_csv_schema(), header=False
        )
        rep = FS.ingest_report(clean, quar)
        chk = clean.agg(F.sum("n_chars").alias("clean_chars_sum"))
        out = rep.crossJoin(chk).localCheckpoint(eager=True)
        FS.release_split(clean, quar)  # drop the one-parse cache (r11 advice)
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return out


_S9_ORACLE = """
    SELECT CAST(sum(CASE WHEN event_id % 13 <> 7 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean,
           CAST(sum(CASE WHEN event_id % 13 = 7 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quarantined,
           round(sum(CASE WHEN event_id % 13 = 7 THEN 1 ELSE 0 END)
                 / count(*), 6) AS quarantine_frac,
           round(sum(CASE WHEN event_id % 13 <> 7 THEN value ELSE 0 END), 6)
               AS clean_value_sum
    FROM events
"""


def _s9_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8 — the JSONL twin of s8: events rendered to JSON lines
    with TYPE DRIFT injected on ``event_id % 13 == 7`` (the value
    field becomes a string where the schema declares a double — per
    the loader contract, drift is corruption, not a cast), loaded
    back through ``load_jsonl``, published as ingest accounting plus
    a rounded checksum over the clean values. Doubles round-trip
    exactly through ``to_json`` (shortest-representation formatting),
    so the clean-sum is the same fold on both engines. Same scale
    shape as s8: distributed staging, one shared parse, aggregates
    only."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from financial_market_data_analysis_spark.sources import files as FS

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "value"
    )
    schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("user_id", LongType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    drifted = F.to_json(
        F.struct(
            "event_id",
            "user_id",
            F.concat(F.lit("v"), F.col("value").cast("string")).alias(
                "value"
            ),
        )
    )
    src = tempfile.mkdtemp(prefix="s9_jsonl_")
    try:
        (
            ev.select(
                F.when(F.col("event_id") % 13 == 7, drifted)
                .otherwise(
                    F.to_json(F.struct("event_id", "user_id", "value"))
                )
                .alias("value")
            )
            .write.mode("overwrite")
            .text(src)
        )
        clean, quar = FS.load_jsonl(spark, src, schema)
        rep = FS.ingest_report(clean, quar)
        chk = clean.agg(
            F.round(F.sum("value"), 6).alias("clean_value_sum")
        )
        out = rep.crossJoin(chk).localCheckpoint(eager=True)
        FS.release_split(clean, quar)  # drop the one-parse cache (r11 advice)
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return out


_T21_N_FILES = 3


def _t21_stream_csv_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21 — the STREAMING drop-folder twin of s8 (r10 verdict #3):
    the same corrupt CSV staged as THREE files, consumed by a
    FileStreamSource with maxFilesPerTrigger=1 under availableNow (so
    exactly three micro-batches), each batch split through the SAME
    single-parse quarantine predicate inside foreachBatch and
    accounted per batch: clean rows append to the clean sink,
    (n_clean, n_quarantined) append to the accounting sink.
    The published row folds the accounting sink back together —
    n_batches proves the micro-batching actually happened; the
    clean/quarantine totals and the clean checksum must equal the
    batch loader's (same oracle rule as s8). Scale shape: this IS the
    100 TB bulk-ingest form — parse once per batch, write clean and
    quarantine from that one parse, never re-read the raw drop — and
    BOTH sinks are idempotent under replay (``epoch_idempotent_writer``,
    the t7/K1 pattern: a retried batch replaces its own epoch partition
    instead of appending duplicates)."""
    from financial_market_data_analysis_spark.sources import files as FS

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    with streaming_run(spark) as sr:
        src = sr.path("drop")
        acct = sr.path("acct")
        clean_dir = sr.path("clean")
        _stage_corrupt_csv(docs, src, n_files=_T21_N_FILES)
        stream = (
            spark.readStream.schema(
                FS._with_corrupt_field(_docs_csv_schema())
            )
            .option("header", "false")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", FS.CORRUPT_COL)
            .option("maxFilesPerTrigger", 1)
            .csv(src)
        )

        write_acct = epoch_idempotent_writer(acct)
        write_clean = epoch_idempotent_writer(clean_dir)

        def _ingest(batch: DataFrame, bid: int) -> None:
            clean, quar = FS._split(batch, "PERMISSIVE")
            write_acct(FS.ingest_report(clean, quar), bid)
            write_clean(clean, bid)

        sr.run(stream.writeStream.foreachBatch(_ingest))
        rep = spark.read.parquet(acct).agg(
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("n_clean").alias("n_clean"),
            F.sum("n_quarantined").alias("n_quarantined"),
        )
        chk = spark.read.parquet(clean_dir).agg(
            F.sum("n_chars").alias("clean_chars_sum")
        )
        return rep.crossJoin(chk).localCheckpoint(eager=True)


_T21_ORACLE = f"""
    SELECT CAST({_T21_N_FILES} AS BIGINT) AS n_batches,
           CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean,
           CAST(sum(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quarantined,
           CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN n_chars ELSE 0 END)
                AS BIGINT) AS clean_chars_sum
    FROM documents
"""


def _s10_two_drops(spark: SparkSession, sf_dir: str):
    """Deterministic 'two drops of the same feed' fixture derived from
    documents (the docs_augmented convention — derivation lives in a
    named fixture, not the query body): the OLD drop is the even half
    with the original (doc_id, text, lang, n_chars) layout; the NEW
    drop is the odd half after a producer-side contract drift — lang
    DROPPED, source ADDED, n_chars RETYPED bigint→double, and text
    nulled on the doc_id%5 slice (a null-rate regression the report
    must quantify, not just flag)."""
    docs = load_table(spark, "documents", sf_dir)
    old = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", "lang", "n_chars"
    )
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.lit(None).cast("string")
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
        F.col("n_chars").cast("double").alias("n_chars"),
    )
    return old, new


def _s10_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8 — the SCHEMA-LEVEL drift report over two drops of the
    same feed (sources/files.py schema_drift_report): the contract
    check that runs before the row-level quarantine gets a say — a
    producer dropping, adding, or retyping a column is invisible to
    per-row parsing under an explicit schema. One report row per
    column: status (added/removed/type_changed/kept), both type
    names, and round-6 null fractions per side. The oracle recomputes
    every fraction from the fixture under the same derivation, so a
    report that mislabels a column or miscounts a null slice
    hash-mismatches. Scale shape: driver-side schema diff + ONE
    partial-aggregatable stats pass per side, per-column rows via
    inline over a single array-of-structs projection (two scans
    total, no per-column re-planning)."""
    from financial_market_data_analysis_spark.sources import files as FS

    old, new = _s10_two_drops(spark, sf_dir)
    return FS.schema_drift_report(old, new)


def _s11_schema_evolution_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8 — the schema-evolution-TOLERANT ingest on top of s10's
    drift report (r11 verdict #4): two CSV drops of the same feed with
    a producer-side contract drift between them — the OLD drop is
    (doc_id, lang, n_chars BIGINT) for even doc_ids; the NEW drop is
    (doc_id, n_chars DOUBLE, source) for odd doc_ids (lang REMOVED,
    source ADDED, n_chars RETYPED bigint→double with genuinely
    fractional values) plus a corrupt slice (doc_id % 11 == 5 carries
    an unparseable n_chars). ``load_csv_evolving`` must land BOTH
    drops as one widened union — old rows with n_chars promoted to
    double and source NULL, new rows with lang NULL, the retyped
    column as VALUES not a 100% quarantine, and ONLY the truly
    corrupt slice quarantined. The returned frame is the full clean
    union, so the oracle (DuckDB's union-by-name recomputed from the
    fixture) hash-checks every landed value, null fill, widened cast,
    and quarantine decision row by row.

    Scale shape: one parse per drop shared by its clean/quarantine
    sides, casts are columnar, the union is a no-shuffle
    concatenation; the parse caches are released after the eager
    checkpoint (sources/files.py release_split)."""
    import shutil
    import tempfile

    from financial_market_data_analysis_spark.sources import files as FS
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars", "source"
    )
    n_bad = (
        docs.agg(
            F.sum(
                (
                    F.col("doc_id").isNull()
                    | F.col("n_chars").isNull()
                    | F.col("lang").isNull()
                    | F.col("lang").rlike('[,"\n\r]')
                    | F.col("source").isNull()
                    | F.col("source").rlike('[,"\n\r]')
                ).cast("int")
            ).alias("n_bad")
        ).first()["n_bad"]
        or 0
    )
    if n_bad:
        raise ValueError(
            f"_s11: {n_bad} fixture rows violate the unquoted-CSV "
            "staging precondition"
        )
    old_lines = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            "lang",
            F.col("n_chars").cast("string"),
        ).alias("value")
    )
    new_lines = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 11 == 5,
                F.concat(F.lit("x"), (F.col("n_chars") + 0.5).cast("string")),
            ).otherwise((F.col("n_chars") + 0.5).cast("string")),
            "source",
        ).alias("value")
    )
    old_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
            StructField("n_chars", LongType(), True),
        ]
    )
    new_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("n_chars", DoubleType(), True),
            StructField("source", StringType(), True),
        ]
    )
    old_dir = tempfile.mkdtemp(prefix="s11_old_")
    new_dir = tempfile.mkdtemp(prefix="s11_new_")
    try:
        old_lines.write.mode("overwrite").text(old_dir)
        new_lines.write.mode("overwrite").text(new_dir)
        clean, quar = FS.load_csv_evolving(
            spark, [(old_dir, old_schema), (new_dir, new_schema)]
        )
        out = clean.localCheckpoint(eager=True)
        FS.release_split(clean, quar)
    finally:
        shutil.rmtree(old_dir, ignore_errors=True)
        shutil.rmtree(new_dir, ignore_errors=True)
    return out


_S11_ORACLE = """
    SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS n_chars,
           CAST(NULL AS VARCHAR) AS source, 0 AS _drop_id
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, n_chars + 0.5,
           source, 1 AS _drop_id
    FROM documents WHERE doc_id % 2 = 1 AND doc_id % 11 <> 5
"""


def _s12_jsonl_evolution_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8 — the JSONL twin of s11 (the more common real case: JSON
    is schema-per-row, so producer drift arrives silently): the OLD
    drop carries events as ``{event_id, event_type, n}`` with ``n``
    (= user_id) a BIGINT; the NEW drop's producer REMOVED event_type,
    ADDED props, and RETYPED n to genuinely fractional doubles
    (user_id + 0.5) — which under s9's strict single-schema loader
    would quarantine the ENTIRE new drop as type drift. A corrupt
    slice (event_id % 13 == 7 carries a string where the number
    belongs) must still quarantine row-level. ``load_jsonl_evolving``
    lands both drops as one widened union; the oracle recomputes every
    value, null fill, and quarantine decision from the fixture.
    Staging uses ``to_json`` (proper escaping), so no unquoted-CSV
    precondition applies.

    Scale shape: identical to s11 — one parse per drop, columnar
    casts, no-shuffle union, caches released after the eager
    checkpoint."""
    import shutil
    import tempfile

    from financial_market_data_analysis_spark.sources import files as FS
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "user_id", "props"
    )
    old_lines = ev.filter(F.col("event_id") % 2 == 0).select(
        F.to_json(
            F.struct(
                "event_id",
                "event_type",
                F.col("user_id").alias("n"),
            )
        ).alias("value")
    )
    new_good = ev.filter(
        (F.col("event_id") % 2 == 1) & (F.col("event_id") % 13 != 7)
    ).select(
        F.to_json(
            F.struct(
                "event_id",
                (F.col("user_id") + 0.5).alias("n"),
                "props",
            )
        ).alias("value")
    )
    new_bad = ev.filter(
        (F.col("event_id") % 2 == 1) & (F.col("event_id") % 13 == 7)
    ).select(
        F.to_json(
            F.struct(
                "event_id",
                F.concat(F.lit("x"), F.col("user_id").cast("string")).alias(
                    "n"
                ),
                "props",
            )
        ).alias("value")
    )
    old_schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("n", LongType(), True),
        ]
    )
    new_schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("n", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    )
    old_dir = tempfile.mkdtemp(prefix="s12_old_")
    new_dir = tempfile.mkdtemp(prefix="s12_new_")
    try:
        old_lines.write.mode("overwrite").text(old_dir)
        new_good.unionAll(new_bad).write.mode("overwrite").text(new_dir)
        clean, quar = FS.load_jsonl_evolving(
            spark, [(old_dir, old_schema), (new_dir, new_schema)]
        )
        out = clean.localCheckpoint(eager=True)
        FS.release_split(clean, quar)
    finally:
        shutil.rmtree(old_dir, ignore_errors=True)
        shutil.rmtree(new_dir, ignore_errors=True)
    return out


_S12_ORACLE = """
    SELECT event_id, event_type, CAST(user_id AS DOUBLE) AS n,
           CAST(NULL AS VARCHAR) AS props, 0 AS _drop_id
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, CAST(NULL AS VARCHAR) AS event_type,
           user_id + 0.5, props, 1 AS _drop_id
    FROM events WHERE event_id % 2 = 1 AND event_id % 13 <> 7
"""


def _s13_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 — hive-layout partitioned warehouse write + PROVEN
    partition-pruned range scan (sources/batch.py ``write_partitioned``
    / ``scan_partition_pruned``): events land date-partitioned
    (``day_num=NNNNN/`` directories — the layout every production
    parquet warehouse uses), then the middle third of the day range is
    read back through a filter on the partition column and the scan is
    ASSERTED pruned via the executed scan's ``numPartitions`` metric —
    a footer-only probe plan must select exactly the in-range day
    directories, with at least one out-of-range day skipped. This is the
    physical-layout sibling of j5's bucketed join: bucketing kills the
    join shuffle, directory partitioning kills the scan itself — the
    single biggest I/O lever at 100 TB, and the one layout property a
    correctness hash can't see unless it is raised to an invariant
    (a silent pruning regression returns identical rows while reading
    1000× the bytes). Published: per-day event counts and rounded
    value sums over the pruned range; the oracle recomputes the same
    day window from the raw events with the bounds as scalar
    subqueries — the identical integer arithmetic on both sides.

    Scale shape: the write is one distributed pass (partition dirs =
    days, bounded cardinality); the bounds probe is a 1-row global
    min/max; the pruned read lists only matching directories."""
    import shutil
    import tempfile

    from financial_market_data_analysis_spark.sources.batch import (
        scan_partition_pruned,
        write_partitioned,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        "event_type",
        "value",
        F.expr("ts_us div 86400000000").cast("int").alias("day_num"),
    )
    bounds = ev.agg(
        F.min("day_num").alias("lo"), F.max("day_num").alias("hi")
    ).first()
    span = bounds.hi - bounds.lo
    lo, hi = bounds.lo + span // 3, bounds.lo + 2 * span // 3
    wh = tempfile.mkdtemp(prefix="s13_wh_")
    try:
        write_partitioned(ev, wh, ["day_num"])
        pruned = scan_partition_pruned(spark, wh, "day_num", lo, hi)
        out = (
            pruned.groupBy(F.col("day_num").cast("long").alias("day_num"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("value_sum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return out


_S13_ORACLE = """
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS day_num, value
        FROM events
    ),
    b AS (
        SELECT min(day_num) AS mn, max(day_num) - min(day_num) AS span
        FROM d
    )
    SELECT day_num, count(*) AS n_events,
           round(sum(value), 6) AS value_sum
    FROM d, b
    WHERE day_num BETWEEN mn + span // 3 AND mn + (2 * span) // 3
    GROUP BY day_num
"""


def _j7_broadcast_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — the supplier-side revenue snowflake with its plan shape
    RAISED TO AN INVARIANT (operators/joins.py
    ``assert_star_broadcast``, the s13/s14 executed-plan proof
    discipline applied to the JOIN tier): region gates nation, nation
    gates supplier, the assembled dim broadcasts onto lineitem, and
    the executed plan is ASSERTED to contain ≥3
    ``BroadcastHashJoinExec``, zero sort-merge/shuffled-hash joins,
    and at most ONE shuffle exchange — the final aggregation's. Every
    in-window snowflake (q5, j5's assemblies) RELIES on this shape;
    j7 makes its loss loud: a dropped hint, a dim outgrowing the
    broadcast threshold, or an AQE stats flip returns identical rows
    while shuffling the fact once per dim — invisible to a value hash,
    ~4× the cluster I/O at 100 TB. Published: per-nation revenue and
    line counts for the gated region (q5's rounding convention).

    Scale shape: the proof IS the shape — the fact table moves
    through exactly one exchange (groupBy on n_name), every dim
    arrives as a broadcast; the plan walk costs one extra execution
    of a fixture-sized aggregate."""
    from financial_market_data_analysis_spark.operators.joins import (
        assert_star_broadcast,
    )

    nat = (
        load_table(spark, "nation", sf_dir)
        .join(
            F.broadcast(
                load_table(spark, "region", sf_dir).filter(
                    F.col("r_name") == "ASIA"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = (
        load_table(spark, "supplier", sf_dir)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    out = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                6,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    assert_star_broadcast(out, n_dims=3)
    return out


_J7_ORACLE = """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
"""


def _s14_minmax_skipped_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 — range-clustered warehouse write + PROVEN min/max data
    skipping on a NON-partition sort column (sources/batch.py
    ``write_sorted`` / ``scan_minmax_skipped``, r13 verdict #3): events
    land range-clustered by ``event_id`` (``repartitionByRange`` +
    ``sortWithinPartitions`` — each parquet file covers a disjoint id
    range, so every row group carries tight footer min/max), then the
    middle third of the id range is read back through a pushed range
    predicate and the skipping is ASSERTED via the executed scan's
    ``numOutputRows`` sandwich: matching rows <= scan output <= rows of
    footer-overlapping row groups < rows on disk. This completes the
    physical-layout tier one level below s13: directory partitioning
    prunes a bounded-cardinality key (days), range-clustering makes
    footer stats prune a high-cardinality ordered key (ids,
    timestamps) where a directory per value is its own scale failure —
    at 100 TB row-group skipping is the second I/O lever after
    partitioning, and it silently regresses (identical rows, every
    byte read) unless raised to an invariant. The reference's MariaDB
    has only index walks (create_database.py:69-73); a columnar
    warehouse gets the same effect from layout + footers, zero index
    maintenance. Published: per-event-type counts and rounded value
    sums over the skip-proven range; the oracle recomputes the same id
    window from the raw events with the bounds as scalar subqueries —
    identical integer arithmetic both sides.

    Scale shape: the write is one range-shuffle pass (the range
    exchange samples keys, no global sort); the footer census is one
    metadata read per file; the probe costs one column scan of the
    surviving row groups only."""
    import shutil
    import tempfile

    from financial_market_data_analysis_spark.sources.batch import (
        scan_minmax_skipped,
        write_sorted,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    bounds = ev.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    span = bounds.hi - bounds.lo
    lo, hi = bounds.lo + span // 3, bounds.lo + 2 * span // 3
    wh = tempfile.mkdtemp(prefix="s14_wh_")
    try:
        write_sorted(ev, wh, "event_id", 8)
        skipped = scan_minmax_skipped(spark, wh, "event_id", lo, hi)
        out = (
            skipped.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("value_sum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return out


_S14_ORACLE = """
    WITH b AS (
        SELECT min(event_id) AS mn,
               max(event_id) - min(event_id) AS span
        FROM events
    )
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 6) AS value_sum
    FROM events, b
    WHERE event_id BETWEEN mn + span // 3 AND mn + (2 * span) // 3
    GROUP BY event_type
"""


def _j8_dpp_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — DYNAMIC partition pruning, proven: the third member of the
    pruning trilogy. s13 proves STATIC pruning (a literal range on the
    partition column), s14 proves min/max row-group skipping — j8
    proves the case real warehouses hit most: the fact's partition
    filter is not known until runtime because it comes FROM A JOIN (a
    filtered dimension selects the days), and Catalyst must inject the
    build side's key set into the fact scan as a dynamic partition
    filter (reusing the broadcast). Without DPP the plan silently
    scans every partition and filters after the join — identical
    rows, full-warehouse I/O; that is precisely the regression class
    the s13/s14 probes exist for, one optimizer feature deeper. The
    query writes events day-partitioned, writes a day dimension to
    parquet (DPP requires a SELECTIVE predicate on a sourced build
    side — a bare in-memory relation does not qualify), joins fact to
    the filtered dim, and raises unless BOTH hold on the executed
    plan: the scan's PartitionFilters carry a ``dynamicpruning``
    expression, and its ``numPartitions`` metric equals the filtered
    dim's day count with at least one on-disk day skipped. Published:
    per-day counts and rounded value sums over the dim-selected days;
    the oracle recomputes them from raw events with the same
    day predicate.

    Scale shape: at 100 TB this is the difference between a dimension
    filter touching 3 days and touching 3 years — and unlike s13's
    static range it composes with ANY dim predicate the analyst
    writes."""
    import os
    import shutil
    import tempfile

    from financial_market_data_analysis_spark.sources.batch import (
        _find_file_scan,
        write_partitioned,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        "value",
        F.expr("ts_us div 86400000000").cast("int").alias("day_num"),
    )
    work = tempfile.mkdtemp(prefix="j8_dpp_")
    fact_dir, dim_dir = f"{work}/fact", f"{work}/days"
    try:
        write_partitioned(ev, fact_dir, ["day_num"])
        (
            ev.select("day_num")
            .distinct()
            .withColumn(
                "tag",
                F.when(F.col("day_num") % 3 == 0, F.lit("audit")).otherwise(
                    F.lit("normal")
                ),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(dim_dir)
        )
        # directory census via os.listdir (the fixture is local); on
        # HDFS/S3 swap for FileSystem.listStatus / ListObjectsV2 — one
        # metadata RPC per audit (the s13/s14 swap note; this query is
        # a general pattern, not a local-FS one)
        on_disk = [
            int(d.split("=", 1)[1])
            for d in os.listdir(fact_dir)
            if d.startswith("day_num=")
        ]
        n_expected = sum(1 for v in on_disk if v % 3 == 0)
        if not 0 < n_expected < len(on_disk):
            raise RuntimeError(
                f"dynamic pruning is unprovable: {n_expected} of "
                f"{len(on_disk)} days selected — nothing to skip"
            )
        fact = spark.read.parquet(fact_dir)
        dim = spark.read.parquet(dim_dir).filter(F.col("tag") == "audit")
        out = (
            fact.join(F.broadcast(dim), "day_num")
            .groupBy(F.col("day_num").cast("long").alias("day_num"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("value_sum"),
            )
        )
        plan = out._jdf.queryExecution().executedPlan()
        plan.execute().count()  # run exactly this physical plan once
        if "dynamicpruning" not in plan.toString().lower():
            raise RuntimeError(
                "dynamic partition pruning was not planned: no "
                "dynamicpruning expression in the executed plan — the "
                "fact scan would read every partition. Plan:\n"
                f"{plan.toString()}"
            )
        # select the FACT scan by rootPaths, not traversal order — the
        # plan also scans the dim parquet, and if AQE ever surfaces the
        # dim scan first a positional pick would read a scan with no
        # partition metrics (r14 ADVICE)
        leaf = _find_file_scan(plan, path_substr=fact_dir)
        if leaf is None:
            raise RuntimeError(
                "dynamic pruning is unprovable: no FileSourceScanExec "
                f"over {fact_dir} in the executed plan:\n"
                f"{plan.toString()}"
            )
        metrics: dict[str, int] = {}
        it = leaf.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        n_sel = metrics.get("numPartitions")
        if n_sel != n_expected:
            raise RuntimeError(
                f"dynamic pruning failed: scan read {n_sel} partition "
                f"directories, expected the {n_expected} dim-selected "
                f"of {len(on_disk)} on disk (metrics: {metrics})"
            )
        result = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return result


_J8_ORACLE = """
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS day_num, value
        FROM events
    )
    SELECT day_num, count(*) AS n_events,
           round(sum(value), 6) AS value_sum
    FROM d
    WHERE day_num % 3 = 0
    GROUP BY day_num
"""


def _j9_aqe_skew_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 — AQE SKEW-JOIN handling proven from the executed plan
    (operators/joins.py ``assert_skew_join_split``, r14 verdict #5):
    the skew tier's missing proof. d8 measures key skew, j2 cures it
    by salting, d9 measures what the manual cure does to the
    per-reducer balance — but the cure a 100 TB operator reaches for
    FIRST is Spark's own ``spark.sql.adaptive.skewJoin``, and until
    now nothing asserted it works. This query builds a deliberately
    skewed fact (~70% of events hash to one hot key), sort-merge-joins
    it to its key dimension with broadcast disabled (the realistic
    case: both sides too big to broadcast), and RAISES unless the
    executed plan shows (1) a ``SortMergeJoinExec`` with
    ``isSkewJoin = true`` and (2) ``numSkewedSplits >= 2`` on the
    AQE shuffle reads — the hot partition genuinely cut into parallel
    pieces, not one straggler task. Rows are adjudicated against a
    plain-join DuckDB oracle, so the rewrite is also proven
    result-neutral.

    Making the rule fire at fixture scale taught three operational
    facts this query now encodes (each the difference between "skew
    handling on" and "skew handling silently inert" on a real
    cluster, which is exactly why the proof exists):

    1. **Skew splits are MAP-CHUNK granularity.** A skewed reduce
       partition is cut along its per-mapper contributions, so a
       shuffle with ONE map task can never split — the fixture's
       single-file scan had to become a deterministic 8-task
       ``repartition`` (a 100 TB fact arrives from thousands of map
       tasks; a single-mapper shuffle is the fixture artifact).
    2. **OptimizeSkewedJoin pattern-matches Sort-over-shuffle
       CHILDREN.** A ``distinct()``-built dim puts its final
       HashAggregate between the join's Sort and the shuffle stage
       and the rule no longer matches AT ALL — the dim here is a
       clean ``spark.range`` leaf, as a real dim table would be.
    3. **Detection reads COMPRESSED shuffle bytes.** The fixture's
       near-constant columns lz4-compress ~150×, hiding the skew
       from the size-based detector; the fact carries an
       incompressible md5 payload so measured bytes reflect row
       counts (real market payloads are not constant either).

    Skew thresholds are scoped DOWN for the fixture (the hot
    partition is ~100s of KB compressed here, not the 256 MB default
    threshold) under the serial-execution contract documented at
    functions/core.py ``scoped_confs``; on a real cluster the
    defaults fire on genuinely hot keys. Aggregates are
    order-independent (counts, integer sums, min over strings) so the
    proof never rides float-addition order.

    Scale shape: the proof IS the product — at 100 TB an unsplit hot
    key is the single-task wall that turns a 10-minute join into
    hours; this asserts the planner rewrite that breaks it, per run,
    from runtime metrics. Reference parity: the reference's
    single-consumer design never joins at this scale
    (spark_consumer.py processes one feed per core); skew handling is
    what its topology needs the moment two feeds join on a hot
    symbol."""
    from financial_market_data_analysis_spark.functions.core import scoped_confs
    from financial_market_data_analysis_spark.operators.joins import (
        assert_skew_join_split,
    )

    rep = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_id",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("r"),
        )
        # deterministic 8-mapper shuffle feeding the join exchange:
        # skew splits are map-chunk granularity (docstring fact 1)
        .repartition(8)
    )
    fact = rep.select(
        F.when(F.col("event_id") % 10 < 7, F.lit(0))
        .otherwise(F.col("event_id") % 997)
        .cast("long")
        .alias("hot_key"),
        ((F.col("event_id") * 10 + F.col("r")) % 1000).alias("id_mod"),
        # incompressible payload so compressed shuffle bytes see the
        # skew (docstring fact 3); min() keeps it in the shuffle
        F.md5((F.col("event_id") * 10 + F.col("r")).cast("string")).alias(
            "payload"
        ),
    )
    # clean leaf dim — an aggregate here would defeat the rule's
    # Sort(ShuffleStage) pattern match (docstring fact 2)
    dim = spark.range(997).select(
        F.col("id").alias("hot_key"),
        (F.col("id") % 7).cast("long").alias("tag"),
    )
    scoped = {
        # both broadcast paths OFF: the realistic skew case is two
        # shuffle-sized sides, and a broadcast join would bypass the
        # machinery under proof
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # fixture-scale thresholds; factor stays at the default 5.0 —
        # the hot key exceeds the median by far more
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": (
            "64KB"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    with scoped_confs(spark, scoped):
        out = (
            fact.join(dim, "hot_key")
            .groupBy("tag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("id_mod").alias("id_mod_sum"),
                F.min("payload").alias("payload_min"),
            )
        )
        assert_skew_join_split(out)
        # freeze the audited result: after the confs restore, a
        # re-plan would broadcast the dim and collect a DIFFERENT
        # (unaudited) plan
        return out.localCheckpoint(eager=True)


_J9_ORACLE = """
    WITH f AS (
        SELECT CASE WHEN event_id % 10 < 7 THEN 0
                    ELSE event_id % 997 END AS hot_key,
               (event_id * 10 + r.range) % 1000 AS id_mod,
               md5(CAST(event_id * 10 + r.range AS VARCHAR)) AS payload
        FROM events CROSS JOIN range(10) r
    ),
    d AS (SELECT range AS hot_key, range % 7 AS tag FROM range(997))
    SELECT tag, count(*) AS n_rows,
           CAST(sum(id_mod) AS BIGINT) AS id_mod_sum,
           min(payload) AS payload_min
    FROM f JOIN d USING (hot_key)
    GROUP BY tag
"""


_J10_HEAVY_MIN = 70  # HAVING count(*) >= 70: ~1/3 of users at every sf


def _j10_runtime_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — AQE's RUNTIME join re-selection proven (operators/
    joins.py ``assert_runtime_broadcast_demotion``; with j7 static
    broadcast, j8 dynamic pruning and j9 skew splitting this
    completes the adaptive-planner proof tier): the dim is the
    HAVING output "users with ≥ 70 events" — a build side whose size
    NO static statistic can know (the fixture reproduces the 100 TB
    situation by turning the static broadcast threshold off: there,
    the dim's pre-filter size exceeds any threshold and SMJ is the
    correct static call). The query RAISES unless the initial
    physical plan chose a sort-merge join with zero broadcast joins
    AND the executed plan shows AQE demoted it to a broadcast hash
    join with zero sort-merge joins after the dim materialized at
    its true (small) size. The rows ride a plain HAVING-semi-join
    oracle, so the rewrite is also proven result-neutral.

    Why it matters at 100 TB: the static planner must assume the
    worst about aggregate outputs; without the runtime flip every
    fact-to-derived-dim join pays a full fact shuffle. The flip is
    also SILENT in both directions — a threshold typo or
    ``adaptive.autoBroadcastJoinThreshold=-1`` quietly reverts to
    the shuffle while returning identical rows; this makes the
    regression loud, per run. Aggregates are count/integer-sum only
    (no float-order exposure); the audited result is frozen with
    ``localCheckpoint`` before the scoped confs restore (the j9
    convention).

    The fact side carries an upstream stage (``repartition(8)``, the
    j9 fixture convention for "a real fact arrives from many
    upstream tasks") and that is LOAD-BEARING, not cosmetic: AQE
    re-plans at stage boundaries and — since Spark adopts a re-plan
    only at strictly LOWER shuffle cost — the broadcast demotion
    fires exactly when the dim's true size is learned BEFORE the
    fact's join exchange is created, so the re-plan can ELIMINATE
    that exchange. When both join inputs are leaf exchanges they
    materialize together, nothing is left to save, and AQE correctly
    keeps the SMJ (measured both ways on this fixture). That is the
    genuine 100 TB shape of the win — the flip saves the fact
    shuffle in multi-stage pipelines; it cannot refund one already
    paid."""
    from financial_market_data_analysis_spark.functions.core import scoped_confs
    from financial_market_data_analysis_spark.operators.joins import (
        assert_runtime_broadcast_demotion,
    )

    ev_raw = load_table(spark, "events", sf_dir).select(
        "user_id",
        (F.col("event_id") % 1000).alias("id_mod"),
    )
    # the fact's upstream stage (see docstring); the dim branches off
    # the RAW scan so its aggregation exchange is a first-round leaf
    # stage — its runtime size is known before the fact's join
    # exchange exists, which is what makes the demotion strictly
    # cheaper and therefore adopted
    ev = ev_raw.repartition(8)
    heavy = (
        ev_raw.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .filter(F.col("n_ev") >= _J10_HEAVY_MIN)
        .select("user_id")
    )
    counts = ev_raw.groupBy("user_id").count()
    n_users = counts.count()
    n_heavy = counts.filter(F.col("count") >= _J10_HEAVY_MIN).count()
    if not 0 < n_heavy < n_users:
        raise RuntimeError(
            f"runtime demotion is unprovable: {n_heavy} of {n_users} "
            "users are heavy — the HAVING filter must keep a strict, "
            "non-empty subset"
        )
    scoped = {
        # the 100 TB situation, reproduced: statically the dim is too
        # big to broadcast (here: threshold off), so SMJ is the right
        # static plan; the runtime size is what flips it
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
    }
    with scoped_confs(spark, scoped):
        out = (
            ev.join(heavy, "user_id")
            .groupBy((F.col("user_id") % 7).alias("g"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("id_mod").alias("id_mod_sum"),
            )
        )
        assert_runtime_broadcast_demotion(out)
        return out.localCheckpoint(eager=True)


_J10_ORACLE = f"""
    WITH heavy AS (
        SELECT user_id FROM events
        GROUP BY user_id HAVING count(*) >= {_J10_HEAVY_MIN}
    )
    SELECT user_id % 7 AS g, count(*) AS n_events,
           CAST(sum(event_id % 1000) AS BIGINT) AS id_mod_sum
    FROM events JOIN heavy USING (user_id)
    GROUP BY user_id % 7
"""


_S16_FILES = 8
_S16_Y_HI = 14400  # seconds-of-day predicate: before 04:00 (~1/6 of rows)


def _s16_zorder_vs_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 — x29's Z-ORDER claim, MEASURED (the d9/x80 measured-
    trade-off discipline applied to the clustering-key decision, with
    s14's footer-census proof machinery): the same events land in two
    layouts — linearly range-clustered by ``x`` (event id) and
    z-order-clustered by the Morton interleave of (x, second-of-day
    ``y``) — and the same two range predicates (an x-range, a
    y-range) run against both. The query RAISES unless:

    1. the z layout's y-predicate scan passes the FULL s14 sandwich
       (``scan_minmax_skipped``: n_match ≤ numOutputRows ≤
       footer-overlap < total) — z-ordering demonstrably buys
       row-group skipping on the SECONDARY dimension;
    2. the linear layout's x-predicate scan passes the same sandwich
       — linear clustering keeps its primary-dimension skipping;
    3. the linear layout's y-predicate footer census overlaps
       STRICTLY more row groups than the z layout's — the measured
       statement "a single-column sort cannot skip on the other
       column" (on this fixture: every linear group overlaps the
       y-range; the z layout skips the late-day groups outright).

    The published rows are the four (layout × predicate) scan results
    (row count + integer checksum), oracle-adjudicated against plain
    SQL over events — the two layouts must lose NOTHING (the s15
    zero-data-loss discipline); the layout economics live in the
    in-query proofs. This is the table consulted when choosing
    clustering keys for a 100 TB warehouse: linear sort wins only
    single-dimension access; z-order trades a little primary-key
    tightness for skipping on every interleaved dimension — and this
    query prices that trade from real footers, per run.

    Scale shape: two range-clustered writes (one repartitionByRange
    shuffle each), four pushed-predicate scans, footer censuses at
    metadata cost (pyarrow, one footer per file — the s13/s14
    HDFS/S3 listing-swap note applies)."""
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from financial_market_data_analysis_spark.sources.batch import (
        scan_minmax_skipped,
        write_sorted,
        z_value,
    )

    ev = load_table(spark, "events", sf_dir).select(
        F.col("event_id").alias("x"),
        (F.expr("ts_us div 1000000") % 86400).alias("y"),
        (F.col("event_id") % 1000).alias("id_mod"),
    )
    b = ev.agg(
        F.min("x").alias("xmin"), F.max("x").alias("xmax")
    ).first()
    span = b.xmax - b.xmin
    x_lo = b.xmin + span // 3
    x_hi = b.xmin + (2 * span) // 3
    # 16-bit z inputs: x scaled into [0, 65535], y halved (86400 → 43200)
    x_scale = span // 65535 + 1
    work = tempfile.mkdtemp(prefix="s16_layouts_")
    lin_dir, z_dir = f"{work}/linear", f"{work}/zorder"

    def census(path: str, col: str, lo: int, hi: int) -> tuple[int, int]:
        """(overlapping, total) row-group counts for [lo, hi] on col —
        pyarrow footers only (swap for FileSystem.listStatus /
        ListObjectsV2 on HDFS/S3, the s13/s14 note)."""
        n_overlap = n_total = 0
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet") or f.startswith("_"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.row_group(0).column(i).path_in_schema == col
                ),
                None,
            )
            if idx is None:
                raise RuntimeError(
                    f"census column {col!r} not found in {f} footer"
                )
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                n_total += 1
                if st.min <= hi and st.max >= lo:
                    n_overlap += 1
        return n_overlap, n_total

    try:
        write_sorted(ev, lin_dir, "x", _S16_FILES)
        write_sorted(
            ev.withColumn(
                "zk",
                # offset by xmin before scaling: a key range that does
                # not start near 0 would exceed 16 bits and alias the
                # interleave (only the low bits would survive)
                z_value(
                    ((F.col("x") - b.xmin) / x_scale).cast("long"),
                    (F.col("y") / 2).cast("long"),
                ),
            ),
            z_dir,
            "zk",
            _S16_FILES,
        )
        # proofs 1 + 2: full numOutputRows sandwiches (raise inside)
        z_y_scan = scan_minmax_skipped(spark, z_dir, "y", 0, _S16_Y_HI - 1)
        lin_x_scan = scan_minmax_skipped(spark, lin_dir, "x", x_lo, x_hi)
        # proof 3: the comparative census — linear must overlap
        # strictly more groups on the secondary dimension
        z_y_ov, z_tot = census(z_dir, "y", 0, _S16_Y_HI - 1)
        lin_y_ov, lin_tot = census(lin_dir, "y", 0, _S16_Y_HI - 1)
        if not z_y_ov < lin_y_ov:
            raise RuntimeError(
                f"z-order bought nothing on the secondary dimension: "
                f"z overlaps {z_y_ov}/{z_tot} groups, linear "
                f"{lin_y_ov}/{lin_tot} — the measured trade is gone"
            )

        def summarize(df: DataFrame, layout: str, dim: str) -> DataFrame:
            return df.agg(
                F.lit(layout).alias("layout"),
                F.lit(dim).alias("pred_dim"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("id_mod").alias("id_mod_sum"),
            )

        lin = spark.read.parquet(lin_dir)
        zl = spark.read.parquet(z_dir)
        out = (
            summarize(
                lin_x_scan.filter(
                    (F.col("x") >= x_lo) & (F.col("x") <= x_hi)
                ),
                "linear",
                "x",
            )
            .unionByName(
                summarize(
                    zl.filter((F.col("x") >= x_lo) & (F.col("x") <= x_hi)),
                    "zorder",
                    "x",
                )
            )
            .unionByName(
                summarize(lin.filter(F.col("y") < _S16_Y_HI), "linear", "y")
            )
            .unionByName(
                summarize(
                    z_y_scan.filter(F.col("y") < _S16_Y_HI), "zorder", "y"
                )
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def _s17_column_pruning_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17 — COLUMN pruning and filter PUSHDOWN proven from the
    executed scan (the I/O proof trilogy completed: s13 prunes
    partition DIRECTORIES, s14 skips ROW GROUPS, s17 proves the scan
    reads only the needed COLUMNS — the third lever is the biggest on
    a wide warehouse row, where 2 of 100 columns is a 50× I/O cut in
    a columnar format). A two-column aggregate over the 11-column
    lineitem table runs once, and the query RAISES unless the
    executed ``FileSourceScanExec``:

    1. carries a ``requiredSchema`` of EXACTLY the two referenced
       columns — column pruning reached the scan (a select-star
       regression, a UDF that closes over the whole row, or a schema
       widening silently reads every byte of every other column);
    2. reports the quantity predicate in its ``PushedFilters``
       metadata — the filter reached the parquet reader instead of
       running post-scan (where row-group skipping can no longer see
       it).

    Both regress silently: identical rows, full-width I/O. The audit
    reads the scan NODE (selected by type via ``_find_file_scan``,
    AQE-unwrapped), never the plan string. Rows ride a plain
    aggregate oracle.

    Scale shape: the proof IS the product — on a 100 TB warehouse
    row this is the difference between reading two columns and
    reading the table; the audit costs one fixture-scale execution
    (the executed_plan_node_names cost note applies)."""
    from financial_market_data_analysis_spark.sources.batch import (
        _find_file_scan,
    )

    li = load_table(spark, "lineitem", sf_dir)
    if len(li.columns) <= 2:
        raise RuntimeError(
            "column pruning is unprovable: the table is already "
            f"narrow ({len(li.columns)} columns)"
        )
    out = (
        li.filter(F.col("l_quantity") >= 30)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 6).alias("qty_sum"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan()
    plan.execute().count()  # run exactly this plan so AQE finalizes
    leaf = _find_file_scan(plan)
    if leaf is None:
        raise RuntimeError(
            "column pruning is unprovable: no FileSourceScanExec in "
            f"the executed plan:\n{plan.toString()}"
        )
    read_cols = set(leaf.requiredSchema().fieldNames())
    want = {"l_quantity", "l_returnflag"}
    pushed = ""
    it = leaf.metadata().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() == "PushedFilters":
            pushed = str(kv._2())
    if read_cols != want or "GreaterThanOrEqual(l_quantity" not in pushed:
        raise RuntimeError(
            f"scan-level pruning regressed: requiredSchema={sorted(read_cols)} "
            f"(want exactly {sorted(want)} of {len(li.columns)} "
            f"columns), PushedFilters={pushed!r} (want the quantity "
            "predicate pushed to the reader). The scan is reading "
            "bytes the query never uses."
        )
    return out


_S17_ORACLE = """
    SELECT l_returnflag, count(*) AS n_lines,
           round(sum(l_quantity), 6) AS qty_sum
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_returnflag
"""


def _u2_codegen_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — "UDFs are the slow path" raised to a RUNTIME INVARIANT
    (U1's zero-scalar-UDF policy is enforced by code audits; nothing
    asserted the EXECUTED plan at run time): the flagship candle →
    features → indicators pipeline runs once, and the query RAISES
    unless its executed plan (node objects, AQE-unwrapped)

    1. contains ZERO Python-evaluation operators
       (``BatchEvalPythonExec`` / ``ArrowEvalPythonExec`` /
       ``*PandasExec`` — any of them means a Python worker
       round-trip per batch entered the batch hot path; the declared
       Arrow-stateful STREAMING operators are a different query
       surface and never appear here), and
    2. holds at least one ``WholeStageCodegenExec`` span per stage
       (one stage per exchange, plus the result stage) — the
       scan → filter → project → aggregate → window pipeline stayed
       inside fused JVM codegen (measured shape: 4 spans over 3
       stages; an operator without codegen or a sneaked-in UDF
       collapses spans to interpreted rows while returning identical
       values).

    Why loud: a convenience UDF added to a feature costs nothing at
    fixture scale and a 10-100× slowdown at 100 TB (the brief's
    'stay JVM-side' rule); this makes the regression fail the run,
    the way j7 makes a lost broadcast fail the run. Rows ride the
    flagship's own oracle verbatim — the invariant must hold AND the
    answer must stay exact."""
    from financial_market_data_analysis_spark.operators.joins import (
        executed_plan_node_names,
    )

    out = _pipeline_bars_joined(spark, sf_dir)
    names = executed_plan_node_names(out)
    forbidden = sorted(
        n
        for n in set(names)
        if "Python" in n or "Pandas" in n or "Fallback" in n
    )
    n_spans = names.count("WholeStageCodegenExec")
    n_stages = 1 + names.count("ShuffleExchangeExec") + names.count("BroadcastExchangeExec")
    if forbidden or n_spans < n_stages:
        raise RuntimeError(
            f"hot-path codegen regressed: Python/interpreted operators "
            f"{forbidden} (need none), {n_spans} WholeStageCodegen "
            f"spans over {n_stages} stages (need one per stage). A UDF "
            "or codegen-fallback expression entered the flagship pipeline."
        )
    return out


_S16_ORACLE = f"""
    WITH e AS (
        SELECT event_id AS x,
               (epoch_us(ts) // 1000000) % 86400 AS y,
               event_id % 1000 AS id_mod
        FROM events
    ),
    b AS (SELECT min(x) AS xmin, max(x) AS xmax FROM e),
    sx AS (
        SELECT count(*) AS n_rows,
               CAST(sum(id_mod) AS BIGINT) AS id_mod_sum
        FROM e, b
        WHERE x >= xmin + (xmax - xmin) // 3
          AND x <= xmin + (2 * (xmax - xmin)) // 3
    ),
    sy AS (
        SELECT count(*) AS n_rows,
               CAST(sum(id_mod) AS BIGINT) AS id_mod_sum
        FROM e WHERE y < {_S16_Y_HI}
    )
    SELECT 'linear' AS layout, 'x' AS pred_dim, n_rows, id_mod_sum FROM sx
    UNION ALL
    SELECT 'zorder', 'x', n_rows, id_mod_sum FROM sx
    UNION ALL
    SELECT 'linear', 'y', n_rows, id_mod_sum FROM sy
    UNION ALL
    SELECT 'zorder', 'y', n_rows, id_mod_sum FROM sy
"""


_S15_EPOCHS = 6


def _s15_epoch_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 — COMPACTION of the epoch-partitioned warehouse: the
    operational step the epoch-idempotent sink's docstring promises
    ("a periodic compaction job can fold the epoch dirs away") and the
    cure for the small-files problem every streaming parquet warehouse
    accumulates — N micro-batches write N directories of
    shuffle-partition-sized fragments, and at 100 TB a year of 5-minute
    epochs is ~10^5 directories whose per-file open/footer costs
    dominate the scan. The query builds the store the way the K1 sink
    does (six epochs through ``epoch_idempotent_writer``), compacts it
    (drop the epoch column, ``write_sorted`` re-clustered on
    event_id), and raises unless BOTH halves of the compaction claim
    hold: (a) the file census shrinks (strictly fewer parquet files
    than the epoch store), and (b) the compacted layout is
    skip-PROVABLE again — ``scan_minmax_skipped``'s numOutputRows
    sandwich over the middle id range, the s14 proof re-run on the
    compaction OUTPUT, because epoch-append destroys clustering and a
    compaction that merely concatenates fragments restores none of the
    I/O story. Published: per-type counts and rounded value sums read
    FROM the compacted store — the oracle recomputes them from the raw
    events, adjudicating zero data loss through
    stage → epochs → compact → recluster.

    Scale shape: the build is six bounded writes; compaction is one
    range-shuffle pass (the same cost profile as the nightly OPTIMIZE
    a lakehouse schedules); both proofs are metadata-priced."""
    import os
    import shutil
    import tempfile

    from financial_market_data_analysis_spark.sources.batch import (
        scan_minmax_skipped,
        write_sorted,
    )
    from financial_market_data_analysis_spark.streaming import pipeline as SP

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    bounds = ev.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    span = bounds.hi - bounds.lo
    lo, hi = bounds.lo + span // 3, bounds.lo + 2 * span // 3
    work = tempfile.mkdtemp(prefix="s15_compact_")
    store, compacted = f"{work}/store", f"{work}/compacted"

    def census(path: str) -> int:
        # file census via os.walk (the fixture is local); on HDFS/S3
        # swap for a recursive FileSystem.listStatus / ListObjectsV2
        # prefix listing — metadata-priced (the s13/s14 swap note;
        # compaction is a general warehouse pattern, not a local-FS
        # one)
        return sum(
            1
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    try:
        write = SP.epoch_idempotent_writer(store)
        for i in range(_S15_EPOCHS):
            write(ev.filter(F.col("event_id") % _S15_EPOCHS == i), i)
        n_before = census(store)
        write_sorted(
            spark.read.parquet(store).drop("epoch_id"),
            compacted,
            "event_id",
            4,
        )
        n_after = census(compacted)
        if not n_after < n_before:
            raise RuntimeError(
                f"compaction did not shrink the store: {n_before} "
                f"files before, {n_after} after"
            )
        # the s14 proof re-run on the compaction OUTPUT: the rewritten
        # layout must be demonstrably skippable on the sort key
        scan_minmax_skipped(spark, compacted, "event_id", lo, hi)
        out = (
            spark.read.parquet(compacted)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("value_sum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


_S15_ORACLE = """
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 6) AS value_sum
    FROM events
    GROUP BY event_type
"""


def _t25_stream_evolving_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T25 — the STREAMING form of s11's schema-evolution-tolerant
    ingest (streaming/pipeline.py ``evolving_ingest_sink``, r12
    verdict #5): producer contract drift arriving MID-STREAM, where
    the frozen-schema quarantining sink would quarantine 100% of the
    retyped drop. Every staged line carries its schema version as a
    leading field (the schema-registry model); three micro-batches
    arrive as batch 0 = version-1 rows (doc_id, lang, n_chars BIGINT),
    batch 1 = version-2 rows (doc_id, n_chars DOUBLE with genuinely
    fractional values, source — lang REMOVED, source ADDED, n_chars
    RETYPED) including a truly corrupt slice (doc_id % 11 == 5 carries
    an unparseable n_chars), and batch 2 = version-1 rows AGAIN (the
    interleaving case a one-way migration never tests) including an
    UNREGISTERED-version slice (doc_id % 13 == 7 tagged version 9)
    that must quarantine whole-row. The published frame is every clean
    landed row with its (epoch_id, schema_version), so the oracle
    hash-checks each widened cast (v1 n_chars → double), each null
    fill (v1 source, v2 lang), each quarantine decision, AND the
    epoch↔drop mapping. The per-(epoch, version) accounting rows that
    prove which batch widened what are pinned by
    tests/test_streaming.py::test_evolving_ingest_sink_accounting.

    Scale shape: one localCheckpoint per batch feeds the per-version
    JVM-side ``from_csv`` projections, casts are columnar, the
    cross-version union never shuffles, and all three sinks are
    epoch-idempotent dynamic partition overwrites."""
    from financial_market_data_analysis_spark.streaming import pipeline as P
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars", "source"
    )
    n_bad = (
        docs.agg(
            F.sum(
                (
                    F.col("doc_id").isNull()
                    | F.col("n_chars").isNull()
                    | F.col("lang").isNull()
                    | F.col("lang").rlike('[,"\n\r]')
                    | F.col("source").isNull()
                    | F.col("source").rlike('[,"\n\r]')
                ).cast("int")
            ).alias("n_bad")
        ).first()["n_bad"]
        or 0
    )
    if n_bad:
        raise ValueError(
            f"_t25: {n_bad} fixture rows violate the unquoted-CSV "
            "staging precondition"
        )
    v1_line = F.concat_ws(
        ",",
        F.lit("1"),
        F.col("doc_id").cast("string"),
        "lang",
        F.col("n_chars").cast("string"),
    )
    v2_line = F.concat_ws(
        ",",
        F.lit("2"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 11 == 5,
            F.concat(F.lit("x"), (F.col("n_chars") + 0.5).cast("string")),
        ).otherwise((F.col("n_chars") + 0.5).cast("string")),
        "source",
    )
    v9_line = F.concat_ws(
        ",", F.lit("9"), F.col("doc_id").cast("string"), "lang"
    )
    lines = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 1, v2_line)
        .when(
            (F.col("doc_id") % 4 == 2) & (F.col("doc_id") % 13 == 7), v9_line
        )
        .otherwise(v1_line)
        .alias("value"),
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
    with streaming_run(spark) as sr:
        src = sr.stage(
            lines,
            [
                F.col("doc_id") % 4 == 0,
                F.col("doc_id") % 2 == 1,
                F.col("doc_id") % 4 == 2,
            ],
            fmt="text",
        )
        sr.run(
            P.evolving_ingest_sink(
                sr.source(src, "value string", fmt="text"),
                schemas,
                sr.path("clean"),
                sr.path("quar"),
                sr.path("ckpt"),
                accounting_dir=sr.path("acct"),
            )
        )
        return (
            spark.read.parquet(sr.path("clean"))
            .select(
                F.col("epoch_id").cast("int").alias("epoch_id"),
                "schema_version",
                "doc_id",
                "lang",
                "n_chars",
                "source",
            )
            .localCheckpoint(eager=True)
        )


_T25_ORACLE = """
    SELECT 0 AS epoch_id, 1 AS schema_version, doc_id, lang,
           CAST(n_chars AS DOUBLE) AS n_chars,
           CAST(NULL AS VARCHAR) AS source
    FROM documents WHERE doc_id % 4 = 0
    UNION ALL
    SELECT 1, 2, doc_id, CAST(NULL AS VARCHAR), n_chars + 0.5, source
    FROM documents WHERE doc_id % 2 = 1 AND doc_id % 11 <> 5
    UNION ALL
    SELECT 2, 1, doc_id, lang, CAST(n_chars AS DOUBLE), NULL
    FROM documents WHERE doc_id % 4 = 2 AND doc_id % 13 <> 7
"""


# t26 staleness bound: triggers arriving more than 4 buckets late are
# dropped (the reference drops messages older than 4 minutes on its
# 1-minute feed — predict.py:134-135; ours is the 5-minute-bar feed)
_T26_MAX_LAG_S = 1200


def _t26_stream_inference_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T26 — the reference's COMPOSED inference loop as ONE streaming
    query (predict.py:124-197: trigger message → staleness drop →
    point lookup of the current bar id → tail-window fetch → min-max
    normalize → fixed-weight model forward → signal out). Every stage
    is adjudicated separately elsewhere (t17-rotated staleness, j6
    lookup, ml5a scaler, ml3 scorer, t10 stream-static join); this row
    proves the COMPOSITION — the thing the reference never has,
    because its two halves were separate systems glued by a 15-second
    sleep and a MySQL round-trip (predict.py:140-158).

    The Spark-first topology: the tail-window fetch is precomputed
    ONCE on the static side as the lag-matrix feature warehouse
    (exactly the feature-store pattern a serving system uses at scale
    — the reference re-fetches the same 5 rows from MySQL per
    message), the normalization params are one batch aggregate
    broadcast onto it, and the streaming side is then a pure
    stream-static EQUI-join per trigger: staleness filter (each
    trigger message carries its arrival clock; late ones drop BEFORE
    the join, as predict.py:134 drops before its SQL round-trip) →
    point lookup+window fetch in one broadcast-hash probe → scaled
    logistic forward with ml3's serving weights over min-max-scaled
    lag features → signal rows through the epoch-idempotent sink.
    Triggers arrive as TWO micro-batches; the published (epoch_id,
    trig_s, prob_up, signal) rows hash-check the staleness decisions,
    the full-window gate, every scaled probability, and the
    epoch↔batch mapping against the closed-form oracle.

    Scale shape: the feature warehouse is one window pass +
    eager checkpoint (shared by both micro-batches — never recomputed
    per trigger), the params crossJoin is a broadcast 1-row frame, the
    per-batch join is stream-static with no state and no shuffle on
    the stream side, and the scoring is whole-stage-codegen column
    math. No Python in the row path."""
    from financial_market_data_analysis_spark.ml import lag_matrix
    from financial_market_data_analysis_spark.streaming import pipeline as P

    c = _candles(spark, sf_dir).select("bucket_start", "close")
    lag_cols = [f"close_lag{j}" for j in range(5)]
    warehouse = lag_matrix(c, "close", 5, ["bucket_start"]).dropna(
        subset=lag_cols
    )
    params = c.agg(F.min("close").alias("mn"), F.max("close").alias("mx"))
    static = (
        warehouse.crossJoin(F.broadcast(params))
        .select("bucket_start", "mn", "mx", *lag_cols)
        .localCheckpoint(eager=True)  # the feature store: built once,
        # probed by every micro-batch
    )
    idx = F.expr("bucket_start div 300")  # exact integer bucket index
    triggers = c.filter(idx % 7 == 0).select(
        F.col("bucket_start").alias("trig_s"),
        (
            F.col("bucket_start")
            + F.when(idx % 3 == 2, F.lit(5000)).otherwise(F.lit(300))
        ).alias("arr_s"),
    )
    with streaming_run(spark) as sr:
        out_dir = sr.path("signals")
        tidx = F.expr("trig_s div 300")
        stream = sr.stream(triggers, [tidx % 14 == 0, tidx % 14 == 7])
        fresh = stream.filter(
            F.col("arr_s") - F.col("trig_s") <= F.lit(_T26_MAX_LAG_S)
        )
        # fixture-scale physical choice: the checkpointed feature frame
        # is KB-sized, so broadcast it under every micro-batch plan
        # (streaming plans run without AQE, so the hint is explicit).
        # At a 100 TB feature store the same topology keeps the store
        # bucketed on the probe key (the j5 kernel) and each trigger
        # micro-batch — always the small side — probes co-located.
        probed = fresh.join(
            F.broadcast(static), fresh.trig_s == static.bucket_start, "inner"
        )
        span = F.col("mx") - F.col("mn")
        scaled = {
            j: (F.col(f"close_lag{j}") - F.col("mn")) / span for j in range(5)
        }
        raw = F.lit(ML3_BIAS)
        for j, wt in enumerate(ML3_WEIGHTS):
            raw = raw + F.lit(wt) * (scaled[j] - scaled[4])
        prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-raw))
        signals = probed.select(
            "trig_s",
            F.round(prob, 6).alias("prob_up"),
            (prob > 0.5).cast("int").alias("signal"),
        )
        sr.run(
            signals.writeStream.foreachBatch(
                P.epoch_idempotent_writer(out_dir)
            ).option("checkpointLocation", sr.path("ckpt"))
        )
        return (
            spark.read.parquet(out_dir)
            .select(
                F.col("epoch_id").cast("int").alias("epoch_id"),
                "trig_s",
                "prob_up",
                "signal",
            )
            .localCheckpoint(eager=True)
        )


def _t26_oracle() -> str:
    """Closed-form twin of the composed inference loop: the same lag
    matrix, the same global min-max params, the same left-associated
    scaled-difference logistic, the same staleness and full-window
    gates, and the same trigger→batch mapping."""
    terms = " + ".join(
        f"({w}) * (((close_lag{j} - mn) / (mx - mn)) - "
        f"((close_lag4 - mn) / (mx - mn)))"
        for j, w in enumerate(ML3_WEIGHTS)
    )
    prob = f"(1.0 / (1.0 + exp(-({ML3_BIAS} + {terms}))))"
    lags = ",\n                   ".join(
        f"lag(close, {j}) OVER (ORDER BY bucket_start) AS close_lag{j}"
        for j in range(5)
    )
    return f"""
        {_CANDLES_CTE},
        m AS (
            SELECT bucket_start,
                   {lags}
            FROM candles
        ),
        p AS (SELECT min(close) AS mn, max(close) AS mx FROM candles)
        SELECT CAST(CASE WHEN (bucket_start // 300) % 14 = 0
                         THEN 0 ELSE 1 END AS INT) AS epoch_id,
               bucket_start AS trig_s,
               round({prob}, 6) AS prob_up,
               CAST({prob} > 0.5 AS INT) AS signal
        FROM m, p
        WHERE (bucket_start // 300) % 7 = 0
          AND (bucket_start // 300) % 3 <> 2
          AND {_ML3_LAGS_OK}
    """


def _t27_stream_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27 — a20's HyperLogLog registers maintained INCREMENTALLY: the
    events feed arrives in three micro-batches; each batch's register
    relation (operators/sketches.py ``hll_registers`` on the BATCH
    alone) is APPENDED epoch-idempotently (the K1 dynamic-overwrite
    writer — a retried epoch replaces exactly its own partition), and
    the final estimate is read off ``max(rho)`` per (group, register)
    over ALL appended epochs. Unlike t18's KMV (copy-on-write snapshot
    chain — merge needs the previous state), HLL's register max is a
    commutative idempotent monoid, so the store can be APPEND-ONLY:
    no snapshot versioning, no read-modify-write per batch, and even a
    duplicate append could not change the collapsed state (the replay
    law tests/test_sketches pins). The oracle is a20's batch SQL
    VERBATIM — the hash match adjudicates that the union of per-batch
    sketches equals the one-shot sketch of the whole feed under a real
    incremental run. Completes the streamed-sketch quartet: counts
    (t12), quantiles (t16), bottom-k distincts (t18), register
    distincts (t27).

    Scale shape: per-batch cost is one batch-sized hash projection +
    a ≤256-rows-per-group partial aggregate; the store grows by KBs
    per epoch and the final collapse shuffles only registers. The
    exact column exists to adjudicate the estimator, as in a20."""
    import os

    from financial_market_data_analysis_spark.streaming import pipeline as SP

    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "user_id", "event_id"
    )
    n_max = ev.agg(F.max("event_id")).first()[0]
    cut1, cut2 = n_max // 3, 2 * n_max // 3
    with streaming_run(spark) as sr:
        store = sr.path("registers")
        stream = sr.stream(
            ev,
            (
                F.col("event_id") <= cut1,
                (F.col("event_id") > cut1) & (F.col("event_id") <= cut2),
                F.col("event_id") > cut2,
            ),
        )
        write = SP.epoch_idempotent_writer(store)
        # prebuilt register closure: the ~60-expression tree is built
        # once, not once per micro-batch (r16, guide §4 at plan-build
        # time — the rebuild was pure py4j chatter in the batch gap)
        registers_of = SK.hll_registers_fn("user_id", ["event_type"])

        def merge(batch_df: DataFrame, batch_id: int) -> None:
            write(registers_of(batch_df), batch_id)

        sr.run(
            stream.writeStream.foreachBatch(merge).option(
                "checkpointLocation", sr.path("ckpt")
            )
        )
        # Guard BEFORE reading the store (r13 advice): a staging or
        # trigger regression that coalesces batches into fewer epochs
        # should fail here, not after the merged estimate has been
        # computed, graded, and eagerly checkpointed.
        epochs = len(
            [d for d in os.listdir(store) if d.startswith("epoch_id=")]
        )
        if epochs < 3:  # the stream must actually have run ≥3 epochs
            raise RuntimeError(f"expected ≥3 epoch dirs, saw {epochs}")
        regs = (
            spark.read.parquet(store)
            .groupBy("event_type", "register")
            .agg(F.max("rho").alias("rho"))
        )
        est = SK.hll_estimate_from_registers(regs, ["event_type"])
        return _hll_grade(est, ev).localCheckpoint(eager=True)


_S10_ORACLE = """
    WITH o AS (
        SELECT count(*) AS n, count(doc_id) AS nn_doc,
               count(text) AS nn_text, count(lang) AS nn_lang,
               count(n_chars) AS nn_nc
        FROM documents WHERE doc_id % 2 = 0
    ),
    nw AS (
        SELECT count(*) AS n, count(doc_id) AS nn_doc,
               count(CASE WHEN doc_id % 5 = 0 THEN NULL ELSE text END)
                   AS nn_text,
               count(source) AS nn_src, count(n_chars) AS nn_nc
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT 'doc_id' AS "column", 'kept' AS status,
           'bigint' AS old_type, 'bigint' AS new_type,
           round(1.0 - nn_doc / n, 6) AS old_null_frac,
           (SELECT round(1.0 - nn_doc / n, 6) FROM nw)
               AS new_null_frac
    FROM o
    UNION ALL
    SELECT 'lang', 'removed', 'string', NULL,
           round(1.0 - nn_lang / n, 6), NULL
    FROM o
    UNION ALL
    SELECT 'n_chars', 'type_changed', 'bigint', 'double',
           (SELECT round(1.0 - nn_nc / n, 6) FROM o),
           round(1.0 - nn_nc / n, 6)
    FROM nw
    UNION ALL
    SELECT 'source', 'added', NULL, 'string',
           NULL, round(1.0 - nn_src / n, 6)
    FROM nw
    UNION ALL
    SELECT 'text', 'kept', 'string', 'string',
           (SELECT round(1.0 - nn_text / n, 6) FROM o),
           round(1.0 - nn_text / n, 6)
    FROM nw
"""


def _d8_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 — key-skew diagnostic over the clickstream's join/group key
    (user_id): total rows, distinct keys, the heaviest key's row
    count, exact interpolated p50/p99 rows-per-key, the max/mean skew
    ratio, and the share of all rows held by the ten heaviest keys.
    This is the MEASUREMENT that decides the engine's own skew
    mitigations — j2's salted join and AQE skew splitting exist for
    exactly the keys this report surfaces; an operator suite that
    ships skew handling but no skew measurement makes the user guess.

    Scale shape: ONE shuffle on the key builds the per-key counts
    (map-side partial aggregation — the fact table never moves whole
    rows); every statistic after that runs on the keys-sized frame:
    one global aggregate, plus a top-10 that Spark plans as a
    TakeOrdered (no full sort). The top-10 sum is tie-proof — equal
    counts at the boundary contribute equal values whichever key is
    picked. percentile ↔ quantile_cont is the ml5a-established exact
    interpolation pair."""
    ev = load_table(spark, "events", sf_dir).select("user_id")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_per_key"),
        F.expr("percentile(cnt, 0.5)").alias("p50"),
        F.expr("percentile(cnt, 0.99)").alias("p99"),
    )
    top10 = (
        counts.orderBy(F.col("cnt").desc())
        .limit(10)
        .agg(F.sum("cnt").alias("top10_rows"))
    )
    return stats.crossJoin(top10).select(
        "n_rows",
        "n_keys",
        "max_per_key",
        F.round("p50", 6).alias("p50_per_key"),
        F.round("p99", 6).alias("p99_per_key"),
        F.round(
            F.col("max_per_key") / (F.col("n_rows") / F.col("n_keys")), 6
        ).alias("skew_ratio"),
        F.round(F.col("top10_rows") / F.col("n_rows"), 6).alias(
            "top10_share"
        ),
    )


_D9_BUCKETS = 32
_D9_SALTS = 8


def _d9_salt_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 — the post-shuffle LAYOUT balance report, before and after
    the salting cure: d8 measures key skew, j2's salted join applies
    the fix — this publishes what the fix actually does to the
    per-reducer row distribution, the quantity that decides whether
    the extra salt column (and the dim-side explode it forces) pays
    for itself. Each row of the fact is assigned its shuffle bucket
    under the engine-portable md5 hash (Spark's murmur3 partitioner
    is not SQL-replicable; any uniform hash obeys the same balance
    law): unsalted = H(key) % B, salted = H(key : row_salt) % B with
    row_salt = event_id % S — j2's exact salting scheme. Published
    per variant: touched buckets, the heaviest bucket's rows, and the
    max/mean balance ratio (1.0 = perfectly level). On the fixture the
    cure reads ~3.8 → ~1.4: with near-uniform keys the imbalance is
    key→bucket collision variance, exactly what salting divides away.

    Scale shape: one map-side-combined aggregate per variant over
    (bucket) — B rows each; nothing fact-sized shuffles beyond the
    count itself."""
    import financial_market_data_analysis_spark.operators.sketches as SK

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id")
    h_un = (
        SK.md5_long(
            F.concat(F.lit("part:"), F.col("user_id").cast("string"))
        )
        % _D9_BUCKETS
    )
    h_sa = (
        SK.md5_long(
            F.concat(
                F.lit("part:"),
                F.col("user_id").cast("string"),
                F.lit(":"),
                (F.col("event_id") % _D9_SALTS).cast("string"),
            )
        )
        % _D9_BUCKETS
    )

    def balance(bucket: Column, name: str) -> DataFrame:
        per = ev.select(bucket.alias("bucket")).groupBy("bucket").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        return per.agg(
            F.lit(name).alias("variant"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("cnt").alias("max_rows"),
            F.round(
                F.max("cnt") / (F.sum("cnt") / F.lit(float(_D9_BUCKETS))),
                6,
            ).alias("balance_ratio"),
        )

    return balance(h_un, "unsalted").unionByName(
        balance(h_sa, f"salted_{_D9_SALTS}")
    )


_D9_ORACLE = f"""
    WITH u AS (
        SELECT (('0x' || substr(md5('part:' || user_id), 1, 8))::BIGINT)
               % {_D9_BUCKETS} AS bucket
        FROM events
    ),
    s AS (
        SELECT (('0x' || substr(md5('part:' || user_id || ':'
                   || (event_id % {_D9_SALTS})), 1, 8))::BIGINT)
               % {_D9_BUCKETS} AS bucket
        FROM events
    )
    SELECT 'unsalted' AS variant, count(*) AS n_buckets,
           CAST(max(cnt) AS BIGINT) AS max_rows,
           round(max(cnt) / (sum(cnt) / {float(_D9_BUCKETS)!r}), 6)
               AS balance_ratio
    FROM (SELECT bucket, count(*) AS cnt FROM u GROUP BY 1)
    UNION ALL
    SELECT 'salted_{_D9_SALTS}', count(*),
           CAST(max(cnt) AS BIGINT),
           round(max(cnt) / (sum(cnt) / {float(_D9_BUCKETS)!r}), 6)
    FROM (SELECT bucket, count(*) AS cnt FROM s GROUP BY 1)
"""


_D8_ORACLE = """
    WITH c AS (
        SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
    ),
    s AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
               count(*) AS n_keys,
               CAST(max(cnt) AS BIGINT) AS max_per_key,
               quantile_cont(cnt, 0.5) AS p50,
               quantile_cont(cnt, 0.99) AS p99
        FROM c
    ),
    t AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS top10_rows
        FROM (SELECT cnt FROM c ORDER BY cnt DESC LIMIT 10)
    )
    SELECT n_rows, n_keys, max_per_key,
           round(p50, 6) AS p50_per_key,
           round(p99, 6) AS p99_per_key,
           round(max_per_key / (n_rows / n_keys), 6) AS skew_ratio,
           round(top10_rows / n_rows, 6) AS top10_share
    FROM s, t
"""


def _d7_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 — the DATA-QUALITY CHECK SUITE a warehouse runs before
    trusting a load (the dbt-test / Great-Expectations class, absent
    from the reference, which trusts its JDBC appends blindly): four
    checks over the orders/lineitem relationship published as one
    report row each — (1) orphan lineitems (l_orderkey with no parent
    order: referential integrity), (2) childless orders (an order with
    zero lineitems — legal in TPC-H data but the count belongs in the
    report), (3) totalprice reconciliation (orders whose o_totalprice
    drifts > 0.01 from the lineitem-derived sum Σ extprice·(1−disc)·
    (1+tax)), and (4) duplicate primary keys in orders. Each row:
    check name, violation count, and the worst/first offending key (or
    NULL when clean).

    Scale shape: two scans (orders, lineitem), each check an
    anti-join / aggregation on the join key — all co-keyed on
    orderkey, so at 100 TB the whole suite rides ONE shuffle
    partitioning; no check materializes more than (violations) rows."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    ok = o.select("o_orderkey", "o_totalprice")
    derived = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("derived_total")
    )

    orphans = derived.join(
        ok.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey",
        "left_anti",
    )
    childless = ok.join(
        derived.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey",
        "left_anti",
    )
    recon = (
        ok.join(derived, ok.o_orderkey == derived.l_orderkey)
        .select(
            "o_orderkey",
            F.abs(F.col("o_totalprice") - F.col("derived_total")).alias("err"),
        )
        .filter(F.col("err") > 0.01)
    )
    dup_pk = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
    )

    def report(name: str, df: DataFrame, key: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_violations"),
            F.min(key).cast("long").alias("first_offender"),
        )

    return (
        report("orphan_lineitems", orphans, "l_orderkey")
        .unionByName(report("childless_orders", childless, "o_orderkey"))
        .unionByName(report("totalprice_mismatch", recon, "o_orderkey"))
        .unionByName(report("duplicate_order_pk", dup_pk, "o_orderkey"))
    )


def _d7_oracle() -> str:
    return """
        WITH derived AS (
            SELECT l_orderkey,
                   sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))
                       AS derived_total
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT 'orphan_lineitems' AS check_name,
               count(*) AS n_violations,
               CAST(min(l_orderkey) AS BIGINT) AS first_offender
        FROM derived d
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = d.l_orderkey)
        UNION ALL
        SELECT 'childless_orders', count(*),
               CAST(min(o_orderkey) AS BIGINT)
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM derived d
                          WHERE d.l_orderkey = o.o_orderkey)
        UNION ALL
        SELECT 'totalprice_mismatch', count(*),
               CAST(min(o_orderkey) AS BIGINT)
        FROM orders o JOIN derived d ON d.l_orderkey = o.o_orderkey
        WHERE abs(o.o_totalprice - d.derived_total) > 0.01
        UNION ALL
        SELECT 'duplicate_order_pk', count(*),
               CAST(min(o_orderkey) AS BIGINT)
        FROM (SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING count(*) > 1)
    """


def _d5_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 — CDC changelog compaction: apply an ordered upsert/delete
    changelog down to current state, latest-wins per key — the MERGE
    the lakehouse ingestion tier runs to materialize a mutable table
    from an append-only event feed. Here the events table IS the
    changelog: key = user_id, 'purchase' rows act as deletes, all
    others upsert their value; order is (ts, event_id) — event_id
    uniqueness makes the winner deterministic. Emits one row per
    surviving key with its last value and the fold depth (n_ops).

    Scale shape: one keyed shuffle — the per-key row_number window
    (and the n_ops count rides the SAME window partition, so Catalyst
    shares one sort). At 100 TB the equivalent single-aggregation form
    is ``max_by`` over the (ts, event_id) scalar order per key, which
    adds map-side partial aggregation; the window form is kept here
    because both engines order it identically and the delete filter
    needs the winner's op either way."""
    ev = load_table(spark, "events", sf_dir)
    w = SW.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    d = ev.select(
        "user_id",
        "event_id",
        "ts_us",
        "value",
        F.when(F.col("event_type") == "purchase", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    ).withColumns(
        {
            "rk": F.row_number().over(w),
            "n_ops": F.count(F.lit(1)).over(SW.partitionBy("user_id")),
        }
    )
    return (
        d.filter((F.col("rk") == 1) & (F.col("op") != "delete"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts_us").alias("last_ts_us"),
            F.col("value").alias("current_value"),
            F.col("n_ops").cast("long").alias("n_ops"),
        )
    )


def _d5_oracle() -> str:
    return """
        WITH d AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
                   CASE WHEN event_type = 'purchase' THEN 'delete'
                        ELSE 'upsert' END AS op,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk,
                   count(*) OVER (PARTITION BY user_id) AS n_ops
            FROM events
        )
        SELECT user_id, event_id AS last_event_id, ts_us AS last_ts_us,
               value AS current_value, CAST(n_ops AS BIGINT) AS n_ops
        FROM d WHERE rk = 1 AND op <> 'delete'
    """


def _w12_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 — rolling 20-bucket Pearson correlation between the
    purchase and view per-bucket average series (operators/windows.py
    ``rolling_corr``): the pairs-trading lead-lag staple the
    reference's single-series indicator views lack. Both engines
    compute corr over the identical ROWS frame; warm-up rows are
    trimmed (engines disagree on degenerate frames) and the value is
    rounded to 6 decimals (the x19/x33 float precedent — corr is a
    ratio of ULP-ordering-sensitive sums)."""
    ev = load_table(spark, "events", sf_dir)
    bucket = time_bucket_us("ts_us", 300)

    def series(event_type: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == event_type)
            .groupBy(bucket.alias("bucket"))
            .agg(F.avg("value").alias(alias))
        )

    j = series("purchase", "pa").join(series("view", "pv"), "bucket")
    out = W.rolling_corr(j, "pa", "pv", ["bucket"])
    return out.filter(F.col("corr").isNotNull()).select(
        "bucket", F.round("corr", 6).alias("corr20")
    )


def _w25_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W25 — trailing 20-bucket OLS beta/alpha of the purchase RETURN
    series against the view return series (operators/windows.py
    ``rolling_beta``): w12's correlation grades co-movement; beta is
    the hedge RATIO — the position you actually take against it — and
    alpha the residual drift, completing the pairs-analytics pair the
    reference's single-series views can't express. Per-bucket average
    series → simple returns via LAG (levels are strictly positive in
    the fixture, so the return division never sees zero) → inner join
    on the bucket → one shared ROWS-frame window pass for all four
    aggregates. Warm-up and flat-market frames are trimmed on both
    engines; beta/alpha round to 6 (the w12 ULP precedent for
    moment-ratio floats)."""
    ev = load_table(spark, "events", sf_dir)
    j = _bucket_returns(ev, "purchase", "ry").join(
        _bucket_returns(ev, "view", "rx"), "bucket"
    )
    out = W.rolling_beta(j, "ry", "rx", ["bucket"])
    return out.filter(F.col("beta").isNotNull()).select(
        "bucket",
        F.round("beta", 6).alias("beta20"),
        F.round("alpha", 6).alias("alpha20"),
    )


def _bucket_returns(ev: DataFrame, event_type: str, alias: str) -> DataFrame:
    """Per-5-min-bucket average level of one event type → simple
    returns via LAG (the w25/w26 shared series builder; levels are
    strictly positive in the fixture, so the return division never
    sees zero)."""
    s = (
        ev.filter(F.col("event_type") == event_type)
        .groupBy(time_bucket_us("ts_us", 300).alias("bucket"))
        .agg(F.avg("value").alias("__p"))
    )
    lagp = F.lag("__p").over(SW.orderBy("bucket"))
    return (
        s.withColumn(alias, (F.col("__p") - lagp) / lagp)
        .filter(F.col(alias).isNotNull())
        .select("bucket", alias)
    )


_W26_SPAN_S = 86400  # trailing 1 day of EVENT TIME, however many rows


def _w26_range_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W26 — w25's rolling OLS beta/alpha on a time-RANGE frame
    (operators/windows.py ``rolling_beta_range``, the r13 verdict #7
    candidate): the trailing ONE DAY of event-time pairs, however many
    rows that is. The fixture's joint return series is irregular
    (median joint-bucket spacing ≈ 2 h), so w25's 20-ROW frame spans
    wildly different horizons bucket to bucket — quiet stretches
    regress over days while busy ones cover an hour; the RANGE frame
    holds the HORIZON fixed and lets the pair count float (gated at
    ≥ 5 pairs, flat-x frames trimmed), which is the
    economically meaningful "beta over the last day". Same four
    moment aggregates, one shared WindowExec, w11's integer-key RANGE
    precedent — engines agree exactly on integer bounds.

    Scale shape: identical to w25 — the series build is two
    map-side-combined aggregations, the regression one window pass
    over a buckets-sized frame; RANGE vs ROWS changes only the frame
    arithmetic, not the shuffle."""
    ev = load_table(spark, "events", sf_dir)
    j = _bucket_returns(ev, "purchase", "ry").join(
        _bucket_returns(ev, "view", "rx"), "bucket"
    )
    out = W.rolling_beta_range(
        j, "ry", "rx", "bucket", span=_W26_SPAN_S
    )
    return out.filter(F.col("beta").isNotNull()).select(
        "bucket",
        F.round("beta", 6).alias("beta_1d"),
        F.round("alpha", 6).alias("alpha_1d"),
    )


_W26_ORACLE = f"""
    WITH a AS (
        SELECT (epoch_us(ts) // 300000000) * 300 AS bucket,
               avg(value) AS p
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    v AS (
        SELECT (epoch_us(ts) // 300000000) * 300 AS bucket,
               avg(value) AS p
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    ra AS (
        SELECT bucket,
               (p - lag(p) OVER (ORDER BY bucket))
                   / lag(p) OVER (ORDER BY bucket) AS ry
        FROM a QUALIFY ry IS NOT NULL
    ),
    rv AS (
        SELECT bucket,
               (p - lag(p) OVER (ORDER BY bucket))
                   / lag(p) OVER (ORDER BY bucket) AS rx
        FROM v QUALIFY rx IS NOT NULL
    ),
    j AS (SELECT ra.bucket, ry, rx FROM ra JOIN rv USING (bucket)),
    c AS (
        SELECT bucket,
               covar_pop(ry, rx) OVER w AS cv,
               var_pop(rx) OVER w AS vx,
               avg(ry) OVER w AS my,
               avg(rx) OVER w AS mx,
               count(*) OVER w AS cnt
        FROM j
        WINDOW w AS (ORDER BY bucket
                     RANGE BETWEEN {_W26_SPAN_S} PRECEDING
                           AND CURRENT ROW)
    )
    SELECT bucket, round(cv / vx, 6) AS beta_1d,
           round(my - (cv / vx) * mx, 6) AS alpha_1d
    FROM c WHERE cnt >= {W.BETA_RANGE_MIN_PAIRS} AND vx > 0
"""


_W25_ORACLE = """
    WITH a AS (
        SELECT (epoch_us(ts) // 300000000) * 300 AS bucket,
               avg(value) AS p
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    v AS (
        SELECT (epoch_us(ts) // 300000000) * 300 AS bucket,
               avg(value) AS p
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    ra AS (
        SELECT bucket,
               (p - lag(p) OVER (ORDER BY bucket))
                   / lag(p) OVER (ORDER BY bucket) AS ry
        FROM a QUALIFY ry IS NOT NULL
    ),
    rv AS (
        SELECT bucket,
               (p - lag(p) OVER (ORDER BY bucket))
                   / lag(p) OVER (ORDER BY bucket) AS rx
        FROM v QUALIFY rx IS NOT NULL
    ),
    j AS (SELECT ra.bucket, ry, rx FROM ra JOIN rv USING (bucket)),
    c AS (
        SELECT bucket,
               covar_pop(ry, rx) OVER w AS cv,
               var_pop(rx) OVER w AS vx,
               avg(ry) OVER w AS my,
               avg(rx) OVER w AS mx,
               count(*) OVER w AS cnt
        FROM j
        WINDOW w AS (ORDER BY bucket
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT bucket, round(cv / vx, 6) AS beta20,
           round(my - (cv / vx) * mx, 6) AS alpha20
    FROM c WHERE cnt >= 20 AND vx > 0
"""


def _w11_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE trailing window (absent from the reference, which has
    only ROWS frames — SURVEY §2.6 'Absent'): per event type, the
    average and count of events in the PRECEDING 30 minutes of EVENT
    TIME, however many rows that is. RANGE frames are the right
    semantics for irregular event spacing (a quiet period means fewer
    rows in frame, not a longer look-back); the frame is expressed on
    the epoch-microsecond key, so engines agree exactly. Partitioned
    per type — no global sort."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        SW.partitionBy("event_type")
        .orderBy("ts_us")
        .rangeBetween(-1_800_000_000, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        "ts_us",
        F.avg("value").over(w).alias("avg_30m"),
        F.count(F.lit(1)).over(w).alias("n_30m"),
    )


def _w10_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k ranking: top-3 customers by order revenue within
    each nation. The fact side aggregates per customer first (one
    shuffle on o_custkey, map-side combined), dims broadcast, and the
    per-nation rank is a bounded window. Revenue is rounded to cents
    BEFORE ranking: the true sum has exactly 2 decimals, so rounding
    erases summation-order ULP noise and the rank is deterministic
    across engines (ties then break on c_custkey)."""
    per_cust = (
        load_table(spark, "orders", sf_dir)
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    w = SW.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        per_cust.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_name", "revenue", "n_orders", "rnk")
    )


def _d1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — exact deduplication via hash groupBy (scales: one shuffle on
    the dedup key, unlike dropDuplicates-over-108-columns)."""
    ev = load_table(spark, "events", sf_dir)
    return ev.select("user_id", "event_type").distinct()


def _d2_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — emitted-keys registry as a left_anti join: users who never
    produced an error event (economic_indicators_spider.py:69-96's
    set-difference, distributed)."""
    ev = load_table(spark, "events", sf_dir)
    users = ev.select("user_id").distinct()
    err_users = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return users.join(err_users, "user_id", "left_anti")


def _d3_latest_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 — latest data point per key (getMarketData.py:199-206's
    take-latest, as max_by — no sort, no window)."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("user_id").agg(
        F.max("ts_us").alias("last_ts_us"),
        F.max_by("value", "ts_us").alias("last_value"),
    )


def _d4_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 — slowly-changing-dimension (type 2) interval build: each
    user's change events become validity intervals
    ``[ts, next_change_ts)`` via LEAD, the current row open-ended
    (NULL valid_to) — how a mutable dimension snapshot becomes the
    temporal table an as-of join (j3) probes. The reference stores
    only latest state (its MariaDB row is overwritten); this is the
    warehouse-correct history-preserving form. Scale: one window per
    user partition — co-partitioned with every other per-user
    aggregate, no global sort. event_id breaks duplicate-ts ties so
    both engines order identically."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type") == "signup"
    )
    w = SW.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w).alias("valid_to_us"),
        (F.lead("ts_us").over(w).isNull()).cast("int").alias("is_current"),
    )


def _t7_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 made driver-adjudicable: the epoch-idempotent warehouse sink
    under a REAL availableNow stream WITH a simulated crash-retry.
    Before the stream starts, a PARTIAL copy of the second epoch's
    bars is written under that epoch's partition (exactly what a
    mid-epoch crash leaves behind — foreachBatch is at-least-once, so
    the engine will re-deliver the epoch). The stream then processes
    both files; its epoch-1 dynamic partition overwrite must REPLACE
    the poisoned partial directory, not append beside it. The
    warehouse read-back is compared to the full batch candle oracle —
    if the sink were a plain append (the reference's JDBC pattern,
    spark_consumer.py:68-84), the partial rows would survive as
    duplicates and the row count/hash would mismatch. The halves are
    split on a BUCKET boundary so each bar lands wholly in one epoch.
    """
    bars = _candles(spark, sf_dir)
    cut = bars.agg(F.percentile_approx("bucket_start", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        stream = sr.stream(
            bars, (F.col("bucket_start") <= cut, F.col("bucket_start") > cut)
        )
        wh = sr.path("wh")
        write = epoch_idempotent_writer(wh)
        # poison: half of epoch 1's rows, already under epoch_id=1 —
        # the crashed first attempt the stream's retry must replace
        poisoned = (
            bars.filter(F.col("bucket_start") > cut)
            .orderBy("bucket_start")
            .limit(5)
            .localCheckpoint(eager=True)
        )
        write(poisoned, 1)
        sr.run(
            stream.writeStream.foreachBatch(write).option(
                "checkpointLocation", sr.path("ckpt")
            )
        )
        return spark.read.parquet(wh).drop("epoch_id").localCheckpoint(eager=True)


def _s6_session_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — the market-calendar session gate as an ENGINE op (the
    reference runs it as driver-side control flow: fetch month
    calendar, poll only while status == 'open', compute session
    start/end — getMarketData.py:251-257, producer.py:212-254). Here
    the calendar is a DIM TABLE derived deterministically from the
    event date range (weekday sessions 09:30-16:00, every 13th
    day-of-month a synthetic holiday), BROADCAST-joined to the fact
    stream, and the gate is a row-local predicate on second-of-day —
    the SURVEY §2.1-suggested `F.when`-on-calendar-dim shape. At
    100 TB the calendar is a few KB broadcast; the gate prunes at the
    scan when the fact table is date-partitioned. Session bounds ride
    along as integer seconds so both engines compare exactly."""
    ev = load_table(spark, "events", sf_dir)
    cal = (
        ev.select(F.to_date("ts").alias("session_date"))
        .distinct()
        .select(
            "session_date",
            F.when(
                (F.weekday("session_date") >= 5)
                | (F.dayofmonth("session_date") % 13 == 0),
                F.lit("closed"),
            )
            .otherwise(F.lit("open"))
            .alias("status"),
            F.lit(34200).alias("open_s"),   # 09:30
            F.lit(57600).alias("close_s"),  # 16:00
        )
    )
    sec_of_day = (F.col("ts_us") / 1_000_000).cast("long") % 86400
    return (
        ev.withColumn("session_date", F.to_date("ts"))
        .join(F.broadcast(cal), "session_date")
        .filter(
            (F.col("status") == "open")
            & (sec_of_day >= F.col("open_s"))
            & (sec_of_day < F.col("close_s"))
        )
        .select(
            "event_id",
            F.col("ts_us"),
            "event_type",
            "value",
            F.col("session_date").cast("string").alias("session_date"),
        )
    )


def _t9_stateful_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9's single-pass stateful path under a REAL streaming run, made
    driver-adjudicable: per-symbol 5-minute candles are fed through
    ``stateful_indicator_suite`` (applyInPandasWithState, O(period)
    state per key) as an actual two-micro-batch availableNow stream
    into a memory sink, and the emitted rows are returned. The oracle
    is the batch W1-W8 suite minus each symbol's last 15 rows (the
    stream, by design, only emits rows whose LEAD targets are final) —
    so the stateful streaming operator gets a hard value-hash signal,
    not just a pytest parity check."""
    from financial_market_data_analysis_spark.streaming.pipeline import (
        stateful_indicator_suite,
    )

    ev = load_table(spark, "events", sf_dir).withColumn(
        "symbol", F.col("event_type")
    )
    bars = candles_from_events(ev, group_cols=("symbol",)).select(
        "symbol",
        F.timestamp_seconds("bucket_start").alias("ts"),
        F.col("close").cast("double").alias("close"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("volume").cast("double").alias("volume"),
    )
    cut = bars.agg(F.percentile_approx("ts", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        # two time-ordered files → two micro-batches; per-key in-order
        # arrival, the operator's documented contract
        stream = sr.stream(bars, (F.col("ts") <= cut, F.col("ts") > cut))
        rows = sr.memory(stateful_indicator_suite(stream))
    # derived indicators are rounded to 6 decimals on BOTH sides (the
    # x19/x33 precedent): the op's in-Python two-pass variance agrees
    # with SQL stddev_pop only to ULPs, and the driver's check is an
    # exact value hash
    ind = [
        "vol_MA6", "vol_MA20", "price_MA20",
        "upper_BB_dist", "lower_BB_dist", "stoch", "price_change", "ATR",
    ]
    return rows.select(
        "symbol",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "close", "high", "low", "volume",
        *[F.round(c, 6).alias(c) for c in ind],
        "up1", "down1", "up2", "down2",
    )


def _t11_stateful_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The W15-W17 momentum family under a REAL streaming run (t9's
    design applied to the round's indicators): per-symbol candles feed
    ``stateful_momentum_suite`` (applyInPandasWithState, O(slow+signal)
    state per key) as a two-micro-batch availableNow stream; every row
    is trailing-only and hence FINAL on arrival, so the oracle is the
    full per-symbol batch SQL — RSI-14 with the flat-50/all-gain-100
    branches, exact integer OBV, MACD(12,26,9) from rank-join
    truncated EWMAs — with no emission trim at all."""
    from financial_market_data_analysis_spark.streaming.pipeline import (
        stateful_momentum_suite,
    )

    ev = load_table(spark, "events", sf_dir).withColumn(
        "symbol", F.col("event_type")
    )
    bars = candles_from_events(ev, group_cols=("symbol",)).select(
        "symbol",
        F.timestamp_seconds("bucket_start").alias("ts"),
        F.col("close").cast("double").alias("close"),
        F.col("volume").cast("double").alias("volume"),
    )
    cut = bars.agg(F.percentile_approx("ts", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        stream = sr.stream(bars, (F.col("ts") <= cut, F.col("ts") > cut))
        rows = sr.memory(stateful_momentum_suite(stream))
    return rows.select(
        "symbol",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "close",
        F.round("rsi14", 6).alias("rsi14"),
        "obv_micro",
        F.round("macd_line", 6).alias("macd_line"),
        F.round("macd_signal", 6).alias("macd_signal"),
        F.round("macd_hist", 6).alias("macd_hist"),
    )


def _t11_oracle(fast: int = 12, slow: int = 26, signal: int = 9) -> str:
    def ewma(src: str, val: str, period: int, alias: str) -> str:
        return _ewma_rank_sql(src, val, period, alias, keyed=True)

    return f"""
        WITH candles AS (
            SELECT event_type AS symbol,
                CAST(epoch(time_bucket(INTERVAL '300 seconds', ts)) AS BIGINT)
                    AS bucket_start,
                arg_max(value, event_id) AS close,
                sum(value) AS volume
            FROM events
            GROUP BY 1, 2
        ),
        d AS (
            SELECT symbol, bucket_start, close,
                   close - lag(close) OVER w AS delta,
                   row_number() OVER w AS rn,
                   CAST(round(volume * 1000000) AS BIGINT) AS vol_micro,
                   lag(close) OVER w AS prev_close
            FROM candles
            WINDOW w AS (PARTITION BY symbol ORDER BY bucket_start)
        ),
        g AS (
            SELECT symbol, bucket_start, rn,
                   avg(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER f
                       AS avg_gain,
                   avg(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER f
                       AS avg_loss
            FROM d
            WINDOW f AS (PARTITION BY symbol ORDER BY bucket_start
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        ),
        rsi_t AS (
            SELECT symbol, bucket_start,
                   CASE WHEN rn >= 15 THEN
                       round(CASE WHEN avg_gain = 0 AND avg_loss = 0 THEN 50.0
                                  WHEN avg_loss = 0 THEN 100.0
                                  ELSE 100.0 - 100.0
                                       / (1.0 + avg_gain / avg_loss)
                             END, 6)
                   END AS rsi14
            FROM g
        ),
        obv_t AS (
            SELECT symbol, bucket_start,
                   CAST(sum(CASE WHEN prev_close IS NULL THEN 0
                                 WHEN close > prev_close THEN vol_micro
                                 WHEN close < prev_close THEN -vol_micro
                                 ELSE 0 END)
                        OVER (PARTITION BY symbol ORDER BY bucket_start
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)
                        AS BIGINT) AS obv_micro
            FROM d
        ),
        m AS (SELECT symbol, bucket_start, close, rn FROM d),
        ef AS ({ewma("m", "close", fast, "v")}),
        es AS ({ewma("m", "close", slow, "v")}),
        line AS (
            SELECT ef.symbol, ef.rn, ef.bucket_start, ef.v - es.v AS macd_line
            FROM ef JOIN es ON ef.symbol = es.symbol AND ef.rn = es.rn
        ),
        sig AS ({ewma("line", "macd_line", signal, "macd_signal")})
        SELECT d.symbol,
               d.bucket_start * 1000000 AS ts_us,
               d.close,
               r.rsi14,
               o.obv_micro,
               round(l.macd_line, 6) AS macd_line,
               round(s.macd_signal, 6) AS macd_signal,
               round(l.macd_line - s.macd_signal, 6) AS macd_hist
        FROM d
        JOIN rsi_t r ON d.symbol = r.symbol AND d.bucket_start = r.bucket_start
        JOIN obv_t o ON d.symbol = o.symbol AND d.bucket_start = o.bucket_start
        LEFT JOIN line l ON d.symbol = l.symbol AND d.rn = l.rn
        LEFT JOIN sig s ON d.symbol = s.symbol AND d.rn = s.rn
    """


def _t6_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1's STREAMING form made driver-adjudicable: the watermarked
    stream-stream bucketed band join (the reference's core topology,
    spark_consumer.py:437-477) runs as a real two-micro-batch
    availableNow stream into a memory sink and must produce EXACTLY
    the batch join's rows — the j1 oracle SQL verbatim. Both sides
    watermark 5 minutes; the band is 3, so a deep row whose match
    arrives in the next micro-batch is still in state when it does
    (watermark > band — the state-retention inequality the reference
    relies on), and rows old enough for eviction can no longer match.
    No broker in the sandbox, so parquet files stand in for Kafka
    topics; the join/state/watermark semantics under test are
    identical."""
    ev = load_table(spark, "events", sf_dir)
    deep = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("deep_id"),
        F.col("ts").alias("deep_ts"),
        F.col("value").alias("deep_val"),
    )
    quote = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_val"),
    )
    cut = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    # INNER join — every output row is emitted on match arrival, so the
    # trailing watermark-only batch is pure eviction cost.
    with streaming_run(spark, no_data_batches=False) as sr:
        deep_s, quote_s = (
            sr.stream(df, (F.col(ts) <= cut, F.col(ts) > cut)).withWatermark(
                ts, "5 minutes"
            )
            for df, ts in ((deep, "deep_ts"), (quote, "view_ts"))
        )
        joined = asof_band_join(
            deep_s, quote_s, "deep_ts", "view_ts", ts_unit="ts",
        ).select("deep_id", "view_id", "deep_val", "view_val")
        return sr.memory(joined)


def _t1_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1's streaming form made driver-adjudicable: every 10th event is
    injected as an exact duplicate into the same micro-batch, the
    stream dedups on the event key with watermark-bounded state
    (``dropDuplicatesWithinWatermark`` — one state entry per key per
    watermark window, the scale path the reference's all-column
    ``dropDuplicates`` lacks), and the emitted rows must be EXACTLY
    the original distinct events (the oracle). Duplicates ride in the
    same batch as their originals, so state retention is exercised
    without depending on cross-batch watermark timing."""
    from financial_market_data_analysis_spark.streaming.pipeline import (
        dedup_within_watermark,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "value"
    )
    dups = ev.filter(F.col("event_id") % 10 == 0)
    cut = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    # Dedup emits every non-duplicate on arrival — the trailing no-data
    # batch only evicts expired keys, emitting nothing.
    with streaming_run(spark, no_data_batches=False) as sr:
        stream = sr.stream(
            ev.unionAll(dups), (F.col("ts") <= cut, F.col("ts") > cut)
        ).withWatermark("ts", "5 minutes")
        rows = sr.memory(dedup_within_watermark(stream, ["event_id"]))
    return rows.select(
        "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "user_id", "value"
    )


def _t6b_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 made driver-adjudicable: the LEFT-OUTER watermarked
    stream-stream interval join — the topology the reference designed
    but left disabled (spark_consumer.py:144-149, its `how` commented
    to inner). Identical harness to t6 (two-micro-batch availableNow
    parquet stand-in for Kafka), but ``how="leftOuter"``: a deep row
    with no view match inside the band must be emitted NULL-padded
    once the watermark passes its band end (state eviction is exactly
    where outer-join watermark semantics bite).

    Determinism: a left row's outer-NULL status is only FINAL once the
    global watermark (min over both inputs of max-event-time − 5 min)
    passes ``deep_ts + band``; later rows are still in state when an
    availableNow run ends. Both the returned frame and the oracle
    therefore trim to ``deep_ts ≤ final_watermark − band − 1 s``, the
    identical integer expression on both engines.
    """
    ev = load_table(spark, "events", sf_dir)
    deep = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("deep_id"),
        F.col("ts").alias("deep_ts"),
        F.col("value").alias("deep_val"),
    )
    quote = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_val"),
    )
    cut = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        deep_s, quote_s = (
            sr.stream(df, (F.col(ts) <= cut, F.col(ts) > cut)).withWatermark(
                ts, "5 minutes"
            )
            for df, ts in ((deep, "deep_ts"), (quote, "view_ts"))
        )
        joined = asof_band_join(
            deep_s, quote_s, "deep_ts", "view_ts",
            ts_unit="ts", how="leftOuter",
        ).select("deep_id", "deep_ts", "view_id", "deep_val", "view_val")
        rows = sr.memory(joined)
    # final-watermark trim: identical expression in the oracle SQL
    max_deep = deep.agg(F.max(F.unix_micros("deep_ts"))).first()[0]
    max_view = quote.agg(F.max(F.unix_micros("view_ts"))).first()[0]
    bound = (
        min(max_deep, max_view)
        - 300_000_000  # watermark delay
        - 180_000_000  # band
        - 1_000_000  # 1 s safety against boundary semantics
    )
    return (
        rows.filter(F.unix_micros("deep_ts") <= F.lit(bound))
        .select(
            "deep_id",
            F.unix_micros("deep_ts").alias("deep_ts_us"),
            "view_id", "deep_val", "view_val",
        )
    )


# name -> (event_type slice, producer-grid offset seconds): the five
# feeds mirror the reference's producer topology — every feed publishes
# on one shared 5-minute grid, deep at the grid point, the others a few
# seconds behind (producer.py:257-258's 300 s cadence).
_T22_FEEDS = {
    "vix": ("view", 30),
    "volume": ("click", 60),
    "cot": ("signup", 90),
    "ind": ("error", 120),
}
# In batch 1 the four non-deep feeds TRAIL deep by six hours, so every
# match in the trailing window is cross-micro-batch by construction:
# its deep row arrives in batch 1 and must still be in join state when
# its feed rows arrive in batch 2.
_T22_LAG_US = 6 * 3600 * 1_000_000


def _t22_feed_base(ev: DataFrame) -> DataFrame:
    """ONE grouped pass over events builds every feed's hourly
    aggregates — (event_type, hour_us, n, val) — so the five feeds
    (and their two staged micro-batch files) are row-local projections
    of a single eagerly-checkpointed frame instead of five separate
    scan+shuffle pipelines (measured: staging dropped ~2× at sf0.1)."""
    hour_us = F.unix_micros("ts") - F.unix_micros("ts") % F.lit(
        3_600_000_000
    )
    return ev.groupBy("event_type", hour_us.alias("hour_us")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("val"),
    )


def _t22_hourly_feed(
    base: DataFrame, etype: str, offset_s: int, name: str
) -> DataFrame:
    """One producer-grid feed projected from :func:`_t22_feed_base`:
    the event_type slice timestamped at hour start + the feed's grid
    offset (deterministic, oracle-recomputable)."""
    return base.filter(F.col("event_type") == etype).select(
        F.timestamp_micros(
            F.col("hour_us") + F.lit(offset_s * 1_000_000)
        ).alias("ts"),
        F.col("n").alias(f"{name}_n"),
        F.col("val").alias(f"{name}_val"),
    )


def _t22_stream_five_feed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/J1×4/D1 — the reference's LITERAL core topology at full
    fan-in, streaming: deep chained through FOUR watermarked bucketed
    band joins (deep↔vix, deep↔volume, deep↔cot, deep↔ind —
    spark_consumer.py:437-477) then deduped, as ONE availableNow run
    with five FileStreamSource feeds and five stateful operators in a
    row — the multi-stateful chain Spark 2.4 could not execute (the
    reason the reference pushed its window aggs to MariaDB) and the
    engine claims. The batch twin has been pinned since r3
    (pipeline_full_row_part); this is the streaming form's first hard
    oracle row (r11 verdict #2).

    Feeds: hourly per-event_type aggregates of events placed on the
    producer grid (deep at hour start; vix/volume/cot/ind at +30/60/
    90/120 s — all inside deep's 5-minute bucket and 180 s band, the
    reference's aligned-producer assumption). Batch 1 carries deep up
    to the median hour but the other feeds only up to six hours
    earlier, so the trailing window's matches REQUIRE deep rows to
    survive in join state across the micro-batch boundary — a run that
    dropped or double-emitted cross-batch state diverges from the
    oracle (four chained inner joins with the identical integer band
    predicate). Watermark 5 min > band 3 min, the same state-retention
    inequality as t6; inner joins emit on match, so no watermark trim
    is needed for determinism.

    Scale shape: ALL feed derivation is one partial-aggregatable
    grouped pass (checkpointed once, both staged micro-batch files
    project from it); every join is the bucketed EQUI-join (state hash-partitioned
    on the 5-min bucket, watermark-evicted); dedup is key-scoped
    ``dropDuplicatesWithinWatermark`` state, not all-columns; the
    only collects are the cut and the ten (feed, half) row counts
    that guard the cross-batch proof. The fixture-scale harness scopes the stream to
    2 state partitions (720 hourly rows per feed; state-store commit
    overhead per op × partition × batch dominated the run at the
    session default — at cluster scale the stream keeps the cluster's
    shuffle-partition setting)."""
    from financial_market_data_analysis_spark.streaming import pipeline as P

    ev = load_table(spark, "events", sf_dir)
    base = _t22_feed_base(ev).localCheckpoint(eager=True)
    deep = _t22_hourly_feed(base, "purchase", 0, "deep")
    cut_us = deep.agg(F.percentile_approx(F.unix_micros("ts"), 0.5)).first()[0]
    # Stage ALL five feeds with ONE Spark job (r16, guide §2.4): the
    # feeds are projections of the same checkpointed base, so one
    # canonical (feed, ts, n, val) frame is staged as the two
    # micro-batch files, and each feed's FileStreamSource reads them
    # back filtered to its own rows, re-aliased to {name}_n/{name}_val
    # (a stateless projection). Previously: 10 sequential write jobs
    # (~0.25 s fixed cost each at fixture scale).
    spec = {"deep": ("purchase", 0), **_T22_FEEDS}
    feed_name = F.lit(None).cast("string")
    offset_us = F.lit(None).cast("long")
    for name, (etype, off) in spec.items():
        m = F.col("event_type") == etype
        feed_name = F.when(m, F.lit(name)).otherwise(feed_name)
        offset_us = F.when(m, F.lit(off * 1_000_000)).otherwise(offset_us)
    canon = base.select(
        feed_name.alias("feed"),
        F.timestamp_micros(F.col("hour_us") + offset_us).alias("ts"),
        "n",
        "val",
    ).filter(F.col("feed").isNotNull())
    lag_us = F.when(F.col("feed") == "deep", F.lit(0)).otherwise(
        F.lit(_T22_LAG_US)
    )
    first = F.unix_micros("ts") <= cut_us - lag_us
    cells = {
        (r["feed"], r["first"])
        for r in canon.groupBy("feed", first.alias("first")).count().collect()
    }
    empty = [(n, h) for n in spec for h in (True, False) if (n, h) not in cells]
    if empty:
        raise RuntimeError(
            f"t22 staging: (feed, first half) cells {empty} have no rows — "
            "the two-batch cross-state proof needs both halves non-empty"
        )
    # Inner joins emit on match and the dedup emits on first arrival —
    # no output row waits on the watermark, so the trailing no-data
    # batch (a sixth stateful-op round over five operators) is pure
    # eviction overhead here.
    with streaming_run(spark, state_partitions=2, no_data_batches=False) as sr:
        src = sr.stage(canon, (first, ~first))
        streams = {
            name: P.watermarked(
                sr.source(src, canon.schema)
                .filter(F.col("feed") == name)
                .select(
                    "ts",
                    F.col("n").alias(f"{name}_n"),
                    F.col("val").alias(f"{name}_val"),
                ),
                "ts",
            )
            for name in spec
        }
        joined = P.join_feeds(
            streams["deep"], {k: streams[k] for k in _T22_FEEDS}
        )
        # the reference dedups then fillna's after its joins
        # (spark_consumer.py:477-479); both are no-ops on this fixture
        # (one row per feed per hour; inner joins produce no nulls) but
        # the operators run for topology parity.
        rows = sr.memory(
            P.dedup_within_watermark(joined, ["deep_ts"]).na.fill(0.0)
        )
    return rows.select(
        F.unix_micros("deep_ts").alias("hour_us"),
        "deep_n", "deep_val",
        "vix_n", "vix_val",
        "volume_n", "volume_val",
        "cot_n", "cot_val",
        "ind_n", "ind_val",
    )


def _t23_stream_drift_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/S7 — the per-batch CONTRACT-DRIFT accounting of the
    streaming quarantine ingest (streaming/pipeline.py
    quarantining_ingest_sink drift channel, r11 verdict #5) under a
    hard oracle: three CSV drops arrive as three micro-batches —
    batch 0 healthy, batch 1 with a corrupt n_chars on its odd-doc_id
    slice (the quarantine-rate spike a producer retype causes under a
    frozen stream schema), batch 2 with lang EMPTIED for every row and
    n_chars emptied on the doc_id%5 slice (the all-null column a
    dropped field causes). The sink must publish one row per contract
    column per batch — (epoch_id, column, null_frac among clean rows,
    quarantine_frac, drifted) — and the oracle recomputes every
    fraction and every flag from the fixture under the same slicing:
    batch 1 flags ALL columns via quarantine_frac ≥ 0.3, batch 2 flags
    ONLY lang (fully null; the partial n_chars null rate must NOT
    flag), batch 0 flags nothing. Epoch↔drop mapping is deterministic
    by staged mtime order (``StreamRun.stage``).

    Scale shape: the accounting is ONE partial-aggregatable pass over
    the already-materialized batch, per-column rows via inline over a
    single array-of-structs (the s10 shape); sinks are
    epoch-idempotent dynamic partition overwrites."""
    from financial_market_data_analysis_spark.sources import files as FS
    from financial_market_data_analysis_spark.streaming import pipeline as P

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    n_bad = (
        docs.agg(
            F.sum(
                (
                    F.col("doc_id").isNull()
                    | F.col("n_chars").isNull()
                    | F.col("lang").isNull()
                    | F.col("lang").rlike('[,"\n\r]')
                ).cast("int")
            ).alias("n_bad")
        ).first()["n_bad"]
        or 0
    )
    if n_bad:
        raise ValueError(
            f"_t23: {n_bad} fixture rows violate the unquoted-CSV "
            "staging precondition"
        )
    nch = F.col("n_chars").cast("string")
    lines = docs.select(
        F.col("doc_id"),
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 2, F.lit("")).otherwise(
                F.col("lang")
            ),
            F.when(
                (F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 2 == 1),
                F.concat(F.lit("x"), nch),
            )
            .when(
                (F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 5 == 0),
                F.lit(""),
            )
            .otherwise(nch),
        ).alias("value"),
    )
    with streaming_run(spark) as sr:
        src = sr.stage(
            lines, [F.col("doc_id") % 3 == i for i in range(3)], fmt="text"
        )
        stream = (
            spark.readStream.schema(
                FS._with_corrupt_field(_docs_csv_schema())
            )
            .option("header", "false")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", FS.CORRUPT_COL)
            .option("maxFilesPerTrigger", 1)
            .csv(src)
        )
        sr.run(
            P.quarantining_ingest_sink(
                stream,
                sr.path("clean"),
                sr.path("quar"),
                sr.path("ckpt"),
                drift_dir=sr.path("drift"),
            )
        )
        return (
            spark.read.parquet(sr.path("drift"))
            .select(
                F.col("epoch_id").cast("int").alias("epoch_id"),
                "column",
                "null_frac",
                "quarantine_frac",
                "drifted",
            )
            .localCheckpoint(eager=True)
        )


def _t24_stream_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6/W24 — the STREAMING form of bar-series regularization
    (streaming/pipeline.py ``stateful_gap_fill``): the candle series
    arrives as two micro-batches and every no-trade bucket is
    synthesized with carried-forward close / zero volume from O(1)
    per-key state. The batch cut is placed deliberately AT a real gap
    (the median gap's left edge), so the synthetic rows inside that
    gap can only be emitted when batch 2's first bar arrives — from
    state written in batch 1. A run that loses or duplicates the
    carry-forward state emits a different row set and hash-mismatches
    the oracle, which is w24's batch SQL VERBATIM (the stream/batch
    unification claim, adjudicated at full series granularity).

    Scale shape: O(1) state per key (last bucket + last value), Arrow-
    batched; emission is data-driven (no watermark wait), so the
    availableNow output equals the batch spine exactly with no trim."""
    from financial_market_data_analysis_spark.streaming import pipeline as P

    bars = (
        _candles(spark, sf_dir)
        .select("bucket_start", "close", "volume")
        .withColumn("symbol", F.lit("S"))
    )
    w = SW.orderBy("bucket_start")
    gaps = bars.select(
        "bucket_start",
        F.lead("bucket_start").over(w).alias("nxt"),
    ).filter(F.col("nxt") > F.col("bucket_start") + 300)
    cut = gaps.agg(
        F.percentile_approx("bucket_start", 0.5)
    ).first()[0]
    with streaming_run(spark) as sr:
        stream = sr.stream(
            bars, (F.col("bucket_start") <= cut, F.col("bucket_start") > cut)
        )
        rows = sr.memory(P.stateful_gap_fill(stream))
    return rows.select(
        "bucket_start",
        "is_gap",
        F.round("close", 6).alias("close_filled"),
        F.round("volume", 6).alias("volume_filled"),
    )


def _t28_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6/T9/A19 — the STATEFUL streaming form of a19's sessionization
    (streaming/pipeline.py ``stateful_sessionize``, the r13 verdict #7
    candidate): the clickstream arrives as two micro-batches cut at
    the median event time and sessions are carved by a single-pass
    applyInPandasWithState operator whose per-key state is three longs
    (session start, last event time, event count). A session is
    emitted exactly when the key's next event arrives ≥ 30 minutes
    later — data-driven close, so unlike t4b (the built-in
    ``session_window``, watermark-trimmed emission, full aggregation
    buffers in the state store) the emitted set is DETERMINISTIC on
    the data alone: the batch gaps-and-islands sessions minus each
    user's final (still-open) session, which the oracle expresses
    exactly (``sess_id < max(sess_id) OVER user``) with no watermark
    approximation. Sessions that STRADDLE the cut (the query RAISES
    unless at least one does) can only be emitted whole from carried
    state — the cross-batch session-merge law, proven the way t24
    proved gap-fill carry state. Published: every closed session
    (user, start, events, duration) at full granularity.

    Scale shape: O(1) state per key (three longs — the built-in holds
    every open session's aggregation buffer), Arrow-batched, one state
    round-trip per key per batch; emission composes with any batch
    rollup downstream (a19's per-day frame is one groupBy away)."""
    from financial_market_data_analysis_spark.streaming import pipeline as P

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    # Place the cut deliberately INSIDE a session that later closes
    # (the t24 discipline — a median-ts cut lands inside a session
    # with probability ~0 when most sessions are short): candidates
    # are events whose next same-user event is < gap away (the pair
    # spans the cut) and whose user has a session break after it (so
    # the spanning session eventually closes and is emitted).
    w_ts = SW.partitionBy("user_id").orderBy("ts_us")
    g = (
        ev.withColumn("nxt", F.lead("ts_us").over(w_ts))
        .withColumn(
            "is_break",
            (F.col("nxt") - F.col("ts_us") >= _A19_GAP_US).cast("int"),
        )
        .withColumn(
            "close_after",
            F.max("is_break").over(
                w_ts.rowsBetween(1, SW.unboundedFollowing)
            ),
        )
    )
    cand = g.filter(
        (F.col("nxt") - F.col("ts_us") < _A19_GAP_US)
        & (F.col("close_after") == 1)
    )
    cut = cand.agg(F.percentile_approx("ts_us", 0.5)).first()[0]
    if cut is None:
        raise RuntimeError(
            "no multi-event session closes after a candidate cut — "
            "the cross-batch merge law is not provable on this fixture"
        )
    with streaming_run(spark) as sr:
        stream = sr.stream(ev, (F.col("ts_us") <= cut, F.col("ts_us") > cut))
        out = (
            sr.memory(P.stateful_sessionize(stream, gap_us=_A19_GAP_US))
            .select("user_id", "start_us", "n_events", "dur_us")
            .localCheckpoint(eager=True)
        )
        # the adjudication is only about cross-batch state if some
        # emitted session actually spans the cut — raise loudly if the
        # fixture ever degenerates (the s13 'unprovable' discipline)
        n_span = out.filter(
            (F.col("start_us") <= cut)
            & (F.col("start_us") + F.col("dur_us") > cut)
        ).count()
        if n_span == 0:
            raise RuntimeError(
                f"no emitted session spans the batch cut at {cut} — "
                "the cross-batch merge law is not being exercised"
            )
    return out


_T28_ORACLE = f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, ts_us,
               CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                    WHEN ts_us - lag(ts_us) OVER w >= {_A19_GAP_US}
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    numbered AS (
        SELECT user_id, ts_us,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sess_id
        FROM marked
    ),
    sessions AS (
        SELECT user_id, sess_id,
               CAST(count(*) AS BIGINT) AS n_events,
               min(ts_us) AS start_us,
               max(ts_us) - min(ts_us) AS dur_us
        FROM numbered
        GROUP BY 1, 2
    )
    SELECT user_id, start_us, n_events, dur_us
    FROM (
        SELECT *, max(sess_id) OVER (PARTITION BY user_id) AS mx
        FROM sessions
    )
    WHERE sess_id < mx
"""


def _t29_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 completed — STATE-STORE RECOVERY proven (r14 verdict #8
    candidate: t7 proves the SINK survives a crash-retry; nothing yet
    proved the STATE does). t28's stateful sessionizer runs as THREE
    separate streaming queries over ONE checkpoint:

    1. **run 1** processes the pre-cut half and stops (availableNow).
       The session spanning the cut is OPEN — it exists only as three
       longs in the checkpoint's state store, and the query RAISES if
       any stored (closed) session extends past the cut.
    2. **run 2** starts fresh from the same checkpoint after the
       post-cut file lands; its sink is SABOTAGED: on its first
       batch it writes a PARTIAL epoch then dies — the mid-batch
       crash, after state work, before the commit.
    3. **run 3** restarts from the checkpoint again; the source
       replays the uncommitted batch, the state store reloads the
       pre-crash version, and the epoch-idempotent sink REPLACES the
       poisoned partial epoch.

    The final warehouse read-back is adjudicated against the exact
    batch oracle (t28's: every closed session, no watermark trim).
    That equality is only reachable if (a) run 2/3 restored the open
    session's (start, count) from the state store — a lost state
    store would emit the spanning session with a post-cut start and
    an undercount — and (b) the replayed batch recomputed the
    identical emission from the reloaded state version. The query
    also RAISES unless ≥1 emitted session actually spans the cut
    (the t28/s13 'unprovable' discipline) and unless the injected
    crash fired.

    Scale shape: this is the recovery contract a 1000-executor
    streaming job leans on daily — executor loss, code redeploy,
    cluster resize all resume from the checkpoint; the proof costs
    two extra fixture-scale availableNow runs. Reference parity: the
    reference restarts its consumer from MariaDB's last row and
    silently loses open aggregation state (spark_consumer.py's
    in-memory chaining); here the state round-trips the checkpoint
    and the oracle certifies it."""
    import glob
    import os

    from pyspark.errors import StreamingQueryException

    from financial_market_data_analysis_spark.streaming import pipeline as P
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    # cut INSIDE a session that later closes (t28's candidate rule):
    # the spanning session must exist, and must eventually be emitted
    w_ts = SW.partitionBy("user_id").orderBy("ts_us")
    g = (
        ev.withColumn("nxt", F.lead("ts_us").over(w_ts))
        .withColumn(
            "is_break",
            (F.col("nxt") - F.col("ts_us") >= _A19_GAP_US).cast("int"),
        )
        .withColumn(
            "close_after",
            F.max("is_break").over(
                w_ts.rowsBetween(1, SW.unboundedFollowing)
            ),
        )
    )
    cand = g.filter(
        (F.col("nxt") - F.col("ts_us") < _A19_GAP_US)
        & (F.col("close_after") == 1)
    )
    cut = cand.agg(F.percentile_approx("ts_us", 0.5)).first()[0]
    if cut is None:
        raise RuntimeError(
            "no multi-event session closes after a candidate cut — "
            "state recovery is not provable on this fixture"
        )
    with streaming_run(spark) as sr:
        src = sr.stage(ev, (F.col("ts_us") <= cut,))
        wh = sr.path("wh")
        ckpt = sr.path("ckpt")
        write = epoch_idempotent_writer(wh)

        def run_with(write_fn) -> None:
            sessions = P.stateful_sessionize(
                sr.source(src, ev.schema), gap_us=_A19_GAP_US
            )
            sr.run(
                sessions.writeStream.foreachBatch(write_fn)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
            )

        run_with(write)
        # between runs: every session closed so far ended inside the
        # first half; the spanning session lives ONLY in the
        # checkpoint's state store
        stored = glob.glob(os.path.join(wh, "**", "*.parquet"), recursive=True)
        if stored:
            n_past = (
                spark.read.parquet(wh)
                .filter(F.col("start_us") + F.col("dur_us") > cut)
                .count()
            )
            if n_past:
                raise RuntimeError(
                    f"run 1 emitted {n_past} sessions extending past "
                    f"the cut at {cut} — the staged halves are wrong"
                )
        # land the post-cut file with an mtime strictly AFTER run 1's
        # files (FileStreamSource orders by mtime — the staging tie
        # rule, applied across staging calls)
        before = set(glob.glob(os.path.join(src, "*.parquet")))
        last_mtime = max(os.path.getmtime(p) for p in before)
        ev.filter(F.col("ts_us") > cut).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for p in set(glob.glob(os.path.join(src, "*.parquet"))) - before:
            os.utime(p, (last_mtime + 2, last_mtime + 2))

        crashed = {"fired": False}

        def sabotaged(batch: DataFrame, epoch_id: int) -> None:
            if not crashed["fired"]:
                crashed["fired"] = True
                # the mid-batch crash: a partial sink flush lands,
                # then the query dies before committing the batch
                write(batch.limit(1), epoch_id)
                raise RuntimeError("t29 injected crash")
            write(batch, epoch_id)

        try:
            run_with(sabotaged)
        except StreamingQueryException as exc:
            if "injected crash" not in str(exc):
                raise
        else:
            raise RuntimeError(
                "t29 run 2 was supposed to crash but finished clean"
            )
        if not crashed["fired"]:
            raise RuntimeError("t29 crash injection never ran")
        run_with(write)
        out = (
            spark.read.parquet(wh)
            .select("user_id", "start_us", "n_events", "dur_us")
            .localCheckpoint(eager=True)
        )
        n_span = out.filter(
            (F.col("start_us") <= cut)
            & (F.col("start_us") + F.col("dur_us") > cut)
        ).count()
        if n_span == 0:
            raise RuntimeError(
                f"no emitted session spans the cut at {cut} — state "
                "recovery was not exercised"
            )
    return out


# identical closed-session law as t28: recovery must change NOTHING
_T29_ORACLE = _T28_ORACLE


def _t30_stream_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9/A16 — a16's weekly retention cohorts maintained INCREMENTALLY
    over the append-only epoch-idempotent store (r14 verdict #8: the
    t27/t18 monoid pattern applied to a NON-SKETCH aggregate). Each
    micro-batch appends its distinct (user, week) activity pairs under
    its epoch partition; the read-time collapse is set-union →
    min-fold (first week per user) → cell rollup — every stage an
    idempotent, mergeable monoid, so the store tolerates replays AND
    arrival order.

    The order-independence law is the point, and the stream is staged
    to violate time order ON PURPOSE: the micro-batches arrive
    [middle third, latest third, EARLIEST third]. A user's cohort
    (their first week) is therefore wrong in every prefix of the
    stream and only right after the last batch lands — the query
    RAISES unless at least one user's cohort-defining event actually
    arrives in the final batch after that user was already active in
    an earlier one (the retroactive-cohort fix the min-monoid exists
    for). A mutable-state design (the reference's MariaDB UPDATE
    chain, spark_consumer.py's read-modify-write) computes the WRONG
    cohort for those users in batch 1 and has to issue corrections;
    the append-only store never holds a wrong row — the collapse is
    deferred to read time where the full set is visible. Adjudicated
    against a16's batch oracle VERBATIM: streaming + disorder must
    change nothing.

    Scale shape: per-epoch appends are distinct-deduped batch-locally
    (one map-side-combined aggregate), the store is bounded by
    distinct (user, week) pairs, and the read-time collapse is a16's
    exact two-shuffle rollup; no read-modify-write, no snapshot
    chain, no per-batch store scan."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
    )
    t1, t2 = (
        ev.agg(
            F.percentile_approx("ts_us", 1.0 / 3).alias("t1"),
            F.percentile_approx("ts_us", 2.0 / 3).alias("t2"),
        )
        .first()
    )
    # the retro-cohort fix must be exercised: some user's FIRST event
    # sits in the earliest third (arriving LAST) while the user is
    # already active in a later third (arriving earlier)
    n_retro = (
        ev.groupBy("user_id")
        .agg(F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi"))
        .filter((F.col("lo") <= t1) & (F.col("hi") > t1))
        .count()
    )
    if n_retro == 0:
        raise RuntimeError(
            "no user spans the first time-tertile — out-of-order "
            "cohort correction is not provable on this fixture"
        )
    with streaming_run(spark) as sr:
        # deliberately out of time order: middle, latest, EARLIEST
        stream = sr.stream(
            ev,
            (
                (F.col("ts_us") > t1) & (F.col("ts_us") <= t2),
                F.col("ts_us") > t2,
                F.col("ts_us") <= t1,
            ),
        )
        store = sr.path("store")
        write = epoch_idempotent_writer(store)

        def sink(batch: DataFrame, epoch_id: int) -> None:
            # batch-local distinct: the monoid element is a SET of
            # (user, week) pairs — dedup before the append so the
            # store is bounded by distinct pairs, not event count
            write(
                batch.select(
                    "user_id",
                    F.expr("ts_us div 604800000000").alias("week_num"),
                ).distinct(),
                epoch_id,
            )

        sr.run(
            stream.writeStream.foreachBatch(sink).option(
                "checkpointLocation", sr.path("ckpt")
            )
        )
        # read-time collapse: union across epochs (distinct), then
        # a16's exact rollup — min-fold cohorts, distinct activity,
        # cell counts, broadcast cohort sizes
        pairs = (
            spark.read.parquet(store)
            .select("user_id", "week_num")
            .distinct()
        )
        first = pairs.groupBy("user_id").agg(
            F.min("week_num").alias("cohort_week")
        )
        cells = (
            pairs.join(first, "user_id")
            .groupBy(
                "cohort_week",
                (F.col("week_num") - F.col("cohort_week")).alias(
                    "week_offset"
                ),
            )
            .agg(F.count(F.lit(1)).alias("n_active"))
        )
        sizes = first.groupBy("cohort_week").agg(
            F.count(F.lit(1)).alias("cohort_size")
        )
        return (
            cells.join(F.broadcast(sizes), "cohort_week")
            .select(
                "cohort_week",
                "week_offset",
                "n_active",
                "cohort_size",
                F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
                    "retention"
                ),
            )
            .localCheckpoint(eager=True)
        )


# a16's batch law verbatim: streaming + disorder must change nothing
_T30_ORACLE = _A16_ORACLE


_T23_ORACLE = f"""
    WITH b1 AS (
        SELECT count(*) AS n,
               sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS n_bad
        FROM documents WHERE doc_id % 3 = 1
    ),
    b2 AS (
        SELECT count(*) AS n,
               sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS n_null
        FROM documents WHERE doc_id % 3 = 2
    )
    SELECT 0 AS epoch_id, c AS "column",
           0.0 AS null_frac, 0.0 AS quarantine_frac, false AS drifted
    FROM (VALUES ('doc_id'), ('lang'), ('n_chars')) t(c)
    UNION ALL
    SELECT 1, c, 0.0, round(n_bad / n, 6),
           round(n_bad / n, 6) >= {QUARANTINE_ALERT}
    FROM b1, (VALUES ('doc_id'), ('lang'), ('n_chars')) t(c)
    UNION ALL
    SELECT 2, 'doc_id', 0.0, 0.0, false FROM b2
    UNION ALL
    SELECT 2, 'lang', 1.0, 0.0, true FROM b2
    UNION ALL
    SELECT 2, 'n_chars', round(n_null / n, 6), 0.0, false FROM b2
"""


def _t4b_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4's STREAMING form made driver-adjudicable: the built-in
    ``session_window`` (30-min inactivity gap) under a real
    two-micro-batch availableNow stream — merge-on-late-row session
    state, append-mode emission once the watermark passes each
    session's end. Oracle: the same gaps-and-islands SQL as batch t4.

    Determinism: a session is only FINAL (emitted) once the watermark
    (max event time − 5 min) passes ``last_ts + gap``; both sides trim
    to ``session_last ≤ floor(max_ts_epoch) − 300 − 1800 − 2`` — the
    identical integer expression, conservative against sub-second
    boundary semantics.
    """
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    cut = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        stream = sr.stream(
            ev, (F.col("ts") <= cut, F.col("ts") > cut)
        ).withWatermark("ts", "5 minutes")
        rows = sr.memory(W.session_windows(stream))
    max_s = ev.agg(F.floor(F.max(F.unix_micros("ts")) / 1_000_000)).first()[0]
    return rows.filter(
        F.col("session_last") <= F.lit(int(max_s) - 300 - 1800 - 2)
    )


# Fixed serving coefficients for ml3 — the deployed-model stand-in
# (reference predict.py:144-196 loads a trained model and scores the
# latest window; scoring is a pure function of fixed weights, which is
# what makes it oracle-checkable while TRAINING stays rows-only in ml2).
ML3_WEIGHTS = (0.02, -0.015, 0.01, -0.005)  # on close_lag{0..3} − close_lag4
ML3_BIAS = 0.1


def _ml3_scored(
    spark: SparkSession, sf_dir: str, with_label: bool = False
) -> DataFrame:
    """The ONE fixed-coefficient logistic scorer pipeline behind
    ml3/ml4/ml6/ml7 (candles → lag matrix → dropna → [next-bar label]
    → ``prob`` = 1/(1+exp(−(w·x+b)))), extracted so a retune of the
    coefficient handling cannot silently diverge the four twins (the
    ``_ewma_rank_sql`` precedent, r6 review). ``prob`` is UNROUNDED —
    each consumer decides its rounding; ``with_label`` appends
    ``next_close`` and drops the final unlabeled bar (the dropped
    lag-null rows are a strict prefix, so the LEAD is unaffected)."""
    from financial_market_data_analysis_spark.ml import lag_matrix

    c = candles_from_events(load_table(spark, "events", sf_dir))
    m = lag_matrix(c, "close", 5, ["bucket_start"]).dropna(
        subset=[f"close_lag{j}" for j in range(5)]
    )
    if with_label:
        w = SW.orderBy("bucket_start")
        m = m.withColumn("next_close", F.lead("close").over(w)).filter(
            F.col("next_close").isNotNull()
        )
    raw = F.lit(ML3_BIAS)
    for j, wt in enumerate(ML3_WEIGHTS):
        raw = raw + F.lit(wt) * (F.col(f"close_lag{j}") - F.col("close_lag4"))
    return m.withColumn(
        "prob", F.lit(1.0) / (F.lit(1.0) + F.exp(-raw))
    )


_ML3_LAGS_OK = " AND ".join(
    f"close_lag{j} IS NOT NULL" for j in range(5)
)


def _ml3_sql_parts(with_label: bool = False) -> tuple[str, str]:
    """(m-CTE chain, prob expression) — the single SQL twin of
    ``_ml3_scored`` shared by all four ml oracles."""
    lags = ",\n                   ".join(
        f"lag(close, {j}) OVER (ORDER BY bucket_start) AS close_lag{j}"
        for j in range(5)
    )
    terms = " + ".join(
        f"({w}) * (close_lag{j} - close_lag4)"
        for j, w in enumerate(ML3_WEIGHTS)
    )
    prob = f"(1.0 / (1.0 + exp(-({ML3_BIAS} + {terms}))))"
    lead = (
        "lead(close) OVER (ORDER BY bucket_start) AS next_close,\n"
        "                   "
        if with_label
        else ""
    )
    cte = f"""candles AS ({candles_oracle_sql()}),
        m AS (
            SELECT bucket_start, close,
                   {lead}{lags}
            FROM candles
        )"""
    return cte, prob


def _ml3_score_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML scoring-parity: logistic serving path over the ml1 lag matrix
    with FIXED coefficients (the shared ``_ml3_scored`` pipeline) —
    ``p = 1/(1+exp(−(w·x + b)))``, features ``close_lag{j} −
    close_lag4``. The DuckDB twin computes the identical closed form,
    rounded to 6 decimals on both sides (the x19/x33 float precedent),
    so the prediction path — the reference's predict.py inference
    semantics — gets a hard value-hash signal. MLlib *training*
    remains rows-only by design (ml2); a pytest separately asserts
    MLlib's own transform() equals this closed form given the fitted
    model's coefficients."""
    s = _ml3_scored(spark, sf_dir)
    return s.select(
        "bucket_start",
        F.round("prob", 6).alias("prob_up"),
        (F.col("prob") > 0.5).cast("int").alias("pred_up"),
    )


def _ml3_oracle() -> str:
    """DuckDB twin of _ml3_score_parity: identical closed-form logistic
    scoring over the same lag matrix, rounded to 6 decimals."""
    cte, prob = _ml3_sql_parts()
    return f"""
        WITH {cte}
        SELECT bucket_start,
               round({prob}, 6) AS prob_up,
               CAST({prob} > 0.5 AS INT) AS pred_up
        FROM m
        WHERE {_ML3_LAGS_OK}
    """


def _t12_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 — the count-min sketch built INCREMENTALLY by Structured
    Streaming: token occurrences from two document micro-batches flow
    through the SAME ``countmin_sketch`` aggregation (a streaming
    groupBy in complete mode — Spark keeps the ≤ depth×width cells as
    running state and merges each micro-batch's partials by cell-wise
    sum), and the top-20 tokens are then estimated against the
    STREAMED sketch. The oracle is x50's batch SQL verbatim: the hash
    match adjudicates the sketch's mergeability claim — the property
    that makes it a one-pass 100 TB aggregate — under a real
    incremental run, not by construction. The memory-sink state is the
    sketch itself (KBs), the streaming-native cardinality the
    reference's per-row JDBC appends (spark_consumer.py:68-84) could
    never bound."""
    import financial_market_data_analysis_spark.operators.sketches as SK
    from financial_market_data_analysis_spark.functions.text import tokens

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    cut = docs.agg(F.percentile_approx("doc_id", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        stream = sr.stream(
            docs, (F.col("doc_id") <= cut, F.col("doc_id") > cut)
        )
        occ = stream.select(F.explode(tokens("text")).alias("tok")).withColumn(
            "cnt", F.lit(1)
        )
        sketch = sr.memory(
            SK.countmin_sketch(occ, "tok", "cnt"), output_mode="complete"
        )
    counts = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)  # feeds estimate probe + join
    )
    top = counts.orderBy(F.desc("cnt"), "tok").limit(20)
    est = SK.countmin_estimate(sketch, top.select("tok"), "tok")
    return top.join(est, "tok").select(
        "tok",
        F.col("cnt").alias("true_cnt"),
        "cms_est",
        (F.col("cms_est") - F.col("cnt")).alias("overest"),
    )


def _t17_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17 — the WATERMARK LATE-DATA POLICY (T5) as a hard driver
    signal (it had only pytest coverage): a 5-minute tumbling count/sum
    aggregation under a 10-minute watermark, driven by a two-batch
    availableNow stream whose SECOND batch contains only stragglers
    deliberately older than (cut − 2×delay) — far beyond any watermark
    boundary subtlety. After batch 1 the watermark sits at
    (global max − 10 min), so every batch-2 row must be DROPPED before
    the aggregation; the oracle aggregates exactly the non-straggler
    rows, so if the engine let one late row through, the window it
    lands in hash-mismatches. The batch split uses an exact integer
    midpoint cut ((min+max)//2 µs — NOT percentile_approx, because
    here the split defines the ANSWER and must be oracle-mirrorable),
    and stragglers sit ≥ 2×delay below it while the fixture's span
    keeps the cut ≥ 2×delay+300 s below the max (asserted), so no row
    is within 10 minutes of the boundary on either side.

    THREE batches, not two: Spark filters late records against the
    watermark of the PREVIOUS batch (``watermarkForLateEvents`` — the
    deliberately lenient one-batch lag), so a straggler arriving in
    batch 1 is judged against batch 0's INITIAL (epoch-zero) watermark
    and sails through — measured here: the 2-batch design dropped 0
    rows, the 3-batch design reports the full straggler count in
    batch 2's ``numRowsDroppedByWatermark``. Batches 0/1 split the
    kept rows at a deterministic recency threshold (batch 1 = the
    newest eighth, all above batch 0's watermark), batch 2 = the
    stragglers, judged against a fully-advanced watermark.

    Update-mode emission flows through the t15b foreachBatch pattern
    (per-batch_id overwrite — idempotent replay), and the final read
    takes each window's LAST update. Scale shape: watermark state is
    bounded per window key; dropped-late rows cost a row-local filter,
    never state."""
    out, _progress, _ns, _nsw, _nw = _late_drop_stream(spark, sf_dir)
    return out


def _late_drop_stream(spark: SparkSession, sf_dir: str):
    """Shared core of t17 (VALUE adjudication of the late-drop
    policy) and t31 (METRICS adjudication of the same run): stages
    the three-batch late-arrival stream, runs the watermarked
    windowed aggregation, and returns ``(out, progress, n_stragglers,
    n_straggler_windows, n_kept_windows)`` — the final window frame,
    the query's progress records (they carry the state-operator
    metrics), the exact staged straggler row and distinct-window
    counts, and the number of distinct 5-minute windows in the kept
    data. See t17's docstring for the three-batch watermark-lag
    design."""
    ev = load_table(spark, "events", sf_dir).select("ts", "user_id", "value")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    ).first()
    delay_us = 600 * 1_000_000
    cut = (bounds.mn + bounds.mx) // 2
    assert bounds.mx - cut > 2 * delay_us + 300 * 1_000_000, (
        "fixture span too short for an unambiguous late margin"
    )
    is_straggler = (F.unix_micros("ts") < cut - 2 * delay_us) & (
        F.col("user_id") % 7 == 0
    )
    cut2 = bounds.mx - (bounds.mx - bounds.mn) // 8
    is_recent = F.unix_micros("ts") >= cut2
    # One aggregation pass for all three proof counts (straggler rows,
    # distinct straggler windows, distinct kept windows) instead of the
    # former three separate count jobs — same scan, same values
    # (count(when) counts non-nulls; count_distinct(when) counts
    # distinct non-null window ids). Guide §1.2: t17 AND t31 both run
    # this path, so the fold saves two full event-table scans per run
    # in each.
    w_us = F.expr("unix_micros(ts) div 300000000")
    pre = ev.agg(
        F.count(F.when(is_straggler, F.lit(1))).alias("n_strag"),
        F.count_distinct(F.when(is_straggler, w_us)).alias("nsw"),
        F.count_distinct(F.when(~is_straggler, w_us)).alias("nw"),
    ).first()
    n_strag, n_strag_windows, n_windows = pre.n_strag, pre.nsw, pre.nw
    with streaming_run(spark) as sr:
        upd = sr.path("updates")
        stream = sr.stream(
            ev,
            (
                ~is_straggler & ~is_recent,
                ~is_straggler & is_recent,
                is_straggler,
            ),
        ).withWatermark("ts", "10 minutes")
        agg = (
            stream.groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("sum_value"),
            )
            .select(
                F.unix_micros(F.col("w.start")).alias("window_start_us"),
                "n",
                "sum_value",
            )
        )

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(f"{upd}/b{batch_id}")

        progress = sr.run(
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", sr.path("ckpt"))
        )
        all_upd = spark.read.option("recursiveFileLookup", "true").parquet(upd)
        latest = all_upd.groupBy("window_start_us").agg(
            F.max(F.struct("batch_id", "n", "sum_value")).alias("s")
        )
        out = latest.select(
            "window_start_us",
            F.col("s.n").alias("n"),
            F.round("s.sum_value", 6).alias("sum_value"),
        ).localCheckpoint(eager=True)
    return out, progress, n_strag, n_strag_windows, n_windows


def _t31_state_metrics_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T31 — BOUNDED STREAMING STATE proven from the engine's own
    runtime metrics (the j7/j8/j9/j10 executed-plan proof discipline
    applied to the STATE STORE): t17 adjudicates the late-drop policy
    by VALUE; this runs the identical three-batch watermarked window
    aggregation and RAISES unless the ``StreamingQueryProgress``
    state-operator metrics show the machinery actually working:

    1. ``numRowsDroppedByWatermark`` summed across batches lands in
       [distinct straggler WINDOWS, straggler ROWS] — the metric
       counts operator-input rows AFTER map-side partial aggregation
       (measured: 122 staged straggler rows report as 119 drops, one
       per distinct window, because the one-file batch partials them
       in a single task; more input splits report up to one per row),
       and BOTH bounds failing means late data leaked into state or
       was double-dropped;
    2. ``numRowsRemoved`` > 0 somewhere — watermark EVICTION
       observably ran (state rows were deleted, not just flagged);
    3. the final batch's ``numRowsTotal`` is STRICTLY below the
       number of distinct windows in the kept data — state held a
       watermark-bounded suffix, never the whole history.

    Why this exists: the value oracle cannot see state size. A
    watermark that silently stops evicting (a misconfigured delay, a
    column swap, an upstream clock regression) produces IDENTICAL
    results at fixture scale while state grows without bound — the
    failure that OOMs a 1000-executor streaming job weeks into its
    run. This makes state growth a per-run invariant read from the
    engine's own accounting, exactly as j8 reads partition counts
    from the executed scan. The emitted windows ride t17's oracle
    verbatim — the metrics must hold AND the answer must stay
    exact."""
    out, progresses, n_strag, n_strag_windows, n_windows = _late_drop_stream(
        spark, sf_dir
    )
    if n_strag_windows < 1:
        raise RuntimeError(
            "no stragglers staged — the drop accounting is unprovable"
        )
    ops = [op for p in progresses for op in p.get("stateOperators", [])]
    if not ops:
        raise RuntimeError(
            "no state-operator progress reported — the metrics "
            f"invariant is unprovable ({len(progresses)} progresses)"
        )
    dropped = sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
    removed = sum(op.get("numRowsRemoved", 0) for op in ops)
    final_state = next(
        (
            p["stateOperators"][0]["numRowsTotal"]
            for p in reversed(progresses)
            if p.get("stateOperators")
        ),
        None,
    )
    if (
        not n_strag_windows <= dropped <= n_strag
        or removed < 1
        or not final_state < n_windows
    ):
        raise RuntimeError(
            "streaming state metrics regressed: "
            f"droppedByWatermark={dropped} (expected within "
            f"[{n_strag_windows} straggler windows, {n_strag} "
            f"straggler rows]), numRowsRemoved={removed} (need >= 1), "
            f"final numRowsTotal={final_state} (need < {n_windows} "
            "kept windows). State is leaking or the watermark is "
            "not evicting."
        )
    return out


def _t17_oracle() -> str:
    b = _floor_div("epoch_us(ts)", 300_000_000)
    return f"""
        WITH bounds AS (
            SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS cut
            FROM events
        ),
        kept AS (
            SELECT ts, value FROM events, bounds
            WHERE NOT (epoch_us(ts) < cut - 1200000000 AND user_id % 7 = 0)
        )
        SELECT {b} * 300000000 AS window_start_us,
               count(*) AS n,
               round(sum(value), 6) AS sum_value
        FROM kept
        GROUP BY 1
    """


def _t19_score(test: DataFrame, params: DataFrame) -> DataFrame:
    """t19's batch-side scoring half: the 1-row (a, b) model frame is
    BROADCAST onto the held-out bars — row-local prediction, no
    shuffle of the big side (plan-asserted in tests/test_scale.py).
    Split out of the streaming harness so the plan shape is testable
    without running the stream."""
    pred = F.col("a") + F.col("b") * F.col("close")
    return test.crossJoin(F.broadcast(params)).select(
        "bucket_start",
        "close",
        "next_close",
        F.round(pred, 6).alias("pred"),
        F.round(F.col("next_close") - pred, 6).alias("resid"),
        F.round("b", 6).alias("slope"),
        F.round("a", 6).alias("intercept"),
    )


def _t19_stream_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19 — ml8's closed-form OLS trained INCREMENTALLY by a real
    stream: the five training moments (n, Σx, Σy, Σxy, Σx²) are a
    commutative monoid, so a complete-mode global aggregation holds
    the entire "model state" as one row and merges each micro-batch's
    partials — training-as-aggregation (x62/ml8/ml9/ml10), STREAMED.
    The holdout filter is applied row-locally before the aggregation
    (train rows only enter the state), and the final read derives
    slope/intercept from the streamed moments and scores the held-out
    bars batch-side. Oracle: ml8's batch SQL VERBATIM — the hash match
    adjudicates that incremental moment-merging fits exactly the model
    one-shot training fits. Completes the streamed pair for every
    sketch AND model this engine trains: what t12/t16/t18 are to
    x50/a12/x51, t19 is to ml8.

    Scale shape: per-batch work is a row-local projection plus a
    5-scalar partial aggregate; state is ONE row. The candle
    computation itself runs per-batch on arrival slices (stateless
    projections) — bars are complete because the batch split is on
    bucket boundaries (parity of the 5-min bucket index), so no bar
    straddles the cut.

    Accepted adjudication risk (r8 ADVICE, documented): the engine
    derives slope/intercept from RAW streamed moments (Σxy − ΣxΣy/n
    algebra) while the oracle (ml8's SQL verbatim) uses DuckDB's
    covar_pop/var_pop — a numerically different (more stable)
    summation. Both sides round to 6 before publishing, which has
    absorbed the ulp-level divergence on every fixture scale tested;
    a value landing exactly on a rounding boundary could in principle
    split the hash, in which case the fix is the t20 pattern (round
    before compare is already the published form here — there is no
    threshold filter on this query, only the rounded floats)."""
    c = _candles(spark, sf_dir)
    lab = c.select(
        "bucket_start",
        "close",
        F.lead("close").over(SW.orderBy("bucket_start")).alias("next_close"),
    ).filter(F.col("next_close").isNotNull())
    is_test = (F.col("bucket_start") / F.lit(300)).cast("long") % ML8_TEST_MOD == 0
    train = lab.filter(~is_test)
    with streaming_run(spark) as sr:
        # split the TRAIN rows on bucket-index parity: labeled rows are
        # precomputed (the LEAD needs its successor bar, which a file
        # split would sever), so the stream carries (x, y) examples —
        # the shape a feature-store feed actually delivers
        par = (F.col("bucket_start") / F.lit(300)).cast("long") % 2
        stream = sr.stream(train, (par == 0, par == 1))
        moments = stream.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("close").alias("sx"),
            F.sum("next_close").alias("sy"),
            F.sum(F.col("close") * F.col("next_close")).alias("sxy"),
            F.sum(F.col("close") * F.col("close")).alias("sx2"),
        )
        m = sr.memory(moments, output_mode="complete")
        b = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
            F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n")
        )
        params = m.select(
            b.alias("b"),
            (F.col("sy") / F.col("n") - b * (F.col("sx") / F.col("n"))).alias("a"),
        )
        test = lab.filter(is_test)
        return _t19_score(test, params).localCheckpoint(eager=True)


def _t20_score(ev: DataFrame, params: DataFrame) -> DataFrame:
    """t20's serving-side gate: the K-row moment table is BROADCAST
    onto the event scan — row-local scoring, no shuffle of the big
    side (plan-asserted in tests/test_scale.py). Gates on the ROUNDED
    z (r8 ADVICE): streamed vs batch moment summation order can differ
    in the last float ulps, so a raw |z| >= 3.0 comparison could flip
    the row set on an exact-boundary value; both engine and oracle
    filter on round(z, 6). Split out of the streaming harness so the
    plan shape is testable without running the stream."""
    z = F.round(F.try_divide(F.col("value") - F.col("mu"), F.col("sig")), 6)
    return (
        ev.join(F.broadcast(params), "event_type")
        .filter(F.abs(z) >= 3.0)
        .select("event_id", "event_type", "value", z.alias("zscore"))
    )


def _t20_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T20 — streaming ANOMALY DETECTION state: per-(event_type)
    running moments (n, Σv, Σv²) held as complete-mode state — the
    commutative monoid behind a production monitoring gate — and the
    final read flags every event whose |z-score| ≥ 3 against the
    STREAMED moments (population σ, the reference's STD() convention).
    The oracle computes the same flags from one-shot batch moments, so
    the hash match adjudicates that incremental moment-merging yields
    exactly the batch detector — the t19 thesis applied to the
    serving-side gate instead of the model. Publishing the flagged
    rows (not the moments) makes the adjudication end-to-end: a drift
    in either the state merge OR the scoring math changes the output.

    Scale shape: state is 3 scalars per key; scoring is one broadcast
    join of the K-row moment table onto the event scan — row-local,
    no shuffle of the big side. At 100 TB the same topology scores
    each micro-batch inside foreachBatch against the running state."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    cut = ev.agg(F.percentile_approx("event_id", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        stream = sr.stream(
            ev, (F.col("event_id") <= cut, F.col("event_id") > cut)
        )
        moments = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("value").alias("s1"),
            F.sum(F.col("value") * F.col("value")).alias("s2"),
        )
        m = sr.memory(moments, output_mode="complete")
        mu = F.col("s1") / F.col("n")
        sig = F.sqrt(F.col("s2") / F.col("n") - mu * mu)
        params = m.select("event_type", mu.alias("mu"), sig.alias("sig"))
        return _t20_score(ev, params).localCheckpoint(eager=True)


def _t20_oracle() -> str:
    return """
        WITH m AS (
            SELECT event_type,
                   CAST(count(*) AS DOUBLE) AS n,
                   sum(value) AS s1,
                   sum(value * value) AS s2
            FROM events GROUP BY event_type
        ),
        p AS (
            SELECT event_type, s1 / n AS mu,
                   sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sig
            FROM m
        )
        SELECT e.event_id, e.event_type, e.value,
               round((e.value - p.mu) / NULLIF(p.sig, 0), 6) AS zscore
        FROM events e JOIN p USING (event_type)
        WHERE abs(round((e.value - p.mu) / NULLIF(p.sig, 0), 6)) >= 3.0
    """


def _t16_stream_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T16 — a12's histogram-quantile sketch built INCREMENTALLY by
    Structured Streaming: per-(event_type, bucket) counts are an
    additive monoid, so a complete-mode groupBy holds the whole sketch
    as ≤ groups×bins running cells and merges each micro-batch's
    partials by cell-wise sum — the quantile estimate is then
    interpolated from the STREAMED cells by the exact same tail the
    batch operator uses (``histogram_quantiles_from_hist``). Bucket
    bounds are the STATIC side of a stream-static broadcast join,
    computed once up front (production histograms run with
    precomputed/fixed bounds — per-batch bounds would make buckets
    non-mergeable; over the finite adjudication feed the static bounds
    equal the batch operator's pass-1, which is what lets the oracle
    be a12's estimate SQL verbatim). Completes the streamed-sketch
    pair: counts (t12 count-min), quantiles (t16 histogram).

    Scale shape: state is KB-sized (groups × 32 bins), arrival work is
    one broadcast join + one partial-aggregated count per batch; the
    interpolation runs over the sketch, never the feed."""
    import financial_market_data_analysis_spark.operators.sketches as SK

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    bounds = SK.histogram_bounds(ev, "value", ["event_type"])
    cut = ev.agg(F.percentile_approx("event_id", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        stream = sr.stream(
            ev, (F.col("event_id") <= cut, F.col("event_id") > cut)
        )
        cells = (
            stream.join(F.broadcast(bounds), "event_type")
            .select(
                "event_type", "__mn", "__mx", "__n",
                SK.histogram_bucket_idx("value").alias("__b"),
            )
            .groupBy("event_type", "__mn", "__mx", "__n", "__b")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        sketch = sr.memory(cells, output_mode="complete")
    return SK.histogram_quantiles_from_hist(sketch, ["event_type"])


def _t16_oracle() -> str:
    import financial_market_data_analysis_spark.operators.sketches as SK

    return SK.histogram_quantiles_sql(
        "ev",
        "value",
        ["event_type"],
        extra_ctes="ev AS (SELECT event_type, value FROM events),",
    )


def _t18_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18 — x51's KMV (bottom-k) distinct sketch maintained
    INCREMENTALLY through the APPEND-ONLY epoch-idempotent store t27
    proved for HLL (r13 verdict #5): bottom-k union is the same
    commutative idempotent monoid as register-max — bottomk(A ∪ B) ==
    bottomk(bottomk(A) ∪ bottomk(B)) and a replayed shard cannot
    change the state — so each micro-batch just APPENDS its own
    per-source bottom-k (≤ k·groups rows, dynamic-overwritten into
    epoch_id={batch_id}) and the read collapses all epochs with one
    global per-source bottom-k. No read-modify-write per batch, no
    snapshot-chain resolution: the copy-on-write v{N} chain this query
    used through round 13 (resolve_prev_snapshot) is retired HERE and
    kept only where the merge is genuinely non-idempotent — the CDC
    MERGE sinks (t15b/d5), whose last-writer-wins upsert depends on
    the previous state. The estimate is read off the collapsed state
    ((k−1)/u_k, exact-fallback below k) and published next to the
    batch-computed exact distinct, exactly like x51 — whose SQL is the
    oracle verbatim: the hash match adjudicates the sketch-merge
    property (union of per-epoch bottom-k sets == one-shot bottom-k of
    the whole feed) under a real incremental run. Completes the
    streamed-sketch trio: counts (t12 count-min), quantiles (t16
    histogram), distincts (t18 KMV).

    Scale shape: per-batch cost is one arrival-sized distinct + a
    window over the batch's own distinct hashes only (the stored state
    is never re-read inside the loop); state on disk is ≤ k·groups
    rows per epoch, and the final collapse shuffles only sketch rows.
    The exact column exists only to adjudicate the estimator — at
    100 TB it is dropped and the sketch IS the answer."""
    import os

    import financial_market_data_analysis_spark.operators.sketches as SK
    from financial_market_data_analysis_spark.streaming import pipeline as SP

    k = SK.KMV_K
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    cut = docs.agg(F.percentile_approx("doc_id", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        snap = sr.path("state")
        stream = sr.stream(
            docs, (F.col("doc_id") <= cut, F.col("doc_id") > cut)
        )

        # Columns prebuilt ONCE — the per-batch rebuild of the token/
        # gram/hash tree was pure py4j chatter in the micro-batch gap
        # (r16, guide §4 at plan-build time)
        toks_col = T.tokens("text").alias("__toks")
        gram_col = F.explode(T.all_grams(F.col("__toks"), 2)).alias("gram")
        u_col = (
            SK.md5_long(SK._salted("kmv", [F.col("gram")]), SK.KMV_HEX)
            / SK.KMV_SCALE
        ).alias("u")
        rn_col = F.row_number().over(
            SW.partitionBy("source").orderBy("u")
        )
        rn_flt = F.col("__rn") <= k

        def batch_u(df: DataFrame) -> DataFrame:
            toks = df.select("source", toks_col)
            grams = toks.select("source", gram_col)
            return grams.select("source", u_col).distinct()

        write = SP.epoch_idempotent_writer(snap)

        def merge(batch_df: DataFrame, batch_id: int) -> None:
            arr = batch_u(batch_df)
            bottom = (
                arr.withColumn("__rn", rn_col)
                .filter(rn_flt)
                .select("source", "u")
            )
            write(bottom, batch_id)

        sr.run(
            stream.writeStream.foreachBatch(merge).option(
                "checkpointLocation", sr.path("ckpt")
            )
        )
        epochs = len(
            [d for d in os.listdir(snap) if d.startswith("epoch_id=")]
        )
        if epochs < 2:  # both staged halves must have run as epochs
            raise RuntimeError(f"expected ≥2 epoch dirs, saw {epochs}")
        # collapse = distinct-union of all appended sketches, then one
        # global per-source bottom-k (the same hash can appear in
        # several epochs' sketches; bottom-k is over the SET)
        w_all = SW.partitionBy("source").orderBy("u")
        state = (
            spark.read.parquet(snap)
            .select("source", "u")
            .distinct()
            .withColumn("__rn", F.row_number().over(w_all))
            .filter(F.col("__rn") <= k)
        )
        est = state.groupBy("source").agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.max("u").alias("__uk"),
        )
        toks = D.ensure_parallelism(docs).select(
            "source", T.tokens("text").alias("__toks")
        )
        exact = (
            toks.select(
                "source",
                F.explode(T.all_grams(F.col("__toks"), 2)).alias("gram"),
            )
            .groupBy("source")
            .agg(F.countDistinct("gram").alias("n_distinct"))
        )
        e = F.when(
            F.col("__cnt") < k, F.col("__cnt").cast("double")
        ).otherwise(F.lit(float(k - 1)) / F.col("__uk"))
        return (
            exact.join(est, "source")
            .select(
                "source",
                F.col("n_distinct").cast("long").alias("n_distinct"),
                F.round(e, 4).alias("est_distinct"),
                F.round(
                    F.abs(e - F.col("n_distinct")) / F.col("n_distinct"), 4
                ).alias("rel_err"),
            )
            .localCheckpoint(eager=True)
        )


def _t15_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15 — d5's CDC changelog compaction run as a LIVE two-micro-batch
    availableNow stream: the upsert/delete feed flows into a
    complete-mode groupBy that keeps ONE struct per key — the running
    ``max`` over (ts_us, event_id, op, value), i.e. the latest-wins
    winner with its op and value carried — plus the fold depth. The
    delete filter applies AFTER the state (a deleted key must remember
    it was deleted, or a late upsert from an earlier micro-batch could
    resurrect it). The oracle is d5's batch SQL verbatim: the hash
    match adjudicates that incremental materialized-view maintenance
    decides exactly what batch compaction of the same changelog
    decides.

    Scale shape: per-key state is ONE struct (not the row history —
    max/count are commutative monoids, so micro-batch partials merge
    map-side); the memory sink holds |keys| rows — an adjudication
    HARNESS, not the production shape. The production sink is t15b
    (``_t15b_stream_cdc_sink``): the same state flowed through
    foreachBatch into an epoch-idempotent on-disk parquet MERGE. This
    pair is the streaming-native MERGE the reference's per-row JDBC
    upserts (spark_consumer.py:68-84) approximate with none of the
    replay safety."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "ts_us", "value", "event_type"
    )
    cut = ev.agg(F.percentile_approx("event_id", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        stream = sr.stream(
            ev, (F.col("event_id") <= cut, F.col("event_id") > cut)
        )
        rec = F.struct(
            F.col("ts_us"),
            F.col("event_id"),
            F.when(F.col("event_type") == "purchase", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
            F.col("value"),
        )
        state = (
            stream.select("user_id", rec.alias("rec"))
            .groupBy("user_id")
            .agg(
                F.max("rec").alias("last"),
                F.count(F.lit(1)).alias("n_ops"),
            )
        )
        rows = sr.memory(state, output_mode="complete")
    return (
        rows.filter(F.col("last.op") != "delete")
        .select(
            "user_id",
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.ts_us").alias("last_ts_us"),
            F.col("last.value").alias("current_value"),
            F.col("n_ops").cast("long").alias("n_ops"),
        )
    )


def _t15b_stream_cdc_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15b — t15's CDC materialized view with the PRODUCTION sink
    (r7 verdict #4): instead of a complete-mode memory sink holding
    |keys| rows on the driver, the update-mode per-key struct state
    flows through ``foreachBatch`` into an on-disk parquet snapshot,
    MERGE-style. Each micro-batch N reads snapshot ``v{N-1}``,
    anti-joins the keys this batch touched (the update-mode rows carry
    the full merged state per touched key — streaming-agg state is
    cumulative), unions the fresh rows, and OVERWRITES ``v{N}``.
    Replay safety is structural: a retried batch N re-reads the
    untouched ``v{N-1}`` and deterministically rewrites its own
    ``v{N}`` — the copy-on-write epoch pattern a lakehouse MERGE
    (Delta/Iceberg) implements at file granularity; with raw parquet
    the whole-snapshot COW is the honest equivalent. The delete filter
    applies on the FINAL read, never inside the state (a deleted key
    must keep remembering it was deleted). Oracle: d5's batch SQL
    verbatim — the hash match adjudicates that the disk-materialized
    incremental view equals batch compaction of the same changelog.
    This closes the reference's at-least-once per-row JDBC upsert gap
    (spark_consumer.py:68-84) with an idempotent, restart-safe shape.

    Scale shape: per-key state is one commutative-monoid struct
    (map-side partial merge applies); per-batch sink work is one
    broadcast-able anti-join on the touched-key set plus a snapshot
    rewrite — at 100 TB the rewrite narrows to the affected partitions
    via dynamic partition overwrite on a key-bucket column (the K1
    sink's layout), or a real MERGE on a table format."""
    import os

    from financial_market_data_analysis_spark.streaming.pipeline import (
        snapshot_merge_sink,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "ts_us", "value", "event_type"
    )
    cut = ev.agg(F.percentile_approx("event_id", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        snap = sr.path("snap")
        stream = sr.stream(
            ev, (F.col("event_id") <= cut, F.col("event_id") > cut)
        )
        rec = F.struct(
            F.col("ts_us"),
            F.col("event_id"),
            F.when(F.col("event_type") == "purchase", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
            F.col("value"),
        )
        state = (
            stream.select("user_id", rec.alias("rec"))
            .groupBy("user_id")
            .agg(
                F.max("rec").alias("last"),
                F.count(F.lit(1)).alias("n_ops"),
            )
        )
        sr.run(
            state.writeStream.foreachBatch(snapshot_merge_sink(spark, snap))
            .outputMode("update")
            .option("checkpointLocation", sr.path("ckpt"))
        )
        last = max(int(d[1:]) for d in os.listdir(snap))
        return (
            spark.read.parquet(f"{snap}/v{last}")
            .filter(F.col("last.op") != "delete")
            .select(
                "user_id",
                F.col("last.event_id").alias("last_event_id"),
                F.col("last.ts_us").alias("last_ts_us"),
                F.col("last.value").alias("current_value"),
                F.col("n_ops").cast("long").alias("n_ops"),
            )
            .localCheckpoint(eager=True)
        )


def _t13_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13 — the streaming INGEST DEDUP GATE: the admit/reject decision
    a production crawl pipeline makes for every arriving document
    against the existing corpus, run as a real two-micro-batch
    availableNow stream. The corpus is banded ONCE into a static LSH
    index (band, band_hash, corp_id, corp_sh) and materialized; each
    incoming micro-batch computes its shingle array and band hashes
    ROW-LOCALLY (stateless projections — no per-batch corpus work),
    probes the index with a stream-static LEFT equi-join on
    (band, band_hash), Jaccard-verifies each candidate row-locally via
    ``array_intersect`` on the carried shingle arrays (no explode, no
    second join — the streaming side cannot re-join its own shingle
    table), and a complete-mode groupBy keeps the best match per doc
    as a running max over (jaccard, -corp_id) structs. The oracle is
    the batch twin over the identical feed: the hash match adjudicates
    that the incremental gate decides exactly what a batch dedup of
    the same arrivals would decide.

    Scale shape: index build is the x6 banding (row-local folds, one
    shuffle); the per-batch cost is one hash join against the index
    partitioned on (band, band_hash) plus KB-scale running state per
    incoming doc — arrival-rate-bound, never corpus-rebuild-bound.
    Carrying ``corp_sh`` in the index trades index size (~bands ×
    shingle storage) for a single-join verify with zero extra shuffle
    per micro-batch — the latency-optimal shape for an ingest gate;
    the two-join variant that re-reads a corpus shingle table is the
    storage-optimal fallback when index size dominates."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    corp_sh = D.shingle_arrays(D.ensure_parallelism(docs))
    index = (
        D.lsh_bands(corp_sh, carry_cols=("sh_arr",))
        .select(
            "band",
            "band_hash",
            F.col("doc_id").alias("corp_id"),
            F.col("sh_arr").alias("corp_sh"),
        )
        .localCheckpoint(eager=True)
    )
    incoming = X.ingest_incoming(spark, sf_dir)
    # The complete-mode aggregation has NO watermark: the trailing
    # no-data micro-batch recomputes and rewrites the IDENTICAL complete
    # table (r16 measured ~1.5 s/run; rows verified identical with the
    # batch skipped) — emission is data-driven, so skip it.
    with streaming_run(spark, no_data_batches=False) as sr:
        stream = sr.stream(
            incoming, (F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1)
        )
        s_bands = D.lsh_bands(D.shingle_arrays(stream), carry_cols=("sh_arr",))
        probe = s_bands.join(index, ["band", "band_hash"], "left")
        jacc = D.array_jaccard("sh_arr", "corp_sh")["jaccard"]
        gate = (
            probe.select(
                "doc_id",
                F.size("sh_arr").cast("bigint").alias("n_sh"),
                F.col("corp_id"),
                jacc.alias("jacc"),
            )
            .groupBy("doc_id")
            .agg(
                F.max("n_sh").alias("n_sh"),
                F.max(
                    F.struct(
                        F.col("jacc").alias("j"),
                        (-F.col("corp_id")).alias("neg_id"),
                    )
                ).alias("best"),
            )
        )
        rows = sr.memory(gate, output_mode="complete")
    return rows.select(
        "doc_id",
        "n_sh",
        (-F.col("best.neg_id")).alias("best_match"),
        F.round("best.j", 6).alias("best_jaccard"),
        F.coalesce(
            F.col("best.j") >= X.T13_THRESHOLD, F.lit(False)
        ).alias("is_dup"),
    )


def _t14_stream_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14 — the SELF-MAINTAINING streaming dedup index: t13's ingest
    gate plus the state update t13 deliberately lacks. Each micro-batch
    is deduped against corpus ∪ previously-ADMITTED arrivals (the index
    parquet, re-read per batch so earlier appends are visible) AND
    against smaller-id docs of its own batch; admitted docs' band rows
    (with carried shingle arrays) are appended to the index inside the
    same ``foreachBatch``, so a novel doc arriving in batch 1 rejects
    its own near-dup arriving in batch 2 — cross-batch memory the
    oracle adjudicates via the feed's paired-novel slice (see
    ``t14_arrivals``). This is the T9-style foreachBatch incremental
    materialization applied to index maintenance: batch-scoped joins,
    an append-only state table partitioned by the probe key, no
    unbounded executor state.

    Decision rule (chain-independent, order-free within a batch): a doc
    is a duplicate iff it has a verified-Jaccard match ≥ threshold in
    the index or among smaller-id same-batch docs; ``matched_id`` is
    the smallest such match. Rejected docs do NOT enter the index (a
    dup's content is already represented by its match), which is what
    makes the sequential semantics non-trivial and worth adjudicating.

    Scale shape: per batch, one hash join against the index on
    (band, band_hash) plus one batch-local self-join — both
    arrival-rate-sized on the probe side; the index grows only by
    admitted-doc bands (append-only parquet, compactable offline).

    Replay safety (r7 advice): both sinks write a per-``batch_id``
    subdirectory in OVERWRITE mode rather than blind-appending to the
    parent, so a micro-batch retry after a partial failure replaces
    its own output instead of duplicating decision rows and index
    bands — the same epoch-idempotence contract as the K1 sink
    (streaming/pipeline.py). Readers list the tree with
    ``recursiveFileLookup``, which keeps the subdirectory layout out
    of the schema (no partition-column injection)."""
    thr = float(X.T14_THRESHOLD)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    corp_sh = D.shingle_arrays(D.ensure_parallelism(docs))

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        bands = D.lsh_bands(
            D.shingle_arrays(batch_df), carry_cols=("sh_arr",)
        ).localCheckpoint(eager=True)  # banded once: probed, self-joined, filtered
        idx = spark.read.option("recursiveFileLookup", "true").parquet(index_dir)
        hits_idx = (
            bands.join(idx, ["band", "band_hash"])
            .filter(D.array_jaccard("sh_arr", "m_sh")["jaccard"] >= thr)
            .select("doc_id", "m_id")
        )
        right = bands.select(
            F.col("doc_id").alias("m_id"),
            F.col("sh_arr").alias("m_sh"),
            "band",
            "band_hash",
        )
        hits_batch = (
            bands.join(right, ["band", "band_hash"])
            .filter(F.col("m_id") < F.col("doc_id"))
            .filter(D.array_jaccard("sh_arr", "m_sh")["jaccard"] >= thr)
            .select("doc_id", "m_id")
        )
        matched = (
            hits_idx.unionByName(hits_batch)
            .groupBy("doc_id")
            .agg(F.min("m_id").alias("matched_id"))
        )
        decisions = (
            bands.select("doc_id")
            .distinct()
            .join(matched, "doc_id", "left")
            .select(
                "doc_id",
                F.col("matched_id").isNotNull().alias("is_dup"),
                "matched_id",
            )
            .localCheckpoint(eager=True)  # settle BEFORE the index append below
        )
        # per-batch_id overwrite => a retried micro-batch replaces its
        # own partial output (idempotent replay; see docstring)
        decisions.write.mode("overwrite").parquet(f"{dec_dir}/b{batch_id}")
        admitted = decisions.filter(~F.col("is_dup")).select("doc_id")
        bands.join(admitted, "doc_id").select(
            "band",
            "band_hash",
            F.col("doc_id").alias("m_id"),
            F.col("sh_arr").alias("m_sh"),
        ).write.mode("overwrite").parquet(f"{index_dir}/b{batch_id}")

    arrivals = X.t14_arrivals(spark, sf_dir)
    with streaming_run(spark) as sr:
        index_dir = sr.path("index")
        dec_dir = sr.path("decisions")
        D.lsh_bands(corp_sh, carry_cols=("sh_arr",)).select(
            "band",
            "band_hash",
            F.col("doc_id").alias("m_id"),
            F.col("sh_arr").alias("m_sh"),
        ).write.parquet(f"{index_dir}/base")
        stream = sr.stream(
            arrivals, (F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1)
        )
        sr.run(
            stream.writeStream.foreachBatch(handle).option(
                "checkpointLocation", sr.path("ckpt")
            )
        )
        return (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(dec_dir)
            .localCheckpoint(eager=True)
        )


def _w19_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W19 — Keltner channel: truncated EWMA-20 midline (W14's
    operator) banded at ±2× the 15-row average true range (W7's
    operator) — the volatility channel composed entirely from
    already-adjudicated kernels, closing the classic channel trio next
    to W4 (deviation) and W18 (range extrema). Rounded to 6 like every
    EWMA-family output; rows before the EWMA frame fills are trimmed
    on both sides (the ATR frame, 15 rows, is already full there)."""
    c = _candles(spark, sf_dir)
    c = W.rolling_ewma(c, "close", _ORDER, period=20, out_col="kmid")
    c = with_sql(c, {"katr": W.average_true_range_sql("high", "low", _ORDER)})
    return c.filter(F.col("kmid").isNotNull()).select(
        "bucket_start",
        "close",
        F.round("kmid", 6).alias("kelt_mid"),
        F.round(F.col("kmid") + 2 * F.col("katr"), 6).alias("kelt_up"),
        F.round(F.col("kmid") - 2 * F.col("katr"), 6).alias("kelt_dn"),
    )


def _w19_oracle(period: int = 20) -> str:
    return f"""
        {_CANDLES_CTE},
        m AS (
            SELECT bucket_start, close, high, low,
                   row_number() OVER (ORDER BY bucket_start) AS rn,
                   avg(high - low) OVER (ORDER BY bucket_start
                       ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS katr
            FROM candles
        ),
        ew AS ({_ewma_rank_sql("m", "close", period, "kmid")})
        SELECT m.bucket_start, m.close,
               round(ew.kmid, 6) AS kelt_mid,
               round(ew.kmid + 2 * m.katr, 6) AS kelt_up,
               round(ew.kmid - 2 * m.katr, 6) AS kelt_dn
        FROM m JOIN ew ON m.rn = ew.rn
    """


def _w20_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W20 — Ichimoku overlay (operators/windows.py ``ichimoku``):
    tenkan/kijun midlines over 9/26-bar frames and the two cloud
    spans as visible at each bar (the chart's 26-bar forward
    displacement expressed causally as a LAG — no future-looking
    column). Midlines are frame extrema averaged — deterministic to
    the bit, rounded to 6 for the published columns; rows where any
    frame or displaced span is incomplete are trimmed on both
    sides."""
    out = W.ichimoku(_candles(spark, sf_dir), "high", "low", _ORDER)
    return out.filter(F.col("senkou_b").isNotNull()).select(
        "bucket_start",
        "close",
        F.round("tenkan_sen", 6).alias("tenkan_sen"),
        F.round("kijun_sen", 6).alias("kijun_sen"),
        F.round("senkou_a", 6).alias("senkou_a"),
        F.round("senkou_b", 6).alias("senkou_b"),
    )


def _w20_oracle(tenkan: int = 9, kijun: int = 26, senkou: int = 52) -> str:
    def mid(p: int) -> str:
        return (
            f"CASE WHEN rn >= {p} THEN "
            f"(max(high) OVER (ORDER BY bucket_start ROWS BETWEEN "
            f"{p - 1} PRECEDING AND CURRENT ROW) + "
            f"min(low) OVER (ORDER BY bucket_start ROWS BETWEEN "
            f"{p - 1} PRECEDING AND CURRENT ROW)) / 2.0 END"
        )

    return f"""
        {_CANDLES_CTE},
        m AS (
            SELECT bucket_start, close,
                   {mid(tenkan)} AS tenkan_sen,
                   {mid(kijun)} AS kijun_sen,
                   {mid(senkou)} AS sb_now
            FROM (SELECT bucket_start, close, high, low,
                         row_number() OVER (ORDER BY bucket_start) AS rn
                  FROM candles)
        ),
        d AS (
            SELECT bucket_start, close, tenkan_sen, kijun_sen,
                   lag((tenkan_sen + kijun_sen) / 2.0, {kijun})
                       OVER (ORDER BY bucket_start) AS senkou_a,
                   lag(sb_now, {kijun})
                       OVER (ORDER BY bucket_start) AS senkou_b
            FROM m
        )
        SELECT bucket_start, close,
               round(tenkan_sen, 6) AS tenkan_sen,
               round(kijun_sen, 6) AS kijun_sen,
               round(senkou_a, 6) AS senkou_a,
               round(senkou_b, 6) AS senkou_b
        FROM d WHERE senkou_b IS NOT NULL
    """


def _w21_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W21 — Average Directional Index (operators/windows.py ``adx``):
    trend STRENGTH alongside the w15/w17 momentum oscillators —
    ``±DI`` from frame-averaged directional movement over ATR, ``DX``
    their normalized spread, ``ADX`` its frame average. Cutler-style
    simple averages keep every stage frame-bounded (the same
    recursion-vs-frame trade documented on ``rsi``); warm-up rows
    (fewer than 2·period real deltas) are trimmed; all published
    columns rounded to 6."""
    out = W.adx(_candles(spark, sf_dir), "high", "low", "close", _ORDER)
    return out.filter(F.col("adx").isNotNull()).select(
        "bucket_start",
        F.round("plus_di", 6).alias("plus_di"),
        F.round("minus_di", 6).alias("minus_di"),
        F.round("dx", 6).alias("dx"),
        F.round("adx", 6).alias("adx"),
    )


def _w21_oracle() -> str:
    period = W.OSCILLATOR_PERIOD
    frame = (
        f"OVER (ORDER BY bucket_start "
        f"ROWS BETWEEN {period - 1} PRECEDING AND CURRENT ROW)"
    )
    return f"""
        {_CANDLES_CTE},
        d AS (
            SELECT bucket_start, high, low, close,
                   lag(close) OVER w0 AS prev_close,
                   high - lag(high) OVER w0 AS up,
                   lag(low) OVER w0 - low AS dn,
                   row_number() OVER w0 AS rn
            FROM candles WINDOW w0 AS (ORDER BY bucket_start)
        ),
        m AS (
            SELECT bucket_start, rn,
                   CASE WHEN up > dn AND up > 0 THEN up ELSE 0.0 END AS pdm,
                   CASE WHEN dn > up AND dn > 0 THEN dn ELSE 0.0 END AS mdm,
                   greatest(high - low, abs(high - prev_close),
                            abs(low - prev_close)) AS tr
            FROM d WHERE prev_close IS NOT NULL
        ),
        di AS (
            SELECT bucket_start, rn,
                   avg(pdm) {frame} AS apdm,
                   avg(mdm) {frame} AS amdm,
                   avg(tr) {frame} AS atr
            FROM m
        ),
        dx AS (
            SELECT bucket_start,
                   CASE WHEN atr = 0 THEN 0.0
                        ELSE 100.0 * apdm / atr END AS plus_di,
                   CASE WHEN atr = 0 THEN 0.0
                        ELSE 100.0 * amdm / atr END AS minus_di
            FROM di WHERE rn >= {period + 1}
        ),
        dx2 AS (
            SELECT bucket_start, plus_di, minus_di,
                   CASE WHEN plus_di + minus_di = 0 THEN 0.0
                        ELSE 100.0 * abs(plus_di - minus_di)
                             / (plus_di + minus_di) END AS dx
            FROM dx
        ),
        a AS (
            SELECT bucket_start, plus_di, minus_di, dx,
                   avg(dx) {frame} AS adx,
                   row_number() OVER (ORDER BY bucket_start) AS rn2
            FROM dx2
        )
        SELECT bucket_start,
               round(plus_di, 6) AS plus_di,
               round(minus_di, 6) AS minus_di,
               round(dx, 6) AS dx,
               round(adx, 6) AS adx
        FROM a WHERE rn2 >= {period}
    """


ML6_BINS = 10


def _ml6_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML6 — calibration (reliability) curve of the ml3 serving scorer:
    predicted probabilities bucketed into deciles, each decile's mean
    predicted probability published against the REALIZED next-bar up
    rate — the eval artifact that tells you whether 0.7 means 70%
    (predict.py stops at argmax; this is the score-quality view a
    production scorer ships with). One distributed aggregation; bins
    come from the ROUNDED probability (the ml3-adjudicated value), so
    bin edges are decided on identical doubles in both engines.
    Scorer = the shared ``_ml3_scored`` pipeline."""
    m = _ml3_scored(spark, sf_dir, with_label=True)
    prob = F.round("prob", 6)
    binned = m.select(
        F.least(
            F.floor(prob * ML6_BINS).cast("int"), F.lit(ML6_BINS - 1)
        ).alias("bin"),
        prob.alias("p"),
        (F.col("next_close") > F.col("close")).cast("int").alias("up"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p"), 6).alias("mean_pred"),
        F.round(F.avg("up"), 6).alias("realized_rate"),
    )


def _ml6_oracle() -> str:
    cte, p_raw = _ml3_sql_parts(with_label=True)
    prob = f"round({p_raw}, 6)"
    return f"""
        WITH {cte},
        binned AS (
            SELECT CAST(least(floor({prob} * {ML6_BINS}),
                              {ML6_BINS - 1}) AS INT) AS bin,
                   {prob} AS p,
                   CAST(next_close > close AS INT) AS up
            FROM m
            WHERE next_close IS NOT NULL
              AND {_ML3_LAGS_OK}
        )
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               round(avg(p), 6) AS mean_pred,
               round(avg(up), 6) AS realized_rate
        FROM binned GROUP BY bin
    """


def _a12_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — mergeable histogram-quantile estimates NEXT TO a8's exact
    rank-selected values (operators/sketches.py
    ``histogram_quantiles``): the equi-width histogram is an additive
    groupBy — partial-aggregatable, KB-sized per group — so at 100 TB
    it replaces a8's per-group full sort; the estimate interpolates
    inside the bucket where the cumulative count crosses ceil(q·n).
    Publishing ``est_q`` against ``exact_q`` with the absolute error
    makes the accuracy/cost trade a measured number, completing the
    sketch tier: counts (x50), distincts (x51/x55), membership (x53),
    quantiles (a12)."""
    import financial_market_data_analysis_spark.operators.sketches as SK

    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    est = SK.histogram_quantiles(ev, "value", ["event_type"])
    exact = _a8_percentiles(spark, sf_dir)
    return est.join(exact, ["event_type", "q"]).select(
        "event_type",
        "q",
        "est_q",
        F.col("q_value").alias("exact_q"),
        F.round(F.abs(F.col("est_q") - F.col("q_value")), 6).alias("abs_err"),
    )


def _a12_oracle() -> str:
    import financial_market_data_analysis_spark.operators.sketches as SK

    hist = SK.histogram_quantiles_sql(
        "ev",
        "value",
        ["event_type"],
        extra_ctes="ev AS (SELECT event_type, value FROM events),",
    )
    return f"""
        WITH est AS ({hist}),
        exact AS (
            SELECT event_type, q, value AS exact_q
            FROM (
                SELECT event_type, value,
                    row_number() OVER (PARTITION BY event_type ORDER BY value)
                        AS rn,
                    count(*) OVER (PARTITION BY event_type) AS n
                FROM events
            ), (SELECT unnest([0.5, 0.95, 0.99]) AS q)
            WHERE rn = greatest(1, ceil(q * n))
        )
        SELECT e.event_type, e.q, e.est_q, x.exact_q,
               round(abs(e.est_q - x.exact_q), 6) AS abs_err
        FROM est e JOIN exact x ON e.event_type = x.event_type
                                AND e.q = x.q
    """


ML10_FOLDS = 4


def _ml10_cv_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML10 — K-fold CROSS-VALIDATION as aggregation algebra: ml8's
    closed-form OLS fitted K times with each fold held out — from ONE
    pass over the data. The trick is leave-fold-out sums: per-fold
    moments (n, Σx, Σy, Σxy, Σx²) are one groupBy; each fold's
    training moments are the grand totals MINUS its own row, so the K
    models cost K arithmetic expressions over a K-row frame, not K
    scans (the naive CV loop is K full jobs — unrunnable at 100 TB,
    where this shape is one shuffle plus a broadcast join back).
    Each fold's held-out rows are then scored by ITS model (fold-keyed
    broadcast join) and per-fold test RMSE is published — the honest
    out-of-sample error ml8's single split approximates. Params are
    rounded to 6 BEFORE scoring so both engines square identical
    residuals.

    The closed-form thesis one step further: not just training-as-
    aggregation (x62/ml8/ml9) but model-SELECTION-as-aggregation —
    every number on the CV report is hash-adjudicated."""
    c = _candles(spark, sf_dir)
    lab = c.select(
        "bucket_start",
        "close",
        F.lead("close").over(SW.orderBy("bucket_start")).alias("next_close"),
    ).filter(F.col("next_close").isNotNull())
    lab = lab.withColumn(
        "fold",
        ((F.col("bucket_start") / F.lit(300)).cast("long") % ML10_FOLDS).cast("int"),
    ).localCheckpoint(eager=True)  # fold sums AND scoring read it once
    fs = lab.groupBy("fold").agg(
        F.count(F.lit(1)).cast("double").alias("fn"),
        F.sum("close").alias("fx"),
        F.sum("next_close").alias("fy"),
        F.sum(F.col("close") * F.col("next_close")).alias("fxy"),
        F.sum(F.col("close") * F.col("close")).alias("fx2"),
    )
    tot = fs.agg(
        F.sum("fn").alias("tn"),
        F.sum("fx").alias("tx"),
        F.sum("fy").alias("ty"),
        F.sum("fxy").alias("txy"),
        F.sum("fx2").alias("tx2"),
    )
    n = F.col("tn") - F.col("fn")
    sx = F.col("tx") - F.col("fx")
    sy = F.col("ty") - F.col("fy")
    sxy = F.col("txy") - F.col("fxy")
    sx2 = F.col("tx2") - F.col("fx2")
    b = (sxy - sx * sy / n) / (sx2 - sx * sx / n)
    a = sy / n - b * (sx / n)
    params = fs.crossJoin(F.broadcast(tot)).select(
        "fold",
        F.round(b, 6).alias("slope"),
        F.round(a, 6).alias("intercept"),
    )
    pred = F.col("intercept") + F.col("slope") * F.col("close")
    return (
        lab.join(F.broadcast(params), "fold")
        .groupBy("fold", "slope", "intercept")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.round(
                F.sqrt(F.avg(F.pow(F.col("next_close") - pred, F.lit(2)))), 6
            ).alias("rmse"),
        )
        .select("fold", "n_test", "slope", "intercept", "rmse")
    )


def _ml10_oracle(k: int = ML10_FOLDS) -> str:
    return f"""
        {_CANDLES_CTE},
        lab AS (
            SELECT bucket_start, close,
                   lead(close) OVER (ORDER BY bucket_start) AS next_close
            FROM candles
        ),
        lab2 AS (
            SELECT bucket_start, close, next_close,
                   CAST((bucket_start // 300) % {k} AS INT) AS fold
            FROM lab WHERE next_close IS NOT NULL
        ),
        fs AS (
            SELECT fold, CAST(count(*) AS DOUBLE) AS fn,
                   sum(close) AS fx, sum(next_close) AS fy,
                   sum(close * next_close) AS fxy,
                   sum(close * close) AS fx2
            FROM lab2 GROUP BY fold
        ),
        tot AS (
            SELECT sum(fn) AS tn, sum(fx) AS tx, sum(fy) AS ty,
                   sum(fxy) AS txy, sum(fx2) AS tx2
            FROM fs
        ),
        params AS (
            SELECT fold,
                   round(((txy - fxy) - (tx - fx) * (ty - fy) / (tn - fn))
                         / ((tx2 - fx2) - (tx - fx) * (tx - fx) / (tn - fn)),
                         6) AS slope,
                   round((ty - fy) / (tn - fn)
                         - ((txy - fxy) - (tx - fx) * (ty - fy) / (tn - fn))
                           / ((tx2 - fx2) - (tx - fx) * (tx - fx) / (tn - fn))
                           * ((tx - fx) / (tn - fn)), 6) AS intercept
            FROM fs CROSS JOIN tot
        )
        SELECT l.fold, count(*) AS n_test, p.slope, p.intercept,
               round(sqrt(avg(pow(l.next_close
                                  - (p.intercept + p.slope * l.close), 2))), 6)
                   AS rmse
        FROM lab2 l JOIN params p ON p.fold = l.fold
        GROUP BY l.fold, p.slope, p.intercept
    """


def _ml9_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML9 — the MANY-MODELS pattern: one closed-form OLS per group in
    a SINGLE aggregation pass — here a diurnal trend model per
    event_type (value regressed on second-of-day), slope =
    covar_pop/var_pop, intercept from the group means, fit quality =
    corr². ml8 fits ONE global model; this is the shape a 100 TB
    feature store actually needs — a model per symbol/entity/segment —
    and the closed-form thesis (x62/ml8: training that IS aggregation
    stays oracle-checkable) makes every one of the G models
    hash-adjudicated, where a per-group MLlib fit loop would be G
    driver-side jobs and rows-only.

    Scale shape: ONE partial-aggregatable groupBy — each executor
    folds covar/var/mean partials for its slice of every group, one
    shuffle of G×5 scalars, no window, no sort, no per-group
    iteration. G can be millions before the reduce side notices."""
    ev = load_table(spark, "events", sf_dir)
    sod = (F.col("ts_us") % F.lit(86_400_000_000)).cast("double") / F.lit(1e6)
    d = ev.select("event_type", sod.alias("x"), F.col("value").alias("y"))
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("b"),
        F.avg("y").alias("my"),
        F.avg("x").alias("mx"),
        F.corr("x", "y").alias("r"),
    )
    return g.select(
        "event_type",
        "n",
        F.round("b", 6).alias("slope"),
        F.round(F.col("my") - F.col("b") * F.col("mx"), 6).alias("intercept"),
        F.round(F.col("r") * F.col("r"), 6).alias("r2"),
    )


def _ml9_oracle() -> str:
    return """
        WITH d AS (
            SELECT event_type,
                   (epoch_us(ts) % 86400000000) / 1e6 AS x,
                   value AS y
            FROM events
        )
        SELECT event_type,
               count(*) AS n,
               round(covar_pop(x, y) / var_pop(x), 6) AS slope,
               round(avg(y) - covar_pop(x, y) / var_pop(x) * avg(x), 6)
                   AS intercept,
               round(corr(x, y) * corr(x, y), 6) AS r2
        FROM d GROUP BY event_type
    """


def _ml7_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML7 — exact ROC AUC of the ml3 serving scorer via the
    Mann-Whitney rank statistic: midranks over the score order
    (rank + (ties−1)/2 — ties get their average rank, the standard
    convention), AUC = (Σ midrank⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻). One
    global rank window + one aggregation — no per-threshold sweep, no
    driver-side sklearn (the reference computes nothing beyond argmax
    accuracy, train.py). Midranks are integers-or-halves, so their
    sum is EXACT in doubles and order-independent — the AUC is
    deterministic to the bit, rounded to 6 only for the final ratio.
    Scale note: the rank is a single total order (a8-class); at
    100 TB partition by symbol/day and publish per-key AUCs.
    Scorer = the shared ``_ml3_scored`` pipeline."""
    m = _ml3_scored(spark, sf_dir, with_label=True)
    scored = m.select(
        F.round("prob", 6).alias("p"),
        (F.col("next_close") > F.col("close")).cast("int").alias("up"),
    )
    r = F.rank().over(SW.orderBy("p"))
    c_ties = F.count(F.lit(1)).over(SW.partitionBy("p"))
    mr = r + (c_ties - F.lit(1)) / F.lit(2.0)
    ranked = scored.select("up", mr.alias("mr"))
    agg = ranked.agg(
        F.sum("up").alias("n_pos"),
        F.sum(1 - F.col("up")).alias("n_neg"),
        F.sum(F.when(F.col("up") == 1, F.col("mr"))).alias("s_pos"),
    )
    auc = (
        F.col("s_pos")
        - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0)
    ) / (F.col("n_pos") * F.col("n_neg"))
    return agg.select(
        "n_pos", "n_neg", F.round(auc, 6).alias("auc")
    )


ML8_TEST_MOD = 4  # every 4th bar (by bucket index) is held out


def _ml8_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML8 — next-bar close forecast by CLOSED-FORM OLS: slope =
    covar_pop/var_pop and intercept from the train means, served on a
    deterministic interleaved holdout — the x62 thesis applied to
    regression (training that IS aggregation needs no model server and
    no rows-only escape: fit AND serve are oracle-checked end-to-end,
    where ml2/ml5's iterative MLlib fits cannot be). The reference
    trains a biGRU for exactly this target (biGRU_model.py); this is
    the one-parameter baseline every such model must beat.

    Scale shape: ONE aggregation over the train rows (covar/var/means
    are partial-aggregatable — each executor folds its slice, the
    driver-side merge is O(partitions)), broadcast of a 1-row
    parameter frame back onto the holdout scan, then row-local
    scoring. The LEAD label is the W8 ordered-window family;
    partition by symbol at 100 TB as documented there."""
    c = _candles(spark, sf_dir)
    lab = c.select(
        "bucket_start",
        "close",
        F.lead("close").over(SW.orderBy("bucket_start")).alias("next_close"),
    ).filter(F.col("next_close").isNotNull())
    is_test = (F.col("bucket_start") / F.lit(300)).cast("long") % ML8_TEST_MOD == 0
    train = lab.filter(~is_test)
    params = train.agg(
        (F.covar_pop("close", "next_close") / F.var_pop("close")).alias("b"),
        F.avg("next_close").alias("my"),
        F.avg("close").alias("mx"),
    ).select("b", (F.col("my") - F.col("b") * F.col("mx")).alias("a"))
    test = lab.filter(is_test)
    pred = F.col("a") + F.col("b") * F.col("close")
    return test.crossJoin(F.broadcast(params)).select(
        "bucket_start",
        "close",
        "next_close",
        F.round(pred, 6).alias("pred"),
        F.round(F.col("next_close") - pred, 6).alias("resid"),
        F.round("b", 6).alias("slope"),
        F.round("a", 6).alias("intercept"),
    )


def _ml8_oracle(mod: int = ML8_TEST_MOD) -> str:
    return f"""
        {_CANDLES_CTE},
        lab AS (
            SELECT bucket_start, close,
                   lead(close) OVER (ORDER BY bucket_start) AS next_close
            FROM candles
        ),
        lab2 AS (
            SELECT *, (bucket_start // 300) % {mod} = 0 AS is_test
            FROM lab WHERE next_close IS NOT NULL
        ),
        params AS (
            SELECT covar_pop(close, next_close) / var_pop(close) AS b,
                   avg(next_close) - covar_pop(close, next_close)
                       / var_pop(close) * avg(close) AS a
            FROM lab2 WHERE NOT is_test
        )
        SELECT t.bucket_start, t.close, t.next_close,
               round(p.a + p.b * t.close, 6) AS pred,
               round(t.next_close - (p.a + p.b * t.close), 6) AS resid,
               round(p.b, 6) AS slope,
               round(p.a, 6) AS intercept
        FROM lab2 t CROSS JOIN params p
        WHERE t.is_test
    """


def _ml7_oracle() -> str:
    cte, p_raw = _ml3_sql_parts(with_label=True)
    prob = f"round({p_raw}, 6)"
    return f"""
        WITH {cte},
        scored AS (
            SELECT {prob} AS p,
                   CAST(next_close > close AS INT) AS up
            FROM m
            WHERE next_close IS NOT NULL
              AND {_ML3_LAGS_OK}
        ),
        ranked AS (
            SELECT up,
                   rank() OVER (ORDER BY p)
                       + (count(*) OVER (PARTITION BY p) - 1) / 2.0 AS mr
            FROM scored
        ),
        agg AS (
            SELECT CAST(sum(up) AS BIGINT) AS n_pos,
                   CAST(sum(1 - up) AS BIGINT) AS n_neg,
                   sum(CASE WHEN up = 1 THEN mr END) AS s_pos
            FROM ranked
        )
        SELECT n_pos, n_neg,
               round((s_pos - n_pos * (n_pos + 1) / 2.0)
                     / (n_pos * n_neg), 6) AS auc
        FROM agg
    """


def _j5_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/J2's co-located form made driver-adjudicable: two per-user
    aggregates persisted hash-BUCKETED on the join key
    (``write_bucketed``, the shuffle-eliminating layout for a
    repeatedly-joined 100 TB fact table), then joined bucket-to-bucket.
    The oracle is the plain SQL join — bucketing is a physical layout,
    so the rows must be IDENTICAL to the unbucketed join. Since r14
    the shuffle-free shape is asserted IN the query under the
    driver's vanilla session (``assert_shuffle_free`` — the j7 proof
    discipline; a lost bucket spec would silently reintroduce the
    fact shuffle while returning identical rows), in addition to the
    tuned-session pin in tests/test_scale.py:19."""
    import os as _os

    from financial_market_data_analysis_spark.sources.batch import write_bucketed

    ev = load_table(spark, "events", sf_dir)
    purch = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purch"),
        F.sum("value").alias("purch_sum"),
    )
    views = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.avg("value").alias("view_avg"),
    )
    # per-invocation temp dir (r5 review): a FIXED path would race when
    # two sessions run the query concurrently (one session's bucketed
    # scan reading files the other is mid-overwrite). The few KB of
    # bucketed parquet stay until OS temp cleanup — they must outlive
    # this call because the returned plan reads them lazily.
    import tempfile

    base = tempfile.mkdtemp(prefix="spark_graft_j5_")
    _os.makedirs(base, exist_ok=True)
    write_bucketed(purch, "j5_purch", "user_id", f"{base}/purch")
    write_bucketed(views, "j5_views", "user_id", f"{base}/views")
    out = spark.table("j5_purch").join(spark.table("j5_views"), "user_id").select(
        "user_id", "n_purch", "purch_sum", "n_views", "view_avg"
    )
    from financial_market_data_analysis_spark.operators.joins import (
        assert_shuffle_free,
    )

    assert_shuffle_free(out)
    return out


def _w13_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13 — trailing 20-bar exact median of close (operators/windows.py
    ``rolling_median``): the outlier-robust centre the reference's
    mean-based views lack. Both engines compute the median over the
    identical full ROWS frame (warm-up rows trimmed, value rounded to
    6 decimals — even-count frames interpolate the two middle values,
    a float blend)."""
    out = W.rolling_median(_candles(spark, sf_dir), "close", _ORDER)
    return out.filter(F.col("median").isNotNull()).select(
        "bucket_start", "close", F.round("median", 6).alias("median20")
    )


def _w14_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14 — truncated 20-bar EWMA of close (operators/windows.py
    ``rolling_ewma``): the recency-weighted MA the reference's flat
    views lack (the EMA block of MACD), in the frame-bounded
    renormalized form that stays partitionable. The oracle computes
    the identical weighted sum via a rank self-join; both sides round
    to 6 decimals (20-term float sums fold in different orders)."""
    out = W.rolling_ewma(_candles(spark, sf_dir), "close", _ORDER, period=20)
    return out.filter(F.col("ewma").isNotNull()).select(
        "bucket_start", "close", F.round("ewma", 6).alias("ewma20")
    )


def _w14_oracle() -> str:
    period = 20
    alpha = 2.0 / (period + 1)
    decay = 1.0 - alpha
    den = repr(float(sum(decay**k for k in range(period))))
    return f"""
        {_CANDLES_CTE},
        m AS (
            SELECT bucket_start, close,
                   row_number() OVER (ORDER BY bucket_start) AS rn
            FROM candles
        )
        SELECT a.bucket_start, a.close,
               round(sum(power({decay!r}, a.rn - b.rn) * b.close)
                     / {den}, 6) AS ewma20
        FROM m a JOIN m b ON b.rn BETWEEN a.rn - {period - 1} AND a.rn
        GROUP BY a.bucket_start, a.close, a.rn
        HAVING count(*) = {period}
    """


def _w15_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15 — RSI-14 (Cutler's simple-average form, operators/windows.py
    ``rsi``): the momentum oscillator the reference's view set stops
    short of. Frame-bounded (LAG + two 14-row averages), all-gain
    frames clamp to 100 explicitly, fully flat frames are neutral 50;
    rounded to 6 decimals."""
    out = W.rsi(_candles(spark, sf_dir), "close", _ORDER)
    return out.filter(F.col("rsi").isNotNull()).select(
        "bucket_start", "close", F.round("rsi", 6).alias("rsi14")
    )


def _w15_oracle() -> str:
    return f"""
        {_CANDLES_CTE},
        d AS (
            SELECT bucket_start, close,
                   close - lag(close) OVER (ORDER BY bucket_start) AS delta,
                   row_number() OVER (ORDER BY bucket_start) AS rn
            FROM candles
        ),
        g AS (
            SELECT bucket_start, close, rn,
                   avg(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER w
                       AS avg_gain,
                   avg(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER w
                       AS avg_loss
            FROM d
            WINDOW w AS (ORDER BY bucket_start
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT bucket_start, close,
               round(CASE WHEN avg_gain = 0 AND avg_loss = 0 THEN 50.0
                          WHEN avg_loss = 0 THEN 100.0
                          ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss)
                     END, 6) AS rsi14
        FROM g WHERE rn >= 15
    """


def _w16_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16 — On-Balance Volume (operators/windows.py
    ``on_balance_volume``) with FIXED-POINT accumulation: the signed
    per-bar volume is scaled to integer micro-units before the
    unbounded running sum, so the accumulation is exact integer
    arithmetic — order- and grouping-independent, hence bit-identical
    across engines (DuckDB's segment-tree window sums group float
    additions differently than Spark's running frames; integers make
    the disagreement impossible rather than merely unlikely). The
    micro-unit column IS the output — dividing back to double would
    reintroduce the float."""
    out = W.on_balance_volume(
        _candles(spark, sf_dir).withColumn(
            "vol_micro",
            F.round(F.col("volume") * 1_000_000).cast("long"),
        ),
        "close",
        "vol_micro",
        _ORDER,
    )
    return out.select("bucket_start", "close", F.col("obv").alias("obv_micro"))


def _w16_oracle() -> str:
    return f"""
        {_CANDLES_CTE},
        d AS (
            SELECT bucket_start, close,
                   CAST(round(volume * 1000000) AS BIGINT) AS vol_micro,
                   lag(close) OVER (ORDER BY bucket_start) AS prev_close
            FROM candles
        )
        SELECT bucket_start, close,
               CAST(sum(CASE WHEN prev_close IS NULL THEN 0
                             WHEN close > prev_close THEN vol_micro
                             WHEN close < prev_close THEN -vol_micro
                             ELSE 0 END)
                    OVER (ORDER BY bucket_start
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS obv_micro
        FROM d
    """


def _a11_vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — daily VWAP from the 5-minute bars: Σ(close·volume)/Σ(volume)
    per UTC day — the hierarchical-reaggregation sibling of a10 (bars,
    not raw ticks, feed the day level). One partial-aggregatable
    groupBy on the day key; ratio rounded to 6."""
    c = _candles(spark, sf_dir)
    day = F.expr("CAST((bucket_start div 86400) * 86400 AS BIGINT)")
    return c.groupBy(day.alias("day_start")).agg(
        F.round(
            F.sum(F.col("close") * F.col("volume")) / F.sum("volume"), 6
        ).alias("vwap"),
        F.count(F.lit(1)).alias("n_bars"),
    )


def _a11_oracle() -> str:
    return f"""
        {_CANDLES_CTE}
        SELECT CAST((bucket_start // 86400) * 86400 AS BIGINT) AS day_start,
               round(sum(close * volume) / sum(volume), 6) AS vwap,
               count(*) AS n_bars
        FROM candles
        GROUP BY 1
    """


def _ewma_rank_sql(
    src: str, val: str, period: int, alias: str, keyed: bool = False
) -> str:
    """Truncated renormalized EWMA as a rank self-join — the ONE SQL
    form behind both the w17 (global) and t11 (per-symbol) oracles, so
    a future retune of the EWMA shape cannot silently diverge the two
    twins of the same indicator family (r6 review). ``keyed`` adds the
    symbol join/group columns."""
    decay = 1.0 - 2.0 / (period + 1)
    den = repr(float(sum(decay**k for k in range(period))))
    key_join = "a.symbol = b.symbol AND " if keyed else ""
    key_cols = "a.symbol, " if keyed else ""
    return f"""
        SELECT {key_cols}a.rn, a.bucket_start,
               sum(power({decay!r}, a.rn - b.rn) * b.{val}) / {den}
                   AS {alias}
        FROM {src} a JOIN {src} b
          ON {key_join}b.rn BETWEEN a.rn - {period - 1} AND a.rn
        GROUP BY {key_cols}a.rn, a.bucket_start
        HAVING count(*) = {period}
    """


def _w17_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17 — MACD(12,26,9) composed from truncated EWMAs
    (operators/windows.py ``macd``): line, signal, histogram, each
    rounded to 6 (the EWMA fold precedent). The oracle rebuilds the
    identical composition from rank self-joins."""
    out = W.macd(_candles(spark, sf_dir), "close", _ORDER)
    return out.filter(F.col("macd_signal").isNotNull()).select(
        "bucket_start",
        F.round("macd_line", 6).alias("macd_line"),
        F.round("macd_signal", 6).alias("macd_signal"),
        F.round("macd_hist", 6).alias("macd_hist"),
    )


def _w17_oracle(fast: int = 12, slow: int = 26, signal: int = 9) -> str:
    def ewma(src: str, val: str, period: int, alias: str) -> str:
        return _ewma_rank_sql(src, val, period, alias)

    return f"""
        {_CANDLES_CTE},
        m AS (
            SELECT bucket_start, close,
                   row_number() OVER (ORDER BY bucket_start) AS rn
            FROM candles
        ),
        ef AS ({ewma("m", "close", fast, "v")}),
        es AS ({ewma("m", "close", slow, "v")}),
        line AS (
            SELECT ef.rn, ef.bucket_start, ef.v - es.v AS macd_line
            FROM ef JOIN es ON ef.rn = es.rn
        ),
        sig AS ({ewma("line", "macd_line", signal, "macd_signal")})
        SELECT line.bucket_start,
               round(line.macd_line, 6) AS macd_line,
               round(sig.macd_signal, 6) AS macd_signal,
               round(line.macd_line - sig.macd_signal, 6) AS macd_hist
        FROM line JOIN sig ON line.rn = sig.rn
    """


def _w24_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W24 — bar-series regularization (operators/windows.py
    ``gap_fill_locf``): the 5-minute candle series re-emitted on its
    FULL bucket spine, no-trade buckets synthesized with the two
    market fill policies — close carries the last observation forward,
    volume fills zero (no trades IS zero volume) — and flagged
    ``is_gap``. The reference computes every trailing indicator over
    rows-present-only (getMarketData.py bars arrive with holes), which
    silently widens the real-time span of a "15-row" window across a
    quiet period; this operator is the correction. Oracle: DuckDB
    ``generate_series`` spine + ``last_value IGNORE NULLS``.

    Scale shape: one aggregate builds the spine bounds, ``sequence``
    explodes it distributed (range-bounded per partition), the join
    back is co-keyed, LOCF is one window pass."""
    bars = _candles(spark, sf_dir).select(
        "bucket_start", "close", "volume"
    )
    out = W.gap_fill_locf(
        bars, "bucket_start", 300, ["close"], zero_cols=["volume"]
    )
    return out.select(
        "bucket_start",
        "is_gap",
        F.round("close", 6).alias("close_filled"),
        F.round("volume", 6).alias("volume_filled"),
    )


_W24_ORACLE = f"""
    {_CANDLES_CTE},
    bounds AS (
        SELECT min(bucket_start) AS lo, max(bucket_start) AS hi
        FROM candles
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, 300)) AS bucket_start
        FROM bounds
    )
    SELECT s.bucket_start,
           CASE WHEN c.bucket_start IS NULL THEN 1 ELSE 0 END AS is_gap,
           round(last_value(c.close IGNORE NULLS) OVER (
               ORDER BY s.bucket_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 6) AS close_filled,
           round(COALESCE(c.volume, 0.0), 6) AS volume_filled
    FROM spine s LEFT JOIN candles c ON s.bucket_start = c.bucket_start
"""


def _w23_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W23 — Williams %R-14 over the 5-minute candles
    (operators/windows.py ``williams_r``): the top-measured twin of
    W5's stochastic, completing the range-position oscillator pair.
    Flat frames are NULL on both engines (try_divide/NULLIF); warm-up
    rows trimmed; rounded to 6.

    Sign-of-zero (the r9 driver mismatch): when close == hh the ratio
    is ``0.0 * -100.0 = -0.0``; DuckDB's round keeps the sign while
    Spark's BigDecimal-based round normalizes to ``+0.0`` — equal
    under ``==`` but distinct under the driver's exact value-hash.
    The oracle adds ``+ 0.0`` (IEEE: ``-0.0 + 0.0 == +0.0``, identity
    elsewhere) so both engines emit the same zero."""
    out = W.williams_r(_candles(spark, sf_dir), "high", "low", "close", _ORDER)
    return out.filter(F.col("williams_r").isNotNull()).select(
        "bucket_start",
        "close",
        F.round("williams_r", 6).alias("wr14"),
    )


def _w23_oracle(period: int = 14) -> str:
    return f"""
        {_CANDLES_CTE},
        s AS (
            SELECT bucket_start, close,
                   max(high) OVER w AS hh,
                   min(low) OVER w AS ll,
                   count(*) OVER w AS cnt
            FROM candles
            WINDOW w AS (ORDER BY bucket_start
                         ROWS BETWEEN {period - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT bucket_start, close,
               round((hh - close) / NULLIF(hh - ll, 0) * -100.0, 6) + 0.0 AS wr14
        FROM s
        WHERE cnt >= {period} AND hh <> ll
    """


def _w22_cmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W22 — Chaikin Money Flow over the 5-minute candles
    (operators/windows.py ``chaikin_money_flow``): the volume-weighted
    accumulation/distribution oscillator, CMF-20 — the flow-direction
    sibling of W16's OBV and the last classic volume indicator missing
    next to it. Flat bars contribute zero flow on both engines
    (try_divide/NULLIF + coalesce); warm-up rows are trimmed; the one
    computed float is rounded to 6 (the EWMA-family precedent)."""
    out = W.chaikin_money_flow(
        _candles(spark, sf_dir), "high", "low", "close", "volume", _ORDER
    )
    return out.filter(F.col("cmf").isNotNull()).select(
        "bucket_start",
        "close",
        F.round("cmf", 6).alias("cmf20"),
    )


def _w22_oracle(period: int = 20) -> str:
    return f"""
        {_CANDLES_CTE},
        f AS (
            SELECT bucket_start, close,
                   COALESCE(((close - low) - (high - close))
                            / NULLIF(high - low, 0), 0) * volume AS mfv,
                   volume
            FROM candles
        ),
        s AS (
            SELECT bucket_start, close,
                   sum(mfv) OVER w AS s_mfv,
                   sum(volume) OVER w AS s_vol,
                   count(*) OVER w AS cnt
            FROM f
            WINDOW w AS (ORDER BY bucket_start
                         ROWS BETWEEN {period - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT bucket_start, close,
               round(s_mfv / NULLIF(s_vol, 0), 6) AS cmf20
        FROM s WHERE cnt >= {period} AND s_vol <> 0
    """


def _w18_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18 — Donchian channel (operators/windows.py
    ``donchian_channel``): trailing 20-bar highest-high/lowest-low
    band, midline, and the breakout flag against the PRIOR bar's
    channel — the range-extreme sibling of W4's deviation bands,
    absent from the reference's view set (create_database.py:76-190
    has no rolling-extrema view). Channel extrema are raw input
    doubles (max/min select, no arithmetic) so only the midline — the
    one computed float — is rounded; warm-up rows where the previous
    channel doesn't exist yet are trimmed on both sides."""
    out = W.donchian_channel(
        _candles(spark, sf_dir), "high", "low", "close", _ORDER
    )
    return out.filter(F.col("donchian_break").isNotNull()).select(
        "bucket_start",
        "close",
        F.col("donchian_upper").alias("don_upper"),
        F.col("donchian_lower").alias("don_lower"),
        F.round("donchian_mid", 6).alias("don_mid"),
        F.col("donchian_break").cast("int").alias("don_break"),
    )


def _w18_oracle(period: int = 20) -> str:
    return f"""
        {_CANDLES_CTE},
        ch AS (
            SELECT bucket_start, close,
                   max(high) OVER f AS don_upper,
                   min(low) OVER f AS don_lower,
                   row_number() OVER (ORDER BY bucket_start) AS rn
            FROM candles
            WINDOW f AS (ORDER BY bucket_start
                         ROWS BETWEEN {period - 1} PRECEDING AND CURRENT ROW)
        ),
        g AS (
            SELECT bucket_start, close,
                   CASE WHEN rn >= {period} THEN don_upper END AS don_upper,
                   CASE WHEN rn >= {period} THEN don_lower END AS don_lower
            FROM ch
        ),
        b AS (
            SELECT bucket_start, close, don_upper, don_lower,
                   lag(don_upper) OVER (ORDER BY bucket_start) AS pu,
                   lag(don_lower) OVER (ORDER BY bucket_start) AS pl
            FROM g
        )
        SELECT bucket_start, close, don_upper, don_lower,
               round((don_upper + don_lower) / 2.0, 6) AS don_mid,
               CAST(CASE WHEN close > pu THEN 1
                         WHEN close < pl THEN -1
                         ELSE 0 END AS INT) AS don_break
        FROM b WHERE pu IS NOT NULL AND don_upper IS NOT NULL
    """


def _j6_interval_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — point-in-interval (SCD2) lookup join (operators/joins.py
    ``interval_lookup_join``): every purchase event picks the signup
    validity interval ACTIVE AT its timestamp from the d4 temporal
    table — "which version was current when this happened", the
    question the reference's latest-state overwrite (predict.py's
    single MariaDB row) structurally cannot answer. Not a non-equi
    theta join: the union-sort pattern (one shuffle on user_id, the
    prevailing interval carried by last(…, ignorenulls), the half-open
    containment validated against the carried end) — the plan a
    100 TB point-in-time join needs. The oracle IS the naive
    containment join, so the hash match proves the rewrite exact."""
    from financial_market_data_analysis_spark.operators.joins import (
        interval_lookup_join,
    )

    iv = _d4_scd2_intervals(spark, sf_dir).select(
        "user_id",
        F.col("event_id").alias("signup_event_id"),
        F.col("value").alias("signup_value"),
        "valid_from_us",
        "valid_to_us",
    )
    pr = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts_us", "value")
    )
    return interval_lookup_join(
        pr,
        iv,
        ["user_id"],
        "ts_us",
        "valid_from_us",
        "valid_to_us",
        ["signup_event_id", "signup_value"],
        tie_col="signup_event_id",
    )


def _j6_oracle() -> str:
    return """
        WITH iv AS (
            SELECT user_id, event_id AS signup_event_id,
                   value AS signup_value,
                   epoch_us(ts) AS valid_from_us,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS valid_to_us
            FROM events WHERE event_type = 'signup'
        ),
        p AS (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, p.ts_us, p.value,
               iv.signup_event_id, iv.signup_value,
               iv.valid_from_us, iv.valid_to_us
        FROM p JOIN iv
          ON p.user_id = iv.user_id
         AND p.ts_us >= iv.valid_from_us
         AND (iv.valid_to_us IS NULL OR p.ts_us < iv.valid_to_us)
    """


def _a9_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — pairwise Pearson correlation matrix of the five OHLCV bar
    columns in ONE aggregation pass (ml.py ``corr_matrix``): all 10
    ``corr`` aggregates partial-aggregate map-side in a single reduce
    to one row, then unpivot via ``stack`` — no per-pair scans, no
    driver loop. Rounded to 6 decimals (corr is a ratio of
    ULP-ordering-sensitive sums)."""
    from financial_market_data_analysis_spark.ml import corr_matrix

    cols = ["open", "high", "low", "close", "volume"]
    out = corr_matrix(_candles(spark, sf_dir), cols)
    return out.select(
        "col_a", "col_b", F.round("corr", 6).alias("corr")
    )


def _a10_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — hierarchical multi-resolution OHLCV rollup (plans/candles
    ``candles_multires``, the hypertable continuous-aggregate shape):
    5-minute bars from ONE raw scan, 15-minute and hourly bars
    re-aggregated from the level below via carried open/close selector
    sequence numbers. The oracle aggregates every level DIRECTLY from
    the raw events, so the hash match proves the composition is exact,
    not an approximation. Volume rounded to 6 on both sides (sum
    grouping differs by construction)."""
    ev = load_table(spark, "events", sf_dir)
    out = candles_multires(ev)
    return out.select(
        "granularity", "bucket_start", "open", "high", "low", "close",
        F.round("volume", 6).alias("volume"), "n_events",
    )


def _ml4_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML4 — serving-side evaluation: the fixed-coefficient ml3 scorer's
    predictions against the REALIZED next-bar direction, folded into a
    one-row confusion matrix + accuracy/precision/recall/F1 (the
    metrics block of reference predict.py/train.py, computed in one
    distributed aggregation instead of sklearn on the driver). Bars
    whose next-bar label doesn't exist (the last row) are excluded on
    both sides; rates rounded to 6 decimals. Scorer = the shared
    ``_ml3_scored`` pipeline."""
    m = _ml3_scored(spark, sf_dir, with_label=True)
    pred = (F.col("prob") > 0.5).cast("int")
    actual = (F.col("next_close") > F.col("close")).cast("int")
    scored = m.select(pred.alias("pred"), actual.alias("actual"))
    agg = scored.agg(
        F.sum(((F.col("pred") == 1) & (F.col("actual") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("pred") == 1) & (F.col("actual") == 0)).cast("long")).alias("fp"),
        F.sum(((F.col("pred") == 0) & (F.col("actual") == 0)).cast("long")).alias("tn"),
        F.sum(((F.col("pred") == 0) & (F.col("actual") == 1)).cast("long")).alias("fn"),
    )
    n = F.col("tp") + F.col("fp") + F.col("tn") + F.col("fn")
    precision = F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))
    recall = F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
    f1 = 2 * precision * recall / F.nullif(precision + recall, F.lit(0.0))
    return agg.select(
        "tp", "fp", "tn", "fn",
        F.round((F.col("tp") + F.col("tn")) / n, 6).alias("accuracy"),
        F.round(precision, 6).alias("precision_up"),
        F.round(recall, 6).alias("recall_up"),
        F.round(f1, 6).alias("f1_up"),
    )


def _ml4_oracle() -> str:
    cte, prob = _ml3_sql_parts(with_label=True)
    return f"""
        WITH {cte},
        scored AS (
            SELECT CAST({prob} > 0.5 AS INT) AS pred,
                   CAST(next_close > close AS INT) AS actual
            FROM m
            WHERE next_close IS NOT NULL
              AND {_ML3_LAGS_OK}
        ),
        agg AS (
            SELECT
                CAST(sum(CASE WHEN pred = 1 AND actual = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS tp,
                CAST(sum(CASE WHEN pred = 1 AND actual = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS fp,
                CAST(sum(CASE WHEN pred = 0 AND actual = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS tn,
                CAST(sum(CASE WHEN pred = 0 AND actual = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS fn
            FROM scored
        )
        SELECT tp, fp, tn, fn,
            round((tp + tn) * 1.0 / (tp + fp + tn + fn), 6) AS accuracy,
            round(tp * 1.0 / nullif(tp + fp, 0), 6) AS precision_up,
            round(tp * 1.0 / nullif(tp + fn, 0), 6) AS recall_up,
            round(2.0 * (tp * 1.0 / nullif(tp + fp, 0))
                      * (tp * 1.0 / nullif(tp + fn, 0))
                  / nullif((tp * 1.0 / nullif(tp + fp, 0))
                         + (tp * 1.0 / nullif(tp + fn, 0)), 0), 6) AS f1_up
        FROM agg
    """


def _t10_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-STATIC broadcast join — the serving topology the
    reference runs in predict.py (train-time normalization parameters
    applied to the live window): a static per-event-type min/max
    params table (A1's aggregate) is broadcast-joined to the event
    stream, emitting the min-max-normalized value per event. This is
    the one Structured Streaming join class the t-suite didn't yet
    adjudicate (stateless per micro-batch — no watermark, no join
    state, the static side rebroadcast per batch). Oracle: the same
    join + normalization in plain SQL over the batch table; rounded
    to 6 decimals (the min-max ratio is float)."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    params = ev.groupBy("event_type").agg(
        F.min("value").alias("min_v"), F.max("value").alias("max_v")
    )
    cut = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    with streaming_run(spark) as sr:
        stream = sr.stream(ev, (F.col("ts") <= cut, F.col("ts") > cut))
        out = stream.join(F.broadcast(params), "event_type").select(
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.round(
                (F.col("value") - F.col("min_v"))
                / F.nullif(F.col("max_v") - F.col("min_v"), F.lit(0.0)),
                6,
            ).alias("norm_value"),
        )
        return sr.memory(out)


def _pipeline_bars_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the whole reference dataflow (5 feeds → join → features
    → indicators → targets) as one Spark plan. See plans/pipeline.py."""
    from financial_market_data_analysis_spark.plans.pipeline import bars_joined

    return bars_joined(spark, sf_dir)


def _pipeline_full_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL-WIDTH warehouse row: 117 columns through the real
    schema registry (bucket_start + 26 book + 12 COT + 39 indicator +
    book features + candle + VIX + calendar + W1-W8) — the
    reference's ~109-column stock_data_joined point
    (create_database.py:69-73, SURVEY §1.4).
    See plans/full_row.py."""
    from financial_market_data_analysis_spark.plans.full_row import full_row

    return full_row(spark, sf_dir)


def _pipeline_full_row_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partitioned-scale variant of the full-width row: the one
    feed aggregate keys on (symbol, bucket), and the W1-W8 window stage
    partitions by symbol — no global single-partition sort anywhere
    (the SURVEY §7.3 scale path, plan shape asserted in
    tests/test_scale.py)."""
    from financial_market_data_analysis_spark.plans.full_row import full_row

    return full_row(spark, sf_dir, group_cols=("symbol",))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Insertion order is deliberate: the driver's correctness harness
    adjudicates the FIRST 50 entries of this dict (stable since round
    3), so the first 50 entries are the round-17 adjudication set: the
    PERMANENT pinned set (the two flagship pipeline queries plus one
    carrier per SURVEY §2 family — t9, t6b, t4b, j5, j6, t7, t13, a12,
    x27, x28, x44, x48, ml7, and t22, GRADUATED to pinned in r15 per
    the r14 verdict #4: the reference's literal consumer topology at
    full fan-in, four chained watermarked band joins + dedup, five
    stateful operators in one query — no other entry subsumes the
    cross-batch multi-join state law, so no displacement math may
    ever propose it — the capability contract that never rotates out,
    per the r8 verdict #2), two round-8-born keepers (the in-window
    carriers older displacement notes point at — x73/x74), four
    round-10-born keepers (the carriers round 13's displacement notes
    point at — x75/q2/q11/q21), one round-11-born keeper (q5, the
    snowflake anchor the round-14 displacement notes for q7/q8/q9/q15
    all point at), one round-12-born keeper (a17, the CASE/pivot and
    Expand-family carrier), four family-carrier keepers from the
    r13/r14 cohorts (d8 the skew diagnostic, t28 the stateful
    sessionizer, w26 the RANGE-frame OLS, j8 the DPP proof — the
    in-window carriers this round's displacement notes point at),
    the nine round-15 births on their second round (j9, t29, t30,
    j10, s16, t31, x81, s17, u2), and the THIRTEEN
    structurally-rewritten queries the r16 optimization round touched
    without a same-round driver row (x4, x6, x15, x16, x30, x31, x49,
    x69, x78, t11, t17, t18, t23 — the r16 verdict #2 rotation, which
    explicitly prioritizes rewritten queries over calendar rotation;
    vetted in ROTATION_PLAN_r17.md). Thirteen twice-or-more-green
    queries move past the boundary (t25, t26, a19, x79, a20, t27,
    s13, w25 on their third green; s14, j7, x80, d9, s15 on their
    second — the calendar-rotation candidates the r16 verdict #2
    orders displaced), each displacement annotated inline.
    tools/check_rotation_debt.py fails the suite if any
    oracle-bearing query ever sits ≥2 rounds without a driver row;
    every displaced query stays covered by the pytest oracle-parity
    suite every session regardless of the window."""
    return {
        # -- PINNED carriers: flagships + one per SURVEY §2 family.
        # These never rotate out (r8 verdict #2) — they are the
        # capability contract the driver re-adjudicates every round. --
        "pipeline_full_row_part": _pipeline_full_row_part,
        "pipeline_bars_joined": _pipeline_bars_joined,
        "t9_stateful_suite": _t9_stateful_suite,          # T6/T9/U1 stateful streaming
        "t6b_stream_left_join": _t6b_stream_left_join,    # J4 stream left-outer join
        "t4b_stream_sessions": _t4b_stream_sessions,      # T4 streaming session windows
        "x27_resize_geometry": X.q_resize_geometry,       # multimodal family
        "ml7_auc": _ml7_auc,                              # ML eval family (scorer + lag matrix)
        "j5_bucketed_join": _j5_bucketed_join,            # J2/S7 bucketed co-located join
        "t13_stream_ingest_dedup": _t13_stream_ingest_dedup,  # D1 streaming dedup gate
        "a12_hist_quantiles": _a12_hist_quantiles,        # A family + sketch-vs-exact parity
        "x28_corpus_pipeline": X.q_corpus_pipeline,       # LLM-corpus flagship
        "x44_dup_span_removal": X.q_dup_span_removal,     # dedup-span family
        "j6_interval_lookup": _j6_interval_lookup,        # J1 interval/SCD2 probe
        "t7_exactly_once_sink": _t7_exactly_once_sink,    # K1/T7 exactly-once recovery
        "x48_semantic_dedup": X.q_semantic_dedup,         # embedding-dedup family
        # t22 GRADUATED to pinned in round 15 (r14 verdict #4, argued
        # in ROTATION_PLAN_r15.md): the streaming capstone — the
        # reference's literal consumer topology at full fan-in (four
        # chained watermarked band joins + key-scoped dedup, five
        # stateful operators in ONE availableNow query). No other
        # query subsumes the cross-batch multi-join state law, so no
        # future displacement math may propose it.
        "t22_stream_five_feed_join": _t22_stream_five_feed_join,
        # -- round-8-born keepers: the two in-window carriers the
        # displacement notes point at — x73/x74 the dedup-graph and
        # funnel/decontamination carriers (x68's subsumption target).
        # (w23/t20/x69/q4 displaced r15; a14 displaced r16 — its
        # Expand/grouping family is carried by a17's declared-values
        # PIVOT, which a13's and a11's notes already cite.) --------------
        "x73_leakage_free_split": X.q_leakage_free_split,
        "x74_filter_funnel": X.q_filter_funnel,
        # -- fourth-round round-10-born keepers: the four in-window
        # carriers round 13's nine displacement notes point at — x75
        # (the ANN-representation recall anchor the x63/x65/x66/x70
        # rotated notes cite; its r11 bench watch closed with data in
        # r12), q2 (the correlated-scalar decorrelation carrier — q17's
        # avg-threshold twin), q11 (the global-scalar-gate carrier —
        # q15/q22's subsumption target), and q21 (the EXISTS +
        # NOT EXISTS anti-join carrier — q16/q22's subsumption
        # target). ------------------------------------------------------
        "x75_compression_table": X.q_compression_table,
        "q2_min_cost_supplier": _q2_min_cost_supplier,
        "q11_important_parts": _q11_important_parts,
        "q21_sole_returner": _q21_sole_returner,
        # -- fourth-round round-11-born keeper: q5 stays as the
        # SNOWFLAKE ANCHOR — the region-gated customer-nation ×
        # supplier-nation revenue-sum assembly (broadcast dims) that
        # the round-14 displacement notes for q7/q8/q9/q15 all name as
        # their in-window carrier. ---------------------------------------
        "q5_local_volume": _q5_local_volume,
        # -- round-12-born keeper: a17 stays as the CASE/pivot
        # carrier (the declared-values PIVOT the q8/q9/q10/q12/q14
        # displacement notes all name, and the Expand-family carrier
        # now that a14 is displaced). The other eight r12 births
        # (t23, s12, a15, a16, w24, a18, x78, t24) displaced r16 on
        # their third green, notes below. --------------------------------
        "a17_pivot_daily_types": _a17_pivot_daily_types,
        # -- four family-carrier keepers from the r13/r14 cohorts (the
        # in-window carriers this round's displacement notes point at;
        # the other twelve r13/r14 births displaced this round per the
        # r16 verdict #2, notes below): -----------------------------------
        # d8: the key-skew diagnostic (per-key counts → max/mean
        # ratio, exact p50/p99, top-10 share) — the measurement behind
        # j2's salted join and AQE skew handling, and the in-window
        # carrier d9's displacement note points at
        "d8_skew_report": _d8_skew_report,
        # t28: a19's sessionization as a single-pass stateful
        # streaming operator (O(1) three-long state per key,
        # data-driven close) with the cross-batch session-merge law
        # proven: the query raises unless an emitted session spans the
        # micro-batch cut, and the oracle is the exact closed-session
        # set (no watermark trim) — what t24 proved for gap-fill
        # carry, for sessions; the carrier a19's, t24's and w24's
        # displacement notes point at
        "t28_stream_sessionize": _t28_stream_sessionize,
        # w26: w25's rolling OLS beta/alpha on a time-RANGE frame
        # (trailing 1 day of EVENT TIME, pair count floats, gated ≥5
        # pairs) — the fixed-horizon semantics an irregular series
        # needs, where the ROWS twin's horizon silently varies with
        # density; the W-indicator family's in-window carrier now that
        # w25 is displaced
        "w26_range_beta": _w26_range_beta,
        # j8: DYNAMIC partition pruning proven — the pruning trilogy's
        # third member (s13 static range, s14 min/max skipping, j8 the
        # join-derived runtime filter): raises unless the executed
        # scan carries a dynamicpruning expression AND its
        # numPartitions equals the filtered dim's day count with ≥1
        # day skipped; the carrier s13's displacement note points at
        "j8_dpp_proof": _j8_dpp_proof,
        # -- the nine r15 births on their SECOND adjudication (first
        # driver-green r16): ----------------------------------------------
        # j9: AQE skew-join handling PROVEN from the executed plan
        # (isSkewJoin=true SMJ + numSkewedSplits >= 2 on the AQE
        # shuffle reads) — the zero-code cure the skew tier (d8
        # measure → j2 salt → d9 balance) still had no proof for; rows
        # adjudicated against a plain-join oracle so the rewrite is
        # result-neutral
        "j9_aqe_skew_proof": _j9_aqe_skew_proof,
        # t29: state-store RECOVERY proven — t28's stateful
        # sessionizer as THREE queries over ONE checkpoint
        # (stop/restart, then a mid-batch crash + replay); the
        # spanning session is emitted whole only if its (start, count)
        # round-tripped the checkpoint's state store, and the oracle
        # is t28's exact closed-session law — what t7 proved for the
        # sink, for STATE
        "t29_checkpoint_recovery": _t29_checkpoint_recovery,
        # t30: a16's retention cohorts maintained incrementally over
        # the append-only epoch store (the t27/t18 monoid pattern on a
        # NON-sketch aggregate: set-union → min-fold → rollup, all
        # idempotent), with micro-batches staged OUT of time order —
        # raises unless a user's cohort-defining event arrives last;
        # oracle = a16's batch SQL verbatim
        "t30_stream_cohorts": _t30_stream_cohorts,
        # j10: AQE's RUNTIME join re-selection proven — the initial
        # plan must hold a sort-merge join (the correct static call
        # for a statically-unsized HAVING dim) and the executed plan
        # must show the broadcast demotion with zero SMJ; completes
        # the adaptive tier next to j7 (static broadcast), j8 (DPP),
        # j9 (skew split)
        "j10_runtime_broadcast": _j10_runtime_broadcast,
        # s16: x29's z-order claim MEASURED — the same events written
        # linear-clustered and z-order-clustered, the same x-/y-range
        # predicates run on both; raises unless the z layout passes
        # s14's full skipping sandwich on the SECONDARY dimension,
        # the linear layout passes it on the primary, and the
        # comparative footer census shows linear overlapping strictly
        # more groups on y — the clustering-key decision table,
        # priced from real footers; oracle adjudicates zero data loss
        "s16_zorder_vs_linear": _s16_zorder_vs_linear,
        # t31: bounded streaming state proven from
        # StreamingQueryProgress — numRowsDroppedByWatermark equals
        # the staged straggler count EXACTLY, eviction observably
        # removed rows, and final state is strictly below the
        # kept-window count; the value oracle (t17's, verbatim) cannot
        # see state size — this is the executed-plan proof discipline
        # applied to the state store
        "t31_state_metrics_proof": _t31_state_metrics_proof,
        # x81: x24's sequence packer priced across token budgets (the
        # x80 sweep discipline): per B ∈ {512..4096}, the cut-document
        # count (docs split across packs) vs the padding waste
        # (per-shard final-pack tails) — the context-length decision
        # table for a packing run; one window pass serves all four
        # budgets, exact integer arithmetic throughout
        "x81_pack_budget_sweep": X.q_pack_budget_sweep,
        # s17: the I/O proof trilogy completed — COLUMN pruning +
        # filter pushdown proven from the executed scan
        # (requiredSchema == exactly the two referenced columns of
        # eleven; the quantity predicate present in PushedFilters) —
        # s13 proves directories, s14 row groups, s17 columns
        "s17_column_pruning_proof": _s17_column_pruning_proof,
        # u2: "UDFs are the slow path" as a runtime invariant — the
        # flagship pipeline's executed plan must hold zero
        # Python-evaluation operators and ≥5 WholeStageCodegen spans;
        # rows ride the flagship oracle verbatim
        "u2_codegen_proof": _u2_codegen_proof,
        # -- rotated IN this round (round 17) for POST-REWRITE
        # adjudication: the thirteen queries whose internals the r16
        # optimization round restructured without a same-round driver
        # oracle row (r16 verdict #2 — rewritten queries take priority
        # over calendar rotation; displacement math in
        # ROTATION_PLAN_r17.md). Each carries a parity pin in pytest
        # and was green in the builder's full-catalog verify; this
        # window slot is the hard driver signal those rewrites still
        # owe. -------------------------------------------------------------
        # x4: published SimHash sketch — r16 rewrote the fold to a
        # LONG sketch rendered once per doc (functions/text.py
        # simhash32_long)
        "x4_simhash": X.q_simhash,
        # x6: MinHash-LSH dedup — r16 eagerization + r17 lazy revert
        # in minhash_lsh_dedup (operators/dedup.py)
        "x6_minhash_lsh": X.q_minhash_lsh,
        # x15: SimHash near-dup pairs — LONG-sketch banding +
        # bit_count Hamming (r16 §2)
        "x15_simhash_neardup": X.q_simhash_neardup,
        # x16: dedup clusters — LONG sketch + materialization changes
        # feeding the CC loop
        "x16_dedup_clusters": X.q_dedup_clusters,
        # x30: ANN recall — generated-SQL builders + overlapped
        # checkpoint materializations (r16 §4/§10)
        "x30_ann_recall": X.q_ann_recall,
        # x31: MinHash clusters — eagerization flips (r16 §1, r17
        # revert) over the shared minhash machinery
        "x31_minhash_clusters": X.q_minhash_clusters,
        # x49: cluster keeper — the doubled scored-subtree checkpoint
        # (r16 §14)
        "x49_cluster_keeper": X.q_cluster_keeper,
        # x69: LSH tuning sweep — one tagged candidate frame + single
        # jaccard_verify pass (r16 §6)
        "x69_lsh_tuning": X.q_lsh_tuning,
        # x78: near-dup method table — same §6 restructure + LONG
        # simhash edges
        "x78_neardup_method_table": X.q_neardup_method_table,
        # t11: stateful momentum — the incremental MACD line-history
        # kernel rewrite (r16 §17)
        "t11_stateful_momentum": _t11_stateful_momentum,
        # t17: late-drop proof — three pre-counts folded into one
        # aggregation pass (r16 §13)
        "t17_late_drop": _t17_late_drop,
        # t18: streaming KMV — foreachBatch expression trees hoisted
        # to sink construction (r16 §9)
        "t18_stream_kmv": _t18_stream_kmv,
        # t23: drift accounting — quarantining_ingest_sink's static
        # expression trees hoisted (r16 §9); also the quarantine/drift
        # accounting family's in-window carrier now that t25 is
        # displaced
        "t23_stream_drift_accounting": _t23_stream_drift_accounting,
        # ------------------------------------------------- entry 50 ends
        # -- displaced THIS round (round 17): the calendar-rotation
        # candidates the r16 verdict #2 orders displaced in favor of
        # the thirteen rewritten queries — eight r13 births on their
        # third green (t25, t26, a19, x79, a20, t27, s13, w25) and
        # five r14 births on their second (s14, j7, x80, d9, s15),
        # each subsumed per the inline notes (displacement set vetted
        # in ROTATION_PLAN_r17.md); all stay pytest-oracle-checked
        # every session --------------------------------------------------
        # t25: the streaming schema-evolution/quarantine accounting is
        # carried in-window by t23 (rotated back in — the quarantining
        # ingest sink's drift/quarantine accounting over the same
        # PERMISSIVE+corrupt-column machinery) and x74's funnel
        # conservation rows; the idempotent per-batch sinks ride
        # pinned t7's crash-retry adjudication
        "t25_stream_evolving_ingest": _t25_stream_evolving_ingest,
        # t26: the composed inference loop is carried in-window by
        # pinned ml7 (the IDENTICAL fixed-coefficient logistic scorer
        # + lag matrix it re-runs every round) and pinned t7 (the
        # epoch-idempotent sink contract); the stream-static probe
        # rides pinned t13's stream machinery
        "t26_stream_inference_loop": _t26_stream_inference_loop,
        # a19: batch sessionization is carried in-window by t28 — its
        # own streaming twin, which runs the IDENTICAL closed-session
        # law as its oracle — and pinned t4b's streaming session
        # windows
        "a19_sessionization": _a19_sessionization,
        # x79: graded ANN ranking quality is carried in-window by x75
        # (the ANN-representation recall anchor, pinned-keeper) and
        # x30 (rotated in — the measured-recall kernel over the same
        # method set); the NDCG/MRR algebra stays pytest-oracle-checked
        "x79_ann_ranking_quality": X.q_ann_ranking_quality,
        # a20: the HLL register-max distinct algebra is carried
        # in-window by pinned a12 (sketch-vs-exact parity) and t18
        # (rotated in — the KMV bottom-k mergeable-distinct sketch
        # maintained across micro-batches)
        "a20_hll_distinct": _a20_hll_distinct,
        # t27: the append-only epoch-idempotent sketch store is
        # carried in-window by t30 (incremental monoid maintenance
        # over the same append-only epoch store) and t18 (rotated in —
        # the same sketch-across-batches machinery); oracle = a20's
        # SQL, pytest-checked with it
        "t27_stream_hll_merge": _t27_stream_hll_merge,
        # s13: static directory pruning is carried in-window by j8
        # (the join-derived runtime pruning proof over the same hive
        # layout, scan-metric-audited the same way) and s17 (the
        # pruning trilogy's column member)
        "s13_partition_pruned_scan": _s13_partition_pruned_scan,
        # w25: the ROWS-frame rolling OLS is carried in-window by w26
        # (the RANGE-frame twin computing the same four moment
        # aggregates, the harder time-horizon form)
        "w25_rolling_beta": _w25_rolling_beta,
        # s14: min/max row-group skipping is carried in-window by s16
        # (which re-runs s14's full numOutputRows sandwich on BOTH
        # clustered layouts every round) and s17's executed-scan proof
        # discipline
        "s14_minmax_skipped_scan": _s14_minmax_skipped_scan,
        # j7: the static broadcast-plan invariant is carried in-window
        # by j10 (whose executed-plan proof requires the broadcast
        # hash join after the runtime demotion) and pinned j5 +
        # keeper q5 (the broadcast-dim snowflake assemblies)
        "j7_broadcast_proof": _j7_broadcast_proof,
        # x80: the sketch-size sweep is carried in-window by x69
        # (rotated in — the band-LSH tuning sweep over the same
        # shingle→minhash→band machinery) and x81 (the sweep-table
        # family); the bytes-vs-accuracy table stays
        # pytest-oracle-checked
        "x80_minhash_size_sweep": X.q_minhash_size_sweep,
        # d9: the salt-balance layout model is carried in-window by d8
        # (the skew measurement over the same per-key distribution,
        # keeper) and j9 (the AQE skew proof adjudicating the runtime
        # cure)
        "d9_salt_balance": _d9_salt_balance,
        # s15: the compaction lifecycle's skip re-proof is carried
        # in-window by s16 (the footer-census clustering proofs) and
        # pinned t7 (the epoch store's exactly-once contract); the
        # zero-data-loss oracle stays pytest-checked
        "s15_epoch_compaction": _s15_epoch_compaction,
        # -- displaced in round 16: the eight r12 births on
        # their third green plus a14 (r8-born, seven-times green),
        # subsumed per the inline notes (displacement set vetted in
        # ROTATION_PLAN_r16.md; t23/x78 rotated back IN r17 post-
        # rewrite); all stay pytest-oracle-checked every
        # session ------------------------------------------------------
        # a14: the GROUPING SETS / Expand family is carried in-window
        # by a17 (the declared-values PIVOT — the same Expand
        # machinery with declared categories); the rollup/cube
        # variants stay pytest-oracle-checked
        "a14_grouping_sets": _a14_grouping_sets,
        # s12: the JSONL widen-and-union evolution ingest is carried
        # in-window by t23 (the quarantining ingest's drift accounting
        # over the same PERMISSIVE widen contract, rotated back in)
        # and pinned s8-family machinery in pytest
        "s12_jsonl_evolution_ingest": _s12_jsonl_evolution_ingest,
        # a15: the clickstream funnel is carried in-window by t28
        # (sessionization's streaming twin — the same event-sequence
        # analytics family), q21 (the EXISTS/LEFT SEMI correlation
        # family), and t30 (the clickstream rollup family)
        "a15_funnel_conversion": _a15_funnel_conversion,
        # a16: the retention-cohort rollup is carried in-window by t30
        # — its own streaming twin, which runs the IDENTICAL cohort
        # SQL as its oracle plus the min-monoid disorder law
        "a16_retention_cohorts": _a16_retention_cohorts,
        # w24: the batch gap-fill spine is carried in-window by t28
        # (the stateful carry/close machinery) and pinned t6b (the
        # outer-join null-detection family); the LOCF kernel stays
        # pytest-oracle-checked
        "w24_gap_fill_locf": _w24_gap_fill_locf,
        # a18: the TWAP duration-weighted rollup is carried in-window
        # by a17 (the declared-values reshape family, STAYS in-window)
        # and w26 (duration/RANGE-frame time semantics)
        "a18_twap_daily": _a18_twap_daily,
        # t24: the streaming gap-fill twin is carried in-window by t28
        # (the stateful-operator carrier with the cross-batch
        # session-merge proof — the same O(1)-state cross-batch carry
        # law t24 proved for gap fill); the batch kernel stays
        # pytest-oracle-checked
        "t24_stream_gap_fill": _t24_stream_gap_fill,
        # -- displaced in round 15: eight thrice-or-more-green
        # queries, subsumed per the inline notes (displacement set
        # vetted in ROTATION_PLAN_r15.md; x69 rotated back IN r17
        # post-rewrite); all stay pytest-oracle-checked every
        # session ------------------------------------------------------
        # x77 (note updated r17: x79 displaced): the IVF nprobe
        # recall/cost sweep is carried in-window by x75 (the
        # ANN-representation recall anchor, same measured-recall
        # kernel over the same IVF index family) and x30 (recall@k
        # over the same method set, rotated back in); the
        # nprobe-sweep table stays pytest-oracle-checked
        "x77_ivf_nprobe_sweep": X.q_ivf_nprobe_sweep,
        # s10 (note updated r17: t25 displaced): the contract-drift
        # DETECT report is carried in-window by t23 (the quarantining
        # ingest's per-column drift accounting, rotated back in —
        # the same violation census) and x74's per-stage funnel
        # accounting
        "s10_schema_drift": _s10_schema_drift,
        # s11 (note updated r17: t25 displaced): the schema-
        # evolution-tolerant CSV ingest is carried in-window by t23
        # (the quarantining streaming ingest over the same
        # PERMISSIVE+corrupt-column parse contract, rotated back in);
        # the widen-to-declared-union kernel stays
        # pytest-oracle-checked
        "s11_schema_evolution_ingest": _s11_schema_evolution_ingest,
        # ml5a (note updated r17: t26 displaced): the min-max scale +
        # deterministic forward prefix is carried in-window by pinned
        # ml7 (the identical fixed-coefficient logistic scorer over
        # the same lag matrix, re-run every round); the windowed
        # tensor assembly stays pytest-oracle-checked
        "ml5a_window_scaler": X.q_ml_window_scaler,
        # w23 (note updated r17: w25 displaced): the bounded-frame
        # indicator family is carried in-window by w26 (the
        # RANGE-frame rolling beta over the same per-key ordered
        # frames) and the pinned flagships' W1-W8 (stochastic
        # %K is W5 — Williams %R is its affine twin); the kernel stays
        # pytest-oracle-checked
        "w23_williams_r": _w23_williams_r,
        # t20: keyed running-moment streaming state is carried
        # in-window by pinned t9 (the same applyInPandasWithState
        # machinery) and t28 (the stateful-operator carrier with the
        # cross-batch merge proof); the anomaly-gate fold stays
        # pytest-pinned
        "t20_stream_anomaly": _t20_stream_anomaly,
        # q4 (note updated r17: a19 displaced): the order-priority
        # EXISTS semi-join is carried in-window by q21 (the EXISTS +
        # NOT EXISTS double correlation, the harder form) and t28's
        # event-sequence rollup (a19's streaming twin); the date-range
        # count rollup stays pytest-oracle-checked
        "q4_order_priority": _q4_order_priority,
        # -- displaced in round 14: nine round-11-born
        # queries, each THRICE driver-green (r11 + r12 + r13), subsumed
        # per the inline notes (displacement set vetted in
        # ROTATION_PLAN_r14.md); all stay pytest-oracle-checked every
        # session ------------------------------------------------------
        # q8: the customer-nation × supplier-nation lineitem/orders
        # snowflake (broadcast dims) is carried in-window by q5, which
        # assembles the SAME region-gated snowflake and runs its
        # revenue sum every round; the conditional market-share sum is
        # the declared-values CASE family carried by in-window a17
        "q8_market_share": _q8_market_share,
        # q9: the snowflake view assembly is carried in-window by q5
        # (same dims-around-lineitem broadcast plan); the per-group
        # profit CASE/share algebra is carried by in-window a17's
        # declared-values pivot
        "q9_product_profit": _q9_product_profit,
        # q12 (note updated r15: q4 displaced): the priority CASE
        # classification is carried in-window by a17 (declared-values
        # CASE pivot over event types) and the order-priority
        # semi-join family by q21's EXISTS correlation (q4's own
        # subsumption carrier)
        "q12_lateness_priority": _q12_lateness_priority,
        # q14: the conditional-share CASE (promo revenue fraction) is
        # carried in-window by a17's declared-values pivot — the same
        # sum(CASE WHEN type …)/sum(total) kernel
        "q14_promo_revenue": _q14_promo_revenue,
        # q18: the group-HAVING key-set feeding a semi join (large-
        # order keys) is carried in-window by q21's EXISTS/NOT-EXISTS
        # key-set correlation, and the customer×orders×lineitem
        # assembly by pinned j5's bucketed join
        "q18_large_orders": _q18_large_orders,
        # q20: the supplier semi-join family is carried in-window by
        # q21 (the harder double-correlated EXISTS + NOT EXISTS form)
        # and the scalar availability gate by q11's global-scalar-
        # broadcast-back kernel
        "q20_bulk_suppliers": _q20_bulk_suppliers,
        # s8 (note updated r17: t25 displaced): the schema-enforced
        # CSV parse + quarantine split is carried in-window by t23
        # (the quarantining streaming ingest running the same
        # PERMISSIVE+corrupt-column contract, rotated back in); the
        # ingest accounting rows ride t23's drift census and x74's
        # funnel conservation
        "s8_csv_quarantine": _s8_csv_quarantine,
        # s9 (note updated r17: t25 displaced): the JSONL quarantine
        # split is carried in-window by t23 (the quarantining
        # streaming ingest — drift arriving mid-stream is the
        # strictly harder form of s9's fixed contract)
        "s9_jsonl_quarantine": _s9_jsonl_quarantine,
        # t21 (note updated r17: t25 displaced): the staged-drop
        # streaming CSV ingest is carried in-window by t23 (the
        # staged-drop quarantining stream, rotated back in); the dual
        # idempotent per-batch sinks ride pinned t7's crash-retry
        # adjudication
        "t21_stream_csv_drop": _t21_stream_csv_drop,
        # -- displaced in round 13: nine round-10-born
        # queries, each THRICE driver-green (r10 + r11 + r12), subsumed
        # per the inline notes; all stay pytest-oracle-checked every
        # session ------------------------------------------------------
        # q7: the two-nation volume snowflake is carried in-window by
        # q5 (note updated r14: q8 displaced), which assembles the
        # SAME customer-nation × supplier-nation lineitem/orders
        # snowflake with broadcast dims and runs the region-gated
        # revenue sum every round
        "q7_nation_volume": _q7_nation_volume,
        # q10 (note updated r15: q4 displaced): the group-HAVING
        # key-set + top-N shape is carried in-window by q21's EXISTS
        # key-set correlation over the pinned j5 customer×orders
        # assembly; the returnflag CASE family rides in-window a17's
        # declared-values pivot
        "q10_returned_items": _q10_returned_items,
        # q13 (note updated r16: w24/a16 displaced): the
        # outer-join-where-the-unmatched-side-matters kernel is
        # carried in-window by pinned t6b (watermark-trimmed LEFT
        # join whose null padding IS the unmatched-side detection);
        # the histogram-of-counts double aggregation is carried by
        # t30 (per-user min cohort → count-of-users — the identical
        # per-entity-aggregate-then-count rollup, a16's twin)
        "q13_customer_distribution": _q13_customer_distribution,
        # q15: the scalar-max-vs-view gate is carried in-window by q11
        # — the same global-scalar-aggregate-broadcast-back-as-filter
        # kernel (HAVING sum > fraction of a one-row global); the
        # revenue view assembly rides q5 (note updated r14: q9
        # displaced)
        "q15_top_supplier": _q15_top_supplier,
        # q16 (note updated r16: a15/a16 displaced): the NOT-IN
        # anti-join is carried in-window by q21 (the EXISTS +
        # NOT EXISTS double correlation, the harder form — the
        # semi/anti join family's carrier); the distinct-per-group
        # count kernel is carried by t30 (distinct (user, week) pairs
        # feeding co-keyed counts — the same expand → two-phase
        # aggregate plan shape)
        "q16_supplier_count": _q16_supplier_count,
        # q17: the correlated-scalar decorrelation (per-group aggregate
        # joined back as a row filter) is carried in-window by q2 —
        # the argmin twin of q17's avg-threshold, same broadcast
        # join-back plan shape
        "q17_small_qty_revenue": _q17_small_qty_revenue,
        # q19 (note updated r14: q14/q20 displaced): disjunctive-
        # predicate evaluation inside a broadcast part-side gate is
        # carried in-window by q2 (the part-probe broadcast gate with
        # composed type/size predicates) and q21's correlated
        # predicate stack; the conditional-sum half rides a17's
        # declared-values CASE pivot
        "q19_disjunctive_revenue": _q19_disjunctive_revenue,
        # q22: the anti-join is carried in-window by q21 (NOT EXISTS,
        # the harder double-correlated form); the scalar-avg-threshold
        # gate is q11's in-window global-scalar-broadcast-back kernel
        "q22_idle_balances": _q22_idle_balances,
        # x76 (note updated r17: x80 displaced): the shingle/gram
        # build + gram-keyed partial aggregation runs in-window inside
        # x69 (the same 8-gram scan feeding LSH banding, rotated back
        # in) and x74's decontamination stage (bench-shingle gram
        # anti-join); the novelty-fraction algebra stays
        # pytest-oracle-checked every session
        "x76_ngram_novelty": X.q_ngram_novelty,
        # -- displaced in round 12: five round-8-born
        # queries, each THRICE driver-green (r9 + r10 + r11), subsumed
        # per the inline notes (t17 rotated back IN r17 post-rewrite);
        # all stay pytest-oracle-checked every
        # session ------------------------------------------------------
        # t15b (note updated r17: t25 displaced): pinned t7
        # adjudicates the epoch-idempotent exactly-once sink and
        # in-window t23 runs idempotent dynamic-partition sinks per
        # batch; the CDC MERGE/snapshot-chain kernel stays
        # pytest-pinned (test_streaming.py snapshot-merge suite)
        "t15b_stream_cdc_sink": _t15b_stream_cdc_sink,
        # x68: the decontamination family is carried in-window by x74
        # (its funnel runs the bench-shingle decontamination stage) and
        # the pinned x28 corpus flagship; the graded-score kernel stays
        # pytest-oracle-checked
        "x68_contamination_scores": X.q_contamination_scores,
        # t19 (note updated r15: t20 displaced): keyed running-moment
        # streaming state is carried in-window by pinned t9 (the same
        # applyInPandasWithState surface) and t28 (the stateful-
        # operator carrier with the cross-batch merge proof)
        "t19_stream_ols": _t19_stream_ols,
        # d7 (note updated r17: t25 displaced): the report family is
        # carried in-window by t23's drift/quarantine accounting
        # (rotated back in) and x74's funnel conservation rows;
        # the orphan/reconciliation kernels stay
        # pytest-oracle-checked
        "d7_quality_checks": _d7_quality_checks,
        # -- displaced in round 11: ten round-8-born queries, each
        # TWICE driver-green (r9 + r10), subsumed per the inline
        # notes (t18 rotated back IN r17 post-rewrite); all stay
        # pytest-oracle-checked every session --------------------------
        # x66: in-window x75 publishes recall@10 for the same JL
        # projections (jl48/32/16 prefixes) through the same
        # measured-recall kernel
        "x66_projected_recall": X.q_projected_recall,
        # t16 (note updated r17: t27 displaced): pinned a12
        # adjudicates the histogram-quantile kernel batch-side; its
        # streamed delivery rides the same foreachBatch machinery as
        # in-window t18's incremental sketch store (rotated back in)
        "t16_stream_hist_quantiles": _t16_stream_hist_quantiles,
        # w22 (note updated r17: w25 displaced): the bounded-frame
        # indicator family is carried in-window by w26 (the
        # RANGE-frame rolling beta over the same per-key ordered
        # frames) and the pinned flagships' W1-W8
        "w22_cmf": _w22_cmf,
        # ml9/ml10 (note updated r15: t20 displaced): the closed-form
        # OLS normal-equation fold and the grouped/k-fold assignment
        # stay pytest-oracle-checked; the streamed keyed-state
        # delivery is carried in-window by pinned t9's identical
        # applyInPandasWithState machinery and t28's stateful-operator
        # proof
        "ml9_grouped_ols": _ml9_grouped_ols,
        "ml10_cv_ols": _ml10_cv_ols,
        # x67: the graph family's component machinery runs in-window
        # beneath x73 (x16's CC); triangle/coefficient kernels stay
        # pytest-pinned
        "x67_clustering_coef": X.q_clustering_coef,
        # x70: in-window x75's pq8-ADC leg recomputes the identical
        # codebook train + m-ordered ADC fold
        "x70_pq_adc_recall": X.q_pq_adc_recall,
        # x71/x72 (note updated r17: t25 displaced): the report family
        # is carried in-window by x74's funnel rows and t23's
        # drift/quarantine accounting (rotated back in); the label×dim
        # / source×token algebra stays pytest-oracle-checked
        "x71_centroid_matrix": X.q_centroid_matrix,
        "x72_source_kl": X.q_source_kl,
        # -- displaced in round 10: the thirteen round-8-born
        # queries that got their second green driver row in r9's
        # all-but-w23-green window (green r8-local + r9), each subsumed
        # per the inline notes; all stay pytest-oracle-checked every
        # session --------------------------------------------------------
        # x59/x60: the stride-fingerprint and delta-vs-snapshot banding
        # kernels stay unit-pinned; the dedup family is carried
        # in-window by x44/x48/x28 and streaming t13
        "x59_frame_dedup": X.q_frame_dedup,
        "x60_incremental_dedup": X.q_incremental_dedup,
        # t14: pinned t13 adjudicates the streaming dedup gate; t14's
        # per-batch_id idempotent index append is pytest-pinned
        "t14_stream_index_dedup": _t14_stream_index_dedup,
        # x61 (note updated r13: x67 displaced r11): the graph
        # family's machinery runs in-window beneath x73 (x16's CC);
        # the degree-oriented triangle-count kernel stays
        # pytest-oracle-checked every session
        "x61_triangle_counts": X.q_triangle_counts,
        # w21 (note updated r17: w25 displaced): the bounded-frame
        # indicator family is carried in-window by w26 and the
        # pinned flagships' W1-W8; the Wilder recurrence is
        # pytest-pinned
        "w21_adx": _w21_adx,
        # x62 (note updated r13: ml9/ml10 displaced r11): the
        # classifier family is carried by pinned ml7 (the same
        # fixed-coefficient scorer + lag matrix, in-window every
        # round); the NB token-likelihood algebra stays
        # pytest-oracle-checked
        "x62_nb_classifier": X.q_nb_classifier,
        # x63: in-window x75 publishes int8 recall through the same
        # scalar quantizer (x63's exact formula, row-local fold)
        "x63_embed_quantize": X.q_embed_quantize,
        # x64: DSIR importance weights are dependent-free
        "x64_dsir_weights": X.q_dsir_weights,
        # ml8 (note updated r17: w25 displaced): the closed-form
        # OLS normal-equation fold's streamed delivery is carried
        # in-window by pinned t9's keyed-state machinery and w26's
        # batch OLS beta/alpha moments (t19/t20's own subsumption
        # targets); ml8's forecast oracle stays pytest-checked every
        # session
        "ml8_linreg_forecast": _ml8_linreg,
        # a13 (note updated r16: a14 displaced): in-window a17's
        # declared-values PIVOT adjudicates the same Expand family
        # (CUBE/GROUPING SETS plan to the identical Expand operator)
        "a13_cube": _a13_cube,
        # d5/t15 (note updated r17: t25 displaced): the replay-safe
        # exactly-once sink family is carried in-window by pinned t7
        # (crash-retry replay) and t23's idempotent per-batch sinks
        # (t15b's own subsumption chain); the CDC MERGE/snapshot-chain
        # kernel stays pytest-pinned (test_streaming.py snapshot-merge
        # suite)
        "d5_cdc_apply": _d5_cdc_apply,
        "t15_stream_cdc_apply": _t15_stream_cdc_apply,
        # x65: in-window x75's jl16/32/48 prefixes subsume the JL
        # projection method (rounding caveat documented at x75)
        "x65_random_projection": X.q_random_projection,
        # -- displaced in round 9 to make room for the 22-query round-8
        # backlog; each two-rounds driver-green (r7 AND r8) and
        # subsumed per the inline notes (t11/x49 rotated back IN r17
        # post-rewrite); all stay pytest-oracle-checked
        # every session ------------------------------------------------
        # x25: the chunking kernel has no in-window dependents; the
        # greedy token-budget packer it feeds is adjudicated inside
        # in-window x28 every round
        "x25_chunk_docs": X.q_chunk_documents,
        # w19 (note updated r17: w25 displaced): the bounded-frame
        # indicator family is carried in-window by w26 and the
        # pinned flagships' W1-W8 (ATR is W7, Keltner's midline/band
        # algebra composes it); the Wilder recurrence stays
        # pytest-pinned
        "w19_keltner": _w19_keltner,
        # ml6: in-window ml7 recomputes the IDENTICAL fixed-coefficient
        # logistic scorer over the same lag matrix before the AUC sweep
        "ml6_calibration": _ml6_calibration,
        # x54: A-Res weighted sampling is dependent-free
        "x54_weighted_sample": X.q_weighted_sample,
        # x55 (note updated r13: t18 displaced r11): the sketch
        # family's driver anchor is pinned a12 (sketch-vs-exact
        # parity in-window every round); the KMV bottom-k sketch and
        # its union algebra stay unit- and pytest-oracle-pinned
        "x55_kmv_setops": X.q_kmv_setops,
        # t12 (note updated r17: t27 displaced): streamed keyed-sketch
        # delivery rides the same foreachBatch machinery as in-window
        # t18's incremental sketch store (rotated back in); pinned a12
        # adjudicates the sketch-vs-exact kernel batch-side; the
        # count-min merge algebra stays unit-pinned by the
        # sketch-merge tests
        "t12_stream_countmin": _t12_stream_countmin,
        # x57: TF-IDF doc search is dependent-free
        "x57_doc_search": X.q_doc_search,
        # x42: the interpolated-bigram LM family is dependent-free now
        "x42_ppl_buckets": X.q_ppl_buckets,
        # x41: BPE train+encode is dependent-free, seeded pytest pins
        "x41_bpe_encode": X.q_bpe_encode,
        # x50/x51 (note updated r13: t16/t18 displaced r11): pinned
        # a12 adjudicates the sketch-vs-exact kernel in-window; the
        # count-min/KMV merge algebra stays unit-pinned and both batch
        # forms stay pytest-oracle-checked every session
        "x50_countmin_topk": X.q_countmin_topk,
        "x51_kmv_distinct": X.q_kmv_distinct,
        # x52 (note updated r17: t25 displaced): the datacard composes
        # x1-family stats; the report-query family is carried
        # in-window by t23's drift/quarantine accounting and x74's
        # funnel accounting rows (the same carriers d7's and x72's own
        # subsumption notes point at)
        "x52_corpus_datacard": X.q_corpus_datacard,
        # x53 (note updated r13: x68 displaced r12): the bench-shingle
        # contamination family is carried in-window by x74 (its funnel
        # runs the decontamination stage) and the pinned x28 corpus
        # flagship; the Bloom FP-rate measurement stays pytest-pinned
        "x53_bloom_decontaminate": X.q_bloom_decontaminate,
        # w15/w16/w17/w20 (note updated r17: w25 displaced): the
        # bounded-frame indicator family is carried in-window by
        # w26 (the RANGE-frame rolling beta) and the pinned flagships'
        # W1-W8 frames; the Wilder/EWMA/OBV/Donchian-midline
        # kernels stay pytest-oracle-checked every session
        "w15_rsi": _w15_rsi,
        "w16_obv": _w16_obv,
        "w17_macd": _w17_macd,
        "w20_ichimoku": _w20_ichimoku,
        # a11 (note updated r16: a14/a18 displaced): the grouped-agg/
        # reshape family is adjudicated in-window by a17's
        # declared-values PIVOT (the Expand-family carrier a13's CUBE
        # and a14's GROUPING SETS both ride); F10 bucketing rides
        # every in-window candle flagship, and w26's RANGE-frame
        # time-weighting carries the duration semantics of a18's TWAP
        # (a11's harder sibling)
        "a11_vwap_daily": _a11_vwap_daily,
        # x47 (note updated r13: x61/x67 displaced r10/r11): the graph
        # family's component machinery runs in-window beneath x73
        # (x16's min-label propagation + pointer jumping under the
        # leakage-free split); the PR power-iteration loop and the
        # triangle/coefficient kernels stay pytest-oracle-checked
        "x47_pagerank": X.q_pagerank,
        # x58 (note updated r17: t25 displaced): the per-source
        # token algebra is carried in-window by x74's funnel
        # accounting and t23's drift/quarantine accounting (x72's own
        # subsumption carriers); the overlap/KL report stays
        # pytest-oracle-checked
        "x58_source_overlap": X.q_source_overlap,
        # -- displaced in round 8 (each two-rounds driver-green r6+r7
        # and subsumed; all stay pytest-oracle-checked every session) --
        "x29_zorder_key": X.q_zorder_key,
        "w13_rolling_median": _w13_rolling_median,
        "a10_multires_rollup": _a10_multires_rollup,
        "ml4_confusion": _ml4_confusion,
        "x43_dup_spans": X.q_dup_spans,
        "x45_containment": X.q_containment_neardup,
        "x46_shuffle_shards": X.q_shuffle_shards,
        "w18_donchian": _w18_donchian,
        "s6_session_gate": _s6_session_gate,
        "x39_temperature_mix": X.q_temperature_mix,
        "ml2b_feature_matrix": X.q_ml_feature_matrix,
        "w12_rolling_corr": _w12_rolling_corr,
        "ml5_window_mlp": X.q_ml_window_mlp,  # rows-only (no oracle;
        # note updated r17: t26 displaced — the deterministic
        # scale+forward prefix is carried in-window by pinned ml7's
        # scorer; ml5a itself stays pytest-oracle-checked)

        # -- displaced in round 7 (multi-round driver-green; x30
        # rotated back IN r17 post-rewrite) ---------------------------
        "a9_corr_matrix": _a9_corr_matrix,
        "j2_salted_join": _j2_salted_join,
        "a8_percentiles": _a8_percentiles,
        "t10_stream_static_join": _t10_stream_static_join,
        # -- rotated out in earlier rounds (multi-round driver-green
        # or, for ml2, five-rounds rows-only; each subsumed per the
        # inline comments above; x16 rotated back IN r17
        # post-rewrite) --------------------------------------------------
        "ml2_train_metrics": X.q_ml_train_metrics,  # rows-only (no oracle)
        "x19_tfidf_topk": X.q_tfidf_topk,
        "x36_source_quota": X.q_source_quota,
        "t6_stream_interval_join": _t6_stream_interval_join,
        "t1_stream_dedup": _t1_stream_dedup,
        "x26_audio_frames": X.q_audio_frames,
        "x24_pack_sequences": X.q_pack_sequences,
        "w14_ewma": _w14_ewma,
        "ml3_score_parity": _ml3_score_parity,
        "x34_kmeans_train": X.q_kmeans_train,
        "x37_bigram_logprob": X.q_bigram_logprob,
        "x38_chunk_dedup": X.q_chunk_dedup,
        "x40_bpe_merges": X.q_bpe_merges,
        "d4_scd2_intervals": _d4_scd2_intervals,
        "pipeline_full_row": _pipeline_full_row,
        "x11b_ann_lsh_multi": X.q_ann_lsh_multi,
        "x32_boilerplate": X.q_boilerplate,
        "w11_range_frame": _w11_range_frame,
        "j3_asof_last": _j3_asof_last,
        "a6_sliding_joinback": _a6_sliding_joinback,
        "a7_rollup": _a7_rollup,
        "q3_shipping_priority": _q3_shipping_priority,
        "q6_forecast_revenue": _q6_forecast_revenue,
        "x21_pii_scrub": X.q_pii_scrub,
        "x33_unigram_logprob": X.q_unigram_logprob,
        # -- rotated out in round 5 (three-rounds driver-green, each
        # subsumed by an in-window flagship; see the window comment) ---
        "w9_partitioned_indicators": _w9_partitioned_indicators,
        "w10_topk_per_group": _w10_topk_per_group,
        "j1_interval_join": _j1_interval_join,
        "a5_sliding_avg": _a5_sliding_avg,
        "ml1_lag_matrix": X.q_ml_lag_matrix,
        "x23_repetition": X.q_repetition_signals,
        "x17_split_assign": X.q_split_assign,
        "x18_vocab_topk": X.q_vocab_topk,
        "x20_stratified_sample": X.q_stratified_sample,
        "x22_decontaminate": X.q_decontaminate,
        # -- flagship-subsumed singles (two rounds driver-green; w1-w7
        # re-verified inside t9 + both pipelines, f1/f13 inside
        # pipeline_full_row, candles inside every indicator flagship;
        # all pytest-covered every session) --------------------------------
        "q1_pricing_summary": _q1_pricing_summary,
        "t4_session_windows": _t4_session_windows,
        "f2_book_features": _f2_book_features,
        "candles_5min": _candles_5min,
        "w1_vol_ma": _w1_vol_ma,
        "w2_price_ma": _w2_price_ma,
        "w3_delta_ma": _w3_delta_ma,
        "w4_bollinger": _w4_bollinger,
        "w5_stochastic": _w5_stochastic,
        "w6_price_change": _w6_price_change,
        "w7_atr": _w7_atr,
        "w8_targets": _w8_targets,
        "f1_wick": _f1_wick,
        "f8_calendar": _f8_calendar,
        "f13_minmax_norm": _f13_minmax_norm,
        "d1_dedup_exact": _d1_dedup_exact,
        "d3_latest_point": _d3_latest_point,
        "x5_dedup_exact_docs": X.q_dedup_exact_docs,
        # -- variants + singles (driver-green in round 3;
        # pytest-covered; x4/x6/x15 rotated back IN r17 post-rewrite) --
        "x8_ann_brute_topk": X.q_ann_brute_topk,
        "x11_ann_lsh_topk": X.q_ann_lsh_topk,
        "x12_ann_ivf_topk": X.q_ann_ivf_topk,
        "x9_embed_neardup": X.q_embed_neardup,
        "x10_multimodal_features": X.q_multimodal_features,
        "x7_ngram_jaccard": X.q_ngram_jaccard,
        "x6b_minhash_xxhash": X.q_minhash_xxhash,  # rows-only (no xxhash64 in SQL)
        "x6c_minhash_oph": X.q_minhash_oph,
        "x1_text_stats": X.q_text_stats,
        "x2_lang_id": X.q_lang_id,
        "x3_fingerprints": X.q_fingerprints,
        "x13_rolling_fingerprint": X.q_rolling_fp,
        "x14_quality_filter": X.q_quality_filter,
        "q5_region_revenue": _q5_region_revenue,
        # (q18_large_orders listed in the round-14 displaced block
        # above: the r3 HAVING-join version was superseded by the r11
        # rebuild with the top-N and broadcast-direction upgrades)
        "a1_minmax_params": _a1_minmax_params,
        "a2_event_stats": _a2_event_stats,
        "f7_relative_levels": _f7_relative_levels,
        "d2_anti_join": _d2_anti_join,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB ANSI SQL over pre-registered views)

_BOOK_CTE = f"WITH book AS ({book_oracle_cte()})"


def _floor_div(expr: str, d: int) -> str:
    """DuckDB ``//`` truncates toward zero; this floor-aligns negative
    values the way Spark's ``time_bucket_us`` does (r6 review: the
    band-join oracles must bucket pre-1970 timestamps identically to
    the engine, exact integer arithmetic on both sides)."""
    return f"(({expr}) // {d} - CASE WHEN ({expr}) % {d} < 0 THEN 1 ELSE 0 END)"


def _delta_expr(levels: int = 7) -> str:
    """Mirror of features.delta_indicator (F4): Σ ask sizes − Σ bid sizes."""
    asks = " + ".join(f"COALESCE(ask_{i}_size, 0)" for i in range(levels))
    bids = " + ".join(f"COALESCE(bid_{i}_size, 0)" for i in range(levels))
    return f"(({asks}) - ({bids}))"


def _f2_oracle() -> str:
    imb = "(bid_0_size / (bid_0_size + ask_0_size))"
    asks = " + ".join(f"COALESCE(ask_{i}_size, 0)" for i in range(7))
    bids = " + ".join(f"COALESCE(bid_{i}_size, 0)" for i in range(7))
    return f"""
        {_BOOK_CTE}
        SELECT event_id,
            COALESCE({_wa_sql("bid")}, 0) AS bids_ord_WA,
            COALESCE({_wa_sql("ask")}, 0) AS asks_ord_WA,
            COALESCE((bid_0_size - ask_0_size) / (bid_0_size + ask_0_size), 0)
                AS vol_imbalance,
            COALESCE(({asks}) - ({bids}), 0) AS delta,
            COALESCE({imb} * ask_0 + (1 - {imb}) * bid_0, 0) AS micro_price,
            COALESCE(CASE WHEN bid_0 <> 0 AND ask_0 <> 0
                          THEN bid_0 - ask_0 ELSE 0 END, 0) AS spread
        FROM book
    """


def _f7_oracle() -> str:
    outs = []
    for side in ("bid", "ask"):
        for i in range(1, 7):
            outs.append(
                f"CASE WHEN {side}_{i} <> 0 THEN {side}_0 - {side}_{i} "
                f"ELSE 0 END AS {side}_{i}"
            )
    sel = ",\n            ".join(outs)
    return f"""
        {_BOOK_CTE}
        SELECT event_id,
            {sel}
        FROM book
    """


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT
                l_returnflag,
                l_linestatus,
                sum(l_quantity) AS sum_qty,
                sum(l_extendedprice) AS sum_base_price,
                sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
                avg(l_quantity) AS avg_qty,
                avg(l_extendedprice) AS avg_price,
                avg(l_discount) AS avg_disc,
                count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "candles_5min": candles_oracle_sql(),
        "w1_vol_ma": f"""
            {_CANDLES_CTE}
            SELECT bucket_start, volume,
                avg(volume) OVER (ORDER BY bucket_start
                    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS vol_MA6,
                avg(volume) OVER (ORDER BY bucket_start
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vol_MA20
            FROM candles
        """,
        "w2_price_ma": f"""
            {_CANDLES_CTE}
            SELECT bucket_start, close,
                avg(close) OVER (ORDER BY bucket_start
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS price_MA20
            FROM candles
        """,
        "w3_delta_ma": f"""
            {_BOOK_CTE},
            d AS (
                SELECT CAST(epoch(time_bucket(INTERVAL '300 seconds', ts))
                            AS BIGINT) AS bucket_start,
                       avg({_delta_expr()}) AS delta
                FROM book GROUP BY 1
            )
            SELECT bucket_start, delta,
                avg(delta) OVER (ORDER BY bucket_start
                    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS delta_MA12
            FROM d
        """,
        "w4_bollinger": f"""
            {_CANDLES_CTE}
            SELECT bucket_start, close,
                (avg(close) OVER w20 + 2 * stddev_pop(close) OVER w20) - close AS upper_BB_dist,
                close - (avg(close) OVER w20 - 2 * stddev_pop(close) OVER w20) AS lower_BB_dist
            FROM candles
            WINDOW w20 AS (ORDER BY bucket_start ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        """,
        "w5_stochastic": f"""
            {_CANDLES_CTE}
            SELECT bucket_start, close,
                (close - min(close) OVER w15) / (max(close) OVER w15 - min(close) OVER w15) AS stoch
            FROM candles
            WINDOW w15 AS (ORDER BY bucket_start ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
        """,
        "w6_price_change": f"""
            {_CANDLES_CTE}
            SELECT bucket_start, close,
                close - lag(close, 1) OVER (ORDER BY bucket_start) AS price_change
            FROM candles
        """,
        "w7_atr": f"""
            {_CANDLES_CTE}
            SELECT bucket_start, high, low,
                avg(high - low) OVER (ORDER BY bucket_start
                    ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS ATR
            FROM candles
        """,
        "w8_targets": f"""
            {_CANDLES_CTE},
            atr AS (
                SELECT *, avg(high - low) OVER (ORDER BY bucket_start
                    ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS ATR
                FROM candles
            )
            SELECT bucket_start, close,
                CASE WHEN lead(close, 8) OVER w >= close + 1.5 * ATR THEN 1 ELSE 0 END AS up1,
                CASE WHEN lead(close, 8) OVER w <= close - 1.5 * ATR THEN 1 ELSE 0 END AS down1,
                CASE WHEN lead(close, 15) OVER w >= close + 3 * ATR THEN 1 ELSE 0 END AS up2,
                CASE WHEN lead(close, 15) OVER w <= close - 3 * ATR THEN 1 ELSE 0 END AS down2
            FROM atr
            WINDOW w AS (ORDER BY bucket_start)
        """,
        "w9_partitioned_indicators": """
            WITH candles AS (
                SELECT event_type AS symbol,
                    CAST(epoch(time_bucket(INTERVAL '300 seconds', ts)) AS BIGINT)
                        AS bucket_start,
                    arg_min(value, event_id) AS open,
                    max(value) AS high,
                    min(value) AS low,
                    arg_max(value, event_id) AS close,
                    sum(value) AS volume,
                    count(*) AS n_events
                FROM events
                GROUP BY 1, 2
            ),
            ind AS (
                SELECT symbol, bucket_start, close, high, low,
                    avg(volume) OVER (PARTITION BY symbol ORDER BY bucket_start
                        ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS vol_MA6,
                    avg(volume) OVER (PARTITION BY symbol ORDER BY bucket_start
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vol_MA20,
                    avg(close) OVER w20 AS price_MA20,
                    (avg(close) OVER w20 + 2 * stddev_pop(close) OVER w20) - close
                        AS upper_BB_dist,
                    close - (avg(close) OVER w20 - 2 * stddev_pop(close) OVER w20)
                        AS lower_BB_dist,
                    (close - min(close) OVER w15)
                        / (max(close) OVER w15 - min(close) OVER w15) AS stoch,
                    close - lag(close, 1) OVER (PARTITION BY symbol
                        ORDER BY bucket_start) AS price_change,
                    avg(high - low) OVER w15 AS ATR
                FROM candles
                WINDOW
                    w20 AS (PARTITION BY symbol ORDER BY bucket_start
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
                    w15 AS (PARTITION BY symbol ORDER BY bucket_start
                        ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
            )
            SELECT symbol, bucket_start, close,
                vol_MA6, vol_MA20, price_MA20,
                upper_BB_dist, lower_BB_dist, stoch, price_change, ATR,
                CASE WHEN lead(close, 8) OVER w >= close + 1.5 * ATR
                     THEN 1 ELSE 0 END AS up1,
                CASE WHEN lead(close, 8) OVER w <= close - 1.5 * ATR
                     THEN 1 ELSE 0 END AS down1,
                CASE WHEN lead(close, 15) OVER w >= close + 3 * ATR
                     THEN 1 ELSE 0 END AS up2,
                CASE WHEN lead(close, 15) OVER w <= close - 3 * ATR
                     THEN 1 ELSE 0 END AS down2
            FROM ind
            WINDOW w AS (PARTITION BY symbol ORDER BY bucket_start)
        """,
        "a5_sliding_avg": """
            SELECT window_start,
                   window_start + 600 AS window_end,
                   avg(value) AS avg_value,
                   count(*) AS n
            FROM (
                SELECT (epoch_us(ts) // 300000000 - o) * 300 AS window_start,
                       value
                FROM events, (VALUES (0), (1)) t(o)
            )
            GROUP BY window_start
        """,
        "a6_sliding_joinback": """
            WITH agg AS (
                SELECT window_start,
                       window_start + 600 AS window_end,
                       avg(value) AS avg_value,
                       count(*) AS n
                FROM (
                    SELECT (epoch_us(ts) // 300000000 - o) * 300 AS window_start,
                           value
                    FROM events, (VALUES (0), (1)) t(o)
                )
                GROUP BY window_start
            ),
            ev AS (
                SELECT event_id, value,
                       (epoch_us(ts) // 300000000 - o) * 300 AS window_start
                FROM events, (VALUES (0), (1)) t(o)
            )
            SELECT ev.event_id, ev.window_start, agg.window_end,
                   ev.value, agg.avg_value, agg.n
            FROM ev JOIN agg USING (window_start)
        """,
        "t4_session_windows": """
            WITH e AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                >= 1800000000
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
                SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sess
                FROM e
            )
            SELECT user_id,
                   epoch_us(min(ts)) // 1000000 AS session_start,
                   epoch_us(max(ts)) // 1000000 AS session_last,
                   count(*) AS n_events,
                   sum(value) AS sum_value
            FROM s GROUP BY user_id, sess
        """,
        "f1_wick": f"""
            {_CANDLES_CTE}
            SELECT bucket_start, open, close,
                high - low AS candle_size,
                CASE WHEN close >= open THEN high - close ELSE low - close END
                    AS wick_size,
                (CASE WHEN close >= open THEN high - close ELSE low - close END)
                    / (high - low) AS wick_prct
            FROM candles
        """,
        "f2_book_features": _f2_oracle(),
        "f7_relative_levels": _f7_oracle(),
        "f8_calendar": """
            WITH cal AS (
                SELECT event_id,
                    CAST(isodow(ts) AS INT) AS day_of_week,
                    CAST(ceil(date_part('day', ts) / 7) AS INT) AS week_of_month,
                    CASE WHEN hour(ts) >= 11 AND minute(ts) >= 30
                         THEN 0 ELSE 1 END AS session_start
                FROM events
            )
            SELECT event_id, day_of_week, week_of_month, session_start,
                CAST(day_of_week = 1 AS INT) AS day_1,
                CAST(day_of_week = 2 AS INT) AS day_2,
                CAST(day_of_week = 3 AS INT) AS day_3,
                CAST(day_of_week = 4 AS INT) AS day_4,
                CAST(week_of_month = 1 AS INT) AS week_1,
                CAST(week_of_month = 2 AS INT) AS week_2,
                CAST(week_of_month = 3 AS INT) AS week_3,
                CAST(week_of_month = 4 AS INT) AS week_4
            FROM cal
        """,
        "f13_minmax_norm": """
            WITH p AS (
                SELECT min(l_quantity) AS mn_q, max(l_quantity) AS mx_q,
                       min(l_extendedprice) AS mn_e, max(l_extendedprice) AS mx_e,
                       min(l_discount) AS mn_d, max(l_discount) AS mx_d
                FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                (l_quantity - mn_q) / (mx_q - mn_q) AS l_quantity_norm,
                (l_extendedprice - mn_e) / (mx_e - mn_e) AS l_extendedprice_norm,
                (l_discount - mn_d) / (mx_d - mn_d) AS l_discount_norm
            FROM lineitem, p
        """,
        # t1 streaming dedup must emit exactly the original distinct
        # events (the injected duplicates vanish)
        "t1_stream_dedup": """
            SELECT event_id, epoch_us(ts) AS ts_us, user_id, value
            FROM events
        """,
        # t6 is the STREAMING run of the same join — identical rows by
        # contract, so it shares j1's oracle verbatim
        "t6_stream_interval_join": f"""
            WITH deep AS (
                SELECT event_id AS deep_id, epoch_us(ts) AS deep_ts_us,
                       value AS deep_val
                FROM events WHERE event_type = 'purchase'
            ),
            quote AS (
                SELECT event_id AS view_id, epoch_us(ts) AS view_ts_us,
                       value AS view_val
                FROM events WHERE event_type = 'view'
            )
            SELECT deep_id, view_id, deep_val, view_val
            FROM deep JOIN quote
              ON {_floor_div("deep_ts_us", 300_000_000)}
                 = {_floor_div("view_ts_us", 300_000_000)}
             AND view_ts_us >= deep_ts_us
             AND view_ts_us <= deep_ts_us + 180000000
        """,
        # t6b is the LEFT-OUTER streaming run: plain LEFT JOIN with the
        # band predicate, both sides trimmed to the final-watermark
        # bound (min of the two feeds' max event time − 5 min watermark
        # − 180 s band − 1 s safety) — the identical integer expression
        # the Spark callable applies, so only FINALIZED rows compare
        "t6b_stream_left_join": f"""
            WITH deep AS (
                SELECT event_id AS deep_id, epoch_us(ts) AS deep_ts_us,
                       value AS deep_val
                FROM events WHERE event_type = 'purchase'
            ),
            quote AS (
                SELECT event_id AS view_id, epoch_us(ts) AS view_ts_us,
                       value AS view_val
                FROM events WHERE event_type = 'view'
            ),
            bound AS (
                SELECT least((SELECT max(deep_ts_us) FROM deep),
                             (SELECT max(view_ts_us) FROM quote))
                       - 300000000 - 180000000 - 1000000 AS b
            )
            SELECT deep_id, deep_ts_us, view_id, deep_val, view_val
            FROM deep LEFT JOIN quote
              ON {_floor_div("deep_ts_us", 300_000_000)}
                 = {_floor_div("view_ts_us", 300_000_000)}
             AND view_ts_us >= deep_ts_us
             AND view_ts_us <= deep_ts_us + 180000000
            WHERE deep_ts_us <= (SELECT b FROM bound)
        """,
        # t22 is the full 4x-chained streaming band join (the
        # reference's literal consumer topology at fan-in 5): the
        # oracle recomputes the hourly producer-grid feeds and chains
        # FOUR inner joins with the identical integer bucket+band
        # predicate, so a run that drops cross-batch join state,
        # double-emits under dedup, or mis-evicts produces a different
        # row set. Inner joins need no watermark trim (emit-on-match).
        "t22_stream_five_feed_join": f"""
            WITH ev AS (
                SELECT event_type, epoch_us(ts) AS ts_us, value
                FROM events
            ),
            deep AS (
                SELECT (ts_us - ts_us % 3600000000) AS ts_us,
                       count(*) AS deep_n,
                       round(avg(value), 6) AS deep_val
                FROM ev WHERE event_type = 'purchase' GROUP BY 1
            ),
            vix AS (
                SELECT (ts_us - ts_us % 3600000000) + 30000000 AS ts_us,
                       count(*) AS vix_n,
                       round(avg(value), 6) AS vix_val
                FROM ev WHERE event_type = 'view' GROUP BY 1
            ),
            volume AS (
                SELECT (ts_us - ts_us % 3600000000) + 60000000 AS ts_us,
                       count(*) AS volume_n,
                       round(avg(value), 6) AS volume_val
                FROM ev WHERE event_type = 'click' GROUP BY 1
            ),
            cot AS (
                SELECT (ts_us - ts_us % 3600000000) + 90000000 AS ts_us,
                       count(*) AS cot_n,
                       round(avg(value), 6) AS cot_val
                FROM ev WHERE event_type = 'signup' GROUP BY 1
            ),
            ind AS (
                SELECT (ts_us - ts_us % 3600000000) + 120000000 AS ts_us,
                       count(*) AS ind_n,
                       round(avg(value), 6) AS ind_val
                FROM ev WHERE event_type = 'error' GROUP BY 1
            )
            SELECT d.ts_us AS hour_us,
                   deep_n, deep_val,
                   vix_n, vix_val,
                   volume_n, volume_val,
                   cot_n, cot_val,
                   ind_n, ind_val
            FROM deep d
            JOIN vix v
              ON {_floor_div("d.ts_us", 300_000_000)}
                 = {_floor_div("v.ts_us", 300_000_000)}
             AND v.ts_us >= d.ts_us
             AND v.ts_us <= d.ts_us + 180000000
            JOIN volume vo
              ON {_floor_div("d.ts_us", 300_000_000)}
                 = {_floor_div("vo.ts_us", 300_000_000)}
             AND vo.ts_us >= d.ts_us
             AND vo.ts_us <= d.ts_us + 180000000
            JOIN cot c
              ON {_floor_div("d.ts_us", 300_000_000)}
                 = {_floor_div("c.ts_us", 300_000_000)}
             AND c.ts_us >= d.ts_us
             AND c.ts_us <= d.ts_us + 180000000
            JOIN ind i
              ON {_floor_div("d.ts_us", 300_000_000)}
                 = {_floor_div("i.ts_us", 300_000_000)}
             AND i.ts_us >= d.ts_us
             AND i.ts_us <= d.ts_us + 180000000
        """,
        # t4b is the STREAMING session window: the batch t4 oracle with
        # the final-watermark trim (sessions whose end + gap the
        # watermark has provably passed) — same expression both sides
        "t4b_stream_sessions": """
            WITH e AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                >= 1800000000
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
                SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sess
                FROM e
            ),
            sessions AS (
                SELECT user_id,
                       epoch_us(min(ts)) // 1000000 AS session_start,
                       epoch_us(max(ts)) // 1000000 AS session_last,
                       count(*) AS n_events,
                       sum(value) AS sum_value
                FROM s GROUP BY user_id, sess
            )
            SELECT * FROM sessions
            WHERE session_last <=
                (SELECT epoch_us(max(ts)) // 1000000 - 300 - 1800 - 2
                 FROM events)
        """,
        "ml3_score_parity": _ml3_oracle(),
        "ml4_confusion": _ml4_oracle(),
        "w14_ewma": _w14_oracle(),
        "x45_containment": X.containment_oracle(),
        "x46_shuffle_shards": X.shuffle_shards_oracle(),
        "w15_rsi": _w15_oracle(),
        "w16_obv": _w16_oracle(),
        "w17_macd": _w17_oracle(),
        "w18_donchian": _w18_oracle(),
        "w19_keltner": _w19_oracle(),
        "ml6_calibration": _ml6_oracle(),
        "j6_interval_lookup": _j6_oracle(),
        "x50_countmin_topk": X.countmin_topk_oracle(),
        # t12's streamed sketch must equal the batch sketch — the
        # mergeability adjudication IS reusing x50's oracle verbatim
        "t12_stream_countmin": X.countmin_topk_oracle(),
        # t13: the streamed gate must decide exactly what a batch dedup
        # of the same arrivals against the same corpus would decide
        "t13_stream_ingest_dedup": X.ingest_gate_oracle(),
        "x59_frame_dedup": X.frame_dedup_oracle(),
        "x60_incremental_dedup": X.incremental_dedup_oracle(),
        # t14: the sequential (batch-by-batch) gate must equal the
        # staged batch computation of the same arrival order
        "t14_stream_index_dedup": X.index_dedup_oracle(),
        # x61: degree-oriented enumeration finds each triangle once, so
        # counts match the naive id-ordered formulation exactly
        "x61_triangle_counts": X.triangle_counts_oracle(),
        "x51_kmv_distinct": X.kmv_distinct_oracle(),
        "x54_weighted_sample": X.weighted_sample_oracle(),
        "x55_kmv_setops": X.kmv_setops_oracle(),
        "a12_hist_quantiles": _a12_oracle(),
        "ml7_auc": _ml7_oracle(),
        "x57_doc_search": X.doc_search_oracle(),
        "x58_source_overlap": X.source_overlap_oracle(),
        "w20_ichimoku": _w20_oracle(),
        "w21_adx": _w21_oracle(),
        "x62_nb_classifier": X.nb_classifier_oracle(),
        "x63_embed_quantize": X.embed_quantize_oracle(),
        "x64_dsir_weights": X.dsir_weights_oracle(),
        "ml8_linreg_forecast": _ml8_oracle(),
        "a13_cube": _a13_oracle(),
        "d5_cdc_apply": _d5_oracle(),
        # t15: incremental maintenance must equal batch compaction of
        # the same changelog — the adjudication reuses d5's SQL verbatim
        "t15_stream_cdc_apply": _d5_oracle(),
        "t15b_stream_cdc_sink": _d5_oracle(),
        "x66_projected_recall": X.projected_recall_oracle(),
        "t16_stream_hist_quantiles": _t16_oracle(),
        "w22_cmf": _w22_oracle(),
        "ml9_grouped_ols": _ml9_oracle(),
        "x67_clustering_coef": X.clustering_coef_oracle(),
        "t17_late_drop": _t17_oracle(),
        # t31 runs t17's identical aggregation (the metrics are the
        # new content); the value law is the same oracle verbatim
        "t31_state_metrics_proof": _t17_oracle(),
        "x81_pack_budget_sweep": X.pack_budget_sweep_oracle(),
        "s17_column_pruning_proof": _S17_ORACLE,
        # u2 runs the flagship pipeline (the codegen invariant is the
        # new content); the value law is the same oracle verbatim
        "u2_codegen_proof": _pipeline_oracle(),
        "t18_stream_kmv": X.kmv_distinct_oracle(),
        "x68_contamination_scores": X.contamination_scores_oracle(),
        "x69_lsh_tuning": X.lsh_tuning_oracle(),
        "ml10_cv_ols": _ml10_oracle(),
        "t19_stream_ols": _ml8_oracle(),
        "w23_williams_r": _w23_oracle(),
        "x70_pq_adc_recall": X.pq_adc_recall_oracle(),
        "t20_stream_anomaly": _t20_oracle(),
        "x71_centroid_matrix": X.centroid_matrix_oracle(),
        "x72_source_kl": X.source_kl_oracle(),
        "d7_quality_checks": _d7_oracle(),
        "x73_leakage_free_split": X.leakage_free_split_oracle(),
        "x74_filter_funnel": X.filter_funnel_oracle(),
        "a14_grouping_sets": _a14_oracle(),
        "q4_order_priority": _q4_oracle(),
        "q2_min_cost_supplier": _q2_oracle(),
        "q7_nation_volume": _q7_oracle(),
        "q10_returned_items": _q10_oracle(),
        "q11_important_parts": _q11_oracle(),
        "q13_customer_distribution": _q13_oracle(),
        "q15_top_supplier": _q15_oracle(),
        "q16_supplier_count": _q16_oracle(),
        "q17_small_qty_revenue": _q17_oracle(),
        "q19_disjunctive_revenue": _q19_oracle(),
        "q21_sole_returner": _q21_oracle(),
        "q22_idle_balances": _q22_oracle(),
        "q8_market_share": _q8_oracle(),
        "q14_promo_revenue": _q14_oracle(),
        "q20_bulk_suppliers": _q20_oracle(),
        "q5_local_volume": _q5_oracle(),
        "q9_product_profit": _q9_oracle(),
        "q12_lateness_priority": _q12_oracle(),
        "q18_large_orders": _q18_oracle(),
        "s8_csv_quarantine": _S8_ORACLE,
        "s9_jsonl_quarantine": _S9_ORACLE,
        "t21_stream_csv_drop": _T21_ORACLE,
        "x77_ivf_nprobe_sweep": X.ivf_nprobe_sweep_oracle(),
        "s10_schema_drift": _S10_ORACLE,
        "s11_schema_evolution_ingest": _S11_ORACLE,
        "t23_stream_drift_accounting": _T23_ORACLE,
        "s12_jsonl_evolution_ingest": _S12_ORACLE,
        "t25_stream_evolving_ingest": _T25_ORACLE,
        "t26_stream_inference_loop": _t26_oracle(),
        "a19_sessionization": _A19_ORACLE,
        "d8_skew_report": _D8_ORACLE,
        "x79_ann_ranking_quality": X.ann_ranking_quality_oracle(),
        "a20_hll_distinct": _a20_oracle(),
        # t27 shares a20's oracle verbatim — the merged streamed sketch
        # must equal the one-shot batch sketch by the register algebra
        "t27_stream_hll_merge": _a20_oracle(),
        "s13_partition_pruned_scan": _S13_ORACLE,
        "s14_minmax_skipped_scan": _S14_ORACLE,
        "t28_stream_sessionize": _T28_ORACLE,
        "w26_range_beta": _W26_ORACLE,
        "j7_broadcast_proof": _J7_ORACLE,
        "x80_minhash_size_sweep": X.minhash_size_sweep_oracle(),
        "d9_salt_balance": _D9_ORACLE,
        "s15_epoch_compaction": _S15_ORACLE,
        "j8_dpp_proof": _J8_ORACLE,
        "j9_aqe_skew_proof": _J9_ORACLE,
        "t29_checkpoint_recovery": _T29_ORACLE,
        "t30_stream_cohorts": _T30_ORACLE,
        "j10_runtime_broadcast": _J10_ORACLE,
        "s16_zorder_vs_linear": _S16_ORACLE,
        "w25_rolling_beta": _W25_ORACLE,
        "a15_funnel_conversion": _A15_ORACLE,
        "a16_retention_cohorts": _A16_ORACLE,
        "w24_gap_fill_locf": _W24_ORACLE,
        "a17_pivot_daily_types": _A17_ORACLE,
        "a18_twap_daily": _A18_ORACLE,
        "x78_neardup_method_table": X.neardup_method_table_oracle(),
        # t24 shares w24's oracle verbatim — identical rows by contract
        "t24_stream_gap_fill": _W24_ORACLE,
        "x76_ngram_novelty": X.ngram_novelty_oracle(),
        "x75_compression_table": X.compression_table_oracle(),
        "x65_random_projection": X.random_projection_oracle(),
        "x52_corpus_datacard": X.corpus_datacard_oracle(),
        "x53_bloom_decontaminate": X.bloom_decontaminate_oracle(),
        "a11_vwap_daily": _a11_oracle(),
        "x47_pagerank": X.pagerank_oracle(),
        "t7_exactly_once_sink": candles_oracle_sql(),
        "s6_session_gate": """
            WITH cal AS (
                SELECT DISTINCT CAST(ts AS DATE) AS session_date,
                       CASE WHEN isodow(CAST(ts AS DATE)) >= 6
                              OR day(CAST(ts AS DATE)) % 13 = 0
                            THEN 'closed' ELSE 'open' END AS status
                FROM events
            )
            SELECT event_id, epoch_us(ts) AS ts_us, event_type, value,
                   CAST(CAST(ts AS DATE) AS VARCHAR) AS session_date
            FROM events e JOIN cal c ON CAST(e.ts AS DATE) = c.session_date
            WHERE c.status = 'open'
              AND (epoch_us(ts) // 1000000) % 86400 >= 34200
              AND (epoch_us(ts) // 1000000) % 86400 < 57600
        """,
        "d4_scd2_intervals": """
            SELECT user_id, event_id, value,
                   epoch_us(ts) AS valid_from_us,
                   lead(epoch_us(ts)) OVER w AS valid_to_us,
                   CAST(lead(epoch_us(ts)) OVER w IS NULL AS INT)
                       AS is_current
            FROM events
            WHERE event_type = 'signup'
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id)
        """,
        "w13_rolling_median": f"""
            {_CANDLES_CTE},
            m AS (
                SELECT bucket_start, close,
                       median(close) OVER (ORDER BY bucket_start
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS med,
                       row_number() OVER (ORDER BY bucket_start) AS rn
                FROM candles
            )
            SELECT bucket_start, close, round(med, 6) AS median20
            FROM m WHERE rn >= 20
        """,
        "a9_corr_matrix": f"""
            {_CANDLES_CTE},
            agg AS (
                SELECT
                    {", ".join(
                        f"corr({a}, {b}) AS c_{a}_{b}"
                        for i, a in enumerate(
                            ["open", "high", "low", "close", "volume"])
                        for b in ["open", "high", "low", "close", "volume"][i + 1:]
                    )}
                FROM candles
            )
            {" UNION ALL ".join(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                f" round(c_{a}_{b}, 6) AS corr FROM agg"
                for i, a in enumerate(["open", "high", "low", "close", "volume"])
                for b in ["open", "high", "low", "close", "volume"][i + 1:]
            )}
        """,
        "a10_multires_rollup": candles_multires_oracle_sql(),
        "t10_stream_static_join": """
            WITH params AS (
                SELECT event_type, min(value) AS min_v, max(value) AS max_v
                FROM events GROUP BY event_type
            )
            SELECT event_id, e.event_type, epoch_us(ts) AS ts_us,
                   round((value - min_v) / nullif(max_v - min_v, 0), 6)
                       AS norm_value
            FROM events e JOIN params p ON e.event_type = p.event_type
        """,
        "x43_dup_spans": X.dup_spans_oracle(),
        "x44_dup_span_removal": X.dup_span_removal_oracle(),
        "x42_ppl_buckets": X.ppl_buckets_oracle(),
        "t11_stateful_momentum": _t11_oracle(),
        "x49_cluster_keeper": X.cluster_keeper_oracle(),
        "j5_bucketed_join": """
            WITH p AS (
                SELECT user_id, count(*) AS n_purch, sum(value) AS purch_sum
                FROM events WHERE event_type = 'purchase' GROUP BY user_id
            ),
            v AS (
                SELECT user_id, count(*) AS n_views, avg(value) AS view_avg
                FROM events WHERE event_type = 'view' GROUP BY user_id
            )
            SELECT user_id, n_purch, purch_sum, n_views, view_avg
            FROM p JOIN v USING (user_id)
        """,
        "j1_interval_join": f"""
            WITH deep AS (
                SELECT event_id AS deep_id, epoch_us(ts) AS deep_ts_us,
                       value AS deep_val
                FROM events WHERE event_type = 'purchase'
            ),
            quote AS (
                SELECT event_id AS view_id, epoch_us(ts) AS view_ts_us,
                       value AS view_val
                FROM events WHERE event_type = 'view'
            )
            SELECT deep_id, view_id, deep_val, view_val
            FROM deep JOIN quote
              ON {_floor_div("deep_ts_us", 300_000_000)}
                 = {_floor_div("view_ts_us", 300_000_000)}
             AND view_ts_us >= deep_ts_us
             AND view_ts_us <= deep_ts_us + 180000000
        """,
        "j3_asof_last": """
            WITH l AS (
                SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                       value AS view_val
                FROM events WHERE event_type = 'view'
            ),
            r AS (
                SELECT user_id, epoch_us(ts) AS ts_us,
                       max(value) AS purch_val
                FROM events WHERE event_type = 'purchase'
                GROUP BY 1, 2
            )
            SELECT l.event_id, l.user_id, l.ts_us, l.view_val, r.purch_val
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
        """,
        "j2_salted_join": """
            WITH dim AS (
                SELECT event_type, count(*) AS type_n, avg(value) AS type_avg
                FROM events GROUP BY event_type
            )
            SELECT event_id, event_type, type_n, type_avg
            FROM events JOIN dim USING (event_type)
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey,
                sum(l_extendedprice * (1 - l_discount)) AS revenue,
                o_orderdate, o_orderpriority
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1999-03-15'
              AND l_shipdate > TIMESTAMP '1999-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
        """,
        "q5_region_revenue": """
            SELECT n_name,
                sum(o_totalprice) AS revenue,
                count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "q6_forecast_revenue": """
            SELECT sum(l_extendedprice * l_discount) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1998-06-01'
              AND l_shipdate < TIMESTAMP '1999-06-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "a8_percentiles": """
            SELECT event_type, q, value AS q_value
            FROM (
                SELECT event_type, value,
                    row_number() OVER (PARTITION BY event_type ORDER BY value)
                        AS rn,
                    count(*) OVER (PARTITION BY event_type) AS n
                FROM events
            ), (SELECT unnest([0.5, 0.95, 0.99]) AS q)
            WHERE rn = greatest(1, ceil(q * n))
        """,
        "a1_minmax_params": """
            SELECT
                min(l_quantity) AS min_l_quantity, max(l_quantity) AS max_l_quantity,
                min(l_extendedprice) AS min_l_extendedprice,
                max(l_extendedprice) AS max_l_extendedprice,
                min(l_discount) AS min_l_discount, max(l_discount) AS max_l_discount,
                min(l_tax) AS min_l_tax, max(l_tax) AS max_l_tax
            FROM lineitem
        """,
        "a2_event_stats": """
            SELECT event_type,
                count(*) AS n,
                sum(value) AS sum_value,
                avg(value) AS avg_value
            FROM events
            GROUP BY event_type
        """,
        "a7_rollup": """
            SELECT l_returnflag, l_linestatus,
                sum(l_quantity) AS sum_qty,
                count(*) AS n_rows,
                CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "w10_topk_per_group": """
            WITH per_cust AS (
                SELECT o_custkey,
                    round(sum(o_totalprice), 2) AS revenue,
                    count(*) AS n_orders
                FROM orders
                GROUP BY o_custkey
            ),
            ranked AS (
                SELECT n_name, c_name, revenue, n_orders,
                    CAST(row_number() OVER (
                        PARTITION BY n_name
                        ORDER BY revenue DESC, c_custkey
                    ) AS INT) AS rnk
                FROM per_cust
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
            )
            SELECT * FROM ranked WHERE rnk <= 3
        """,
        "w12_rolling_corr": """
            WITH a AS (
                SELECT (epoch_us(ts) // 300000000) * 300 AS bucket,
                       avg(value) AS pa
                FROM events WHERE event_type = 'purchase' GROUP BY 1
            ),
            v AS (
                SELECT (epoch_us(ts) // 300000000) * 300 AS bucket,
                       avg(value) AS pv
                FROM events WHERE event_type = 'view' GROUP BY 1
            ),
            j AS (SELECT a.bucket, pa, pv FROM a JOIN v USING (bucket)),
            c AS (
                SELECT bucket,
                       corr(pa, pv) OVER (ORDER BY bucket
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS cr,
                       row_number() OVER (ORDER BY bucket) AS rn
                FROM j
            )
            SELECT bucket, round(cr, 6) AS corr20
            FROM c WHERE rn >= 20
        """,
        "w11_range_frame": """
            SELECT event_id, event_type, epoch_us(ts) AS ts_us,
                avg(value) OVER w AS avg_30m,
                count(*) OVER w AS n_30m
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
        """,
        "d1_dedup_exact": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "d2_anti_join": """
            SELECT DISTINCT user_id FROM events e
            WHERE NOT EXISTS (
                SELECT 1 FROM events x
                WHERE x.user_id = e.user_id AND x.event_type = 'error'
            )
        """,
        "d3_latest_point": """
            SELECT user_id,
                max(epoch_us(ts)) AS last_ts_us,
                arg_max(value, epoch_us(ts)) AS last_value
            FROM events
            GROUP BY user_id
        """,
        "t9_stateful_suite": """
            WITH candles AS (
                SELECT event_type AS symbol,
                    CAST(epoch(time_bucket(INTERVAL '300 seconds', ts)) AS BIGINT)
                        AS bucket_start,
                    max(value) AS high,
                    min(value) AS low,
                    arg_max(value, event_id) AS close,
                    sum(value) AS volume
                FROM events
                GROUP BY 1, 2
            ),
            ind AS (
                SELECT symbol, bucket_start, close, high, low, volume,
                    avg(volume) OVER (PARTITION BY symbol ORDER BY bucket_start
                        ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS vol_MA6,
                    avg(volume) OVER (PARTITION BY symbol ORDER BY bucket_start
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vol_MA20,
                    avg(close) OVER w20 AS price_MA20,
                    (avg(close) OVER w20 + 2 * stddev_pop(close) OVER w20) - close
                        AS upper_BB_dist,
                    close - (avg(close) OVER w20 - 2 * stddev_pop(close) OVER w20)
                        AS lower_BB_dist,
                    (close - min(close) OVER w15)
                        / (max(close) OVER w15 - min(close) OVER w15) AS stoch,
                    close - lag(close, 1) OVER (PARTITION BY symbol
                        ORDER BY bucket_start) AS price_change,
                    avg(high - low) OVER w15 AS ATR
                FROM candles
                WINDOW
                    w20 AS (PARTITION BY symbol ORDER BY bucket_start
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
                    w15 AS (PARTITION BY symbol ORDER BY bucket_start
                        ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
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
                FROM ind
                WINDOW w AS (PARTITION BY symbol ORDER BY bucket_start)
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY symbol ORDER BY bucket_start DESC) AS rkd
                FROM tgt
            )
            SELECT symbol, bucket_start * 1000000 AS ts_us,
                   close, high, low, volume,
                   round(vol_MA6, 6) AS vol_MA6,
                   round(vol_MA20, 6) AS vol_MA20,
                   round(price_MA20, 6) AS price_MA20,
                   round(upper_BB_dist, 6) AS upper_BB_dist,
                   round(lower_BB_dist, 6) AS lower_BB_dist,
                   round(stoch, 6) AS stoch,
                   round(price_change, 6) AS price_change,
                   round(ATR, 6) AS ATR,
                   up1, down1, up2, down2
            FROM ranked WHERE rkd > 15
        """,
        "x1_text_stats": X.text_stats_oracle(),
        "x2_lang_id": X.lang_id_oracle(),
        "x3_fingerprints": X.fingerprints_oracle(),
        "x4_simhash": simhash32_sql(),
        "x5_dedup_exact_docs": X.dedup_exact_docs_oracle(),
        "x6_minhash_lsh": X.minhash_lsh_oracle(),
        "x6c_minhash_oph": X.minhash_oph_oracle(),
        "x7_ngram_jaccard": X.ngram_jaccard_oracle(),
        "x8_ann_brute_topk": X.ann_brute_oracle(),
        "x9_embed_neardup": X.embed_neardup_oracle(),
        "x10_multimodal_features": X.multimodal_oracle(),
        "x11_ann_lsh_topk": X.ann_lsh_oracle(),
        "x12_ann_ivf_topk": X.ann_ivf_oracle(),
        "x13_rolling_fingerprint": rolling_fp_sql(),
        "x14_quality_filter": quality_filter_sql(),
        "x15_simhash_neardup": X.simhash_neardup_oracle(),
        "x16_dedup_clusters": X.dedup_clusters_oracle(),
        "x30_ann_recall": X.ann_recall_oracle(),
        "x34_kmeans_train": X.kmeans_train_oracle(),
        "x31_minhash_clusters": X.minhash_clusters_oracle(),
        "x11b_ann_lsh_multi": X.ann_lsh_multi_oracle(),
        "x32_boilerplate": X.boilerplate_oracle(),
        "x33_unigram_logprob": unigram_logprob_sql(),
        "x37_bigram_logprob": bigram_logprob_sql(),
        "pipeline_full_row_part": _full_row_oracle(partitioned=True),
        "x17_split_assign": hash_split_sql(),
        "x18_vocab_topk": vocab_topk_sql(),
        "x19_tfidf_topk": tfidf_topk_sql(),
        "x20_stratified_sample": stratified_sample_sql(),
        "x21_pii_scrub": X.pii_scrub_oracle(),
        "x22_decontaminate": X.decontaminate_oracle(),
        "x23_repetition": repetition_signals_sql(),
        "x36_source_quota": source_quota_cap_sql(),
        "x38_chunk_dedup": X.chunk_dedup_oracle(),
        "x39_temperature_mix": X.temperature_mix_oracle(),
        "x40_bpe_merges": bpe_merges_sql(),
        "x41_bpe_encode": bpe_encode_sql(),
        "x48_semantic_dedup": X.semantic_dedup_oracle(),
        "x24_pack_sequences": pack_sequences_sql(),
        "x25_chunk_docs": chunk_documents_sql(),
        "x26_audio_frames": X.audio_frames_oracle(),
        "x27_resize_geometry": X.resize_geometry_oracle(),
        "x28_corpus_pipeline": X.corpus_pipeline_oracle(),
        "x29_zorder_key": X.zorder_key_oracle(),
        "ml1_lag_matrix": X.ml_lag_matrix_oracle(candles_oracle_sql()),
        # ml2_train_metrics: the LR fit is not SQL-expressible →
        # rows-only check by design; ml2b covers everything upstream
        "ml2b_feature_matrix": X.ml_feature_matrix_oracle(candles_oracle_sql()),
        "ml5a_window_scaler": X.ml_window_scaler_oracle(candles_oracle_sql()),
        "pipeline_bars_joined": _pipeline_oracle(),
        "pipeline_full_row": _full_row_oracle(),
    }


def _pipeline_oracle() -> str:
    from financial_market_data_analysis_spark.plans.pipeline import bars_joined_oracle

    return bars_joined_oracle()


def _full_row_oracle(partitioned: bool = False) -> str:
    from financial_market_data_analysis_spark.plans.full_row import full_row_oracle

    return full_row_oracle(partitioned=partitioned)
