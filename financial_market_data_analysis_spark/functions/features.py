"""F1-F13: row-level derived features (SURVEY.md §2.7).

Every feature is a pure projection — no UDFs — so the whole feature
stack stays inside whole-stage codegen and Catalyst can prune/push down
around it (mirroring the reference's deliberate UDF-avoidance,
spark_consumer.py:320-432). Each formula is written once, as a Spark
SQL fragment builder (``*_sql``); the DataFrame operator beside it
applies that fragment, and the one-pass warehouse plans
(``plans/full_row.py``, ``plans/pipeline.py``) splice the same text
into their SQL.

Division-by-zero: the reference's MySQL half yields NULL and then
``fillna(0)`` (spark_consumer.py:311,480); Spark 4 ANSI mode would
throw, so every ratio here uses ``try_divide``/``safe_div`` (→ NULL), preserving
NULL → ``fillna(0)`` ordering (SURVEY.md §7.4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.functions.core import safe_div, with_sql
from financial_market_data_analysis_spark.functions.schemas import ASK_LEVELS, BID_LEVELS


# ---------------------------------------------------------------------------
# F1 — candle wick


def wick_sql() -> dict[str, str]:
    """F1 — candle/wick geometry (spark_consumer.py:186-193).

    ``candle_size = high - low``; wick measured from close toward the
    extreme on the candle's direction; doji (high == low) → NULL ratio
    (division by zero), to be zero-filled downstream.
    """
    candle = "high - low"
    wick = "CASE WHEN close >= open THEN high - close ELSE low - close END"
    return {
        "candle_size": candle,
        "wick_size": wick,
        "wick_prct": f"try_divide({wick}, {candle})",
    }


# ---------------------------------------------------------------------------
# F2-F7 — order-book features
#
# Null-guarded terms are ``coalesce(x, 0)``: NULL contributes 0
# (spark_consumer.py:326,336) and the term keeps its natural type (int
# stays int). Horizontal sums are plain left-associative ``t0 + t1 + ...``
# chains with no leading ``0 +`` term.


def _guarded_sum(terms) -> str:
    return " + ".join(f"coalesce({t}, 0)" for t in terms)


def book_weighted_average_sql(side: str) -> str:
    """F2 — size-weighted average distance from the best price for one
    book side: ``Σᵢ (best − pᵢ)·sizeᵢ / Σᵢ sizeᵢ`` with null-guarded
    terms (spark_consumer.py:320-340). ``side`` is ``"bid"``/``"ask"``;
    columns follow the fixture naming ``{side}_{i}`` / ``{side}_{i}_size``.

    The fold is horizontal — a sum over columns, one row at a time — so
    it's pure codegen arithmetic, no aggregation.

    Documented deviation from the reference: spark_consumer.py:327
    guards price and size separately but leaves ``best`` un-guarded, so
    a NULL best price with a populated deeper level poisons its sum to
    NULL; here the whole ``(best − pᵢ)·sizeᵢ`` term coalesces to 0 —
    a NULL best simply contributes nothing. Deliberate fix (the
    reference behavior is a bug its synthetic feeds never hit), kept
    consistent with the oracle's ``COALESCE((best − pᵢ)·sizeᵢ, 0)``.
    """
    num = _guarded_sum(f"({side}_0 - {side}_{i}) * {side}_{i}_size" for i in range(BID_LEVELS))
    den = _guarded_sum(f"{side}_{i}_size" for i in range(BID_LEVELS))
    return f"try_divide({num}, {den})"


def book_weighted_average(df: DataFrame, side: str) -> DataFrame:
    """F2 — ``book_weighted_average_sql`` applied as ``{side}s_ord_WA``."""
    return with_sql(df, {f"{side}s_ord_WA": book_weighted_average_sql(side)})


def order_volume_imbalance_sql() -> str:
    """F3 — ``(bid₀size − ask₀size) / (bid₀size + ask₀size)``
    (spark_consumer.py:342-347); empty top-of-book → NULL → fillna(0)."""
    return "try_divide(bid_0_size - ask_0_size, bid_0_size + ask_0_size)"


def order_volume_imbalance(df: DataFrame) -> DataFrame:
    """F3 — ``order_volume_imbalance_sql`` applied."""
    return with_sql(df, {"vol_imbalance": order_volume_imbalance_sql()})


def delta_indicator_sql() -> str:
    """F4 — ``Σ ask sizes − Σ bid sizes`` (orientation preserved,
    spark_consumer.py:349-353)."""
    asks = _guarded_sum(f"ask_{i}_size" for i in range(ASK_LEVELS))
    bids = _guarded_sum(f"bid_{i}_size" for i in range(BID_LEVELS))
    return f"({asks}) - ({bids})"


def delta_indicator(df: DataFrame) -> DataFrame:
    """F4 — ``delta_indicator_sql`` applied."""
    return with_sql(df, {"delta": delta_indicator_sql()})


def micro_price_sql() -> str:
    """F5 — Gatheral–Oomen micro-price ``I·ask₀ + (1−I)·bid₀`` with
    ``I = bid₀size/(bid₀size+ask₀size)`` (spark_consumer.py:355-364)."""
    imb = "try_divide(bid_0_size, bid_0_size + ask_0_size)"
    return f"{imb} * ask_0 + (1 - {imb}) * bid_0"


def micro_price(df: DataFrame) -> DataFrame:
    """F5 — ``micro_price_sql`` applied."""
    return with_sql(df, {"micro_price": micro_price_sql()})


def bid_ask_spread_sql() -> str:
    """F6 — ``bid₀ − ask₀`` when both non-zero else 0. The reference's
    sign convention (bid minus ask, negative in normal markets) is kept
    (spark_consumer.py:366-368)."""
    return "CASE WHEN bid_0 <> 0 AND ask_0 <> 0 THEN bid_0 - ask_0 ELSE 0.0D END"


def bid_ask_spread(df: DataFrame) -> DataFrame:
    """F6 — ``bid_ask_spread_sql`` applied."""
    return with_sql(df, {"spread": bid_ask_spread_sql()})


def relative_price_levels_sql() -> dict[str, str]:
    """F7 — depth prices relative to the best level: ``ask_i ← ask₀ −
    ask_i`` (and bids), 0-guarded (spark_consumer.py:370-400). Each value
    replaces its own input column, so a caller that keeps the inputs
    reads these under other names."""
    return {
        f"{side}_{i}": f"CASE WHEN {side}_{i} <> 0 THEN {side}_0 - {side}_{i} ELSE 0.0D END"
        for side in ("bid", "ask")
        for i in range(1, BID_LEVELS)
    }


def relative_price_levels(df: DataFrame) -> DataFrame:
    """F7 — ``relative_price_levels_sql`` applied in place; the level-0
    prices are dropped afterwards (always 0). The reference's
    temp-column/drop/rename dance collapses into one ``withColumns``
    map."""
    return with_sql(df, relative_price_levels_sql()).drop("bid_0", "ask_0")


# ---------------------------------------------------------------------------
# F8/F9 — calendar features + manual one-hot


def calendar_sql(ts: str = "ts") -> dict[str, str]:
    """F8 — day-of-week (Monday=1, the reference's ``date_format(u)``
    convention), week-of-month (``ceil(day/7)``), and the session-start
    flag (spark_consumer.py:402-415). ``ts`` is any timestamp-valued SQL
    expression.

    Spark 3+ rejects the legacy ``u``/``W`` datetime patterns; the same
    values come from ``weekday()+1`` and ``ceil(dayofmonth/7)``.

    The session logic is the reference's verbatim, because every oracle
    compares against reference behaviour (SURVEY.md §7.5): ``hour ≥ 11 AND minute ≥ 30 → 0 else 1``, which
    calls e.g. 12:15 a session start because its minute is below 30.
    """
    late = f"hour({ts}) >= 11 AND minute({ts}) >= 30"
    return {
        "day_of_week": f"CAST(weekday({ts}) + 1 AS INT)",
        "week_of_month": f"CAST(ceil(dayofmonth({ts}) / 7) AS INT)",
        "session_start": f"CASE WHEN {late} THEN 0 ELSE 1 END",
    }


def one_hot_calendar_sql() -> dict[str, str]:
    """F9 — manual one-hot of day (1-4; Friday = all-zeros baseline) and
    week-of-month (spark_consumer.py:417-432). Weeks one-hot as 1-4
    only, as in the reference: a 5th calendar week collides with the
    Friday-style all-zeros baseline (SURVEY.md §7.5)."""
    cols = {f"day_{d}": f"CAST(day_of_week = {d} AS INT)" for d in range(1, 5)}
    for w in range(1, 5):
        cols[f"week_{w}"] = f"CAST(week_of_month = {w} AS INT)"
    return cols


# ---------------------------------------------------------------------------
# F13/A1 — min-max normalization


def minmax_normalize(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """F13 + A1 — ``(x − min)/(max − min)`` with params computed over the
    frame (sql_pytorch_dataloader.py:93-144, 239).

    Scale shape: one global aggregate (partial-aggregatable, tiny
    result) broadcast-joined back — no window-over-everything, no
    second scan of a sorted partition. ``min == max`` → NULL (the
    reference patches an epsilon; we keep NULL → fillna downstream).
    """
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
    params = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(params))
    norm = {
        f"{c}_norm": safe_div(
            F.col(c) - F.col(f"__min_{c}"), F.col(f"__max_{c}") - F.col(f"__min_{c}")
        )
        for c in cols
    }
    out = out.withColumns(norm)
    return out.drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])
