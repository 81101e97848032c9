"""Config-driven schema registry: one source of truth → StructType,
flatten projection, and warehouse DDL.

The reference builds every stream's StructType programmatically from
config lists (bid/ask levels drive the DEEP schema, config.py:36-37 +
spark_consumer.py:283-291; event_list × event_values drive the
indicator schema, config.py:52-65 + spark_consumer.py:241-244) and
generates the MariaDB DDL from the same config
(create_database.py:29-70), keeping stream and table schemas in
lockstep by construction. This module preserves that single-source
property (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# config.py:36-37 — order-book depth
BID_LEVELS = 7
ASK_LEVELS = 7

# config.py:52-65 — the reference's full 13-event economic calendar
# (snake_cased event_list_repl) × value kinds; 13 × 3 = 39 indicator
# columns in the warehouse row (SURVEY.md §1.4)
INDICATOR_EVENTS = (
    "crude_oil_inventories",
    "ism_non_manufacturing_pmi",
    "ism_non_manufacturing_employment",
    "services_pmi",
    "adp_nonfarm_employment_change",
    "core_cpi",
    "fed_interest_rate_decision",
    "building_permits",
    "core_retail_sales",
    "retail_sales",
    "jolts_job_openings",
    "nonfarm_payrolls",
    "unemployment_rate",
)
INDICATOR_VALUES = ("actual", "prev_actual_diff", "forc_actual_diff")

# cot feed field groups (spark_consumer.py:200-212)
COT_GROUPS = ("asset", "leveraged")
COT_MEASURES = (
    ("long_pos", IntegerType),
    ("short_pos", IntegerType),
    ("long_pos_change", FloatType),
    ("short_pos_change", FloatType),
    ("long_open_int", FloatType),
    ("short_open_int", FloatType),
)


def vix_schema() -> StructType:
    """spark_consumer.py:88-91."""
    return StructType(
        [
            StructField("ts", StringType()),
            StructField("vix", FloatType()),
        ]
    )


def candle_schema() -> StructType:
    """The `volume` feed: OHLCV bar (spark_consumer.py:155-162).
    Reference names start with digits (`1_open`); fixture-safe names
    here, mapping documented in FIXTURES.md §B2."""
    return StructType(
        [
            StructField("ts", StringType()),
            StructField("open", FloatType()),
            StructField("high", FloatType()),
            StructField("low", FloatType()),
            StructField("close", FloatType()),
            StructField("volume", IntegerType()),
        ]
    )


def cot_schema() -> StructType:
    """spark_consumer.py:200-212 — two trader groups × six measures,
    nested one level then flattened."""
    fields = [StructField("ts", StringType())]
    for g in COT_GROUPS:
        inner = [StructField(f"{g}_{m}", t()) for m, t in COT_MEASURES]
        fields.append(StructField(g, StructType(inner)))
    return StructType(fields)


def indicator_schema() -> StructType:
    """spark_consumer.py:239-244 — one nested struct per calendar event."""
    fields = [StructField("ts", StringType())]
    for ev in INDICATOR_EVENTS:
        inner = [StructField(f"{ev}_{v}", FloatType()) for v in INDICATOR_VALUES]
        fields.append(StructField(ev, StructType(inner)))
    return StructType(fields)


def deep_schema() -> StructType:
    """spark_consumer.py:281-291 — nested `bids_i.{bid_i, bid_i_size}`."""
    fields = [StructField("ts", StringType())]
    for i in range(BID_LEVELS):
        inner = [
            StructField(f"bid_{i}", FloatType()),
            StructField(f"bid_{i}_size", IntegerType()),
        ]
        fields.append(StructField(f"bids_{i}", StructType(inner)))
    for i in range(ASK_LEVELS):
        inner = [
            StructField(f"ask_{i}", FloatType()),
            StructField(f"ask_{i}_size", IntegerType()),
        ]
        fields.append(StructField(f"asks_{i}", StructType(inner)))
    return StructType(fields)


FEED_SCHEMAS = {
    "vix": vix_schema,
    "volume": candle_schema,
    "cot": cot_schema,
    "ind": indicator_schema,
    "deep": deep_schema,
}


def flatten_projection(schema: StructType) -> list[Column]:
    """The post-parse flatten + timestamp parse the reference applies to
    every feed (spark_consumer.py:104-105, 175-176, ...): nested struct
    fields surface under their leaf names; the string ``ts`` becomes a
    TimestampType ``ts``."""
    cols: list[Column] = []
    for f in schema.fields:
        if isinstance(f.dataType, StructType):
            for inner in f.dataType.fields:
                cols.append(F.col(f"{f.name}.{inner.name}").alias(inner.name))
        elif f.name == "ts":
            cols.append(F.to_timestamp(F.col("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts"))
        else:
            cols.append(F.col(f.name))
    return cols
