"""The JSON-decode flatten of the reference's Kafka feeds (S2).

Mirrors spark_consumer.py:94-106 (``CAST(value AS STRING)`` →
``from_json`` → flatten), config-driven: each feed's schema comes from
the registry in ``functions.schemas``. REST polls and file-stream
replays of their staging directories (``sources.rest``) feed this
decode; the engine has no Kafka reader or writer, since no
spark-sql-kafka connector ships with PySpark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from financial_market_data_analysis_spark.functions.schemas import flatten_projection


def json_decode_flatten(raw: DataFrame, schema: StructType) -> DataFrame:
    """S2 — ``from_json`` + struct flatten + event-time parse.

    ``raw`` carries one JSON document per row in ``value`` (bytes or
    string — Kafka's ``value`` works as-is). Identical for batch and
    streaming DataFrames.
    """
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("j")
    ).select("j.*")
    return parsed.select(*flatten_projection(schema))
