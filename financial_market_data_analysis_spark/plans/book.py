"""Deterministic synthetic order book derived from the generic event
stream — the oracle-testable stand-in for the reference's IEX DEEP feed
(getMarketData.py:82-136; schema spark_consumer.py:281-291).

The driver's correctness gate only provides the TPC-H-ish tables, so
the 7-level book (FIXTURES.md §B1) is *derived* from ``events`` with
expressions simple enough to mirror exactly in ANSI SQL: both engines
evaluate the identical IEEE expression tree, so the downstream feature
operators (F2-F7) can be hash-compared bit-for-bit.

Shapes exercised on purpose: ``size = id % k`` hits zero sizes (the
reference's zero-guards, spark_consumer.py:368-377) and occasionally
``bid_0_size + ask_0_size = 0`` (division-by-zero → NULL → fillna,
spark_consumer.py:347).
"""

from __future__ import annotations

LEVELS = 7  # 7 bid + 7 ask levels, config.py:36-37


def book_sql(
    event_id: str = "event_id",
    user_id: str = "user_id",
    value: str = "value",
) -> dict[str, str]:
    """column → Spark SQL for the 7-level book over one snapshot row:
    prices fan out ±(i+1)/100 around ``value``; sizes are small
    deterministic moduli of the id columns.

    Price offsets are written as ``(i+1)D / 100.0D`` (not the Python
    literal ``0.01 * (i+1)``, and not an unsuffixed ``100.0``, which
    Spark SQL reads as DECIMAL) so both engines derive the constant from
    one correctly-rounded IEEE division and the downstream doubles are
    bit-identical.
    """
    cols = {}
    for i in range(LEVELS):
        off = f"({i + 1}.0D / 100.0D)"
        cols[f"bid_{i}"] = f"{value} - {off}"
        cols[f"ask_{i}"] = f"{value} + {off}"
        cols[f"bid_{i}_size"] = f"CAST({event_id} % {7 + i} AS INT)"
        cols[f"ask_{i}_size"] = f"CAST({user_id} % {5 + i} AS INT)"
    return cols


def book_oracle_cte() -> str:
    """DuckDB CTE body mirroring ``book_sql`` expression-for-expression
    (same IEEE constant derivation → same rounding)."""
    parts = []
    for i in range(LEVELS):
        off = f"(CAST({i + 1} AS DOUBLE) / 100.0)"
        parts.append(f"value - {off} AS bid_{i}")
        parts.append(f"value + {off} AS ask_{i}")
        parts.append(f"CAST(event_id % {7 + i} AS INT) AS bid_{i}_size")
        parts.append(f"CAST(user_id % {5 + i} AS INT) AS ask_{i}_size")
    cols = ",\n        ".join(parts)
    return f"""
    SELECT event_id, ts, user_id, value,
        {cols}
    FROM events
    """
