"""SURVEY.md §7.5: reference quirks are preserved verbatim — every
oracle compares against reference behaviour."""

from __future__ import annotations

import datetime

from financial_market_data_analysis_spark.functions.core import with_sql
from financial_market_data_analysis_spark.functions.features import (
    calendar_sql,
    one_hot_calendar_sql,
)


def _at(spark, *times):
    return spark.createDataFrame(
        [(datetime.datetime(2024, 5, d, h, m),) for d, h, m in times], ["ts"]
    )


def _calendar(df):
    return with_sql(with_sql(df, calendar_sql()), one_hot_calendar_sql())


def test_session_start_strict_reproduces_reference_quirk(spark):
    """hour >= 11 AND minute >= 30: 12:15 counts as session start
    (minute < 30) — the reference's bug-for-bug behavior."""
    df = _calendar(_at(spark, (6, 12, 15), (6, 11, 45), (6, 9, 0)))
    got = [r.session_start for r in df.orderBy("ts").collect()]
    #        9:00 → 1 (pre-11:30), 11:45 → 0, 12:15 → 1 (the quirk)
    assert got == [1, 0, 1]


def test_strict_default_matches_oracle_shape(spark):
    """The oracle shape: weeks one-hot as 1-4 only (f8_calendar's
    oracle relies on it), so May 31 (week 5) one-hots to all-zeros —
    indistinguishable from the dropped-category baseline."""
    df = _calendar(_at(spark, (6, 12, 15), (31, 10, 0))).orderBy("ts")
    assert [c for c in df.columns if c.startswith("week_") and c[-1].isdigit()] == [
        "week_1", "week_2", "week_3", "week_4",
    ]
    first, day31 = df.collect()
    assert first.session_start == 1
    assert [day31[f"week_{w}"] for w in range(1, 5)] == [0, 0, 0, 0]
