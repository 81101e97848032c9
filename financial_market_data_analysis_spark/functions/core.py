"""Small expression helpers shared by every operator."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column
from pyspark.sql import functions as F


def safe_div(num: Column, den: Column) -> Column:
    """Division with x/0 → NULL.

    Matches MySQL (the reference's view engine) and DuckDB (the oracle).
    Spark 4 runs ANSI mode by default, where ``/`` *throws* on zero —
    ``try_divide`` restores the NULL-on-zero semantics the reference
    relies on (SURVEY.md §7.4: division-by-zero → NULL → ``fillna(0)``).
    """
    return F.try_divide(num, den)


@contextmanager
def scoped_confs(spark, confs: dict[str, str]):
    """Set session ``confs`` for the block, then restore each previous
    value (unsetting the ones that had none).

    Callers: j9's and j10's AQE-threshold scopes, the four
    ``plans/extensions.py`` graph-sized shuffle scopes, and
    ``streaming/pipeline.py``'s run harness around ``start()`` (which
    holds a lock for that window). The settings are session-global, so
    the batch scopes are safe only because every execution context
    that runs these queries — the external correctness harness,
    ``tools/verify_contract.py``, ``bench.py`` and the pytest suite —
    runs ONE query at a time per SparkSession; concurrent queries on
    one session would race on the confs.
    """
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
