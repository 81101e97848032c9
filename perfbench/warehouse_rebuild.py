"""warehouse_rebuild — the training-set rebuild that
``sql_pytorch_dataloader`` reads: ``plans.full_row`` over a generated
multi-symbol, multi-year ``events`` history, written through the sink
layer's ``epoch_idempotent_writer``.

One op = build the lazy frame + write it. The write forces every
column; a ``.count()`` would let the optimizer prune the window stage.
Every op rewrites epoch 0, so each op replaces its predecessor's output.
"""

from __future__ import annotations

import functools
import os
import time

import duckdb
import pyarrow.parquet as pq

import gen
import harness as H
from conftest import assert_frame_parity
from financial_market_data_analysis_spark.plans.full_row import N_SYMBOLS, full_row, full_row_oracle
from financial_market_data_analysis_spark.streaming.pipeline import epoch_idempotent_writer

N_EVENTS = 120_000
YEARS = 2.0
GROUP = ("symbol",)


def oracle(gen_dir: str):
    """DuckDB ``full_row_oracle(partitioned=True)`` over the same file."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{gen_dir}/events.parquet'")
        return con.execute(full_row_oracle(partitioned=True)).fetchdf()
    finally:
        con.close()


def run(ctx: H.Ctx) -> dict:
    spark = ctx.spark
    t0 = time.perf_counter()
    src = ctx.path("gen", "events.parquet")
    pq.write_table(gen.events_history(ctx.seed, N_EVENTS, YEARS), src)
    gen_dir = os.path.dirname(src)
    out = ctx.path("warehouse")
    write = epoch_idempotent_writer(out, partition_by=GROUP)
    expected = functools.cache(lambda: oracle(gen_dir))
    build_s: list[float] = []

    def op(i: int) -> float:
        with ctx.span(f"op{i}.full_row") as sp:
            p = time.perf_counter()
            df = full_row(spark, gen_dir, group_cols=GROUP)
            build_s.append(time.perf_counter() - p)
            write(df, 0)
        return sp.elapsed

    def verify() -> None:
        assert_frame_parity(spark.read.parquet(out).drop("epoch_id"), expected())

    res = H.run_ops(ctx, op, verify, t0)
    res["rows_per_s"] = N_EVENTS * len(res["op_s"]) / sum(res["op_s"])
    res["inputs"] = {
        "events": N_EVENTS, "bytes": os.path.getsize(src), "symbols": N_SYMBOLS,
        "years": YEARS, "event_types": len(gen.EVENT_TYPES), "bars": len(expected()),
    }
    ctx.layers["plans.build_s"] = H.median(build_s[res["warm_n"]:])
    ctx.layers["sink.files"] = H.count_files(out)
    return res
