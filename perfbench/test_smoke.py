"""The benchmark's own smoke test:

    python3 -m pytest perfbench/test_smoke.py -q

It shows, on tiny generated inputs, that the generators are
deterministic for a seed and that each output check passes on a
correct output and fails on a deliberately corrupted one; then that
both workloads run end to end (a 1 s measured phase, about a minute
each) and print a correct result line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import corpus_dedup  # noqa: E402
import gen  # noqa: E402
import live_tail  # noqa: E402
import warehouse_rebuild  # noqa: E402
from conftest import assert_frame_parity  # noqa: E402
from financial_market_data_analysis_spark.sources.rest import rest_batch  # noqa: E402
from financial_market_data_analysis_spark.streaming import pipeline as P  # noqa: E402


def test_generators_are_deterministic_per_seed():
    assert gen.events_history(5, 5000, 0.5).equals(gen.events_history(5, 5000, 0.5))
    assert not gen.events_history(5, 5000, 0.5).equals(gen.events_history(6, 5000, 0.5))
    assert gen.corpus(5, 300, 0.2).equals(gen.corpus(5, 300, 0.2))
    assert not gen.corpus(5, 300, 0.2).equals(gen.corpus(6, 300, 0.2))
    assert gen.live_polls(5, 40, 5) == gen.live_polls(5, 40, 5)
    assert gen.live_polls(5, 40, 5) != gen.live_polls(6, 40, 5)


def test_live_polls_carry_the_redelivered_bar():
    first, second = gen.live_polls(3, 40, 5)
    assert len(first["volume"]) == 35 and len(second["volume"]) == 5
    assert second["deep"][-1] == first["deep"][-1]


def _rejects_corruption(spark, want, column):
    assert_frame_parity(spark.createDataFrame(want), want)
    bad = want.copy()
    bad.loc[bad.index[len(bad) // 2], column] += 1
    with pytest.raises(AssertionError):
        assert_frame_parity(spark.createDataFrame(bad), want)
    with pytest.raises(AssertionError):
        assert_frame_parity(spark.createDataFrame(want.iloc[1:]), want)


def test_rebuild_check_rejects_corrupted_output(spark, tmp_path):
    pq.write_table(gen.events_history(2, 40_000, 0.2), str(tmp_path / "events.parquet"))
    want = warehouse_rebuild.oracle(str(tmp_path))
    assert len(want) > 10
    _rejects_corruption(spark, want, "ATR")


def test_corpus_check_rejects_corrupted_output(spark, tmp_path):
    pq.write_table(gen.corpus(2, 300, 0.3), str(tmp_path / "documents.parquet"))
    pairs, clusters = corpus_dedup.oracle(str(tmp_path))
    assert len(pairs) > 10
    _rejects_corruption(spark, pairs, "n_inter")
    _rejects_corruption(spark, clusters, "cluster_id")


def test_live_check_rejects_corrupted_warehouse(spark, tmp_path):
    """A warehouse written from the batch twin and its indicator
    snapshot pass the live tail's check; one changed bar fails it."""
    dirs = {f: str(tmp_path / "src" / f) for f in gen.LIVE_FEEDS}
    for d in dirs.values():
        os.makedirs(d)
    for k, p in enumerate(gen.live_polls(4, live_tail.N_BARS, live_tail.N_SECOND)):
        gen.stage_poll(p, dirs, k)
    wh = str(tmp_path / "wh")
    twin = live_tail.consumer_plan({f: rest_batch(spark, dirs[f], f) for f in gen.LIVE_FEEDS})
    P.epoch_idempotent_writer(wh, partition_by=("day",))(twin, 0)
    P.incremental_indicators(wh, tail_rows=live_tail.TAIL_ROWS, order_col="deep_ts",
                             partition_col="day")(twin, 0)
    ok, detail = live_tail.check(spark, twin, wh)
    assert ok, detail
    rows = spark.read.parquet(wh).drop("epoch_id")
    first = rows.agg(F.min("deep_ts")).first()[0]
    bad = rows.withColumn("close", F.when(F.col("deep_ts") == F.lit(first), F.col("close") + 1)
                          .otherwise(F.col("close")))
    bad_wh = str(tmp_path / "bad_wh")
    P.epoch_idempotent_writer(bad_wh, partition_by=("day",))(bad, 0)
    os.rename(wh + "_indicators", bad_wh + "_indicators")
    ok, detail = live_tail.check(spark, twin, bad_wh)
    assert not ok and not detail["warehouse_ok"], detail


@pytest.mark.parametrize("workload", ["warehouse_rebuild", "corpus_dedup"])
def test_workload_runs_end_to_end(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=600, cwd=os.path.dirname(HERE),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["end_to_end"]}
    assert set(res["metrics"]) == names
    assert all(m["value"] > 0 for m in res["metrics"].values())
