"""The repo benchmark: one command, every metric by name and unit,
outputs checked. The workloads are those BENCHMARK.json lists.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics. ``--trace 1`` runs the workload with Spark's event log on and
prints its per-layer split (on corpus_dedup, with the live tail: see
live_tail.py). The last line
of stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")  # scratch; removed at exit


def _env(work: str) -> None:
    """Keep every file the run writes inside ``work``; size the session
    to this host's cores, as the repo's own test command does."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def _session(work: str, app: str, event_log: bool):
    import harness as H
    from financial_market_data_analysis_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=app, extra_conf=H.session_conf(work, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def _stop_jvm() -> None:
    """End the driver JVM and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = None


def run_pass(workload: str, seed: int, seconds: float, work: str, event_log: bool):
    import harness as H

    mod = __import__(workload)
    spark, start_s = _session(work, f"perfbench-{workload}", event_log)
    ctx = H.Ctx(spark=spark, work=os.path.join(work, "data"), seed=seed,
                seconds=seconds, trace=event_log,
                event_log_dir=os.path.join(work, "eventlog"))
    ctx.layers["session.get_spark_s"] = start_s
    try:
        res = mod.run(ctx)
        res["jvm_peak_rss_mb"] = H.jvm_peak_rss_mb(spark)
    finally:
        spark.stop()
    return res, ctx


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": res["setup_cpu_s"],
        "op_cpu_s": statistics.median(res["op_cpu_s"]),
    }


def with_units(values: dict, spec: list[dict]) -> dict:
    """Exactly the metrics BENCHMARK.json lists, each with its unit;
    a metric the code does not produce is a bug, not a zero."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


T0 = time.perf_counter()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["warehouse_rebuild", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import financial_market_data_analysis_spark  # noqa: F401 - fail before any set-up

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    _env(work)
    extra = {}
    try:
        res, ctx = run_pass(args.workload, args.seed, args.seconds, work, bool(args.trace))
        if args.trace:
            import tracing

            layers = tracing.per_layer(ctx, res)
            metrics = with_units(layers, spec["per_layer"])
            names = {m["name"] for m in spec["per_layer"]}
            extra = {k: v for k, v in layers.items() if k not in names}
        else:
            metrics = with_units(end_to_end(res), spec["end_to_end"])
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(WORK_ROOT)
    # the run's own record on stderr: input properties, check details,
    # set-up, warm-up and measured op times, the live tail's record and
    # per-layer figures BENCHMARK.json does not list
    print(json.dumps({"workload": args.workload, "seed": args.seed, "inputs": res.get("inputs"),
                      "setup_cpu_s": res["setup_cpu_s"],
                      "setup_wall_s": ctx.layers.get("setup_wall_s"),
                      "warmup_op_s": ctx.layers.get("warmup.op_s"),
                      "warmup_op_cpu_s": ctx.layers.get("warmup.op_cpu_s"),
                      "op_s": res["op_s"], "op_cpu_s": res["op_cpu_s"],
                      "jit_cpu_s": res["jit_cpu_s"], "classes_loaded": res["classes_loaded"],
                      "check_s": ctx.layers.get("check_s"), "live": res.get("live"),
                      "run_wall_s": time.perf_counter() - T0,
                      "jvm_peak_rss_mb": res["jvm_peak_rss_mb"], "layers": extra}),
          file=sys.stderr)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
