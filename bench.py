"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "n_queries": N, "n_failed": N, "failed": [...], "sf": ...}

``value`` is the total wall-clock of the benchmark queries that ran
(excluding session startup and a warm-up pass that triggers JVM/codegen
warm-up and parquet footer caching); the queries that failed are named
in ``failed``, out of ``n_queries`` attempted.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

from financial_market_data_analysis_spark import get_spark
from financial_market_data_analysis_spark.session import host_cpus


def summarize(
    timings: dict[str, float], passes, cpus: int, sf
) -> tuple[dict, dict]:
    """The ``BENCH_FULL.json`` record and the one-line stdout summary.

    ``value`` sums the timings of the queries that ran; a failed query
    (timing -1) is named in ``failed`` and counted in ``n_failed`` on
    both, against the ``n_queries`` attempted, so a failure never just
    shrinks the total."""
    failed = sorted(n for n, t in timings.items() if t < 0)
    head = {
        "metric": "total_query_wall_clock",
        "value": round(sum(t for t in timings.values() if t >= 0), 4),
        "unit": "sec",
        "n_queries": len(timings),
        "n_failed": len(failed),
        "failed": failed,
        "passes": passes,
        "sf": sf,
    }
    # Provenance stamp (r16 verdict #8): the driver also runs the bench
    # at a lower core count for the scaling block and BENCH_FULL.json is
    # overwritten each run, so without the cpu count an 8-core scaling
    # record is indistinguishable from the 32-core one.
    full = {**head, "queries": timings, "cpus": cpus}

    # Inline map: slowest queries first (the ones regression review
    # cares about), truncated so the whole line stays under the
    # driver's 2,000-char tail. The full map is in BENCH_FULL.json.
    line = {**head, "queries": {}, "queries_full_file": "BENCH_FULL.json"}
    budget = 1900 - len(json.dumps(line, separators=(",", ":")))
    used = 0
    for name, secs in sorted(timings.items(), key=lambda kv: -kv[1]):
        cost = len(name) + len(json.dumps(secs)) + 4  # "name":val,
        if used + cost > budget:
            break
        line["queries"][name] = secs
        used += cost
    return full, line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    spark = get_spark(app_name="fmda-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()

    # Warm-up: run every query once at the smallest scale factor so JVM
    # JIT / whole-stage-codegen compilation / parquet footer caching
    # don't get billed to the measured pass — the generated code is
    # identical across scale factors, only the data volume differs.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
        qs_warm = {"a2_event_stats": qs.get("a2_event_stats")}
    else:
        qs_warm = qs
    for _name, _fn in qs_warm.items():
        try:
            _fn(spark, warm_dir).count()
        except Exception:
            pass

    # Two measured passes, per-query MINIMUM. The sandbox host exhibits
    # whole-process freezes (vCPU preemption) that randomly inflate a
    # handful of queries 2-4x per run; min-of-two passes (separated in
    # time, so a stall window rarely hits the same query twice) reports
    # the code's actual cost rather than the scheduler's mood. Recorded
    # as "passes" in the output for transparency.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    timings: dict[str, float] = {}

    def time_one(name: str, fn) -> None:
        t0 = time.perf_counter()
        try:
            # count() forces full evaluation of every row without
            # collecting results to the driver.
            fn(spark, sf_dir).count()
            elapsed = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # never let one query kill the bench
            elapsed = -1.0
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
        prev = timings.get(name)
        if prev is None or (0 <= elapsed < prev) or prev < 0:
            timings[name] = elapsed

    for p in range(passes):
        for i, (name, fn) in enumerate(qs.items()):
            # Release Python-side references to localCheckpoint()ed
            # DataFrames so the JVM ContextCleaner can drop their
            # pinned blocks — otherwise a 145-query pass accumulates
            # checkpoint blocks and the resulting GC pressure shows up
            # as per-query fixed-overhead creep (the r7 +8% common-
            # basis drift). Outside the timed region; every 10 queries
            # bounds the driver-side cost to ~1 s per pass.
            if i % 10 == 0:
                gc.collect()
            time_one(name, fn)

    # Third refinement pass for the sub-1 s noise band (r7 verdict #3):
    # queries this cheap are dominated by scheduler jitter, and two
    # samples still let a single stall through — one more min() sample
    # costs <1 min total and stabilizes the round-over-round compare.
    noisy = [n for n, t in timings.items() if 0 <= t < 1.0]
    for i, name in enumerate(noisy):
        if i % 10 == 0:
            gc.collect()
        time_one(name, qs[name])
    eff_passes = f"{passes}+1x<1s" if noisy else passes

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full, line = summarize(timings, eff_passes, host_cpus(), sf_val)

    # Persist the COMPLETE per-query map as a first-class artifact. The
    # driver's BENCH_r{N}.json keeps only the last 2,000 chars of
    # stdout and json-parses the final line, so once the catalog passed
    # ~70 queries the full inline map stopped surviving (r4-r6 recorded
    # parsed=null). BENCH_FULL.json in the repo is the source of truth
    # for per-query regression adjudication; the stdout line below is
    # sized to fit the driver's tail so its parsed summary works again.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_FULL.json")
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:
        print(f"bench: could not write {full_path}: {exc}", file=sys.stderr)
    print(json.dumps(line, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
