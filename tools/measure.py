"""Measure named queries: wall and CPU distributions, per-sample Spark
job totals and each stream's micro-batch phases, from one traced run.

    python tools/measure.py q5_local_volume t13_stream_ingest_dedup --out M.json
    python tools/measure.py x69_lsh_tuning --against HEAD~1 --out AB.json

Each of the SAMPLES samples is a fresh worker process with one engine
source tree on ``sys.path``; the measuring code (this file and
``perfbench/``) always comes from this checkout, so both sides of an
A/B are timed by identical code. The worker warms every query up with
one call at sf0.001, then times one call of each at ``--sf``:
construction (``fn(spark, sf)``) plus execution (``.count()``), in wall
seconds and in CPU seconds (``perfbench/harness.py::cpu_s``), and counts
the Py4J round trips construction makes (``construct_py4j_trips``). A
call that raises is recorded as failed; it still counts as attempted.

The event log is always on. A call's jobs are those submitted while it
ran (a stream's jobs carry the stream's job group, not the caller's),
totalled by ``perfbench/tracing.py``; the driver gap is the call's wall
time that no job covers. The same log's progress events give each
micro-batch's ``durationMs`` phases and state operators. The trace
overhead is the event-log writer thread's CPU over the timed calls' CPU.

The record holds the median, quartiles and n of every timing, per query
and per family (a query name's leading letters: q, a, w, j, s, d, x, t,
ml, ...).

``--against REV`` checks REV out as a git worktree and runs SAMPLES
pairs of parent and change (this checkout), alternating which side runs
first. Per query it counts the change's wall-time wins (ties count for
neither) and applies the claim rule: at least 9 wins in 10 pairs, and a
median lower than the parent's by more than the parent's interquartile
range, with no more failed calls than the parent.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SAMPLES = 10  # the metrics guide's minimum number of samples and of A/B pairs
WARM_SF = "/root/testdata/sf0.001"
TIMINGS = ("wall_s", "cpu_s", "construct_s", "execute_s", "construct_cpu_s", "execute_cpu_s")
COUNTS = ("construct_py4j_trips",)


# --------------------------------------------------------------------------
# worker: one sample in a fresh process


def _progress_events(log_dir: str) -> list[dict]:
    """Every StreamingQueryProgress in the event log, with its epoch time."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for fn in files:
            with open(os.path.join(root, fn)) as f:
                for line in f:
                    if "QueryProgressEvent" not in line:
                        continue
                    p = json.loads(line)["progress"]
                    ts = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                    out.append(dict(p, epoch=ts.timestamp()))
    return out


def _batch(p: dict) -> dict:
    return {
        "name": p.get("name"),
        "batch": p["batchId"],
        "rows_in": sum(src.get("numInputRows", 0) for src in p.get("sources", [])),
        "durationMs": p.get("durationMs", {}),
        "state": [
            {k: op.get(k) for k in ("operatorName", "numRowsTotal", "numRowsUpdated",
                                    "commitTimeMs", "memoryUsedBytes")}
            for op in p.get("stateOperators", [])
        ],
    }


def count_py4j_trips(spark) -> list[int]:
    """Count every Python→JVM command from now on: the returned one-item
    list holds the running total."""
    client = spark.sparkContext._gateway._gateway_client
    send, trips = client.send_command, [0]

    def counting(*args, **kwargs):
        trips[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    return trips


def sample(tree: str, sf: str, out: str, names: list[str]) -> None:
    """Warm up and time one call of each query, then write the calls'
    timings, job totals and micro-batches to ``out`` as JSON."""
    sys.path[:0] = [tree, os.path.join(REPO, "perfbench")]
    import harness as H
    import run as R
    import tracing as T

    import __spark_entry__ as entry
    from financial_market_data_analysis_spark import get_spark

    work = os.getcwd()
    spark = get_spark(app_name="measure", extra_conf=H.session_conf(work, event_log=True))
    spark.sparkContext.setLogLevel("ERROR")
    qs, pid = entry.queries(), H.jvm_pid(spark)
    for name in names:
        try:
            qs[name](spark, WARM_SF).count()
        except Exception:  # the timed call records the failure
            traceback.print_exc()
    calls, windows = {}, {}
    trips = count_py4j_trips(spark)
    ev0 = H.event_log_cpu_s(spark)
    for name in names:
        t0, c0, p0 = time.time(), H.cpu_s(pid), time.perf_counter()
        try:
            n0 = trips[0]
            df = qs[name](spark, sf)
            n1, c1, p1 = trips[0], H.cpu_s(pid), time.perf_counter()
            df.count()
        except Exception as exc:
            traceback.print_exc()
            calls[name] = {"ok": False, "error": f"{type(exc).__name__}: {str(exc)[:300]}"}
            continue
        c2, p2 = H.cpu_s(pid), time.perf_counter()
        windows[name] = (t0, time.time())
        calls[name] = {"ok": True, "construct_s": p1 - p0, "construct_py4j_trips": n1 - n0,
                       "execute_s": p2 - p1, "wall_s": p2 - p0, "construct_cpu_s": c1 - c0,
                       "execute_cpu_s": c2 - c1, "cpu_s": c2 - c0}
    ev = H.event_log_cpu_s(spark) - ev0
    call_cpu = sum(c["cpu_s"] for c in calls.values() if c["ok"])
    spark.stop()
    R._stop_jvm()

    log_dir = os.path.join(work, "eventlog")
    jobs, stages = T.read_event_log(log_dir)
    progress = _progress_events(log_dir)
    for name, (t0, t1) in windows.items():
        mine = [j for j in jobs if t0 <= j.start <= t1]
        busy = T.interval_union((j.start, min(j.end, t1)) for j in mine if j.end >= j.start)
        totals = {k: v for k, v in T.job_totals(mine, stages).items() if "." not in k}
        calls[name].update(totals, gap_s=(t1 - t0) - busy)
        if name.startswith("t"):
            calls[name]["batches"] = [_batch(p) for p in progress if t0 <= p["epoch"] <= t1]
    with open(out, "w") as f:
        json.dump({"overhead_share": ev / max(call_cpu - ev, 1e-9), "calls": calls}, f)


def _run_sample(tree: str, sf: str, names: list[str]) -> dict:
    """One sample in a fresh interpreter whose scratch files (warehouse,
    event log, shuffle, stream checkpoints) live in a temporary dir."""
    with tempfile.TemporaryDirectory(prefix="measure-") as work:
        out = os.path.join(work, "sample.json")
        env = dict(os.environ, TMPDIR=work, SPARK_LOCAL_DIRS=work)
        env.pop("PYTHONPATH", None)  # the worker imports only ``tree``'s engine
        code = (f"import sys; sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r}); "
                "import measure; measure.sample(*sys.argv[1:4], sys.argv[4:])")
        subprocess.run([sys.executable, "-c", code, tree, sf, out, *names],
                       cwd=work, env=env, check=True, stdout=2)
        with open(out) as f:
            return json.load(f)


# --------------------------------------------------------------------------
# summaries and the claim rule


def stats(xs: list[float]) -> dict:
    if not xs:
        return {"median": None, "q1": None, "q3": None, "n": 0}
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}


def family(name: str) -> str:
    return re.match(r"[a-z]+", name).group()


def summarize(samples: list[dict], names: list[str]) -> dict:
    """Distributions per query and per family. A family's sample is the
    sum over its queries; a sample in which one of them failed is counted
    as failed, not summed short."""
    queries = {}
    for name in names:
        calls = [s["calls"][name] for s in samples]
        ok = [c for c in calls if c["ok"]]
        queries[name] = {
            "attempted": len(calls), "failed": len(calls) - len(ok),
            **{k: stats([c[k] for c in ok]) for k in TIMINGS + COUNTS},
            "samples": calls,
        }
    families = {}
    for fam in dict.fromkeys(map(family, names)):
        members = [n for n in names if family(n) == fam]
        whole = [s for s in samples if all(s["calls"][n]["ok"] for n in members)]
        families[fam] = {
            "queries": members, "attempted": len(samples), "failed": len(samples) - len(whole),
            **{k: stats([sum(s["calls"][n][k] for n in members) for s in whole])
               for k in ("wall_s", "cpu_s")},
        }
    return {"queries": queries, "families": families,
            "overhead_share": stats([s["overhead_share"] for s in samples])}


def claim(change: list[float | None], parent: list[float | None]) -> dict:
    """The gain rule over paired wall times (``None``: the call failed).
    A pair is a win when both calls ran and the change took less time."""
    wins = sum(c is not None and p is not None and c < p for c, p in zip(change, parent))
    c, p = stats([x for x in change if x is not None]), stats([x for x in parent if x is not None])
    apart = (c["n"] and p["n"]) and p["median"] - c["median"] > p["q3"] - p["q1"]
    failed_ok = change.count(None) <= parent.count(None)
    return {"wins": wins, "pairs": len(change), "change_median": c["median"],
            "parent_median": p["median"], "parent_iqr": p["n"] and p["q3"] - p["q1"],
            "passes": bool(len(change) >= 10 and wins * 10 >= 9 * len(change)
                           and apart and failed_ok)}


def pair_orders(n: int) -> list[tuple[str, str]]:
    """Which side runs first in each pair: the change, then the parent, in turn."""
    return [("change", "parent") if i % 2 == 0 else ("parent", "change") for i in range(n)]


def _walls(samples: list[dict], name: str) -> list[float | None]:
    return [c["wall_s"] if c["ok"] else None for c in (s["calls"][name] for s in samples)]


# --------------------------------------------------------------------------


def measure(names: list[str], sf: str, against: str | None = None) -> dict:
    rec = {"sf": sf, "cpus": os.environ.get("SPARK_GRAFT_CPUS"), "samples": SAMPLES,
           "warm_sf": WARM_SF}
    if against is None:
        samples = []
        for i in range(SAMPLES):
            samples.append(_run_sample(REPO, sf, names))
            print(f"sample {i + 1}/{SAMPLES} done", file=sys.stderr)
        return dict(rec, **summarize(samples, names))
    sha = subprocess.run(["git", "-C", REPO, "rev-parse", against], check=True,
                         capture_output=True, text=True).stdout.strip()
    with tempfile.TemporaryDirectory(prefix="measure-parent-") as tree:
        subprocess.run(["git", "-C", REPO, "worktree", "add", "--detach", tree, sha],
                       check=True, stdout=2)
        try:
            runs = {"change": [], "parent": []}
            for i, order in enumerate(pair_orders(SAMPLES)):
                for side in order:
                    runs[side].append(_run_sample(REPO if side == "change" else tree, sf, names))
                print(f"pair {i + 1}/{SAMPLES} done ({order[0]} first)", file=sys.stderr)
        finally:
            subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force", tree],
                           check=True, stdout=2)
    return dict(rec, against=against, against_sha=sha, pair_orders=pair_orders(SAMPLES),
                change=summarize(runs["change"], names), parent=summarize(runs["parent"], names),
                claims={n: claim(_walls(runs["change"], n), _walls(runs["parent"], n))
                        for n in names})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    ap.add_argument("--sf", default="/root/testdata/sf0.1", help="scale-factor dir")
    ap.add_argument("--against", metavar="REV", help="git revision to A/B against")
    ap.add_argument("--out", help="JSON record path (default: stdout)")
    args = ap.parse_args(argv)
    rec = measure(args.queries, args.sf, args.against)
    text = json.dumps(rec, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)
    side = rec.get("change", rec)
    for name, q in side["queries"].items():
        w = q["wall_s"]
        line = f"{name}: wall median {w['median']} (q1 {w['q1']}, q3 {w['q3']}, n {w['n']}), " \
               f"failed {q['failed']}/{q['attempted']}"
        if "claims" in rec:
            cl = rec["claims"][name]
            verdict = "passes" if cl["passes"] else "fails"
            line += f"; wins {cl['wins']}/{cl['pairs']}, claim {verdict}"
        print(line, file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
