"""Compare two BENCH_FULL.json-format records and report per-query
regressions/improvements — the round-over-round adjudication the
driver's truncated stdout tail could not support before round 7.

Usage:
    python tools/bench_compare.py OLD.json NEW.json [--ratio 1.3] [--floor 0.3]

A query is flagged as a regression when new > old * ratio AND
new - old > floor seconds (the floor suppresses sub-second noise on
the sandbox host, which exhibits whole-process freezes — see
bench.py's methodology note). Exit code 1 when any regression is
flagged, so the check can gate a commit.
"""

from __future__ import annotations

import argparse
import json


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old", metavar="OLD.json")
    ap.add_argument("new", metavar="NEW.json")
    ap.add_argument("--ratio", type=float, default=1.3)
    ap.add_argument("--floor", type=float, default=0.3)
    ns = ap.parse_args(argv)
    ratio, floor = ns.ratio, ns.floor

    old_rec = json.load(open(ns.old))
    new_rec = json.load(open(ns.new))
    if old_rec.get("sf") != new_rec.get("sf"):
        print(
            f"WARNING: scale factors differ (old sf={old_rec.get('sf')}, "
            f"new sf={new_rec.get('sf')}) — per-query deltas reflect data "
            "volume, not code; comparison is not meaningful as a gate"
        )
    old = old_rec.get("queries")
    new = new_rec.get("queries")
    if not isinstance(old, dict) or not isinstance(new, dict):
        # Driver-recorded BENCH_r*.json files before round 7 hold only a
        # truncated stdout tail; they have no machine-readable map.
        for label, rec, m in (("old", ns.old, old), ("new", ns.new, new)):
            if not isinstance(m, dict):
                print(f"ERROR: {label} record {rec} has no 'queries' map "
                      "(pre-round-7 truncated format?) — use BENCH_FULL.json")
        return 2
    common = sorted(set(old) & set(new))
    t_old = sum(old[q] for q in common if old[q] >= 0)
    t_new = sum(new[q] for q in common if new[q] >= 0)
    print(
        f"common {len(common)} queries: {t_old:.1f}s -> {t_new:.1f}s "
        f"({(t_new / t_old - 1) * 100:+.1f}%)"
    )
    added = sorted(set(new) - set(old))
    if added:
        extra = sum(new[q] for q in added if new[q] >= 0)
        print(f"added {len(added)} queries (+{extra:.1f}s): {', '.join(added)}")
    removed = sorted(set(old) - set(new))
    if removed:
        print(f"removed {len(removed)}: {', '.join(removed)}")

    regressions = 0
    for q in common:
        a, b = old[q], new[q]
        if b < 0:
            print(f"  FAILED-IN-RUN {q}: old={a} new={b}")
            regressions += 1
        elif a < 0:
            # failed in the OLD record, passes now — a recovery, not a
            # regression (r7 advice: a fix must not block the gate)
            print(f"  recovered {q}: old={a} new={b:.2f}s")
        elif b > a * ratio and b - a > floor:
            print(f"  REG {q}: {a:.2f}s -> {b:.2f}s ({b / a:.2f}x)")
            regressions += 1
        elif a > b * ratio and a - b > floor:
            print(f"  imp {q}: {a:.2f}s -> {b:.2f}s")
    print(f"regressions: {regressions}")
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
