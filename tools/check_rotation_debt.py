#!/usr/bin/env python
"""Rotation-debt guard (r7 verdict #7).

The driver adjudicates only the FIRST 50 ``queries()`` entries per
round, so an oracle-bearing query that never visits the window never
gets a hard correctness signal. Round 7 let that backlog grow to 13
silently; this check makes that impossible:

* every query must have a birth round recorded in
  ``tools/query_births.json`` (run with ``--update`` after adding
  queries — new names are stamped with the current round);
* every oracle-bearing query born BEFORE the current round that has no
  driver row in any ``CORRECTNESS_r*.json`` must sit INSIDE the
  current first-50 window, i.e. it gets its first row THIS round.
  Queries born this round are exempt (the window may be full), which
  bounds any query's wait for a hard signal to exactly one round.

The current round is derived from data, not from judge prose: the
largest N among ``CORRECTNESS_rN.json`` plus 1 — round N's correctness rows
land after round N's build, so the build in progress is N+1. Exit 0 =
no debt; exit 1 = debt (listed on stdout).

Run from the repo root. ``tests/test_entry_parity.py`` runs this in
every pytest session so debt fails the suite, not just the judge.
"""

from __future__ import annotations

import glob
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BIRTHS = ROOT / "tools" / "query_births.json"
WINDOW = 50


def current_round(root: Path = ROOT) -> int:
    rounds = [
        int(m.group(1))
        for f in root.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name))
    ]
    if not rounds:
        raise SystemExit(f"no CORRECTNESS_rN.json under {root}")
    return max(rounds) + 1


def driver_rows() -> set[str]:
    seen: set[str] = set()
    for f in glob.glob(str(ROOT / "CORRECTNESS_r*.json")):
        seen.update(json.load(open(f)))
    return seen


def check(update: bool = False) -> list[str]:
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as e

    keys = list(e.queries())
    oracle_bearing = set(e.oracle_sql())
    rnd = current_round()
    births: dict[str, int] = json.load(open(BIRTHS)) if BIRTHS.exists() else {}

    unstamped = [q for q in keys if q not in births]
    if unstamped:
        if not update:
            return [f"unstamped (run tools/check_rotation_debt.py --update): {q}"
                    for q in unstamped]
        for q in unstamped:
            births[q] = rnd
        births = {k: births[k] for k in keys}
        json.dump(births, open(BIRTHS, "w"), indent=1)
        print(f"stamped {len(unstamped)} new queries with round {rnd}")

    adjudicated = driver_rows()
    window = set(keys[:WINDOW])
    debt = [
        f"{q} (born r{births[q]}, no driver row, outside the window)"
        for q in keys
        if q in oracle_bearing
        and births[q] < rnd
        and q not in adjudicated
        and q not in window
    ]
    return debt


def main() -> int:
    debt = check(update="--update" in sys.argv)
    if debt:
        print("ROTATION DEBT:")
        for d in debt:
            print(" ", d)
        return 1
    print("rotation debt: none")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
