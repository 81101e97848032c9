"""Capture ``.explain("formatted")`` output for named queries.

    python tools/capture_plans.py --out plans/r16 --suffix after q1 q2 ...

Writes ``<out>/<query>_<suffix>.txt``. Runs against sf0.1 by default.
Batch queries are planned without execution; streaming-harness queries
EXECUTE their stream during construction (their returned frame is a
memory-sink table), so their file carries the returned frame's plan
plus a note — job-level evidence for those is in the per-sample
job totals and micro-batch phases that tools/measure.py records.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ns = ap.parse_args()

    from financial_market_data_analysis_spark import get_spark

    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()

    # Named INTERNAL plans: most catalog queries return an eagerly
    # checkpointed frame (their explain is just "Scan ExistingRDD"),
    # so the plan evidence for operator internals is captured from the
    # operator APIs directly, pre-checkpoint.
    def _simhash_edges(spark, sf):
        from financial_market_data_analysis_spark.plans.extensions import (
            docs_augmented, SIMHASH_BANDS, SIMHASH_MAX_HAMMING)
        from financial_market_data_analysis_spark.operators.dedup import (
            _simhash_sketches, _sketch_band_edges)
        sk = _simhash_sketches(docs_augmented(spark, sf), "doc_id", "text")
        return _sketch_band_edges(sk, SIMHASH_BANDS, SIMHASH_MAX_HAMMING)

    def _simhash_sketch_table(spark, sf):
        from financial_market_data_analysis_spark.plans.extensions import (
            docs_augmented)
        from financial_market_data_analysis_spark.operators.dedup import (
            _simhash_sketches)
        return _simhash_sketches(docs_augmented(spark, sf), "doc_id", "text")

    def _lsh_band_pairs(spark, sf):
        from financial_market_data_analysis_spark.plans.extensions import (
            docs_augmented)
        from financial_market_data_analysis_spark.operators import dedup as D
        sh = D.shingle_arrays(D.ensure_parallelism(docs_augmented(spark, sf)))
        return D.band_candidate_pairs(D.lsh_bands(sh))

    def _gaussian_bucket(spark, sf):
        from financial_market_data_analysis_spark.sources.batch import load_table
        from financial_market_data_analysis_spark.operators.similarity import (
            bucket_expr)
        e = load_table(spark, "embeddings", sf)
        return e.select("vec_id", bucket_expr("embedding").alias("bucket"))

    def _l2_exact_topk(spark, sf):
        from financial_market_data_analysis_spark.sources.batch import load_table
        import financial_market_data_analysis_spark.plans.extensions as X
        # pre-checkpoint plan of the exact-topk scorer: shows the
        # sequential L2 fold expression the generated-SQL _l2_fold
        # parses to (r16 §8 — the change is plan-BUILD cost only, so
        # the interesting evidence is that this plan is UNCHANGED).
        e = load_table(spark, "embeddings", sf)
        emb = X.F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        qv = e.filter(X.F.col("vec_id") < X.N_QUERY_VECS).select(
            X.F.col("vec_id").alias("query_id"), emb.alias("qv")
        )
        return e.select("vec_id", emb.alias("cv")).crossJoin(
            X.F.broadcast(qv)
        ).select("query_id", "vec_id", X._l2_fold("cv", "qv").alias("d"))

    qs = dict(qs)
    qs["internal_simhash_edges"] = _simhash_edges
    qs["internal_simhash_sketches"] = _simhash_sketch_table
    qs["internal_lsh_band_pairs"] = _lsh_band_pairs
    qs["internal_gaussian_bucket"] = _gaussian_bucket
    qs["internal_l2_exact_scored"] = _l2_exact_topk
    os.makedirs(ns.out, exist_ok=True)
    for name in ns.queries:
        if name not in qs:
            print(f"unknown query {name}", file=sys.stderr)
            continue
        try:
            df = qs[name](spark, ns.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(ns.out, f"{name}_{ns.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"wrote {path}")
        except Exception as exc:
            print(f"{name} failed: {exc}", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
