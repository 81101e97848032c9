"""corpus_dedup — MinHash-LSH near-duplicate detection plus connected
components over a generated corpus with planted near-duplicate
clusters: the only workload that drives the shingle/minhash folds, the
candidate self-join and the driver-side label-propagation loop.

One op = ``minhash_lsh_dedup`` → ``connected_components``, each result
written to parquet (the writes consume every row and column).
"""

from __future__ import annotations

import functools
import os
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import harness as H
import live_tail
from conftest import assert_frame_parity
from financial_market_data_analysis_spark.operators import dedup as D
from financial_market_data_analysis_spark.plans.extensions import (
    DOC_DUP_MOD,
    docs_augmented,
    minhash_clusters_oracle,
    minhash_lsh_oracle,
)

N_DOCS = 1000
NEAR_DUP_SHARE = 0.2
THRESHOLD = 0.5


def oracle(gen_dir: str):
    """DuckDB ``minhash_lsh_oracle`` / ``minhash_clusters_oracle``."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{gen_dir}/documents.parquet'")
        return (con.execute(minhash_lsh_oracle(THRESHOLD)).fetchdf(),
                con.execute(minhash_clusters_oracle(THRESHOLD)).fetchdf())
    finally:
        con.close()


def run(ctx: H.Ctx) -> dict:
    spark = ctx.spark
    t0 = time.perf_counter()
    src = ctx.path("gen", "documents.parquet")
    pq.write_table(gen.corpus(ctx.seed, N_DOCS, NEAR_DUP_SHARE), src)
    gen_dir = os.path.dirname(src)
    pairs_out, clusters_out = ctx.path("pairs"), ctx.path("clusters")
    expected = functools.cache(lambda: oracle(gen_dir))
    build_s: list[float] = []

    def op(i: int) -> float:
        with ctx.span(f"op{i}.minhash") as mh:
            p = time.perf_counter()
            docs = docs_augmented(spark, gen_dir)
            build_s.append(time.perf_counter() - p)
            pairs = D.minhash_lsh_dedup(docs, threshold=THRESHOLD)
            pairs.write.mode("overwrite").parquet(pairs_out)
        with ctx.span(f"op{i}.cc") as cc:
            comp = D.connected_components(pairs, src="doc_a", dst="doc_b")
            comp.withColumn(
                "is_keeper", (F.col("doc_id") == F.col("cluster_id")).cast("int")
            ).write.mode("overwrite").parquet(clusters_out)
        return mh.elapsed + cc.elapsed

    def verify() -> None:
        want_pairs, want_clusters = expected()
        assert_frame_parity(spark.read.parquet(pairs_out), want_pairs)
        assert_frame_parity(spark.read.parquet(clusters_out), want_clusters)

    res = H.run_ops(ctx, op, verify, t0)
    n_docs = N_DOCS + len(range(0, N_DOCS, DOC_DUP_MOD))
    res["rows_per_s"] = n_docs * len(res["op_s"]) / sum(res["op_s"])
    want_pairs, want_clusters = expected()
    sizes = want_clusters.groupby("cluster_id").size()
    res["inputs"] = {
        "documents": n_docs, "generated_documents": N_DOCS,
        "bytes": os.path.getsize(src), "near_dup_share": NEAR_DUP_SHARE,
        "suffix_copies": n_docs - N_DOCS, "verified_pairs": len(want_pairs),
        "clusters": len(sizes),
        "cluster_sizes": {int(k): int(v) for k, v in sizes.value_counts().sort_index().items()},
    }
    ctx.layers["plans.build_s"] = H.median(build_s[res["warm_n"]:])
    ctx.layers["sink.files"] = H.count_files(pairs_out) + H.count_files(clusters_out)
    if ctx.trace:
        with ctx.span("trace.candidates"):
            cand = D.band_candidate_pairs(D.lsh_bands(D.shingle_arrays(docs_augmented(spark, gen_dir))))
            ctx.layers["dedup.candidate_pairs"] = cand.count()
        ctx.layers["dedup.verified_pairs"] = len(want_pairs)
        # the live tail: one more attempted op, checked like the others
        ok, res["live"] = live_tail.run(ctx)
        res["attempted"] += 1
        res["failed"] += not ok
        res["correct"] = res["correct"] and ok
    return res
