"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the 100 TB design brief:

- **Brute-force cosine top-k** — exact baseline. The query set is tiny
  → broadcast; the corpus streams through one scan; per-row cosine is a
  JVM-side higher-order-function fold (no Python, no UDF); top-k is a
  per-query window.
- **Hyperplane-LSH ANN** — scale path. Each vector gets an n-bit
  sign-pattern bucket from deterministic ±1 hyperplanes; search only
  compares query and corpus vectors in the same bucket (equi-join on
  the bucket key), trading recall for a ~2^n candidate reduction.

Two bucket constructions, same topology (bucket, equi-join, re-rank):

- ``hyperplane_bucket`` — ±1 planes from md5 hex-digit parities:
  bit-portable to ANSI SQL, but costs one md5 per (plane × element)
  — keep for oracle-exact parity tests.
- ``hyperplane_bucket_gaussian`` — the production path: a seeded
  Gaussian plane matrix inlined as literal arrays; each plane dot is
  one JVM ``zip_with``/``aggregate`` fold inside whole-stage codegen
  (no md5, no Python, no Arrow). ~n_planes×dim fewer hash calls per
  row. The same float literals are embedded in the DuckDB oracle, so
  it stays hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.functions.core import safe_div

N_PLANES = 8


def dot_expr(a: str | Column, b: str | Column) -> Column:
    """Σ aᵢ·bᵢ as a left-to-right double fold — element order fixed, so
    engines agree bit-for-bit."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            ca, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_expr(a: str | Column, b: str | Column) -> Column:
    return safe_div(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def hyperplane_bucket(vec_col: str | Column, n_planes: int = N_PLANES) -> Column:
    """n-bit LSH bucket: bit p = sign(Σ_d r_{p,d}·v_d) where
    r_{p,d} ∈ {−1, +1} comes from the parity of hex digit
    ``(d mod 32)+1`` of ``md5('p:d')`` — deterministic, engine-portable."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    odd = F.array(*[F.lit(ch) for ch in "13579bdf"])

    def plane_dot(p: int) -> Column:
        def term(x: Column, i: Column) -> Column:
            h = F.md5(F.concat(F.lit(f"{p}:"), i.cast("string")).cast("binary"))
            digit = F.substring(h, (i % 32 + 1).cast("int"), 1)
            sign = F.when(F.array_contains(odd, digit), F.lit(1.0)).otherwise(F.lit(-1.0))
            return sign * x.cast("double")

        # F.transform's lambda index is 0-based — matching the oracle's
        # (i - 1) convention (DuckDB lists are 1-based, hence i-1 there)
        idx = F.transform(c, lambda _, i: i)
        return F.aggregate(
            F.zip_with(c, idx, lambda x, i: term(x, i)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bits = [
        F.when(plane_dot(p) > 0, F.lit("1")).otherwise(F.lit("0"))
        for p in range(n_planes)
    ]
    return F.concat(*bits)


def gaussian_planes(n_planes: int, dim: int, seed: int = 7):
    """Seeded Gaussian plane matrix (n_planes × dim) — the standard
    random-projection LSH construction. Deterministic per seed, so the
    identical float literals can be inlined into a SQL oracle."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _dlit(v: float) -> str:
    """Exact DOUBLE literal for generated Spark-SQL text: ``repr``
    round-trips the IEEE value and the string→double cast is constant-
    folded at plan time, so the parsed literal is bit-identical to
    ``F.lit(float(v))`` (a bare ``1.23`` literal in Spark SQL would be
    DECIMAL, not double)."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def hyperplane_bucket_gaussian(
    vec_col: str | Column,
    n_planes: int = N_PLANES,
    dim: int = 64,
    seed: int = 7,
) -> Column:
    """Production bucket: bit p = sign(planes[p] · v) with the plane
    matrix inlined as literal arrays. Each dot is one codegen'd
    ``zip_with`` + ``aggregate`` fold — no md5, no Python workers.

    On a cluster the literals ship once inside the serialized plan
    (the broadcast-plane-matrix pattern without a pandas UDF).

    Cross-engine parity assumption (documented per the r2 advice): both
    Spark's sequential double fold and the oracle's dot product must
    produce the identical IEEE sum. A plane dot within a few ULPs of 0
    could flip its sign bit under a different summation order/FMA; the
    test suite asserts a margin away from 0 on the fixture data so a
    parity break is diagnosable rather than nondeterministic.

    A vector whose length differs from ``dim`` raises at runtime
    (otherwise ``zip_with`` would NULL-pad, silently folding the dot to
    NULL and landing every bit in the '0' branch while the SQL twin
    errors — the engines would diverge without a signal). The guard is
    one ``size`` comparison per row gating the whole bucket expression;
    measured at sf0.1 it is within noise of the unguarded fold (the
    8×dim plane arithmetic dominates), so it stays in-row rather than
    as a separate validation scan.

    The whole bucket is assembled as ONE generated-SQL expression
    (r16, guide §4's boundary lesson applied at PLAN-BUILD time): the
    previous per-plane ``F.array(*[F.lit(v) ...])`` construction made
    ~n_planes × dim Py4J round trips per call (~0.8 s for one 8×64
    bucket, multiplied by every LSH table and query that builds one);
    a single ``F.expr`` ships the identical expression tree in one
    call. Literals are exact (``_dlit``), so parsed plans — and every
    published cosine/recall — are bit-identical."""
    planes = gaussian_planes(n_planes, dim, seed)
    if not isinstance(vec_col, str):
        raise TypeError(
            "hyperplane_bucket_gaussian needs a column NAME (the bucket "
            "is assembled as generated SQL); alias the expression first"
        )
    vec = vec_col

    def plane_case(p: int) -> str:
        arr = "array(" + ",".join(_dlit(v) for v in planes[p]) + ")"
        dot = (
            f"aggregate(zip_with({vec}, {arr}, (x, r) -> "
            f"cast(x as double) * r), {_dlit(0.0)}, (acc, x) -> acc + x)"
        )
        return f"(CASE WHEN {dot} > 0 THEN '1' ELSE '0' END)"

    bucket = "concat(" + ",".join(plane_case(p) for p in range(n_planes)) + ")"
    # Single branch: the happy path evaluates size == dim once, then the
    # bucket; a wrong-length vector raises instead of mis-bucketing.
    return F.expr(
        f"CASE WHEN size({vec}) = {dim} THEN {bucket} "
        f"ELSE raise_error(concat('embedding dim != {dim}: got ', "
        f"cast(size({vec}) as string))) END"
    )


def gaussian_bucket_sql(
    vec: str, n_planes: int = N_PLANES, dim: int = 64, seed: int = 7
) -> str:
    """DuckDB twin of ``hyperplane_bucket_gaussian`` — the same seeded
    plane literals (full ``repr`` round-trip precision), dot via
    ``list_dot_product``."""
    planes = gaussian_planes(n_planes, dim, seed)
    bits = []
    for p in range(n_planes):
        arr = "[" + ", ".join(repr(float(v)) for v in planes[p]) + "]"
        dot = f"list_dot_product(CAST({vec} AS DOUBLE[]), {arr})"
        bits.append(f"(CASE WHEN {dot} > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def bucket_expr(
    vec_col: str | Column,
    n_planes: int = N_PLANES,
    method: str = "gaussian",
    dim: int = 64,
) -> Column:
    """Bucket dispatcher: ``method="gaussian"`` (production, codegen
    folds) or ``"md5"`` (engine-portable parity variant)."""
    if method == "gaussian":
        return hyperplane_bucket_gaussian(vec_col, n_planes, dim, 7)
    if method == "md5":
        return hyperplane_bucket(vec_col, n_planes)
    raise ValueError(f"unknown bucket method: {method}")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` is broadcast (tiny); the corpus is scanned once; the
    top-k window partitions by query id, so ranking shuffles only
    (query, candidate, score) triples — never the vectors.
    """
    q = queries.select(
        F.col("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm_expr(vec_col).alias("__qnorm"),
    )
    # norms are projected ONCE per corpus row / query row — cosine per
    # candidate pair is then one dot fold, not three (the naive
    # cosine_expr recomputes both norms per pair: 3x the FLOPs).
    c = corpus.withColumn("__norm", norm_expr(vec_col))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        safe_div(dot_expr(vec_col, "__qvec"), F.col("__norm") * F.col("__qnorm")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ivf_assignments(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its
    nearest-centroid cell (max cosine, ties to the lowest centroid id).

    Scale shape: ZERO-shuffle. The K centroids collapse to a single
    broadcast row carrying a (cid, cvec, cnorm) struct array; the
    argmax over K is then a row-local ``array_max`` fold per corpus
    vector — no K×N crossJoin rows, no groupBy re-shuffling the whole
    corpus (the previous plan grouped on the embedding ARRAY itself,
    paying an array-keyed shuffle of every vector). The output also
    carries ``__vnorm`` so downstream scoring (``ivf_topk``) never
    recomputes the corpus norms.
    """
    carr = centroids.select(
        F.struct(
            F.col("centroid_id").alias("cid"),
            F.col(vec_col).alias("cvec"),
            norm_expr(vec_col).alias("cnorm"),
        ).alias("__c")
    ).agg(F.collect_list("__c").alias("__cents"))
    vnorm = F.col("__vnorm")
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            safe_div(
                dot_expr(F.col(vec_col), c["cvec"]), vnorm * c["cnorm"]
            ).alias("cos"),
            (-c["cid"]).alias("negid"),
            c["cid"].alias("cid"),
        ),
    )
    return (
        corpus.withColumn("__vnorm", norm_expr(vec_col))
        .crossJoin(F.broadcast(carr))
        .select(
            F.col("vec_id"),
            F.col(vec_col),
            vnorm,
            F.array_max(scored)["cid"].alias("centroid_id"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: score only corpus vectors whose coarse
    cell is among the query's ``nprobe`` nearest centroids — the
    inverted-file ANN layout next to the LSH variant (``lsh_topk``).
    Candidate volume shrinks ~K/nprobe-fold; recall is tunable via
    ``nprobe`` without touching the stored assignment."""
    cells = ivf_assignments(corpus, centroids, vec_col)
    qc = centroids.select(
        F.col("centroid_id"), F.col(vec_col).alias("__cvec")
    )
    qs = queries.select(
        F.col("query_id"), F.col(vec_col).alias("__qvec")
    )
    q_scored = qs.crossJoin(F.broadcast(qc)).withColumn(
        "__qcos", cosine_expr("__qvec", "__cvec")  # queries × K: tiny
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("__qcos"), F.col("centroid_id")
    )
    probes = (
        q_scored.withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= nprobe)
        .select("query_id", "__qvec", "centroid_id")
    )
    probes = probes.withColumn("__qnorm", norm_expr("__qvec"))
    scored = cells.join(  # cells already carries __vnorm — no recompute
        F.broadcast(probes), "centroid_id"
    ).select(
        "query_id",
        "vec_id",
        safe_div(
            dot_expr(vec_col, "__qvec"), F.col("__vnorm") * F.col("__qnorm")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def kmeans_lloyd(
    corpus: DataFrame,
    init_centroids: DataFrame,
    n_iter: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Distributed Lloyd k-means refinement of an initial centroid set —
    the in-engine INDEX BUILD for the IVF path: ``ivf_topk`` (x12)
    probes cells, this trains them, closing the loop x30's measured
    recall exists to drive (recall drops as the corpus drifts → retrain
    the coarse quantizer in place).

    Per iteration, two stages and ONE shuffle:

    * assignment — ``ivf_assignments``' zero-shuffle broadcast argmax
      (K centroids collapse to one broadcast struct-array row; the
      nearest-centroid fold is row-local, cosine metric, ties to the
      lowest centroid id);
    * update — the element-wise mean as ``dim`` scalar ``avg``
      aggregates over one partial-aggregatable ``groupBy(centroid)``
      (map-side combine; no N×dim row explosion, no array-keyed
      shuffle), re-packed to one array column.

    Fixed ``n_iter`` (no convergence check) keeps the job count
    deterministic; updated centroids are rounded to 6 decimals
    each iteration so distributed partial-sum ULP drift can't leak into
    the next assignment's argmax — the property that makes an
    ITERATIVE training loop exactly reproducible in ANSI SQL (the x34
    oracle unrolls the iterations as CTEs). Cells that lose all members
    drop out (standard Lloyd behavior; K can only shrink).

    Returns (centroid_id, n_assigned, embedding) — the trained
    centroids, sized by their final assignment counts, directly
    consumable by ``ivf_topk``.
    """
    cents = init_centroids.select("centroid_id", "embedding")
    for _ in range(n_iter):
        assigned = ivf_assignments(corpus, cents, "embedding")
        # generated-SQL per-dimension aggregates: one F.expr per column
        # instead of ~4 Py4J calls per dim per iteration (r16; the
        # expression trees are identical)
        dims = [
            F.expr(
                f"avg(cast(element_at(embedding, {j + 1}) as double))"
            ).alias(f"__d{j}")
            for j in range(dim)
        ]
        upd = assigned.groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("n_assigned"), *dims
        )
        repack = (
            "array("
            + ",".join(f"round(__d{j}, 6)" for j in range(dim))
            + ")"
        )
        cents = upd.select(
            "centroid_id",
            "n_assigned",
            F.expr(repack).alias("embedding"),
        ).localCheckpoint(eager=True)  # K-row frame; truncates the
        # lineage so iteration N's plan doesn't embed (and re-run)
        # iterations 1..N-1 — matters once n_iter grows past the default
    return cents


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    method: str = "gaussian",
    n_tables: int = 1,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing an LSH bucket with
    the query are scored — the candidate set shrinks ~2^n_planes-fold
    per table.

    ``n_tables`` is the standard LSH recall lever: L independent hash
    tables (seeds 7 .. 7+L-1), candidates = the UNION of
    per-table bucket matches, deduplicated before scoring. Recall
    grows as 1-(1-p)^L per true neighbor at L× the candidate volume —
    tunable without touching stored data (x30 publishes the measured
    recall per method so the trade-off is a number, not a guess). The
    corpus still scans ONCE: the L bucket keys are computed in one
    projection and exploded, so the scan cost is L bucket folds, not L
    passes. Multi-table requires the Gaussian construction (the md5
    variant has no seed parameter).

    Norms are deferred to after the bucket equi-join, so the O(dim)
    norm fold runs per *candidate* row, not per corpus row — at 2^8
    bucket selectivity that removes ~1/5 of the full-scan arithmetic.
    """
    if n_tables == 1:
        bucket = bucket_expr(vec_col, n_planes, method, dim)
        cb = corpus.withColumn("__bucket", bucket)
        qb = queries.select(
            F.col("query_id"),
            F.col(vec_col).alias("__qvec"),
            bucket.alias("__bucket"),
            norm_expr(vec_col).alias("__qnorm"),
        )
        cand = cb.join(F.broadcast(qb), "__bucket")
    else:
        if method != "gaussian":
            raise ValueError("n_tables > 1 requires method='gaussian'")
        tables = F.posexplode(
            F.array(
                *[
                    hyperplane_bucket_gaussian(vec_col, n_planes, dim, 7 + t)
                    for t in range(n_tables)
                ]
            )
        ).alias("__t", "__bucket")
        # select("*", ...) keeps ALL corpus columns, matching the
        # n_tables=1 branch — the candidate schema must not silently
        # depend on the table count (r4 advice)
        cb = corpus.select("*", tables)
        qb = queries.select(
            F.col("query_id"),
            F.col(vec_col).alias("__qvec"),
            norm_expr(vec_col).alias("__qnorm"),
            tables,
        )
        # a pair matching in several tables must score ONCE: dedup on
        # the pair key (vectors ride along — identical per id)
        cand = (
            cb.join(F.broadcast(qb), ["__t", "__bucket"])
            .dropDuplicates(["query_id", "vec_id"])
        )
    scored = cand.select(
        "query_id",
        "vec_id",
        safe_div(
            dot_expr(vec_col, "__qvec"), norm_expr(vec_col) * F.col("__qnorm")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )
