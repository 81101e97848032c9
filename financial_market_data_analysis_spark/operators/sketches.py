"""Mergeable-sketch operators: count-min heavy-hitter estimation, KMV
(bottom-k) distinct counting, and Bloom-filter set membership.

At 100 TB these ARE the summary tools: every sketch here is an
algebraic aggregate — per-partition partial sketches merge by cell-wise
sum (count-min), min-union (KMV), or bit-OR (Bloom) — so Spark computes
each with map-side partial aggregation and one tiny shuffle whose
output size is the SKETCH size (KBs), not the data size. The reference
has no sketch surface at all (its aggregates are exact MariaDB views,
create_database.py:60-200); these add the approximate tier a
training-data pipeline needs when exact per-key state stops fitting.

Determinism/oracle-portability: every hash is a fixed-width slice of
md5 over a salted string, mapped to an integer identically in Spark
(``conv(hex, 16, 10)``) and DuckDB (``('0x' || hex)::BIGINT``) — no
engine-native hash whose value could differ across sides. Production
swaps md5 for xxhash64 exactly as the MinHash family does
(dedup.py:14-19); the topology is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

# ---------------------------------------------------------------------------
# portable salted-hash slices

HASH_HEX = 8  # 32-bit slices for bucket hashes
KMV_HEX = 12  # 48-bit slices for the KMV order statistic (fits a double
#               exactly: 2^48 < 2^53, so u = h / 2^48 is an EXACT scaling
#               and the (k-1)/u_k estimate is one IEEE divide on both
#               engines — bit-identical)
KMV_SCALE = float(1 << (4 * KMV_HEX))


def md5_long(col: Column, n: int = HASH_HEX) -> Column:
    """First ``n`` hex chars of md5(col) as a BIGINT — the
    engine-portable uniform hash. Oracle twin: :func:`md5_long_sql`."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, n), 16, 10).cast(
        "long"
    )


def md5_long_sql(expr: str, n: int = HASH_HEX) -> str:
    return f"(('0x' || substr(md5({expr}), 1, {n}))::BIGINT)"


def _salted(salt: str, parts: list[Column]) -> Column:
    return F.concat(F.lit(salt + ":"), *parts)


# ---------------------------------------------------------------------------
# count-min sketch

CMS_DEPTH = 4
CMS_WIDTH = 256


def countmin_sketch(counts: DataFrame, key_col: str, cnt_col: str) -> DataFrame:
    """Fold a per-key count table into a ``CMS_DEPTH × CMS_WIDTH`` count-min
    sketch: one row per non-empty cell, ``(r, b, cell)`` with
    ``cell = Σ counts of keys hashing to bucket b under hash row r``.

    Cormode & Muthukrishnan 2005: estimate(key) = min over rows of its
    cell, an overestimate with error ≤ εN at probability 1-δ for
    width=e/ε, depth=ln(1/δ). The sketch is an algebraic aggregate —
    partial sketches over corpus splits merge by cell-wise addition —
    so at 100 TB it is one map-side-combined shuffle of at most
    depth×width rows per partition, never a per-key state."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("r")
    e = counts.select(F.col(key_col), F.col(cnt_col), rows)
    e = e.withColumn(
        "b",
        md5_long(_salted("cms", [F.col("r"), F.lit(":"), F.col(key_col)]))
        % CMS_WIDTH,
    )
    return e.groupBy("r", "b").agg(F.sum(cnt_col).alias("cell"))


def countmin_estimate(sketch: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """Point-estimate each key in ``keys`` against the sketch:
    ``est = min over r of cell[r][h_r(key)]``. The sketch is tiny
    (≤ depth×width rows) and broadcast; probing is an equi-join on the
    (r, b) cell key — no shuffle of the probe side beyond the final
    per-key min."""
    probes = keys.select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("r"),
    ).withColumn(
        "b",
        md5_long(_salted("cms", [F.col("r"), F.lit(":"), F.col(key_col)]))
        % CMS_WIDTH,
    )
    joined = probes.join(F.broadcast(sketch), ["r", "b"], "left").na.fill(
        {"cell": 0}
    )
    return joined.groupBy(key_col).agg(F.min("cell").alias("cms_est"))


def countmin_cells_sql(keyed_counts_cte: str) -> str:
    """Oracle twin of :func:`countmin_sketch` over a CTE named
    ``keyed_counts_cte`` exposing (key, cnt)."""
    h = md5_long_sql("'cms:' || r || ':' || tok")
    # CAST: DuckDB sum over BIGINT returns HUGEINT (surfaces as float64
    # against Spark's long — the ml4 lesson)
    return f"""
        SELECT r, {h} % {CMS_WIDTH} AS b,
               CAST(sum(cnt) AS BIGINT) AS cell
        FROM {keyed_counts_cte}, generate_series(0, {CMS_DEPTH - 1}) AS g(r)
        GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct-count sketch

KMV_K = 64


def kmv_distinct(df: DataFrame, key_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group distinct-count estimate from the k minimum hash values
    (Bar-Yossef et al. 2002 / the KMV-Θ sketch): hash each distinct key
    to u ∈ [0,1), keep the k smallest per group, estimate
    ``D ≈ (k-1) / u_k``. Exposes ``est_distinct`` (rounded to 4) next
    to the exact ``n_distinct`` so the estimator's error is measured,
    not asserted.

    Scale shape: the per-group distinct is one shuffle; the bottom-k
    is a bounded per-group window. At 100 TB the same estimate is
    produced WITHOUT the exact-distinct pass by a bottom-k algebraic
    aggregate (per-partition k-mins, merge = k smallest of the union);
    the exact column here exists to adjudicate the estimator."""
    distinct = df.select(*group_cols, key_col).distinct()
    hashed = distinct.withColumn(
        "__u", md5_long(_salted("kmv", [F.col(key_col)]), KMV_HEX) / KMV_SCALE
    )
    w = Window.partitionBy(*group_cols).orderBy("__u", key_col)
    ranked = hashed.select(
        *group_cols,
        "__u",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy(*group_cols)).alias("__n"),
    )
    kth = ranked.filter(
        (F.col("__rn") == F.least(F.lit(KMV_K), F.col("__n")))
    ).select(
        *group_cols,
        F.col("__n").alias("n_distinct"),
        F.when(F.col("__n") < KMV_K, F.col("__n").cast("double"))
        .otherwise(F.lit(float(KMV_K - 1)) / F.col("__u"))
        .alias("__est"),
    )
    return kth.select(
        *group_cols,
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round("__est", 4).alias("est_distinct"),
        F.round(
            F.abs(F.col("__est") - F.col("n_distinct")) / F.col("n_distinct"),
            4,
        ).alias("rel_err"),
    )


def kmv_distinct_sql(
    src_cte: str,
    key_expr: str,
    group_cols: list[str],
    extra_ctes: str = "",
) -> str:
    """Oracle twin of :func:`kmv_distinct` over a CTE exposing the
    group columns and ``key_expr``; ``extra_ctes`` (trailing comma
    included) defines ``src_cte`` itself when needed."""
    g = ", ".join(group_cols)
    # hash the ALIASED key — dk renames key_expr to __k
    h = md5_long_sql("'kmv:' || __k", KMV_HEX)
    return f"""
        WITH {extra_ctes}
        dk AS (SELECT DISTINCT {g}, {key_expr} AS __k FROM {src_cte}),
        hashed AS (
            SELECT {g}, __k, {h} / {KMV_SCALE!r} AS u FROM dk
        ),
        ranked AS (
            SELECT {g}, u,
                   row_number() OVER (PARTITION BY {g}
                                      ORDER BY u, __k) AS rn,
                   count(*) OVER (PARTITION BY {g}) AS n
            FROM hashed
        )
        SELECT {g}, CAST(n AS BIGINT) AS n_distinct,
               round(CASE WHEN n < {KMV_K} THEN CAST(n AS DOUBLE)
                          ELSE {float(KMV_K - 1)!r} / u END, 4) AS est_distinct,
               round(abs(CASE WHEN n < {KMV_K} THEN CAST(n AS DOUBLE)
                              ELSE {float(KMV_K - 1)!r} / u END - n) / n, 4)
                   AS rel_err
        FROM ranked
        WHERE rn = least({KMV_K}, n)
    """


# ---------------------------------------------------------------------------
# Bloom filter membership

BLOOM_M = 8192
BLOOM_K = 2


def bloom_bits(keys: DataFrame, key_col: str) -> DataFrame:
    """The set-bit table of a Bloom filter over ``keys``: one row per
    DISTINCT set bit position (≤ m rows total — the filter itself,
    in relational form). Partial filters over key splits merge by
    bit-union (DISTINCT), the classic mergeable-bitmap property."""
    e = keys.select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i"),
    )
    return (
        e.select(
            (
                md5_long(
                    _salted("bloom", [F.col("i"), F.lit(":"), F.col(key_col)])
                )
                % BLOOM_M
            ).alias("bit")
        )
        .distinct()
    )


def bloom_maybe_member(probes: DataFrame, bits: DataFrame, key_col: str) -> DataFrame:
    """Probe each row's ``key_col`` against the bit table: a key is a
    *maybe-member* iff ALL k of its bit positions are set (Bloom
    semantics — no false negatives, quantifiable false positives).
    ``bits`` is at most m rows → broadcast; the probe side is scanned
    once with no shuffle before the per-probe-row count.

    Returns the input rows (all columns) plus ``maybe_member`` (int).
    """
    probe_bits = probes.withColumn(
        "__i", F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1)))
    ).withColumn(
        "__bit",
        md5_long(_salted("bloom", [F.col("__i"), F.lit(":"), F.col(key_col)]))
        % BLOOM_M,
    )
    bset = bits.withColumn("__set", F.lit(1))
    hit = probe_bits.join(
        F.broadcast(bset), probe_bits["__bit"] == bset["bit"], "left"
    )
    return (
        hit.groupBy(*[c for c in probes.columns])
        .agg((F.count("__set") == BLOOM_K).cast("int").alias("maybe_member"))
    )


def bloom_bits_sql(keys_cte: str, key_expr: str, m: int = BLOOM_M, k: int = BLOOM_K) -> str:
    h = md5_long_sql(f"'bloom:' || i || ':' || {key_expr}")
    return f"""
        SELECT DISTINCT {h} % {m} AS bit
        FROM {keys_cte}, generate_series(0, {k - 1}) AS g(i)
    """


def kmv_bottomk(df: DataFrame, key_col: str, group_cols: list[str], k: int = KMV_K) -> DataFrame:
    """The raw bottom-k sketch ROWS per group — ``(group, __k, __u,
    __rn)`` for the k smallest hash values. This is the mergeable
    representation :func:`kmv_distinct` folds into an estimate:
    sketches of disjoint (or overlapping) inputs merge by taking the k
    smallest of the union — the property x55's set-algebra query
    adjudicates. Keeping the KEY alongside the hash is what enables
    intersection estimation (common keys under the merged threshold)."""
    distinct = df.select(*group_cols, key_col).distinct()
    hashed = distinct.withColumn(
        "__u", md5_long(_salted("kmv", [F.col(key_col)]), KMV_HEX) / KMV_SCALE
    )
    w = Window.partitionBy(*group_cols).orderBy("__u", key_col)
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
    )


# ---------------------------------------------------------------------------
# histogram (mergeable) quantile estimation

HIST_BINS = 64
HIST_QS = (0.5, 0.95, 0.99)  # the published quantiles


def histogram_bounds(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """Pass 1 of the two-pass equi-width histogram: per-group min/max/
    count — shared with t16, where the bounds are the STATIC side of a
    stream-static join (production histograms run with precomputed or
    fixed bucket bounds; recomputing them per micro-batch would make
    the buckets non-mergeable)."""
    return df.groupBy(*group_cols).agg(
        F.min(value_col).alias("__mn"),
        F.max(value_col).alias("__mx"),
        F.count(value_col).alias("__n"),
    )


def histogram_bucket_idx(value_col: str):
    """Bucket index of ``value_col`` given joined __mn/__mx bounds —
    the row-local pass-2 expression shared by the batch histogram and
    t16's per-micro-batch fold."""
    width = (F.col("__mx") - F.col("__mn")) / F.lit(float(HIST_BINS))
    return F.when(F.col("__mx") == F.col("__mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col(value_col) - F.col("__mn")) / width).cast("int"),
            F.lit(HIST_BINS - 1),
        )
    )


def histogram_quantiles(df: DataFrame, value_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group quantile ESTIMATES from an equi-width histogram —
    the mergeable answer to a8's exact rank selection (its docstring's
    "at 100 TB reach for a sketch"): the histogram is an additive
    groupBy (partial-aggregatable, KB-sized per group), so unlike the
    exact path there is no per-group full sort. Estimate = linear
    interpolation inside the first bucket whose cumulative count
    reaches ``ceil(q·n)``.

    Two passes over the data (bounds, then counts) — the classic
    two-pass equi-width histogram; both passes are map-side-combined
    aggregations. Returns (group, q, est_q) with est_q rounded to 6.
    Degenerate groups (min == max) estimate the constant itself."""
    bounds = histogram_bounds(df, value_col, group_cols)
    j = df.join(F.broadcast(bounds), group_cols)
    idx = histogram_bucket_idx(value_col)
    hist = (
        j.select(*group_cols, "__mn", "__mx", "__n", idx.alias("__b"))
        .groupBy(*group_cols, "__mn", "__mx", "__n", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return histogram_quantiles_from_hist(hist, group_cols)


def histogram_quantiles_from_hist(hist: DataFrame, group_cols: list[str]) -> DataFrame:
    """The interpolation tail of :func:`histogram_quantiles`, split out
    so a STREAMED histogram state can reuse it (t16): input is the
    additive histogram relation (group cols, __mn, __mx, __n, __b,
    __c) regardless of whether the counts came from a batch groupBy or
    a complete-mode streaming aggregation — the estimate math is
    identical by construction, which is what the t16 oracle match
    adjudicates."""
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(wcum))
    qcol = F.explode(F.array(*[F.lit(q) for q in HIST_QS])).alias("q")
    probes = cum.select("*", qcol).withColumn(
        "__target",
        F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("__n"))),
    )
    picked = probes.filter(
        (F.col("__cum") >= F.col("__target"))
        & (F.col("__cum") - F.col("__c") < F.col("__target"))
    )
    width2 = (F.col("__mx") - F.col("__mn")) / F.lit(float(HIST_BINS))
    frac = (
        F.col("__target") - (F.col("__cum") - F.col("__c"))
    ) / F.col("__c")
    est = F.when(F.col("__mx") == F.col("__mn"), F.col("__mn")).otherwise(
        F.col("__mn") + (F.col("__b") + frac) * width2
    )
    return picked.select(
        *group_cols, "q", F.round(est, 6).alias("est_q")
    )


def histogram_quantiles_sql(
    src_cte: str,
    value_expr: str,
    group_cols: list[str],
    extra_ctes: str = "",
) -> str:
    """Oracle twin of :func:`histogram_quantiles` (same float op
    order: (v-mn)/width bucket, mn + (b + frac)*width estimate)."""
    g = ", ".join(group_cols)
    qvals = ", ".join(f"({q})" for q in HIST_QS)
    return f"""
        WITH {extra_ctes}
        bounds AS (
            SELECT {g}, min({value_expr}) AS mn, max({value_expr}) AS mx,
                   count({value_expr}) AS n
            FROM {src_cte} GROUP BY {g}
        ),
        binned AS (
            SELECT s.*, b.mn, b.mx, b.n,
                   CASE WHEN b.mx = b.mn THEN 0
                        ELSE least(CAST(floor(({value_expr} - b.mn)
                                 / ((b.mx - b.mn) / {float(HIST_BINS)!r})) AS INT),
                                   {HIST_BINS - 1})
                   END AS bkt
            FROM {src_cte} s JOIN bounds b USING ({g})
        ),
        hist AS (
            SELECT {g}, mn, mx, n, bkt, count(*) AS c
            FROM binned GROUP BY {g}, mn, mx, n, bkt
        ),
        cum AS (
            SELECT *, sum(c) OVER (PARTITION BY {g} ORDER BY bkt
                         ROWS UNBOUNDED PRECEDING) AS cm
            FROM hist
        ),
        probes AS (
            SELECT cum.*, q,
                   greatest(1, CAST(ceil(q * n) AS BIGINT)) AS target
            FROM cum, (VALUES {qvals}) AS qs(q)
        )
        SELECT {g}, q,
               round(CASE WHEN mx = mn THEN mn
                          ELSE mn + (bkt + (target - (cm - c)) * 1.0 / c)
                               * ((mx - mn) / {float(HIST_BINS)!r})
                     END, 6) AS est_q
        FROM probes
        WHERE cm >= target AND cm - c < target
    """


# ---------------------------------------------------------------------------
# HyperLogLog distinct counting

HLL_P = 8  # 2^8 = 256 registers — the Flajolet et al. 2007 default tier
HLL_W_HEX = 15  # rank slice: 15 hex chars = 60 bits (fits signed 64 forever)
HLL_MAX_RHO = 4 * HLL_W_HEX + 1  # an all-zero slice ranks maxbits + 1


def _hll_alpha(m: int) -> float:
    """The bias-correction constant of Flajolet et al. 2007 §4."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Per-group HyperLogLog register relation — ``(group cols,
    register, rho)`` where ``register`` is the first ``HLL_P`` bits of the
    portable md5 hash and ``rho`` the 1-based leading-zero rank of the
    next 60 bits. This IS the sketch state: registers merge across any
    partitioning of the input by per-register ``max`` — an idempotent,
    commutative, associative fold, so duplicate keys, shard unions,
    and micro-batch replays all leave it unchanged (the property the
    t27 streaming twin adjudicates).

    Next to :func:`kmv_distinct` (bottom-k order statistic, min-union
    merge) this completes the two classic mergeable distinct-count
    algebras; HLL's state is a fixed 2^HLL_P bytes per group regardless of
    cardinality — the one that survives a billion-key group.

    Rank extraction is INTEGER-ONLY string arithmetic (leading-zero
    hex chars via ``trim(LEADING '0')``, then a 16-way CASE on the
    first non-zero nibble) — no log2/float whose last-ulp could
    diverge engines; the DuckDB twin (:func:`hll_sql`) computes the
    identical slice.

    Scale shape: one row-local projection, then ONE partial-aggregated
    groupBy on (group, register) whose output is at most 2^p rows per
    group — the shuffle carries the sketch, not the data."""
    return hll_registers_fn(key_col, group_cols)(df)


def hll_registers_fn(key_col: str, group_cols: list[str] | tuple[str, ...] = ()):
    """Prebuilt ``DataFrame -> registers`` closure behind
    :func:`hll_registers` — every Column is constructed ONCE here and
    reused on each call. Per-batch callers (the t27 incremental merge)
    otherwise rebuild the ~60-expression tree on every micro-batch,
    which is pure py4j/plan-construction chatter (r16, guide §4's
    boundary at plan-build time). Columns bind to a DataFrame only at
    use, so reuse across micro-batches is semantics-free."""
    reg_hex = HLL_P // 4
    key_ok = F.col(key_col).isNotNull()
    hx = F.md5(_salted("hll", [F.col(key_col)]).cast("binary"))
    w = HLL_W_HEX
    j_col = F.conv(F.substring("__hx", 1, reg_hex), 16, 10).cast("int")
    sub_col = F.substring("__hx", reg_hex + 1, w)
    z_col = F.lit(w) - F.length(F.expr("trim(LEADING '0' FROM __sub)"))
    fnz_col = F.expr("substr(__sub, __z + 1, 1)")
    clz4 = (
        F.when(F.col("__fnz") == "1", 3)
        .when(F.col("__fnz").isin("2", "3"), 2)
        .when(F.col("__fnz").isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = (
        F.when(F.col("__z") == w, F.lit(HLL_MAX_RHO))
        .otherwise(F.col("__z") * 4 + clz4 + 1)
        .cast("int")
    )
    max_rho = F.max("__rho").alias("rho")

    def _registers(df: DataFrame) -> DataFrame:
        d = (
            # a NULL key is no observation — without the filter it would
            # hash to NULL and mint a phantom NULL register that inflates
            # nonzero_registers (and so deflates the zeros term) in the
            # estimate; the SQL twin filters identically
            df.filter(key_ok)
            .select(*group_cols, hx.alias("__hx"))
            .withColumn("__j", j_col)
            .withColumn("__sub", sub_col)
            .withColumn("__z", z_col)
            .withColumn("__fnz", fnz_col)
        )
        return (
            d.withColumn("__rho", rho)
            .groupBy(*group_cols, "__j")
            .agg(max_rho)
            .withColumnRenamed("__j", "register")
        )

    return _registers


def hll_estimate_from_registers(
    regs: DataFrame,
    group_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """The estimate tail over a register relation (batch-built or
    stream-merged — the split mirrors
    :func:`histogram_quantiles_from_hist`): raw estimate
    ``alpha·m²/Σ2^-M[j]`` with the small-range linear-counting
    correction ``m·ln(m/V)`` when the raw estimate is ≤ 2.5m and V
    empty registers remain (Flajolet et al. 2007 §4; the 32-bit
    large-range correction is unnecessary at a 60-bit rank width).

    Float determinism: Σ2^-M[j] is summed EXACTLY as the integer
    Σ2^(61-M[j]) in DECIMAL(38,0) (order-independent — a double fold
    of 2^-61-granular terms would round differently under different
    partition merge orders), then ONE decimal→double cast and ONE
    divide produce the raw estimate — the same two roundings in both
    engines regardless of plan shape. The scale is 2^HLL_MAX_RHO so
    the shift count 61 - rho stays ≥ 0 even at the all-zero-slice cap
    rho = 61 (a negative shiftleft count silently wraps on the JVM —
    the one edge the integer fold must not hit)."""
    m = 1 << HLL_P
    c_lit = _hll_alpha(m) * m * m * (2.0**HLL_MAX_RHO)
    term = F.expr(
        f"CAST(shiftleft(CAST(1 AS BIGINT), {HLL_MAX_RHO} - rho)"
        " AS DECIMAL(38,0))"
    )
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("nonzero_registers"),
        F.sum(term).alias("__s_nz"),
    )
    zeros = F.lit(m) - F.col("nonzero_registers")
    s_total = F.col("__s_nz") + zeros.cast("decimal(38,0)") * F.lit(
        1 << HLL_MAX_RHO
    ).cast("decimal(38,0)")
    e_raw = F.lit(c_lit) / s_total.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(e_raw)
    return agg.select(
        *group_cols,
        F.col("nonzero_registers").cast("long").alias("nonzero_registers"),
        F.round(est, 6).alias("est_distinct"),
    )


def hll_sql(src_cte: str, key_expr: str, group_cols: list[str]) -> str:
    """Oracle twin of ``hll_registers`` → ``hll_estimate_from_registers``
    over a CTE exposing the group columns and ``key_expr``: identical
    md5 slice, identical integer rank arithmetic, identical exact
    integer register sum (DuckDB's sum(BIGINT) is HUGEINT — exact),
    identical two-rounding estimate."""
    g = ", ".join(group_cols)
    m = 1 << HLL_P
    reg_hex = HLL_P // 4
    w = HLL_W_HEX
    c_lit = _hll_alpha(m) * m * m * (2.0**HLL_MAX_RHO)
    z = f"({w} - length(trim(LEADING '0' FROM sub)))"
    clz4 = f"""
        CASE substr(sub, {z} + 1, 1)
             WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
             WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
             WHEN '7' THEN 1 ELSE 0 END"""
    return f"""
        WITH 
        hx AS (
            SELECT {g}, md5('hll:' || {key_expr}) AS h FROM {src_cte}
            WHERE {key_expr} IS NOT NULL
        ),
        parts AS (
            SELECT {g},
                   ('0x' || substr(h, 1, {reg_hex}))::BIGINT AS register,
                   substr(h, {reg_hex} + 1, {w}) AS sub
            FROM hx
        ),
        ranked AS (
            SELECT {g}, register,
                   CASE WHEN {z} = {w} THEN {HLL_MAX_RHO}
                        ELSE {z} * 4 + {clz4} + 1 END AS rho
            FROM parts
        ),
        regs AS (
            SELECT {g}, register, max(rho) AS rho
            FROM ranked GROUP BY {g}, register
        ),
        agg AS (
            SELECT {g}, count(*) AS nz,
                   sum(1::BIGINT << ({HLL_MAX_RHO} - rho)) AS s_nz
            FROM regs GROUP BY {g}
        ),
        raw AS (
            SELECT {g}, nz,
                   {c_lit!r} / CAST(s_nz + ({m} - nz)::HUGEINT
                       * (1::BIGINT << {HLL_MAX_RHO})::HUGEINT
                       AS DOUBLE) AS e_raw
            FROM agg
        )
        SELECT {g}, CAST(nz AS BIGINT) AS nonzero_registers,
               round(CASE WHEN e_raw <= {2.5 * m!r} AND {m} - nz > 0
                          THEN {float(m)!r}
                               * ln({float(m)!r} / ({m} - nz))
                          ELSE e_raw
                     END, 6) AS est_distinct
        FROM raw
    """
