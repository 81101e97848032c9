"""J1-J4: join operators (SURVEY.md §2.4).

The one join whose semantics the engine must nail is J1 — the
reference's stream-stream *interval (as-of band) join*: equality on a
5-minute floored bucket AND ``other.ts ∈ [this.ts, this.ts + band]``
(spark_consumer.py:437-477). The redundant bucket-equality key is the
point: it turns a pure theta (range) join into an equi-join, so Spark
hash-partitions both sides on the bucket and each task only compares
rows within one bucket — the manual version of a binned range join.
At 100 TB that is the difference between a shuffled hash join and a
broadcast-nested-loop catastrophe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.plans.candles import (
    BUCKET_SECONDS,
    time_bucket,
    time_bucket_us,
)


def asof_band_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    band_seconds: int = 180,
    how: str = "inner",
    ts_unit: str = "us",
) -> DataFrame:
    """J1 — bucketed interval join.

    ``left ⋈ right ON bucket(left.ts) = bucket(right.ts) AND
    right.ts BETWEEN left.ts AND left.ts + band``.

    This reproduces the reference exactly: pairs whose band straddles a
    bucket boundary are dropped because the equi-key differs
    (spark_consumer.py:440-445 — the reference accepts this loss; its
    producer aligns feeds to the same 5-minute grid).

    ``ts_unit="us"`` expects epoch-microsecond longs (exact integer
    comparisons); ``"ts"`` expects TimestampType columns.
    """
    if ts_unit == "us":
        lb = time_bucket_us(left_ts, BUCKET_SECONDS)
        rb = time_bucket_us(right_ts, BUCKET_SECONDS)
        band = F.lit(band_seconds * 1_000_000)
    else:
        lb = time_bucket(left_ts, BUCKET_SECONDS)
        rb = time_bucket(right_ts, BUCKET_SECONDS)
        band = F.expr(f"INTERVAL {band_seconds} SECONDS")

    l = left.withColumn("__bucket", lb)
    r = right.withColumn("__bucket", rb)

    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (F.col("l.__bucket") == F.col("r.__bucket"))
        & (rt >= lt)
        & (rt <= lt + band)
    )
    joined = l.alias("l").join(r.alias("r"), cond, how)
    return joined.drop("__bucket")


def asof_join_last(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """True ASOF join: each left row takes the LATEST right row with
    ``right.ts <= left.ts`` within its key group — the staple financial
    lookup (mark every quote with the prevailing trade price) that the
    reference only approximates with its fixed band join (J1 drops a
    left row whose match is older than the band; this never does).

    Implemented as the union-sort pattern, NOT a per-row range probe:
    tag sides, union, and fill with one ``last(…, ignorenulls)`` over a
    per-key event-time window — a single shuffle on the key, each key
    group evaluated independently (no global sort), no theta join
    anywhere. The fill carries the latest right ROW as a struct (NULL
    for left rows, non-null for every right row even when its value
    fields are NULL), so a right row whose value is legitimately NULL
    is returned as NULL rather than skipped for an older non-null one —
    matching DuckDB's ``ASOF JOIN``, which matches rows, not values.
    At equal timestamps the right row sorts BEFORE the left row (side
    tiebreak), so a same-instant quote is visible to the trade — the
    standard at-or-before convention. Right rows must be unique per
    (key, ts); dedup upstream (e.g. ``max_by``) or the fill picks the
    physically-last peer.

    Left rows with no prior right row keep NULL values (left-outer
    semantics) — filter or fillna downstream as needed.
    """
    l = left.withColumn("__side", F.lit(1))
    r = right.select(*key_cols, ts_col, *value_cols).withColumn(
        "__side", F.lit(0)
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col, "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    right_row = F.when(
        F.col("__side") == 0, F.struct(*[F.col(v) for v in value_cols])
    )
    filled = unioned.withColumn(
        "__asof", F.last(right_row, ignorenulls=True).over(w)
    )
    return (
        filled.filter(F.col("__side") == 1)
        .withColumns({v: F.col("__asof")[v] for v in value_cols})
        .drop("__side", "__asof")
    )


def salted_skew_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-mitigated equi-join: the LEFT (skewed) side gets a random-
    free deterministic salt (``hash(row) pmod n``), the RIGHT side is
    replicated once per salt value, and the join key becomes
    (key, salt) — a hot key's rows now spread over ``n_salts`` tasks
    instead of hammering one reducer.

    Results are identical to ``left.join(right, on)`` (oracle-checked);
    use when AQE's runtime skew splitting isn't available or the skew
    is known up front. Cost: right side shuffled ``n_salts`` ×.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    l = left.withColumn("__salt", salt.cast("int"))
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return l.join(r, [on, "__salt"]).drop("__salt")


def interval_lookup_join(
    probes: DataFrame,
    intervals: DataFrame,
    key_cols: list[str],
    ts_col: str,
    start_col: str,
    end_col: str,
    value_cols: list[str],
    tie_col: str | None = None,
) -> DataFrame:
    """Point-in-interval (temporal-table / SCD2) lookup: each probe row
    takes the interval row whose validity range contains its timestamp
    — ``start <= ts`` and (``end`` IS NULL or ``ts < end``) — within
    its key group. The J-family member the reference's latest-state
    overwrite (predict.py's single MariaDB row) structurally cannot
    answer: "which version was active WHEN this event happened".

    NOT a non-equi theta join (which Spark would plan as a broadcast
    nested loop — quadratic per key): like :func:`asof_join_last`, the
    union-sort pattern. Interval starts and probe timestamps are
    unioned, sorted once per key group, and the prevailing interval is
    carried forward as a struct by ``last(…, ignorenulls)``; the
    half-open containment check then just validates the carried ``end``
    against the probe ``ts``. One shuffle on the key columns, bounded
    per-row state, no replication — the plan a 100 TB point-in-time
    join needs. Works for any non-overlapping interval set (SCD2
    builds, session tables, calendar regimes).

    At equal positions intervals sort BEFORE probes (side tiebreak), so
    a probe exactly at ``start`` sees that interval — matching the
    ``[start, end)`` convention; among intervals sharing a start,
    ``tie_col`` orders them and the LAST wins (pair with an upstream
    builder like the d4 SCD2 LEAD over the same tiebreak, which makes
    earlier peers empty ``[t, t)`` intervals that can never contain a
    probe). Probes with no containing interval are dropped (inner
    semantics); the matched interval's ``value_cols``/``start``/``end``
    must not collide with probe column names — rename upstream.
    """
    tie = F.col(tie_col) if tie_col else F.lit(0)
    iv = intervals.select(
        *key_cols,
        F.col(start_col).alias("__pos"),
        F.lit(0).alias("__side"),
        tie.alias("__tie"),
        F.struct(
            F.col(start_col), F.col(end_col), *[F.col(v) for v in value_cols]
        ).alias("__iv"),
    )
    pr = probes.select(
        "*",
        F.col(ts_col).alias("__pos"),
        F.lit(1).alias("__side"),
        F.lit(0).alias("__tie"),
        F.lit(None).cast(iv.schema["__iv"].dataType).alias("__iv"),
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("__pos", "__side", "__tie")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = pr.unionByName(iv, allowMissingColumns=True).withColumn(
        "__hit", F.last("__iv", ignorenulls=True).over(w)
    )
    picked = filled.filter(
        (F.col("__side") == 1)
        & F.col("__hit").isNotNull()
        & (
            F.col("__hit")[end_col].isNull()
            | (F.col(ts_col) < F.col("__hit")[end_col])
        )
    )
    out_cols = [start_col, end_col, *value_cols]
    return picked.withColumns(
        {c: F.col("__hit")[c] for c in out_cols}
    ).drop("__pos", "__side", "__tie", "__iv", "__hit")


def executed_plan_node_names(df: DataFrame) -> list[str]:
    """Execute ``df``'s physical plan once and return every node's
    class name, recursively unwrapping the two AQE wrappers that hide
    their subtrees behind LeafExecNode facades (``AdaptiveSparkPlanExec``
    via ``executedPlan``, ``*QueryStageExec`` via ``plan`` — the
    sources/batch.py ``_find_file_scan`` lesson generalized to whole
    plans). ``ReusedExchangeExec`` is a LeafExecNode that stands in
    for an exchange planned elsewhere in the same query; it is
    recorded as ``Reused:<reused node's class>`` (without walking its
    subtree, which already appears under the original) so shuffle
    counters can see reuse instead of undercounting (r14 ADVICE).

    COST NOTE (r14 ADVICE): ``plan.execute().count()`` runs the job
    HERE so AQE's final shape is what gets walked — an audited query
    that is also collected afterwards (the driver harness does both)
    therefore executes twice. That is the deliberate price of the
    proof queries (j5/j7/j8/s14/s15): one extra fixture-scale
    execution per adjudication, bounded and documented. Reusing the
    pre-finalized plan without executing would read the PRE-AQE shape
    and defeat the audit.

    The list is the raw material for plan-SHAPE invariants: which
    join strategies ran, how many shuffles, after AQE had its final
    say — things a correctness hash can never see."""
    names: list[str] = []

    def walk(p) -> None:
        name = p.getClass().getSimpleName()
        if name == "ReusedExchangeExec":
            # leaf facade for an exchange materialized once elsewhere:
            # record what KIND of exchange is being reused, don't
            # re-walk its subtree (the original occurrence covers it)
            names.append(f"Reused:{p.child().getClass().getSimpleName()}")
            return
        names.append(name)
        if name == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
        elif name.endswith("QueryStageExec"):
            walk(p.plan())
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()  # run exactly this plan so AQE finalizes
    walk(plan)
    return names


def _count_shuffles(names: list[str]) -> int:
    """ShuffleExchangeExec occurrences plus reused shuffle exchanges —
    a plan that reuses a shuffle still paid for (and reads) it, so
    audits must count both forms (r14 ADVICE)."""
    return names.count("ShuffleExchangeExec") + names.count(
        "Reused:ShuffleExchangeExec"
    )


def assert_star_broadcast(
    df: DataFrame, n_dims: int, max_shuffles: int = 1
) -> None:
    """Prove a star/snowflake assembly actually planned as broadcast
    joins (the s13/s14 proof discipline applied to the JOIN tier): the
    executed plan must contain at least ``n_dims``
    ``BroadcastHashJoinExec`` nodes, NO sort-merge or shuffled-hash
    join, and at most ``max_shuffles`` shuffle exchanges (the final
    aggregation's — the fact table must never shuffle FOR a dim join).
    A silent regression here — a dropped hint, a dim crossing the
    broadcast threshold, a stats change flipping AQE's choice —
    returns identical rows while shuffling the fact table once per
    dim, the plan failure that costs nothing at fixture scale and the
    cluster at 100 TB."""
    names = executed_plan_node_names(df)
    n_bhj = names.count("BroadcastHashJoinExec")
    n_smj = names.count("SortMergeJoinExec") + names.count(
        "ShuffledHashJoinExec"
    )
    n_sh = _count_shuffles(names)
    if n_bhj < n_dims or n_smj > 0 or n_sh > max_shuffles:
        raise RuntimeError(
            f"star-join plan regressed: {n_bhj} broadcast joins "
            f"(need >= {n_dims}), {n_smj} shuffle joins (need 0), "
            f"{n_sh} shuffle exchanges (max {max_shuffles}). Nodes: "
            f"{sorted(set(names))}"
        )


def assert_shuffle_free(df: DataFrame) -> None:
    """Prove a plan moves no data between executors: zero exchanges —
    the invariant bucketed layouts exist to buy (j5: two tables
    bucketed on the join key must join
    bucket-to-bucket with ZERO ShuffleExchangeExec; a lost bucket spec
    silently reintroduces the full fact shuffle while returning
    identical rows). Executes the plan once via
    :func:`executed_plan_node_names` so AQE's final shape is what gets
    audited. Reused shuffle exchanges count toward the budget (see
    :func:`_count_shuffles`)."""
    names = executed_plan_node_names(df)
    n_sh = _count_shuffles(names)
    if n_sh > 0:
        raise RuntimeError(
            f"shuffle-free plan regressed: {n_sh} shuffle exchanges "
            f"(max 0). Nodes: {sorted(set(names))}"
        )


def assert_runtime_broadcast_demotion(df: DataFrame) -> None:
    """Prove AQE's RUNTIME join re-selection fired (the j7/j8/j9
    proof discipline applied to the remaining silent planner lever):
    the static planner must have chosen a sort-merge join — the
    correct call when the build side's size is statically opaque
    (an aggregate/HAVING output) or above threshold — and the
    EXECUTED plan must show AQE demoted it to a broadcast hash join
    after the build side materialized small. Asserted from node
    objects on both plans:

    - the INITIAL physical plan (``AdaptiveSparkPlanExec.initialPlan``,
      walked WITHOUT executing) holds ≥1 ``SortMergeJoinExec`` and
      zero ``BroadcastHashJoinExec``;
    - the FINAL executed plan (via :func:`executed_plan_node_names`,
      one execution) holds ≥1 ``BroadcastHashJoinExec`` and zero
      ``SortMergeJoinExec``.

    String checks are NOT equivalent here: ``executedPlan().toString``
    on an adaptive plan prints the initial AND final plans, so both
    join names always appear in the text. At 100 TB this runtime flip
    is the difference between shuffling the full fact table and
    shipping a runtime-small dim to every executor — and it regresses
    silently (a threshold typo, ``spark.sql.adaptive.
    autoBroadcastJoinThreshold=-1``, a stats change) while returning
    identical rows."""
    qe_plan = df._jdf.queryExecution().executedPlan()
    initial: list[str] = []

    def walk_static(p) -> None:
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk_static(p.initialPlan())
            return
        initial.append(name)
        ch = p.children()
        for i in range(ch.size()):
            walk_static(ch.apply(i))

    walk_static(qe_plan)
    n_smj_0 = initial.count("SortMergeJoinExec")
    n_bhj_0 = initial.count("BroadcastHashJoinExec")
    final = executed_plan_node_names(df)
    n_smj_1 = final.count("SortMergeJoinExec")
    n_bhj_1 = final.count("BroadcastHashJoinExec")
    if n_smj_0 < 1 or n_bhj_0 > 0 or n_bhj_1 < 1 or n_smj_1 > 0:
        raise RuntimeError(
            "AQE runtime broadcast demotion did not fire: initial "
            f"plan had {n_smj_0} sort-merge / {n_bhj_0} broadcast "
            f"joins (need >=1 / 0), executed plan has {n_bhj_1} "
            f"broadcast / {n_smj_1} sort-merge joins (need >=1 / 0). "
            f"Initial: {sorted(set(initial))}; final: "
            f"{sorted(set(final))}"
        )


def assert_skew_join_split(df: DataFrame, min_splits: int = 2) -> None:
    """Prove Spark's OWN skew-join handling actually fired (r14
    verdict #5 — the one planner lever in the skew tier asserted by
    nothing: d8 measures key skew, j2 salts by hand, d9 measures the
    manual cure; this asserts the ZERO-CODE cure,
    ``spark.sql.adaptive.skewJoin``, the first thing a 100 TB operator
    reaches for). Two conditions, both read from the EXECUTED plan
    after AQE finalizes:

    1. at least one ``SortMergeJoinExec`` ran with
       ``isSkewJoin = true`` — AQE's OptimizeSkewedJoin rewrote the
       join; and
    2. the join's ``AQEShuffleReadExec`` sides report a summed
       ``numSkewedSplits`` of at least ``min_splits`` — the hot
       partition was actually cut into pieces, not merely flagged.

    Without this a conf typo, a threshold drift, or a rule regression
    silently reverts to one straggler task reading the whole hot key —
    identical rows, and at 100 TB the single-task wall that skew
    handling exists to break. Executes the plan once (the
    :func:`executed_plan_node_names` cost note applies)."""
    skew_joins = 0
    skewed_partitions = 0
    skewed_splits = 0

    def walk(p) -> None:
        nonlocal skew_joins, skewed_partitions, skewed_splits
        name = p.getClass().getSimpleName()
        if name == "ReusedExchangeExec":
            return
        if name == "SortMergeJoinExec" and p.isSkewJoin():
            skew_joins += 1
        if name == "AQEShuffleReadExec":
            it = p.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numSkewedPartitions":
                    skewed_partitions += kv._2().value()
                elif kv._1() == "numSkewedSplits":
                    skewed_splits += kv._2().value()
        if name == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
        elif name.endswith("QueryStageExec"):
            walk(p.plan())
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()  # run exactly this plan so AQE finalizes
    walk(plan)
    if skew_joins < 1 or skewed_splits < min_splits:
        raise RuntimeError(
            f"AQE skew handling did not fire: {skew_joins} skew-marked "
            f"sort-merge joins (need >= 1), {skewed_partitions} skewed "
            f"partitions, {skewed_splits} skew splits (need >= "
            f"{min_splits}). The hot key would ride one straggler "
            f"task. Plan:\n{plan.toString()}"
        )
