"""Batch sources: parquet table loaders over the driver's test tables.

Maps the reference's JDBC point/range scans (S7 — predict.py:144-165,
sql_pytorch_dataloader.py:97-105) onto parquet scans with Catalyst
predicate pushdown; the table registry replaces the reference's
``DESCRIBE``-based introspection (create_database.py:193-238) with
``df.schema``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-path parquet SCHEMA cache (metadata only — never rows, never a
# DataFrame). Every `load_table` call used to re-run schema inference:
# a driver-side file listing plus a footer read per call, ~0.1-0.2 s
# of pure fixed overhead repeated hundreds of times across the query
# catalog (guide §6: file listing/metadata is the driver-side cost to
# cache; manifest-based table formats exist to avoid exactly this).
# The first read of a path infers and remembers the schema; later
# reads pass it explicitly, which skips inference while still
# resolving a FRESH relation per call — fresh attribute ids, so
# self-joins of twice-loaded tables behave exactly as before. Keyed on
# the file's real path: the same table name under a different fixture
# directory (the layout-adaptivity tests ship events as nanos-long AND
# as timestamp[us]) caches separately, and the adaptive branching in
# `load_table` still runs per call from the cached schema.
_SCHEMA_CACHE: dict = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    key = os.path.realpath(path)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Columnar parquet scan; filters/projections push down via Catalyst.

    ``events.ts`` is exposed two ways regardless of the file's physical
    type: ``ts_us`` (epoch-microseconds long — the engine's exact
    event-time key) and ``ts`` (TimestampType — for watermarks/windows).
    The loader adapts to either on-disk layout the driver has shipped:

    * parquet TIMESTAMP(NANOS) — Spark rejects it by default, so it is
      read as nanosecond longs (``nanosAsLong``) and ``div 1000``-ed,
      reproducing exactly the nanos→µs truncation TIMESTAMP engines
      (DuckDB oracle included) apply;
    * parquet timestamp[us] (isAdjustedToUTC either way) — read as
      TIMESTAMP/TIMESTAMP_NTZ and cast under the UTC session timezone
      (an instant-preserving identity), ``ts_us`` via ``unix_micros``.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Calendar fields (hour/weekday/...) read TimestampType through
        # the session timezone; event-time semantics require UTC. The
        # engine's own get_spark pins it at session build; a foreign
        # session (e.g. the driver's vanilla one) gets it pinned here
        # too — loudly, not silently, if it had a different deliberate
        # setting (r2 advice: no hidden config mutation).
        tz = spark.conf.get("spark.sql.session.timeZone", None)
        if tz not in (None, "UTC", "Etc/UTC"):
            import warnings

            warnings.warn(
                f"load_table('events') overrides session timeZone {tz!r} -> 'UTC' "
                "(event-time operators assume UTC); build the session via "
                "get_spark() to pin it up front",
                stacklevel=2,
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "bigint"):  # TIMESTAMP(NANOS) read as nanos longs
            return df.withColumns(
                {
                    "ts_us": F.expr("ts div 1000"),
                    "ts": F.timestamp_micros(F.expr("ts div 1000")),
                }
            )
        if ts_type not in ("timestamp", "timestamp_ntz"):
            # An unexpected physical layout (string, int32, ...) would
            # cast to all-NULL timestamps downstream — fail loudly with
            # the observed type instead (r3 advice).
            raise TypeError(
                f"events.ts has unsupported parquet type {ts_type!r}; "
                "expected TIMESTAMP(NANOS) (read as nanos longs), "
                "timestamp, or timestamp_ntz"
            )
        ts = F.col("ts").cast("timestamp")  # NTZ→TS is identity under UTC session tz
        return df.withColumns({"ts_us": F.unix_micros(ts), "ts": ts})
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


N_BUCKETS = 8  # buckets per table written by write_bucketed


def write_bucketed(df: DataFrame, table: str, key: str, path: str) -> None:
    """Persist a table hash-bucketed (``N_BUCKETS``) and sorted on its
    join key.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT an Exchange — the co-located join the reference's MariaDB
    side can't express and the single biggest shuffle eliminator for a
    repeatedly-joined 100 TB fact table (asserted shuffle-free in
    tests). The table is external: files land under ``path``, only
    metadata in the session catalog.
    """
    (
        df.write.mode("overwrite").format("parquet")
        .bucketBy(N_BUCKETS, key).sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )


Z_BITS = 16  # bits per dimension in the interleaved key


def z_value(x: Column, y: Column) -> Column:
    """Morton/Z-order key: interleave the low ``Z_BITS`` of two
    non-negative int columns (x even positions, y odd). Sorting/range-
    partitioning data by this key before writing clusters rows that are
    close in BOTH dimensions into the same files, so parquet min/max
    stats prune scans filtered on either column — the data-layout
    optimization behind multi-dimensional OPTIMIZE ZORDER commands,
    expressed as a plain deterministic column (pure integer shifts/
    masks, bit-identical in any engine).
    """
    x, y = x.cast("long"), y.cast("long")  # 2*Z_BITS exceeds int32
    terms = []
    for b in range(Z_BITS):
        xb = F.shiftright(x, b).bitwiseAND(F.lit(1).cast("long"))
        yb = F.shiftright(y, b).bitwiseAND(F.lit(1).cast("long"))
        terms.append(F.shiftleft(xb, 2 * b).bitwiseOR(F.shiftleft(yb, 2 * b + 1)))
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def z_value_sql(x_expr: str, y_expr: str) -> str:
    xb, yb = f"CAST({x_expr} AS BIGINT)", f"CAST({y_expr} AS BIGINT)"
    terms = [
        f"((({xb} >> {b}) & 1) << {2 * b}) | ((({yb} >> {b}) & 1) << {2 * b + 1})"
        for b in range(Z_BITS)
    ]
    return "(" + " | ".join(f"({t})" for t in terms) + ")"


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str] | tuple[str, ...]
) -> None:
    """Hive-layout partitioned write (``part_col=value/`` directories).

    The other half of the physical-layout pair next to
    :func:`write_bucketed`: bucketing co-locates equi-JOIN keys,
    directory partitioning prunes range/point SCANS — a reader that
    filters on the partition column touches only the matching
    directories, never opening (or even listing the footers of) the
    rest. At 100 TB a date-partitioned warehouse is the difference
    between a tail query reading one day and reading three years; the
    reference's MariaDB tables have no physical partitioning at all
    (create_database.py:60-200 — every range scan is an index walk).

    Keep partition cardinality bounded (days/sources, not user ids):
    each value is a directory, and a million tiny directories is its
    own scale failure."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def scan_partition_pruned(
    spark: SparkSession, path: str, part_col: str, lo: int, hi: int
) -> DataFrame:
    """Range scan over a hive-partitioned dataset that PROVES the
    partition pruning happened instead of assuming it.

    ``inputFiles()`` is the WRONG probe (it lists the relation's whole
    FileIndex before planning — it reports every file even when the
    physical scan prunes perfectly). The proof here is the physical
    scan's own execution metrics: a footer-only PROBE plan — the same
    filter, projecting ONLY the partition column, so its ReadSchema is
    empty and the probe costs metadata, not data — is executed once,
    and its ``FileSourceScanExec`` ``numPartitions`` metric must equal
    the number of on-disk ``part_col=value`` directories inside
    [lo, hi] AND be strictly fewer than the directories on disk (≥1
    partition demonstrably skipped). A layout regression (partition
    column written as a data column, inference disabled, a filter
    Catalyst can't push into partition pruning) raises loudly rather
    than silently scanning everything — the failure mode that costs
    nothing at fixture scale and a full warehouse scan at 100 TB.

    The returned DataFrame is the data scan itself (same filter, all
    columns), which Catalyst prunes by the same PartitionFilters the
    audited probe proved effective.

    The on-disk directory census uses ``os.listdir`` (the fixtures are
    local); on HDFS/S3 swap it for a ``FileSystem.listStatus`` /
    ListObjectsV2 prefix listing — one RPC per audit, still
    metadata-priced."""
    base = spark.read.parquet(path)
    cond = (F.col(part_col) >= lo) & (F.col(part_col) <= hi)
    on_disk: set[int] = set()
    for d in os.listdir(path):
        if not d.startswith(f"{part_col}="):
            continue
        raw = d.split("=", 1)[1]
        try:
            on_disk.add(int(raw))
        except ValueError:
            # A NULL partition value writes __HIVE_DEFAULT_PARTITION__;
            # the audit's range arithmetic is only defined over a
            # non-null integer key, so fail with the auditor's own
            # diagnostic instead of a bare int() ValueError.
            raise RuntimeError(
                f"partition-pruning audit requires a non-null integer "
                f"{part_col} key: directory {d!r} carries a "
                f"non-integer value (a NULL key writes the "
                f"__HIVE_DEFAULT_PARTITION__ sentinel)"
            ) from None
    in_range = {v for v in on_disk if lo <= v <= hi}
    if len(in_range) == len(on_disk):
        raise RuntimeError(
            f"partition pruning is unprovable: every on-disk "
            f"{part_col} partition ({sorted(on_disk)}) is inside "
            f"[{lo}, {hi}] — widen the layout or narrow the range"
        )
    probe = base.select(part_col).filter(cond)
    plan = probe._jdf.queryExecution().executedPlan()
    plan.execute().count()  # run exactly this physical plan once
    leaf = _find_file_scan(plan)
    if leaf is None:
        raise RuntimeError(
            "partition pruning is unprovable: no FileSourceScanExec "
            "leaf in the executed probe plan — the scan was planned "
            "through a node this audit does not understand. Probe "
            f"plan:\n{plan.toString()}"
        )
    metrics: dict[str, int] = {}
    it = leaf.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    n_sel = metrics.get("numPartitions")
    if n_sel is None:
        raise RuntimeError(
            "partition pruning is unprovable: the FileSourceScanExec "
            f"exposes no numPartitions metric (metrics: "
            f"{sorted(metrics)}). Probe plan:\n{plan.toString()}"
        )
    if n_sel != len(in_range):
        raise RuntimeError(
            f"partition pruning failed: scan selected {n_sel} "
            f"partition directories, expected exactly the "
            f"{len(in_range)} of {len(on_disk)} on disk inside "
            f"[{lo}, {hi}] (metrics: {metrics})"
        )
    return base.filter(cond)


def _find_file_scan(plan, path_substr: str | None = None):
    """The ``FileSourceScanExec`` among an executed plan's leaves,
    selected by node TYPE rather than position (r13 advice): if AQE is
    forced onto the probe (``spark.sql.adaptive.forceApply``, or a
    future Spark planning simple scans adaptively), the plan's leaf 0
    is an ``AdaptiveSparkPlanExec`` — which extends LeafExecNode and
    so HIDES the real scan from ``collectLeaves`` — and a positional
    ``apply(0)`` would read metrics off the wrong node. The same
    applies one level down: AQE wraps each materialized stage in a
    ``*QueryStageExec`` (also a leaf) whose real subtree hangs off
    ``plan()``. Unwrap both wrappers recursively; return None when no
    file scan exists so the caller can raise with the full plan
    string.

    ``path_substr`` disambiguates plans holding MORE THAN ONE file
    scan (r14 advice: j8's plan scans both the fact and the dim
    parquet, and whichever traversal order surfaces first would
    otherwise win): only a scan whose relation rootPaths contain the
    substring matches, so an audit reads metrics off the scan it
    means (e.g. the fact directory), whatever AQE does to node
    order."""
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        name = leaf.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            if path_substr is None:
                return leaf
            roots = leaf.relation().location().rootPaths().mkString(",")
            if path_substr in roots:
                return leaf
            continue
        inner = None
        if name == "AdaptiveSparkPlanExec":
            inner = leaf.executedPlan()
        elif name.endswith("QueryStageExec"):
            inner = leaf.plan()
        if inner is not None:
            found = _find_file_scan(inner, path_substr)
            if found is not None:
                return found
    return None


def write_sorted(
    df: DataFrame, path: str, sort_col: str, n_files: int
) -> None:
    """Range-clustered write: ``repartitionByRange`` on the sort
    column, then ``sortWithinPartitions``, so each of the ``n_files``
    output files covers a disjoint range of ``sort_col`` and every
    parquet row group carries tight min/max footer statistics on it.

    The third member of the physical-layout tier: bucketing
    (:func:`write_bucketed`) co-locates equi-JOIN keys, directory
    partitioning (:func:`write_partitioned`) prunes scans on a
    bounded-cardinality key, and range-clustering makes min/max
    DATA SKIPPING effective on a high-cardinality ordered column
    (timestamps, monotonic ids) where a directory per value would be
    its own scale failure. An unsorted write spreads every value range
    across every file and the same footer stats prune nothing."""
    (
        df.repartitionByRange(n_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def scan_minmax_skipped(
    spark: SparkSession, path: str, col_name: str, lo: int, hi: int
) -> DataFrame:
    """Range scan over a range-clustered dataset that PROVES min/max
    data skipping happened instead of assuming it — the
    :func:`scan_partition_pruned` audit applied one level down, at
    row-group granularity (r13 verdict #3).

    Directory pruning never touches out-of-range dirs; INSIDE a file,
    the second I/O lever is the parquet reader dropping whole row
    groups whose footer [min, max] cannot intersect the pushed
    predicate. That only works when (a) the filter actually reaches
    the scan (``PushedFilters`` in the plan) and (b) the layout was
    written range-clustered so the stats are tight — both silently
    regress: the query returns identical rows while reading every
    byte. The proof is a sandwich on the executed probe scan's
    ``numOutputRows`` metric (a scan emits rows from surviving row
    groups BEFORE Spark's Filter re-evaluates the predicate):

        n_match  <=  numOutputRows  <=  overlap_rows  <  total_rows

    where ``overlap_rows`` sums the footer row counts of row groups
    whose [min, max] intersects [lo, hi] (census via pyarrow — one
    footer read per file, metadata-priced, the s13 ``os.listdir``
    swap note applies on HDFS/S3) and ``n_match`` is the exact
    predicate-matching row count from the same executed probe. The
    upper bound proves every non-overlapping row group was skipped
    (page-level column-index skipping may do even better); the lower
    bound proves nothing needed was dropped; ``overlap < total``
    proves the layout makes skipping demonstrable at all. Missing
    footer statistics raise — stats-less files silently disable
    skipping everywhere.

    The returned DataFrame is the data scan itself (same filter, all
    columns), pruned by the same pushed predicate the audit proved
    effective."""
    import pyarrow.parquet as pq

    files = sorted(
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    if not files:
        raise RuntimeError(f"no parquet files under {path}")
    total_rows = 0
    overlap_rows = 0
    n_groups = 0
    n_overlap_groups = 0
    for f in files:
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        col_idx = None
        for i in range(md.num_columns):
            if md.row_group(0).column(i).path_in_schema == col_name:
                col_idx = i
                break
        if col_idx is None:
            raise RuntimeError(
                f"column {col_name!r} not found in {f} footer"
            )
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            st = g.column(col_idx).statistics
            if st is None or not st.has_min_max:
                raise RuntimeError(
                    f"row group {rg} of {f} has no min/max statistics "
                    f"for {col_name!r} — data skipping is silently "
                    f"disabled for this layout"
                )
            n_groups += 1
            total_rows += g.num_rows
            if st.min <= hi and st.max >= lo:
                overlap_rows += g.num_rows
                n_overlap_groups += 1
    if overlap_rows == total_rows:
        raise RuntimeError(
            f"data skipping is unprovable: every row group of "
            f"{col_name} overlaps [{lo}, {hi}] ({n_groups} groups, "
            f"{total_rows} rows) — widen the layout or narrow the range"
        )
    base = spark.read.parquet(path)
    cond = (F.col(col_name) >= lo) & (F.col(col_name) <= hi)
    probe = base.select(col_name).filter(cond)
    plan = probe._jdf.queryExecution().executedPlan()
    n_match = plan.execute().count()  # run exactly this physical plan
    leaf = _find_file_scan(plan)
    if leaf is None:
        raise RuntimeError(
            "data skipping is unprovable: no FileSourceScanExec leaf "
            f"in the executed probe plan:\n{plan.toString()}"
        )
    metrics: dict[str, int] = {}
    it = leaf.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    n_scan = metrics.get("numOutputRows")
    if n_scan is None:
        raise RuntimeError(
            "data skipping is unprovable: the FileSourceScanExec "
            f"exposes no numOutputRows metric (metrics: "
            f"{sorted(metrics)}). Probe plan:\n{plan.toString()}"
        )
    if not (n_match <= n_scan <= overlap_rows):
        raise RuntimeError(
            f"data skipping failed: scan emitted {n_scan} rows, "
            f"expected between the {n_match} matching rows and the "
            f"{overlap_rows} rows of the {n_overlap_groups}/{n_groups} "
            f"row groups overlapping [{lo}, {hi}] "
            f"({total_rows} rows on disk; metrics: {metrics})"
        )
    return base.filter(cond)
