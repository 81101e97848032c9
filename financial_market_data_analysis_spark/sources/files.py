"""Schema-enforced text-format ingestion (CSV / JSON-lines) with
corrupt-record quarantine.

The reference ingests only through Kafka/REST/JDBC (SURVEY §2.1); a
100 TB training-data pipeline also receives bulk drops as CSV and
JSONL, where the operational questions are different from parquet's:
what happens to a malformed line, and how do you prove nothing was
silently dropped? These loaders make the policy explicit and the
accounting first-class:

* an EXPLICIT StructType is required — schema inference is a full
  extra pass over the data at scale, and a schema drift (a producer
  adding a column) should fail loudly at the contract, not reshape
  the frame silently;
* ``PERMISSIVE`` (the default) routes every unparseable line into a
  quarantine frame — the raw text preserved verbatim in
  ``_corrupt_record`` — instead of dropping or failing, so a bulk
  load can land the clean 99.99% and file a ticket with the rest;
* ``DROPMALFORMED`` / ``FAILFAST`` pass through to Spark's reader for
  pipelines that prefer silence or hard stops.

Both loaders return ``(clean, quarantine)``. The split predicate is
``_corrupt_record IS NULL``; Spark computes it from the same single
scan (the corrupt column is populated by the parser itself, so no
second pass). Spark disallows queries that reference ONLY the corrupt
column of a raw file scan, which is why the quarantine frame carries
the parsed-null data columns alongside the raw line — select the raw
line out of it as needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
)

CORRUPT_COL = "_corrupt_record"


def _with_corrupt_field(schema: StructType) -> StructType:
    """The user's schema plus the corrupt-record capture column; the
    parser fills it for any line it cannot bind to the schema."""
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"schema already defines {CORRUPT_COL!r}")
    return StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )


def _split(raw: DataFrame, mode: str) -> tuple[DataFrame, DataFrame]:
    if mode != "PERMISSIVE":
        # DROPMALFORMED / FAILFAST never materialize corrupt rows, but
        # the (clean, quarantine) contract must be mode-invariant: the
        # empty quarantine frame still carries _corrupt_record (all
        # null) so a mode-generic consumer can select CORRUPT_COL
        # without an AnalysisException (r10 advice).
        empty_q = raw.limit(0).withColumn(
            CORRUPT_COL, F.lit(None).cast(StringType())
        )
        return raw, empty_q
    # Spark refuses queries against a raw file scan that reference only
    # the corrupt column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    # COLUMN) — corruptness only exists after a parse, so the parsed
    # result must be materialized once. cache() is the API-documented
    # fix and is also the honest cost model: quarantine accounting IS
    # one full parse of the drop, shared by both output frames. At
    # warehouse scale the equivalent is parse-once-write-twice
    # (foreachBatch to clean + quarantine sinks); a bulk loader that
    # re-reads the raw files per consumer would parse twice instead.
    raw = raw.cache()
    clean = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = raw.filter(F.col(CORRUPT_COL).isNotNull())
    # Expose the cached parent so consumers can release it once both
    # sides are materialized — without this every load pins a parsed
    # relation for the whole session (r11 advice).
    clean._split_parent = raw
    quarantine._split_parent = raw
    return clean, quarantine


def release_split(*frames: DataFrame) -> None:
    """Unpersist the cached one-parse parent shared by a
    ``(clean, quarantine)`` pair from :func:`load_csv` /
    :func:`load_jsonl` / :func:`_split` (or the parent LIST a
    :func:`load_csv_evolving` union carries). Call after the derived
    results are materialized (e.g. an eager ``localCheckpoint`` or a
    sink write) — lazy descendants re-parse from source afterwards.
    Idempotent; a no-op for frames without a cached parent (the
    DROPMALFORMED/FAILFAST path caches nothing)."""
    seen: set[int] = set()
    for f in frames:
        single = getattr(f, "_split_parent", None)
        parents = [single] if single is not None else []
        parents += getattr(f, "_split_parents", [])
        for parent in parents:
            if id(parent) not in seen:
                seen.add(id(parent))
                parent.unpersist()


# ---------------------------------------------------------------------------
# schema evolution (s11): tolerate producer-side contract drift instead
# of quarantining every row of a retyped column (what s10's report
# DETECTS, this ingests)

# numeric widening lattice, narrowest first: two drops declaring
# different positions of the SAME kind unify at the wider one
# (int + bigint -> bigint, float + double -> double). Cross-kind pairs
# (an integral vs a fractional) unify at double instead of taking the
# lattice max: float holds only 24 mantissa bits, so bigint + float ->
# float would silently corrupt longs beyond 2^24 — double is lossless
# for every integral here and matches Spark's wider-type promotion /
# parquet mergeSchema.
_WIDEN_ORDER = ["tinyint", "smallint", "int", "bigint", "float", "double"]
_INTEGRALS = {"tinyint", "smallint", "int", "bigint"}


def widen_type(a: str, b: str) -> str:
    """Unify two Spark ``simpleString`` type names across drops of the
    same feed: identical types pass through; same-kind numerics widen
    to the later of ``_WIDEN_ORDER``; an integral vs a fractional
    widens to ``double`` (never ``float`` — see the lattice note);
    anything else (string vs bigint, struct vs double …) is a TRUE
    contract conflict — no silent cast could be right for every row,
    so the caller must decide — and raises."""
    if a == b:
        return a
    if a in _WIDEN_ORDER and b in _WIDEN_ORDER:
        if (a in _INTEGRALS) != (b in _INTEGRALS):
            return "double"
        return _WIDEN_ORDER[max(_WIDEN_ORDER.index(a), _WIDEN_ORDER.index(b))]
    raise ValueError(f"irreconcilable column types: {a!r} vs {b!r}")


def evolved_schema(schemas: list[StructType]) -> StructType:
    """The union-by-name contract over N per-drop schemas: columns in
    first-seen order, each at the widened type across every drop that
    declares it. Driver-side metadata only — no data pass."""
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    by_name = {
        "tinyint": ByteType(),
        "smallint": ShortType(),
        "int": IntegerType(),
        "bigint": LongType(),
        "float": FloatType(),
        "double": DoubleType(),
    }
    out: dict[str, object] = {}
    for schema in schemas:
        for f in schema.fields:
            if f.name not in out:
                out[f.name] = f.dataType
                continue
            t = widen_type(out[f.name].simpleString(), f.dataType.simpleString())
            out[f.name] = by_name.get(t, out[f.name])
    return StructType(
        [StructField(name, t, True) for name, t in out.items()]
    )


def _load_evolving(
    loader, spark: SparkSession, drops: list[tuple[str, StructType]], **kw
) -> tuple[DataFrame, DataFrame]:
    """Format-generic core of the evolution-tolerant loaders: per-drop
    parse under the drop's OWN schema, widen-cast, union by name."""
    target = evolved_schema([s for _, s in drops])
    widened = {f.name: f.dataType.simpleString() for f in target.fields}
    cleans, quars, parents = [], [], []
    for i, (path, schema) in enumerate(drops):
        clean, quar = loader(spark, path, schema, **kw)
        parent = getattr(clean, "_split_parent", None)
        if parent is not None:
            parents.append(parent)
        casted = clean.select(
            *[
                F.col(f.name).cast(widened[f.name]).alias(f.name)
                for f in schema.fields
            ]
        ).withColumn("_drop_id", F.lit(i))
        cleans.append(casted)
        quars.append(
            quar.select(
                F.lit(i).alias("_drop_id"), F.col(CORRUPT_COL)
            )
        )
    clean_union = cleans[0]
    for c in cleans[1:]:
        clean_union = clean_union.unionByName(c, allowMissingColumns=True)
    # column order: contract order (first-seen across drops) + lineage
    clean_union = clean_union.select(*[f.name for f in target.fields], "_drop_id")
    quar_union = quars[0]
    for q in quars[1:]:
        quar_union = quar_union.unionByName(q)
    clean_union._split_parents = parents
    quar_union._split_parents = parents
    return clean_union, quar_union


def load_csv_evolving(
    spark: SparkSession, drops: list[tuple[str, StructType]]
) -> tuple[DataFrame, DataFrame]:
    """Schema-evolution-TOLERANT bulk load over N header-less CSV drops
    of the same feed, each with its own declared per-drop schema (the
    mergeSchema-style contract a multi-producer drop folder needs,
    r11 verdict #4):

    * a column one drop lacks is accepted and NULL-filled there
      (``unionByName(allowMissingColumns=True)``), both for added and
      for removed columns;
    * a column retyped between numeric widths (bigint→double …) is
      WIDENED to the union type — its rows land as values, not as a
      100% quarantine;
    * only TRUE conflicts quarantine / fail: a row unparseable under
      its OWN drop's schema goes to the row-level quarantine exactly
      as in :func:`load_csv`; an irreconcilable column retype
      (string vs bigint) raises at plan time via :func:`widen_type`.

    Returns ``(clean, quarantine)``: ``clean`` is the widened union
    with a ``_drop_id`` lineage column (the drop's index); ``quarantine``
    is ``(_drop_id, _corrupt_record)`` across all drops. Scale shape:
    one parse per drop (each shared by its clean/quarantine sides via
    the ``_split`` cache), casts are columnar metadata ops, the union
    is a no-shuffle concatenation. Release the parse caches with
    :func:`release_split` once materialized."""
    return _load_evolving(load_csv, spark, drops, header=False)


def load_jsonl_evolving(
    spark: SparkSession,
    drops: list[tuple[str, StructType]],
) -> tuple[DataFrame, DataFrame]:
    """JSONL twin of :func:`load_csv_evolving` — the same widen-and-
    union contract over JSON-lines drops. JSON's schema-per-row nature
    makes this the more common real case: a producer ADDING a key is
    invisible under the old declared schema (the parser ignores
    unknown keys), and a producer RETYPING a numeric (int → float,
    e.g. 42 → 42.5) turns into a 100% quarantine of the new drop under
    :func:`load_jsonl`'s strict contract. Declaring each drop's own
    schema and widening restores the rows as values; true conflicts
    (string where a number is declared) still quarantine row-level."""
    return _load_evolving(load_jsonl, spark, drops)


def load_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    mode: str = "PERMISSIVE",
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """CSV scan under an explicit schema.

    Returns ``(clean, quarantine)``: ``clean`` carries exactly
    ``schema``'s columns for rows that parsed fully; ``quarantine``
    carries the same columns (null where unbindable) plus
    ``_corrupt_record`` with the offending raw line. A wrong-arity
    line, an unparseable numeric, or a stray quote all quarantine —
    nothing is silently coerced or dropped in PERMISSIVE mode.
    """
    raw = (
        spark.read.schema(
            _with_corrupt_field(schema) if mode == "PERMISSIVE" else schema
        )
        .option("header", str(header).lower())
        .option("sep", ",")
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )
    return _split(raw, mode)


def load_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    mode: str = "PERMISSIVE",
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines scan under an explicit schema — the bulk-drop format
    of every document corpus. Returns ``(clean, quarantine)`` exactly
    like ``load_csv``. A syntactically valid JSON object whose field
    TYPE contradicts the schema (e.g. a string where a long is
    declared) also quarantines — type drift is corruption here, not a
    cast opportunity."""
    raw = (
        spark.read.schema(
            _with_corrupt_field(schema) if mode == "PERMISSIVE" else schema
        )
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    return _split(raw, mode)


def ingest_report(clean: DataFrame, quarantine: DataFrame) -> DataFrame:
    """One-row load accounting — (n_clean, n_quarantined, quarantine
    fraction) — the number a bulk load publishes next to its output so
    downstream consumers can gate on data quality (the d7 suite's
    ingestion-side sibling). Both counts come from the SAME scan's two
    partitions of the predicate, so the report can never disagree with
    the frames it describes."""
    c = clean.agg(F.count(F.lit(1)).alias("n_clean"))
    q = quarantine.agg(F.count(F.lit(1)).alias("n_quarantined"))
    return (
        c.crossJoin(q)
        .select(
            "n_clean",
            "n_quarantined",
            F.round(
                F.col("n_quarantined")
                / F.greatest(
                    F.col("n_clean") + F.col("n_quarantined"), F.lit(1)
                ),
                6,
            ).alias("quarantine_frac"),
        )
    )


def schema_drift_report(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema-level drift between two drops of the "same" feed — the
    contract check a bulk-ingest pipeline runs BEFORE the row-level
    quarantine gets a say (a producer silently adding, dropping, or
    retyping a column is invisible to per-row parsing under an
    explicit schema: the loader would faithfully quarantine every row
    of a retyped column and nobody would learn why). One report row
    per column across both schemas:

        column, status (added | removed | type_changed | kept),
        old_type, new_type  (Spark simpleString; NULL for the absent
        side), old_null_frac, new_null_frac (round-6; NULL likewise)

    Scale shape: the schema diff is DRIVER-SIDE METADATA (no data
    pass); the null fractions come from ONE aggregate pass per side —
    count(*) plus count(col) per column, all partial-aggregatable, no
    shuffle of row data. The per-column rows come from ``inline`` over
    ONE array-of-structs projection of the single joined stats row —
    never a union of per-column branches, which would re-plan the
    stats subtree (and its scans) once per column. Cost is two scans
    total, independent of column count."""
    old_cols = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    new_cols = {f.name: f.dataType.simpleString() for f in new.schema.fields}

    def _stats(df: DataFrame, cols: dict[str, str]) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.count(F.col(c)).alias(f"nn_{i}")
                for i, c in enumerate(cols)
            ],
        )

    old_stats = _stats(old, old_cols)
    new_stats = _stats(new, new_cols)
    both = old_stats.select(
        F.col("n_rows").alias("o_rows"),
        *[
            F.col(f"nn_{i}").alias(f"o_nn_{i}")
            for i in range(len(old_cols))
        ],
    ).crossJoin(
        new_stats.select(
            F.col("n_rows").alias("nw_rows"),
            *[
                F.col(f"nn_{i}").alias(f"nw_nn_{i}")
                for i in range(len(new_cols))
            ],
        )
    )
    old_idx = {c: i for i, c in enumerate(old_cols)}
    new_idx = {c: i for i, c in enumerate(new_cols)}
    null_str = F.lit(None).cast(StringType())
    null_dbl = F.lit(None).cast("double")

    def _frac(nn_col: str, rows_col: str):
        # A zero-row side has NO null fraction — reporting 1.0 ("fully
        # null") for an empty drop would mislead the exact drift
        # triage this report exists for (r11 advice).
        return F.when(
            F.col(rows_col) == 0, F.lit(None).cast("double")
        ).otherwise(
            F.round(1.0 - F.col(nn_col) / F.col(rows_col), 6)
        )

    entries = []
    for c in sorted(set(old_cols) | set(new_cols)):
        in_old, in_new = c in old_cols, c in new_cols
        if in_old and in_new:
            status = (
                "type_changed" if old_cols[c] != new_cols[c] else "kept"
            )
        else:
            status = "added" if in_new else "removed"
        entries.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(status).alias("status"),
                (F.lit(old_cols[c]) if in_old else null_str).alias(
                    "old_type"
                ),
                (F.lit(new_cols[c]) if in_new else null_str).alias(
                    "new_type"
                ),
                (
                    _frac(f"o_nn_{old_idx[c]}", "o_rows")
                    if in_old
                    else null_dbl
                ).alias("old_null_frac"),
                (
                    _frac(f"nw_nn_{new_idx[c]}", "nw_rows")
                    if in_new
                    else null_dbl
                ).alias("new_null_frac"),
            )
        )
    return both.select(F.inline(F.array(*entries)))
