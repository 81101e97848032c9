"""Loader-layout tests: ``load_table("events")`` must adapt to every
timestamp layout the driver has shipped — TIMESTAMP(NANOS) (round 1-2
fixtures) and timestamp[us] (round 3+) — and fail loudly on anything
else (r3 advice: the nanos branch had no coverage once the shipped
fixtures moved to µs, and the fallback cast could silently null out an
unexpected layout)."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.sources.batch import load_table


def _write_events(tmp_path, arrow_type, values):
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(values)), pa.int64()),
            "ts": pa.array(values, arrow_type),
        }
    )
    # store_schema + no coercion keeps the logical type verbatim
    # (nanos stay TIMESTAMP(NANOS) under parquet format 2.6)
    pq.write_table(tbl, str(tmp_path / "events.parquet"), coerce_timestamps=None)
    return str(tmp_path)


def test_load_events_nanos_layout(spark, tmp_path):
    """TIMESTAMP(NANOS) parquet: read as nanosecond longs and truncated
    to µs — ts_us == ns // 1000 exactly, including sub-µs residue."""
    base = 1_700_000_000_000_000_000  # ns epoch
    ns_vals = [base + 1_234_567_891, base + 999, base]  # sub-µs tails
    sf = _write_events(tmp_path, pa.timestamp("ns"), ns_vals)
    df = load_table(spark, "events", sf).orderBy("event_id")
    rows = df.select("event_id", "ts_us", "ts").collect()
    assert [r.ts_us for r in rows] == [v // 1000 for v in ns_vals]
    for r, v in zip(rows, ns_vals):
        expect = datetime.datetime.fromtimestamp(
            (v // 1000) / 1e6, tz=datetime.timezone.utc
        ).replace(tzinfo=None)
        assert r.ts == expect


def test_load_events_micros_layout(spark, tmp_path):
    """timestamp[us] parquet (the current fixtures): identity read,
    ts_us via unix_micros."""
    us_vals = [1_700_000_000_123_456, 1_700_000_000_000_000]
    sf = _write_events(tmp_path, pa.timestamp("us"), us_vals)
    df = load_table(spark, "events", sf).orderBy("event_id")
    rows = df.select("ts_us").collect()
    assert [r.ts_us for r in rows] == us_vals


def test_load_table_schema_cache_is_metadata_only(spark, tmp_path):
    """r16 pins: `load_table` caches only the parquet SCHEMA per real
    path (first call infers, later calls pass it explicitly). The pins:
    (a) repeat loads return identical schema and identical rows;
    (b) repeat loads are INDEPENDENT DataFrames — a self-join written
    with df1[col] == df2[col] (the twice-loaded-table idiom the TPC-H
    self-join queries use) must keep resolving, i.e. the cache must
    never hand back the same resolved relation;
    (c) the same table name under a DIFFERENT directory gets its own
    cache entry (layout adaptivity stays per-dir);
    (d) the unsupported-layout TypeError still raises on EVERY call,
    not just the first (cache stores the raw schema, the check reruns)."""
    us_vals = [1_700_000_000_123_456, 1_700_000_000_000_000]
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    sf = _write_events(tmp_path / "a", pa.timestamp("us"), us_vals)
    d1 = load_table(spark, "events", sf)
    d2 = load_table(spark, "events", sf)
    assert d1.schema == d2.schema
    assert sorted(r.ts_us for r in d1.collect()) == sorted(
        r.ts_us for r in d2.collect()
    )
    joined = d1.join(d2, d1["event_id"] == d2["event_id"])
    assert joined.count() == len(us_vals)

    ns_vals = [1_700_000_000_000_000_000, 1_700_000_000_000_001_000]
    sf_ns = _write_events(tmp_path / "b", pa.timestamp("ns"), ns_vals)
    assert str(tmp_path / "b") == sf_ns
    d3 = load_table(spark, "events", sf_ns)
    assert [r.ts_us for r in d3.orderBy("event_id").collect()] == [
        v // 1000 for v in ns_vals
    ]

    bad = tmp_path / "c"
    bad.mkdir()
    tbl = pa.table(
        {
            "event_id": pa.array([0], pa.int64()),
            "ts": pa.array(["bogus"], pa.string()),
        }
    )
    pq.write_table(tbl, str(bad / "events.parquet"))
    for _ in range(2):
        with pytest.raises(TypeError, match="unsupported parquet type"):
            load_table(spark, "events", str(bad))


def test_load_events_unexpected_layout_raises(spark, tmp_path):
    """A string ts column must raise a descriptive TypeError, not cast
    to all-NULL timestamps."""
    tbl = pa.table(
        {
            "event_id": pa.array([0, 1], pa.int64()),
            "ts": pa.array(["2024-01-01 00:00:00", "bogus"], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    with pytest.raises(TypeError, match="unsupported parquet type 'string'"):
        load_table(spark, "events", str(tmp_path))


# ---------------------------------------------------------------------------
# REST poll source (S3/S4): a REAL localhost HTTP server, not a fixture
# table — the poll loop GETs live JSON, stages raw parquet, and the
# stream decodes through the same feed-schema path as the Kafka reader.


class _FeedHandler:
    """Serves one OHLCV JSON document per GET, values varying by poll
    count so in-order micro-batch replay is assertable."""

    def __init__(self):
        import http.server
        import threading

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            n = 0

            def do_GET(self):  # noqa: N802
                type(self).n += 1
                i = type(self).n
                body = (
                    '{"ts": "2024-01-01 00:%02d:00", "open": %d.5, '
                    '"high": %d.9, "low": %d.1, "close": %d.7, '
                    '"volume": %d}' % (i, i, i, i, i, 100 * i)
                ).encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # quiet
                pass

        self.server = http.server.HTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_port}/bars"
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def stop(self):
        self.server.shutdown()
        self.server.server_close()


def test_rest_poll_end_to_end(spark, tmp_path):
    """Three real HTTP polls → staged raw parquet → streaming decode:
    rows arrive in poll order with the feed schema's types (S3/S4 as a
    working source, not a fixture stand-in)."""
    from financial_market_data_analysis_spark.sources.rest import (
        poll_to_staging,
        rest_batch,
        rest_stream,
    )

    srv = _FeedHandler()
    try:
        staging = str(tmp_path / "volume_feed")
        # fixture timestamps are historic by design — disable the
        # staleness warning here (it has its own dedicated test)
        staged = poll_to_staging(
            spark, srv.url, staging, n_polls=3, max_delay_s=float("inf")
        )
        assert len(staged) == 3
        import os

        mtimes = [os.path.getmtime(p) for p in staged]
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3

        batch = rest_batch(spark, staging, "volume").orderBy("ts")
        rows = batch.collect()
        assert [r.close for r in rows] == pytest.approx([1.7, 2.7, 3.7])
        assert [r.volume for r in rows] == [100, 200, 300]
        assert rows[0].ts.minute == 1  # ts parsed to TimestampType

        q = (
            rest_stream(spark, staging, "volume")
            .writeStream.format("memory")
            .queryName("rest_poll_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        got = spark.table("rest_poll_out").orderBy("ts").collect()
        assert [r.close for r in got] == pytest.approx([1.7, 2.7, 3.7])
    finally:
        srv.stop()


def test_rest_poll_second_session_lands_after_first(spark, tmp_path):
    """A SECOND polling session into the same staging dir must land its
    files with mtimes strictly after everything already there — else
    FileStreamSource would replay the new polls before the old ones
    (r5 review regression)."""
    import os

    from financial_market_data_analysis_spark.sources.rest import poll_to_staging

    staging = str(tmp_path / "feed")
    fetch = lambda _url: '{"close": 1.0}'  # noqa: E731
    first = poll_to_staging(spark, "unused://", staging, n_polls=2, fetch=fetch)
    second = poll_to_staging(spark, "unused://", staging, n_polls=2, fetch=fetch)
    max_first = max(os.path.getmtime(p) for p in first)
    mtimes_second = [os.path.getmtime(p) for p in second]
    assert all(m > max_first for m in mtimes_second)
    assert mtimes_second == sorted(mtimes_second)


def test_rest_poll_staleness_warns(spark, tmp_path):
    """S4's delayed-data policy: a payload whose ts trails wall clock
    past the threshold is ACCEPTED but warned about
    (getMarketData.py:225-236)."""
    from financial_market_data_analysis_spark.sources.rest import poll_to_staging

    stale = '{"ts": "2020-01-01 00:00:00", "close": 1.0}'
    with pytest.warns(UserWarning, match="delayed-data policy"):
        staged = poll_to_staging(
            spark,
            "unused://",
            str(tmp_path / "stale_feed"),
            fetch=lambda _url: stale,
        )
    assert len(staged) == 1  # accepted, not dropped


def test_load_events_preserves_utc_instant_across_layouts(spark, tmp_path):
    """The same instant shipped as ns and as µs must load to identical
    (ts_us, ts) — the cross-layout invariant the oracle relies on."""
    instant_us = 1_700_000_000_123_456
    (tmp_path / "ns_dir").mkdir(exist_ok=True)
    (tmp_path / "us_dir").mkdir(exist_ok=True)
    sf_ns = _write_events(tmp_path / "ns_dir", pa.timestamp("ns"), [instant_us * 1000])
    sf_us = _write_events(tmp_path / "us_dir", pa.timestamp("us"), [instant_us])
    a = load_table(spark, "events", sf_ns).select("ts_us", "ts").first()
    b = load_table(spark, "events", sf_us).select("ts_us", "ts").first()
    assert a.ts_us == b.ts_us == instant_us
    assert a.ts == b.ts


# ---------------------------------------------------------------------------
# sources/files.py — schema-enforced CSV/JSONL ingestion with quarantine


def _files_schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
        ]
    )


def test_csv_quarantine_captures_malformed_lines(spark, tmp_path):
    """PERMISSIVE CSV: good rows land clean, a non-numeric value field
    quarantines with the raw line preserved verbatim, and nothing is
    silently dropped (clean + quarantined == input lines)."""
    from financial_market_data_analysis_spark.sources.files import (
        ingest_report,
        load_csv,
    )

    p = tmp_path / "drop.csv"
    lines = [
        "event_id,event_type,value",
        "1,click,0.5",
        "2,view,oops_not_a_number",
        "3,click,1.25",
        "4,purchase,2.0,extra_field_breaks_arity_but_csv_keeps_first_cols",
        "5,view,3.5",
    ]
    p.write_text("\n".join(lines) + "\n")
    clean, quarantine = load_csv(spark, str(p), _files_schema())
    got_clean = {r["event_id"] for r in clean.collect()}
    q_rows = quarantine.collect()
    q_raw = {r["_corrupt_record"] for r in q_rows}
    assert 2 not in got_clean
    assert "2,view,oops_not_a_number" in q_raw
    rep = ingest_report(clean, quarantine).collect()[0]
    assert rep["n_clean"] + rep["n_quarantined"] == 5
    assert rep["n_clean"] == len(got_clean)


def test_jsonl_type_drift_quarantines(spark, tmp_path):
    """PERMISSIVE JSONL: malformed JSON and type drift (string where
    the schema declares a long) both quarantine; valid rows with
    MISSING optional fields stay clean (null, not corrupt)."""
    from financial_market_data_analysis_spark.sources.files import load_jsonl

    p = tmp_path / "drop.jsonl"
    lines = [
        '{"event_id": 1, "event_type": "click", "value": 0.5}',
        '{"event_id": "not_a_long", "event_type": "view", "value": 1.0}',
        "{this is not json",
        '{"event_id": 4, "event_type": "view"}',
    ]
    p.write_text("\n".join(lines) + "\n")
    clean, quarantine = load_jsonl(spark, str(p), _files_schema())
    ids = {r["event_id"] for r in clean.collect()}
    assert ids == {1, 4}
    assert quarantine.count() == 2
    raws = {r["_corrupt_record"] for r in quarantine.collect()}
    assert "{this is not json" in raws


def test_failfast_raises_on_corrupt_input(spark, tmp_path):
    """FAILFAST mode surfaces the malformed line as an error instead of
    quarantining — the contract a strict pipeline opts into."""
    import pytest

    from financial_market_data_analysis_spark.sources.files import load_jsonl

    p = tmp_path / "bad.jsonl"
    p.write_text('{"event_id": 1}\n{nope\n')
    clean, _ = load_jsonl(spark, str(p), _files_schema(), mode="FAILFAST")
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        clean.count()


def test_csv_clean_frame_matches_parquet_twin(spark, tmp_path):
    """Format parity: the same rows loaded via CSV and via parquet
    produce identical frames (schema and values) — the CSV path adds a
    quarantine channel, not a different type mapping."""
    from financial_market_data_analysis_spark.sources.files import load_csv

    rows = [(1, "click", 0.5), (2, "view", 1.25), (3, "purchase", 2.0)]
    schema = _files_schema()
    df = spark.createDataFrame(rows, schema)
    pq = tmp_path / "twin_parquet"
    df.write.parquet(str(pq))
    csv_path = tmp_path / "twin.csv"
    csv_path.write_text(
        "event_id,event_type,value\n"
        + "\n".join(f"{a},{b},{c}" for a, b, c in rows)
        + "\n"
    )
    clean, quarantine = load_csv(spark, str(csv_path), schema)
    assert quarantine.count() == 0
    a = sorted(clean.collect())
    b = sorted(spark.read.parquet(str(pq)).collect())
    assert a == b
    assert clean.schema == spark.read.parquet(str(pq)).schema


def test_streaming_quarantine_ingest_exactly_once(spark, tmp_path):
    """The streaming ingest twin: two CSV files arrive as two
    micro-batches; malformed lines land in the quarantine sink, good
    rows in the clean warehouse, and a poisoned partial epoch-1 write
    (a simulated crashed first attempt) is REPLACED by the retry, not
    duplicated — the t7 exactly-once shape on the ingest path."""
    from financial_market_data_analysis_spark.sources.files import (
        CORRUPT_COL,
        _with_corrupt_field,
    )
    from financial_market_data_analysis_spark.streaming.pipeline import (
        epoch_idempotent_writer,
        quarantining_ingest_sink,
    )

    src = tmp_path / "drops"
    src.mkdir()
    (src / "a.csv").write_text("1,click,0.5\n2,view,broken_value\n3,click,1.0\n")
    f2 = src / "b.csv"
    f2.write_text("4,view,2.0\n5,purchase,bad\n6,click,3.0\n")
    import os
    import time

    # strict mtime order so file->epoch assignment is deterministic
    now = time.time()
    os.utime(src / "a.csv", (now - 10, now - 10))
    os.utime(f2, (now, now))

    clean_dir = str(tmp_path / "clean")
    quar_dir = str(tmp_path / "quar")
    ckpt = str(tmp_path / "ckpt")
    schema = _files_schema()

    # poison: half of epoch 1's clean rows already under epoch_id=1 —
    # the partial write a mid-epoch crash would leave behind
    poisoned = spark.createDataFrame([(4, "view", 2.0)], schema)
    epoch_idempotent_writer(clean_dir)(poisoned, 1)

    stream = (
        spark.readStream.schema(_with_corrupt_field(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = quarantining_ingest_sink(
        stream, clean_dir, quar_dir, ckpt
    ).trigger(availableNow=True).start()
    assert q.awaitTermination(300)

    clean = spark.read.parquet(clean_dir)
    ids = sorted(r["event_id"] for r in clean.collect())
    assert ids == [1, 3, 4, 6], ids  # poison replaced, nothing duplicated
    quar = spark.read.parquet(quar_dir)
    raws = {r[CORRUPT_COL] for r in quar.collect()}
    assert raws == {"2,view,broken_value", "5,purchase,bad"}, raws


def test_quarantine_schema_is_mode_invariant(spark, tmp_path):
    """r10 advice: the (clean, quarantine) contract must not depend on
    the parse mode — DROPMALFORMED/FAILFAST quarantine frames are
    empty but still carry _corrupt_record (all-null), so a
    mode-generic consumer can select it without an
    AnalysisException."""
    from financial_market_data_analysis_spark.sources.files import (
        CORRUPT_COL,
        load_csv,
    )

    p = tmp_path / "drop.csv"
    p.write_text("event_id,event_type,value\n1,click,0.5\n2,view,bad\n")
    for mode in ("PERMISSIVE", "DROPMALFORMED"):
        _, quarantine = load_csv(spark, str(p), _files_schema(), mode=mode)
        assert CORRUPT_COL in quarantine.columns, (mode, quarantine.columns)
        quarantine.select(CORRUPT_COL).collect()  # must not raise
    assert (
        load_csv(spark, str(p), _files_schema(), mode="DROPMALFORMED")[1]
        .count()
        == 0
    )


def test_quarantine_split_reuses_single_parse(spark, tmp_path):
    """r10 verdict #3: the clean/quarantine split is two predicates
    over ONE materialized parse — both frames' plans read the shared
    InMemoryRelation (the cached parsed scan), not two separate file
    scans."""
    from financial_market_data_analysis_spark.sources.files import load_csv

    p = tmp_path / "drop.csv"
    p.write_text("event_id,event_type,value\n1,click,0.5\n2,view,bad\n")
    clean, quarantine = load_csv(spark, str(p), _files_schema())
    for frame in (clean, quarantine):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan[:1200]


def test_csv_loader_matches_duckdb_read_csv_on_same_file(spark, tmp_path):
    """File-level cross-engine parity (the r10 verdict's read_csv
    oracle, at the pytest layer — the driver rows for s8/s9 use
    fixture-derived oracles because the driver's DuckDB session only
    sees pre-registered views, not staged temp files): DuckDB's
    read_csv with ignore_errors over the SAME staged file must parse
    exactly the rows load_csv lands clean, and the quarantine count
    must equal total lines minus DuckDB's parsed count."""
    import duckdb

    from financial_market_data_analysis_spark.sources.files import load_csv

    p = tmp_path / "drop.csv"
    lines = [
        "1,click,0.5",
        "2,view,oops_not_a_number",
        "3,click,1.25",
        "4,purchase,not_numeric_either",
        "5,view,3.5",
        "6,click,2.75",
    ]
    p.write_text("\n".join(lines) + "\n")
    clean, quarantine = load_csv(
        spark, str(p), _files_schema(), header=False
    )
    got = {
        (r["event_id"], r["event_type"], r["value"])
        for r in clean.collect()
    }
    con = duckdb.connect()
    duck = con.execute(
        "SELECT * FROM read_csv(?, header=false, ignore_errors=true, "
        "columns={'event_id': 'BIGINT', 'event_type': 'VARCHAR', "
        "'value': 'DOUBLE'})",
        [str(p)],
    ).fetchall()
    assert {tuple(r) for r in duck} == got
    assert quarantine.count() == len(lines) - len(duck)
    con.close()


def test_schema_drift_report_statuses_and_fracs(spark):
    """Toy-frame unit check of every status class: added, removed,
    type_changed, kept — with null fractions computed per side."""
    from financial_market_data_analysis_spark.sources.files import (
        schema_drift_report,
    )

    old = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20)], "id long, name string, qty long"
    )
    new = spark.createDataFrame(
        [(1, 1.5, "x"), (2, 2.5, None), (3, 3.5, None)],
        "id long, qty double, tag string",
    )
    rows = {r["column"]: r for r in schema_drift_report(old, new).collect()}
    assert set(rows) == {"id", "name", "qty", "tag"}
    assert rows["id"]["status"] == "kept"
    assert rows["name"]["status"] == "removed"
    assert rows["name"]["new_type"] is None
    assert rows["name"]["old_null_frac"] == 0.5
    assert rows["qty"]["status"] == "type_changed"
    assert (rows["qty"]["old_type"], rows["qty"]["new_type"]) == (
        "bigint",
        "double",
    )
    assert rows["tag"]["status"] == "added"
    assert rows["tag"]["old_null_frac"] is None
    assert round(rows["tag"]["new_null_frac"], 6) == round(2 / 3, 6)


def test_schema_drift_report_is_two_scans_no_union(spark):
    """s10's scale claim: the per-column report rows come from inline
    over one array-of-structs projection of the single joined stats
    row — the plan reads each side ONCE and contains no per-column
    Union re-planning the stats subtree."""
    import __spark_entry__ as e

    df = e.queries()["s10_schema_drift"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, plan[:1500]
    assert plan.count("Scan parquet") == 2, plan[:2000]


def test_widen_type_lattice_and_conflicts():
    """bigint+double widen to double (commutative), identical types
    pass through, and a string-vs-numeric retype is a TRUE conflict
    that raises rather than silently casting."""
    import pytest

    from financial_market_data_analysis_spark.sources.files import widen_type

    assert widen_type("bigint", "double") == "double"
    assert widen_type("double", "bigint") == "double"
    assert widen_type("int", "bigint") == "bigint"
    assert widen_type("float", "double") == "double"
    assert widen_type("string", "string") == "string"
    # cross-kind: integral + float must land on double, not float —
    # float's 24-bit mantissa would corrupt longs beyond 2^24 (r12
    # advice); double holds every integral here exactly.
    assert widen_type("bigint", "float") == "double"
    assert widen_type("float", "bigint") == "double"
    assert widen_type("int", "float") == "double"
    assert widen_type("tinyint", "float") == "double"
    with pytest.raises(ValueError, match="irreconcilable"):
        widen_type("string", "bigint")


def test_evolving_load_widens_retyped_column_not_quarantine(spark, tmp_path):
    """The r11 verdict's acceptance test: a column retyped
    bigint→double between two drops lands as WIDENED VALUES (old rows
    promoted, new fractional rows kept exactly), NOT as a 100%
    quarantine; added/removed columns null-fill on the absent side;
    only the genuinely unparseable row quarantines."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from financial_market_data_analysis_spark.sources.files import (
        load_csv_evolving,
        release_split,
    )

    old_p = tmp_path / "old"
    new_p = tmp_path / "new"
    old_p.mkdir(), new_p.mkdir()
    (old_p / "a.csv").write_text("1,en,10\n2,de,20\n")
    (new_p / "b.csv").write_text("3,30.5,web\n4,oops,crawl\n5,50.25,web\n")
    old_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
            StructField("n_chars", LongType(), True),
        ]
    )
    new_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("n_chars", DoubleType(), True),
            StructField("source", StringType(), True),
        ]
    )
    clean, quar = load_csv_evolving(
        spark,
        [(str(old_p), old_schema), (str(new_p), new_schema)],
        header=False,
    )
    rows = {r["doc_id"]: r for r in clean.collect()}
    q_rows = quar.collect()
    release_split(clean, quar)
    assert dict(clean.dtypes)["n_chars"] == "double"
    assert set(rows) == {1, 2, 3, 5}  # row 4 quarantined, nothing else
    assert rows[1]["n_chars"] == 10.0 and rows[1]["lang"] == "en"
    assert rows[1]["source"] is None and rows[1]["_drop_id"] == 0
    assert rows[3]["n_chars"] == 30.5 and rows[3]["lang"] is None
    assert rows[5]["source"] == "web" and rows[5]["_drop_id"] == 1
    assert len(q_rows) == 1
    assert q_rows[0]["_drop_id"] == 1
    assert q_rows[0]["_corrupt_record"] == "4,oops,crawl"


def test_evolved_schema_first_seen_order_and_conflict(spark):
    """The union contract keeps first-seen column order, widens the
    shared numeric, and raises at PLAN time on an irreconcilable
    retype — before any data is read."""
    import pytest

    from financial_market_data_analysis_spark.sources.files import (
        evolved_schema,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    a = StructType(
        [
            StructField("id", LongType(), True),
            StructField("v", LongType(), True),
        ]
    )
    b = StructType(
        [
            StructField("v", DoubleType(), True),
            StructField("tag", StringType(), True),
        ]
    )
    out = evolved_schema([a, b])
    assert [f.name for f in out.fields] == ["id", "v", "tag"]
    assert out["v"].dataType.simpleString() == "double"
    bad = StructType([StructField("id", StringType(), True)])
    with pytest.raises(ValueError, match="irreconcilable"):
        evolved_schema([a, bad])


def test_streaming_ingest_drift_accounting_flags_contract_change(spark, tmp_path):
    """r11 verdict #5: a producer-side contract change MID-STREAM must
    not be silently swallowed by the row-level quarantine. Batch 1 is
    healthy; batch 2's producer dropped the value column (arity
    shift -> every line quarantines); batch 3's producer emits an
    empty value field (column goes all-null while rows stay clean).
    The drift accounting sink must show batch 1 clean, batch 2 flagged
    via quarantine_frac, and batch 3 flagged via the all-null column —
    one row per contract column per batch, epoch-idempotent."""
    import os
    import time

    from financial_market_data_analysis_spark.sources.files import (
        CORRUPT_COL,
        _with_corrupt_field,
    )
    from financial_market_data_analysis_spark.streaming.pipeline import (
        quarantining_ingest_sink,
    )

    src = tmp_path / "drops"
    src.mkdir()
    (src / "a.csv").write_text("1,click,0.5\n2,view,1.5\n")
    (src / "b.csv").write_text("3,click\n4,view\n")
    (src / "c.csv").write_text("5,click,\n6,view,\n")
    now = time.time()
    for i, f in enumerate(("a.csv", "b.csv", "c.csv")):
        os.utime(src / f, (now - 20 + 10 * i, now - 20 + 10 * i))

    clean_dir = str(tmp_path / "clean")
    quar_dir = str(tmp_path / "quar")
    drift_dir = str(tmp_path / "drift")
    schema = _files_schema()
    stream = (
        spark.readStream.schema(_with_corrupt_field(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = quarantining_ingest_sink(
        stream,
        clean_dir,
        quar_dir,
        str(tmp_path / "ckpt"),
        drift_dir=drift_dir,
    ).trigger(availableNow=True).start()
    assert q.awaitTermination(300)

    drift = spark.read.parquet(drift_dir)
    rows = {
        (r["epoch_id"], r["column"]): r for r in drift.collect()
    }
    n_cols = len(schema.fields)
    epochs = {e for (e, _) in rows}
    assert len(rows) == n_cols * len(epochs)
    by_epoch = sorted(epochs)
    e1, e2, e3 = by_epoch
    # batch 1: healthy — nothing drifted
    assert not any(rows[(e1, c.name)]["drifted"] for c in schema.fields)
    # batch 2: arity shift quarantined every row -> quarantine_frac 1.0,
    # null_frac NULL (no clean rows), flagged on every column
    r2 = rows[(e2, "value")]
    assert r2["quarantine_frac"] == 1.0 and r2["null_frac"] is None
    assert all(rows[(e2, c.name)]["drifted"] for c in schema.fields)
    # batch 3: rows clean but the value column went fully null -> only
    # that column is flagged
    r3 = rows[(e3, "value")]
    assert r3["null_frac"] == 1.0 and r3["drifted"]
    assert not rows[(e3, "event_id")]["drifted"]
    assert not rows[(e3, "event_type")]["drifted"]


def test_partition_pruned_scan_audits_and_filters(spark, tmp_path):
    from financial_market_data_analysis_spark.sources.batch import (
        scan_partition_pruned,
        write_partitioned,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).cast("int").alias("day")
    )
    path = str(tmp_path / "wh")
    write_partitioned(df, path, ["day"])
    out = scan_partition_pruned(spark, path, "day", 3, 5)
    rows = out.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.min("day").alias("mn"),
        F.max("day").alias("mx"),
    ).collect()[0]
    assert (rows.n, rows.mn, rows.mx) == (30, 3, 5)


def test_partition_pruned_scan_rejects_unprovable_range(spark, tmp_path):
    from financial_market_data_analysis_spark.sources.batch import (
        scan_partition_pruned,
        write_partitioned,
    )

    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("day")
    )
    path = str(tmp_path / "wh")
    write_partitioned(df, path, ["day"])
    # the range covers every on-disk partition — pruning cannot be
    # demonstrated, so the audit refuses rather than vacuously passing
    with pytest.raises(RuntimeError, match="unprovable"):
        scan_partition_pruned(spark, path, "day", 0, 9)


def test_partition_pruned_scan_rejects_unpartitioned_layout(spark, tmp_path):
    from financial_market_data_analysis_spark.sources.batch import (
        scan_partition_pruned,
    )

    # day is a DATA column here — no day= directories exist, so the
    # scan would read everything; the audit must refuse
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("day")
    )
    path = str(tmp_path / "flat")
    df.write.mode("overwrite").parquet(path)
    with pytest.raises(RuntimeError, match="unprovable"):
        scan_partition_pruned(spark, path, "day", 1, 2)


def test_partition_pruned_scan_rejects_null_partition_sentinel(
    spark, tmp_path
):
    """r13 advice: a NULL partition value writes a
    __HIVE_DEFAULT_PARTITION__ directory; the audit's range arithmetic
    is undefined over it, so it must fail with its own diagnostic
    rather than a bare int() ValueError."""
    from financial_market_data_analysis_spark.sources.batch import (
        scan_partition_pruned,
        write_partitioned,
    )

    df = spark.range(40).select(
        F.col("id"),
        F.when(F.col("id") % 7 != 0, (F.col("id") % 4).cast("int"))
        .alias("day"),
    )
    path = str(tmp_path / "wh")
    write_partitioned(df, path, ["day"])
    with pytest.raises(RuntimeError, match="non-null integer"):
        scan_partition_pruned(spark, path, "day", 1, 2)


def test_partition_pruned_scan_survives_forced_aqe(spark, tmp_path):
    """r13 advice: with spark.sql.adaptive.forceApply the probe's
    executed plan roots at AdaptiveSparkPlanExec — a LeafExecNode that
    hides the real scan from collectLeaves — so a positional leaf-0
    metric read would see no numPartitions and raise a spurious
    'pruning failed'. The audit must find the FileSourceScanExec by
    node type through the adaptive wrapper."""
    from financial_market_data_analysis_spark.sources.batch import (
        scan_partition_pruned,
        write_partitioned,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).cast("int").alias("day")
    )
    path = str(tmp_path / "wh")
    write_partitioned(df, path, ["day"])
    spark.conf.set("spark.sql.adaptive.forceApply", "true")
    try:
        out = scan_partition_pruned(spark, path, "day", 3, 5)
    finally:
        spark.conf.unset("spark.sql.adaptive.forceApply")
    assert out.count() == 30


def test_minmax_skipped_scan_audits_and_filters(spark, tmp_path):
    """s14's audit: a range-clustered write must demonstrably skip
    non-overlapping row groups on a range predicate over a
    NON-partition sort column, proven by the executed scan's
    numOutputRows sandwich."""
    from financial_market_data_analysis_spark.sources.batch import (
        scan_minmax_skipped,
        write_sorted,
    )

    df = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    path = str(tmp_path / "wh")
    write_sorted(df, path, "k", 8)
    out = scan_minmax_skipped(spark, path, "k", 2500, 3499)
    rows = out.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("mn"),
        F.max("k").alias("mx"),
    ).collect()[0]
    assert (rows.n, rows.mn, rows.mx) == (1000, 2500, 3499)


def test_minmax_skipped_scan_rejects_unprovable_range(spark, tmp_path):
    from financial_market_data_analysis_spark.sources.batch import (
        scan_minmax_skipped,
        write_sorted,
    )

    df = spark.range(1000).select(F.col("id").alias("k"))
    path = str(tmp_path / "wh")
    write_sorted(df, path, "k", 4)
    # every row group overlaps the full range — nothing skippable
    with pytest.raises(RuntimeError, match="unprovable"):
        scan_minmax_skipped(spark, path, "k", 0, 2000)


def test_minmax_skipped_scan_detects_unsorted_layout(spark, tmp_path):
    """An UNSORTED round-robin write spreads every value range across
    every file, so the footer stats overlap everything and the audit
    must refuse — the regression the proof exists to catch (identical
    rows, every byte read)."""
    from financial_market_data_analysis_spark.sources.batch import (
        scan_minmax_skipped,
    )

    df = spark.range(10000).select(F.col("id").alias("k"))
    path = str(tmp_path / "wh")
    df.repartition(8).write.mode("overwrite").parquet(path)
    with pytest.raises(RuntimeError, match="unprovable"):
        scan_minmax_skipped(spark, path, "k", 2500, 3499)
