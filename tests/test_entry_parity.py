"""Every ``queries()`` entry must match its ``oracle_sql()`` twin on the
smoke-scale tables — a local mirror of the driver's sf0.01 gate."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import __spark_entry__ as entry_mod
from conftest import SF_SMOKE, assert_frame_parity, run_duck

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema) > 0


def test_every_query_has_callable():
    assert QUERIES, "queries() must not be empty"
    for name, fn in QUERIES.items():
        assert callable(fn), name


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_SMOKE)
    if name not in ORACLES:
        # rows-only check for non-SQL-expressible ops (driver's weak gate)
        assert df.count() >= 0
        return
    oracle = run_duck(duck, ORACLES[name])
    assert_frame_parity(df, oracle)


def test_full_row_width_and_registry_columns(spark):
    """The full-width warehouse row must carry the reference's ~109+
    feature families end to end (SURVEY.md §1.4): 12 COT columns, 39
    indicator columns (13 events x 3 values), 26 book columns, and the
    window-indicator/target suite."""
    from financial_market_data_analysis_spark.functions.schemas import (
        INDICATOR_EVENTS,
        INDICATOR_VALUES,
    )
    from financial_market_data_analysis_spark.plans.full_row import (
        COT_COLS,
        IND_COLS,
        full_row,
    )

    assert len(INDICATOR_EVENTS) == 13 and len(INDICATOR_VALUES) == 3
    assert len(COT_COLS) == 12 and len(IND_COLS) == 39

    df = full_row(spark, SF_SMOKE)
    assert len(df.columns) >= 110
    for c in ("asset_long_pos", "leveraged_short_open_int",
              "fed_interest_rate_decision_actual", "jolts_job_openings_forc_actual_diff",
              "bid_6_size", "ask_3", "delta_MA12", "up2"):
        assert c in df.columns, c
    assert df.count() > 0


def test_adjudication_window_boundary_is_stable():
    """The driver adjudicates the FIRST 50 queries() entries; the
    rotation comments in __spark_entry__.py are load-bearing only if
    the boundary stays where they say it is. Guard the invariant so an
    accidental dict reorder fails fast (gen_queries_md.py asserts the
    same at doc-generation time; this catches it in every test run)."""
    import __spark_entry__ as e

    keys = list(e.queries())
    assert keys[49] == "t23_stream_drift_accounting", keys[45:52]
    # the PINNED carriers (r8 verdict #2: flagships + one per SURVEY
    # §2 family) hold the first 16 slots permanently — t22 GRADUATED
    # to pinned in r15 (r14 verdict #4: the streaming capstone; no
    # displacement math may ever propose it)
    pinned = [
        "pipeline_full_row_part", "pipeline_bars_joined",
        "t9_stateful_suite", "t6b_stream_left_join", "t4b_stream_sessions",
        "x27_resize_geometry", "ml7_auc", "j5_bucketed_join",
        "t13_stream_ingest_dedup", "a12_hist_quantiles",
        "x28_corpus_pipeline", "x44_dup_span_removal", "j6_interval_lookup",
        "t7_exactly_once_sink", "x48_semantic_dedup",
        "t22_stream_five_feed_join",
    ]
    assert keys[:16] == pinned, keys[:16]
    # two r8-born keepers: the in-window carriers older displacement
    # notes point at (w23/t20/x69/q4 displaced r15, a14 displaced r16
    # per ROTATION_PLAN_r16.md)
    keepers = [
        "x73_leakage_free_split", "x74_filter_funnel",
    ]
    assert keys[16:18] == keepers, keys[16:18]
    # four r10-born keepers: the carriers round 13's nine displacement
    # notes point at (x75 the ANN-recall anchor, q2 the decorrelation
    # carrier, q11 the global-scalar-gate carrier, q21 the anti-join
    # carrier)
    r10_keepers = [
        "x75_compression_table", "q2_min_cost_supplier",
        "q11_important_parts", "q21_sole_returner",
    ]
    assert keys[18:22] == r10_keepers, keys[18:22]
    # the r11-born snowflake anchor (the carrier the round-14
    # displacement notes for q7/q8/q9/q15 all point at)
    assert keys[22] == "q5_local_volume", keys[22]
    # the r12-born keeper: a17 stays as the CASE/pivot + Expand-family
    # carrier (the other eight r12 births displaced r16)
    assert keys[23] == "a17_pivot_daily_types", keys[23]
    # the four r13/r14-cohort family-carrier keepers (the in-window
    # carriers the r17 displacement notes point at; the other twelve
    # r13/r14 births displaced r17 per the r16 verdict #2)
    carrier_keepers = [
        "d8_skew_report", "t28_stream_sessionize",
        "w26_range_beta", "j8_dpp_proof",
    ]
    assert keys[24:28] == carrier_keepers, keys[24:28]
    # the nine r15 births on their second round
    r16_rotated = [
        "j9_aqe_skew_proof", "t29_checkpoint_recovery",
        "t30_stream_cohorts", "j10_runtime_broadcast",
        "s16_zorder_vs_linear", "t31_state_metrics_proof",
        "x81_pack_budget_sweep", "s17_column_pruning_proof",
        "u2_codegen_proof",
    ]
    assert keys[28:37] == r16_rotated, keys[28:37]
    # the thirteen structurally-rewritten queries rotated in for
    # POST-REWRITE adjudication (r16 verdict #2, vetted in
    # ROTATION_PLAN_r17.md)
    rewritten = [
        "x4_simhash", "x6_minhash_lsh", "x15_simhash_neardup",
        "x16_dedup_clusters", "x30_ann_recall", "x31_minhash_clusters",
        "x49_cluster_keeper", "x69_lsh_tuning",
        "x78_neardup_method_table", "t11_stateful_momentum",
        "t17_late_drop", "t18_stream_kmv",
        "t23_stream_drift_accounting",
    ]
    assert keys[37:50] == rewritten, keys[37:50]
    # every oracle key maps to a query, and rows-only set is exactly
    # the three documented queries
    oracles = e.oracle_sql()
    assert set(oracles) <= set(keys)
    rows_only = set(keys) - set(oracles)
    assert rows_only == {
        "ml5_window_mlp", "ml2_train_metrics", "x6b_minhash_xxhash"
    }
    # r7 verdict #2: every window slot carries a hash-signal query —
    # the rows-only entries sit permanently past position 50
    assert rows_only.isdisjoint(keys[:50]), sorted(rows_only & set(keys[:50]))


def test_no_rotation_debt():
    """r7 verdict #7: fail the suite the moment any oracle-bearing
    query has existed a full round without a driver CORRECTNESS row
    and is not scheduled for one (i.e. sits outside the first-50
    window). Round 7 let that backlog reach 13 silently; this makes
    silent accumulation impossible. New queries must be stamped into
    tools/query_births.json via `tools/check_rotation_debt.py
    --update` when added."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from check_rotation_debt import check

    debt = check()
    assert not debt, "\n".join(debt)


def test_rotation_round_is_derived_from_correctness_rows(tmp_path):
    """The round under build is the largest N among
    ``CORRECTNESS_rN.json`` plus 1 — read from the correctness records, never
    from a VERDICT.md heading (whose wording and case vary by round).
    Numeric, not lexicographic (r9 < r12), and files that only look
    similar are ignored."""
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "tools"))
    from check_rotation_debt import current_round

    for name in ("CORRECTNESS_r9.json", "CORRECTNESS_r12.json",
                 "CORRECTNESS_r40_c8.json", "BENCH_r50.json"):
        (tmp_path / name).write_text("{}")
    (tmp_path / "VERDICT.md").write_text("# VERDICT — round 99\n")
    assert current_round(tmp_path) == 13

    latest = max(
        int(p.stem.removeprefix("CORRECTNESS_r"))
        for p in repo.glob("CORRECTNESS_r*.json")
        if p.stem.removeprefix("CORRECTNESS_r").isdigit()
    )
    assert current_round() == latest + 1


def test_bench_compare_flags_a_regression_with_documented_flags(tmp_path):
    """``bench_compare.py OLD NEW --ratio R`` as its usage line documents:
    the flag's value is not a third record path, and a query slower than
    ``old * ratio`` by more than the floor is flagged (exit code 1)."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    old, new = tmp_path / "old.json", tmp_path / "new.json"
    old.write_text(json.dumps({"sf": 0.1, "queries": {"q1": 1.0, "q2": 2.0}}))
    new.write_text(json.dumps({"sf": 0.1, "queries": {"q1": 1.2, "q2": 3.0}}))
    run = subprocess.run(
        [sys.executable, str(repo / "tools" / "bench_compare.py"), str(old), str(new),
         "--ratio", "1.3", "--floor", "0.3"],
        capture_output=True, text=True,
    )
    assert run.returncode == 1, run.stdout + run.stderr
    assert "REG q2: 2.00s -> 3.00s" in run.stdout
    assert "REG q1" not in run.stdout
    assert "regressions: 1" in run.stdout


def test_bench_summary_counts_failed_queries():
    """``bench.py``'s summary: ``value`` sums the timings that ran, and a
    failed query (timing -1) is named and counted in both the full record
    and the stdout line, out of the queries attempted."""
    import bench

    timings = {"q1": 1.5, "q2": -1.0, "q3": 0.25, "q4": -1.0}
    full, line = bench.summarize(timings, 2, 4, 0.1)
    for rec in (full, line):
        assert rec["value"] == 1.75
        assert (rec["n_queries"], rec["n_failed"]) == (4, 2)
        assert rec["failed"] == ["q2", "q4"]
    assert full["queries"] == timings and full["cpus"] == 4
    assert list(line["queries"]) == ["q1", "q3", "q2", "q4"]


def test_catalog_is_pinned():
    """The 226 oracle texts and the ``queries()`` keys and order, pinned by
    digest. A change that alters an oracle on purpose updates the digest
    here and says why."""
    import hashlib
    import json

    def digest(obj) -> str:
        return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()

    assert (len(ORACLES), len(QUERIES)) == (226, 229)
    assert digest(ORACLES) == (
        "c107fd309123b6dd1b22a48e09c5776c7553abc205c0b605582de0d8b615d721"
    )
    assert digest(list(QUERIES)) == (
        "7b8922b787079fe0a1657fa31eaddf4348a43b27252f792ffed1508a0d8a131f"
    )


_ROOT = Path(__file__).resolve().parent.parent
_PKG = _ROOT / "financial_market_data_analysis_spark"

# Package functions that no production root reaches but that stay, each
# with its reason. Their callees count as reached.
_KEPT_UNREACHED = {
    "poll_to_staging": "SURVEY S3/S4, the reference producer's REST poll "
    "loop; tested against a live localhost server",
}


def _names(node: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _production_code():
    """Names reached from the production roots: ``entry``, ``queries`` and
    ``oracle_sql`` in ``__spark_entry__.py``, ``bench.py``, ``tools/*.py``,
    the non-test files of ``perfbench/`` and module-level code in the
    package (decorators included). Tests are not roots. Reachability is by
    name: a reached name walks every top-level def or class of that name
    (``conftest.py`` included, since ``perfbench/`` imports it), so the
    walk over-approximates and cannot flag code that a root reaches.

    Returns the package's top-level functions as ``(path, def)`` pairs,
    the names the roots reach, and every node whose code a root runs:
    module-level code, the defs of the root files and every reached def
    (the callees of ``_KEPT_UNREACHED`` included)."""
    defs: dict[str, list[ast.AST]] = {}
    funcs: list[tuple[str, ast.FunctionDef]] = []
    roots = {"entry", "queries", "oracle_sql"}
    run: list[ast.AST] = []
    whole = [
        _ROOT / "bench.py",
        *sorted(_ROOT.glob("tools/*.py")),
        *[p for p in sorted(_ROOT.glob("perfbench/*.py"))
          if not p.name.startswith("test_")],
    ]
    for f in [*sorted(_PKG.rglob("*.py")), _ROOT / "__spark_entry__.py",
              _ROOT / "conftest.py", *whole]:
        for node in ast.parse(f.read_text()).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                if f.name != "conftest.py":
                    roots |= _names(node)
                    run.append(node)
                continue
            defs.setdefault(node.name, []).append(node)
            if f in whole:
                roots |= _names(node)
            roots |= set().union(*map(_names, node.decorator_list))
            if f.is_relative_to(_PKG) and isinstance(node, ast.FunctionDef):
                funcs.append((f"{f.relative_to(_ROOT)}", node))

    reached: set[str] = set()
    todo = set(roots)
    while todo:
        n = todo.pop()
        if n not in reached:
            reached.add(n)
            for d in defs.get(n, ()):
                todo |= _names(d) - reached
    walked = set(reached)
    todo = set(_KEPT_UNREACHED)
    while todo:
        n = todo.pop()
        if n not in walked:
            walked.add(n)
            for d in defs.get(n, ()):
                todo |= _names(d) - walked
    run += [d for n in walked for d in defs.get(n, ())]
    return funcs, reached, run


def test_every_engine_function_is_reached_outside_tests():
    """Guard: every top-level function in the package is reachable from a
    production root (see ``_production_code``). A function only tests
    call fails here. A name in a module's ``__all__`` is not a root: a
    re-export that nothing imports keeps nothing alive."""
    funcs, reached, run = _production_code()
    kept = set(_KEPT_UNREACHED)
    assert kept <= {fn.name for _, fn in funcs} - reached, (
        "a kept name is gone or now reached; drop it from _KEPT_UNREACHED"
    )
    walked = reached | {d.name for d in run if isinstance(d, ast.FunctionDef)}
    dead = [f"{path}::{fn.name}" for path, fn in funcs if fn.name not in walked]
    assert len(funcs) > 300
    assert not dead, f"{len(dead)} functions only tests reach:\n" + "\n".join(dead)


# Defaulted parameters with one value in use (or a ``None`` default no
# call leaves in place) that stay, each with its reason.
_KEPT_OPTIONS = {
    ("connected_components", "checkpoint_dir"): "reliable checkpointing: "
    "the loop's lineage survives an executor loss (fault recovery)",
    ("simhash_dedup_clusters", "checkpoint_dir"): "reliable checkpointing: "
    "the loop's lineage survives an executor loss (fault recovery)",
    ("streaming_predictions", "max_staleness_seconds"): "the staleness "
    "check on stream input",
    ("streaming_predictions", "now_ts"): "the staleness check's test clock",
    **{
        o: "perfbench/ calls it with this value; the benchmark's calls keep "
        "their signatures until a benchmark change"
        for o in [
            ("connected_components", "src"),
            ("connected_components", "dst"),
            ("incremental_indicators", "order_col"),
            ("incremental_indicators", "partition_col"),
            ("incremental_indicators", "tail_rows"),
            ("minhash_clusters_oracle", "threshold"),
            ("minhash_lsh_oracle", "threshold"),
            ("parquet_append_sink", "partition_by"),
            ("parquet_append_sink", "post_batch"),
            ("parquet_append_sink", "trigger"),
            ("streaming_predictions", "feature_cols"),
            ("streaming_predictions", "order_col"),
            ("watermarked", "ts_col"),
        ]
    },
}


_UNKNOWN = "<unknown>"


def _option_values(funcs, run) -> dict[tuple[str, str], tuple[str, str, set[str], bool]]:
    """Maps each defaulted parameter ``(function, parameter)`` of the
    package's top-level functions to its file, its default, the values
    production code passes it (``repr`` strings or ``_UNKNOWN``) and
    whether some call leaves the default in place.

    Calls match by name. A call that leaves the parameter unset passes
    its default. A literal, or a name that module-level production code
    binds to a literal (a module constant), is known by value; an argument that
    forwards the caller's own option takes that option's values, so the
    scan repeats until nothing changes; any other expression is unknown.
    A call with ``*args`` or ``**kwargs`` passes unknown values and the
    defaults, and a package function passed as a value (a name or
    attribute not in call position, say a loader handed to a generic
    reader) counts as called with unknown values for every parameter.
    The functions of ``_KEPT_UNREACHED`` are left to the reachability
    guard: no root calls them at all."""
    consts: dict[str, str] = {}
    for node in run:
        if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                and isinstance(node.targets[0], ast.Name):
            try:
                v = repr(ast.literal_eval(node.value))
            except ValueError:
                v = _UNKNOWN
            name = node.targets[0].id
            consts[name] = v if consts.get(name, v) == v else _UNKNOWN

    def known(v: ast.expr, local: set[str]) -> str:
        if isinstance(v, ast.Name):
            return consts.get(v.id, _UNKNOWN) if v.id not in local else _UNKNOWN
        try:
            return repr(ast.literal_eval(v))
        except ValueError:
            return _UNKNOWN

    params: dict[str, list[tuple[list[str], list[str]]]] = {}
    options: dict[tuple[str, str], tuple[str, str]] = {}
    for path, fn in funcs:
        a = fn.args
        pos = [x.arg for x in a.posonlyargs + a.args]
        dflt = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
        dflt |= {x.arg: d for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
        params.setdefault(fn.name, []).append((pos, list(dflt)))
        if fn.name not in _KEPT_UNREACHED:
            options |= {(fn.name, p): (path, known(d, set())) for p, d in dflt.items()}

    sites = []  # (caller, names local to the caller, call or passed name)
    for node in run:
        local = {
            n.arg if isinstance(n, ast.arg) else n.id
            for n in ast.walk(node)
            if isinstance(n, ast.arg)
            or isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        }
        called = {id(c.func) for c in ast.walk(node) if isinstance(c, ast.Call)}
        for c in ast.walk(node):
            ref = c.id if isinstance(c, ast.Name) and c.id not in local else (
                c.attr if isinstance(c, ast.Attribute) else None
            )
            if isinstance(c, ast.Call) or (ref in params and id(c) not in called):
                sites.append((getattr(node, "name", None), local, c))

    values: dict[tuple[str, str], set[str]] = {o: set() for o in options}
    unset: set[tuple[str, str]] = set()
    while True:
        was = {o: set(s) for o, s in values.items()}
        for caller, local, c in sites:
            if not isinstance(c, ast.Call):
                ref = getattr(c, "id", getattr(c, "attr", None))
                for o in values:
                    if o[0] == ref:
                        values[o].add(_UNKNOWN)
                continue
            name = getattr(c.func, "id", getattr(c.func, "attr", None))
            starred = any(isinstance(a, ast.Starred) for a in c.args) or any(
                k.arg is None for k in c.keywords
            )
            kw = {k.arg: k.value for k in c.keywords}
            for pos, dflt in params.get(name, ()):
                bound = dict(zip(pos, c.args)) | kw
                for p in dflt:
                    if (name, p) not in values:
                        continue
                    got = values[(name, p)]
                    v = bound.get(p)
                    if starred:
                        got.add(_UNKNOWN)
                    if v is None or starred:
                        got.add(options[(name, p)][1])
                        unset.add((name, p))
                    elif isinstance(v, ast.Name) and (caller, v.id) in values:
                        got |= values[(caller, v.id)]
                    else:
                        got.add(known(v, local))
        if values == was:
            return {o: (*options[o], values[o], o in unset) for o in options}


def _flagged_options(opts) -> dict[tuple[str, str], str]:
    """The options of ``_option_values`` with one known value in use, and
    ``None`` defaults that no production call leaves in place, each with
    the finding."""
    flagged = {}
    for o, (path, default, vals, unset) in sorted(opts.items()):
        vals = vals or {default}  # no call at all: only the default could run
        if len(vals) == 1 and _UNKNOWN not in vals:
            flagged[o] = f"{path}::{o[0]}({o[1]}=) one value in use: {min(vals)}"
        elif default == "None" and not unset:
            flagged[o] = f"{path}::{o[0]}({o[1]}=None) no call leaves the default"
    return flagged


def test_every_engine_option_has_two_values_in_use():
    """Guard: every defaulted parameter of a top-level package function
    takes at least two values in production code, or an unknown one (see
    ``_option_values``); with one value in use, the value is a constant.
    A ``None`` default that no production call leaves in place goes too."""
    funcs, _, run = _production_code()
    opts = _option_values(funcs, run)
    assert len(opts) > 100
    flagged = _flagged_options(opts)
    assert set(_KEPT_OPTIONS) <= set(flagged), (
        "a kept option is gone or now in use with two values; drop it "
        "from _KEPT_OPTIONS"
    )
    found = [flagged[o] for o in flagged if o not in _KEPT_OPTIONS]
    assert not found, f"{len(found)} options:\n" + "\n".join(found)


def test_option_guard_compares_values_and_sees_passed_functions():
    """The option guard on a small module: literals and module constants
    compare by value, forwarding takes the caller's values, a ``None``
    default every call overrides is flagged, and a function passed as a
    value (a loader handed to a generic reader) counts as called with
    unknown values, so its options are not flagged."""
    body = ast.parse(
        """
K = 3
def one(df, n=2): ...
def two(df, n=2): ...
def fwd(df, k=4): ...
def wrap(df, k=4): return fwd(df, k=k)
def dead(df, out=None): ...
def load(spark, path, sep=","): ...
def read(loader, spark, **kw): return loader(spark, "p", **kw)
def star(df, n=2): ...
def root(x, args):
    one(x, 3)
    one(x, n=K)
    two(x)
    two(x, 5)
    wrap(x)
    wrap(x, k=4)
    dead(x, out="a")
    dead(x, out="b")
    read(load, x)
    star(*args)
"""
    ).body
    funcs = [("m.py", n) for n in body if isinstance(n, ast.FunctionDef)]
    flagged = _flagged_options(_option_values(funcs, body))
    assert {o: m.split(" ", 1)[1] for o, m in flagged.items()} == {
        ("one", "n"): "one value in use: 3",
        ("wrap", "k"): "one value in use: 4",
        ("fwd", "k"): "one value in use: 4",
        ("dead", "out"): "no call leaves the default",
    }


def test_perfbench_calls_bind_to_package_signatures():
    """Every call that a non-test ``perfbench/`` file makes to a package
    function binds to the function's current signature (argument count
    and keyword names). Tier-1 never runs the benchmark's traced live
    tail, so a signature change would otherwise show up only as a failed
    benchmark run."""
    import importlib
    import inspect

    checked, broken = 0, []
    for f in sorted(_ROOT.glob("perfbench/*.py")):
        if f.name.startswith("test_"):
            continue
        tree = ast.parse(f.read_text())
        names = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(_PKG.name):
                mod = importlib.import_module(node.module)
                for a in node.names:
                    obj = getattr(mod, a.name, None)
                    if obj is None:
                        obj = importlib.import_module(f"{node.module}.{a.name}")
                    names[a.asname or a.name] = obj
        for c in ast.walk(tree):
            if not isinstance(c, ast.Call):
                continue
            fn = c.func
            if isinstance(fn, ast.Name):
                obj = names.get(fn.id)
            elif isinstance(fn, ast.Attribute) and isinstance(fn.value, ast.Name):
                obj = getattr(names.get(fn.value.id), fn.attr, None)
            else:
                continue
            if not (inspect.isfunction(obj) and obj.__module__.startswith(_PKG.name)):
                continue
            if any(isinstance(a, ast.Starred) for a in c.args) or any(
                k.arg is None for k in c.keywords
            ):
                continue
            checked += 1
            try:
                inspect.signature(obj).bind_partial(
                    *[None] * len(c.args), **{k.arg: None for k in c.keywords}
                )
            except TypeError as e:
                broken.append(f"{f.name}:{c.lineno} {obj.__name__}: {e}")
    assert checked > 20
    assert not broken, "\n".join(broken)
