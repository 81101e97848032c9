"""Every ``queries()`` entry must match its ``oracle_sql()`` twin on the
smoke-scale tables — a local mirror of the driver's sf0.01 gate."""

from __future__ import annotations

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
