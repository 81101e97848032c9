"""tools/measure.py: the claim rule, the A/B pair order, one fresh-worker
run, and the guard that keeps engine experiments out of env flags."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))
import measure as M  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402

PARENT = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]  # IQR 4.5


def test_claim_ties_count_for_neither_side():
    r = M.claim([9.0] * 8 + [10.0, 10.0], [10.0] * 10)
    assert r["wins"] == 8 and not r["passes"]


def test_claim_needs_nine_wins_in_ten():
    r = M.claim([p - 6 for p in PARENT[:9]] + [25.0], PARENT)
    assert r["wins"] == 9 and r["change_median"] == 8.5 and r["passes"]
    eight = [p - 6 for p in PARENT[:8]] + [25.0, 26.0]
    r = M.claim(eight, PARENT)
    assert r["wins"] == 8 and r["change_median"] == 8.5 and not r["passes"]


def test_claim_needs_medians_further_apart_than_the_parent_iqr():
    assert M.claim([p - 5 for p in PARENT], PARENT)["passes"]
    r = M.claim([p - 4 for p in PARENT], PARENT)
    assert r["wins"] == 10 and r["parent_iqr"] == 4.5 and not r["passes"]


def test_claim_fails_when_the_change_fails_more_calls():
    change = [p - 6 for p in PARENT[:9]] + [None]
    r = M.claim(change, PARENT)
    assert r["wins"] == 9 and not r["passes"]


def test_against_alternates_the_first_side_and_removes_its_worktree(monkeypatch, tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    for cmd in (["init", "-q"], ["-c", "user.name=t", "-c", "user.email=t@t", "commit",
                                 "-q", "--allow-empty", "-m", "parent"]):
        subprocess.run(["git", "-C", str(repo), *cmd], check=True)
    trees = []

    def fake_sample(tree, sf, names):
        trees.append(tree)
        return {"overhead_share": 0.01,
                "calls": {n: {"ok": True, **dict.fromkeys(M.TIMINGS, 1.0),
                              **dict.fromkeys(M.COUNTS, 1)} for n in names}}

    monkeypatch.setattr(M, "_run_sample", fake_sample)
    monkeypatch.setattr(M, "SAMPLES", 4)
    monkeypatch.setattr(M, "REPO", str(repo))
    rec = M.measure(["q1_x"], SF_SMOKE, against="HEAD")
    parent = trees[1]
    change = str(repo)
    assert parent != change
    assert trees == [change, parent, parent, change, change, parent, parent, change]
    assert rec["claims"]["q1_x"]["wins"] == 0  # ties only
    assert not Path(parent).exists()
    listed = subprocess.run(["git", "-C", change, "worktree", "list"],
                            capture_output=True, text=True, check=True).stdout
    assert parent not in listed


@pytest.fixture
def sf_without_events(tmp_path):
    """sf0.001 minus the events table: any query over events raises."""
    for f in Path(SF_SMOKE).iterdir():
        if f.name != "events.parquet":
            (tmp_path / f.name).symlink_to(f)
    return str(tmp_path)


def test_fresh_worker_run(monkeypatch, sf_without_events):
    monkeypatch.setattr(M, "SAMPLES", 2)
    names = ["q5_local_volume", "t13_stream_ingest_dedup", "w4_bollinger"]
    rec = json.loads(json.dumps(M.measure(names, sf_without_events)))  # JSON-safe record
    qs = rec["queries"]
    for name in names[:2]:
        q = qs[name]
        assert (q["attempted"], q["failed"], q["wall_s"]["n"]) == (2, 0, 2)
        for s in q["samples"]:
            assert s["construct_s"] + s["execute_s"] == pytest.approx(s["wall_s"])
            # building a plan crosses into the JVM; the crossings are a count
            assert isinstance(s["construct_py4j_trips"], int) and s["construct_py4j_trips"] > 0
            assert s["cpu_s"] > 0 and s["jobs"] >= 1 and s["tasks"] >= 1
            assert 0 <= s["gap_s"] <= s["wall_s"]
    for s in qs["t13_stream_ingest_dedup"]["samples"]:
        assert len(s["batches"]) >= 2
        for b in s["batches"]:
            assert {"addBatch", "walCommit"} <= set(b["durationMs"])
            assert b["state"] and all(op["numRowsTotal"] >= 0 for op in b["state"])
    assert "batches" not in qs["q5_local_volume"]["samples"][0]
    trips = qs["q5_local_volume"]["construct_py4j_trips"]
    assert trips["n"] == 2 and trips["median"] > 0
    # a query that raises is failed against attempted, not dropped
    w4 = qs["w4_bollinger"]
    assert (w4["attempted"], w4["failed"], w4["wall_s"]["n"]) == (2, 2, 0)
    assert all(not s["ok"] and s["error"] for s in w4["samples"])
    assert (rec["families"]["w"]["attempted"], rec["families"]["w"]["failed"]) == (2, 2)
    assert rec["families"]["t"]["wall_s"]["n"] == 2
    share = rec["overhead_share"]
    assert share["n"] == 2 and 0 < share["median"] < 1


ENV_READS = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_GRAFT_SF_DIR"}


def _literal(key) -> str:
    return key.value if isinstance(key, ast.Constant) else "<computed>"


def _env_reads(tree: ast.AST) -> tuple[list[str], int]:
    """Keys of ``os.environ.get(K)``, ``os.environ[K]`` and
    ``os.getenv(K)`` reads, and how often ``environ``/``getenv`` appear."""
    keys, mentions = [], 0
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv") \
                or isinstance(node, ast.Name) and node.id in ("environ", "getenv"):
            mentions += 1
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and (
                node.func.attr == "getenv"
                or node.func.attr == "get" and getattr(node.func.value, "attr", None) == "environ"):
            keys.append(_literal(node.args[0] if node.args else None))
        elif isinstance(node, ast.Subscript) and getattr(node.value, "attr", None) == "environ":
            keys.append(_literal(node.slice))
    return keys, mentions


def test_engine_reads_no_env_toggles():
    """A/B experiments go by commit (``measure.py --against``), never by
    an env flag: the engine reads only its three deployment settings."""
    files = [REPO / "__spark_entry__.py",
             *sorted((REPO / "financial_market_data_analysis_spark").rglob("*.py"))]
    found: dict[str, list[str]] = {}
    for path in files:
        keys, mentions = _env_reads(ast.parse(path.read_text()))
        rel = str(path.relative_to(REPO))
        assert len(keys) == mentions, f"{rel}: an environ/getenv use that is not a keyed read"
        for k in keys:
            found.setdefault(k, []).append(rel)
    assert set(found) == ENV_READS, found


def test_session_cpus_default_to_this_hosts_cores(monkeypatch):
    """With ``SPARK_GRAFT_CPUS`` unset a session is sized to the cores
    this process may run on, not a fixed count; when set, it wins.
    ``get_spark`` itself is not called: it would retune the shared
    session."""
    from financial_market_data_analysis_spark.session import host_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert host_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert host_cpus() == "3"
