"""The pre-snapshot preflight gate must itself stay honest: each
artifact check has to fire on the exact staleness class that shipped a
red snapshot in rounds 8-9 (registry row missing from the plan-audit
doc; bench artifact from a previous registry generation / without
run_context), and stay green on a consistent tree.  Spark-free."""

from __future__ import annotations

import importlib.util
import json
import os

_SPEC = importlib.util.spec_from_file_location(
    "preflight",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "preflight.py"))
preflight = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(preflight)


def _write_tree(tmp_path, audited, benched, run_context=True,
                loadavg=0.0):
    (tmp_path / "docs").mkdir(exist_ok=True)
    rows = "\n".join(f"| {q} | 1 | 0 | 0 | 0 | 2 | 1 |" for q in audited)
    (tmp_path / "docs" / "PLAN_AUDIT.md").write_text(
        f"# audit\n\n| query | BHJ | SMJ |\n|---|---|---|\n{rows}\n")
    detail = {"queries": {q: 0.1 for q in benched}}
    if run_context:
        detail["run_context"] = {"loadavg_before": [loadavg],
                                 "recorded_by": "tester@doctored"}
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(detail))


def test_green_on_consistent_tree(tmp_path):
    live = {"q_a", "q_b"}
    _write_tree(tmp_path, live, live)
    assert preflight.check_artifacts(str(tmp_path), live) == []


def test_flags_registry_row_missing_from_audit_doc(tmp_path):
    # the r9 snapshot failure: queries registered, doc not regenerated
    live = {"q_a", "q_b", "q_new"}
    _write_tree(tmp_path, {"q_a", "q_b"}, live)
    fails = preflight.check_artifacts(str(tmp_path), live)
    assert len(fails) == 1 and "PLAN_AUDIT" in fails[0]
    assert "q_new" in fails[0]


def test_flags_stale_audit_row_for_unregistered_query(tmp_path):
    live = {"q_a"}
    _write_tree(tmp_path, {"q_a", "q_gone"}, live)
    fails = preflight.check_artifacts(str(tmp_path), live)
    assert len(fails) == 1 and "q_gone" in fails[0]


def test_flags_bench_artifact_from_previous_generation(tmp_path):
    # the r9 snapshot's other half: BENCH_DETAIL.json verbatim from
    # the prior round (missing the newly registered queries)
    live = {"q_a", "q_new"}
    _write_tree(tmp_path, live, {"q_a"})
    fails = preflight.check_artifacts(str(tmp_path), live)
    assert len(fails) == 1 and "BENCH_DETAIL" in fails[0]


def test_flags_bench_artifact_without_run_context(tmp_path):
    live = {"q_a"}
    _write_tree(tmp_path, live, live, run_context=False)
    fails = preflight.check_artifacts(str(tmp_path), live)
    assert len(fails) == 1 and "run_context" in fails[0]


def test_warns_but_does_not_fail_on_loaded_recording(tmp_path, capsys):
    """r10 verdict #4: a bench artifact recorded under load (the
    driver's per-round runs keep landing with loadavg ≳ 5) must draw a
    visible WARN with its provenance — but stay a warning, never a
    failure, since timings are adjudicated by plan fingerprint."""
    live = {"q_a"}
    _write_tree(tmp_path, live, live, loadavg=5.9)
    fails = preflight.check_artifacts(str(tmp_path), live)
    assert fails == []
    out = capsys.readouterr().out
    assert "WARN" in out and "5.9" in out and "tester@doctored" in out


def test_no_load_warning_on_idle_recording(tmp_path, capsys):
    live = {"q_a"}
    _write_tree(tmp_path, live, live, loadavg=0.3)
    assert preflight.check_artifacts(str(tmp_path), live) == []
    assert "WARN" not in capsys.readouterr().out


def test_live_repo_is_green():
    """The real tree must pass its own gate at all times."""
    assert preflight.check_artifacts() == []


def test_unreadable_artifacts_fail_cleanly(tmp_path):
    """Round-10 review finding: a missing or corrupt artifact must
    produce a FAIL line (so the remaining checks still run), not a
    raw traceback out of the gate."""
    live = {"q_a"}
    # nothing on disk at all
    (tmp_path / "docs").mkdir()
    fails = preflight.check_artifacts(str(tmp_path), live)
    assert len(fails) == 2
    assert any("PLAN_AUDIT" in f and "unreadable" in f for f in fails)
    assert any("BENCH_DETAIL" in f and "unreadable" in f for f in fails)
    # corrupt JSON
    _write_tree(tmp_path, live, live)
    (tmp_path / "BENCH_DETAIL.json").write_text("{not json")
    fails = preflight.check_artifacts(str(tmp_path), live)
    assert len(fails) == 1 and "BENCH_DETAIL" in fails[0]


def test_coverage_doc_is_current():
    """docs/COVERAGE.md must equal what tools/coverage_map.py renders
    for the live registry: its file:line citations move with every
    builder edit, and a stale map points readers at the wrong code."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "coverage_map", os.path.join(repo, "tools", "coverage_map.py"))
    coverage_map = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(coverage_map)
    with open(os.path.join(repo, "docs", "COVERAGE.md")) as fh:
        committed = fh.read()
    assert committed == coverage_map.render(), (
        "docs/COVERAGE.md is stale — re-run tools/coverage_map.py")
