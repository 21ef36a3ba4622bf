"""Pre-snapshot preflight: the Spark-free gate subset, in seconds.

Rounds 8 and 9 both shipped end-of-round snapshots with a red pytest
that was detectable in under five seconds — a stale docs/PLAN_AUDIT.md
after a registry change (r9), and un-updated plan-shape declarations
(r8).  This tool exists so "did I just break a paper gate?" is one
command with no Spark session, no oracle run, and no excuse to skip:

    python tools/preflight.py            # Spark-free checks, ~5 s
    python tools/preflight.py --full     # + check.py + full pytest

Checks (each maps to the gate that would otherwise catch it a round
too late):

1. docs/PLAN_AUDIT.md rows == live registry (the r4 staleness gate,
   tests/test_plan_shapes.py::test_plan_audit_doc_matches_registry).
2. Registry ↔ oracle key sync (every registered query has a DuckDB
   twin or a declared NO_ORACLE exception).
3. BENCH_DETAIL.json freshness: it must cover exactly the live
   registry's queries and carry a ``run_context`` (the r9 lesson —
   the committed artifact was verbatim the previous round's file).
4. docs/COVERAGE.md equals a fresh ``tools/coverage_map.py`` render
   (tests/test_preflight.py::test_coverage_doc_is_current).

A snapshot (end-of-round commit, or any commit that touches the
registry, an oracle, or docs/) without a green preflight is a
protocol violation — see the registry docstring and the
round-workflow notes.  ``--full`` chains the two slow gates for the
single documented entry point: ``tools/check.py`` (full-registry
Spark-vs-DuckDB hash parity, ~8 min) and ``pytest tests/`` (~15 min).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The Spark-free pytest targets (no SparkSession fixture is touched).
PYTEST_TARGETS = [
    "tests/test_plan_shapes.py::test_plan_audit_doc_matches_registry",
    "tests/test_plan_shapes.py::"
    "test_fingerprint_normalizer_masks_per_session_tokens",
    "tests/test_oracle_parity.py::"
    "test_every_query_has_oracle_or_declared_exception",
    "tests/test_preflight.py::test_coverage_doc_is_current",
]


def _fail(msgs: list[str], what: str) -> None:
    msgs.append(what)
    print(f"FAIL {what}")


def check_artifacts(repo: str = REPO,
                    live: set[str] | None = None) -> list[str]:
    """Direct artifact checks (faster + more specific than the pytest
    equivalents, and BENCH_DETAIL freshness has no pytest twin — a
    fresh bench is a per-round protocol item, not a unit invariant).
    ``repo``/``live`` are injectable so the checks themselves are
    testable against a doctored tree (tests/test_preflight.py)."""
    failures: list[str] = []
    if live is None:
        from astra_perseverance_spark.queries import QUERY_REGISTRY
        live = set(QUERY_REGISTRY)

    audit = os.path.join(repo, "docs", "PLAN_AUDIT.md")
    try:
        with open(audit) as fh:
            audited = set(re.findall(r"^\| (\w+) \| \d", fh.read(), re.M))
    except OSError as exc:
        _fail(failures, f"docs/PLAN_AUDIT.md unreadable ({exc}) — "
                        "run tools/plan_audit.py")
        audited = None
    if audited is not None:
        if audited != live:
            _fail(failures,
                  f"docs/PLAN_AUDIT.md stale — missing "
                  f"{sorted(live - audited)}, extra "
                  f"{sorted(audited - live)} "
                  f"(re-run tools/plan_audit.py)")
        else:
            print(f"OK   docs/PLAN_AUDIT.md covers all "
                  f"{len(live)} queries")

    detail = os.path.join(repo, "BENCH_DETAIL.json")
    try:
        with open(detail) as fh:
            d = json.load(fh)
    except (OSError, ValueError) as exc:
        _fail(failures, f"BENCH_DETAIL.json unreadable ({exc}) — "
                        "re-run bench.py")
        return failures
    benched = set(d.get("queries", d.get("timings", {})))
    if benched != live:
        _fail(failures,
              f"BENCH_DETAIL.json stale — missing "
              f"{sorted(live - benched)}, extra {sorted(benched - live)} "
              f"(re-run bench.py on an idle machine)")
    elif "run_context" not in d:
        _fail(failures,
              "BENCH_DETAIL.json has no run_context — it predates the "
              "r9 bench instrumentation; re-run bench.py")
    else:
        print(f"OK   BENCH_DETAIL.json covers all {len(live)} queries "
              f"(run_context present)")
        # Provenance WARNING, deliberately non-fatal (r10 verdict #4):
        # the driver's per-round bench runs on a loaded machine and
        # overwrites the working-tree artifact; a loaded recording
        # must not be COMMITTED silently as the reference numbers,
        # but it is not a gate failure either — timings are
        # adjudicated by plan fingerprint, not wall-clock.
        ctx = d["run_context"]
        # Check the 1- AND 5-minute averages: the r11 clean run started
        # at loadavg[0] = 0.01 but loadavg[1] = 3.19 — the machine had
        # only just gone idle, and three queries recorded 2–3.7× their
        # historical level off the residual load (r11 verdict §3).
        las = list(ctx.get("loadavg_before") or [0.0])[:2]
        if any(la > 2 for la in las):
            print(f"WARN BENCH_DETAIL.json was recorded under load "
                  f"(loadavg_before {las}, recorded_by "
                  f"{ctx.get('recorded_by', '<unrecorded>')}) — re-run "
                  f"bench.py on a SETTLED machine (1- and 5-minute "
                  f"averages both < 2) before committing it")
    return failures


def main() -> int:
    failures = check_artifacts()
    rc = subprocess.call(
        [sys.executable, "-m", "pytest", "-q", "--no-header",
         *PYTEST_TARGETS],
        cwd=REPO)
    if rc:
        failures.append(f"spark-free pytest subset rc={rc}")
    if failures:
        print(f"\nPREFLIGHT RED ({len(failures)}): {failures}")
        return 1
    print("\nPREFLIGHT GREEN")
    if "--full" in sys.argv[1:]:
        sf = next((a for a in sys.argv[1:] if not a.startswith("--")),
                  "/root/testdata/sf0.01")
        rc = subprocess.call(
            [sys.executable, os.path.join(REPO, "tools", "check.py"), sf],
            cwd=REPO)
        if rc:
            print("FULL GATE RED: tools/check.py failed")
            return rc
        rc = subprocess.call(
            [sys.executable, "-m", "pytest", "tests/", "-q"], cwd=REPO)
        if rc:
            print("FULL GATE RED: pytest failed")
            return rc
        print("FULL GATE GREEN (preflight + check.py + pytest)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
