"""Physical-plan shape gate: the 100 TB plan guarantees
(docs/PLAN_AUDIT.md) asserted under pytest, not just the standalone
audit tool — a regression that introduces a SortMergeJoin where a dim
should broadcast, or a CartesianProduct anywhere, fails CI before it
ships.

Only `.explain` runs (plan compilation, no execution), so the whole
registry is cheap to audit per test run.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from tests.conftest import SF_SMALL


# name -> formatted explain string, shared by the two plan-text checks
# so each query's plan is built and compiled once per test session
_PLANS: dict[str, str] = {}


def _plan(name, fn, spark):
    if name not in _PLANS:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, SF_SMALL).explain("formatted")
        _PLANS[name] = buf.getvalue()
    return _PLANS[name]


def _registry():
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    return sorted(QUERY_REGISTRY.items())


@pytest.mark.parametrize("name,fn", _registry(), ids=[n for n, _ in _registry()])
def test_no_smj_or_cartesian(name, fn, spark):
    p = _plan(name, fn, spark)
    assert "SortMergeJoin" not in p, f"{name}: SortMergeJoin in plan"
    assert "CartesianProduct" not in p, f"{name}: CartesianProduct in plan"


# queries whose builder returns a session-memo frame (``memo_frame``)
SESSION_MEMO_RESULTS = {"warnings"}


@pytest.mark.parametrize("name,fn", _registry(), ids=[n for n, _ in _registry()])
def test_plan_fingerprint_deterministic(name, fn, spark):
    """Every registered query's optimized plan must fingerprint
    identically across independent builds — otherwise the
    jitter-vs-regression observability story (BENCH_DETAIL.json
    ``plans`` + tools/plan_audit.py cross-check) records "unstable"
    and that query is blind to plan regressions.  The one historical
    offender was split_assign_incremental: two count_distinct
    aggregates in one agg made RewriteDistinctAggregates assign
    Expand gids in nondeterministic order (fixed by min!=max for the
    split_conflict flag).  Three builds, not two, so a ~50%-flip
    instability cannot slip through by luck."""
    from astra_perseverance_spark.conformed.model import release_memos
    from astra_perseverance_spark.functions.planfp import (
        plan_fingerprint,
    )

    builds, fps = [], set()
    for _ in range(3):
        if name in SESSION_MEMO_RESULTS:
            release_memos(spark)  # else the memo serves the same object
        df = fn(spark, SF_SMALL)
        builds.append(df)
        # fingerprint before the next release unpersists a memo result,
        # which would change its optimized plan
        fps.add(plan_fingerprint(df))
    # three independent builds, not one object fingerprinted thrice
    # (``optimizedPlan`` is computed once per DataFrame)
    assert len({id(df) for df in builds}) == 3, name
    assert len(fps) == 1, f"{name}: nondeterministic optimized plan"


def test_fingerprint_normalizer_masks_per_session_tokens():
    """Tokens assigned per SESSION — AQE query-stage numbers,
    whole-stage-codegen ids, expression ids — must normalize away, or
    the same plan fingerprints differently in different processes
    (the cross-run flip the round-8 bench caught on
    dedup_recall_audit).  Pure string check: two prints of the same
    plan with different session numbering must hash identically."""
    import hashlib

    from astra_perseverance_spark.functions.planfp import _VOLATILE

    def norm(s):
        for pat, rep in _VOLATILE:
            s = pat.sub(rep, s)
        return hashlib.sha256(s.encode()).hexdigest()

    a = (":  +- ShuffleQueryStage 10\n"
         ":     +- *(3) HashAggregate(keys=[doc_id#123L])\n"
         "+- BroadcastQueryStage 14, isFinalPlan=true\n"
         "   +- TableCacheQueryStage 2, plan_id=55\n"
         "      +- lambda x_70#L")
    b = (":  +- ShuffleQueryStage 11\n"
         ":     +- *(5) HashAggregate(keys=[doc_id#456L])\n"
         "+- BroadcastQueryStage 15, isFinalPlan=false\n"
         "   +- TableCacheQueryStage 9, plan_id=99\n"
         "      +- lambda x_12#L")
    assert norm(a) == norm(b)
    # structurally different plans must still differ
    assert norm(a) != norm(a.replace("HashAggregate", "SortAggregate"))


def test_plan_audit_doc_matches_registry():
    """docs/PLAN_AUDIT.md must cover exactly the live registry — a
    registered query missing from the audit doc means the doc was not
    regenerated with the change that added it (r4 staleness gate)."""
    import os
    import re

    from astra_perseverance_spark.queries import QUERY_REGISTRY

    doc = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "docs", "PLAN_AUDIT.md")
    with open(doc) as fh:
        text = fh.read()
    audited = set(re.findall(r"^\| (\w+) \| \d", text, re.M))
    assert audited == set(QUERY_REGISTRY), (
        f"missing from audit: {sorted(set(QUERY_REGISTRY) - audited)}; "
        f"stale rows: {sorted(audited - set(QUERY_REGISTRY))} — "
        "re-run tools/plan_audit.py")


def test_bnlj_only_for_declared_baselines(spark):
    """BroadcastNestedLoopJoin is allowed only where it is the
    documented design: 1-row totals crossJoins and the brute-force
    ANN recall baselines."""
    allowed = {
        # 1-row totals crossJoin (ratio-to-total / grand-total rows)
        "workload_reads", "workload_writes", "workload_summary",
        "workload_rw_outer", "summary_long", "summary_json", "warnings",
        "data_size", "proxyhistograms_ms",
        # brute-force |queries|-wide baseline / its consumers, and the
        # bounded centroid-broadcast crossJoins of the IVF builds
        "embedding_topk", "ann_recall_audit", "ann_ivf",
        "ann_ivf_kmeans", "ann_recall_ivf_kmeans",
        "embedding_label_probe", "ann_incremental", "ann_incremental_pq",
        "ann_quantized_recall", "ann_ivf_pq", "ann_recall_ivf_pq",
        # semdedup and cluster_purity reuse the ann_ivf_kmeans
        # centroid-broadcast build
        "semdedup", "cluster_purity",
        # index-health audits: the bounded centroid-broadcast
        # affinity pass (ann) plus 1-row stat crossJoins (both)
        "ann_index_health", "postings_health",
        # 1-row n_docs / Σweights crossJoin
        "tfidf_top_terms", "source_mix",
        # 1-row flags × 1-row dups crossJoin (six scalar checks)
        "corpus_validate",
        # 1-row global-stats crossJoin (totals + percentile picks)
        "user_skew_audit",
    }
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    offenders = []
    for name, fn in QUERY_REGISTRY.items():
        if name in allowed:
            continue
        if "BroadcastNestedLoopJoin" in _plan(name, fn, spark):
            offenders.append(name)
    assert not offenders, f"undeclared BNLJ in: {offenders}"
