"""The declared-bounded global-window contract (r12 verdict #6).

Three report-grain frames deliberately feed single-partition windows;
each used to carry its cardinality argument as a docstring promise.
``functions.bounded.bounded_global_frame`` makes the promise a
declaration: identity by default (plans — and the recorded
fingerprints — stay bit-identical), an eager count-and-assert under
``SPARK_GRAFT_CHECK_BOUNDS=1``.  These tests run the three declaring
queries with the check armed, so an edit that un-bounds one of the
frames fails here instead of shipping a corpus-sized single-task
sort."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

BOUNDED_QUERIES = {
    # query -> the substring its declaration's `why` must carry
    "postings_health": "df histogram",
    "ann_index_health": "occupancy_stats",
    "vocab_growth": "vocab_growth bucket frame",
}


@pytest.mark.parametrize("name", sorted(BOUNDED_QUERIES))
def test_declared_bounds_hold(spark, monkeypatch, name):
    from astra_perseverance_spark.functions import bounded
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    monkeypatch.setenv(bounded.CHECK_ENV, "1")
    before = len(bounded.DECLARED)
    # every registry call builds the plan afresh, so the build runs the
    # declarations (and, armed, the counts) whatever ran before; the
    # collect proves the query itself still works with the check on
    rows = QUERY_REGISTRY[name](spark, SF_SMALL).collect()
    assert rows, name
    declared = bounded.DECLARED[before:]
    why = BOUNDED_QUERIES[name]
    assert any(why in w for w, _ in declared), (
        f"{name} built without declaring its bounded global window "
        f"({why}); declarations seen: {declared}"
    )
    assert all(b >= 1 for _, b in declared)


def test_violated_bound_fails_loudly(spark, monkeypatch):
    from pyspark.sql import functions as F

    from astra_perseverance_spark.functions import bounded
    from astra_perseverance_spark.functions.bounded import (
        bounded_global_frame,
    )

    df = spark.range(100).select(F.col("id"))
    # default: identity, no action, no failure — the declaration is
    # free in production plans
    monkeypatch.delenv(bounded.CHECK_ENV, raising=False)
    assert bounded_global_frame(df, 10, "test frame") is df
    # armed: the violated bound fails eagerly at plan build
    monkeypatch.setenv(bounded.CHECK_ENV, "1")
    with pytest.raises(AssertionError, match="test frame"):
        bounded_global_frame(df, 10, "test frame")
    # armed + satisfied: identity again
    assert bounded_global_frame(df, 100, "test frame ok") is df
    # callable bounds evaluate only under the check
    assert bounded_global_frame(df, lambda: 128, "callable ok") is df
