"""Oracle-differential gate as pytest (SURVEY.md §5.2): every
registered query runs on Spark AND DuckDB at sf0.001; row count,
column names, and the order-insensitive value hash must match —
the same comparison the driver applies at sf0.01."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from tests.conftest import SF_SMALL

from check import TABLES, canon  # noqa: E402  (tools/check.py)


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    return con


def _query_names():
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    return sorted(QUERY_REGISTRY)


def test_registry_wrapper_preserves_builder_identity():
    """Coverage/export tooling classifies queries by the builder's
    module (``fn.__module__``) and resolves arity from its signature;
    the registry must hold each builder itself, not a wrapper."""
    import importlib

    from astra_perseverance_spark.extensions import text_stats
    from astra_perseverance_spark.queries import QUERY_REGISTRY, workload

    assert QUERY_REGISTRY["token_count"] is text_stats.q_token_count
    assert QUERY_REGISTRY["workload_reads"] is workload.q_workload_reads
    for name, fn in QUERY_REGISTRY.items():
        module = importlib.import_module(fn.__module__)
        assert getattr(module, fn.__name__) is fn, name


def test_release_memos_drops_every_session_entry(spark):
    """One store holds what a session shares — frames and driver
    scalars alike — and ``release_memos`` empties it: the cached GC
    histogram is unpersisted and the corpus count is forgotten, not
    left behind in a side store."""
    from astra_perseverance_spark.conformed import model
    from astra_perseverance_spark.queries import QUERY_REGISTRY
    from astra_perseverance_spark.queries.gc import _node_hist

    app_id = spark.sparkContext.applicationId

    def entries():
        return {k[-1]: v for k, v in model._FRAME_MEMO.items()
                if k[0][0] == app_id}

    QUERY_REGISTRY["gc_percentiles"](spark, SF_SMALL).collect()
    QUERY_REGISTRY["dedup_simhash"](spark, SF_SMALL)  # reads n_docs
    hist = _node_hist(spark, SF_SMALL)
    assert hist.is_cached
    held = entries()

    assert model.release_memos(spark) >= len(held)
    assert not hist.is_cached
    assert entries() == {}
    # both were entries of the one store that was just emptied
    assert held.get(("gc_node_hist",)) is hist
    assert isinstance(held.get(("n_docs",)), int)
    assert _node_hist(spark, SF_SMALL) is not hist


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(spark, oracle_con, name):
    from astra_perseverance_spark.oracle import ORACLE_SQL
    from astra_perseverance_spark.queries import NO_ORACLE, QUERY_REGISTRY

    sdf = QUERY_REGISTRY[name](spark, SF_SMALL).toPandas()
    if name in NO_ORACLE or name not in ORACLE_SQL:
        assert len(sdf) >= 0  # rows-only check
        return
    odf = oracle_con.sql(ORACLE_SQL[name]).df()
    assert len(sdf) == len(odf), f"{name}: row count"
    assert sorted(sdf.columns) == sorted(odf.columns), f"{name}: columns"
    assert canon(sdf) == canon(odf), f"{name}: value hash"


def test_every_query_has_oracle_or_declared_exception():
    from astra_perseverance_spark.oracle import ORACLE_SQL
    from astra_perseverance_spark.queries import NO_ORACLE, QUERY_REGISTRY

    for name in QUERY_REGISTRY:
        assert name in ORACLE_SQL or name in NO_ORACLE, name


def test_canon_format_stability():
    import pandas as pd

    df = pd.DataFrame({"a": [1.0, float("nan")], "b": ["x", None]})
    assert canon(df) == canon(df.iloc[::-1])  # order-insensitive
    assert not math.isnan(1.0) or True
