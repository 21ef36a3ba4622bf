"""Bucketed-warehouse co-location: the join the layout exists for must
compile WITHOUT an Exchange (and without a per-task Sort, since the
buckets are written sorted)."""

from __future__ import annotations

import contextlib
import io
import os

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    from astra_perseverance_spark.sinks.warehouse import write_bucketed_corpus

    loc = tmp_path_factory.mktemp("bucketed_wh")
    tables = write_bucketed_corpus(spark, SF_SMALL, "bucketdemo", str(loc))
    yield tables
    for t in tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql("DROP DATABASE IF EXISTS bucketdemo")


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_colocated_join_has_no_exchange(spark, warehouse):
    from astra_perseverance_spark.sinks.warehouse import colocated_doc_join

    # force the join strategy to depend on the layout, not on the
    # small fixture size (a broadcast would hide the bucketing)
    sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(colocated_doc_join(sess, "bucketdemo"))
    finally:
        sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "Exchange" not in plan, plan
    assert "SelectedBucketsCount" in plan  # scans are bucket-pruned reads


def test_colocated_join_values_match_plain_join(spark, warehouse):
    from pyspark.sql import functions as F

    from astra_perseverance_spark.sinks.warehouse import colocated_doc_join

    got = colocated_doc_join(spark, "bucketdemo")
    n = got.count()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    assert n == docs.count()  # digest side is 1:1 with documents
    s = got.agg(F.sum("n_ws_tokens")).collect()[0][0]
    want = docs.select(
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("w")
    ).agg(F.sum("w")).collect()[0][0]
    assert s == want


def test_register_warehouse_reattaches_bucketed_tables(spark, warehouse):
    """Cross-application story (round 11, symmetric with the index
    store): a fresh application re-registers the on-disk warehouse as
    external tables with the same bucketing DDL — the co-located join
    must still plan with NO Exchange and the values must match the
    managed originals.  Registered here under a second database over
    the same files, which is exactly what a fresh in-memory catalog
    would do."""
    from astra_perseverance_spark.sinks.warehouse import (
        colocated_doc_join,
        register_warehouse,
    )

    loc = spark.catalog.getDatabase("bucketdemo").locationUri
    path = loc[5:] if loc.startswith("file:") else loc
    names = register_warehouse(spark, "bucketdemo_reg", path)
    try:
        assert set(names) == {"documents", "doc_digests", "embeddings"}
        sess = spark.newSession()
        sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(colocated_doc_join(sess, "bucketdemo_reg"))
        finally:
            sess.conf.set("spark.sql.autoBroadcastJoinThreshold",
                          "10485760")
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount" in plan
        a = sorted(map(tuple,
                       spark.table("bucketdemo.doc_digests").collect()))
        b = sorted(map(tuple,
                       spark.table("bucketdemo_reg.doc_digests")
                       .collect()))
        assert a == b
    finally:
        # external tables: dropping them leaves the managed originals'
        # files untouched
        for t in names:
            spark.sql(f"DROP TABLE IF EXISTS bucketdemo_reg.{t}")
        spark.sql("DROP DATABASE IF EXISTS bucketdemo_reg")


def test_register_rejects_wrong_bucket_count(spark, warehouse):
    """A declared bucket count below what the data files' `_NNNNN`
    ids prove is a hard error: registering with the wrong count
    would not fail any query — it would silently mis-cluster every
    'co-located' join on the table."""
    import pytest as _pytest

    from astra_perseverance_spark.sinks.warehouse import (
        register_external_bucketed,
    )

    loc = spark.catalog.getDatabase("bucketdemo").locationUri
    path = loc[5:] if loc.startswith("file:") else loc
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdemo_bad")
    try:
        with _pytest.raises(ValueError, match="bucket"):
            register_external_bucketed(
                spark, "bucketdemo_bad", "documents",
                os.path.join(path, "documents"),
                "doc_id", ("doc_id",), 4)
        assert not spark.catalog.tableExists("bucketdemo_bad.documents")
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketdemo_bad.documents")
        spark.sql("DROP DATABASE IF EXISTS bucketdemo_bad")


def test_registered_query_join_exchange_free_when_bucketed(
        spark, warehouse, monkeypatch):
    """With SPARK_GRAFT_BUCKETED_DB set, the registered
    ``doc_digest_join`` query reads both sides from doc_id-bucketed
    tables and its join compiles with NO Exchange — the only Exchange
    in the whole plan is the final ORDER BY's range partitioning."""
    import re

    from astra_perseverance_spark.extensions.corpus import BUCKETED_DB_ENV
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    monkeypatch.setenv(BUCKETED_DB_ENV, "bucketdemo")
    sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    plan = _plan(QUERY_REGISTRY["doc_digest_join"](sess, SF_SMALL))
    exchanges = re.findall(r"\(\d+\) Exchange\n(.*?)Arguments: (\w+)",
                           plan, re.S)
    kinds = [k for _, k in exchanges]
    assert kinds == ["rangepartitioning"], plan
    assert "SelectedBucketsCount" in plan  # both scans are bucket reads


def test_doc_digest_join_values_match_between_modes(
        spark, warehouse, monkeypatch):
    """The bucketed path returns the same rows as the inline path (the
    digest table was written with the identical md5 expression)."""
    from astra_perseverance_spark.extensions.corpus import BUCKETED_DB_ENV
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    monkeypatch.delenv(BUCKETED_DB_ENV, raising=False)
    plain = QUERY_REGISTRY["doc_digest_join"](spark, SF_SMALL).collect()
    monkeypatch.setenv(BUCKETED_DB_ENV, "bucketdemo")
    bucketed = QUERY_REGISTRY["doc_digest_join"](spark, SF_SMALL).collect()
    assert plain == bucketed


def test_corpus_curate_payload_never_shuffles_when_bucketed(
        spark, warehouse, monkeypatch):
    """With SPARK_GRAFT_BUCKETED_DB set, the heaviest ledger query
    (``corpus_curate``, five doc_id joins over persisted artifacts)
    reads stats and digests from doc_id-bucketed tables, and the
    corpus PAYLOAD never crosses a shuffle: no Exchange input may
    contain the raw ``text`` column.  Remaining exchanges carry only
    doc-grain derived columns (digests, shingle postings, pair keys)
    whose bytes-per-row are independent of document size — the
    property that matters at 100 TB."""
    import re

    from astra_perseverance_spark.conformed.model import release_memos
    from astra_perseverance_spark.extensions.corpus import BUCKETED_DB_ENV
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    monkeypatch.setenv(BUCKETED_DB_ENV, "bucketdemo")
    # hermetic: earlier tests memoize corpus frames in NON-bucketed
    # mode (raw-parquet repartitions carrying text); explain prints
    # those cached subtrees, which would fail the no-text-exchange
    # assertion for shuffles this plan wouldn't re-execute in a real
    # bucketed deployment.  Release so every input rebuilds under the
    # flag — the fresh-deployment shape the invariant is about.
    release_memos(spark)
    sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(QUERY_REGISTRY["corpus_curate"](sess, SF_SMALL))
    finally:
        release_memos(spark)  # drop frames memoized under the flag
    # both base tables come in through bucketed scans
    assert plan.count("SelectedBucketsCount") >= 2, plan
    exchange_inputs = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert exchange_inputs  # derived-artifact shuffles do remain
    offenders = [i for i in exchange_inputs if "text#" in i]
    assert not offenders, offenders


def test_corpus_curate_values_match_between_modes(
        spark, warehouse, monkeypatch):
    """The bucketed path returns the same ledger as the inline path
    (digest table written with the identical md5 expression)."""
    from astra_perseverance_spark.extensions.corpus import BUCKETED_DB_ENV
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    monkeypatch.delenv(BUCKETED_DB_ENV, raising=False)
    plain = QUERY_REGISTRY["corpus_curate"](spark, SF_SMALL).collect()
    monkeypatch.setenv(BUCKETED_DB_ENV, "bucketdemo")
    bucketed = QUERY_REGISTRY["corpus_curate"](spark, SF_SMALL).collect()
    assert plain == bucketed and plain


def test_bucket_files_on_disk(spark, warehouse):
    """The layout is real: each table directory holds bucketed part
    files (bucket id encoded in the filename)."""
    import glob
    import os

    loc = spark.sql(
        "DESCRIBE TABLE EXTENDED bucketdemo.documents"
    ).filter("col_name = 'Location'").collect()[0]["data_type"]
    files = glob.glob(os.path.join(loc.replace("file:", ""), "*.parquet"))
    assert files
    assert all("_0000" in os.path.basename(f) or "bucket" in f
               for f in files)


@pytest.fixture(scope="module")
def events_warehouse(spark, tmp_path_factory):
    from astra_perseverance_spark.sinks.warehouse import write_bucketed_events

    loc = tmp_path_factory.mktemp("bucketed_ev")
    table = write_bucketed_events(spark, SF_SMALL, "eventdemo", str(loc))
    yield table
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql("DROP DATABASE IF EXISTS eventdemo")


def test_sessionize_exchange_free_when_bucketed(
        spark, events_warehouse, monkeypatch):
    """With SPARK_GRAFT_BUCKETED_DB naming an events warehouse, the
    ``events_sessionize`` scan is already hash-clustered on user_id:
    no Exchange before the window passes or the session aggregate —
    the only Exchange in the plan is the final ORDER BY's range
    partitioning."""
    import re

    from astra_perseverance_spark.extensions.corpus import BUCKETED_DB_ENV
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    monkeypatch.setenv(BUCKETED_DB_ENV, "eventdemo")
    sess = spark.newSession()
    plan = _plan(QUERY_REGISTRY["events_sessionize"](sess, SF_SMALL))
    exchanges = re.findall(r"\(\d+\) Exchange\n(.*?)Arguments: (\w+)",
                           plan, re.S)
    kinds = [k for _, k in exchanges]
    assert kinds == ["rangepartitioning"], plan
    assert "Scan parquet spark_catalog.eventdemo.events" in plan, plan
    assert "Bucketed: true" in plan, plan


def test_funnel_exchange_free_when_bucketed(
        spark, events_warehouse, monkeypatch):
    """Same invariant for the funnel: the three whole-partition window
    aggregates and the user-grain dedup all reuse the bucketed scan's
    user_id clustering."""
    import re

    from astra_perseverance_spark.extensions.corpus import BUCKETED_DB_ENV
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    monkeypatch.setenv(BUCKETED_DB_ENV, "eventdemo")
    sess = spark.newSession()
    plan = _plan(QUERY_REGISTRY["events_funnel"](sess, SF_SMALL))
    exchanges = re.findall(r"\(\d+\) Exchange\n(.*?)Arguments: (\w+)",
                           plan, re.S)
    kinds = [k for _, k in exchanges]
    assert kinds == ["rangepartitioning"], plan


def test_events_values_match_between_modes(
        spark, events_warehouse, monkeypatch):
    """The bucketed events path returns the same rows as the raw
    parquet path for the whole family's base frame and for a
    registered query (the table was written BY _events_ns, so the ns
    conversion is identical by construction)."""
    from astra_perseverance_spark.extensions.corpus import BUCKETED_DB_ENV
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    monkeypatch.delenv(BUCKETED_DB_ENV, raising=False)
    plain = QUERY_REGISTRY["events_sessionize"](spark, SF_SMALL).collect()
    monkeypatch.setenv(BUCKETED_DB_ENV, "eventdemo")
    bucketed = QUERY_REGISTRY["events_sessionize"](spark, SF_SMALL).collect()
    assert plain == bucketed and plain


def test_events_reingest_idempotent_with_bucketed_env(
        spark, events_warehouse, monkeypatch, tmp_path):
    """Refresh-run safety (ADVICE r7): re-running write_bucketed_events
    while SPARK_GRAFT_BUCKETED_DB already points at the TARGET database
    must not plan a read of the table being overwritten (that is an
    AnalysisException) — ingest reads the raw parquet unconditionally,
    and the env var is restored afterwards."""
    import os

    from astra_perseverance_spark.extensions.corpus import BUCKETED_DB_ENV
    from astra_perseverance_spark.sinks.warehouse import (
        write_bucketed_events,
    )

    monkeypatch.setenv(BUCKETED_DB_ENV, "eventdemo")
    table = write_bucketed_events(
        spark, SF_SMALL, "eventdemo", str(tmp_path / "ignored_loc"))
    assert table == "eventdemo.events"
    assert os.environ[BUCKETED_DB_ENV] == "eventdemo"  # restored
    n = spark.table(table).count()
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert n == raw > 0


# Raw vs bucketed events: ``_events_by_user`` repartitions by user only
# in raw mode, and ``_serving_bucketed_events`` is the one predicate that
# picks the mode.


def test_events_by_user_width_contract(spark, monkeypatch):
    """C4 (r15): the whole-user window consumers read events through
    ``_events_by_user`` — a row-derived-width repartition in raw mode,
    a passthrough in bucketed mode (the warehouse zero-Exchange plans
    must stay exchange-free)."""
    from astra_perseverance_spark.extensions import corpus, timeseries
    from astra_perseverance_spark.extensions.timeseries import (
        _events_by_user,
        n_events,
    )

    # raw mode: the plan carries a user_id hash repartition at the
    # cluster_width the events row count derives
    monkeypatch.delenv(corpus.BUCKETED_DB_ENV, raising=False)
    n = n_events(spark, SF_SMALL)
    expect = corpus.cluster_width(
        spark, n, timeseries.EVENTS_MIN_ROWS, timeseries.EVENTS_TARGET_ROWS)
    df = _events_by_user(spark, SF_SMALL)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "RepartitionByExpression [user_id" in plan

    def _repart_width(frame) -> int:
        # anchored extract of the RepartitionByExpression width — a
        # substring check like ", 8" would false-pass on ", 80"
        # (ADVICE r15)
        import re

        line = frame._jdf.queryExecution().analyzed().toString(
        ).splitlines()[0]
        m = re.search(r", (\d+)$", line.rstrip())
        assert m, f"no trailing width in: {line!r}"
        return int(m.group(1))

    assert _repart_width(df) == expect
    # env override reproduces the pre-r15 defaultParallelism behavior
    monkeypatch.setenv(timeseries.EVENTS_MIN_ROWS_ENV, "1")
    par = spark.sparkContext.defaultParallelism
    assert _repart_width(_events_by_user(spark, SF_SMALL)) == min(par, n)
    monkeypatch.delenv(timeseries.EVENTS_MIN_ROWS_ENV)
    # the three switched consumers still agree with plain _sessionize
    # over the plain frame (results are partitioning-independent)
    from astra_perseverance_spark.extensions.timeseries import (
        _events_ns,
        _sessionize,
    )
    a = sorted(map(tuple, _sessionize(
        _events_ns(spark, SF_SMALL)).collect()))
    b = sorted(map(tuple, timeseries.q_events_sessionize(
        spark, SF_SMALL).collect()))
    assert a == b


def test_serving_bucketed_events_predicate(spark, monkeypatch):
    from astra_perseverance_spark.extensions import corpus, timeseries

    monkeypatch.delenv(corpus.BUCKETED_DB_ENV, raising=False)
    assert timeseries._serving_bucketed_events(spark) is False
    # db set but no events table -> still False (corpus-only warehouse)
    monkeypatch.setenv(corpus.BUCKETED_DB_ENV, "no_such_db_r16")
    assert timeseries._serving_bucketed_events(spark) is False
