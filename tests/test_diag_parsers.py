"""Parser unit tests over the committed fixture diag tree
(SURVEY.md §5.2): every edge case the reference handles has an
assertion here, with the explore.py citation on the fixture side
(tests/fixtures/gen_diag.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import FIXTURE_DIAG


@pytest.fixture(scope="module")
def model(spark):
    from astra_perseverance_spark.sources.diag import load_model_from_diag

    return load_model_from_diag(spark, FIXTURE_DIAG)


def _rows(df, *order):
    return [r.asDict() for r in df.orderBy(*order).collect()]


class TestNodeDiscovery:
    def test_all_naming_styles_resolve(self, model):
        """IP dir, ``_``/``-`` separated dirs (explore.py:606-609) and
        hostname-only dir via gossip (explore.py:251-263)."""
        nodes = {r["node"] for r in model.node_info.collect()}
        assert nodes == {"10.1.0.1", "10_1_0_2", "10-2-0-1", "nodeh4"}

    def test_status_fields(self, model):
        r = {x["node"]: x for x in model.node_info.collect()}
        assert r["10.1.0.1"]["dc"] == "dc1"
        assert r["10.1.0.1"]["rack"] == "rack1"
        assert r["10.1.0.1"]["load_str"] == "101.25 KiB"
        assert r["10.1.0.1"]["tokens"] == 16
        assert r["nodeh4"]["dc"] == "dc2"

    def test_uptime_from_info(self, model):
        r = {x["node"]: x["uptime_sec"] for x in model.node_info.collect()}
        assert r == {"10.1.0.1": 86400, "10_1_0_2": 172800,
                     "10-2-0-1": 43200, "nodeh4": 86400}

    def test_gossip_workload_payload(self, model):
        """DSE JSON payload (explore.py:692-706): workload + graph
        suffix + dse_version; non-DSE nodes fall back to OSS +
        version file (explore.py:707-711)."""
        r = {x["node"]: x for x in model.node_info.collect()}
        assert r["nodeh4"]["workload"] == "Search + Graph"
        assert r["nodeh4"]["version"] == "6.8.25"
        assert r["10.1.0.1"]["workload"] == "OSS Cassandra"
        assert r["10.1.0.1"]["version"] == "4.0.7"


class TestCfstats:
    def test_tablestats_fallback(self, model):
        """Node 10_1_0_2 ships ``tablestats`` only (explore.py:900-903)."""
        n = model.cfstats_metric.filter(F.col("node") == "10_1_0_2").count()
        assert n > 30

    def test_legacy_column_family_label(self, model):
        """Node 10-2-0-1 uses ``Column Family:`` (explore.py:929-931)."""
        rows = model.cfstats_metric.filter(
            (F.col("node") == "10-2-0-1") & (F.col("tbl") == "orders")
            & (F.col("metric") == "local_read_count")
        ).collect()
        assert len(rows) == 1 and rows[0]["value"] == 1100.0  # 100*(11+0)

    def test_table_index_label(self, model):
        """``Table (index):`` sub-blocks keep the qualified name
        (explore.py:926-928)."""
        rows = model.cfstats_metric.filter(
            F.col("tbl") == "orders.orders_by_user"
        ).collect()
        assert {r["node"] for r in rows} == {"10.1.0.1", "10_1_0_2", "10-2-0-1", "nodeh4"}

    def test_latency_ms_stripped(self, model):
        rows = model.cfstats_metric.filter(
            (F.col("node") == "10.1.0.1") & (F.col("tbl") == "users")
            & (F.col("metric") == "local_read_latency_ms")
        ).collect()
        assert rows[0]["value"] == 11.5

    def test_preamble_metric_without_keyspace(self, model):
        rows = model.cfstats_metric.filter(
            F.col("metric") == "total_number_of_tables"
        ).collect()
        assert all(r["ks"] == "" and r["tbl"] == "" for r in rows)
        assert all(r["value"] == 47.0 for r in rows)


class TestSchema:
    def test_keyspace_rf(self, model):
        """NTS per-DC RF + SimpleStrategy fan-out (explore.py:744-785);
        LocalStrategy keyspaces carry no RF rows (fallback → 1)."""
        rf = {(r["dc"], r["ks"]): r["rf"] for r in model.keyspace_rf.collect()}
        assert rf == {("dc1", "shop"): 3, ("dc2", "shop"): 2,
                      ("dc1", "media"): 2, ("dc2", "media"): 2}

    def test_schema_objects(self, model):
        objs = {(r["ks"], r["name"]): r for r in model.schema_object.collect()}
        assert objs[("shop", "orders")]["obj_type"] == "Table"
        assert objs[("shop", "orders_by_user")]["obj_type"] == "Index"
        assert objs[("shop", "orders_by_user")]["src_tbl"] == "orders"
        assert objs[("shop", "orders_status_sai")]["obj_type"] == "Storage-Attached Index"
        assert objs[("shop", "orders_by_status")]["obj_type"] == "Materialized Views"
        assert objs[("shop", "orders_by_status")]["src_tbl"] == "orders"
        assert objs[("shop", "address")]["obj_type"] == "Type"
        assert objs[("shop", "avg_state")]["obj_type"] == "UDF"
        assert objs[("shop", "average")]["obj_type"] == "UDA"

    def test_schema_columns_kinds(self, model):
        cols = {(r["ks"], r["tbl"], r["col"]): r for r in model.schema_column.collect()}
        assert cols[("shop", "orders", "order_id")]["kind"] == "partition_key"
        assert cols[("shop", "orders", "ts")]["kind"] == "clustering"
        assert cols[("shop", "orders", "status")]["kind"] == "regular"
        assert cols[("shop", "users", "user_id")]["kind"] == "partition_key"  # inline PK
        assert cols[("shop", "orders", "amount")]["cql_type"] == "decimal"
        # TYPE bodies contribute columns too (explore.py:856-874)
        assert ("shop", "address", "street") in cols


class TestLogs:
    def test_zip_log_parsed(self, model):
        """nodeh4's system.log is zip-compressed (explore.py:311-316)."""
        assert model.gc_event.filter(F.col("node") == "nodeh4").count() == 6

    def test_rotated_logs_union(self, model):
        """system.log + system.log.1 both scanned (explore.py:1043-1046)."""
        assert model.gc_event.filter(F.col("node") == "10.1.0.1").count() == 12

    def test_additional_logs_tree(self, model):
        """AdditionalLogs/<node>/var/log/cassandra is unioned in
        (explore.py:1048-1066): 6 from nodes/ + 6 from the side tree."""
        assert model.gc_event.filter(F.col("node") == "10-2-0-1").count() == 12

    def test_gc_minute_truncation(self, model):
        ts = model.gc_event.filter(F.col("node") == "10_1_0_2").select("ts").collect()
        assert all(t["ts"].second == 0 for t in ts)

    def test_tombstone_variants(self, model):
        """Both 'live rows and' and 'live and' phrasings parse
        (explore.py:344-348)."""
        rows = model.tombstone_event.filter(F.col("node") == "10_1_0_2").collect()
        got = {(r["ks"], r["tbl"], r["live_rows"], r["tombstones"]) for r in rows}
        assert ("shop", "orders", 42, 1400) in got
        assert ("shop", "users", 12, 800) in got


class TestProxyhistograms:
    def test_missing_file_omits_node(self, model):
        """10-2-0-1 has no proxyhistograms (explore.py:1494-1496)."""
        nodes = {r["node"] for r in model.proxyhistogram.select("node").distinct().collect()}
        assert "10-2-0-1" not in nodes and len(nodes) == 3

    def test_missing_percentile_row(self, model):
        """10_1_0_2 lacks its 98% row; Q6 coalesces it to 0.0
        (explore.py:1507-1509)."""
        pcts = {r["pct"] for r in
                model.proxyhistogram.filter(F.col("node") == "10_1_0_2").collect()}
        assert "98%" not in pcts and "99%" in pcts


class TestQueriesOverDiag:
    def test_workload_reads_rf_normalization(self, spark):
        """Hand-computed: shop.orders reads = (100+200)/3 + (1100+1200)/2
        = 1250 (J2 per-DC RF, explore.py:962-966)."""
        from astra_perseverance_spark.queries import QUERY_REGISTRY

        rows = {r["tbl"]: r for r in
                QUERY_REGISTRY["workload_reads"](spark, FIXTURE_DIAG).collect()}
        assert rows["orders"]["read_requests"] == pytest.approx(1250.0)
        # media per-DC rf = 2 → (100+200)/2 + (1100+1200)/2 = 1300
        assert rows["assets"]["read_requests"] == pytest.approx(1300.0)

    def test_every_registered_query_runs(self, spark):
        from astra_perseverance_spark.queries import QUERY_REGISTRY

        skip = {  # corpus queries read documents/embeddings parquet,
            # which a diag tree does not carry
            n for n, fn in QUERY_REGISTRY.items()
            if fn.__module__.startswith(("astra_perseverance_spark.extensions",
                                         "astra_perseverance_spark.streaming"
                                         ".doc_stream"))
        }
        for name, fn in QUERY_REGISTRY.items():
            if name in skip:
                continue
            df = fn(spark, FIXTURE_DIAG)
            assert df.count() >= 0, name


class TestCassandraConnectorSource:
    """The connector jar is not in this container, so these verify
    plan construction — the reader format/options and the conformed
    column contracts — without a live cluster."""

    def test_reader_uses_connector_format(self, spark):
        from astra_perseverance_spark.sources.cassandra import (
            CASSANDRA_FORMAT,
            cassandra_table,
        )

        try:
            cassandra_table(spark, "system_schema", "keyspaces")
        except Exception as e:  # noqa: BLE001 — expected: jar absent
            assert "org.apache.spark.sql.cassandra" in str(e) or \
                   "Failed to find" in str(e) or "DATA_SOURCE" in str(e)
        assert CASSANDRA_FORMAT == "org.apache.spark.sql.cassandra"

    def test_live_builders_declare_conformed_columns(self):
        """Column contracts must match conformed/model.py's dims so
        Q15-Q17 run unchanged on the live path."""
        import inspect

        from astra_perseverance_spark.sources import cassandra as cs

        src = inspect.getsource(cs)
        # keyspace_rf(dc, ks, rf)
        assert '"dc", "ks", "rf"' in src
        # schema_column(ks, tbl, col, cql_type, kind)
        for col in ("ks", "tbl", "col", "cql_type", "kind"):
            assert f'"{col}"' in src
        # schema_object obj_type vocabulary
        for t in ("Secondary Indexes", "Storage-Attached Indexes",
                  "Materialized Views", "Functions", "Aggregates"):
            assert t in src


def _copy_fixture(tmp_path, name="diag"):
    import shutil

    dst = str(tmp_path / name)
    shutil.copytree(FIXTURE_DIAG, dst)
    return dst


def _file_scans(jvm, plan, via=None, out=None):
    """(cache, paths) for every file scan in a physical plan: ``cache``
    identifies the cached relation the scan sits under (None when the
    plan reads the files directly)."""
    out = [] if out is None else out
    name = plan.getClass().getSimpleName()
    if name == "FileSourceScanExec":
        paths = plan.relation().location().rootPaths()
        out.append((via, [paths.apply(i).toString() for i in range(paths.size())]))
        return out
    if name == "InMemoryTableScanExec":
        rel = plan.relation()
        kids = [rel.cachedPlan()]
        via = jvm.System.identityHashCode(rel.cacheBuilder())
    elif name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    else:
        seq = plan.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    for k in kids:
        _file_scans(jvm, k, via, out)
    return out


class TestOneRead:
    """Each input of a diag tree is read once: building the model runs
    no job, and the conformed tables share one cached scan of the
    small files and one of the logs."""

    def test_load_runs_no_job(self, spark, tmp_path):
        from astra_perseverance_spark.sources.diag import load_model_from_diag

        root = _copy_fixture(tmp_path)
        sc = spark.sparkContext
        sc.setJobGroup("diag-load-no-job", "load_model_from_diag")
        try:
            load_model_from_diag(spark, root)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(sc.statusTracker().getJobIdsForGroup("diag-load-no-job")) == []

    def test_tables_share_one_cached_scan_per_input(self, spark, tmp_path):
        from astra_perseverance_spark.sources.diag import load_model_from_diag

        m = load_model_from_diag(spark, _copy_fixture(tmp_path))
        scans = []
        for t in ("node_info", "keyspace_rf", "schema_object", "schema_column",
                  "cfstats_metric", "gc_event", "tombstone_event", "proxyhistogram"):
            rel = getattr(m, t)._jdf.queryExecution().optimizedPlan()
            assert rel.getClass().getSimpleName() == "InMemoryRelation", t
            scans += _file_scans(spark._jvm, rel.cachedPlan())
        small = {via for via, paths in scans
                 if any("/nodetool/" in p or "/driver/" in p for p in paths)}
        logs = {via for via, paths in scans if any("/system" in p for p in paths)}
        assert len(small) == 1 and None not in small, scans
        assert len(logs) == 1 and None not in logs, scans


class TestDiagRobustness:
    """Real-world diag trees that used to poison or silently empty the
    parse, each built by doctoring its own copy of the checked-in
    fixture and parsed by a fresh load, so no frame cached from
    another tree can answer."""

    def test_nan_latency_does_not_poison_sums(self, spark, tmp_path, model):
        """nodetool prints 'Local read latency: NaN ms' for idle
        tables; try_cast gives double NaN (not null), and one NaN row
        used to turn the per-table SUM into NaN — every threshold
        comparison downstream silently false.

        The same copy carries a node dir that only a gossip endpoint
        resolves, to an IP that status does not list: that IP is added
        to missing_node, and every other table equals the intact
        fixture's."""
        import dataclasses
        import shutil

        from astra_perseverance_spark.sources.diag import load_model_from_diag

        root = _copy_fixture(tmp_path)
        cf = f"{root}/nodes/10.1.0.1/nodetool/cfstats"
        with open(cf, "a") as fh:
            fh.write("\nKeyspace : shop\n\t\tTable: orders\n"
                     "\t\tLocal read latency: NaN ms\n")
        ghost = f"{root}/nodes/ghosth5"
        shutil.copytree(f"{root}/nodes/nodeh4", ghost)
        with open(f"{ghost}/nodetool/gossipinfo", "a") as fh:
            fh.write("ghosth5/10.3.0.7\n  DC:8:dc3\n")
        m = load_model_from_diag(spark, root)
        vals = {
            (r["ks"], r["tbl"], r["metric"]): r["value"]
            for r in m.cfstats_metric.collect()
        }
        import math

        assert vals, "fixture parsed to nothing"
        assert not any(math.isnan(v) for v in vals.values()), vals

        assert {r["ip"] for r in m.missing_node.collect()} == {
            "10.9.9.9", "10.3.0.7"}
        for f in dataclasses.fields(m):
            if f.name != "missing_node":
                got, want = (sorted(map(repr, getattr(x, f.name).collect()))
                             for x in (m, model))
                assert got == want, f.name

    def test_empty_additional_logs_tree_keeps_node_logs(self, spark,
                                                        tmp_path):
        """An AdditionalLogs directory that exists but matches no log
        files used to raise PATH_NOT_FOUND for the WHOLE multi-glob
        read — every nodes/*/logs line silently dropped, zero GC
        events, no error."""
        import os
        import shutil

        from astra_perseverance_spark.sources.diag import load_model_from_diag

        intact = load_model_from_diag(spark, _copy_fixture(tmp_path, "intact"))
        root = _copy_fixture(tmp_path)
        # replace the populated AdditionalLogs with an empty shell
        shutil.rmtree(os.path.join(root, "AdditionalLogs"))
        os.makedirs(os.path.join(root, "AdditionalLogs", "nodeh4",
                                 "var", "log", "cassandra"))
        # the side tree held 6 of 10-2-0-1's 12 GC events
        # (test_additional_logs_tree); every node-log event must survive
        n_after = load_model_from_diag(spark, root).gc_event.count()
        assert n_after == intact.gc_event.count() - 6, \
            "node logs vanished with the empty tree"

    def test_if_not_exists_ddl_parses_real_names(self, spark, tmp_path):
        """CREATE ... IF NOT EXISTS used to yield the literal token
        'IF' as the object/keyspace name for every statement kind
        except AGGREGATE."""
        from astra_perseverance_spark.sources.diag import load_model_from_diag

        root = _copy_fixture(tmp_path)
        # only the FIRST node's dump (min path) is parsed
        schema = f"{root}/nodes/10-2-0-1/driver/schema"
        with open(schema, "a") as fh:
            fh.write(
                "\nCREATE KEYSPACE IF NOT EXISTS lazyks WITH replication"
                " = {'class': 'SimpleStrategy', 'replication_factor':"
                " '2'}  AND durable_writes = true;\n\n"
                "CREATE TABLE IF NOT EXISTS lazyks.lazytbl (\n"
                "    id int PRIMARY KEY,\n"
                "    val text\n"
                ");\n")
        m = load_model_from_diag(spark, root)
        names = {(r["ks"], r["name"]) for r in m.schema_object.collect()}
        assert ("lazyks", "lazytbl") in names, sorted(names)
        assert not any(ks == "IF" or n == "IF" for ks, n in names)
        rf = {(r["ks"], r["dc"]): r["rf"]
              for r in m.keyspace_rf.collect()}
        assert all(k[0] != "IF" for k in rf)
        assert any(k[0] == "lazyks" and v == 2 for k, v in rf.items())
        cols = {(r["ks"], r["tbl"], r["col"])
                for r in m.schema_column.collect()}
        assert ("lazyks", "lazytbl", "val") in cols
