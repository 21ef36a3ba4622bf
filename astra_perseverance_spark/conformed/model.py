"""Conformed star schema + its deterministic derivation from the
driver's synthetic TPC-H-ish tables.

The engine's internal contract is the set of conformed tables from
FIXTURES.md §1 (mirroring the reference's in-memory dicts,
/root/reference/explore.py:296-998):

    node_info(node, dc, rack, load_str, tokens, uptime_sec, workload, version)
    keyspace_rf(dc, ks, rf)
    schema_object(ks, name, obj_type, src_ks, src_tbl)
    schema_column(ks, tbl, col, cql_type, kind)
    cfstats_metric(node, dc, ks, tbl, metric, value)
    gc_event(node, dc, ts, pause_ms)
    tombstone_event(node, dc, ks, tbl, live_rows, tombstones)
    proxyhistogram(node, dc, pct, read_us, write_us)

Two ways to obtain them:
1. ``sources.diag`` parses a real Cassandra diagnostic tree (the
   reference's input format) into these tables.
2. ``load_model(spark, sf_dir)`` (this module) derives them from the
   driver's synthetic parquet tables.  The derivation is mirrored
   line-for-line by DuckDB SQL in ``oracle.prelude`` so every declared
   query can be hash-checked against an independent engine.

DETERMINISM RULES (both engines must agree bitwise):
- All derived values are integers, or dyadic rationals (denominator a
  power of two) with bounded bit-span, so double-precision sums are
  exact and order-independent (FP addition is commutative; exactness
  removes the associativity hazard).
  * uptime_sec ∈ {65536·2^k} — powers of two.
  * rf ∈ {1, 2, 4}, identical across DCs → total_rf ∈ {2, 4, 8}.
- Non-dyadic divisions (/1e6, /rf_total, ratio-to-total) happen exactly
  once per output value, after exact integer/dyadic aggregation.
- floor() before any double→int conversion (Spark casts truncate,
  DuckDB casts round — floor is identical in both).
- Timestamps are compared as wall-clock strings (`yyyy-MM-dd HH:mm`),
  which round-trip identically whatever the session timezone.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared derivation expressions (mirrored in oracle/prelude.py)
# ---------------------------------------------------------------------------

PCT_LABELS = ["Min", "50%", "75%", "95%", "98%", "99%", "Max"]


def _node_id(k: Column) -> Column:
    return F.concat(F.lit("n"), k.cast("string"))


def _node_dc(k: Column) -> Column:
    return F.concat(F.lit("dc"), (F.lit(1) + k % 2).cast("string"))


def _ks_name(nk: Column, n_name: Column) -> Column:
    """Keyspace name for nation-key ``nk``; 0/1 map to system keyspaces
    so the P3 exclusion filter (explore.py:469) has real targets."""
    return (
        F.when(nk == 0, F.lit("system"))
        .when(nk == 1, F.lit("system_schema"))
        .otherwise(F.lower(n_name))
    )


def _tbl_name(i: Column) -> Column:
    return F.concat(F.lit("t"), i.cast("string"))


@dataclass(frozen=True)
class ConformedModel:
    """Bundle of the conformed DataFrames for one scale factor.

    ``missing_node`` holds IPs referenced by status/gossip that have
    no node directory (the reference's 'Missing Node Data' anti-join,
    explore.py:302-304, 683-686); None ≡ empty (synthetic trees are
    complete by construction)."""

    node_info: DataFrame
    keyspace_rf: DataFrame
    schema_object: DataFrame
    schema_column: DataFrame
    cfstats_metric: DataFrame
    gc_event: DataFrame
    tombstone_event: DataFrame
    proxyhistogram: DataFrame
    missing_node: DataFrame | None = None

    def cache(self) -> "ConformedModel":
        for df in (self.node_info, self.keyspace_rf, self.schema_object,
                   self.schema_column, self.cfstats_metric, self.gc_event,
                   self.tombstone_event, self.proxyhistogram,
                   self.missing_node):
            if df is not None:
                df.cache()
        return self

    def missing_node_or_empty(self, spark: SparkSession) -> DataFrame:
        if self.missing_node is not None:
            return self.missing_node
        return spark.createDataFrame([], "ip string")


# memo: (applicationId, sf_dir) -> model.  applicationId is stable for
# the life of a session and never reused after spark.stop(), unlike
# id(spark) (a new session can land on the same CPython id).
_MODEL_CACHE: Dict[Tuple[str, str], ConformedModel] = {}


def _session_key(spark: SparkSession, sf_dir: str) -> Tuple[str, str]:
    return (spark.sparkContext.applicationId, sf_dir)


# The session memo: every frame and driver scalar shared across queries
# (per-table workload aggs, totals, warnings, the GC histogram, corpus
# and event counts, per-dimension stats), under one key and dropped by
# one ``release_memos``.  Frames cached here are dims-or-smaller grain
# — safe to pin at any fact scale — and one query's materialization
# pays for every later consumer's subtree.
_FRAME_MEMO: Dict[tuple, object] = {}


def memo_value(spark: SparkSession, sf_dir: str, tag: tuple, build):
    """Session-scoped memo: ``build()`` once, reuse the result as is.
    Driver scalars (row counts, per-dimension stats) go here; frames go
    through ``memo_frame``, which also caches them.

    The key is (session, ``sf_dir``, warehouse mode, index mode,
    ``tag``).  Toggling ``SPARK_GRAFT_BUCKETED_DB`` /
    ``SPARK_GRAFT_INDEX_DB`` mid-session must never serve an entry
    built in the other mode (a parquet-derived artifact silently
    standing in for the persisted table, or vice versa)."""
    import os as _os

    key = (_session_key(spark, sf_dir),
           _os.environ.get("SPARK_GRAFT_BUCKETED_DB") or None,
           _os.environ.get("SPARK_GRAFT_INDEX_DB") or None, tag)
    if key not in _FRAME_MEMO:
        _FRAME_MEMO[key] = build()
    return _FRAME_MEMO[key]


def memo_frame(spark: SparkSession, sf_dir: str, tag: tuple, build) -> DataFrame:
    """``memo_value`` for a frame: ``build()`` once, ``.cache()``, reuse."""

    def cached() -> DataFrame:
        _tune_session(spark)  # extension queries enter here, not load_model
        return build().cache()

    return memo_value(spark, sf_dir, tag, cached)


def release_memos(spark: SparkSession) -> int:
    """Unpersist and forget every session-memo entry for this session
    (the conformed model cache is NOT touched).

    The memo pool deliberately shares cached subtrees across queries,
    which is right for a report run but makes per-query timings
    non-attributable — query B's number includes memory pressure from
    query A's pinned frames — and makes a later build in the same
    session skip work it would do cold.  ``bench.py`` and the tools
    and tests that time or re-check single queries call this between
    them.  Returns the number of entries dropped."""
    app_id = spark.sparkContext.applicationId
    dropped = 0
    for key in [k for k in _FRAME_MEMO if k[0][0] == app_id]:
        val = _FRAME_MEMO.pop(key)
        if isinstance(val, DataFrame):
            try:
                if val.is_cached:
                    val.unpersist(blocking=False)
            except Exception:  # noqa: BLE001 — context already stopped
                pass
        dropped += 1
    # The BPE learn state lives outside the memo pool (checkpointed
    # RDD-backed frames, not cached plans) but is the same kind of
    # shared warm artifact — drop it too, explicitly unpersisting its
    # checkpointed RDDs so the executor storage blocks are freed NOW
    # rather than at nondeterministic ContextCleaner time (late
    # import: extensions depend on this module).
    # ORDERING CONTRACT: the memo pool MUST be dropped before (or
    # with) the BPE state.  A localCheckpoint'd RDD is unrecoverable
    # once unpersisted — it has no lineage to recompute from — so any
    # memoized frame derived from the BPE frames would fail on its
    # next action if it outlived release_bpe_state.  This function is
    # the only caller of release_bpe_state and pops the memo pool
    # first, which is exactly that contract; keep it that way.
    from astra_perseverance_spark.extensions import training

    dropped += training.release_bpe_state(app_id)
    return dropped


def _n_nodes(spark: SparkSession, sf_dir: str) -> int:
    """Node count (supplier rows) — a driver-side scalar folded into the
    plans.  Memoized so builders don't re-run the count job per query."""
    return memo_value(spark, sf_dir, ("n_nodes",),
                      lambda: _read(spark, sf_dir, "supplier").count())


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # The driver-generated parquet stores TIMESTAMP(NANOS), which Spark 4
    # rejects by default; read nanos as LONG and do calendar math on
    # integers (timezone-proof: both engines see the same wall-clock
    # nanos-since-epoch integer).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _ks_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nk, ks) keyspace-name dimension from `nation` (broadcast-size)."""
    nation = _read(spark, sf_dir, "nation")
    return nation.select(
        F.col("n_nationkey").cast("long").alias("nk"),
        _ks_name(F.col("n_nationkey").cast("long"), F.col("n_name")).alias("ks"),
    )


def build_node_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node dimension from `supplier` (explore.py:296-301,674-712 analog).

    uptime_sec is a power of two (65536·2^k, ~0.76–12 days) so per-node
    TPS terms are dyadic → exact distributed sums (see module rules).
    """
    s = _read(spark, sf_dir, "supplier").select(F.col("s_suppkey").cast("long").alias("k"))
    k = F.col("k")
    return s.select(
        _node_id(k).alias("node"),
        _node_dc(k).alias("dc"),
        F.concat(F.lit("rack"), (F.lit(1) + k % 3).cast("string")).alias("rack"),
        F.concat((k % 900).cast("string"), F.lit(" GiB")).alias("load_str"),
        (F.lit(8) + F.lit(8) * (k % 4)).cast("int").alias("tokens"),
        (F.lit(65536) * F.pow(F.lit(2.0), (k % 5).cast("double")).cast("long"))
        .cast("long").alias("uptime_sec"),
        F.when(k % 4 == 2, "Search").when(k % 4 == 3, "Analytics")
        .otherwise("Cassandra").alias("workload"),
        F.when(k % 5 == 0, "3.11.11").otherwise("4.0.7").alias("version"),
    )


def build_keyspace_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dc, ks, rf) replication dim from `nation` × {dc1, dc2}.

    rf ∈ {1,2,4} (dyadic), equal across DCs.  Nation 24 is deliberately
    absent → exercises the missing-RF → 1 fallback
    (explore.py:941-943, 962-966).
    """
    ksd = _ks_dim(spark, sf_dir).filter(F.col("nk") != 24)
    dcs = spark.range(1, 3).select(F.col("id").alias("dc_i"))
    rf = (
        F.when(F.col("nk") % 3 == 0, 1)
        .when(F.col("nk") % 3 == 1, 2)
        .otherwise(4)
        .cast("int")
    )
    return ksd.crossJoin(dcs).select(
        F.concat(F.lit("dc"), F.col("dc_i").cast("string")).alias("dc"),
        F.col("ks"),
        rf.alias("rf"),
    )


def build_cfstats_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format per-node table-metric fact (explore.py:910-998).

    Grain (node, dc, ks, tbl, metric); value DOUBLE but always
    integer-valued.  Additive metrics (sizes, counts) aggregate with
    SUM, point-in-time metrics (latency, sstables, partition max) with
    MAX — both exact over integers.

    Table 't7' never receives writes and 't6' never reads, so the Q18
    full-outer workload merge has genuinely one-sided rows.
    """
    ksd = _ks_dim(spark, sf_dir)
    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").cast("long").alias("sk"),
        F.col("l_partkey").cast("long").alias("pk"),
        F.col("l_linenumber").cast("long").alias("ln"),
        F.floor("l_extendedprice").alias("ep"),
    )
    ep, ln, pk, sk = F.col("ep"), F.col("ln"), F.col("pk"), F.col("sk")
    metric = (
        F.when(ln == 1, "space_used_live")
        .when(ln == 2, "local_read_count")
        .when(ln == 3, "local_write_count")
        .when(ln == 4, "local_read_latency_ms")
        .when(ln == 5, "local_write_latency_ms")
        .when(ln == 6, "sstable_count")
        .otherwise("dropped_mutations")
    )
    value = (
        F.when(ln == 1, ep * 1024)
        .when(ln == 2, ep)
        .when(ln == 3, ep)
        .when(ln == 4, ep % 200)
        .when(ln == 5, ep % 150)
        .when(ln == 6, ep % 40)
        .otherwise((ep * 100) % 200000)
    )
    li_rows = (
        li.select(
            _node_id(sk).alias("node"),
            _node_dc(sk).alias("dc"),
            (pk % 25).alias("nk"),
            _tbl_name(pk % 8).alias("tbl"),
            metric.alias("metric"),
            value.alias("value"),
        )
        .join(F.broadcast(ksd), "nk")
        .drop("nk")
        .filter(~((F.col("metric") == "local_write_count") & (F.col("tbl") == "t7")))
        .filter(~((F.col("metric") == "local_read_count") & (F.col("tbl") == "t6")))
    )

    n_nodes = _n_nodes(spark, sf_dir)
    o = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("ok"),
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor("o_totalprice").alias("tp"),
    )
    ok, ck, tp = F.col("ok"), F.col("ck"), F.col("tp")
    nodek = ok % n_nodes
    ord_rows = (
        o.select(
            _node_id(nodek).alias("node"),
            _node_dc(nodek).alias("dc"),
            F.when(ok % 2 == 0, ck % 25).otherwise(F.lit(None).cast("long")).alias("nk"),
            F.when(ok % 2 == 0, _tbl_name(ck % 8)).otherwise(F.lit("")).alias("tbl"),
            F.when(ok % 2 == 0, "compacted_partition_max_bytes")
            .otherwise("total_number_of_tables").alias("metric"),
            F.when(ok % 2 == 0, (tp * 977) % 400000000)
            .otherwise(F.lit(100) + ok % 120).alias("value"),
        )
        .join(F.broadcast(ksd), "nk", "left")
        .select(
            "node", "dc",
            F.coalesce(F.col("ks"), F.lit("")).alias("ks"),
            "tbl", "metric", "value",
        )
    )

    rows = li_rows.select("node", "dc", "ks", "tbl", "metric", "value").unionByName(ord_rows)
    additive = F.col("metric").isin(
        "space_used_live", "local_read_count", "local_write_count", "dropped_mutations"
    )
    return rows.groupBy("node", "dc", "ks", "tbl", "metric").agg(
        F.when(additive, F.sum("value")).otherwise(F.max("value"))
        .cast("double").alias("value")
    )


def build_gc_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GC-pause fact from `events` (explore.py:317-341 analog).

    ``ts`` is minute-truncated (the reference drops seconds,
    explore.py:329), constructed from the raw wall-clock nanos integer
    so both engines agree regardless of session timezone."""
    n_nodes = _n_nodes(spark, sf_dir)
    raw = _read(spark, sf_dir, "events")
    ts_type = dict(raw.dtypes).get("ts", "")
    if ts_type in ("bigint", "long"):
        # TIMESTAMP(NANOS) parquet read as raw nanos via nanosAsLong.
        ts_min = F.expr("ts div 60000000000")
    elif ts_type == "timestamp":
        # Instant-semantics timestamp: go straight through the epoch so
        # the session timezone never enters (a cast to timestamp_ntz
        # would shift by the session offset on non-UTC sessions).
        # Pre-epoch instants: both Spark `div` and DuckDB `//`
        # truncate toward zero (verified empirically), so the minute
        # bucket agrees on either side of 1970 too.
        ts_min = F.expr("unix_micros(ts) div 60000000")
    else:
        # timestamp_ntz parquet: whole wall-clock minutes since an NTZ
        # origin; no instant conversion happens, so this is tz-proof
        # (matches DuckDB's epoch_ns(ts)//60e9).
        ts_min = F.expr(
            "timestampdiff(MINUTE, to_timestamp_ntz('1970-01-01 00:00:00'), "
            "cast(ts as timestamp_ntz))"
        )
    ev = raw.select(
        F.col("user_id").cast("long").alias("uid"),
        ts_min.alias("ts_min"),  # wall minutes since epoch
        F.floor(F.col("value") * 100).alias("v100"),
    )
    nodek = F.col("uid") % n_nodes
    return ev.select(
        _node_id(nodek).alias("node"),
        _node_dc(nodek).alias("dc"),
        F.timestamp_seconds(F.col("ts_min") * 60).alias("ts"),
        (F.lit(201) + F.pmod(F.col("v100"), F.lit(1300))).cast("int").alias("pause_ms"),
    )


def build_tombstone_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-warning fact from `orders` (explore.py:342-357 analog)."""
    ksd = _ks_dim(spark, sf_dir)
    n_nodes = _n_nodes(spark, sf_dir)
    o = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("ok"),
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor("o_totalprice").alias("tp"),
    )
    ok, ck = F.col("ok"), F.col("ck")
    nodek = ok % n_nodes
    return (
        o.select(
            _node_id(nodek).alias("node"),
            _node_dc(nodek).alias("dc"),
            ((ck + 7) % 25).alias("nk"),
            _tbl_name((ok + 3) % 8).alias("tbl"),
            F.col("tp").cast("long").alias("live_rows"),
            ((ok * 13) % 3000).cast("long").alias("tombstones"),
        )
        .join(F.broadcast(ksd), "nk")
        .select("node", "dc", "ks", "tbl", "live_rows", "tombstones")
    )


def build_proxyhistogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinator latency fact (explore.py:1494-1509 analog).

    Nodes with k % 17 == 3 have no proxyhistograms file (omitted from
    Q6); nodes with k % 23 == 5 are missing their '98%' row (Q6
    coalesces it to 0.0, explore.py:1507-1509).
    """
    s = _read(spark, sf_dir, "supplier").select(F.col("s_suppkey").cast("long").alias("k"))
    pcts = spark.createDataFrame(
        [(lbl, i) for i, lbl in enumerate(PCT_LABELS)], "pct string, i long"
    )
    k, i = F.col("k"), F.col("i")
    return (
        s.filter(k % 17 != 3)
        .crossJoin(F.broadcast(pcts))
        .filter(~((k % 23 == 5) & (i == 4)))
        .select(
            _node_id(k).alias("node"),
            _node_dc(k).alias("dc"),
            F.col("pct"),
            ((k % 50) * 100 + i * i * 700).cast("double").alias("read_us"),
            ((k % 37) * 80 + i * i * 500).cast("double").alias("write_us"),
        )
    )


def build_schema_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column catalog from `part` (explore.py:856-874 analog).

    Tables-per-keyspace m = 1 + (nk % 10) varies 1..10, so column
    counts per table vary ~8×..80× of the base density — keyspaces with
    m == 1 trip the Q16 column-count guardrail at sf ≥ 0.01.
    """
    ksd = _ks_dim(spark, sf_dir)
    p = _read(spark, sf_dir, "part").select(F.col("p_partkey").cast("long").alias("pk"))
    pk = F.col("pk")
    nk = pk % 25
    m = F.lit(1) + (nk % 10)
    return (
        p.select(
            nk.alias("nk"),
            _tbl_name(pk % m).alias("tbl"),
            F.concat(F.lit("c"), pk.cast("string")).alias("col"),
            F.when(pk % 4 == 0, "text").when(pk % 4 == 1, "bigint")
            .when(pk % 4 == 2, "uuid").otherwise("timestamp").alias("cql_type"),
            F.when(pk % 19 == 0, "partition_key").when(pk % 19 == 1, "clustering")
            .otherwise("regular").alias("kind"),
        )
        .join(F.broadcast(ksd), "nk")
        .select("ks", "tbl", "col", "cql_type", "kind")
    )


def build_schema_object(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-object catalog + dependency bridge (explore.py:786-874,
    216-227 analog).

    Dependents (Index / SAI / MV) concentrate on keyspaces nk ∈ 2..6 and
    tables t0/t1 so the Q15 guardrail counts are tripped; UDF/UDA rows
    come from pk % 97 == 0 (Q17)."""
    ksd = _ks_dim(spark, sf_dir)
    tables = (
        build_schema_column(spark, sf_dir)
        .select("ks", "tbl").distinct()
        .select(
            F.col("ks"), F.col("tbl").alias("name"),
            F.lit("Table").alias("obj_type"),
            F.lit(None).cast("string").alias("src_ks"),
            F.lit(None).cast("string").alias("src_tbl"),
        )
    )
    p = _read(spark, sf_dir, "part").select(F.col("p_partkey").cast("long").alias("pk"))
    pk = F.col("pk")
    dk = (pk - pk % 5) / F.lit(5)
    dk = dk.cast("long")
    dep_type = (
        F.when(dk % 3 == 0, "Index")
        .when(dk % 3 == 1, "Storage-Attached Index")
        .otherwise("Materialized Views")
    )
    dep_prefix = (
        F.when(dk % 3 == 0, "idx_").when(dk % 3 == 1, "sai_").otherwise("mv_")
    )
    deps = (
        p.filter(pk % 5 == 0)
        .select(
            (F.lit(2) + pk % 5).alias("nk"),
            dep_type.alias("obj_type"),
            F.concat(dep_prefix, pk.cast("string")).alias("name"),
            _tbl_name(pk % 2).alias("src_tbl"),
        )
        .join(F.broadcast(ksd), "nk")
        .select(
            F.col("ks"), F.col("name"), F.col("obj_type"),
            F.col("ks").alias("src_ks"), F.col("src_tbl"),
        )
    )
    fk = (pk - pk % 97) / F.lit(97)
    fk = fk.cast("long")
    funcs = (
        p.filter(pk % 97 == 0)
        .select(
            (pk % 25).alias("nk"),
            F.when(fk % 2 == 0, "UDF").otherwise("UDA").alias("obj_type"),
            F.concat(F.lit("fn_"), pk.cast("string")).alias("name"),
        )
        .join(F.broadcast(ksd), "nk")
        .select(
            F.col("ks"), F.col("name"), F.col("obj_type"),
            F.lit(None).cast("string").alias("src_ks"),
            F.lit(None).cast("string").alias("src_tbl"),
        )
    )
    return tables.unionByName(deps).unionByName(funcs)


_TUNED_SESSIONS: set[str] = set()


def _tune_session(spark: SparkSession) -> None:
    """Apply the engine's runtime-mutable tuning to a caller-provided
    session — but only knobs still at their Spark defaults, so a
    deliberately configured session (e.g. a harness that disabled AQE
    to test static plans) is never overridden.

    The engine's own factory (``session.get_spark``) sets these at
    build time; this covers harness/driver sessions that call the
    query surface directly: 200 static shuffle partitions on a
    local[8-32] box wastes a scheduler round per tiny exchange (AQE
    coalesces the data, not the task-launch overhead of the first
    attempt's partition count).

    The adaptive knobs (AQE + partition coalescing) are deliberately
    NOT set here: their Spark defaults are already the values the
    engine wants, and a caller that disabled them made an explicit
    choice this function must respect — so there is nothing to write
    in either state."""
    import logging

    from pyspark.errors import AnalysisException

    conf = spark.conf
    applied: list[str] = []
    try:
        if conf.get("spark.sql.shuffle.partitions") == "200":
            par = spark.sparkContext.defaultParallelism
            val = str(max(par, 8))
            conf.set("spark.sql.shuffle.partitions", val)
            applied.append(f"spark.sql.shuffle.partitions={val}")
    except AnalysisException as exc:
        # CANNOT_MODIFY_CONFIG: the conf is static/locked for this
        # session — a legitimate caller choice, skip quietly.
        getter = getattr(exc, "getCondition", None)  # 4.x name
        klass = getter() if getter is not None else None
        if klass == "CANNOT_MODIFY_CONFIG" or "Cannot modify" in str(exc):
            logging.getLogger(__name__).info(
                "session conf locked; tuning skipped: %s", exc)
        else:
            # Tuning is best-effort: it runs on EVERY memo_frame entry
            # against caller-provided sessions, so an exotic conf
            # failure must degrade the tuning, not the query surface.
            logging.getLogger(__name__).warning(
                "session tuning failed (continuing untuned): %s", exc)
        return
    except Exception as exc:  # noqa: BLE001 — same best-effort contract
        logging.getLogger(__name__).warning(
            "session tuning failed (continuing untuned): %s", exc)
        return
    sid = spark.sparkContext.applicationId
    if applied and sid not in _TUNED_SESSIONS:
        _TUNED_SESSIONS.add(sid)
        logging.getLogger(__name__).info(
            "tuned session %s: %s", sid, ", ".join(applied))


def load_model(spark: SparkSession, sf_dir: str) -> ConformedModel:
    """Build (memoized) the conformed model for a scale-factor dir.

    The model is ``.cache()``-ed on first load: every query re-reads the
    same conformed facts, and without the cache multi-view queries (Q20
    summary) re-derive the big fact up to 8× per run — at 100 TB that is
    8× wasted scan I/O.  Storage is MEMORY_AND_DESER per Spark default;
    the conformed grain is orders of magnitude smaller than the raw
    input, so it fits executor memory at any realistic scale factor."""
    key = _session_key(spark, sf_dir)
    if key not in _MODEL_CACHE:
        import os

        _tune_session(spark)
        if os.path.isdir(os.path.join(sf_dir, "nodes")):
            # A real diagnostic tree (the reference's input layout) —
            # route to the ingestion layer; same conformed contract.
            from astra_perseverance_spark.sources.diag import load_model_from_diag

            _MODEL_CACHE[key] = load_model_from_diag(spark, sf_dir)
            return _MODEL_CACHE[key]
        _MODEL_CACHE[key] = ConformedModel(
            node_info=build_node_info(spark, sf_dir),
            keyspace_rf=build_keyspace_rf(spark, sf_dir),
            schema_object=build_schema_object(spark, sf_dir),
            schema_column=build_schema_column(spark, sf_dir),
            cfstats_metric=build_cfstats_metric(spark, sf_dir),
            gc_event=build_gc_event(spark, sf_dir),
            tombstone_event=build_tombstone_event(spark, sf_dir),
            proxyhistogram=build_proxyhistogram(spark, sf_dir),
        ).cache()
    return _MODEL_CACHE[key]


def register_sql_views(spark: SparkSession, sf_dir: str,
                       prefix: str = "") -> list[str]:
    """Expose the conformed model (and, when present, the corpus
    tables) as temp views for ad-hoc ``spark.sql`` — the interactive
    surface next to the registered query API.  Views read the SAME
    memoized frames the queries use, so an analyst's SQL and the
    engine's pipelines see one consistent snapshot.  Returns the view
    names registered."""
    import os

    model = load_model(spark, sf_dir)
    frames = {
        "node_info": model.node_info,
        "keyspace_rf": model.keyspace_rf,
        "schema_object": model.schema_object,
        "schema_column": model.schema_column,
        "cfstats_metric": model.cfstats_metric,
        "gc_event": model.gc_event,
        "tombstone_event": model.tombstone_event,
        "proxyhistogram": model.proxyhistogram,
    }
    if os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        from astra_perseverance_spark.extensions.corpus import (
            docs_frame,
            vectors_frame,
        )

        frames["documents"] = docs_frame(spark, sf_dir)
        frames["embeddings_q"] = vectors_frame(spark, sf_dir)
    names = []
    for name, df in frames.items():
        view = f"{prefix}{name}"
        df.createOrReplaceTempView(view)
        names.append(view)
    return names
