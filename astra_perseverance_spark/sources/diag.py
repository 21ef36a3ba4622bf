"""Cassandra diagnostic-tree ingestion (SURVEY.md §2.1 S1–S10).

Parses the reference's input layout —

    <root>/nodes/<node_dir>/
        nodetool/{cfstats|tablestats, info, status, describecluster,
                  gossipinfo, version, proxyhistograms}
        driver/schema
        logs/cassandra/system*.log[.zip]

— into the same conformed tables ``conformed.model`` synthesizes, so
every registered query runs unchanged over a real diag snapshot
(``load_model`` routes here when the path contains ``nodes/``).

One read per input, one build per shared frame:

- Every nodetool/driver file the parsers use comes from ONE cached
  ``wholetext`` scan (``_small_files``): a row per file, split by
  ``posexplode`` so line numbers are exact, tagged with the file's
  ``kind``.  Carry-forward context (W1: current Keyspace/Table/DC/node
  block) is a ``last(marker, ignorenulls=True)`` window partitioned by
  file — never a cross-file shuffle.  The reference's second cfstats
  scan (explore.py:1424-1473) collapses into the cached fact.
- ``system*.log`` files come from one splittable ``read.text`` scan,
  zip archives (S10/F6) from ``binaryFile`` + a batched Arrow
  decompression (``mapInPandas``, per file, not per line); only GC and
  tombstone lines are kept, cached for both log facts.
- ``load_model_from_diag`` builds the status rows, gossip blocks, node
  map and schema lines once, hands them to the builders and runs no
  Spark job.
- ``cluster_name``, the only reader of ``describecluster``, makes its
  own small read.

Reference parity citations are per-function.  Known reference bugs
are *not* reproduced; divergences are documented in SURVEY.md §8.
"""

from __future__ import annotations

import glob
import io
import os
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from astra_perseverance_spark.conformed.model import ConformedModel

IP_RE = r"[0-9]+(?:\.[0-9]+){3}"

# Raw cfstats metric label → conformed metric name (explore.py:939-998
# aggregation pass + 443-450 threshold-tab filters).
CFSTATS_METRICS: dict[str, str] = {
    "Space used (live)": "space_used_live",
    "Local read count": "local_read_count",
    "Local write count": "local_write_count",
    "Local read latency": "local_read_latency_ms",
    "Local write latency": "local_write_latency_ms",
    "SSTable count": "sstable_count",
    "Compacted partition maximum bytes": "compacted_partition_max_bytes",
    "Dropped Mutations": "dropped_mutations",
    "Total number of tables": "total_number_of_tables",
}


def _node_dir(path: Column) -> Column:
    return F.regexp_extract(path, r"nodes/([^/]+)/", 1)


def _expand_globs(globs: list[str]) -> list[str]:
    """Driver-side glob expansion (diag trees are local directories —
    ``load_model`` routes here off ``os.path.isdir``): Spark's
    ``read.text([g1, g2])`` raises PATH_NOT_FOUND when ANY one glob
    matches nothing, which would drop the lines of every other glob."""
    return [p for g in globs for p in sorted(glob.glob(g))
            if os.path.isfile(p)]


def _file_lines(spark: SparkSession, paths: list[str]) -> DataFrame:
    """(node_dir, path, line_no, line) with exact in-file ordering.

    ``wholetext`` keeps each file a single row — line_no comes from
    ``posexplode`` of the split, not from partition-unstable ids
    (SURVEY.md §4.2.2)."""
    if not paths:
        return spark.createDataFrame(
            [], "node_dir string, path string, line_no long, line string"
        )
    raw = spark.read.text(paths, wholetext=True)
    return (
        raw.select(
            F.input_file_name().alias("path"),
            F.posexplode(F.split("value", "\n")).alias("line_no", "line"),
        )
        .withColumn("node_dir", _node_dir(F.col("path")))
        .select("node_dir", "path", "line_no", F.col("line").alias("line"))
    )


# every nodetool file a parser reads
_NODETOOL_FILES = ("status", "gossipinfo", "info", "version", "cfstats",
                   "tablestats", "proxyhistograms")


def _small_files(spark: SparkSession, root: str) -> DataFrame:
    """(node_dir, path, line_no, line, kind) of every small file the
    parsers read, in one ``wholetext`` scan: the nodetool files and the
    first node's schema dump (the reference reads exactly one,
    explore.py:722-740).  ``kind`` is the file name, with
    ``tablestats`` folded into ``cfstats`` (explore.py:900-903)."""
    paths = _expand_globs([f"{root}/nodes/*/nodetool/{f}" for f in _NODETOOL_FILES])
    paths += _expand_globs([f"{root}/nodes/*/driver/schema"])[:1]
    lines = _file_lines(spark, paths)
    name = F.regexp_extract("path", r"/([^/]+)$", 1)
    kind = F.when(name == "tablestats", "cfstats").otherwise(name)
    return lines.withColumn("kind", kind)


def _kind(small: DataFrame, kind: str) -> DataFrame:
    return small.filter(F.col("kind") == kind)


def _carry(marker: Column, order: str = "line_no") -> Column:
    """W1 carry-forward: latest non-null marker within the file."""
    w = (
        Window.partitionBy("path")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return F.last(marker, ignorenulls=True).over(w)


def _strip(col: Column) -> Column:
    """Strip ALL leading/trailing whitespace — Spark's ``trim`` removes
    only ASCII spaces, and diag files are tab-indented."""
    return F.regexp_replace(F.regexp_replace(col, r"^\s+", ""), r"\s+$", "")


def _after_colon(line: Column, n: int = 1) -> Column:
    return _strip(F.element_at(F.split(line, ":"), n + 1))


# ---------------------------------------------------------------------------
# S1: node discovery + S3 status + S4 info + S6 gossip + S7 version
# ---------------------------------------------------------------------------

def status_rows(small: DataFrame) -> DataFrame:
    """Per-node status rows (ip, dc, load_str, tokens, rack) with the
    DC carried forward from ``Datacenter:`` headers
    (explore.py:274-306).  Deduped across the per-node copies."""
    lines = _kind(small, "status")
    dc_marker = F.when(
        F.col("line").contains("Datacenter:"), _after_colon(F.col("line"))
    )
    rows = (
        lines.withColumn("dc", _carry(dc_marker))
        .filter(F.col("line").rlike(rf"\s{IP_RE}\s"))
        .select(
            "dc",
            F.split(_strip(F.col("line")), r"\s+").alias("v"),
        )
        .select(
            "dc",
            F.col("v")[1].alias("ip"),
            F.concat_ws(" ", F.col("v")[2], F.col("v")[3]).alias("load_str"),
            F.col("v")[4].cast("int").alias("tokens"),
            F.col("v")[7].alias("rack"),
        )
    )
    return rows.groupBy("ip").agg(
        F.min_by(F.struct("dc", "load_str", "tokens", "rack"), F.lit(1)).alias("s")
    ).select("ip", "s.dc", "s.load_str", "s.tokens", "s.rack")


def gossip_blocks(small: DataFrame) -> DataFrame:
    """Per-endpoint gossip state: (ip, dc, workload, version_dse).

    Block start = a line containing '/' (explore.py:666-671, endpoint
    lines are ``[hostname]/ip``); DC from ``DC:idx:value`` taking the
    last token (explore.py:687-691); the embedded JSON payload
    (X_11_PADDING / DSE_GOSSIP_STATE) is ``from_json``-parsed
    (explore.py:692-706).  Intended semantics (ref's stateful-loop
    carry bug not reproduced): each endpoint uses its own payload;
    'Cassandra' renames to 'DSE Core'; graph appends ' + Graph';
    missing dse_version → 'DSE pre 5.0'."""
    lines = _kind(small, "gossipinfo")
    ip_marker = F.when(
        F.col("line").contains("/"),
        F.regexp_extract("line", rf"({IP_RE})", 1),
    )
    blocks = lines.withColumn("ip", _carry(ip_marker)).filter(F.col("ip") != "")
    dc = blocks.filter(F.col("line").contains("DC:")).select(
        "path", "ip", F.element_at(F.split(_strip(F.col("line")), ":"), -1).alias("dc")
    )
    payload = blocks.filter(
        F.col("line").contains("X_11_PADDING")
        | F.col("line").contains("DSE_GOSSIP_STATE")
    ).select(
        "path", "ip",
        F.from_json(
            F.regexp_extract("line", r"^[^:]*:[^:]*:(.*)$", 1),
            "workload string, graph boolean, dse_version string",
        ).alias("j"),
    ).select(
        "path", "ip",
        F.concat(
            F.when(F.col("j.workload") == "Cassandra", "DSE Core")
            .otherwise(F.col("j.workload")),
            F.when(F.col("j.graph"), F.lit(" + Graph")).otherwise(F.lit("")),
        ).alias("workload"),
        F.coalesce(F.col("j.dse_version"), F.lit("DSE pre 5.0")).alias("version_dse"),
    )
    per_file = dc.join(payload, ["path", "ip"], "left")
    # one gossip view is enough (every node carries the full map);
    # dedup by ip, earliest file path wins (deterministic).
    return per_file.groupBy("ip").agg(
        F.min_by(F.struct("dc", "workload", "version_dse"), F.col("path")).alias("s")
    ).select("ip", "s.dc", "s.workload", "s.version_dse")


def _param_per_node(lines: DataFrame, contains: str, alias: str) -> DataFrame:
    """First ``key: value`` match per node file (get_param,
    explore.py:425-438 — B4's silent-None path replaced by a left
    join downstream)."""
    return (
        lines.filter(F.col("line").contains(contains))
        .groupBy("node_dir")
        .agg(F.min_by(_after_colon(F.col("line")), F.col("line_no")).alias(alias))
    )


def node_map(small: DataFrame, status: DataFrame) -> DataFrame:
    """S1 node discovery: (node_dir, node, ip, dc).

    node = IP embedded in the dirname, else the dirname itself
    (extract_ip, explore.py:242-247, 596-598); ip resolved against
    status with ``_``/``-`` → ``.`` substitutions (explore.py:602-609)
    and falling back to a gossip endpoint line containing the node
    name (find_ip_addr, explore.py:251-263) — one left join that only
    unresolved dirs can match, so building the map runs no job.  dc
    comes from status: a dir whose ip status does not list is no node."""
    dirs = (
        _kind(small, "status")
        .select("node_dir").distinct()
        .withColumn(
            "node",
            F.when(
                F.regexp_extract("node_dir", IP_RE, 0) != "",
                F.regexp_extract("node_dir", IP_RE, 0),
            ).otherwise(F.col("node_dir")),
        )
    )
    endpoints = (
        _kind(small, "gossipinfo")
        .select("line", F.regexp_extract("line", rf"/({IP_RE})", 1).alias("g_ip"))
        .filter(F.col("g_ip") != "")
    )
    ips = (
        dirs.join(
            F.broadcast(status.select("ip")),
            (F.col("ip") == F.col("node"))
            | (F.col("ip") == F.regexp_replace("node", "_", "."))
            | (F.col("ip") == F.regexp_replace("node", "-", ".")),
            "left",
        )
        .join(F.broadcast(endpoints),
              F.col("ip").isNull() & F.col("line").contains(F.col("node")), "left")
        .groupBy("node_dir", "node")
        .agg(F.coalesce(F.min("ip"), F.min("g_ip")).alias("ip"))
    )
    return (
        ips.join(F.broadcast(status.select("ip", "dc")), "ip")
        .select("node_dir", "node", "ip", "dc")
    )


def build_node_info(small: DataFrame, status: DataFrame, gossip: DataFrame,
                    nodes: DataFrame) -> DataFrame:
    """node_info dim: status + info + gossip + version joined on ip
    (explore.py:296-301, 674-712, 904).  Non-DSE nodes report
    'OSS Cassandra' + the version-file release (explore.py:266-271,
    707-711)."""
    uptime = _param_per_node(_kind(small, "info"), "Uptime", "uptime_str")
    oss_ver = _param_per_node(_kind(small, "version"), "ReleaseVersion", "oss_version")
    return (
        nodes.join(F.broadcast(status.drop("dc")), "ip")
        .join(F.broadcast(uptime), "node_dir", "left")
        .join(F.broadcast(oss_ver), "node_dir", "left")
        .join(F.broadcast(gossip.select("ip", "workload", "version_dse")), "ip", "left")
        .select(
            "node", "dc", "rack", "load_str", "tokens",
            F.col("uptime_str").cast("long").alias("uptime_sec"),
            F.coalesce(F.col("workload"), F.lit("OSS Cassandra")).alias("workload"),
            F.coalesce(F.col("version_dse"), F.col("oss_version")).alias("version"),
        )
    )


def cluster_name(spark: SparkSession, root: str) -> str:
    """S5 describecluster → cluster name (explore.py:645-646)."""
    lines = _file_lines(spark, _expand_globs([f"{root}/nodes/*/nodetool/describecluster"]))
    row = (
        lines.filter(F.col("line").contains("Name:"))
        .select(_after_colon(F.col("line")).alias("name"))
        .limit(1)
        .collect()
    )
    return row[0]["name"] if row else ""


# ---------------------------------------------------------------------------
# S2: cfstats / tablestats
# ---------------------------------------------------------------------------

def build_cfstats_metric(small: DataFrame, nodes: DataFrame) -> DataFrame:
    """Long-format cfstats fact via the W1 carry-forward window
    (explore.py:899-998 agg pass; 1424-1473 tab pass — one scan here
    feeds both).  Handles the ``tablestats`` fallback
    (explore.py:900-903), legacy ``Column Family:`` (929-931) and
    ``Table (index):`` (926-928) labels, and keyspace-less preamble
    metrics (``Total number of tables`` → ks = tbl = '')."""
    lines = _kind(small, "cfstats").withColumn("line", _strip(F.col("line")))
    ks_marker = F.when(
        F.col("line").rlike(r"^Keyspace\s*:"), _after_colon(F.col("line"))
    )
    tbl_marker = (
        F.when(F.col("line") == "", F.lit(""))
        .when(F.col("line").rlike(r"^Table \(index\):"), _after_colon(F.col("line")))
        .when(F.col("line").rlike(r"^(Table|Column Family):"), _after_colon(F.col("line")))
    )
    ctx = (
        lines.withColumn("ks", F.coalesce(_carry(ks_marker), F.lit("")))
        .withColumn("tbl", F.coalesce(_carry(tbl_marker), F.lit("")))
    )
    metric_map = F.create_map(
        *[F.lit(x) for kv in CFSTATS_METRICS.items() for x in kv]
    )
    rows = (
        ctx.filter(F.col("line").contains(":"))
        .select(
            "node_dir", "ks", "tbl",
            F.element_at(metric_map, _strip(F.split("line", ":")[0])).alias("metric"),
            _strip(F.regexp_replace(_after_colon(F.col("line")), r"\s*ms$", ""))
            .alias("raw_value"),
        )
        .filter(F.col("metric").isNotNull())
        .withColumn("value", F.col("raw_value").try_cast("double"))
        # isNotNull alone is not enough: idle tables print
        # 'Local read latency: NaN ms', try_cast yields double NaN
        # (not null), and one NaN row poisons the per-table SUM —
        # every threshold comparison downstream goes silently false
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
    )
    return (
        _with_node_dc(rows, nodes)
        .groupBy("node", "dc", "ks", "tbl", "metric")
        .agg(F.sum("value").cast("double").alias("value"))
    )


# ---------------------------------------------------------------------------
# S9: CQL schema DDL
# ---------------------------------------------------------------------------

def build_keyspace_rf(schema: DataFrame, status: DataFrame) -> DataFrame:
    """(dc, ks, rf) from CREATE KEYSPACE replication maps
    (explore.py:744-785): NTS per-DC entries keyed by known DC names;
    SimpleStrategy ``replication_factor`` applies to every DC."""
    ksl = schema.filter(F.col("line").contains("CREATE KEYSPACE"))
    # IF NOT EXISTS normalization (see build_schema_objects): the ks
    # name is token 2 of the normalized statement
    ddl = F.regexp_replace(F.col("line"), r"IF NOT EXISTS\s+", "")
    pairs = ksl.select(
        _obj_name(ddl, 2).alias("ks"),
        F.explode(
            F.expr(r"regexp_extract_all(line, '\'[A-Za-z0-9_]+\'\\s*:\\s*\'[0-9.]+\'', 0)")
        ).alias("pair"),
    ).select(
        "ks",
        F.regexp_extract("pair", r"'([^']+)'", 1).alias("key"),
        F.regexp_extract("pair", r":\s*'([0-9.]+)'", 1).cast("double").alias("rf_d"),
    )
    dcs = status.select("dc").distinct()
    named = pairs.join(F.broadcast(dcs), pairs.key == dcs.dc).select(
        "dc", "ks", F.col("rf_d").cast("int").alias("rf")
    )
    simple = (
        pairs.filter(F.col("key") == "replication_factor")
        .crossJoin(F.broadcast(dcs))
        .select("dc", "ks", F.col("rf_d").cast("int").alias("rf"))
    )
    return named.unionByName(simple)


def _obj_name(line: Column, idx: int) -> Column:
    return F.regexp_replace(F.split(line, r"\s+")[idx], '"', "")


def build_schema_objects(schema: DataFrame) -> DataFrame:
    """schema_object catalog (ks, name, obj_type, src_ks, src_tbl)
    from the DDL statements (explore.py:786-874):

    - TABLE / TYPE / MATERIALIZED VIEW names are ks-qualified;
    - INDEX / CUSTOM INDEX take src from the ``ON ks.tbl`` clause
      (explore.py:791-801);
    - MV src from the ``FROM ks.tbl`` line inside its statement
      (explore.py:852-855) — carried forward within the statement;
    - UDF: ``CREATE [OR REPLACE] FUNCTION``; UDA: ``CREATE AGGREGATE
      [IF NOT EXISTS]`` (explore.py:809-838; all collected — the
    reference's last-one-wins warning bug B2 is not reproduced)."""
    line = F.col("line")
    # token indices are over the IF-NOT-EXISTS-normalized line: any
    # CREATE statement may carry the clause (driver-generated dumps
    # do), and a fixed index over the raw line would return the
    # literal token 'IF' as the object name
    ddl = F.regexp_replace(line, r"IF NOT EXISTS\s+", "")
    ks_ctx_marker = F.when(
        line.contains("CREATE KEYSPACE"), _obj_name(ddl, 2)
    )
    sl = schema.withColumn("cur_ks", _carry(ks_ctx_marker))

    tbl_name = F.when(line.contains("CREATE TABLE"), _obj_name(ddl, 2))
    type_name = F.when(line.contains("CREATE TYPE"), _obj_name(ddl, 2))
    mv_name = F.when(line.contains("CREATE MATERIALIZED VIEW"), _obj_name(ddl, 3))
    idx_name = F.when(
        line.contains("CREATE INDEX") & ~line.contains("CUSTOM"),
        _obj_name(ddl, 2),
    )
    sai_name = F.when(line.contains("CREATE CUSTOM INDEX"), _obj_name(ddl, 3))
    udf_name = F.when(
        line.contains("CREATE OR REPLACE FUNCTION"), _obj_name(ddl, 4)
    ).when(
        line.contains("CREATE FUNCTION") & ~line.contains("OR REPLACE"),
        _obj_name(ddl, 2),
    )
    uda_name = F.when(
        line.contains("CREATE AGGREGATE"), _obj_name(ddl, 2)
    )

    def qualified(n: Column, obj_type: str) -> DataFrame:
        return (
            sl.select(n.alias("q"), "cur_ks").filter(F.col("q").isNotNull())
            .select(
                F.when(F.col("q").contains("."), F.split("q", r"\.")[0])
                .otherwise(F.col("cur_ks")).alias("ks"),
                F.when(F.col("q").contains("."), F.split("q", r"\.")[1])
                .otherwise(F.col("q")).alias("name"),
                F.lit(obj_type).alias("obj_type"),
                F.lit(None).cast("string").alias("src_ks"),
                F.lit(None).cast("string").alias("src_tbl"),
            )
        )

    tables = qualified(tbl_name, "Table")
    types = qualified(type_name, "Type")

    def on_clause(n: Column, obj_type: str) -> DataFrame:
        return (
            sl.select(n.alias("name"), "line")
            .filter(F.col("name").isNotNull())
            .select(
                F.regexp_extract("line", r"ON\s+\"?(\w+)\"?\.", 1).alias("src_ks"),
                F.regexp_extract("line", r"ON\s+\"?\w+\"?\.\"?(\w+)\"?", 1).alias("src_tbl"),
                "name",
            )
            .select(F.col("src_ks").alias("ks"), "name",
                    F.lit(obj_type).alias("obj_type"), "src_ks", "src_tbl")
        )

    idxs = on_clause(idx_name, "Index")
    sais = on_clause(sai_name, "Storage-Attached Index")

    mv_ctx = F.when(line == "", F.lit("")).when(mv_name.isNotNull(), mv_name)
    mvs = (
        sl.withColumn("cur_mv", _carry(mv_ctx))
        .filter(
            (F.col("cur_mv") != "")
            & F.col("line").rlike(r"FROM\s+\S+\.\S+")
        )
        .select(
            F.split("cur_mv", r"\.")[0].alias("ks"),
            F.split("cur_mv", r"\.")[1].alias("name"),
            F.lit("Materialized Views").alias("obj_type"),
            F.regexp_extract("line", r"FROM\s+\"?(\w+)\"?\.", 1).alias("src_ks"),
            F.regexp_extract("line", r"FROM\s+\"?\w+\"?\.\"?(\w+)\"?", 1).alias("src_tbl"),
        )
        .groupBy("ks", "name", "obj_type")
        .agg(F.min("src_ks").alias("src_ks"), F.min("src_tbl").alias("src_tbl"))
    )

    funcs = qualified(udf_name, "UDF").unionByName(qualified(uda_name, "UDA"))
    return tables.unionByName(types).unionByName(idxs).unionByName(sais) \
        .unionByName(mvs).unionByName(funcs)


def build_schema_columns(schema: DataFrame) -> DataFrame:
    """schema_column (ks, tbl, col, cql_type, kind) from CREATE
    TABLE / TYPE bodies (explore.py:856-874).

    Field lines are first-token identifiers inside an open block
    (blank line / ``)``; / WITH terminates); kind derives from the
    PRIMARY KEY clause (explore.py:864-871): inline ``PRIMARY KEY``
    marks the partition key; ``PRIMARY KEY (a, b, …)`` → a partition,
    rest clustering; ``PRIMARY KEY ((a, b), c)`` → composite."""
    line = F.col("line")
    # same IF-NOT-EXISTS normalization as build_schema_objects — the
    # block key must be the real ks.tbl, never the token 'IF'
    ddl = F.regexp_replace(line, r"IF NOT EXISTS\s+", "")
    blk_marker = (
        F.when(line.contains("CREATE TABLE"), _obj_name(ddl, 2))
        .when(line.contains("CREATE TYPE"), _obj_name(ddl, 2))
        .when(
            line.contains("CREATE") | (line == "") | line.startswith(")")
            | line.startswith("WITH"),
            F.lit(""),
        )
    )
    ctx = schema.withColumn("cur_blk", F.coalesce(_carry(blk_marker), F.lit("")))
    body = ctx.filter(
        (F.col("cur_blk") != "")
        & ~line.contains("CREATE")
        & line.rlike(r"^[a-z_][a-z0-9_]*\s+\S+")
        & ~line.rlike(r"^(PRIMARY|WITH|AND|SELECT|FROM|WHERE|SFUNC|STYPE|INITCOND|CALLED|RETURNS|LANGUAGE|AS)\b")
    )
    cols = body.select(
        F.split("cur_blk", r"\.")[0].alias("ks"),
        F.split("cur_blk", r"\.")[1].alias("tbl"),
        F.split(line, r"\s+")[0].alias("col"),
        F.regexp_replace(F.regexp_extract(line, r"^\S+\s+(.*?),?$", 1),
                         r"\s+PRIMARY KEY$", "").alias("cql_type"),
        line.contains("PRIMARY KEY").alias("inline_pk"),
    )
    pk_lines = ctx.filter(
        (F.col("cur_blk") != "") & line.startswith("PRIMARY KEY")
    ).select(
        F.split("cur_blk", r"\.")[0].alias("ks"),
        F.split("cur_blk", r"\.")[1].alias("tbl"),
        F.when(
            F.size(F.split(line, r"\(")) - 1 == 2,
            F.split(F.regexp_extract(line, r"\(\((.*?)\)", 1), r",\s*"),
        ).otherwise(
            F.slice(F.split(F.regexp_extract(line, r"\((.*?)\)", 1), r",\s*"), 1, 1)
        ).alias("pk"),
        F.when(
            F.size(F.split(line, r"\(")) - 1 == 2,
            F.split(
                F.regexp_replace(
                    F.regexp_extract(line, r"\)\s*,\s*(.*)\)", 1), r"\)", ""
                ),
                r",\s*",
            ),
        ).otherwise(
            F.expr(r"slice(split(regexp_extract(line, '\\((.*?)\\)', 1), ',\\s*'), 2, 100)")
        ).alias("cc"),
    )
    out = (
        cols.join(F.broadcast(pk_lines), ["ks", "tbl"], "left")
        .select(
            "ks", "tbl", "col", "cql_type",
            F.when(
                F.col("inline_pk") | F.array_contains(F.coalesce("pk", F.array()), F.col("col")),
                "partition_key",
            )
            .when(F.array_contains(F.coalesce("cc", F.array()), F.col("col")), "clustering")
            .otherwise("regular")
            .alias("kind"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# S10: system.log (zip-aware) → gc_event / tombstone_event
# ---------------------------------------------------------------------------

def _unzip_lines(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """binaryFile rows → one row per text line of the first zip member
    (explore.py:311-316).  Batched per file, not per line."""
    for pdf in batches:
        out_path, out_line = [], []
        for path, content in zip(pdf["path"], pdf["content"]):
            with zipfile.ZipFile(io.BytesIO(content)) as zf:
                with zf.open(zf.namelist()[0]) as fh:
                    for ln in io.TextIOWrapper(fh, encoding="utf-8"):
                        out_path.append(path)
                        out_line.append(ln.rstrip("\n"))
        yield pd.DataFrame({"path": out_path, "line": out_line})


def _log_lines(spark: SparkSession, root: str) -> DataFrame:
    """(node_dir, line) of the GC and tombstone lines of every
    system*.log, zip archives included (explore.py:1024-1066 glob;
    311-316 zip), in one scan.  The optional
    ``AdditionalLogs/<node>/var/log/cassandra`` side tree
    (explore.py:1048-1066) is unioned in when present; its node dir is
    extracted from the AdditionalLogs path segment instead of nodes/."""
    # driver-side split: a zip scanned as text is read twice, once as
    # garbage rows; a matchless glob must not empty the others
    paths = _expand_globs([f"{root}/nodes/*/logs/cassandra/system*",
                           f"{root}/AdditionalLogs/*/var/log/cassandra/system*"])
    txt_paths = [p for p in paths if not p.endswith(".zip")]
    zip_paths = [p for p in paths if p.endswith(".zip")]
    if txt_paths:
        text = (
            spark.read.text(txt_paths)
            .select(F.input_file_name().alias("path"),
                    F.col("value").alias("line"))
        )
    else:
        text = spark.createDataFrame([], "path string, line string")
    if zip_paths:
        zipped = (
            spark.read.format("binaryFile").load(zip_paths)
            .select("path", "content")
            .mapInPandas(_unzip_lines, schema="path string, line string")
        )
        text = text.unionByName(zipped)
    node_dir = F.when(
        F.col("path").contains("/AdditionalLogs/"),
        F.regexp_extract("path", r"AdditionalLogs/([^/]+)/", 1),
    ).otherwise(_node_dir(F.col("path")))
    return (
        text.filter(F.col("line").contains("GCInspector.java:")
                    | F.col("line").contains("tombstone cells"))
        .select(node_dir.alias("node_dir"), "line")
    )


def _with_node_dc(df: DataFrame, nodes: DataFrame) -> DataFrame:
    return df.join(F.broadcast(nodes.drop("ip")), "node_dir")


def build_gc_event(logs: DataFrame, nodes: DataFrame) -> DataFrame:
    """gc_event (node, dc, ts, pause_ms) from GCInspector lines
    (parseGC_TS, explore.py:317-341).  ts is minute-truncated — the
    reference drops seconds before julian conversion
    (explore.py:326-329); tz fixed UTC (explore.py:1042)."""
    gc = logs.filter(F.col("line").contains("GCInspector.java:"))
    rows = gc.select(
        "node_dir",
        F.to_timestamp(
            F.regexp_extract("line", r"(\d{4}-\d{2}-\d{2} \d{2}:\d{2})", 1),
            "yyyy-MM-dd HH:mm",
        ).alias("ts"),
        F.regexp_extract("line", r"GC in\s*(\d+)ms", 1).cast("int").alias("pause_ms"),
    ).filter(F.col("pause_ms").isNotNull() & F.col("ts").isNotNull())
    return _with_node_dc(rows, nodes).select("node", "dc", "ts", "pause_ms")


def build_tombstone_event(logs: DataFrame, nodes: DataFrame) -> DataFrame:
    """tombstone_event from tombstone-warning lines
    (explore.py:342-357).  Handles both 'live rows and' and 'live
    and' phrasings; ks.tbl from the query clause.  All events are
    emitted — the tp_ts ≥ 1000 gate is applied by Q14, not the
    parser (the reference filters at parse time as a shortcut)."""
    tl = logs.filter(F.col("line").contains("tombstone cells"))
    rows = tl.select(
        "node_dir",
        F.coalesce(
            F.regexp_extract("line", r"Read\s+(\d+)\s+live", 1).try_cast("long"),
            F.lit(0),
        ).alias("live_rows"),
        F.coalesce(
            F.regexp_extract("line", r"live(?:\s+rows)?\s+and\s+(\d+)\s+tombstone", 1).try_cast("long"),
            F.lit(0),
        ).alias("tombstones"),
        F.regexp_extract("line", r"for query\s+.*?(\w+)\.(\w+)", 1).alias("ks"),
        F.regexp_extract("line", r"for query\s+.*?(\w+)\.(\w+)", 2).alias("tbl"),
    ).filter(F.col("ks") != "")
    return _with_node_dc(rows, nodes).select(
        "node", "dc", "ks", "tbl", "live_rows", "tombstones"
    )


# ---------------------------------------------------------------------------
# S8: proxyhistograms
# ---------------------------------------------------------------------------

def build_proxyhistogram(small: DataFrame, nodes: DataFrame) -> DataFrame:
    """proxyhistogram (node, dc, pct, read_us, write_us) from the
    whitespace table (explore.py:1494-1509).  Unparsable values → 0.0;
    nodes without the file are simply absent (Q6 omits them)."""
    rows = (
        _kind(small, "proxyhistograms")
        .withColumn("line", _strip(F.col("line")))
        .filter(F.col("line").rlike(r"^(Min|Max|\d+%)\s"))
        .select(
            "node_dir",
            F.split(F.col("line"), r"\s+").alias("v"),
        )
        .select(
            "node_dir",
            F.col("v")[0].alias("pct"),
            F.coalesce(F.col("v")[1].try_cast("double"), F.lit(0.0)).alias("read_us"),
            F.coalesce(F.col("v")[2].try_cast("double"), F.lit(0.0)).alias("write_us"),
        )
    )
    return _with_node_dc(rows, nodes).select(
        "node", "dc", "pct", "read_us", "write_us"
    )


# ---------------------------------------------------------------------------
# model assembly
# ---------------------------------------------------------------------------

def build_missing_node(status: DataFrame, gossip: DataFrame,
                       nodes: DataFrame) -> DataFrame:
    """'Missing Node Data' anti-join (explore.py:302-304, 683-686):
    IPs present in status or gossip endpoint lines with no resolved
    node directory — a broadcast left-anti join against the node map."""
    return (
        status.select("ip").unionByName(gossip.select("ip")).distinct()
        .join(F.broadcast(nodes.select("ip")), "ip", "left_anti")
    )


def load_model_from_diag(spark: SparkSession, root: str) -> ConformedModel:
    """Parse a diagnostic tree into the conformed star schema.

    The returned model is interchangeable with the synthetic one —
    every registered query runs on it unchanged (``load_model`` routes
    here when ``root`` contains a ``nodes/`` directory).  No Spark job
    runs until a table is forced.  The two scans and the node map are
    cached; status, gossip and the schema lines are cheap to recompute
    and stay uncached, because each action's plan description repeats
    every cached plan it reads and fewer cached layers keep it small."""
    small = _small_files(spark, root).cache()
    logs = _log_lines(spark, root).cache()
    status = status_rows(small)
    gossip = gossip_blocks(small)
    nodes = node_map(small, status).cache()
    # blank-line delimited DDL statements of the one schema dump read
    schema = _kind(small, "schema").withColumn("line", _strip(F.col("line")))
    return ConformedModel(
        missing_node=build_missing_node(status, gossip, nodes),
        node_info=build_node_info(small, status, gossip, nodes),
        keyspace_rf=build_keyspace_rf(schema, status),
        schema_object=build_schema_objects(schema),
        schema_column=build_schema_columns(schema),
        cfstats_metric=build_cfstats_metric(small, nodes),
        gc_event=build_gc_event(logs, nodes),
        tombstone_event=build_tombstone_event(logs, nodes),
        proxyhistogram=build_proxyhistogram(small, nodes),
    ).cache()
