"""Workload views: Q1 reads, Q2 writes, Q3 summary, Q4 data size,
Q18 read⟗write outer merge, Q20 long-format summary.

Reference semantics: explore.py:939-998 (RF-normalized accumulation),
1709-1790 (render + ratios), 1811-1826 (TPMo).  Reads are normalized by
the per-DC replication factor of their keyspace (J2), writes and sizes
by the keyspace's summed RF across DCs (J3); missing RF → divide by 1.
TPS divides each node's count by that node's uptime (J4).

Scale notes: cfstats_metric is the big fact — all joins against
node_info / keyspace_rf / total_rf are broadcast (dims are O(nodes) and
O(keyspaces)), so the only shuffle is the final groupBy(ks, tbl), which
is preceded by Spark's partial aggregation.  Ratio-to-total uses an
empty-frame window over the *aggregated* (ks, tbl) grain — tiny — not
over the fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from astra_perseverance_spark.config import DEFAULT_CONFIG, SECONDS_PER_MONTH, EngineConfig
from astra_perseverance_spark.conformed import ConformedModel, load_model
from astra_perseverance_spark.conformed.model import memo_frame
from astra_perseverance_spark.functions.ordering import report_sorted


def _app_metric(m: ConformedModel, metric: str, cfg: EngineConfig) -> DataFrame:
    """Fact rows for one metric, application keyspaces only (P3)."""
    return m.cfstats_metric.filter(
        (F.col("metric") == metric)
        & (F.col("tbl") != "")
        & ~F.col("ks").isin(*cfg.excluded_keyspaces)
    )


def total_rf_dim(m: ConformedModel) -> DataFrame:
    """ks → Σ_dc rf (explore.py:746-785 summed RF)."""
    return m.keyspace_rf.groupBy("ks").agg(F.sum("rf").cast("long").alias("total_rf"))


def reads_base(m: ConformedModel, cfg: EngineConfig) -> DataFrame:
    """Per-node read counts with per-DC rf + node uptime attached.

    rn = value / rf is the RF-normalized count (dyadic-exact)."""
    return (
        _app_metric(m, "local_read_count", cfg)
        .join(F.broadcast(m.node_info.select("node", "uptime_sec")), "node")
        .join(F.broadcast(m.keyspace_rf), ["dc", "ks"], "left")
        .withColumn("rn", F.col("value") / F.coalesce(F.col("rf"), F.lit(1)))
    )


def writes_base(m: ConformedModel, cfg: EngineConfig) -> DataFrame:
    """Per-node write counts normalized by the summed RF."""
    return (
        _app_metric(m, "local_write_count", cfg)
        .join(F.broadcast(m.node_info.select("node", "uptime_sec")), "node")
        .join(F.broadcast(total_rf_dim(m)), "ks", "left")
        .withColumn("rn", F.col("value") / F.coalesce(F.col("total_rf"), F.lit(1)))
    )


def sizes_base(m: ConformedModel, cfg: EngineConfig) -> DataFrame:
    return (
        _app_metric(m, "space_used_live", cfg)
        .join(F.broadcast(total_rf_dim(m)), "ks", "left")
        .withColumn("rn", F.col("value") / F.coalesce(F.col("total_rf"), F.lit(1)))
    )


def _req_agg(base: DataFrame, req: str, tps: str) -> DataFrame:
    return base.groupBy("ks", "tbl").agg(
        F.sum("rn").cast("double").alias(req),
        F.sum(F.col("rn") / F.col("uptime_sec")).cast("double").alias(tps),
    )


# ---- memoized canonical grains ---------------------------------------
# Five queries (Q1, Q2, Q3, Q18, Q20 ×2) consume the same per-table
# (ks, tbl) aggregates of the big fact.  Each is cached once per
# session — the fact is scanned once, every later consumer reads a
# ~table-count-row frame.  Totals are re-sums of the cached grain:
# exact, because every rn is dyadic (model.py determinism rules), so
# regrouping cannot change the double result.

def reads_agg(spark: SparkSession, sf_dir: str,
              cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(ks, tbl, req, tps) read aggregate — cached."""
    return memo_frame(
        spark, sf_dir, ("reads_agg", cfg),
        lambda: _req_agg(reads_base(load_model(spark, sf_dir), cfg), "req", "tps"),
    )


def writes_agg(spark: SparkSession, sf_dir: str,
               cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(ks, tbl, req, tps) write aggregate — cached."""
    return memo_frame(
        spark, sf_dir, ("writes_agg", cfg),
        lambda: _req_agg(writes_base(load_model(spark, sf_dir), cfg), "req", "tps"),
    )


def sizes_agg(spark: SparkSession, sf_dir: str,
              cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(ks, tbl, size_bytes) RF-normalized live size — cached."""
    return memo_frame(
        spark, sf_dir, ("sizes_agg", cfg),
        lambda: sizes_base(load_model(spark, sf_dir), cfg)
        .groupBy("ks", "tbl").agg(F.sum("rn").cast("double").alias("size_bytes")),
    )


def totals(spark: SparkSession, sf_dir: str,
           cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """1-row totals frame: total_reads, total_writes (RF-normalized)."""
    def build() -> DataFrame:
        r = reads_agg(spark, sf_dir, cfg).agg(
            F.coalesce(F.sum("req"), F.lit(0.0)).alias("total_reads"))
        w = writes_agg(spark, sf_dir, cfg).agg(
            F.coalesce(F.sum("req"), F.lit(0.0)).alias("total_writes"))
        return r.crossJoin(w)
    return memo_frame(spark, sf_dir, ("totals", cfg), build)


def q_workload_reads(spark: SparkSession, sf_dir: str,
                     cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Q1 — per-table read workload (explore.py:962-978, 1730-1752)."""
    agg = reads_agg(spark, sf_dir, cfg).select(
        "ks", "tbl", F.col("req").alias("read_requests"),
        F.col("tps").alias("avg_read_tps"))
    return (
        agg.crossJoin(F.broadcast(totals(spark, sf_dir, cfg)))
        .select(
            "ks", "tbl", "read_requests", "avg_read_tps",
            (F.col("read_requests") / F.col("total_reads")).alias("pct_reads"),
            (F.col("read_requests") / (F.col("total_reads") + F.col("total_writes")))
            .alias("r_pct_rw"),
        )
        .transform(report_sorted(F.desc("read_requests"), "ks", "tbl"))
    )


def q_workload_writes(spark: SparkSession, sf_dir: str,
                      cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Q2 — per-table write workload (explore.py:979-998, 1767-1790)."""
    agg = writes_agg(spark, sf_dir, cfg).select(
        "ks", "tbl", F.col("req").alias("write_requests"),
        F.col("tps").alias("avg_write_tps"))
    return (
        agg.crossJoin(F.broadcast(totals(spark, sf_dir, cfg)))
        .select(
            "ks", "tbl", "write_requests", "avg_write_tps",
            (F.col("write_requests") / F.col("total_writes")).alias("pct_writes"),
            (F.col("write_requests") / (F.col("total_reads") + F.col("total_writes")))
            .alias("w_pct_rw"),
        )
        .transform(report_sorted(F.desc("write_requests"), "ks", "tbl"))
    )


def q_data_size(spark: SparkSession, sf_dir: str,
                cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Q4 — RF-normalized live size per table + grand-total row
    (explore.py:939-961, 1709-1724).  Total row has ks = tbl = ''."""
    per_tbl = sizes_agg(spark, sf_dir, cfg)
    total = per_tbl.agg(
        F.coalesce(F.sum("size_bytes"), F.lit(0.0)).cast("double").alias("size_bytes")
    ).select(F.lit("").alias("ks"), F.lit("").alias("tbl"), "size_bytes")
    return per_tbl.unionByName(total).transform(report_sorted(F.desc("size_bytes"), "ks", "tbl"))


def q_workload_summary(spark: SparkSession, sf_dir: str,
                       cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Q3 — cluster-level workload scalars (explore.py:1749-1750,
    1789-1790, 1811-1826, 1563)."""
    m = load_model(spark, sf_dir)
    rt = reads_agg(spark, sf_dir, cfg).agg(
        F.coalesce(F.sum("req"), F.lit(0.0)).alias("total_reads"),
        F.coalesce(F.sum("tps"), F.lit(0.0)).alias("total_read_tps"),
    )
    wt = writes_agg(spark, sf_dir, cfg).agg(
        F.coalesce(F.sum("req"), F.lit(0.0)).alias("total_writes"),
        F.coalesce(F.sum("tps"), F.lit(0.0)).alias("total_write_tps"),
    )
    st = sizes_agg(spark, sf_dir, cfg).agg(
        F.coalesce(F.sum("size_bytes"), F.lit(0.0)).alias("total_size_bytes"))
    up = m.node_info.agg(F.avg("uptime_sec").alias("avg_uptime_sec"))
    return (
        rt.crossJoin(wt).crossJoin(st).crossJoin(up)
        .select(
            F.col("total_reads").cast("double"),
            F.col("total_writes").cast("double"),
            F.col("total_read_tps").cast("double"),
            F.col("total_write_tps").cast("double"),
            (F.col("total_read_tps") * SECONDS_PER_MONTH).cast("double").alias("read_tpmo"),
            (F.col("total_write_tps") * SECONDS_PER_MONTH).cast("double").alias("write_tpmo"),
            (F.col("total_reads") / (F.col("total_reads") + F.col("total_writes")))
            .cast("double").alias("total_r_pct_rw"),
            (F.col("total_writes") / (F.col("total_reads") + F.col("total_writes")))
            .cast("double").alias("total_w_pct_rw"),
            (F.col("total_size_bytes") / F.lit(1000000000.0)).cast("double").alias("data_size_gb"),
            F.col("avg_uptime_sec").cast("double"),
        )
    )


def q_workload_rw_outer(spark: SparkSession, sf_dir: str,
                        cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Q18 — full-outer merge of read × write workload per table
    (explore.py:1735-1779).  The reference renders missing sides as
    'n/a'; the engine keeps NULLs (rendering is the sink's job)."""
    r = reads_agg(spark, sf_dir, cfg).select(
        "ks", "tbl", F.col("req").alias("read_requests"),
        F.col("tps").alias("avg_read_tps"))
    w = writes_agg(spark, sf_dir, cfg).select(
        "ks", "tbl", F.col("req").alias("write_requests"),
        F.col("tps").alias("avg_write_tps"))
    # full-outer can't broadcast; both sides are per-table grains, so
    # a shuffled-hash join beats the default sort-merge (no sorts)
    return (
        r.join(w.hint("shuffle_hash"), ["ks", "tbl"], "full_outer")
        .select("ks", "tbl", "read_requests", "avg_read_tps",
                "write_requests", "avg_write_tps")
        .transform(report_sorted("ks", "tbl"))
    )


def q_summary_long(spark: SparkSession, sf_dir: str,
                   cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Q20 — summary.json flattened to long format
    (section, ks, tbl, metric, value), explore.py:1718-1790, 1851-1854.
    The nested-JSON rendering is a driver-side sink over these rows."""
    ra, wa = reads_agg(spark, sf_dir, cfg), writes_agg(spark, sf_dir, cfg)
    r = ra.select(
        F.lit("workload_read").alias("section"), "ks", "tbl",
        F.lit("requests").alias("metric"), F.col("req").alias("value"),
    ).unionByName(
        ra.select(
            F.lit("workload_read").alias("section"), "ks", "tbl",
            F.lit("tps").alias("metric"), F.col("tps").alias("value"),
        )
    )
    w = wa.select(
        F.lit("workload_write").alias("section"), "ks", "tbl",
        F.lit("requests").alias("metric"), F.col("req").alias("value"),
    ).unionByName(
        wa.select(
            F.lit("workload_write").alias("section"), "ks", "tbl",
            F.lit("tps").alias("metric"), F.col("tps").alias("value"),
        )
    )
    s = sizes_agg(spark, sf_dir, cfg).select(
        F.lit("data_size").alias("section"), "ks", "tbl",
        F.lit("bytes").alias("metric"), F.col("size_bytes").alias("value"),
    )
    summary = q_workload_summary(spark, sf_dir, cfg)
    tot = summary.select(
        F.explode(
            F.create_map(
                F.lit("total_reads"), F.col("total_reads"),
                F.lit("total_writes"), F.col("total_writes"),
                F.lit("total_read_tps"), F.col("total_read_tps"),
                F.lit("total_write_tps"), F.col("total_write_tps"),
                F.lit("data_size_gb"), F.col("data_size_gb"),
                F.lit("avg_uptime_sec"), F.col("avg_uptime_sec"),
            )
        ).alias("metric", "value")
    ).select(
        F.lit("totals").alias("section"), F.lit("").alias("ks"),
        F.lit("").alias("tbl"), "metric", F.col("value").cast("double"),
    )
    return r.unionByName(w).unionByName(s).unionByName(tot).transform(
        report_sorted("section", "ks", "tbl", "metric")
    )
