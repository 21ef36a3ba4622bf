"""Q5 GC-pause percentile rollup + Q19 P99 health finding.

Reference: get_gc_data (explore.py:364-398) computes the same
percentile block at Database, DC, and Node level (explore.py:332-334,
1072-1077) — i.e. GROUPING SETS ((), (dc), (dc,node)).

Implementation is histogram-based (see functions.percentiles): the
fact is first collapsed to (group, pause_ms) counts — bounded
cardinality — then every statistic (count, min/max, nearest-rank
percentiles, argmax-with-latest-ts tie-break) is read off the
histogram.  The three grouping levels re-aggregate the *node-level
histogram*, not the raw fact, so the event data is scanned exactly
once regardless of scale.

The argmax tie-break (max_ts = timestamp of the max pause, ties →
latest ts, explore.py:335-341) uses an integer pack:
``pause·10^10 + epoch_sec`` — exact in int64, portable to any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from astra_perseverance_spark.config import DEFAULT_CONFIG, EngineConfig
from astra_perseverance_spark.conformed import load_model
from astra_perseverance_spark.conformed.model import memo_frame
from astra_perseverance_spark.functions.ordering import report_sorted
from astra_perseverance_spark.functions.percentiles import GC_PCTS, nearest_rank_1based

_PACK = 10_000_000_000  # pause_ms ≤ 10^6 ≪ pack base; epoch_sec < 10^10


def _node_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dc, node, pause_ms) histogram with per-bucket ts extremes.

    The reduction every GC consumer starts from (Q5's three rollup
    levels, Q19, the warnings P99 gate, Q20).  Its cardinality is
    bounded — nodes × distinct pause_ms — so caching it is safe at any
    fact scale and collapses the raw-event scan to one."""

    def build() -> DataFrame:
        gc = load_model(spark, sf_dir).gc_event
        return gc.select(
            "dc", "node", "pause_ms", F.col("ts").cast("long").alias("ep")
        ).groupBy("dc", "node", "pause_ms").agg(
            F.count("*").alias("cnt"),
            F.min("ep").alias("min_ep"),
            F.max("ep").alias("max_ep"),
        )

    return memo_frame(spark, sf_dir, ("gc_node_hist",), build)


def q_gc_percentiles(spark: SparkSession, sf_dir: str,
                     cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Q5 — GROUPING SETS ((), (dc), (dc,node)) percentile blocks.

    One shuffle off the cached node histogram: each (dc,node,pause_ms)
    bucket belongs to exactly three rollup groups — (dc,node), (dc),
    () — so exploding it threefold expresses the grouping sets in a
    single pass.  A cumulative-count window ordered by pause_ms plus a
    whole-partition total yields every nearest-rank pick inside the
    following same-keyed groupBy (which reuses the window's hash
    partitioning — no second exchange).  Everything stays inside
    whole-stage codegen; the exploded frame is 3× the *histogram*
    (bounded by nodes × distinct pause values), never the fact.
    ``cfg`` is accepted for the report sinks' uniform call shape; no
    threshold enters the rollup.
    """
    g = F.explode(F.array(
        F.struct(F.lit(2).alias("lvl"), F.col("dc").alias("gdc"),
                 F.col("node").alias("gnode")),
        F.struct(F.lit(1).alias("lvl"), F.col("dc").alias("gdc"),
                 F.lit("ALL").alias("gnode")),
        F.struct(F.lit(0).alias("lvl"), F.lit("ALL").alias("gdc"),
                 F.lit("ALL").alias("gnode")),
    )).alias("g")
    keys = ["lvl", "dc", "node"]
    h = _node_hist(spark, sf_dir).select(
        g, "pause_ms", "cnt", "min_ep", "max_ep"
    ).select(
        F.col("g.lvl").alias("lvl"), F.col("g.gdc").alias("dc"),
        F.col("g.gnode").alias("node"), "pause_ms", "cnt",
        "min_ep", "max_ep",
    )
    w_cum = Window.partitionBy(*keys).orderBy("pause_ms") \
        .rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(*keys)
    h = (
        h.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(w_all))
    )
    # duplicate pause_ms rows (same value from different nodes) are fine:
    # cum rises within the tie-group and min(when(cum ≥ rank)) still
    # lands on that same pause value.
    picks = [
        F.min(F.when(F.col("cum") >= nearest_rank_1based(F.col("n"), p),
                     F.col("pause_ms"))).cast("long").alias(f"p{p}")
        for p in GC_PCTS
    ]
    return (
        h.groupBy(*keys).agg(
            F.max("n").cast("long").alias("pauses"),
            F.min("pause_ms").cast("long").alias("min_ms"),
            *picks,
            F.max("pause_ms").cast("long").alias("max_ms"),
            F.min("min_ep").alias("from_ts"),
            F.max("max_ep").alias("to_ts"),
            (F.max(F.col("pause_ms").cast("long") * _PACK + F.col("max_ep"))
             % _PACK).alias("max_ts"),
        )
        .select(
            F.col("lvl").cast("long").alias("lvl"), "dc", "node",
            "pauses", "min_ms", *[f"p{p}" for p in GC_PCTS],
            "max_ms", "from_ts", "to_ts", "max_ts",
        )
        .transform(report_sorted("lvl", "dc", "node"))
    )


def q_gc_p99_health(spark: SparkSession, sf_dir: str,
                    cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Q19 — groups whose P99 GC pause exceeds tp_gcp (800 ms),
    explore.py:388-389."""
    tp = cfg.thresholds.tp_gcp_ms
    return (
        q_gc_percentiles(spark, sf_dir, cfg)
        .filter(F.col("p99") > tp)
        .select("lvl", "dc", "node", "p99",
                F.lit(tp).cast("long").alias("threshold_ms"))
        .transform(report_sorted("lvl", "dc", "node"))
    )
