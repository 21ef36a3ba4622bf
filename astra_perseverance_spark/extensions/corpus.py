"""Session-cached base frames shared by every extension operator.

``documents.parquet`` / ``embeddings.parquet`` are single-file sources:
without an explicit repartition every downstream pipeline (shingling,
hashing, vector math) runs in ONE task, and without a cache each of the
~10 consuming operators re-reads and re-shuffles the corpus from
scratch.  The rows are cheap to shuffle but expensive to process —
partition for the compute, not the bytes (maxPartitionBytes cannot see
that).

Scale note: ``cache()`` is MEMORY_AND_DISK, so at 100 TB the cached
corpus spills rather than OOMs; a one-query production run can skip the
cache entirely (it only pays off across multiple consumers, which is
exactly the bench/driver shape here).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from astra_perseverance_spark.conformed.model import memo_frame, memo_value
from astra_perseverance_spark.functions.vectors import (
    hyperplane_bucket,
    norm2_q,
    plane_count,
    quantize,
)

# Opt-in durable layout: set to a database written by
# ``sinks.warehouse.write_bucketed_corpus`` and the corpus sources
# below read the doc_id-bucketed tables instead of raw parquet — the
# bucketed scan IS hash-clustered by doc_id, so doc_id joins, groupBys
# and windows plan with no Exchange and the session-scoped
# repartition+cache becomes unnecessary.  The flag binds the session
# to that one corpus (sf_dir is ignored while set); it is a deployment
# switch, not a per-query knob.
BUCKETED_DB_ENV = "SPARK_GRAFT_BUCKETED_DB"

# Opt-in durable INDEX artifacts: set to a database written by
# ``sinks.index_store.write_index_store`` and the incremental-serving
# queries (ann_incremental, ann_incremental_pq, dedup_incremental,
# split_assign_incremental) probe persisted tables — IVF centroids +
# list assignments, the int8 store + frozen quantization bounds, the
# content-digest dim, the capped shingle postings, and the
# existing-corpus component frame — instead of rebuilding them from
# the corpus per application.  Without it those artifacts are
# session-scoped ``memo_frame`` caches: correct, but rebuilt by every
# new Spark application, which is not the "batch-sized work against a
# persisted index" cost model a continuously ingesting pipeline needs.
# Like the bucketed toggle, this binds the session to one corpus and
# is a deployment switch, not a per-query knob.
INDEX_DB_ENV = "SPARK_GRAFT_INDEX_DB"


def bucketed_db() -> str | None:
    return os.environ.get(BUCKETED_DB_ENV) or None


# Scale-adaptive clustering width (optimization r15, guide §2).  The
# corpus frames used to repartition to ``defaultParallelism``
# unconditionally — a constant tuned for neither end of the scale: at
# bench scale (5 000 docs / 2 000 vectors) it makes every downstream
# stage schedule 32 tasks of ~100 rows each (measured: task scheduling,
# not compute, dominated the doc/vector families' execution seconds),
# and on a 100 TB cluster it would under-partition (one wave of
# enormous tasks).  ``cluster_width`` derives the width from the
# corpus size instead:
#
# - never build tasks smaller than ``min_rows`` (scheduling overhead
#   floor — at tiny corpora the width collapses to 1..cores);
# - never build tasks larger than ``target_rows`` (memory/straggler
#   ceiling — at production scale width grows linearly with the data,
#   ``rows/target_rows`` ≫ core count, exactly like a byte-sized scan);
# - use the session's cores in between.
#
# Both knobs are per-frame constants here (rows are the unit because
# the frames exist to cluster COMPUTE — shingling, hashing, vector
# math — whose cost is per row, not per byte; row counts are also
# already-memoized driver scalars, so sizing is free).  Cluster
# deploys can override via env without code changes.
DOCS_MIN_ROWS_ENV = "SPARK_GRAFT_DOCS_MIN_ROWS"
DOCS_TARGET_ROWS_ENV = "SPARK_GRAFT_DOCS_TARGET_ROWS"
VECS_MIN_ROWS_ENV = "SPARK_GRAFT_VECS_MIN_ROWS"
VECS_TARGET_ROWS_ENV = "SPARK_GRAFT_VECS_TARGET_ROWS"

# ~1k docs of ~2 KB keep a task meaningfully sized; 50k docs ≈ 100 MB
# of raw text (plus the gram explosion) bound a production task.
DOCS_MIN_ROWS = 1_000
DOCS_TARGET_ROWS = 50_000
# 64-d int8 vectors are narrow, but several consumers do O(n·K)
# work per row (the 16-query broadcast cosine self-joins): a width-1
# frame at bench scale serialized those (embedding_cosine_dups
# measured +0.5 s) while width 4 kept them parallel and still cut
# the scheduling fan-out 8×.  500 rows ≈ a few hundred µs of HOF
# compute floors a task; 200k (~13 MB quantized) caps one.
VECS_MIN_ROWS = 500
VECS_TARGET_ROWS = 200_000
# ``clustered_docs`` feeds the explode+window pipelines (shingling,
# winnowing, span trim): every doc fans out to hundreds of
# token/gram rows INSIDE the task, so per-task compute is already
# fat at a few hundred docs — measured: flooring its width like
# ``docs_frame`` (5 partitions at sf0.1) cost the token-window
# family 1.5–1.9× wall time.  Floor at 1 row/task (i.e. use every
# core whenever there are at least that many docs) and let the
# 50k-target take over at corpus scale.
CDOCS_MIN_ROWS_ENV = "SPARK_GRAFT_CDOCS_MIN_ROWS"
CDOCS_MIN_ROWS = 1


def cluster_width(spark: SparkSession, n_rows: int,
                  min_rows: int, target_rows: int) -> int:
    """Partition count for clustering ``n_rows`` compute-bearing rows:
    ``max(min(cores, ceil(n/min_rows)), ceil(n/target_rows))`` — floors
    task size at small n, grows linearly with the corpus at large n,
    fills the cores in between."""
    import math

    n = max(int(n_rows), 1)
    par = spark.sparkContext.defaultParallelism
    return max(min(par, math.ceil(n / max(min_rows, 1))),
               math.ceil(n / max(target_rows, 1)))


def _docs_width(spark: SparkSession, sf_dir: str) -> int:
    return cluster_width(
        spark, n_docs(spark, sf_dir),
        int(os.environ.get(DOCS_MIN_ROWS_ENV) or 0) or DOCS_MIN_ROWS,
        int(os.environ.get(DOCS_TARGET_ROWS_ENV) or 0) or DOCS_TARGET_ROWS)


def _vecs_width(spark: SparkSession, sf_dir: str) -> int:
    return cluster_width(
        spark, n_vectors(spark, sf_dir),
        int(os.environ.get(VECS_MIN_ROWS_ENV) or 0) or VECS_MIN_ROWS,
        int(os.environ.get(VECS_TARGET_ROWS_ENV) or 0) or VECS_TARGET_ROWS)


def index_db() -> str | None:
    return os.environ.get(INDEX_DB_ENV) or None


def index_artifact(spark: SparkSession, name: str) -> DataFrame | None:
    """The persisted index table ``name`` when the index-store toggle
    is set, else None (caller falls back to the session-memo build).
    The branch binds at plan-build time, exactly like ``bucketed_db``:
    with the env unset the consuming query's plan is bit-identical to
    the memo-only code."""
    db = index_db()
    if db:
        return spark.table(f"{db}.{name}")
    return None


def docs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` clustered by doc_id: the bucketed warehouse table
    when ``SPARK_GRAFT_BUCKETED_DB`` is set (durable clustering, no
    cache needed), else raw parquet repartitioned + cached per
    session."""
    db = bucketed_db()
    if db:
        return spark.table(f"{db}.documents")
    return memo_frame(
        spark, sf_dir, ("docs_repart",),
        lambda: spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(_docs_width(spark, sf_dir), "doc_id"),
    )


def clustered_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` clustered by doc_id INSIDE the consumer's plan —
    for per-doc explode + window pipelines (``dedup.k_gram_rows``,
    ``text_stats.q_doc_fingerprint``).

    Unlike the cached ``docs_frame``, the repartition is planned in
    the same query: the AQE-planned cache hides its output
    partitioning, so a window above it re-exchanges at whatever grain
    it is handed (token/char rows ≈ 2–24× corpus bytes); planned
    inline, the one exchange carries the documents themselves and
    everything after the explode is partition-local.  In bucketed-
    warehouse mode there is no exchange at all."""
    db = bucketed_db()
    if db:
        return spark.table(f"{db}.documents")
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(
            cluster_width(
                spark, n_docs(spark, sf_dir),
                int(os.environ.get(CDOCS_MIN_ROWS_ENV) or 0)
                or CDOCS_MIN_ROWS,
                int(os.environ.get(DOCS_TARGET_ROWS_ENV) or 0)
                or DOCS_TARGET_ROWS),
            "doc_id")
    )


# Row counts: driver-side scalars (parquet-metadata counts) that size
# the corpus-scaled key spaces (LSH plane count, SimHash block width);
# memoized so consumers don't re-run the count job.
def n_vectors(spark: SparkSession, sf_dir: str) -> int:
    db = bucketed_db()
    return memo_value(spark, sf_dir, ("n_vectors",), lambda: (
        spark.table(f"{db}.embeddings") if db else
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")).count())


def n_docs(spark: SparkSession, sf_dir: str) -> int:
    db = bucketed_db()
    return memo_value(spark, sf_dir, ("n_docs",), lambda: (
        spark.table(f"{db}.documents") if db else
        spark.read.parquet(f"{sf_dir}/documents.parquet")).count())


def vectors_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, eq, n2, bucket): quantized embeddings, exact
    sq-norms, and the LSH bucket id — cached per session.  The plane
    count scales with the corpus (``vectors.plane_count``), keeping the
    expected bucket size constant as n grows; at a production scale the
    count would be a pipeline config rather than a per-run count job.

    The quantize / norm / bucket pass is 13 interpreted zip_with +
    aggregate reductions over 64 dims per row (HOF lambdas never enter
    whole-stage codegen), and every similarity query evaluates the
    frame at least twice (both sides of a self-join, or corpus +
    query side).  Caching the derived columns once cut the warm
    LSH-bucket queries ~3× and the broadcast top-k ~30%; the cache is
    MEMORY_AND_DISK, so at 100 TB it spills rather than OOMs."""
    def base() -> DataFrame:
        # the bucketed embeddings table (write_bucketed_corpus) is
        # already vec_id-clustered — the module contract ("sf_dir is
        # ignored while set") applies to the vector side too, so the
        # persisted table finally has its reader
        db = bucketed_db()
        if db:
            return spark.table(f"{db}.embeddings")
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
            _vecs_width(spark, sf_dir), "vec_id")

    return memo_frame(
        spark, sf_dir, ("vectors_bucket",),
        lambda: base()
        .select("vec_id", "label", quantize(F.col("embedding")).alias("eq"))
        .withColumn("n2", norm2_q(F.col("eq")))
        .withColumn(
            "bucket",
            hyperplane_bucket(
                F.col("eq"), plane_count(n_vectors(spark, sf_dir))
            ),
        ),
    )
