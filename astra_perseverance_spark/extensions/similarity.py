"""Similarity search over the ``embeddings`` table.

Four paths, same exact-integer cosine (``functions.vectors``):

- ``q_embedding_topk`` — brute-force exact top-k for a FIXED-SIZE
  query panel (the ``ANN_QUERY_COUNT`` vectors with the smallest
  (h15(vec_id), vec_id) — deterministic and corpus-size-free, the same
  hash-selection trick as ``corpus_sample``).  The query side is a
  constant-size broadcast, so the plan is one scan of the corpus with
  a broadcast nested-loop of width |panel| — cost O(|corpus| · K),
  linear in the corpus — the right recall baseline: an audit needs a
  bounded query sample, never a constant *fraction* (a stride grows
  with n and makes the audit quadratic).
- ``q_ann_lsh_bucket`` — random-hyperplane LSH: corpus and queries
  hash to 2^planes sign-buckets; candidates are bucket-local
  (equi-join on the bucket id, shuffle-partitioned by bucket), then
  exact cosine top-k within the candidate set.  The plane count scales
  with the corpus (``vectors.plane_count``) so expected bucket size —
  and with it work per query — stays constant as n grows.
- ``q_ann_ivf`` — inverted-file coarse quantizer: vectors join their
  nearest centroid's list, queries probe ``IVF_NPROBE`` lists.  The
  IVF/LSH pair covers both standard ANN index families; recall knobs
  are list count and nprobe.
- ``q_ann_ivf_kmeans`` — the same IVF pipeline over centroids trained
  with ``KMEANS_ITERS`` integer-exact distributed Lloyd iterations
  (bitwise-reproducible on both engines); ``q_ann_recall_audit`` /
  ``q_ann_recall_ivf_kmeans`` report recall@k for the LSH and trained
  paths against the brute-force baseline.

Ranking ties are impossible to mis-order: cosine values are
bit-identical across engines (exact integer dot/norms, one float
expression) and the window orders by (cosine DESC, neighbor id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from astra_perseverance_spark.conformed.model import memo_frame, memo_value
from astra_perseverance_spark.extensions.corpus import index_artifact
from astra_perseverance_spark.extensions.corpus import vectors_frame as _vectors
from astra_perseverance_spark.functions.ordering import (
    report_sort,
    report_sorted,
    salted_topk,
)
from astra_perseverance_spark.functions.texthash import h15
from astra_perseverance_spark.functions.vectors import (
    ANN_TOPK,
    cosine,
    dot_q,
    norm2_q,
)

# Fixed-size query panel: the K vectors with the smallest
# (h15(vec_id), vec_id).  A constant, not a fraction — the brute-force
# baseline and the recall audit stay O(n·K) at any corpus size.
ANN_QUERY_COUNT = 16

# Embedding near-dup cosine threshold.  Production pipelines use
# ~0.95; the driver's synthetic embeddings are near-orthogonal random
# vectors (max pairwise cosine ≈ 0.4–0.6), so the registered query
# uses 0.35 to keep the operator path exercised end to end.
DUP_COSINE_MIN = 0.35

# IVF coarse quantizer sizing: ~min(IVF_MAX_LISTS, √n) lists — the
# standard IVF rule.  A FIXED stride would make the list count grow
# linearly in n and the n×k assignment pass quadratic (the scale probe
# caught exactly that as an ~11× build ratio at 8× corpus); √n keeps
# assignment at n^1.5 until the 4096-list cap makes it linear.
# Queries probe their 2 nearest lists.
IVF_MAX_LISTS = 4096
IVF_NPROBE = 2


def ivf_stride(n: int) -> int:
    """Centroid-selection stride giving ≈ min(IVF_MAX_LISTS, ⌊√n⌋)
    lists.  ``math.isqrt`` is exact; the DuckDB twin's
    ``floor(sqrt(n))`` matches it for every n below 2^52 (doubles
    represent those integers exactly and IEEE sqrt is correctly
    rounded — documented bound, far above any vector count here)."""
    import math

    k = max(1, min(IVF_MAX_LISTS, math.isqrt(max(n, 1))))
    return max(1, n // k)


def query_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id): the deterministic fixed-size query panel — exact
    global top-K by (h15(vec_id), vec_id) via the two-phase salted
    top-k (no single-reducer sort over the corpus; vec_id is the
    unique tie-breaker ``salted_topk`` requires).  Memoized: every
    ANN path and both recall audits probe the same panel."""
    def build() -> DataFrame:
        v = _vectors(spark, sf_dir).select("vec_id").withColumn(
            "qh", h15(F.col("vec_id").cast("string"))
        )
        return salted_topk(
            v, [], ["qh", "vec_id"], ANN_QUERY_COUNT, "vec_id"
        ).select("vec_id")

    return memo_frame(spark, sf_dir, ("ann_query_panel",), build)


def _topk_rows(pairs: DataFrame) -> DataFrame:
    """Per-query exact top-k rows, UNSORTED output (optimization r16).

    Spark 4 plans the rank-≤-k filter as a partial ``WindowGroupLimit``
    BEFORE the exchange, so the window shuffle carries at most k rows
    per (query, map partition) — the two-phase top-k shape for free,
    no salting needed (verified in ``plans/r16``).  The final ordering
    is applied by the caller: the panel-grain queries use
    ``report_sort`` (output bounded at |panel|·k = 160 rows by
    construction — a plain ``orderBy`` plans a range exchange whose
    boundary-sampling job re-executes the window subtree), the
    batch-grain incremental queries keep the distributed ``orderBy``
    (their output scales with the batch), and the recall audits
    consume these rows UNORDERED (the optimizer does not eliminate a
    global sort under the audit aggregation — measured 2 extra range
    exchanges + sampling passes per audit when the arms were built
    from the sorted queries)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_TOPK)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _exact_topk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact brute-force baseline's top-k rows, UNSORTED — the arm
    every recall audit consumes (they aggregate, so the registered
    query's final sort would only add a range exchange + sampling
    pass to each audit plan)."""
    v = _vectors(spark, sf_dir)
    q = (
        v.join(F.broadcast(query_ids(spark, sf_dir)), "vec_id", "semi")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("eq").alias("q_eq"),
            F.col("n2").alias("q_n2"),
        )
    )
    v = v.drop("bucket")
    pairs = (
        v.join(F.broadcast(q), v.vec_id != q.query_id)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(dot_q(F.col("q_eq"), F.col("eq")), F.col("q_n2"), F.col("n2"))
            .alias("cosine"),
        )
    )
    return _topk_rows(pairs)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for each panel query vector
    (``query_ids``), self excluded."""
    return report_sort(
        _exact_topk_rows(spark, sf_dir), "query_id", "rank")


def _lsh_topk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-bucketed path's top-k rows, UNSORTED (the recall
    audit's arm — see ``_exact_topk_rows``)."""
    v = _vectors(spark, sf_dir)
    q = (
        v.join(F.broadcast(query_ids(spark, sf_dir)), "vec_id", "semi")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("eq").alias("q_eq"),
            F.col("n2").alias("q_n2"),
            F.col("bucket"),
        )
    )
    pairs = (
        v.join(q, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(dot_q(F.col("q_eq"), F.col("eq")), F.col("q_n2"), F.col("n2"))
            .alias("cosine"),
        )
    )
    return _topk_rows(pairs)


def q_ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: same queries as ``q_embedding_topk`` but
    candidates restricted to the query's hyperplane bucket, then exact
    cosine top-10 within the bucket.

    The join key is the 12-bit bucket id — bucket-local shuffles, no
    broadcast of the corpus, no all-pairs product."""
    return report_sort(
        _lsh_topk_rows(spark, sf_dir), "query_id", "rank")


def _panel_probes(spark: SparkSession, sf_dir: str,
                  ranked: DataFrame) -> DataFrame:
    """Probe rows for the fixed query panel from a ranked IVF frame:
    (query_id, q_eq, q_n2, cid) for each of the panel's nprobe lists
    — shared by every panel-probing IVF variant."""
    return (
        ranked.join(F.broadcast(query_ids(spark, sf_dir)), "vec_id", "semi")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("eq").alias("q_eq"),
            F.col("n2").alias("q_n2"),
            "cid",
        )
    )


def _batch_probes(new: DataFrame, cent: DataFrame) -> DataFrame:
    """Probe rows for a NEW-vector batch against broadcast persisted
    centroids: affinity-rank every batch vector's lists, keep the
    ``IVF_NPROBE`` nearest — shared by both incremental variants."""
    probe_aff = new.join(F.broadcast(cent)).select(
        F.col("vec_id").alias("query_id"),
        F.col("eq").alias("q_eq"),
        F.col("n2").alias("q_n2"),
        "cid",
        cosine(dot_q(F.col("eq"), F.col("c_eq")), F.col("n2"),
               F.col("c_n2")).alias("ccos"),
    )
    w_aff = Window.partitionBy("query_id").orderBy(F.desc("ccos"), "cid")
    return (
        probe_aff.withColumn("crank", F.row_number().over(w_aff))
        .filter(F.col("crank") <= IVF_NPROBE)
        .select("query_id", "q_eq", "q_n2", "cid")
    )


def _probe_score_topk(probes: DataFrame, assign: DataFrame,
                      db_eq: str, db_n2: str,
                      exclude_self: bool) -> DataFrame:
    """The candidate-scoring tail every IVF variant shares: list-local
    equi-join on cid (shuffle_hash — list membership is corpus-sized,
    never broadcast), cosine of the exact-fixed-point query side
    against the ``db_eq``/``db_n2`` store columns (full-precision or
    int8-reconstructed ADC), exact top-k.  One definition, so a fix
    to the join hint or the self-exclusion applies to all variants.
    Returns UNSORTED top-k rows (``_topk_rows``): the panel queries
    apply ``report_sort``, the batch-grain incremental queries a
    distributed ``orderBy``, the recall audits no sort at all."""
    pairs = probes.join(assign.hint("shuffle_hash"), "cid")
    if exclude_self:
        pairs = pairs.filter(F.col("vec_id") != F.col("query_id"))
    return _topk_rows(pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(dot_q(F.col("q_eq"), F.col(db_eq)),
               F.col("q_n2"), F.col(db_n2)).alias("cosine"),
    ))



def _cid_clustered(spark: SparkSession, sf_dir: str, build,
                   art_name: str | None = None) -> DataFrame:
    """Cluster a corpus-sized index artifact by cid before it enters
    the session memo (optimization r16) — the SAME layout the
    persisted store gives these artifacts (``sinks.index_store``
    buckets ``ann_ivf_lists`` / ``kmeans_lists`` by cid), so every
    list-local (cid) equi-join probes the cached artifact without
    re-exchanging it per run: the serving-side n-row shuffle moves
    into the one-time index build, exactly where a production system
    pays it.  With the index store bound (``art_name`` persisted) the
    table is already cid-bucketed and passes through untouched."""
    from astra_perseverance_spark.extensions.corpus import _vecs_width

    if art_name is not None:
        art = index_artifact(spark, art_name)
        if art is not None:
            return art
    return build().repartition(_vecs_width(spark, sf_dir), "cid")


def _ivf_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized untrained-IVF index (crank ≤ nprobe), cid-
    clustered (see ``_cid_clustered``; this artifact has no persisted
    twin — the store ships the trained index)."""
    return memo_frame(
        spark, sf_dir, ("ivf_lists",),
        lambda: _cid_clustered(
            spark, sf_dir, lambda: _build_ivf_lists(spark, sf_dir)))


def _kmeans_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized trained-IVF index (crank ≤ nprobe), cid-clustered
    — shared by ``q_ann_ivf_kmeans``, ``q_semdedup``,
    ``q_cluster_purity`` and the quantized serving path."""
    return memo_frame(
        spark, sf_dir, ("ivf_kmeans_lists",),
        lambda: _cid_clustered(
            spark, sf_dir,
            lambda: _build_ivf_kmeans_lists(spark, sf_dir,
                                            with_label=True),
            art_name="kmeans_lists"))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: an inverted-file coarse quantizer as the second
    scale path next to LSH bucketing.

    1. coarse centroids = every ``ivf_stride(n)``-th vector, giving
       ≈ min(IVF_MAX_LISTS, √n) lists (deterministic stand-in for
       k-means centroids — the list *structure* is what's under
       test; ``q_ann_ivf_kmeans`` adds the trainer);
    2. every vector joins the list of its nearest centroid by exact
       cosine (a broadcast of the ≈ min(√n, 4096) centroids against
       the corpus — one partition-parallel pass, ties broken by
       centroid id);
    3. each query probes its ``IVF_NPROBE`` nearest lists; candidates
       are list-local (equi-join on centroid id), then exact cosine
       top-k.

    At 100 TB: centroid assignment is a broadcast map pass; the
    candidate join shuffles on the list id, and probing costs
    O(|query| · n/|lists| · nprobe) — the classic IVF trade-off, with
    |lists| playing the role the plane count plays for LSH.  A vector
    belongs to exactly one list and probe lists are distinct, so no
    pair dedup is needed."""
    # (vec_id, eq, n2, cid, crank ≤ nprobe) — memoized: the assign
    # branch (crank = 1, all vectors) and the probe branch (crank ≤
    # nprobe, query vectors) both read this frame, and without the
    # cache the n×k centroid-affinity pass runs once per branch.  This
    # is the IVF index build — the artifact a production system
    # persists.
    return report_sort(_ivf_topk_rows(spark, sf_dir), "query_id", "rank")


def _ivf_topk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The untrained-IVF path's top-k rows, UNSORTED (see
    ``_exact_topk_rows`` for why the audits consume this form)."""
    ranked = _ivf_ranked(spark, sf_dir)
    assign = ranked.filter(F.col("crank") == 1).select(
        "vec_id", "eq", "n2", "cid"
    )
    return _probe_score_topk(
        _panel_probes(spark, sf_dir, ranked), assign,
        db_eq="eq", db_n2="n2", exclude_self=True)


def _build_ivf_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index: every vector's ``IVF_NPROBE`` nearest coarse
    centroids by exact cosine (crank 1 is its list assignment)."""
    v = _vectors(spark, sf_dir).drop("bucket")
    from astra_perseverance_spark.extensions.corpus import n_vectors

    stride = ivf_stride(n_vectors(spark, sf_dir))
    cent = v.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("eq").alias("c_eq"),
        F.col("n2").alias("c_n2"),
    )
    aff = v.join(F.broadcast(cent)).select(
        "vec_id", "eq", "n2", "cid",
        cosine(dot_q(F.col("eq"), F.col("c_eq")), F.col("n2"), F.col("c_n2"))
        .alias("ccos"),
    )
    w_aff = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), "cid")
    return (
        aff.withColumn("crank", F.row_number().over(w_aff))
        .filter(F.col("crank") <= IVF_NPROBE)
        .select("vec_id", "eq", "n2", "cid", "crank")
    )


def q_embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ ``DUP_COSINE_MIN``
    within a hyperplane bucket (the embedding-space analog of MinHash
    dedup).

    Bucket-local pairing only — the standard scale pattern for
    embedding dedup; near-identical vectors land in the same bucket
    with probability ≈ 1 − planes·θ/π."""
    return _cosine_dup_pairs(spark, sf_dir).orderBy("vec_a", "vec_b")


def _cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, cosine) bucket-local near-dup pairs, unordered —
    shared by ``q_embedding_cosine_dups`` and the cluster rollup."""
    v = _vectors(spark, sf_dir)
    return (
        v.alias("x")
        .join(v.alias("y"), "bucket")
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            cosine(
                dot_q(F.col("x.eq"), F.col("y.eq")), F.col("x.n2"), F.col("y.n2")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= DUP_COSINE_MIN)
    )


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN path against the exact
    brute-force baseline, per panel query — the audit every production
    ANN deployment runs to tune its index knobs (here: the
    ``plane_count`` schedule).  The panel is fixed-size, so the audit
    costs O(n·K) — bounded at any corpus scale.

    recall = |exact top-k ∩ bucketed top-k| / |exact top-k| — both
    sides are deterministic (exact integer cosine, total tie order),
    so the audit itself is oracle-checkable, not just a diagnostic.

    The intersection is a tagged union + one (query, neighbor)-keyed
    aggregate — no join: both result sets scale with |queries| (not a
    broadcastable dim), and a membership test over two same-keyed
    sets is exactly what a shuffle aggregate computes.  Keeps the
    engine's no-SortMergeJoin plan invariant (docs/PLAN_AUDIT.md)."""
    return _recall_vs_exact(
        _exact_topk_rows(spark, sf_dir), _lsh_topk_rows(spark, sf_dir))


def _recall_vs_exact(exact_topk: DataFrame, ann_topk: DataFrame) -> DataFrame:
    """recall@k rows (query_id, n_exact, n_hit, recall) for any ANN
    result frame against the exact baseline — the tagged-union
    membership aggregate shared by every audit variant.

    ONE query-grain aggregation (optimization r16): each arm
    contributes ≤ k distinct neighbors per query (top-k rows are
    unique per (query, neighbor) — a vector sits in exactly one IVF
    list and probe lists are distinct, so no candidate scores twice),
    so per-query set algebra IS the membership test — ``n_exact`` =
    |exact set|, ``n_hit`` = |exact ∩ ann|.  ``collect_set`` merges
    map-side partials, the sets are ≤ k elements by construction, and
    the previous two-stage shape ((query, neighbor)-grain aggregate →
    query-grain aggregate) collapsed to one exchange.  Both arms
    arrive UNSORTED (``*_topk_rows``) and the output is
    ``report_sort``-ordered — the audit emits one row per panel query
    (≤ ``ANN_QUERY_COUNT``), bounded at any corpus scale."""
    exact = (
        exact_topk
        .select("query_id", "neighbor_id")
        .withColumn("src", F.lit(1))
    )
    ann = (
        ann_topk
        .select("query_id", "neighbor_id")
        .withColumn("src", F.lit(2))
    )
    sets = (
        exact.unionByName(ann)
        .groupBy("query_id")
        .agg(
            F.collect_set(F.when(F.col("src") == 1, F.col("neighbor_id")))
            .alias("exact_set"),
            F.collect_set(F.when(F.col("src") == 2, F.col("neighbor_id")))
            .alias("ann_set"),
        )
    )
    return report_sort(
        sets.filter(F.size("exact_set") > 0)
        .select(
            "query_id",
            F.size("exact_set").cast("long").alias("n_exact"),
            F.size(F.array_intersect("exact_set", "ann_set"))
            .cast("long").alias("n_hit"),
        )
        .select(
            "query_id", "n_exact", "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_exact")).alias("recall"),
        ),
        "query_id",
    )


def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding duplicate groups: connected components of the cosine
    near-dup pair graph, each vector labeled with its component's
    minimum vec_id — the same composition the text side uses
    (``dedup.q_dedup_clusters``), reusing
    ``functions.graph.connected_components`` (O(log diameter)
    distributed label propagation, memoized labels).

    Output: (cluster_id, vec_id, cluster_size), size ≥ 2 by
    construction (singletons have no edges)."""
    from astra_perseverance_spark.functions.graph import (
        connected_components,
    )

    comp = memo_frame(
        spark, sf_dir, ("emb_dup_components",),
        lambda: connected_components(
            _cosine_dup_pairs(spark, sf_dir).select("vec_a", "vec_b")
        ),
    )
    return (
        comp.select(
            F.col("component").alias("cluster_id"),
            F.col("node").alias("vec_id"),
        )
        .withColumn(
            "cluster_size",
            F.count("*").over(Window.partitionBy("cluster_id")),
        )
        .orderBy("cluster_id", "vec_id")
    )


# Lloyd iterations for the trained IVF variant.  Two rounds moves
# every centroid to a data-adaptive position (empirically the recall
# jump is in the first rounds); each extra round is one more
# broadcast-assign + one tiny per-list aggregation.
KMEANS_ITERS = 2


def _kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cid, c_eq, c_n2): coarse-quantizer centroids after
    ``KMEANS_ITERS`` distributed Lloyd iterations — INTEGER-EXACT, so
    the DuckDB twin converges to bit-identical centroids:

    - assignment metric is squared euclidean distance in quantized
      space, d² = |v|² + |c|² − 2·v·c — all BIGINT, no float order
      dependence; ties break toward the smaller centroid id;
    - the update step is a per-dimension truncating integer mean
      (``Σ v_d DIV count`` — Spark DIV and DuckDB // both truncate
      toward zero, verified) — centroids stay lattice points, so the
      next assignment is again exact;
    - seeds are the stride-selected vectors (same as the untrained
      variant), list ids stay the seed ids, and a list that loses all
      members simply disappears (deterministic on both engines).

    Scale shape: each iteration is one broadcast of the ~n/stride
    centroids against the corpus (map-side, no shuffle) plus one
    centroid-grain aggregation (64 integer sums per list — map-side
    partial agg; the shuffle carries |lists|·partitions rows).  The
    driver holds nothing; iterations extend the lineage by two narrow
    stages each.

    With ``SPARK_GRAFT_INDEX_DB`` set this is the persisted
    ``kmeans_centroids`` table — a fresh application serves the
    trained quantizer without re-running a single Lloyd iteration
    (training is the store build's single most expensive stage, which
    is exactly why it is the one most worth persisting)."""
    from astra_perseverance_spark.functions.vectors import ANN_DIM

    art = index_artifact(spark, "kmeans_centroids")
    if art is not None:
        return art

    v = _vectors(spark, sf_dir).select("vec_id", "eq", "n2")
    from astra_perseverance_spark.extensions.corpus import n_vectors

    stride = ivf_stride(n_vectors(spark, sf_dir))
    cent = v.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("eq").alias("c_eq"),
        F.col("n2").alias("c_n2"),
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    for _ in range(KMEANS_ITERS):
        members = (
            v.join(F.broadcast(cent))
            .select(
                "vec_id", "eq", "cid",
                (F.col("n2") + F.col("c_n2")
                 - 2 * dot_q(F.col("eq"), F.col("c_eq"))).alias("d2"),
            )
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
        )
        sums = members.groupBy("cid").agg(
            F.count("*").alias("cnt"),
            *[F.sum(F.col("eq")[d]).alias(f"s{d}") for d in range(ANN_DIM)],
        )
        cent = sums.select(
            "cid",
            F.array(
                *[F.expr(f"s{d} DIV cnt").cast("long")
                  for d in range(ANN_DIM)]
            ).alias("c_eq"),
        ).withColumn("c_n2", norm2_q(F.col("c_eq")))
    return cent


def _build_ivf_kmeans_lists(spark: SparkSession, sf_dir: str,
                            cent: DataFrame | None = None,
                            with_label: bool = False) -> DataFrame:
    """The trained IVF index: every vector's ``IVF_NPROBE`` nearest
    trained centroids by integer d² (crank 1 = its list).  With
    ``SPARK_GRAFT_INDEX_DB`` set this is the persisted (cid-bucketed)
    ``kmeans_lists`` table; ``cent`` lets the store WRITER feed the
    centroid table it just persisted instead of re-training (same
    deterministic rows — the pattern of ``_build_incremental_index``).
    The trained index covers the WHOLE corpus at build time (unlike
    the even-half incremental index), so ``extend_index_store``
    deliberately does not append to it — its refresh cadence is the
    ``write_index_store`` rebuild, the same retrain the
    ``ann_index_health`` drift signals call for.

    ``with_label`` (session-memo path only, r16) rides the vectors'
    label column through the build so ``q_cluster_purity`` reads it
    straight off the memoized index instead of re-joining the corpus
    on vec_id per run — one extra tiny column in the session cache,
    zero extra joins.  The PERSISTED ``kmeans_lists`` schema is
    unchanged (the store writer keeps the default)."""
    art = index_artifact(spark, "kmeans_lists")
    if art is not None:
        return art
    extra = ["label"] if with_label else []
    v = _vectors(spark, sf_dir).select("vec_id", "eq", "n2", *extra)
    if cent is None:
        cent = _kmeans_centroids(spark, sf_dir)
    aff = v.join(F.broadcast(cent)).select(
        "vec_id", "eq", "n2", *extra, "cid",
        (F.col("n2") + F.col("c_n2")
         - 2 * dot_q(F.col("eq"), F.col("c_eq"))).alias("d2"),
    )
    w_aff = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (
        aff.withColumn("crank", F.row_number().over(w_aff))
        .filter(F.col("crank") <= IVF_NPROBE)
        .select("vec_id", "eq", "n2", *extra, "cid", "crank")
    )


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a TRAINED coarse quantizer: the ``ann_ivf``
    pipeline with the stride seeds replaced by ``KMEANS_ITERS``
    integer-exact distributed Lloyd iterations (``_kmeans_centroids``)
    — the production IVF shape, upgraded from the untrained
    stand-in while keeping bitwise oracle parity.  Probe/assign
    ranking uses the same integer d² metric as training; final
    candidate ranking is the exact cosine."""
    return report_sort(
        _ivf_kmeans_topk_rows(spark, sf_dir), "query_id", "rank")


def _ivf_kmeans_topk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-IVF path's top-k rows, UNSORTED (the recall
    audit's arm — see ``_exact_topk_rows``)."""
    ranked = _kmeans_ranked(spark, sf_dir)
    assign = ranked.filter(F.col("crank") == 1).select(
        "vec_id", "eq", "n2", "cid"
    )
    return _probe_score_topk(
        _panel_probes(spark, sf_dir, ranked), assign,
        db_eq="eq", db_n2="n2", exclude_self=True)


def q_ann_recall_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the TRAINED IVF path (``q_ann_ivf_kmeans``) against
    the exact baseline — same audit shape as ``q_ann_recall_audit``,
    so the two ANN families' recall is directly comparable per panel
    query (the number that justifies spending Lloyd iterations)."""
    return _recall_vs_exact(
        _exact_topk_rows(spark, sf_dir),
        _ivf_kmeans_topk_rows(spark, sf_dir))


# SemDeDup in-cluster prune threshold.  Production embedding dedup
# uses ~0.95 on unit-norm model embeddings; the driver's synthetic
# embeddings are near-orthogonal random vectors (in-cluster max
# pairwise cosine ≈ 0.47 at sf0.001–0.01), so the staged query uses
# 0.30 to keep a non-trivial prune set flowing end to end.
SEMDEDUP_COSINE_MIN = 0.30


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then prune
    within each cluster the vectors whose cosine to another cluster
    member exceeds a threshold, keeping one representative.  The
    cheap deterministic keep rule is DIRECT DOMINANCE: a vector is
    pruned iff ANY strictly-smaller-id vector within ``SEMDEDUP_
    COSINE_MIN`` shares its cluster — dominance by existence, so a
    vector can be pruned by a mate that is itself pruned (in a chain
    a<b<c with cos(a,b) ≥ τ ≥ cos(b,c), both b and c are pruned even
    though cos(a,c) < τ).  The kept set always contains each
    τ-component's minimum id and additionally keeps any vector all of
    whose direct τ-neighbors have larger ids; the fully transitive
    keep-one-per-component variant is ``q_embedding_dup_clusters``.

    Scale shape: REUSES the memoized trained-IVF assignment
    (``ivf_kmeans_lists`` — the same artifact ``q_ann_ivf_kmeans``
    probes, so the Lloyd training is paid once per corpus build); the
    only new work is a cid-equi self-join whose per-list width is
    bounded by the √n-lists design — measured in-cluster pair count
    is ~5.4k at BOTH sf0.001 and sf0.01 (constant expected list
    width), so the stage scales linearly in list count, never
    quadratically in corpus size.  shuffle_hash on cid: list
    membership is corpus-sized, no broadcast.  8× dup-dense probe:
    2.2× steady-state while the true prune set grows ~14×
    (docs/SCALE_PROBE.md).

    Output: one row per PRUNED vector — (vec_id, cid, kept_by,
    cosine) where kept_by is its highest-cosine smaller-id cluster
    mate (ties → smallest id); exact integer cosine, so the frame is
    engine-reproducible.  Registered round 9; the DuckDB twin is
    ``oracle.ext_sqls.EXT_ORACLE_SQL["semdedup"]``, parity-proven in
    ``tests/test_semdedup.py`` since round 8 (ahead of
    registration)."""
    ranked = _kmeans_ranked(spark, sf_dir)
    assign = ranked.filter(F.col("crank") == 1).select(
        "vec_id", "eq", "n2", "cid"
    )
    pairs = (
        assign.alias("x")
        .join(assign.alias("y").hint("shuffle_hash"), "cid")
        .filter(F.col("y.vec_id") < F.col("x.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_id"),
            "cid",
            F.col("y.vec_id").alias("kept_by"),
            cosine(
                dot_q(F.col("x.eq"), F.col("y.eq")),
                F.col("x.n2"), F.col("y.n2"),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMDEDUP_COSINE_MIN)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "kept_by")
    return (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .drop("r")
        .orderBy("vec_id")
    )


def q_embedding_label_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid label probe: the standard embedding-quality
    check ("do same-label vectors cluster?").  Per-label integer
    centroids (the same truncating per-dimension mean as the k-means
    trainer — engine-exact), every vector classified to its nearest
    centroid by integer d², and the confusion matrix emitted as
    (true_label, pred_label, n, hit).

    Scale shape: centroid training is one label-grain aggregation
    (map-side partial sums; |labels| rows out), classification is a
    broadcast of the tiny centroid set against the corpus (no
    shuffle), and the confusion matrix is a |labels|² aggregation.
    Ties break toward the smaller label, mirrored in the twin."""
    from astra_perseverance_spark.functions.vectors import ANN_DIM

    v = _vectors(spark, sf_dir).select("vec_id", "label", "eq", "n2")
    sums = v.groupBy("label").agg(
        F.count("*").alias("cnt"),
        *[F.sum(F.col("eq")[d]).alias(f"s{d}") for d in range(ANN_DIM)],
    )
    cent = sums.select(
        F.col("label").alias("c_label"),
        F.array(
            *[F.expr(f"s{d} DIV cnt").cast("long") for d in range(ANN_DIM)]
        ).alias("c_eq"),
    ).withColumn("c_n2", norm2_q(F.col("c_eq")))
    aff = v.join(F.broadcast(cent)).select(
        "vec_id", "label", "c_label",
        (F.col("n2") + F.col("c_n2")
         - 2 * dot_q(F.col("eq"), F.col("c_eq"))).alias("d2"),
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "c_label")
    pred = (
        aff.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("label", F.col("c_label").alias("pred_label"))
    )
    return (
        pred.groupBy(F.col("label").alias("true_label"), "pred_label")
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn("hit", F.col("true_label") == F.col("pred_label"))
        .orderBy("true_label", "pred_label")
    )


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the UNSUPERVISED trained k-means clustering:
    per cluster, its size, how many distinct labels it mixes, the
    majority label, and purity = majority count / size — the
    complement of ``q_embedding_label_probe`` (which asks "do label
    centroids classify well?"; this asks "do the clusters the ANN
    index actually routes through align with labels?").  Low purity
    on a labeled slice is the early signal that IVF lists mix
    semantics, which degrades both ANN recall and SemDeDup's
    in-cluster prune.

    Scale shape: REUSES the memoized trained-IVF assignment
    (``ivf_kmeans_lists`` — the artifact ``q_ann_ivf_kmeans`` and
    ``q_semdedup`` already share, so Lloyd training is paid once per
    corpus build), which on the session-memo path carries the label
    column through the build (r16: no vec-grain re-join of the corpus
    per run — the cid-clustered cache feeds the (cid, label) histogram
    directly, so every aggregation and the majority window reuse the
    artifact's own clustering with no exchange).  Against a persisted
    store (whose ``kmeans_lists`` schema has no label column) the
    previous vec_id equi-join attaches labels as before.  The
    cluster-grain aggregations are ≈√n rows, map-side partial; the
    majority window partitions by cid, so no single task ever sees
    more than one cluster's label histogram.  Ties → smaller label,
    mirrored in the twin.

    Output: (cid, n_vecs, n_labels, top_label, n_top, purity),
    one row per trained cluster, ordered by cid."""
    ranked = _kmeans_ranked(spark, sf_dir)
    if "label" in ranked.columns:
        labeled = ranked.filter(F.col("crank") == 1).select("cid", "label")
    else:  # persisted kmeans_lists: no label column — join the corpus
        assign = ranked.filter(F.col("crank") == 1).select("vec_id", "cid")
        labels = _vectors(spark, sf_dir).select("vec_id", "label")
        labeled = assign.join(labels.hint("shuffle_hash"), "vec_id")
    cl = (
        labeled
        .groupBy("cid", "label")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = cl.groupBy("cid").agg(
        F.sum("n").cast("long").alias("n_vecs"),
        F.count("*").cast("long").alias("n_labels"),
    )
    w = Window.partitionBy("cid").orderBy(F.desc("n"), "label")
    top = (
        cl.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("cid", F.col("label").alias("top_label"),
                F.col("n").alias("n_top"))
    )
    # tot is list-grain (≤ IVF_MAX_LISTS rows at any corpus size) —
    # broadcast, or Catalyst plans a sort-merge join of two
    # shuffle-derived sides it cannot size at plan time
    # list-grain output (≤ IVF_MAX_LISTS rows by construction):
    # report_sort, not a range-sampled orderBy (r16)
    return report_sort(
        top.join(F.broadcast(tot), "cid")
        .select(
            "cid", "n_vecs", "n_labels", "top_label", "n_top",
            (F.col("n_top").cast("double") / F.col("n_vecs"))
            .alias("purity"),
        ),
        "cid",
    )


def _n_indexed(spark: SparkSession, sf_dir: str) -> int:
    """Count of indexed-side (even vec_id) vectors, the scalar that
    sizes the incremental index's list count."""
    return memo_value(spark, sf_dir, ("n_indexed",), lambda: (
        _vectors(spark, sf_dir).filter(F.col("vec_id") % 2 == 0).count()))


def q_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN: probe a batch of NEW vectors against the
    PERSISTED IVF index of the existing corpus — the embedding-side
    twin of ``dedup_incremental``, and the shape a continuously
    ingesting pipeline runs (re-indexing the corpus per batch would be
    quadratic over time).

    The fixture split is vec_id parity (even = indexed corpus, odd =
    new batch); in production the split is the ingestion boundary.
    The index — centroids (every ``ivf_stride(n_even)``-th even
    vector) plus each indexed vector's nearest-centroid list
    assignment — is a memoized artifact built once; a batch costs one
    broadcast centroid-affinity pass over the batch plus list-local
    candidate joins: O(|batch| · (√n + nprobe · n/lists)), independent
    of how many batches came before.

    Output: exact cosine top-k indexed neighbors per new vector,
    (query_id, rank, neighbor_id, cosine)."""
    index = memo_frame(
        spark, sf_dir, ("ivf_incr_index",),
        lambda: _cid_clustered(
            spark, sf_dir,
            lambda: _build_incremental_index(spark, sf_dir),
            art_name="ann_ivf_lists"))
    cent = memo_frame(spark, sf_dir, ("ivf_incr_cent",),
                      lambda: _incremental_centroids(spark, sf_dir))
    new = _vectors(spark, sf_dir).drop("bucket").filter(
        F.col("vec_id") % 2 == 1)
    return _probe_score_topk(
        _batch_probes(new, cent), index,
        db_eq="eq", db_n2="n2",
        exclude_self=False).orderBy("query_id", "rank")


def _incremental_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    art = index_artifact(spark, "ann_centroids")
    if art is not None:
        return art
    stride = ivf_stride(_n_indexed(spark, sf_dir))
    return (
        _vectors(spark, sf_dir).drop("bucket")
        .filter((F.col("vec_id") % 2 == 0)
                & (F.expr("vec_id div 2") % stride == 0))
        .select(
            F.col("vec_id").alias("cid"),
            F.col("eq").alias("c_eq"),
            F.col("n2").alias("c_n2"),
        )
    )


def _nearest_centroid(batch: DataFrame, cent: DataFrame) -> DataFrame:
    """(cid, vec_id, eq, n2): each batch vector routed to its nearest
    centroid — broadcast affinity pass, crank-1 by (cosine DESC, cid
    ASC).  THE one definition of the IVF assignment/append rule,
    shared by the index build below, the persisted-store append
    (``sinks.index_store.extend_index_store``) and the
    ``ann_index_health`` audit, so the three can never disagree on
    which list a vector belongs to."""
    aff = batch.join(F.broadcast(cent)).select(
        "vec_id", "eq", "n2", "cid",
        cosine(dot_q(F.col("eq"), F.col("c_eq")), F.col("n2"),
               F.col("c_n2")).alias("ccos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), "cid")
    return (
        aff.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") == 1)
        .select("cid", "vec_id", "eq", "n2")
    )


def _build_incremental_index(spark: SparkSession, sf_dir: str,
                             cent: DataFrame | None = None) -> DataFrame:
    """(cid, vec_id, eq, n2): each indexed (even) vector in its
    nearest-centroid list — the persisted artifact a batch probes.
    With ``SPARK_GRAFT_INDEX_DB`` set this IS a persisted table
    (cid-bucketed, ``sinks.index_store``) rather than a session memo —
    a fresh application probes it without touching the corpus.
    ``cent`` lets the index-store WRITER feed the centroid table it
    just persisted instead of re-deriving the centroids a second
    time (same deterministic rows either way)."""
    art = index_artifact(spark, "ann_ivf_lists")
    if art is not None:
        return art
    old = _vectors(spark, sf_dir).drop("bucket").filter(
        F.col("vec_id") % 2 == 0)
    if cent is None:
        cent = _incremental_centroids(spark, sf_dir)
    return _nearest_centroid(old, cent)


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + quantized serving — the composed 100-TB shape: probe the
    TRAINED coarse quantizer's lists (``q_ann_ivf_kmeans``'s Lloyd
    centroids) but score candidates against the int8-quantized store
    by asymmetric distance (ADC: exact fixed-point query vector vs
    ``training._recon_vectors``'s reconstructed database side).  This
    is what actually ships: the coarse index prunes the corpus to
    ~n/|lists|·nprobe candidates, and the scored payload is the
    4x-compressed store, never the full-precision vectors.

    Plan: probe routing reuses the memoized ``ivf_kmeans_lists``
    frame; the database side is one vec_id equi-join (shuffle_hash —
    co-partitioned at scale) between the crank-1 assignment and the
    reconstructed store; candidate scoring is the same broadcast-
    panel ⋈ list shape as the other IVF paths.

    Output: query_id, rank, neighbor_id, cosine (ADC cosine)."""
    return report_sort(
        _ivf_pq_topk_rows(spark, sf_dir), "query_id", "rank")


def _ivf_pq_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, rq, rn2): the cid-clustered QUANTIZED SERVING
    STORE — the crank-1 list assignment joined to the int8-
    reconstructed vectors, memoized as one artifact (optimization
    r16).  This is what an IVF-PQ deployment actually persists (the
    compressed store laid out by list); before the memo, every probe
    run re-paid the vec_id store join AND a full-store cid exchange
    per query.  Built from the memoized trained index, so Lloyd
    training still runs exactly once per session."""
    from astra_perseverance_spark.extensions.training import _recon_vectors

    return memo_frame(
        spark, sf_dir, ("ivf_pq_store",),
        lambda: _cid_clustered(
            spark, sf_dir,
            lambda: _kmeans_ranked(spark, sf_dir)
            .filter(F.col("crank") == 1)
            .select("vec_id", "cid")
            .join(_recon_vectors(spark, sf_dir).hint("shuffle_hash"),
                  "vec_id")))


def _ivf_pq_topk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF+quantized serving path's top-k rows, UNSORTED (the
    recall audit's arm — see ``_exact_topk_rows``)."""
    ranked = _kmeans_ranked(spark, sf_dir)
    return _probe_score_topk(
        _panel_probes(spark, sf_dir, ranked),
        _ivf_pq_store(spark, sf_dir),
        db_eq="rq", db_n2="rn2", exclude_self=True)


def q_ann_recall_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the composed IVF+quantized path against the exact
    full-precision baseline — the deploy audit for the serving stack
    as a whole (coarse-pruning loss AND quantization loss in one
    number, directly comparable per panel query with
    ``ann_recall_ivf_kmeans`` and ``ann_quantized_recall``, which
    isolate each loss)."""
    return _recall_vs_exact(
        _exact_topk_rows(spark, sf_dir),
        _ivf_pq_topk_rows(spark, sf_dir))


def _even_dim_stats(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """(lo, hi) lists over the INDEXED (even vec_id) corpus only.
    Deliberately NOT ``training._dim_stats``: the quantized store's
    bounds are frozen when the index is built — before any new batch
    exists — so the incremental serving path must not let odd
    (new-batch) vectors widen them.  Same 64-group aggregate → 2×64
    driver scalars as the training helper (the sanctioned dim-stats
    collect); with ``SPARK_GRAFT_INDEX_DB`` set they are READ from the
    persisted ``ann_sq_bounds`` table — the store's metadata — exactly
    as the docstrings have always claimed production would."""
    from astra_perseverance_spark.functions.vectors import ANN_DIM

    def build() -> tuple[list, list]:
        art = index_artifact(spark, "ann_sq_bounds")
        if art is None:
            art = (
                _vectors(spark, sf_dir)
                .filter(F.col("vec_id") % 2 == 0)
                .select(F.posexplode("eq").alias("d", "q"))
                .groupBy("d")
                .agg(F.min("q").alias("lo"), F.max("q").alias("hi"))
            )
        rows = art.collect()
        lo = [0] * ANN_DIM
        hi = [0] * ANN_DIM
        for r in rows:
            lo[r["d"]] = r["lo"]
            hi[r["d"]] = r["hi"]
        return lo, hi

    return memo_value(spark, sf_dir, ("even_dim_stats",), build)


def _even_dim_bounds(spark: SparkSession, sf_dir: str):
    """(lo_at, hi_at) literal-array accessors over ``_even_dim_stats``
    (see there for the frozen-bounds contract)."""
    from astra_perseverance_spark.extensions.training import (
        bounds_accessors,
    )

    return bounds_accessors(*_even_dim_stats(spark, sf_dir))


def _recon_even_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, rq, rn2): the int8-reconstructed INDEXED store —
    ``training._recon_vectors``'s encode∘decode fused map (exact
    BIGINT ``div``) applied to the even half with the even-corpus
    bounds.  This is the persisted artifact the incremental serving
    path scores against; a new batch never touches it.  With
    ``SPARK_GRAFT_INDEX_DB`` set the int8 CODES are the persisted
    table (``ann_sq_store``) and only the decode half runs here —
    ``training.sq_decode`` over the frozen persisted bounds, which
    reproduces the fused map bit-for-bit (``tests/test_index_store``
    asserts the equivalence frame-for-frame)."""
    from astra_perseverance_spark.extensions.training import (
        sq_decode,
        sq_recon,
    )
    from astra_perseverance_spark.functions.vectors import dot_q as _dq

    art = index_artifact(spark, "ann_sq_store")
    if art is not None:
        decode = sq_decode(*_even_dim_bounds(spark, sf_dir))
        return (
            art.select("vec_id", F.transform("codes", decode).alias("rq"))
            .withColumn("rn2", _dq(F.col("rq"), F.col("rq")))
        )
    recon = sq_recon(*_even_dim_bounds(spark, sf_dir))
    return (
        _vectors(spark, sf_dir)
        .filter(F.col("vec_id") % 2 == 0)
        .select("vec_id", F.transform("eq", recon).alias("rq"))
        .withColumn("rn2", _dq(F.col("rq"), F.col("rq")))
    )


def q_ann_incremental_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN over the QUANTIZED store — the composition a
    continuously ingesting production system serves: a new batch
    (odd vec_ids) is routed by the persisted coarse quantizer
    (``_incremental_centroids``, full-precision — the standard IVF-PQ
    layout keeps the tiny centroid set unquantized) and scored by
    asymmetric distance (exact fixed-point query vector vs the
    int8-reconstructed even store, ``_recon_even_store``) — i.e.
    ``ann_incremental``'s batch-sized probing with ``ann_ivf_pq``'s
    serving payload.

    Batch cost is O(|batch| · (√n + nprobe · n/lists)) against the
    4×-compressed store, independent of how many batches came before;
    the index, centroids and reconstructed store are memoized
    artifacts (built once, reused by every probe run), and the
    store join is a vec_id equi-join (shuffle_hash — co-partitioned
    at scale).

    Output: query_id, rank, neighbor_id, cosine (ADC cosine)."""
    index = memo_frame(
        spark, sf_dir, ("ivf_incr_index",),
        lambda: _cid_clustered(
            spark, sf_dir,
            lambda: _build_incremental_index(spark, sf_dir),
            art_name="ann_ivf_lists"))
    cent = memo_frame(spark, sf_dir, ("ivf_incr_cent",),
                      lambda: _incremental_centroids(spark, sf_dir))
    # the JOINED quantized store (cid, vec_id, rq, rn2), cid-
    # clustered — the artifact an incremental IVF-PQ deployment
    # persists; before r16 the memo held only (vec_id, rq, rn2) and
    # every batch re-paid the vec_id assignment join plus a full-store
    # cid exchange
    assign = memo_frame(
        spark, sf_dir, ("ivf_incr_pq_store",),
        lambda: _cid_clustered(
            spark, sf_dir,
            lambda: index.select("cid", "vec_id")
            .join(_recon_even_store(spark, sf_dir).hint("shuffle_hash"),
                  "vec_id")))
    new = _vectors(spark, sf_dir).drop("bucket").filter(
        F.col("vec_id") % 2 == 1)
    return _probe_score_topk(
        _batch_probes(new, cent), assign,
        db_eq="rq", db_n2="rn2",
        exclude_self=False).orderBy("query_id", "rank")


def occupancy_stats(cent: DataFrame, members: DataFrame) -> DataFrame:
    """One-row (p99, n_lists, mx, n_total) occupancy statistics of an
    IVF index: per-centroid member counts (EMPTY lists audit as size
    0 via the left join from the centroid dim — the count frame is
    ≤ IVF_MAX_LISTS rows, broadcast, never a SortMergeJoin of two
    derived frames), exact nearest-rank p99 over the sizes, and the
    whole-frame max/total.  The ranking window is single-partition
    over ≤ IVF_MAX_LISTS (4096) rows — bounded by construction.  THE
    one definition shared by the registered ``q_ann_index_health``
    audit and the store-facing ``sinks.index_store.index_store_health``
    reader, so the two can never drift (their equality is
    pytest-pinned metric-for-metric)."""
    from astra_perseverance_spark.functions.bounded import (
        bounded_global_frame,
    )

    counts = members.groupBy("cid").agg(
        F.count("*").cast("long").alias("sz"))
    sizes = bounded_global_frame(
        cent.select("cid").join(F.broadcast(counts), "cid", "left")
        .select("cid",
                F.coalesce("sz", F.lit(0).cast("long")).alias("sz")),
        IVF_MAX_LISTS,
        "occupancy_stats per-centroid sizes (≤ IVF_MAX_LISTS)",
    )
    whole = Window.partitionBy()
    return (
        sizes.select(
            "sz",
            F.row_number().over(Window.orderBy("sz", "cid")).alias("r"),
            F.count("*").over(whole).cast("long").alias("n_lists"),
            F.max("sz").over(whole).alias("mx"),
            F.sum("sz").over(whole).cast("long").alias("n_total"),
        )
        .filter(F.col("r") == F.ceil(F.lit(0.99) * F.col("n_lists")))
        .select(F.col("sz").alias("p99"), "n_lists", "mx", "n_total")
    )


def q_ann_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift audit for the long-lived incremental ANN index — the
    retrain trigger as an oracle-checked operator instead of prose.

    ``extend_index_store`` appends batches to the persisted IVF/SQ
    store WITHOUT retraining: centroids and quantization bounds stay
    frozen at index-build time, so as the corpus grows (a) list sizes
    drift away from the √n sizing rule the coarse quantizer was built
    to, and (b) new values fall outside the frozen bounds and their
    codes saturate.  Both degrade recall silently — this query is the
    signal that says "retrain now".

    The audited state is the standard post-append fixture: even
    vec_ids = the indexed corpus (the persisted lists), odd vec_ids =
    everything appended since, routed to their nearest frozen centroid
    by the SAME crank-1 affinity rule the store's append uses
    (``_nearest_centroid`` — one definition, audit and append cannot
    disagree).  Output is one (metric, value) row each for:

    - ``n_lists`` / ``n_indexed`` / ``n_appended`` — index shape;
    - ``list_size_max`` / ``list_size_p99`` (exact nearest-rank over
      the per-centroid post-append list sizes, empty lists included)
      / ``list_size_mean`` — occupancy;
    - ``target_list_size`` = √n_total and the ``max_over_target`` /
      ``p99_over_target`` ratios — the √n rule violation measure
      (retrain when max_over_target drifts well past its build-time
      level);
    - ``appended_codes`` / ``clamped_codes`` / ``sq_clamp_rate`` —
      the fraction of appended int8 codes the frozen bounds cannot
      represent (raw code outside [0, SQ_LEVELS] before the append
      path's ``greatest``/``least`` clamp — exactly the values
      ``extend_index_store`` saturates).

    Scale: the list-size frame is ≤ ``IVF_MAX_LISTS`` (4096) rows, so
    its single-partition ranking window is bounded by construction
    (same declared shape as ``vocab_growth``'s cumulative window);
    the clamp pass is one narrow scan of the appended half with the
    bounds folded in as literals (the sanctioned 2×64-scalar dim-stats
    collect).  ORDER BY metric."""
    from astra_perseverance_spark.extensions.training import (
        SQ_LEVELS,
        sq_code,
    )
    from astra_perseverance_spark.functions.vectors import ANN_DIM

    cent = memo_frame(spark, sf_dir, ("ivf_incr_cent",),
                      lambda: _incremental_centroids(spark, sf_dir))
    new = _vectors(spark, sf_dir).drop("bucket").filter(
        F.col("vec_id") % 2 == 1)

    # post-append membership: stored lists ∪ the odd half routed by
    # the append rule.  With the index store the persisted table may
    # be in EITHER state — fresh (even-only) or already extended
    # (extend_index_store appends to it) — so the odd half is
    # anti-joined against the table's members first: fresh store →
    # the whole odd half is routed and unioned, extended store → the
    # table alone already IS the post-append state and nothing is
    # double-counted.  On the default (memo) path the union
    # telescopes — every vector to its nearest frozen centroid in
    # ONE affinity pass (identical rows by construction: the stored
    # lists were built by the same _nearest_centroid over the even
    # half)
    art = index_artifact(spark, "ann_ivf_lists")
    if art is not None:
        pending = new.join(art.select("vec_id"), "vec_id", "left_anti")
        members = art.select("cid").unionByName(
            _nearest_centroid(pending, cent).select("cid"))
    else:
        members = _nearest_centroid(
            _vectors(spark, sf_dir).drop("bucket"), cent).select("cid")
    stats = occupancy_stats(cent, members)

    # clamp pass: raw SQ code of every appended value under the FROZEN
    # even-corpus bounds; clamped ⟺ outside [0, SQ_LEVELS] — the exact
    # set extend_index_store's greatest/least saturates
    code = sq_code(*_even_dim_bounds(spark, sf_dir))
    clamp = (
        new.select(
            F.aggregate(
                F.transform(
                    "eq",
                    lambda x, i: F.when(
                        (code(x, i) < 0) | (code(x, i) > SQ_LEVELS),
                        F.lit(1).cast("long"),
                    ).otherwise(F.lit(0).cast("long")),
                ),
                F.lit(0).cast("long"),
                lambda acc, y: acc + y,
            ).alias("nc")
        )
        .agg(
            F.sum("nc").cast("long").alias("clamped"),
            F.count("*").cast("long").alias("n_app"),
        )
    )

    return (
        stats.crossJoin(F.broadcast(clamp))
        .selectExpr(
            f"stack(12, "
            f"'appended_codes', CAST(n_app * {ANN_DIM} AS DOUBLE), "
            f"'clamped_codes', CAST(clamped AS DOUBLE), "
            f"'list_size_max', CAST(mx AS DOUBLE), "
            f"'list_size_mean', CAST(n_total AS DOUBLE) / n_lists, "
            f"'list_size_p99', CAST(p99 AS DOUBLE), "
            f"'max_over_target', mx / SQRT(CAST(n_total AS DOUBLE)), "
            f"'n_appended', CAST(n_app AS DOUBLE), "
            f"'n_indexed', CAST(n_total - n_app AS DOUBLE), "
            f"'n_lists', CAST(n_lists AS DOUBLE), "
            f"'p99_over_target', p99 / SQRT(CAST(n_total AS DOUBLE)), "
            f"'sq_clamp_rate', CAST(clamped AS DOUBLE) / (n_app * {ANN_DIM}), "
            f"'target_list_size', SQRT(CAST(n_total AS DOUBLE))"
            f") as (metric, value)"
        )
        # 12 rows by construction: report_sort, not a range-sampled
        # orderBy (r16)
        .transform(report_sorted("metric"))
    )
