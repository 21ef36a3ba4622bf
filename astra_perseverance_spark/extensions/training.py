"""Training-assembly operators: cross-document duplicate-span
detection, concat-and-cut sequence packing, and embedding
scalar quantization.

These are the steps between a curated corpus and a training run:
find the repeated sub-document spans exact-dedup misses (Lee et al.,
"Deduplicating Training Data Makes Language Models Better" — the
suffix-array pass, approximated here with fixed-width token windows),
lay documents out into fixed-token training sequences (the GPT-style
concatenate-then-cut layout), and compress the embedding store to
int8 codes with a measured reconstruction error.

Scale shape:

- ``dup_spans`` is postings-shaped: window-gram df counting at the
  vocabulary grain (map-side partial agg), a semi-join back to the
  pruned position rows, then a per-doc window merge.  No pair
  generation anywhere — a gram shared by every document costs O(n)
  marked positions, not O(n²) pairs, so unlike the pair-emitting
  near-dup ops there is no df cap to tune.
- ``seq_pack`` shards the corpus by hash and packs WITHIN each shard:
  the running-total window is partition-local per shard, never a
  single global cumsum (which would serialize the whole corpus
  through one task at 100 TB).  Shard count scales with the corpus;
  each shard is an independent training-data stream.
- ``embedding_quantize`` reduces to per-dimension min/max (a
  64-group aggregate with map-side partials — bytes, not rows, cross
  the shuffle) folded into the plan as literals; the encode itself is
  a narrow per-row map.  All arithmetic is exact BIGINT on the 1e-6
  fixed-point domain (``functions.vectors``), so the DuckDB twins are
  bitwise.

Reference parity note: the reference engine (explore.py) has no
training-assembly stage at all — this family is part of the
beyond-reference training-pipeline surface the brief asks for, built
on the same corpus tables and determinism contract as the dedup /
curation families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from astra_perseverance_spark.conformed.model import memo_frame, memo_value
from astra_perseverance_spark.extensions.corpus import (
    clustered_docs as _cdocs,
    n_docs,
    vectors_frame,
)
from astra_perseverance_spark.functions.texthash import h15, tokens
from astra_perseverance_spark.functions.vectors import ANN_DIM

# --- dup_spans ------------------------------------------------------

# Token-window width for duplicate-span detection.  A window of W
# consecutive tokens appearing in >= DUP_SPAN_MIN_DOCS distinct
# documents marks its positions as duplicated; runs of marked
# positions closer than W merge into one maximal span (two windows at
# distance <= W overlap or touch as character spans).
DUP_SPAN_W = 5
DUP_SPAN_MIN_DOCS = 2


def _positioned_grams(spark: SparkSession, sf_dir: str, k: int,
                      docs: DataFrame | None = None) -> DataFrame:
    """(doc_id, p, g): one row per k-token-window occurrence WITH its
    0-based start position — the positioned sibling of
    ``dedup.k_gram_rows`` (same posexplode + ``lead`` row pipeline,
    which measured ~4x faster than array HOFs; see
    ``dedup.shingle_rows``).  ``docs`` overrides the document
    universe (same contract columns; default = the full corpus)."""
    w = Window.partitionBy("doc_id").orderBy("p")
    src = docs if docs is not None else _cdocs(spark, sf_dir)
    grams = src.select(
        "doc_id", F.posexplode(tokens("text")).alias("p", "t0")
    )
    for i in range(1, k):
        grams = grams.withColumn(f"t{i}", F.lead("t0", i).over(w))
    return (
        grams.filter(F.col(f"t{k - 1}").isNotNull())
        .select(
            "doc_id", F.col("p").cast("long").alias("p"),
            F.concat_ws(" ", *[f"t{i}" for i in range(k)]).alias("g"),
        )
    )


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate spans: maximal runs of token positions
    covered by a ``DUP_SPAN_W``-token window that also occurs in at
    least ``DUP_SPAN_MIN_DOCS`` distinct documents.

    The sub-document complement of ``dedup_exact`` (whole-doc) and
    ``repeated_lines`` (line-grain): licence headers, quoted
    paragraphs, and template boilerplate repeat across documents
    without the documents being near-duplicates, and a training
    pipeline cuts the SPAN, not the document.

    Pipeline: positioned window-grams -> duplicated positions marked
    by ONE min/max window over the gram key -> per-doc
    islands-and-gaps merge (``lag`` + running flag-sum): a new span
    starts where the gap to the previous duplicated position exceeds
    W.  Two exchanges, both on aggregated or pruned grains; no
    candidate pairs are ever generated, so a universally shared gram
    degrades to O(n) marked positions, never O(n^2).

    Output (one row per span): doc_id, span_id (1-based per doc in
    position order), start_tok, end_tok (inclusive), n_tok, and
    n_windows (duplicated windows merged into the span)."""
    # With DUP_SPAN_MIN_DOCS == 2, "gram occurs in >= 2 distinct docs"
    # collapses to min(doc_id) != max(doc_id) over the gram partition —
    # TWO aggregates sharing ONE window exchange, so the positioned-
    # gram pipeline builds ONCE (optimization r15; the gram-grain
    # countDistinct + left-semi twin scanned it twice — plans don't
    # share common subtrees — and measured ~1.2x this formulation's
    # wall time; results digest-identical).  Same collapse as
    # ``span_trim_frame``'s rep-window predicate.
    assert DUP_SPAN_MIN_DOCS == 2, (
        "the min/max-window duplication predicate encodes the >=2 "
        "distinct-docs rule; a higher threshold needs the gram-grain "
        "countDistinct + semi-join formulation back")
    grams = _positioned_grams(spark, sf_dir, DUP_SPAN_W)
    wg = Window.partitionBy("g")
    dup_pos = (
        grams
        .withColumn("mn", F.min("doc_id").over(wg))
        .withColumn("mx", F.max("doc_id").over(wg))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "p")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    marked = dup_pos.withColumn("prev_p", F.lag("p").over(w)).withColumn(
        "new_span",
        F.when(
            F.col("prev_p").isNull()
            | (F.col("p") - F.col("prev_p") > DUP_SPAN_W),
            1,
        ).otherwise(0),
    )
    spans = marked.withColumn(
        "span_id",
        F.sum("new_span")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"),
    )
    return (
        spans.groupBy("doc_id", "span_id")
        .agg(
            F.min("p").alias("start_tok"),
            (F.max("p") + DUP_SPAN_W - 1).alias("end_tok"),
            F.count("*").alias("n_windows"),
        )
        .select(
            "doc_id", "span_id", "start_tok", "end_tok",
            (F.col("end_tok") - F.col("start_tok") + 1).alias("n_tok"),
            "n_windows",
        )
        .orderBy("doc_id", "start_tok")
    )


def q_dedup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-aware curated text: every document's token stream with
    verified CROSS-document duplicate spans excised — the standard
    preprocessing step (RefinedWeb/Gopher shape) between span
    detection (``q_dup_spans``) and sequence packing, and the r12
    verdict's "measured but never acted on" gap: ``dup_spans`` finds
    sub-document duplication, this emits the corpus with it cut.

    Semantics (the trim twin of ``q_dup_spans``'s detection rule): a
    token position is removable when it is covered by a
    ``DUP_SPAN_W``-token window whose gram occurs in ≥
    ``DUP_SPAN_MIN_DOCS`` distinct documents AND this document is not
    the gram's FIRST OCCURRENCE (minimum doc_id over the documents
    containing it — the same deterministic keep-the-first convention
    as ``dedup_keep_list``).  Each duplicated gram's first-occurrence
    document keeps its own occurrences of that gram, so duplicated
    content survives in its earliest home; the rule is per-POSITION
    and single-pass, so where differently-homed duplicate windows
    overlap, a position is trimmed if ANY covering window is
    non-first — the deterministic, shuffle-friendly trade every
    distributed trim makes (an exact "keep globally exactly one copy"
    rule would need sequential conflict resolution).  Intra-document
    repetition is deliberately NOT trimmed (that is
    ``repetition_signals``' domain — a quality signal, not a
    cross-doc redundancy).

    Output one row per document (lowercase token stream, the grain
    the packing/tokenizer stages consume): doc_id, n_tok (original),
    removed_tokens, kept_tokens, trimmed_text (space-joined surviving
    tokens in position order; '' when everything was duplicate).
    ORDER BY doc_id.

    Scale shape: ONE min-over-gram window marks removable positions
    (one shuffle on the gram key; see the in-body note for why this
    beats the gram-grain groupBy + join twin), then the removable
    START POSITIONS aggregate to one doc-grain list and the token
    stream is sliced in place with array expressions (coverage
    expansion, position except, ordered reassembly — all inside the
    doc row; see the in-body note).  Every stage is linear in corpus
    tokens and only position METADATA is ever shuffled past the gram
    window — no candidate pairs anywhere (a universally shared gram
    degrades to O(n) marked positions, exactly like
    ``q_dup_spans``)."""
    # With DUP_SPAN_MIN_DOCS == 2, "gram occurs in ≥ 2 distinct docs
    # AND this doc is not its minimum home" collapses to ONE window
    # predicate: doc_id != min(doc_id) over the gram partition (a
    # strictly-greater doc_id is itself the second distinct doc).
    # That builds the positioned-gram pipeline ONCE — the
    # groupBy+join twin scanned it twice (plans don't share common
    # subtrees) and measured ~1.5× this formulation's wall time.
    return span_trim_frame(spark, sf_dir).orderBy("doc_id")


def span_trim_frame(spark: SparkSession, sf_dir: str,
                    docs: DataFrame | None = None) -> DataFrame:
    """The UNORDERED span-trim frame behind ``q_dedup_span_trim`` —
    factored out so the curated-corpus export
    (``sinks.export.export_curated_corpus(trim_spans=True)``) can
    consume the trim without the report sort.  See the query's
    docstring for semantics and scale shape.

    ``docs`` overrides the document UNIVERSE the trim is computed
    over (gram duplication counts, first-occurrence representative,
    and output rows all restrict to it; default = the full corpus —
    the registered query's semantics).  The export passes the
    curation ledger's KEPT set, which changes two composed-path
    behaviors the full-corpus universe gets wrong after curation:
    a duplicated span whose earliest home was REJECTED survives in
    its earliest KEPT document (instead of vanishing from the export
    entirely), and a span whose only duplicate lived in a rejected
    document is not trimmed at all (the content is unique
    post-curation)."""
    assert DUP_SPAN_MIN_DOCS == 2, (
        "the min-over-gram-window trim predicate encodes the ≥2 "
        "distinct-docs rule; a higher threshold needs the "
        "groupBy(g)+join formulation back")
    src = docs if docs is not None else _cdocs(spark, sf_dir)
    grams = _positioned_grams(spark, sf_dir, DUP_SPAN_W, docs=src)
    marked = (
        grams
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy("g")))
        .filter(F.col("doc_id") != F.col("rep"))
        .select("doc_id", "p")
    )
    # Positions-as-arrays reassembly (optimization r15, guide §2.3/§8):
    # every decision past `marked` depends only on POSITIONS, so shuffle
    # those — one doc-grain list of removable window starts — and slice
    # the token stream in place with array expressions.  The previous
    # formulation exploded coverage to (doc, q) rows (×W before the
    # distinct), anti-joined the posexploded token stream (an exchange
    # carrying every token as a row, ~2× corpus bytes) and reassembled
    # with collect_list + array_sort (the same token rows shuffled
    # again); all three token-grain exchanges are replaced by one
    # position-metadata aggregation.  Measured 0.69× wall at sf0.1 with
    # a bit-identical result digest; at corpus scale the shuffle-byte
    # saving is the point.  Per-doc transient arrays are bounded by
    # n_tok×W elements (W = 5) before the distinct — the same ×W the
    # old explode materialized as rows.
    starts = marked.groupBy("doc_id").agg(
        F.collect_list("p").alias("starts"))
    empty = F.expr("array()").cast("array<bigint>")
    base = src.select("doc_id", tokens("text").alias("toks"))
    covered = F.array_distinct(F.flatten(F.transform(
        F.coalesce(F.col("starts"), empty),
        lambda p: F.sequence(p, p + F.lit(DUP_SPAN_W - 1)))))
    n_tok = F.size("toks")
    all_pos = F.when(
        n_tok > 0,
        F.sequence(F.lit(0).cast("long"), (n_tok - 1).cast("long")),
    ).otherwise(empty)
    # array_except is hash-based (O(n+m)) and preserves the first
    # array's (ascending) order, so the kept positions come out in
    # stream order — no sort, no window.
    kept_pos = F.array_except(all_pos, covered)
    trimmed = F.array_join(
        F.transform(
            kept_pos,
            lambda q: F.element_at(F.col("toks"), (q + 1).cast("int")),
        ),
        " ",
    )
    return (
        base.join(starts, "doc_id", "left")
        .select(
            "doc_id",
            n_tok.cast("long").alias("n_tok"),
            (n_tok.cast("long") - F.size(kept_pos).cast("long"))
            .alias("removed_tokens"),
            F.size(kept_pos).cast("long").alias("kept_tokens"),
            trimmed.alias("trimmed_text"),
        )
    )


# --- seq_pack -------------------------------------------------------

# Training-sequence token budget and shard sizing.  Documents are
# dealt to shards by hash, laid out in hash order within the shard
# (a deterministic global shuffle), concatenated, and the token
# stream is cut every SEQ_BUDGET tokens — the standard LM packing
# layout where a document may straddle a sequence boundary.
SEQ_BUDGET = 512
SEQ_SHARD_DOCS = 512  # target documents per shard


def seq_shard_count(n: int) -> int:
    """ceil(n / SEQ_SHARD_DOCS), min 1 — shards scale with the corpus
    so the per-shard running-total window stays bounded (one shard
    is one training-data stream; its cumsum is partition-local)."""
    return max(1, -(-n // SEQ_SHARD_DOCS))


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing: the (shard, position, offset)
    layout that maps every document onto fixed-``SEQ_BUDGET``-token
    training sequences.

    Each document lands in shard ``h15(doc_id) mod shards`` and takes
    its place in the shard's deterministic hash order (which doubles
    as the pre-training global shuffle — hash order is uncorrelated
    with ingest order).  Within a shard the token streams concatenate;
    document d occupies stream offsets [tok_offset, tok_offset +
    n_tok), i.e. training sequences floor(tok_offset / B) through
    floor((tok_offset + n_tok - 1) / B).

    The running total is a per-shard window — the shard count scales
    with the corpus (``seq_shard_count``), so no single task ever
    owns a corpus-wide cumsum.  Empty-token documents are excluded
    (they occupy no stream positions).

    Output: doc_id, shard_id, pack_pos (1-based rank in shard),
    n_tok, tok_offset, seq_first, seq_last, n_seqs."""
    shards = seq_shard_count(n_docs(spark, sf_dir))
    return seq_pack_layout(_cdocs(spark, sf_dir), shards).orderBy(
        "shard_id", "pack_pos")


def seq_pack_layout(docs: DataFrame, shards: int) -> DataFrame:
    """The UNORDERED packing arithmetic of ``q_seq_pack`` over ANY
    (doc_id, text) frame — factored out so the shard export
    (``sinks.export.export_training_shards``) can lay out the
    CURATED (and span-trimmed) corpus instead of the raw one; the
    registered query is this layout over the full corpus plus the
    report sort."""
    d = (
        docs
        .select(
            "doc_id",
            F.size(tokens("text")).cast("long").alias("n_tok"),
            h15(F.col("doc_id").cast("string")).alias("hkey"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn("shard_id", F.pmod("hkey", F.lit(shards)).cast("int"))
    )
    w = Window.partitionBy("shard_id").orderBy("hkey", "doc_id")
    packed = d.withColumn(
        "cum",
        F.sum("n_tok").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn("pack_pos", F.row_number().over(w).cast("long"))
    off = F.col("cum") - F.col("n_tok")
    return (
        packed.select(
            "doc_id", "shard_id", "pack_pos", "n_tok",
            off.alias("tok_offset"),
            F.floor(off / SEQ_BUDGET).alias("seq_first"),
            F.floor((F.col("cum") - 1) / SEQ_BUDGET).alias("seq_last"),
        )
        .withColumn(
            "n_seqs", F.col("seq_last") - F.col("seq_first") + F.lit(1)
        )
    )


# --- embedding_quantize ---------------------------------------------

# int8 scalar quantization: per-dimension corpus min/max define the
# code range; 256 levels per dimension.
SQ_LEVELS = 255


def _dim_stats(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """Per-dimension (lo, hi) over the quantized corpus — a 64-group
    aggregate (map-side partials; bytes, not rows, cross the shuffle)
    collected as 2x64 driver scalars, the same pipeline-config shape
    as ``corpus.n_vectors``.  At production scale these ship with the
    embedding store's metadata rather than being recomputed; here they
    are memoized per session, corpus and mode (``memo_value``): before
    the memo EVERY plan build of the four consuming queries re-ran the
    aggregate + collect job."""

    def build() -> tuple[list, list]:
        rows = (
            vectors_frame(spark, sf_dir)
            .select(F.posexplode("eq").alias("d", "q"))
            .groupBy("d")
            .agg(F.min("q").alias("lo"), F.max("q").alias("hi"))
            .collect()
        )
        lo = [0] * ANN_DIM
        hi = [0] * ANN_DIM
        for r in rows:
            lo[r["d"]] = r["lo"]
            hi[r["d"]] = r["hi"]
        return lo, hi

    return memo_value(spark, sf_dir, ("dim_stats",), build)


def bounds_accessors(lo: list, hi: list):
    """(lo_at, hi_at): per-dimension bound accessors — the collected
    stats folded into the plan as literal arrays, indexed by the
    0-based transform-lambda position.  Takes the raw stat lists so
    BOTH bound sources share it: the full-corpus stats here and the
    frozen even-store stats of the incremental serving path
    (``similarity._even_dim_bounds``)."""
    lo_a = F.array(*[F.lit(int(x)) for x in lo])
    hi_a = F.array(*[F.lit(int(x)) for x in hi])

    def at(arr):
        return lambda i: F.element_at(arr, (i + 1).cast("int"))

    return at(lo_a), at(hi_a)


def _dim_bounds(spark: SparkSession, sf_dir: str):
    return bounds_accessors(*_dim_stats(spark, sf_dir))


def sq_recon(lo_at, hi_at):
    """The fused SQ encode∘decode lambda for ``F.transform`` — the
    ONE definition of the scalar-quantization formula (code =
    (q−lo)·SQ_LEVELS div span; recon = lo + code·span div SQ_LEVELS;
    degenerate span reconstructs lo exactly).  Shared by the
    full-store reconstruction below and the incremental path's frozen
    even store, so the serving-side arithmetic can never drift from
    the audited quantizer."""
    def recon(x, i):
        span = hi_at(i) - lo_at(i)
        code = _idiv((x - lo_at(i)) * SQ_LEVELS, span)
        return F.when(
            span > 0, lo_at(i) + _idiv(code * span, F.lit(SQ_LEVELS))
        ).otherwise(lo_at(i))

    return recon


def sq_code(lo_at, hi_at):
    """Encode-only half of the SQ formula, for PERSISTING the int8
    store (``sinks.index_store``): code = (q−lo)·SQ_LEVELS div span
    (0 on a degenerate dimension).  ``sq_recon`` stays the fused
    single-expression form the registered queries plan with — its
    arithmetic and this pair's MUST stay in lockstep, which
    ``tests/test_index_store.py`` asserts frame-for-frame (decode∘code
    == recon on the whole store)."""
    def code(x, i):
        span = hi_at(i) - lo_at(i)
        return F.when(
            span > 0, _idiv((x - lo_at(i)) * SQ_LEVELS, span)
        ).otherwise(F.lit(0))

    return code


def sq_decode(lo_at, hi_at):
    """Decode-only half: recon = lo + code·span div SQ_LEVELS — what
    the index-store LOAD path applies to persisted codes.  See
    ``sq_code`` for the lockstep contract with ``sq_recon``.

    The code column is SMALLINT (the persisted store) and the bounds
    literals are INT whenever they fit, so ``c * span`` would be
    32-bit arithmetic — any dimension whose span exceeds
    ⌊2³¹/255⌋ ≈ 8.4e6 on the fixed-point domain would overflow
    (ANSI mode: a crash; non-ANSI: silent wraparound diverging from
    the BIGINT-column ``sq_recon``).  The explicit cast keeps the
    multiply in BIGINT like every other quantizer expression."""
    def decode(c, i):
        span = hi_at(i) - lo_at(i)
        return F.when(
            span > 0,
            lo_at(i) + _idiv(c.cast("bigint") * span, F.lit(SQ_LEVELS)),
        ).otherwise(lo_at(i))

    return decode


def _idiv(a: F.Column, b: F.Column) -> F.Column:
    """True BIGINT integral division (SQL ``div``): truncates toward
    zero on exact integers, matching DuckDB's ``//`` for every BIGINT
    operand — unlike ``F.floor(a / b)``, whose double intermediate is
    only exact while |a| stays under 2^53."""
    return F.call_function("div", a, b)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding store with exact
    reconstruction-error accounting — the memory-4x-compression step
    before an ANN index ships, with the error audit that says whether
    recall will survive it.

    Per dimension d with corpus range [lo_d, hi_d] (on the 1e-6
    fixed-point BIGINT domain), each component encodes to
    ``code = (q - lo_d) * 255 div (hi_d - lo_d)`` and reconstructs to
    ``lo_d + code * (hi_d - lo_d) div 255`` — all BIGINT through
    Spark's true integral ``div`` (not floor of a double division),
    which truncates toward zero exactly like DuckDB's ``//`` for
    every BIGINT operand, so the twin is bitwise with no magnitude
    bound.  Degenerate dimensions (hi = lo) encode 0 and reconstruct
    exactly.

    Narrow per-row map over the cached quantized frame; the only
    shuffle is the 64-group dim-stats aggregate folded into the plan
    as literals.  Output: vec_id, label, code_md5 (digest of the
    space-joined codes — the ledger, not another copy of the store),
    err2 (exact squared reconstruction error), max_abs_err, and
    rel_err = err2 / |q|^2."""
    lo_at, hi_at = _dim_bounds(spark, sf_dir)
    v = vectors_frame(spark, sf_dir).select("vec_id", "label", "eq", "n2")
    codes = F.transform(
        "eq",
        lambda x, i: F.when(
            hi_at(i) > lo_at(i),
            _idiv((x - lo_at(i)) * SQ_LEVELS, hi_at(i) - lo_at(i)),
        ).otherwise(F.lit(0).cast("long")),
    )
    v = v.withColumn("codes", codes)
    recon = F.transform(
        "codes",
        lambda c, i: lo_at(i)
        + _idiv(c * (hi_at(i) - lo_at(i)), F.lit(SQ_LEVELS)),
    )
    err = F.zip_with("eq", recon, lambda x, y: x - y)
    v = v.withColumn("err", err)
    err2 = F.aggregate(
        "err", F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    return (
        v.select(
            "vec_id", "label",
            F.md5(
                F.concat_ws(
                    " ", F.transform("codes", lambda c: c.cast("string"))
                )
            ).alias("code_md5"),
            err2.alias("err2"),
            F.array_max(F.transform("err", F.abs)).alias("max_abs_err"),
            F.when(
                F.col("n2") > 0,
                err2.cast("double") / F.col("n2").cast("double"),
            ).otherwise(F.lit(0.0)).alias("rel_err"),
        )
        .orderBy("vec_id")
    )


# --- bpe_merges -----------------------------------------------------

# BPE vocabulary learning over the word-frequency table: the corpus
# reduces to (word, count) once, and every merge round runs on that
# vocabulary-bounded table — the standard sentencepiece/BPE training
# shape, which is what makes the iterative part corpus-size-free.
BPE_MERGES = 12
BPE_MAX_WORDS = 10_000  # heavy-hitter cap on the word table (declared)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first ``BPE_MERGES`` byte-pair-encoding merges from
    the corpus — the tokenizer-training step of an LM data pipeline.

    Classic frequency-table BPE: the corpus collapses to its
    ``BPE_MAX_WORDS`` most frequent words (count DESC, word ASC — a
    deterministic heavy-hitter cap; one corpus-scale aggregate), each
    word becomes a character-symbol sequence weighted by its count,
    and each round (a) sums adjacent-pair weights, (b) picks the
    argmax pair (count DESC, pair ASC), (c) merges it greedily
    left-to-right — non-overlapping, so in an equal-symbol run
    ``aaa`` only the leftmost ``aa`` merges, expressed as the
    even-offset-within-island rule on the eligible positions.

    Scale shape: the ONE corpus-sized job is the word count; every
    round after it runs over the <= 10k-row symbol table.  Each round
    is a SINGLE plan (the argmax is computed in-plan and crossJoined
    back as a broadcast 1-row frame — no per-round driver collect)
    materialized with ``localCheckpoint``: an iterative algorithm
    must truncate lineage each round, since even a cached round nests
    the previous round's plan tree inside its InMemoryRelation and by
    round 12 plan analysis itself blows up.  The greedy merge needs
    no join: eligibility, island start (a running max over the last
    non-eligible position), keep flag, consumed flag, and the re-rank
    are all windows over the SAME (word, p) partitioning — one
    exchange per round.  The DuckDB twin unrolls the rounds as CTEs
    (the ``ann_ivf_kmeans`` pattern) and is string-exact.

    Output: one row per learned merge — merge_rank, left_sym,
    right_sym, new_sym, pair_count."""
    bests, _ = _bpe_learn(spark, sf_dir)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionAll(b)
    return out.orderBy("merge_rank")


# (applicationId, sf_dir) -> (per-round best frames, final symbol
# rows, every localCheckpoint'd frame).  The learn loop runs Spark
# jobs at CONSTRUCTION time (one localCheckpoint per round), so both
# consumers (bpe_merges, bpe_token_count) share one run per session —
# the corpus.n_docs driver-scalar pattern, holding only checkpointed
# <= 10k-row frames.  The checkpoint list exists so release (below)
# can free the executor storage blocks DETERMINISTICALLY: dropping
# the dict entry alone leaves ~13 persisted RDDs per (app, sf_dir)
# to nondeterministic ContextCleaner GC, which skews the isolated
# bench timings the release hook exists to protect.
_BPE_STATE: dict[tuple, tuple] = {}


def release_bpe_state(app_id: str) -> int:
    """Drop this session's BPE learn state AND unpersist every
    localCheckpoint'd frame it pinned (a checkpointed DataFrame's
    analyzed plan is a ``LogicalRDD`` holding the persisted RDD —
    ``plan.rdd().unpersist()`` frees its storage blocks at once).
    Returns the number of state entries dropped.

    DANGER: a localCheckpoint'd RDD cannot be recomputed after
    unpersist (no lineage), so any still-referenced DataFrame derived
    from these frames fails on its next action.  Call only through
    ``conformed.model.release_memos``, which drops the memo pool
    first — that ordering contract is what makes this safe."""
    dropped = 0
    for key in [k for k in _BPE_STATE if k[0] == app_id]:
        _, _, ckpts = _BPE_STATE.pop(key)
        for df in ckpts:
            try:
                df._jdf.queryExecution().analyzed().rdd().unpersist(False)
            except Exception:  # noqa: BLE001 — context already stopped
                pass
        dropped += 1
    return dropped


def _bpe_learn(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _BPE_STATE:
        state = _BPE_STATE[key]
        return state[0], state[1]
    words = (
        _cdocs(spark, sf_dir)
        .select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(BPE_MAX_WORDS)
    )
    w = Window.partitionBy("word").orderBy("p")
    rows = words.select(
        "word", "n",
        F.posexplode(F.split("word", "")).alias("p", "sym"),
    ).withColumn("p", F.col("p").cast("long")).localCheckpoint()

    ckpts: list[DataFrame] = [rows]
    bests: list[DataFrame] = []
    for rank in range(1, BPE_MERGES + 1):
        best = (
            rows.withColumn("nxt", F.lead("sym").over(w))
            .filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "sym", "nxt")
            .limit(1)
            .select(
                F.lit(rank).alias("merge_rank"),
                F.col("sym").alias("left_sym"),
                F.col("nxt").alias("right_sym"),
                F.concat("sym", "nxt").alias("new_sym"),
                F.col("cnt").cast("long").alias("pair_count"),
            )
        )
        bests.append(best)
        b = F.broadcast(best.select(
            F.col("left_sym").alias("_L"), F.col("right_sym").alias("_R")
        ))
        r = rows.crossJoin(b).withColumn("nxt", F.lead("sym").over(w))
        r = r.withColumn(
            "el",
            F.coalesce(
                (F.col("sym") == F.col("_L"))
                & (F.col("nxt") == F.col("_R")),
                F.lit(False),
            ),
        )
        # last non-eligible position <= p: everything after it up to p
        # is one maximal eligible run, so greedy leftmost keeps the
        # even offsets within it
        r = r.withColumn(
            "lnep",
            F.max(F.when(~F.col("el"), F.col("p"))).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ).withColumn(
            "k",
            F.col("el")
            & (
                (F.col("p") - F.coalesce(F.col("lnep"), F.lit(-1)) - 1) % 2
                == 0
            ),
        ).withColumn("consumed", F.lag("k").over(w))
        rows = (
            r.filter(~F.coalesce(F.col("consumed"), F.lit(False)))
            .select(
                "word", "n", F.col("p").alias("p0"),
                F.when(F.col("k"), F.concat("_L", "_R"))
                .otherwise(F.col("sym")).alias("sym"),
            )
            .withColumn(
                "p",
                (F.row_number().over(
                    Window.partitionBy("word").orderBy("p0")
                ) - 1).cast("long"),
            )
            .drop("p0")
            .localCheckpoint()
        )
        ckpts.append(rows)
    _BPE_STATE[key] = (bests, rows, ckpts)
    return bests, rows


# --- ann_quantized_recall -------------------------------------------


def _recon_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, rq, rn2): the int8-reconstructed embedding store —
    what an ANN index actually holds after ``embedding_quantize``
    ships.  Encode and decode are fused into one exact-BIGINT
    per-row map (code = (q-lo)*255 div span; recon = lo + code*span
    div 255); degenerate dimensions reconstruct to lo exactly."""
    from astra_perseverance_spark.functions.vectors import dot_q

    recon = sq_recon(*_dim_bounds(spark, sf_dir))
    return (
        vectors_frame(spark, sf_dir)
        .select("vec_id", F.transform("eq", recon).alias("rq"))
        .withColumn("rn2", dot_q(F.col("rq"), F.col("rq")))
    )


def q_ann_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of retrieval over the int8-quantized store against
    the exact baseline — the audit that says whether
    ``embedding_quantize``'s 4x compression is safe to deploy.

    Asymmetric distance (ADC, the standard PQ/SQ serving setup): the
    query side keeps its exact fixed-point vector, the database side
    is the reconstructed store, and ranking is exact integer cosine
    between the two.  The panel is the shared fixed-size query set
    (``similarity.query_ids``), so the audit costs O(n·K) at any
    corpus scale; the recall aggregate is the tagged-union membership
    shape shared by the other audits (no join).

    Output: query_id, n_exact, n_hit, recall."""
    from astra_perseverance_spark.extensions.similarity import (
        _exact_topk_rows,
        _recall_vs_exact,
        _topk_rows,
        query_ids,
    )
    from astra_perseverance_spark.functions.vectors import cosine, dot_q

    # both arms UNSORTED (r16): the audit aggregates, so the arms'
    # global sorts would only add range exchanges + sampling passes
    exact = _exact_topk_rows(spark, sf_dir)
    v = vectors_frame(spark, sf_dir)
    q = (
        v.join(F.broadcast(query_ids(spark, sf_dir)), "vec_id", "semi")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("eq").alias("q_eq"),
            F.col("n2").alias("q_n2"),
        )
    )
    c = _recon_vectors(spark, sf_dir)
    pairs = (
        c.join(F.broadcast(q), c.vec_id != q.query_id)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(
                dot_q(F.col("q_eq"), F.col("rq")),
                F.col("q_n2"), F.col("rn2"),
            ).alias("cosine"),
        )
    )
    return _recall_vs_exact(exact, _topk_rows(pairs))


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE tokenizer corpus-wide: per-document BPE
    token counts — the number every training-budget and packing
    decision is denominated in.

    Application happens at the VOCABULARY grain, the key scale move:
    the final merge-round symbol table already encodes each capped
    word's segmentation, so per-word BPE lengths come from one
    <= 10k-row aggregate, and the corpus-scale work is a word-keyed
    equi-join of the exploded token stream against that broadcast
    table.  Words outside the heavy-hitter cap count as characters
    (the unmerged segmentation) — declared semantics, mirrored in the
    twin; at the test scale factors the cap is inactive, so every
    word takes the learned segmentation.

    Output: doc_id, n_words, n_bpe_tok, n_chars_tok, and
    bpe_ratio = n_bpe_tok / n_chars_tok (the compression the
    tokenizer achieves on that document)."""
    _, rows = _bpe_learn(spark, sf_dir)
    word_len = rows.groupBy("word").agg(
        F.count("*").cast("long").alias("n_bpe"))
    toks = _cdocs(spark, sf_dir).select(
        "doc_id", F.explode(tokens("text")).alias("word"))
    j = toks.join(F.broadcast(word_len), "word", "left").select(
        "doc_id",
        F.length("word").cast("long").alias("n_chars"),
        F.coalesce("n_bpe", F.length("word").cast("long")).alias("n_sym"),
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe_tok"),
            F.sum("n_chars").cast("long").alias("n_chars_tok"),
        )
        .select(
            "doc_id", "n_words", "n_bpe_tok", "n_chars_tok",
            (F.col("n_bpe_tok").cast("double") / F.col("n_chars_tok"))
            .alias("bpe_ratio"),
        )
        .orderBy("doc_id")
    )


# --- derived audits (shard_manifest, dedup_recall_audit,
#     curation_funnel) ----------------------------------------------


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-shard manifest as a registered query: one row per
    shard with n_docs, n_tokens, and n_seqs = ceil(n_tokens / B).

    This is exactly the table ``sinks.export_training_shards`` writes,
    so hash-checking it against the oracle verifies the sink's core
    computation, not just the layout query it reads.  Shard-grain
    aggregate over ``q_seq_pack`` — the output is scheduler-sized (one
    row per shard) at any corpus scale."""
    return shard_manifest_agg(q_seq_pack(spark, sf_dir)).orderBy("shard_id")


def shard_manifest_agg(layout: DataFrame) -> DataFrame:
    """Shard-grain manifest aggregate over a ``q_seq_pack`` layout —
    the SINGLE definition shared by ``q_shard_manifest`` (the
    oracle-checked query) and ``sinks.export.export_training_shards``
    (the artifact writer), so the hash cross-check can never silently
    drift from what the sink actually writes."""
    return layout.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        (F.max("seq_last") + 1).cast("long").alias("n_seqs"),
    )


# Fixed audit panel: recall is measured on the stratum of exact pairs
# that TOUCH one of these hash-selected documents, so the audit's
# cost is bounded by the panel's pair neighborhood — NOT the corpus's
# true-pair universe, which on a dup-dense corpus grows ~quadratically
# in the duplication factor (round-5 probe: 8.4× at 8× replication).
# Same fixed-panel rationale as the ANN recall audits
# (similarity.ANN_QUERY_COUNT) and the decontamination benchmark
# panel (curation.DECON_PANEL_K).  128 docs keeps several exact
# pairs in the stratum on the sparse 500-doc test corpora while
# remaining a fixed (corpus-independent) audit cost at scale.
RECALL_PANEL_K = 128


def recall_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id): the ``RECALL_PANEL_K`` documents with the smallest
    (h15(doc_id), doc_id) — deterministic, uniform, engine-identical
    (exact two-phase salted top-k; the key is a total order)."""
    from astra_perseverance_spark.functions.ordering import salted_topk

    def build() -> DataFrame:
        d = _cdocs(spark, sf_dir).select("doc_id").withColumn(
            "qh", h15(F.col("doc_id").cast("string"))
        )
        return salted_topk(
            d, [], ["qh", "doc_id"], RECALL_PANEL_K, "doc_id"
        ).select("doc_id")

    return memo_frame(spark, sf_dir, ("dedup_recall_panel",), build)


def _touching_panel(pairs: DataFrame, panel: DataFrame) -> DataFrame:
    """Pairs where ``doc_a`` OR ``doc_b`` is a panel document — two
    broadcast left-join markers, no shuffle, no pair duplication (a
    union of two semi-joins would double-count pairs touching the
    panel on both sides)."""
    pa = panel.select(F.col("doc_id").alias("doc_a"),
                      F.lit(1).alias("_ma"))
    pb = panel.select(F.col("doc_id").alias("doc_b"),
                      F.lit(1).alias("_mb"))
    return (
        pairs.join(F.broadcast(pa), "doc_a", "left")
        .join(F.broadcast(pb), "doc_b", "left")
        .filter(F.col("_ma").isNotNull() | F.col("_mb").isNotNull())
        .drop("_ma", "_mb")
    )


def q_dedup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of MinHash-LSH near-dup detection against the exact
    Jaccard pair set, per language, measured on a FIXED document
    panel — the dedup-side analog of the ANN recall audits (every
    production LSH deployment tunes its bands/rows against exactly
    this number).

    Ground truth is ``ngram_jaccard`` (AllPairs prefix-filtered exact
    scan) restricted to pairs touching the ``RECALL_PANEL_K``
    hash-selected panel documents; the probe is ``dedup_minhash_lsh``
    (banded LSH + verify), restricted the same way purely as a cost
    optimization (restricting the probe side cannot change which
    exact-stratum pairs it hits).  Membership is the tagged-union
    aggregate on the pair key — no join; with the panel restriction
    the aggregate's input is the panel's pair neighborhood, bounded
    at any corpus duplication density.

    Output: lang, n_exact, n_hit, recall."""
    from astra_perseverance_spark.extensions.dedup import (
        minhash_pairs,
        q_ngram_jaccard,
    )

    panel = recall_panel(spark, sf_dir)
    exact = (
        _touching_panel(
            q_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b", "lang"),
            panel)
        .withColumn("src", F.lit(1))
    )
    lsh = (
        _touching_panel(
            minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"),
            panel)
        .select("doc_a", "doc_b",
                F.lit(None).cast("string").alias("lang"))
        .withColumn("src", F.lit(2))
    )
    membership = (
        exact.unionByName(lsh)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("lang").alias("lang"),
            F.max(F.when(F.col("src") == 1, 1).otherwise(0))
            .alias("in_exact"),
            F.max(F.when(F.col("src") == 2, 1).otherwise(0))
            .alias("in_lsh"),
        )
    )
    return (
        membership.filter(F.col("in_exact") == 1)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum("in_lsh").cast("long").alias("n_hit"),
        )
        .select(
            "lang", "n_exact", "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_exact"))
            .alias("recall"),
        )
        .orderBy("lang")
    )


# Leakage-safe split fractions (percent of the 100-bucket hash space).
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 5  # test gets the remainder


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: every document's split
    is decided by the hash of its NEAR-DUP CLUSTER REPRESENTATIVE
    (the connected-component label from ``dedup_clusters``; singleton
    documents represent themselves) — so an entire duplicate cluster
    always lands in ONE split and a near-duplicate of a training
    document can never leak into the eval set, the failure mode naive
    per-doc hash splits have on real web corpora.

    bucket = h15(rep_doc) mod 100; < SPLIT_TRAIN_PCT → train, next
    SPLIT_VAL_PCT → val, remainder → test.  Pure integer/md5
    arithmetic — engine-identical, reproducible, and stable under
    corpus growth (a doc's split changes only if its cluster's
    representative changes).

    Plan: one left join of the corpus doc list against the memoized
    component frame (doc-grain, shuffle_hash — cluster membership can
    be corpus-sized on dup-dense data, so no broadcast), then a
    narrow hash projection.  With the bucketed warehouse the corpus
    side arrives doc_id-clustered.

    Output: doc_id, rep_doc, bucket, split."""
    from astra_perseverance_spark.extensions.corpus import docs_frame
    from astra_perseverance_spark.extensions.dedup import q_dedup_clusters

    clusters = q_dedup_clusters(spark, sf_dir).select(
        "doc_id", F.col("cluster_id").alias("_rep"))
    docs = docs_frame(spark, sf_dir).select("doc_id")
    rep = F.coalesce(F.col("_rep"), F.col("doc_id"))
    bucket = h15(rep.cast("string")) % 100
    return (
        docs.join(clusters.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            rep.alias("rep_doc"),
            bucket.alias("bucket"),
            _split_name(bucket).alias("split"),
        )
        .orderBy("doc_id")
    )


def _split_name(bucket: F.Column) -> F.Column:
    """bucket (0–99) → split label; shared by both split operators so
    the boundary arithmetic can never drift between them."""
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


def even_components_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, component): connected components of the EXISTING-ONLY
    (even doc_id) duplicate subgraph — the split-anchor artifact of
    the prior corpus build that ``q_split_assign_incremental`` probes.
    Session-memoized; with ``SPARK_GRAFT_INDEX_DB`` set it is the
    persisted ``even_components`` table (``sinks.index_store``), so a
    fresh application inherits the anchors without re-walking the
    duplicate graph."""
    from astra_perseverance_spark.extensions.corpus import index_artifact
    from astra_perseverance_spark.extensions.dedup import (
        content_digest_frame,
        ngram_pairs,
    )
    from astra_perseverance_spark.functions.graph import (
        connected_components,
    )

    art = index_artifact(spark, "even_components")
    if art is not None:
        return art

    def build() -> DataFrame:
        # Exact edges must be REBUILT over the even subcorpus, not
        # parity-filtered from the global graph: the global exact
        # edges are star-shaped around the GLOBAL min doc_id, so when
        # a digest group's hub is odd, its (odd_hub, even_member)
        # edges would all be dropped and two even exact-duplicates
        # would land in different components (and possibly different
        # splits).  Near edges are genuine pairs, so the even-even
        # filter is exact for them.  Mirrors the oracle's
        # de/grpe/exact_e CTEs.
        d = content_digest_frame(spark, sf_dir).filter(
            F.col("doc_id") % 2 == 0)
        groups = (
            d.groupBy("content_md5")
            .agg(F.min("doc_id").alias("m"), F.count("*").alias("c"))
            .filter(F.col("c") >= 2)
        )
        exact = (
            d.join(groups, "content_md5")
            .filter(F.col("doc_id") > F.col("m"))
            .select(F.col("m").alias("a"), F.col("doc_id").alias("b"))
        )
        near = (
            ngram_pairs(spark, sf_dir)
            .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
            .filter((F.col("a") % 2 == 0) & (F.col("b") % 2 == 0))
        )
        return connected_components(exact.union(near).distinct())

    return memo_frame(spark, sf_dir, ("even_components",), build)


def q_split_assign_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment for a NEW ingestion batch against
    an EXISTING corpus (doc_id parity split, the
    ``dedup_incremental`` fixture convention: even = existing, odd =
    new): a new document that duplicates or near-duplicates an
    existing document INHERITS the split of its anchor (the matched
    existing doc with the smallest id), so fresh crawl data can never
    drop a near-copy of a training document into the eval set;
    unmatched new docs hash their own id.

    The existing corpus's splits are what ``split_assign`` would have
    produced on that corpus alone: connected components of the
    EXISTING-ONLY duplicate subgraph (memoized — at production scale
    a persisted artifact of the prior corpus build), rep-hash
    bucketed.  Matches come from the persisted-artifact probes of
    ``dedup_incremental`` — batch-sized work, not a corpus re-dedup.

    Output: doc_id (new batch), anchor_doc (NULL if unmatched),
    n_anchors, split, split_conflict (TRUE when the doc's anchors
    span more than one split — the signal to quarantine a document
    that bridges existing clusters across the split boundary)."""
    from astra_perseverance_spark.extensions.corpus import docs_frame
    from astra_perseverance_spark.extensions.dedup import (
        q_dedup_incremental,
    )

    comp = even_components_frame(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component")

    docs = docs_frame(spark, sf_dir).select("doc_id")
    existing = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .join(comp.hint("shuffle_hash"), "doc_id", "left")
    )
    ex_rep = F.coalesce(F.col("component"), F.col("doc_id"))
    ex_split = existing.select(
        F.col("doc_id").alias("dup_of"),
        _split_name(h15(ex_rep.cast("string")) % 100).alias("ex_split"),
    )
    m = (
        q_dedup_incremental(spark, sf_dir)
        .select("doc_id", "dup_of")
        .join(ex_split.hint("shuffle_hash"), "dup_of")
        .groupBy("doc_id")
        .agg(
            F.min("dup_of").alias("anchor_doc"),
            # (doc_id, dup_of) is UNIQUE in q_dedup_incremental's
            # output by contract ("one row per (new doc, matching
            # existing doc)"; exact pairs come from a unique digest
            # join, near pairs from the distinct cross-boundary pair
            # set with exact anti-joined out), so a plain count IS the
            # distinct count — and dropping count_distinct removes
            # the RewriteDistinctAggregates Expand (its 2x row fan-out
            # plus the SortAggregate chain it forces; also the reason
            # this query's plan fingerprint recorded "unstable") (r16)
            F.count("*").cast("long").alias("n_anchors"),
            F.min_by("ex_split", "dup_of").alias("anchor_split"),
            # "anchors span >1 split" — min!=max: ex_split is non-null
            # here (inner join on dup_of), so equivalent to a distinct
            # count without a second distinct group
            (F.min("ex_split") != F.max("ex_split"))
            .alias("split_conflict"),
        )
    )
    own_bucket = h15(F.col("doc_id").cast("string")) % 100
    return (
        docs.filter(F.col("doc_id") % 2 == 1)
        .join(m.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id", "anchor_doc",
            F.coalesce("n_anchors", F.lit(0).cast("long"))
            .alias("n_anchors"),
            F.coalesce(F.col("anchor_split"), _split_name(own_bucket))
            .alias("split"),
            F.coalesce("split_conflict", F.lit(False))
            .alias("split_conflict"),
        )
        .orderBy("doc_id")
    )


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reject-reason funnel over the curation ledger: how many
    documents each rule removes, as the fraction of the corpus — the
    one-screen answer to "where did my data go?".

    A document can carry several reasons (semicolon-joined in
    ``corpus_curate``), so rows are reason-grain and fractions need
    not sum to the reject rate.  Reason-grain aggregate over the
    MEMOIZED ledger frame (``curation.curation_ledger`` — the sort
    the registered query adds is irrelevant here and the memo means
    the five-join build isn't re-run per consumer) — tiny output at
    any scale."""
    from astra_perseverance_spark.extensions.curation import curation_ledger

    ledger = curation_ledger(spark, sf_dir)
    total = n_docs(spark, sf_dir)
    return (
        ledger.filter(~F.col("keep"))
        .select(F.explode(F.split("reasons", ";")).alias("reason"))
        .filter(F.length("reason") > 0)
        .groupBy("reason")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select(
            "reason", "n_docs",
            (F.col("n_docs").cast("double") / F.lit(total)).alias("frac"),
        )
        .orderBy("reason")
    )
