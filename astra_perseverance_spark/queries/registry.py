"""Query registry: name → callable(spark, sf_dir) → DataFrame.

Every declared query from SURVEY.md §2.10 (Q1–Q20) is registered here;
each has a DuckDB oracle twin in ``oracle.sqls`` unless listed in
``NO_ORACLE`` (the driver then runs a rows-only check).

Any change to this registry, an oracle twin, or docs/ needs a green
``python tools/preflight.py`` (the Spark-free gate subset: plan-audit
doc staleness, coverage-map currency, registry↔oracle key sync,
bench-artifact freshness; no Spark session).  The full gate sequence
is ``python tools/preflight.py --full`` (preflight + tools/check.py
full-registry oracle parity + pytest).

Each entry is the builder itself: every call constructs a fresh
DataFrame.  What a session shares across queries is memoized below
the builders, in ``conformed.model`` (``memo_frame``/``memo_value``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from astra_perseverance_spark.extensions import (
    curation,
    dedup,
    multimodal,
    pipeline,
    prep,
    qa,
    similarity,
    text_stats,
    timeseries,
    training,
)
from astra_perseverance_spark.queries import (
    gc,
    health,
    schema_checks,
    summary,
    warnings,
    workload,
)
from astra_perseverance_spark.streaming import doc_stream, gc_stream

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERY_REGISTRY: dict[str, QueryFn] = {
    # ---- SURVEY §2.10 parity queries ----
    # Q1-Q4, Q18, Q20-long — workload family
    "workload_reads": workload.q_workload_reads,
    "workload_writes": workload.q_workload_writes,
    "workload_summary": workload.q_workload_summary,
    "data_size": workload.q_data_size,
    "workload_rw_outer": workload.q_workload_rw_outer,
    "summary_long": workload.q_summary_long,
    # Q5, Q19 — GC percentile family
    "gc_percentiles": gc.q_gc_percentiles,
    "gc_p99_health": gc.q_gc_p99_health,
    # Q6-Q14 — health / threshold family
    "proxyhistograms_ms": health.q_proxyhistograms_ms,
    "node_data": health.q_node_data,
    "dropped_mutations": health.q_dropped_mutations,
    "large_partitions": health.q_large_partitions,
    "sstable_count": health.q_sstable_count,
    "num_tables": health.q_num_tables,
    "read_latency": health.q_read_latency,
    "write_latency": health.q_write_latency,
    "tombstones": health.q_tombstones,
    # Q15-Q17 — schema guardrail family
    "guardrail_dependents": schema_checks.q_guardrail_dependents,
    "column_count": schema_checks.q_column_count,
    "uda_udf_presence": schema_checks.q_uda_udf_presence,
    # Findings framework + Q20 nested summary
    "warnings": warnings.q_warnings,
    "summary_json": summary.q_summary_json,
    # ---- extension and streaming queries, grouped by subject;
    # tests/test_oracle_parity.py checks every entry ----
    # Dedup: exact, bag, MinHash-LSH, SimHash and token-set near-dup
    # detection, duplicate clusters, incremental dedup against a
    # persisted index, duplicate spans and their trim, and the audits
    "dedup_exact": dedup.q_dedup_exact,
    "dedup_keep_list": dedup.q_dedup_keep_list,
    "dedup_minhash_lsh": dedup.q_dedup_minhash_lsh,
    "dedup_simhash": dedup.q_dedup_simhash,
    "dedup_tokenset": dedup.q_dedup_tokenset,
    "ngram_jaccard": dedup.q_ngram_jaccard,
    "dedup_clusters": dedup.q_dedup_clusters,
    "dedup_incremental": dedup.q_dedup_incremental,
    "postings_health": dedup.q_postings_health,
    "dup_spans": training.q_dup_spans,
    "dedup_span_trim": training.q_dedup_span_trim,
    "dedup_recall_audit": training.q_dedup_recall_audit,
    "source_cross_dup": curation.q_source_cross_dup,
    # Similarity / ANN over embeddings: exact top-k, cosine dup pairs
    # and clusters, LSH and IVF indexes (k-means, PQ, incremental,
    # int8-quantized), their recall audits and index health
    "embedding_topk": similarity.q_embedding_topk,
    "embedding_cosine_dups": similarity.q_embedding_cosine_dups,
    "embedding_dup_clusters": similarity.q_embedding_dup_clusters,
    "semdedup": similarity.q_semdedup,
    "embedding_label_probe": similarity.q_embedding_label_probe,
    "cluster_purity": similarity.q_cluster_purity,
    "ann_lsh_bucket": similarity.q_ann_lsh_bucket,
    "ann_ivf": similarity.q_ann_ivf,
    "ann_ivf_kmeans": similarity.q_ann_ivf_kmeans,
    "ann_ivf_pq": similarity.q_ann_ivf_pq,
    "ann_incremental": similarity.q_ann_incremental,
    "ann_incremental_pq": similarity.q_ann_incremental_pq,
    "ann_recall_audit": similarity.q_ann_recall_audit,
    "ann_recall_ivf_kmeans": similarity.q_ann_recall_ivf_kmeans,
    "ann_recall_ivf_pq": similarity.q_ann_recall_ivf_pq,
    "ann_index_health": similarity.q_ann_index_health,
    "embedding_quantize": training.q_embedding_quantize,
    "ann_quantized_recall": training.q_ann_quantized_recall,
    # Text: per-doc statistics, language ID, token counts, fingerprints,
    # vocabulary and n-gram counts, and text preparation
    "text_stats": text_stats.q_text_stats,
    "lang_id": text_stats.q_lang_id,
    "token_count": text_stats.q_token_count,
    "doc_fingerprint": text_stats.q_doc_fingerprint,
    "vocab_top_terms": pipeline.q_vocab_top_terms,
    "tfidf_top_terms": pipeline.q_tfidf_top_terms,
    "ngram_counts": pipeline.q_ngram_counts,
    "vocab_growth": pipeline.q_vocab_growth,
    "doc_chunks": prep.q_doc_chunks,
    "html_extract": prep.q_html_extract,
    "repeated_lines": prep.q_repeated_lines,
    "script_profile": prep.q_script_profile,
    "token_rarity": prep.q_token_rarity,
    # Curation: contract validation, quality signals and filters, PII,
    # decontamination, sampling, source mix and the keep/drop ledger
    "corpus_validate": qa.q_corpus_validate,
    "quality_filter": pipeline.q_quality_filter,
    "quality_report": curation.q_quality_report,
    "quality_signals": curation.q_quality_signals,
    "repetition_signals": curation.q_repetition_signals,
    "ngram_novelty": curation.q_ngram_novelty,
    "decontaminate": curation.q_decontaminate,
    "pii_scan": curation.q_pii_scan,
    "source_mix": curation.q_source_mix,
    "corpus_sample": pipeline.q_corpus_sample,
    "corpus_sample_fixed": pipeline.q_corpus_sample_fixed,
    "corpus_rollup": pipeline.q_corpus_rollup,
    "doc_digest_join": pipeline.q_doc_digest_join,
    "corpus_curate": curation.q_corpus_curate,
    "curation_funnel": training.q_curation_funnel,
    # Training assembly: BPE merges, splits, sequence packing, shards
    "bpe_merges": training.q_bpe_merges,
    "bpe_token_count": training.q_bpe_token_count,
    "split_assign": training.q_split_assign,
    "split_assign_incremental": training.q_split_assign_incremental,
    "seq_pack": training.q_seq_pack,
    "shard_manifest": training.q_shard_manifest,
    # Time series over events: as-of joins, windowed attribution,
    # sessionization, funnels and the per-user skew guard
    "events_asof": timeseries.q_events_asof,
    "events_asof_1h": timeseries.q_events_asof_1h,
    "events_window_attr": timeseries.q_events_window_attr,
    "events_next_error": timeseries.q_events_next_error,
    "events_funnel": timeseries.q_events_funnel,
    "events_sessionize": timeseries.q_events_sessionize,
    "events_sessionize_capped": timeseries.q_events_sessionize_capped,
    "user_skew_audit": timeseries.q_user_skew_audit,
    # Multimodal: features and frame sampling over synthesized payloads
    "multimodal_features": multimodal.q_multimodal_features,
    "multimodal_frame_sample": multimodal.q_multimodal_frame_sample,
    # Streaming: batch twins of the Structured Streaming operators
    "gc_minute_windows": gc_stream.q_gc_minute_windows,
    "gc_sessions": gc_stream.q_gc_sessions,
    "doc_minute_tokens": doc_stream.q_doc_minute_tokens,
}

# Queries with no SQL-expressible oracle (driver runs rows-only check).
NO_ORACLE: frozenset[str] = frozenset()
