"""Property-based invariants (SURVEY.md §5.2) at sf0.001: structural
truths that must hold for any input, not just the fixed oracle hash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def q(spark):
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    def run(name):
        return QUERY_REGISTRY[name](spark, SF_SMALL)

    return run


class TestWorkloadInvariants:
    def test_pct_reads_sums_to_one(self, q):
        s = q("workload_reads").agg(F.sum("pct_reads")).collect()[0][0]
        assert s == pytest.approx(1.0, abs=1e-9)

    def test_r_plus_w_pct_rw_is_one(self, q):
        r = q("workload_reads").agg(F.sum("r_pct_rw")).collect()[0][0]
        w = q("workload_writes").agg(F.sum("w_pct_rw")).collect()[0][0]
        assert r + w == pytest.approx(1.0, abs=1e-9)

    def test_summary_totals_consistent(self, q):
        s = q("workload_summary").collect()[0]
        assert s["total_r_pct_rw"] + s["total_w_pct_rw"] == pytest.approx(1.0)
        assert s["read_tpmo"] == pytest.approx(s["total_read_tps"] * 2_629_800)

    def test_data_size_total_row_equals_sum(self, q):
        rows = q("data_size").collect()
        total = [r for r in rows if r["ks"] == "" and r["tbl"] == ""]
        parts = [r for r in rows if not (r["ks"] == "" and r["tbl"] == "")]
        assert len(total) == 1
        assert total[0]["size_bytes"] == pytest.approx(
            sum(r["size_bytes"] for r in parts), rel=1e-12
        )

    def test_outer_join_covers_both_sides(self, q):
        reads = {(r["ks"], r["tbl"]) for r in q("workload_reads").collect()}
        writes = {(r["ks"], r["tbl"]) for r in q("workload_writes").collect()}
        outer = {(r["ks"], r["tbl"]) for r in q("workload_rw_outer").collect()}
        assert outer == reads | writes


class TestGcInvariants:
    def test_percentile_monotonicity(self, q):
        for r in q("gc_percentiles").collect():
            seq = [r["min_ms"], r["p50"], r["p75"], r["p90"], r["p95"],
                   r["p98"], r["p99"], r["max_ms"]]
            assert seq == sorted(seq), r

    def test_rollup_counts_consistent(self, q):
        rows = q("gc_percentiles").collect()
        db = [r for r in rows if r["lvl"] == 0]
        dcs = [r for r in rows if r["lvl"] == 1]
        nodes = [r for r in rows if r["lvl"] == 2]
        assert len(db) == 1
        assert db[0]["pauses"] == sum(r["pauses"] for r in dcs)
        assert db[0]["pauses"] == sum(r["pauses"] for r in nodes)

    def test_from_before_to(self, q):
        for r in q("gc_percentiles").collect():
            assert r["from_ts"] <= r["to_ts"]


class TestExtensionInvariants:
    def test_jaccard_bounds_and_symmetric_keys(self, q):
        for r in q("dedup_minhash_lsh").collect():
            assert 0.0 <= r["jaccard"] <= 1.0
            assert r["doc_a"] < r["doc_b"]

    def test_minhash_candidates_superset_of_blocked_exact(self, q):
        """Every within-lang pair the exact blocked scan finds at the
        same threshold must be found by LSH (recall check on the
        fixture corpus — all true pairs are j ≥ 0.8 here)."""
        lsh = {(r["doc_a"], r["doc_b"]) for r in q("dedup_minhash_lsh").collect()}
        exact = {(r["doc_a"], r["doc_b"]) for r in q("ngram_jaccard").collect()}
        assert exact <= lsh

    def test_topk_ranks_contiguous(self, q):
        from collections import defaultdict

        by_q = defaultdict(list)
        for r in q("embedding_topk").collect():
            by_q[r["query_id"]].append(r["rank"])
        for ranks in by_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))

    def test_topk_cosine_descending(self, q):
        from collections import defaultdict

        by_q = defaultdict(list)
        for r in q("embedding_topk").collect():
            by_q[r["query_id"]].append((r["rank"], r["cosine"]))
        for pairs in by_q.values():
            cos = [c for _, c in sorted(pairs)]
            assert cos == sorted(cos, reverse=True)

    def test_ann_is_subset_quality(self, q):
        """Bucketed ANN cosines can never exceed the exact top-1."""
        exact_best = {r["query_id"]: r["cosine"]
                      for r in q("embedding_topk").collect() if r["rank"] == 1}
        for r in q("ann_lsh_bucket").collect():
            if r["rank"] == 1:
                assert r["cosine"] <= exact_best[r["query_id"]] + 1e-12

    @pytest.mark.parametrize("ivf_q", ["ann_ivf", "ann_ivf_kmeans"])
    def test_ivf_is_subset_quality(self, q, ivf_q):
        """IVF-probed cosines (untrained and trained) can never exceed
        the exact top-1."""
        exact_best = {r["query_id"]: r["cosine"]
                      for r in q("embedding_topk").collect() if r["rank"] == 1}
        rows = q(ivf_q).collect()
        assert rows, f"{ivf_q} returned nothing"
        for r in rows:
            if r["rank"] == 1:
                assert r["cosine"] <= exact_best[r["query_id"]] + 1e-12

    def test_kmeans_assignment_partitions_corpus(self, spark):
        """Every vector lands in exactly one trained list (crank 1),
        and every list id is a trained centroid id."""
        from astra_perseverance_spark.extensions.similarity import (
            _build_ivf_kmeans_lists,
            _kmeans_centroids,
        )
        from tests.conftest import SF_SMALL

        lists = _build_ivf_kmeans_lists(spark, SF_SMALL)
        assigned = lists.filter(F.col("crank") == 1)
        n_vec = lists.select("vec_id").distinct().count()
        assert assigned.count() == n_vec  # exactly one list per vector
        cids = {r["cid"]
                for r in _kmeans_centroids(spark, SF_SMALL).collect()}
        assert {r["cid"] for r in assigned.collect()} <= cids

    def test_simhash_hamming_bound(self, q):
        from astra_perseverance_spark.functions.texthash import (
            SIMHASH_MAX_HAMMING,
        )

        for r in q("dedup_simhash").collect():
            assert 0 <= r["hamming"] <= SIMHASH_MAX_HAMMING

    def test_dedup_exact_partitions_corpus(self, q, spark):
        n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
        rows = q("dedup_exact").collect()
        assert sum(r["n_docs"] for r in rows) == n_docs

    def test_text_stats_ratios_bounded(self, q):
        for r in q("text_stats").collect():
            assert 0.0 <= r["stopword_ratio"] <= 1.0
            assert 0.0 <= r["punct_ratio"] <= 1.0
            assert 0.0 < r["ttr"] <= 1.0
            assert 0.0 <= r["quality"] <= 1.0


class TestIntegerDivision:
    def test_idiv_matches_duckdb_floor_semantics(self, spark):
        """``training._idiv`` (SQL ``div``) must agree with DuckDB's
        ``//`` on every BIGINT — including negatives (both truncate
        toward zero) and magnitudes past 2^53, where the old
        ``floor(a / b)`` double path loses integer precision."""
        import duckdb

        from astra_perseverance_spark.extensions.training import _idiv

        cases = [
            (7, 2), (-7, 2), (7, -2), (-7, -2), (0, 5),
            (2**61 + 12345, 255), (-(2**61) - 7, 255),
            (2**53 + 1, 3), (10**18, 7), (255, 2**40),
            # floor(double-div) would return 2^53 here; div is exact
            (2**53 + 1, 1),
        ]
        df = spark.createDataFrame(cases, "a long, b long")
        got = {
            (r["a"], r["b"]): r["q"]
            for r in df.select(
                "a", "b", _idiv(F.col("a"), F.col("b")).alias("q")
            ).collect()
        }
        for a, b in cases:
            want = duckdb.sql(
                f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)"
            ).fetchone()[0]
            assert got[(a, b)] == want, (a, b)
        assert got[(2**53 + 1, 1)] == 2**53 + 1  # exact past 2^53


class TestMultimodal:
    def test_feature_batch_shape(self, q, spark):
        feats = q("multimodal_features").collect()
        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
        assert len(feats) == docs
        for r in feats[:20]:
            assert r["media_type"] in ("image", "audio", "video")
            assert r["byte_len"] > 0
            assert 0 <= r["content_h15"] < 1 << 60


class TestGraphAndPipeline:
    def test_connected_components_synthetic(self, spark):
        from astra_perseverance_spark.functions.graph import (
            connected_components,
        )

        # chain 0-1-...-5, a triangle {10,11,12}, an isolated edge
        # {20,21}, and a self-loop {30} — four components.
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(5)]
            + [(10, 11), (11, 12), (12, 10), (20, 21), (30, 30)],
            "a long, b long",
        )
        got = {(r["node"], r["component"])
               for r in connected_components(edges).collect()}
        want = {(i, 0) for i in range(6)}
        want |= {(10, 10), (11, 10), (12, 10), (20, 20), (21, 20), (30, 30)}
        assert got == want

    def test_clusters_labeled_by_min_member(self, q):
        from collections import defaultdict

        members = defaultdict(list)
        for r in q("dedup_clusters").collect():
            members[r["cluster_id"]].append((r["doc_id"], r["cluster_size"]))
        assert members, "no duplicate clusters on the fixture corpus"
        for cid, rows in members.items():
            ids = sorted(d for d, _ in rows)
            assert ids[0] == cid
            assert len(ids) >= 2
            assert all(sz == len(ids) for _, sz in rows)

    def test_clusters_cover_exact_dup_groups(self, q):
        """Every multi-member exact-content group must land inside
        one cluster."""
        rep_of = {}
        for r in q("dedup_clusters").collect():
            rep_of[r["doc_id"]] = r["cluster_id"]
        for r in q("dedup_exact").collect():
            if r["n_docs"] >= 2:
                assert r["rep_doc"] in rep_of

    def test_vocab_ranks_contiguous_per_lang(self, q):
        from collections import defaultdict

        by_lang = defaultdict(list)
        for r in q("vocab_top_terms").collect():
            by_lang[r["lang"]].append((r["rank"], r["df_docs"]))
        for pairs in by_lang.values():
            ranks = sorted(rk for rk, _ in pairs)
            assert ranks == list(range(1, len(ranks) + 1))
            dfs = [d for _, d in sorted(pairs)]
            assert dfs == sorted(dfs, reverse=True)

    def test_tfidf_score_formula(self, q, spark):
        n = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
        for r in q("tfidf_top_terms").collect()[:100]:
            assert r["score"] == pytest.approx(
                r["tf"] * n / r["df_docs"], rel=1e-12
            )

    def test_corpus_sample_is_deterministic_subset(self, q, spark):
        all_ids = {r["doc_id"] for r in spark.read.parquet(
            f"{SF_SMALL}/documents.parquet").select("doc_id").collect()}
        s1 = [r["doc_id"] for r in q("corpus_sample").collect()]
        s2 = [r["doc_id"] for r in q("corpus_sample").collect()]
        assert s1 == s2
        assert set(s1) <= all_ids
        assert 0 < len(s1) < len(all_ids)

    def test_quality_filter_reasons_well_formed(self, q):
        valid = {"too_short", "low_ttr", "high_punct", "exact_dup"}
        rows = q("quality_filter").collect()
        assert rows, "fixture corpus has no rejects"
        for r in rows:
            parts = r["reasons"].split(";")
            assert parts, r
            assert set(parts) <= valid

    def test_quality_filter_flags_exact_dups(self, q):
        """Every non-representative member of an exact group must be
        rejected with exact_dup among its reasons."""
        reasons = {r["doc_id"]: r["reasons"].split(";")
                   for r in q("quality_filter").collect()}
        reps = {r["rep_doc"] for r in q("dedup_exact").collect()
                if r["n_docs"] >= 2}
        # group representatives are never rejected as exact_dup
        for doc, rs in reasons.items():
            if "exact_dup" in rs:
                assert doc not in reps

    def test_embedding_clusters_labeled_by_min_member(self, q):
        from collections import defaultdict

        members = defaultdict(list)
        for r in q("embedding_dup_clusters").collect():
            members[r["cluster_id"]].append((r["vec_id"], r["cluster_size"]))
        for cid, rows in members.items():
            ids = sorted(v for v, _ in rows)
            assert ids[0] == cid
            assert len(ids) >= 2
            assert all(sz == len(ids) for _, sz in rows)

    def test_embedding_clusters_cover_pairs(self, q):
        """Both endpoints of every cosine near-dup pair must appear
        in the same cluster."""
        cluster_of = {r["vec_id"]: r["cluster_id"]
                      for r in q("embedding_dup_clusters").collect()}
        pairs = q("embedding_cosine_dups").collect()
        for r in pairs:
            assert cluster_of[r["vec_a"]] == cluster_of[r["vec_b"]]

    def test_ngram_counts_ranked_and_bounded(self, q):
        from collections import defaultdict

        from astra_perseverance_spark.extensions.pipeline import NGRAM_TOP_K

        by_lang = defaultdict(list)
        for r in q("ngram_counts").collect():
            assert len(r["bigram"].split(" ")) == 2
            by_lang[r["lang"]].append((r["rank"], r["n"]))
        for pairs in by_lang.values():
            ranks = sorted(rk for rk, _ in pairs)
            assert ranks == list(range(1, len(ranks) + 1))
            assert len(ranks) <= NGRAM_TOP_K
            ns = [n for _, n in sorted(pairs)]
            assert ns == sorted(ns, reverse=True)

    def test_fixed_sample_exact_size_per_stratum(self, q, spark):
        from collections import Counter

        from astra_perseverance_spark.extensions.pipeline import (
            SAMPLE_PER_STRATUM,
        )

        stratum_sizes = Counter(
            r["lang"] for r in spark.read.parquet(
                f"{SF_SMALL}/documents.parquet").select("lang").collect()
        )
        got = Counter(r["lang"] for r in q("corpus_sample_fixed").collect())
        for lang, total in stratum_sizes.items():
            assert got[lang] == min(SAMPLE_PER_STRATUM, total)

    def test_ann_recall_bounded_and_consistent(self, q):
        rows = q("ann_recall_audit").collect()
        assert rows
        for r in rows:
            assert 0 <= r["n_hit"] <= r["n_exact"]
            assert r["recall"] == pytest.approx(r["n_hit"] / r["n_exact"])

    def test_ann_incremental_split_and_ranking(self, q):
        """Queries are the new (odd) batch, neighbors come only from
        the indexed (even) corpus, and per-query ranks are a dense
        1..k with non-increasing cosine."""
        rows = q("ann_incremental").collect()
        assert rows
        per_q: dict[int, list] = {}
        for r in rows:
            assert r["query_id"] % 2 == 1
            assert r["neighbor_id"] % 2 == 0
            per_q.setdefault(r["query_id"], []).append(r)
        for qid, rs in per_q.items():
            rs.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
            cos = [r["cosine"] for r in rs]
            assert cos == sorted(cos, reverse=True)

    def test_ann_incremental_pq_split_ranking_and_overlap(self, q):
        """The PQ-served incremental path keeps the batch/index
        contract (odd queries, even-only neighbors, dense ranks,
        non-increasing ADC cosine), and — since it shares the coarse
        routing with the full-precision path and only the scoring
        payload differs — its top-k majority-overlaps the
        full-precision incremental answer (quantization may reorder
        the tail, never wipe the list)."""
        rows = q("ann_incremental_pq").collect()
        assert rows
        per_q: dict[int, list] = {}
        for r in rows:
            assert r["query_id"] % 2 == 1
            assert r["neighbor_id"] % 2 == 0
            per_q.setdefault(r["query_id"], []).append(r)
        for _qid, rs in per_q.items():
            rs.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
            cos = [r["cosine"] for r in rs]
            assert cos == sorted(cos, reverse=True)
        full = {(r["query_id"], r["neighbor_id"])
                for r in q("ann_incremental").collect()}
        pq = {(r["query_id"], r["neighbor_id"]) for r in rows}
        assert len(pq & full) >= len(full) // 2

    def test_incremental_dedup_consistent_with_pair_queries(self, q):
        """Every cross-parity ngram pair must appear as a 'near' row
        (new=odd side, existing=even side) — unless the pair is an
        exact digest collision, in which case it is reported under
        'exact' (for EVERY existing member of the digest group, not
        just the group representative) and anti-joined out of near."""
        got = {(r["doc_id"], r["dup_of"], r["kind"])
               for r in q("dedup_incremental").collect()}
        exact_pairs = {(d, o) for d, o, k in got if k == "exact"}
        want = set()
        for r in q("ngram_jaccard").collect():
            a, b = r["doc_a"], r["doc_b"]
            if a % 2 == 0 and b % 2 == 1:
                pair = (b, a)
            elif a % 2 == 1 and b % 2 == 0:
                pair = (a, b)
            else:
                continue
            if pair not in exact_pairs:
                want.add((*pair, "near"))
        assert {g for g in got if g[2] == "near"} == want
        for doc_id, dup_of, _ in got:
            assert doc_id % 2 == 1 or dup_of % 2 == 0

    def test_incremental_exact_covers_whole_digest_group(self, spark,
                                                         tmp_path):
        """A new doc identical to TWO existing docs must report BOTH
        as kind='exact' — pairing only the group minimum would
        misclassify the other identical existing doc as 'near'."""
        from astra_perseverance_spark.extensions.dedup import (
            q_dedup_incremental,
        )

        rows = [(2, "the same body of text here", "en", "web", 26),
                (4, "the same body of text here", "en", "web", 26),
                (5, "the same body of text here", "en", "web", 26),
                (6, "a completely different document", "en", "web", 31),
                (7, "yet another unrelated text", "en", "web", 26)]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
                  "n_chars long"
        ).write.parquet(str(tmp_path / "documents.parquet"))
        got = {(r["doc_id"], r["dup_of"], r["kind"])
               for r in q_dedup_incremental(spark, str(tmp_path)).collect()}
        assert {(5, 2, "exact"), (5, 4, "exact")} <= got
        assert (5, 4, "near") not in got and (5, 2, "near") not in got


class TestSaltedTopkExactness:
    def test_matches_single_window_on_random_data(self, spark):
        """salted_topk's documented contract: with a total order per
        group (unique tie-breaker), its result equals the plain
        single-window top-k exactly, on a frame with heavy per-group
        skew and k larger than some groups."""
        import random

        from pyspark.sql import Window

        from astra_perseverance_spark.functions.ordering import salted_topk

        rng = random.Random(20260814)
        rows = [
            (i, f"g{rng.randint(0, 3)}", rng.randint(0, 50))
            for i in range(2000)
        ] + [(2000 + i, "tiny", i) for i in range(2)]  # group smaller than k
        df = spark.createDataFrame(rows, "id long, grp string, score long")

        order = [F.desc("score"), "id"]  # id = unique tie-breaker
        got = {
            (r["grp"], r["rank"], r["id"])
            for r in salted_topk(df, ["grp"], order, 7, salt_on="id").collect()
        }
        w = Window.partitionBy("grp").orderBy(*order)
        want = {
            (r["grp"], r["rank"], r["id"])
            for r in df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 7).collect()
        }
        assert got == want


class TestCurationInvariants:
    def test_quality_ratios_bounded(self, q):
        rows = q("quality_signals").collect()
        for r in rows:
            assert r["n_words"] >= 1
            assert 0.0 <= r["alpha_word_frac"] <= 1.0
            assert 0.0 <= r["bullet_line_frac"] <= 1.0
            assert 0.0 <= r["ellipsis_line_frac"] <= 1.0
            assert 0.0 <= r["dup_line_frac"] < 1.0
            assert r["mean_word_len"] > 0

    def test_pii_totals_consistent(self, q):
        for r in q("pii_scan").collect():
            assert r["pii_total"] == r["n_email"] + r["n_ipv4"] + r["n_phone"]
            assert len(r["redacted_md5"]) == 32

    def test_source_mix_respects_budget_and_quotas(self, q):
        from astra_perseverance_spark.extensions.curation import MIX_BUDGET

        rows = q("source_mix").collect()
        assert len(rows) <= MIX_BUDGET
        by_src: dict = {}
        for r in rows:
            by_src.setdefault(r["source"], []).append(r)
        for src, picked in by_src.items():
            quota = picked[0]["quota"]
            assert len(picked) <= quota
            picks = sorted(p["pick"] for p in picked)
            assert picks == list(range(1, len(picks) + 1))  # contiguous

    def test_decontaminate_never_flags_panel_docs(self, spark, q):
        from astra_perseverance_spark.extensions.curation import decon_panel

        panel = {r["bench_doc"]
                 for r in decon_panel(spark, SF_SMALL).collect()}
        rows = q("decontaminate").collect()
        for r in rows:
            assert r["doc_id"] not in panel
            assert r["bench_doc"] in panel
            assert r["n_shared"] >= 3


class TestNoveltyInvariants:
    def test_bounds_and_consistency(self, q):
        rows = q("ngram_novelty").collect()
        assert rows
        for r in rows:
            assert 0 <= r["n_unique"] <= r["n_shingles"]
            assert 0.0 <= r["novelty"] <= 1.0

    def test_exact_duplicates_have_zero_novelty(self, q):
        """Members of any exact-dup group share every shingle, so none
        of their shingles can have df = 1."""
        dups = {r["rep_doc"] for r in q("dedup_exact").collect()
                if r["n_docs"] >= 2}
        if not dups:
            return
        nov = {r["doc_id"]: r["novelty"] for r in q("ngram_novelty").collect()}
        for d in dups:
            if d in nov:  # doc may fall out of the capped universe
                assert nov[d] == 0.0


class TestTrainingInvariants:
    def test_exact_dups_fully_covered_by_dup_spans(self, spark, monkeypatch):
        """Members of an exact-duplicate pair share EVERY token
        window, so each must carry exactly one duplicate span covering
        the whole document — asserted on a synthetic corpus (sf0.001
        plants no exact duplicates), plus an unrelated doc that must
        stay span-free."""
        from astra_perseverance_spark.extensions import training
        from astra_perseverance_spark.extensions.training import (
            DUP_SPAN_W,
            q_dup_spans,
        )

        dup_text = "alpha beta gamma delta epsilon zeta eta theta"
        n = len(dup_text.split())
        df = spark.createDataFrame(
            [(1, dup_text), (2, dup_text),
             (3, "one two three four five six seven eight")],
            "doc_id long, text string")
        monkeypatch.setattr(training, "_cdocs", lambda s, d: df)
        rows = q_dup_spans(spark, "synthetic://").collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert set(by_doc) == {1, 2}
        for doc_id in (1, 2):
            got = by_doc[doc_id]
            assert len(got) == 1
            assert got[0]["start_tok"] == 0
            assert got[0]["end_tok"] == n - 1
            assert got[0]["n_windows"] == n - DUP_SPAN_W + 1

    def test_seq_pack_covers_every_tokenized_doc(self, q, spark):
        """seq_pack must place every document with >= 1 token exactly
        once, and the per-shard max offset must equal the shard's
        token sum (no gaps, no overlap)."""
        from pyspark.sql import functions as F
        from astra_perseverance_spark.functions.texthash import tokens

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        n_with_tokens = docs.filter(F.size(tokens("text")) > 0).count()
        rows = q("seq_pack").collect()
        assert len(rows) == n_with_tokens
        assert len({r["doc_id"] for r in rows}) == len(rows)
