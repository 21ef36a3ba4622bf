"""Training-assembly invariants: duplicate-span geometry plus a full
independent Python recompute, sequence-packing layout algebra vs a
pure-Python repack, and quantization error accounting vs a per-vector
recompute."""

from __future__ import annotations

import hashlib
import math
import re

import pytest

from tests.conftest import SF_SMALL

from astra_perseverance_spark.extensions.training import (
    DUP_SPAN_MIN_DOCS,
    DUP_SPAN_W,
    SEQ_BUDGET,
    SQ_LEVELS,
    seq_shard_count,
)
from astra_perseverance_spark.functions.vectors import ANN_DIM, QUANT


def _toks(text: str) -> list[str]:
    return re.findall(r"[a-z0-9]+", text.lower())


def _h15(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def q(spark):
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    def run(name):
        return QUERY_REGISTRY[name](spark, SF_SMALL)

    return run


@pytest.fixture(scope="module")
def docs(spark):
    return {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    }


class TestDupSpans:
    def test_span_geometry(self, q):
        rows = q("dup_spans").collect()
        per_doc: dict[int, list] = {}
        for r in rows:
            assert r["n_tok"] == r["end_tok"] - r["start_tok"] + 1
            assert DUP_SPAN_W <= r["n_tok"] <= r["n_windows"] * DUP_SPAN_W
            assert r["n_windows"] >= 1
            per_doc.setdefault(r["doc_id"], []).append(r)
        for spans in per_doc.values():
            spans.sort(key=lambda r: r["start_tok"])
            for i, s in enumerate(spans):
                assert s["span_id"] == i + 1
            for a, b in zip(spans, spans[1:]):
                # maximality: merged islands are separated by a gap
                # strictly wider than the merge distance
                assert b["start_tok"] >= a["end_tok"] + 2

    def test_full_python_recompute(self, q, docs):
        """Recompute the whole operator in pure Python (grams → df →
        marked positions → islands merge) and compare row sets."""
        grams: dict[int, list[tuple[int, str]]] = {}
        df: dict[str, set[int]] = {}
        for doc_id, text in docs.items():
            t = _toks(text)
            g = [
                (p, " ".join(t[p:p + DUP_SPAN_W]))
                for p in range(len(t) - DUP_SPAN_W + 1)
            ]
            grams[doc_id] = g
            for _, s in g:
                df.setdefault(s, set()).add(doc_id)
        dup = {s for s, d in df.items() if len(d) >= DUP_SPAN_MIN_DOCS}
        expect = set()
        for doc_id, g in grams.items():
            pos = sorted(p for p, s in g if s in dup)
            spans: list[list[int]] = []
            for p in pos:
                if spans and p - spans[-1][-1] <= DUP_SPAN_W:
                    spans[-1].append(p)
                else:
                    spans.append([p])
            for i, island in enumerate(spans, start=1):
                start, end = island[0], island[-1] + DUP_SPAN_W - 1
                expect.add((doc_id, i, start, end,
                            end - start + 1, len(island)))
        got = {
            (r["doc_id"], r["span_id"], r["start_tok"], r["end_tok"],
             r["n_tok"], r["n_windows"])
            for r in q("dup_spans").collect()
        }
        assert got == expect
        assert expect, "fixture corpus should contain duplicate spans"


class TestDedupSpanTrim:
    def test_full_python_recompute(self, q, docs):
        """Recompute the trim in pure Python (grams → df + first
        occurrence → covered positions → per-position cut →
        reassembly) and compare the full row set."""
        grams: dict[int, list[tuple[int, str]]] = {}
        homes: dict[str, set[int]] = {}
        for doc_id, text in docs.items():
            t = _toks(text)
            g = [
                (p, " ".join(t[p:p + DUP_SPAN_W]))
                for p in range(len(t) - DUP_SPAN_W + 1)
            ]
            grams[doc_id] = g
            for _, s in g:
                homes.setdefault(s, set()).add(doc_id)
        rep = {s: min(d) for s, d in homes.items()
               if len(d) >= DUP_SPAN_MIN_DOCS}
        expect = set()
        for doc_id, text in docs.items():
            t = _toks(text)
            covered: set[int] = set()
            for p, s in grams[doc_id]:
                if s in rep and rep[s] != doc_id:
                    covered.update(range(p, p + DUP_SPAN_W))
            kept = [tok for i, tok in enumerate(t) if i not in covered]
            expect.add((doc_id, len(t), len(t) - len(kept),
                        len(kept), " ".join(kept)))
        got = {
            (r["doc_id"], r["n_tok"], r["removed_tokens"],
             r["kept_tokens"], r["trimmed_text"])
            for r in q("dedup_span_trim").collect()
        }
        assert got == expect
        assert any(r[2] > 0 for r in expect), (
            "fixture corpus should contain trimmed documents")

    def test_docs_universe_fuzz_vs_bruteforce(self, spark):
        """The composed-path universe restriction (round 14):
        ``span_trim_frame(docs=subset)`` must equal the brute-force
        trim computed over ONLY that subset — gram duplication
        counts, the min-doc representative, and the output rows all
        restrict together.  Seeded random tiny-alphabet corpora with
        a random kept-subset per case; duplicate windows occur by
        collision (3-token alphabet, W=5 windows)."""
        import random

        from astra_perseverance_spark.extensions.training import (
            span_trim_frame,
        )

        rng = random.Random(1404)
        for _ in range(6):
            n = rng.randint(2, 7)
            corpus = {
                d: [rng.choice("abc") for _ in range(rng.randint(0, 14))]
                for d in range(n)
            }
            kept_ids = sorted(
                d for d in corpus if rng.random() < 0.6) or [0]
            # brute force over the SUBSET only
            homes: dict[str, set[int]] = {}
            for d in kept_ids:
                t = corpus[d]
                for p in range(len(t) - DUP_SPAN_W + 1):
                    homes.setdefault(
                        " ".join(t[p:p + DUP_SPAN_W]), set()).add(d)
            rep = {g: min(s) for g, s in homes.items()
                   if len(s) >= DUP_SPAN_MIN_DOCS}
            expect = set()
            for d in kept_ids:
                t = corpus[d]
                cov: set[int] = set()
                for p in range(len(t) - DUP_SPAN_W + 1):
                    g = " ".join(t[p:p + DUP_SPAN_W])
                    if g in rep and rep[g] != d:
                        cov.update(range(p, p + DUP_SPAN_W))
                kept = [tok for i, tok in enumerate(t) if i not in cov]
                expect.add((d, len(t), len(t) - len(kept),
                            len(kept), " ".join(kept)))
            subset = spark.createDataFrame(
                [(d, " ".join(corpus[d])) for d in kept_ids],
                "doc_id long, text string",
            )
            got = {
                (r["doc_id"], r["n_tok"], r["removed_tokens"],
                 r["kept_tokens"], r["trimmed_text"])
                for r in span_trim_frame(
                    spark, "unused-sf-dir", docs=subset).collect()
            }
            assert got == expect, (kept_ids, corpus)

    def test_consistent_with_dup_spans(self, q):
        """The trim may only cut inside ``dup_spans``' detected spans:
        per doc, removed_tokens ≤ the doc's total span coverage, and
        every trimmed doc has at least one detected span."""
        span_cov: dict[int, int] = {}
        for r in q("dup_spans").collect():
            span_cov[r["doc_id"]] = span_cov.get(r["doc_id"], 0) \
                + r["n_tok"]
        trimmed = 0
        for r in q("dedup_span_trim").collect():
            assert 0 <= r["removed_tokens"] <= r["n_tok"]
            assert r["kept_tokens"] == r["n_tok"] - r["removed_tokens"]
            if r["removed_tokens"] > 0:
                trimmed += 1
                assert r["doc_id"] in span_cov
                assert r["removed_tokens"] <= span_cov[r["doc_id"]]
        assert trimmed > 0


class TestSeqPack:
    def test_full_python_repack(self, q, docs):
        """Recompute shard deal, hash-order layout, offsets, and
        sequence spans in pure Python and compare."""
        shards = seq_shard_count(len(docs))
        per_shard: dict[int, list] = {}
        for doc_id, text in docs.items():
            n = len(_toks(text))
            if n == 0:
                continue
            h = _h15(str(doc_id))
            per_shard.setdefault(h % shards, []).append((h, doc_id, n))
        expect = set()
        for shard_id, items in per_shard.items():
            items.sort()
            cum = 0
            for pos, (h, doc_id, n) in enumerate(items, start=1):
                off = cum
                cum += n
                expect.add((
                    doc_id, shard_id, pos, n, off,
                    off // SEQ_BUDGET, (cum - 1) // SEQ_BUDGET,
                    (cum - 1) // SEQ_BUDGET - off // SEQ_BUDGET + 1,
                ))
        got = {
            (r["doc_id"], r["shard_id"], r["pack_pos"], r["n_tok"],
             r["tok_offset"], r["seq_first"], r["seq_last"], r["n_seqs"])
            for r in q("seq_pack").collect()
        }
        assert got == expect

    def test_layout_over_subset_fuzz(self, spark):
        """``seq_pack_layout`` over an arbitrary docs frame (the
        curated-shard path, round 14) must equal the pure-Python
        repack of that frame — shard deal, hash order, offsets, and
        sequence spans all restrict to the provided universe.  Seeded
        random subsets with mixed empty/non-empty docs."""
        import random

        from astra_perseverance_spark.extensions.training import (
            seq_pack_layout,
        )

        rng = random.Random(1414)
        for _ in range(4):
            n = rng.randint(1, 30)
            corpus = {
                d: " ".join(
                    rng.choice(("tok", "x", "word", "q"))
                    for _ in range(rng.randint(0, 40)))
                for d in rng.sample(range(1000), n)
            }
            shards = seq_shard_count(len(corpus))
            per_shard: dict[int, list] = {}
            for doc_id, text in corpus.items():
                nt = len(_toks(text))
                if nt == 0:
                    continue
                h = _h15(str(doc_id))
                per_shard.setdefault(h % shards, []).append(
                    (h, doc_id, nt))
            expect = set()
            for shard_id, items in per_shard.items():
                items.sort()
                cum = 0
                for pos, (h, doc_id, nt) in enumerate(items, start=1):
                    off = cum
                    cum += nt
                    expect.add((
                        doc_id, shard_id, pos, nt, off,
                        off // SEQ_BUDGET, (cum - 1) // SEQ_BUDGET,
                        (cum - 1) // SEQ_BUDGET - off // SEQ_BUDGET + 1,
                    ))
            frame = spark.createDataFrame(
                list(corpus.items()), "doc_id long, text string")
            got = {
                (r["doc_id"], r["shard_id"], r["pack_pos"], r["n_tok"],
                 r["tok_offset"], r["seq_first"], r["seq_last"],
                 r["n_seqs"])
                for r in seq_pack_layout(frame, shards).collect()
            }
            assert got == expect, sorted(corpus)

    def test_stream_continuity(self, q):
        """Within a shard the token stream has no holes: each doc
        starts exactly where the previous one ended, and some doc
        straddles a sequence boundary (the layout's whole point)."""
        rows = sorted(
            q("seq_pack").collect(),
            key=lambda r: (r["shard_id"], r["pack_pos"]),
        )
        straddlers = 0
        by_shard: dict[int, list] = {}
        for r in rows:
            by_shard.setdefault(r["shard_id"], []).append(r)
            if r["n_seqs"] > 1:
                straddlers += 1
        for items in by_shard.values():
            cum = 0
            for r in items:
                assert r["tok_offset"] == cum
                cum += r["n_tok"]
                assert r["seq_first"] == r["tok_offset"] // SEQ_BUDGET
                assert r["seq_last"] == (cum - 1) // SEQ_BUDGET
        assert straddlers > 0


class TestEmbeddingQuantize:
    def test_full_python_recompute(self, q, spark):
        vecs = {
            r["vec_id"]: r["embedding"]
            for r in spark.read.parquet(
                f"{SF_SMALL}/embeddings.parquet").collect()
        }
        eq = {
            vid: [math.floor(float(x) * QUANT + 0.5) for x in emb]
            for vid, emb in vecs.items()
        }
        lo = [min(v[d] for v in eq.values()) for d in range(ANN_DIM)]
        hi = [max(v[d] for v in eq.values()) for d in range(ANN_DIM)]
        expect = {}
        for vid, v in eq.items():
            codes, errs = [], []
            for d in range(ANN_DIM):
                span = hi[d] - lo[d]
                c = (v[d] - lo[d]) * SQ_LEVELS // span if span > 0 else 0
                codes.append(c)
                recon = lo[d] + c * span // SQ_LEVELS
                errs.append(v[d] - recon)
            err2 = sum(e * e for e in errs)
            n2 = sum(x * x for x in v)
            expect[vid] = (
                hashlib.md5(" ".join(map(str, codes)).encode()).hexdigest(),
                err2,
                max(abs(e) for e in errs),
                err2 / n2 if n2 > 0 else 0.0,
            )
        got = {
            r["vec_id"]: (r["code_md5"], r["err2"], r["max_abs_err"],
                          r["rel_err"])
            for r in q("embedding_quantize").collect()
        }
        assert set(got) == set(expect)
        for vid in got:
            g, e = got[vid], expect[vid]
            assert g[:3] == e[:3], vid
            assert g[3] == pytest.approx(e[3], rel=1e-12)

    def test_error_bound(self, q):
        """Reconstruction error per dimension is bounded by the code
        cell width, so max_abs_err <= max_d ceil((hi_d - lo_d)/255)
        — here just assert the per-vector bound relative to the
        fixed-point scale: a cell is at most (2·QUANT)/255 wide."""
        cell = 2 * QUANT // SQ_LEVELS + 1
        for r in q("embedding_quantize").collect():
            assert 0 <= r["max_abs_err"] <= cell
            assert r["err2"] <= ANN_DIM * cell * cell
            assert r["rel_err"] >= 0.0


class TestBpeMerges:
    def test_full_python_recompute(self, q, docs):
        """Reference BPE in pure Python (word-frequency table, greedy
        leftmost non-overlapping merge) must reproduce the learned
        merge sequence exactly."""
        from collections import Counter

        from astra_perseverance_spark.extensions.training import (
            BPE_MAX_WORDS,
            BPE_MERGES,
        )

        freq = Counter(t for text in docs.values() for t in _toks(text))
        top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
        top = top[:BPE_MAX_WORDS]
        segs = {w: list(w) for w, _ in top}
        counts = dict(top)

        expect = []
        for rank in range(1, BPE_MERGES + 1):
            pairs: Counter = Counter()
            for w, syms in segs.items():
                nw = counts[w]
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += nw
            if not pairs:
                break
            (left, right), cnt = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0])
            )
            expect.append((rank, left, right, left + right, cnt))
            for w, syms in segs.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == left
                            and syms[i + 1] == right):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                segs[w] = out

        got = [
            (r["merge_rank"], r["left_sym"], r["right_sym"],
             r["new_sym"], r["pair_count"])
            for r in q("bpe_merges").collect()
        ]
        assert got == expect
        assert len(got) == BPE_MERGES

    def test_merges_are_productive(self, q):
        """Each merge's pair_count is positive and non-increasing
        never needs to hold (later merges can create hot pairs), but
        every new_sym must be the concatenation of its parts and
        ranks must be dense from 1."""
        rows = q("bpe_merges").collect()
        for i, r in enumerate(sorted(rows, key=lambda r: r["merge_rank"])):
            assert r["merge_rank"] == i + 1
            assert r["new_sym"] == r["left_sym"] + r["right_sym"]
            assert r["pair_count"] > 0


class TestAnnQuantizedRecall:
    def test_recall_bounds_and_panel(self, q):
        from astra_perseverance_spark.extensions.similarity import (
            ANN_QUERY_COUNT,
            ANN_TOPK,
        )

        rows = q("ann_quantized_recall").collect()
        assert len(rows) == ANN_QUERY_COUNT
        for r in rows:
            assert r["n_exact"] == ANN_TOPK
            assert 0 <= r["n_hit"] <= r["n_exact"]
            assert r["recall"] == pytest.approx(r["n_hit"] / r["n_exact"])
        # int8 quantization must not destroy retrieval on this corpus
        mean = sum(r["recall"] for r in rows) / len(rows)
        assert mean >= 0.8

    def test_quantized_recall_le_errorfree(self, q):
        """Sanity vs the exact audit: quantized retrieval's AVERAGE
        recall cannot exceed 1.0 and the per-query rows join 1:1 with
        the panel used by the other audits."""
        ids_a = {r["query_id"] for r in q("ann_quantized_recall").collect()}
        ids_b = {r["query_id"] for r in q("ann_recall_audit").collect()}
        assert ids_a == ids_b


class TestBpeTokenCount:
    def test_full_python_recompute(self, q, docs):
        """Apply the pure-Python reference tokenizer (same learn loop
        as TestBpeMerges) to every document and compare counts."""
        from collections import Counter

        from astra_perseverance_spark.extensions.training import (
            BPE_MAX_WORDS,
            BPE_MERGES,
        )

        freq = Counter(t for text in docs.values() for t in _toks(text))
        top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
        top = top[:BPE_MAX_WORDS]
        segs = {w: list(w) for w, _ in top}
        counts = dict(top)
        for _ in range(BPE_MERGES):
            pairs: Counter = Counter()
            for w, syms in segs.items():
                nw = counts[w]
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += nw
            if not pairs:
                break
            (left, right), _c = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0])
            )
            for w, syms in segs.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == left
                            and syms[i + 1] == right):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                segs[w] = out

        expect = {}
        for doc_id, text in docs.items():
            words = _toks(text)
            if not words:
                continue
            n_bpe = sum(len(segs[w]) if w in segs else len(w)
                        for w in words)
            n_chars = sum(len(w) for w in words)
            expect[doc_id] = (len(words), n_bpe, n_chars)
        got = {
            r["doc_id"]: (r["n_words"], r["n_bpe_tok"], r["n_chars_tok"])
            for r in q("bpe_token_count").collect()
        }
        assert got == expect

    def test_compression_bounds(self, q):
        """Every merge can only shrink a segmentation, so
        n_words <= n_bpe_tok <= n_chars_tok and the ratio is in
        (0, 1]."""
        for r in q("bpe_token_count").collect():
            assert r["n_words"] <= r["n_bpe_tok"] <= r["n_chars_tok"]
            assert 0.0 < r["bpe_ratio"] <= 1.0


class TestDerivedAudits:
    def test_shard_manifest_matches_seq_pack(self, q):
        from astra_perseverance_spark.extensions.training import SEQ_BUDGET

        layout = q("seq_pack").collect()
        per_shard: dict[int, list] = {}
        for r in layout:
            per_shard.setdefault(r["shard_id"], []).append(r)
        got = {r["shard_id"]: r for r in q("shard_manifest").collect()}
        assert set(got) == set(per_shard)
        for sid, rows in per_shard.items():
            toks = sum(r["n_tok"] for r in rows)
            assert got[sid]["n_docs"] == len(rows)
            assert got[sid]["n_tokens"] == toks
            assert got[sid]["n_seqs"] == (toks - 1) // SEQ_BUDGET + 1

    def test_dedup_recall_consistent_with_superset_property(self, q, spark):
        """The fixture corpus's exact pairs are all j >= 0.8, where
        8-band/2-row LSH misses with p ~ 3e-4 — recall must be 1.0
        here, and the audit must agree with the raw pair sets
        restricted to the fixed document panel (the audit measures
        recall on the stratum of exact pairs touching a panel doc)."""
        from astra_perseverance_spark.extensions.training import (
            RECALL_PANEL_K,
            recall_panel,
        )
        from tests.conftest import SF_SMALL

        rows = q("dedup_recall_audit").collect()
        assert rows
        panel = {r["doc_id"]
                 for r in recall_panel(spark, SF_SMALL).collect()}
        assert len(panel) == RECALL_PANEL_K
        exact = q("ngram_jaccard").collect()
        by_lang: dict[str, int] = {}
        n_dropped = 0
        for r in exact:
            if r["doc_a"] in panel or r["doc_b"] in panel:
                by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
            else:
                n_dropped += 1
        assert {r["lang"]: r["n_exact"] for r in rows} == by_lang
        for r in rows:
            assert r["recall"] == 1.0
        # the panel restriction must actually bite on this corpus
        # (500 docs, 64-doc panel) — otherwise the test can't tell
        # the stratified audit from the exhaustive one
        assert n_dropped > 0

    def test_split_assign_covers_corpus_with_valid_splits(self, q, spark):
        from astra_perseverance_spark.extensions.corpus import n_docs
        from tests.conftest import SF_SMALL

        rows = q("split_assign").collect()
        assert len(rows) == n_docs(spark, SF_SMALL)
        assert {r["split"] for r in rows} == {"train", "val", "test"}
        for r in rows:
            assert 0 <= r["bucket"] < 100
        # ~90/5/5 with hash noise; just require the ordering
        by = {"train": 0, "val": 0, "test": 0}
        for r in rows:
            by[r["split"]] += 1
        assert by["train"] > by["val"] and by["train"] > by["test"]

    def test_split_assign_keeps_dup_clusters_together(self, q):
        """The leakage guarantee: every exact- or near-dup cluster
        (and hence every verified near-dup PAIR) lives in one split."""
        split = {r["doc_id"]: r["split"] for r in q("split_assign").collect()}
        clusters: dict[int, set] = {}
        for r in q("dedup_clusters").collect():
            clusters.setdefault(r["cluster_id"], set()).add(r["doc_id"])
        assert clusters
        for cid, members in clusters.items():
            assert len({split[d] for d in members}) == 1, cid
        for r in q("ngram_jaccard").collect():
            assert split[r["doc_a"]] == split[r["doc_b"]]

    def test_split_assign_incremental_python_recompute(self, q, spark):
        """Full independent recompute: even-only duplicate components
        via a Python union-find over the registered exact/near pair
        sets, existing splits via hashlib-md5 h15 buckets, inheritance
        through the dedup_incremental match set — compared row-for-row
        against the operator."""
        import hashlib

        from astra_perseverance_spark.extensions.dedup import (
            content_digest_frame,
        )
        from astra_perseverance_spark.extensions.training import (
            SPLIT_TRAIN_PCT,
            SPLIT_VAL_PCT,
        )
        from tests.conftest import SF_SMALL

        def h15py(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        def split_of(rep: int) -> str:
            b = h15py(str(rep)) % 100
            if b < SPLIT_TRAIN_PCT:
                return "train"
            if b < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT:
                return "val"
            return "test"

        digests = content_digest_frame(spark, SF_SMALL).collect()
        all_ids = sorted(r["doc_id"] for r in digests)
        evens = [i for i in all_ids if i % 2 == 0]

        # even-only duplicate graph: exact (same digest) + near pairs
        parent = {i: i for i in evens}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        by_md5: dict[str, list] = {}
        for r in digests:
            if r["doc_id"] % 2 == 0:
                by_md5.setdefault(r["content_md5"], []).append(r["doc_id"])
        for members in by_md5.values():
            for m in members[1:]:
                union(members[0], m)
        for r in q("ngram_jaccard").collect():
            if r["doc_a"] % 2 == 0 and r["doc_b"] % 2 == 0:
                union(r["doc_a"], r["doc_b"])
        ex_split = {e: split_of(find(e)) for e in evens}

        matches: dict[int, list] = {}
        for r in q("dedup_incremental").collect():
            matches.setdefault(r["doc_id"], []).append(r["dup_of"])
        expect = {}
        for d in all_ids:
            if d % 2 == 0:
                continue
            ms = sorted(matches.get(d, []))
            if ms:
                splits = {ex_split[m] for m in ms}
                expect[d] = (ms[0], len(set(ms)), ex_split[ms[0]],
                             len(splits) > 1)
            else:
                expect[d] = (None, 0, split_of(d), False)
        got = {
            r["doc_id"]: (r["anchor_doc"], r["n_anchors"], r["split"],
                          r["split_conflict"])
            for r in q("split_assign_incremental").collect()
        }
        assert got == expect
        # the inheritance path must actually fire on the fixture
        assert any(v[0] is not None for v in got.values())
        assert any(v[0] is None for v in got.values())

    def test_dedup_incremental_pairs_are_unique(self, q):
        """split_assign_incremental counts anchors with ``count("*")``,
        which is the distinct count only while dedup_incremental emits
        each (doc_id, dup_of) pair once."""
        pairs = [(r["doc_id"], r["dup_of"])
                 for r in q("dedup_incremental").collect()]
        assert pairs, "no incremental matches on the test corpus"
        assert len(pairs) == len(set(pairs))

    def test_curation_funnel_counts_match_ledger(self, q):
        ledger = q("corpus_curate").collect()
        expect: dict[str, int] = {}
        for r in ledger:
            if r["keep"]:
                continue
            for reason in r["reasons"].split(";"):
                if reason:
                    expect[reason] = expect.get(reason, 0) + 1
        got = {r["reason"]: r["n_docs"] for r in q("curation_funnel").collect()}
        assert got == expect
        for r in q("curation_funnel").collect():
            assert 0.0 < r["frac"] <= 1.0
