"""Benchmark inputs.

``report_diag`` reads the committed 4-node fixture tree
(``tests/fixtures/diag1``) unchanged; no seed applies to it.

``training_export`` reads a corpus directory generated from the seed.
It has the shape and the text statistics of the synthetic sf0.1 corpus
tables, as measured on their seed-42 instance (see README.md, "Inputs"):

- ``documents.parquet``: 5000 documents of 10-99 words drawn uniformly
  from a 30-word vocabulary; language en with p 0.4, zh/es/fr/de with
  0.15 each; ``source`` is ``src{doc_id % 20}``; ``n_chars`` is the
  text length.  250 documents are then replaced, one after another, by
  another document's text plus the word ``dup`` (near duplicates;
  chains and exact copies arise as they do in sf0.1).
- ``embeddings.parquet``: 2000 unit vectors of dimension 64, i.i.d.
  normal before normalising, with labels drawn uniformly from 0-9.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(REPO, "tests", "fixtures", "diag1")

N_DOCS = 5000
MIN_WORDS, MAX_WORDS = 10, 99
N_NEAR_DUPS = 250
N_VECS = 2000
DIM = 64
N_LABELS = 10
N_SOURCES = 20

WORDS = ("a the agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def diag_tree() -> str:
    """The committed fixture the report workload reads."""
    if not os.path.isdir(FIXTURE):
        raise FileNotFoundError(f"diag fixture not found: {FIXTURE}")
    return FIXTURE


def make_corpus(dest: str, seed: int) -> None:
    """Write documents.parquet + embeddings.parquet under ``dest``."""
    os.makedirs(dest)
    rng = np.random.default_rng(seed)
    words = np.array(WORDS)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, N_DOCS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in rng.choice(N_DOCS, N_NEAR_DUPS, replace=False):
        j = int(rng.integers(0, N_DOCS - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(dest, "documents.parquet"))

    vecs = rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, N_VECS), pa.int32()),
    })
    pq.write_table(emb, os.path.join(dest, "embeddings.parquet"))


def input_bytes(root: str) -> int:
    """Total size of the regular files under ``root``."""
    return sum(os.path.getsize(os.path.join(cur, f))
               for cur, _, files in os.walk(root) for f in files)
