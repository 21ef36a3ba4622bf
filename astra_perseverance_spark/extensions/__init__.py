"""Large-scale training-data pipeline operators over the ``documents``
and ``embeddings`` tables.

Beyond reference parity (the reference has no document pipeline at
all), these are the first-class operators a 100 TB curation pipeline
needs:

- ``dedup``      — exact, bag-of-words, MinHash-LSH, SimHash near-dup.
- ``similarity`` — brute-force cosine top-k + LSH-bucketed ANN.
- ``text_stats`` — quality scoring, language ID, token counting,
  winnowing fingerprints.
- ``multimodal`` — binary payload plumbing (typed metadata, Arrow
  batch feature extraction via ``mapInPandas``; video payloads are
  synthesized AVI containers parsed back by a stdlib RIFF walk; no
  pixel or sample decode).

Every query is deterministic across engines (exact integer/dyadic
arithmetic, see ``functions.texthash`` / ``functions.vectors``) so the
DuckDB oracle twins in ``oracle.ext_sqls`` hash-match bit-for-bit.
"""

from astra_perseverance_spark.extensions import (  # noqa: F401
    dedup,
    multimodal,
    similarity,
    text_stats,
)
