"""Property-based roundtrip checks for the corpus interchange I/O.

The fixture corpora are ASCII-heavy and well-formed, so the
JSONL/WebDataset paths never see the text a real crawl dump carries:
multibyte codepoints, embedded newlines/quotes/backslashes, empty
documents.  Hypothesis generates such corpora and asserts the export →
read composition is the identity on the conformed columns — for both
container formats, through real Spark jobs.

Example counts are small (each example is several Spark jobs); the
value is in the adversarial text, not the volume.
"""

from __future__ import annotations

import math
import shutil
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import SF_SMALL

# Surrogates are excluded by hypothesis' default text alphabet; keep
# control characters (newline, tab, NUL) — a crawl dump carries them.
_text = st.text(max_size=120)
_tag = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122),
    min_size=1, max_size=8)

_corpus = st.lists(
    st.tuples(st.integers(min_value=0, max_value=10**11), _text,
              _tag, _tag),
    min_size=1, max_size=8, unique_by=lambda t: t[0])


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, lg, src, len(t)) for i, t, lg, src in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")


def _rows(df):
    return {tuple(r) for r in
            df.select("doc_id", "text", "lang", "source", "n_chars")
            .collect()}


@settings(max_examples=6, deadline=None)
@given(rows=_corpus)
def test_webdataset_roundtrip_is_identity(spark, rows):
    from astra_perseverance_spark.sinks.export import export_webdataset
    from astra_perseverance_spark.sources.webdataset import read_webdataset

    docs = _docs_df(spark, rows)
    tmp = tempfile.mkdtemp(prefix="wds_prop_")
    try:
        out = export_webdataset(spark, sf_dir="<unused>", out_dir=tmp,
                                shard_docs=3, docs=docs)
        assert out["n_docs"] == len(rows)
        assert _rows(read_webdataset(spark, out["shards_path"])) == _rows(docs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(max_examples=6, deadline=None)
@given(rows=_corpus)
def test_datasource_roundtrip_is_identity(spark, rows):
    """write.format('webdataset') → read.format('webdataset') is the
    identity on the same adversarial corpora as the export-sink
    property above — the drift gate for the data source's write+read
    pair on multibyte/control-character/empty text."""
    from astra_perseverance_spark.sources.webdataset_source import (
        register_webdataset,
    )

    register_webdataset(spark)
    docs = _docs_df(spark, rows)
    tmp = tempfile.mkdtemp(prefix="wds_ds_prop_")
    try:
        (docs.write.format("webdataset").mode("overwrite")
             .option("shard_docs", "3").save(tmp))
        got = spark.read.format("webdataset").load(tmp)
        assert _rows(got) == _rows(docs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(max_examples=6, deadline=None)
@given(rows=_corpus)
def test_jsonl_roundtrip_is_identity(spark, rows):
    from astra_perseverance_spark.sources.corpus_jsonl import (
        read_documents_jsonl,
    )

    docs = _docs_df(spark, rows)
    tmp = tempfile.mkdtemp(prefix="jsonl_prop_")
    try:
        docs.write.mode("overwrite").json(tmp)
        assert _rows(read_documents_jsonl(spark, tmp)) == _rows(docs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_gzip_jsonl_reads_per_file_parallel(spark, tmp_path):
    """The documented gzip story: .jsonl.gz members read transparently
    (one task per file — gzip is unsplittable, so parallelism comes
    from file count, which this pins by checking partition count)."""
    import gzip
    import json

    from astra_perseverance_spark.sources.corpus_jsonl import (
        read_documents_jsonl,
    )

    for part in range(3):
        with gzip.open(tmp_path / f"part-{part}.jsonl.gz", "wt") as fh:
            for i in range(10):
                fh.write(json.dumps(
                    {"doc_id": part * 10 + i, "text": f"t{i}"}) + "\n")
    df = read_documents_jsonl(spark, str(tmp_path))
    assert df.count() == 30
    assert df.rdd.getNumPartitions() == 3  # one unsplittable task per file


def test_empty_shard_dir_yields_empty_frame(spark, tmp_path):
    from astra_perseverance_spark.sources.webdataset import read_webdataset

    df = read_webdataset(spark, str(tmp_path))
    assert df.count() == 0
    assert df.columns == ["doc_id", "text", "lang", "source", "n_chars"]


def test_webdataset_subdir_samples_and_null_metadata(spark, tmp_path):
    """Third-party shards nest samples in tar subdirectories and may
    carry explicit JSON nulls: a/0001 and b/0001 are two samples (the
    WebDataset key includes the directory), and ``"lang": null`` gets
    the documented default, never the literal string 'None'."""
    import io
    import json
    import tarfile

    from astra_perseverance_spark.sources.webdataset import read_webdataset

    shard = tmp_path / "shard-000000.tar"
    with tarfile.open(shard, "w") as tf:
        def add(name, payload: bytes):
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))

        add("a/0001.txt", b"doc in dir a")
        add("a/0001.json", json.dumps(
            {"doc_id": 1, "lang": None, "source": None}).encode())
        add("b/0001.txt", b"doc in dir b")
        add("b/0001.json", json.dumps({"doc_id": 2, "lang": "fr"}).encode())

    got = {r["doc_id"]: r for r in
           read_webdataset(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 2}  # no silent basename collision
    assert got[1]["text"] == "doc in dir a"
    assert got[2]["text"] == "doc in dir b"
    assert got[1]["lang"] == "und" and got[1]["source"] == "webdataset"
    assert got[2]["lang"] == "fr"


def test_sample_row_validates_metadata_doc_id():
    """A third-party shard's metadata doc_id may be garbage: a
    non-integer must raise WITH the shard-path context (so the bad
    shard is locatable in a large scan), and a non-integral float must
    fail rather than silently truncate to a different document's id.
    Integral floats and digit strings — values ``int()`` already
    accepted — keep working."""
    import json

    import pytest

    from astra_perseverance_spark.sources.webdataset import sample_row

    def row(doc_id):
        return sample_row(
            "k", {".txt": b"t", ".json":
                  json.dumps({"doc_id": doc_id}).encode()},
            "shard-000042.tar")

    assert row(7)[0] == 7
    assert row(7.0)[0] == 7
    assert row("7")[0] == 7
    assert row("-7")[0] == -7
    assert row("+7")[0] == 7  # int() accepts it, so we do too
    # '²' is str.isdigit()-true but int() rejects it — it must fail
    # WITH the shard context, not as a bare int() crash
    for bad in ("abc", 3.7, "3.7", True, [7], "²"):
        with pytest.raises(ValueError, match="shard-000042.tar"):
            row(bad)


def test_events_jsonl_iso_offsets_are_instants(spark, tmp_path):
    """RFC 3339 timestamps with an explicit UTC offset must convert as
    instants — a +05:00 event is 5 hours EARLIER than the same wall
    time at Z, and the compact ±HHMM shape is honored too."""
    import json

    from astra_perseverance_spark.sources.events_jsonl import (
        read_events_jsonl,
    )

    p = tmp_path / "ev.jsonl"
    utc_noon = 1704110400000000000  # 2024-01-01T12:00:00Z
    p.write_text("\n".join(json.dumps(r) for r in [
        {"event_id": 1, "ts": "2024-01-01T12:00:00+05:00",
         "user_id": 1, "event_type": "a"},
        {"event_id": 2, "ts": "2024-01-01T12:00:00Z",
         "user_id": 1, "event_type": "a"},
        {"event_id": 3, "ts": "2024-01-01T12:00:00",
         "user_id": 1, "event_type": "a"},
        {"event_id": 4, "ts": "2024-01-01T07:00:00-0500",
         "user_id": 1, "event_type": "a"},
    ]))
    got = {r["event_id"]: r["ts"]
           for r in read_events_jsonl(spark, str(p)).collect()}
    assert got[2] == got[3] == got[4] == utc_noon
    assert got[1] == utc_noon - 5 * 3600 * 10**9


def test_jsonl_strict_mode_raises_on_contract_violations(spark, tmp_path):
    """Strict mode must FAIL the read on valid-JSON contract
    violations (missing required field, unparseable timestamp), not
    silently drop them — FAILFAST alone only rejects malformed
    JSON."""
    import json

    import pytest as _pytest

    from astra_perseverance_spark.sources.corpus_jsonl import (
        read_documents_jsonl,
    )
    from astra_perseverance_spark.sources.events_jsonl import (
        read_events_jsonl,
    )

    ev = tmp_path / "ev.jsonl"
    ev.write_text(json.dumps(
        {"event_id": 9, "ts": "not-a-date", "user_id": 2,
         "event_type": "x"}))
    with _pytest.raises(Exception, match="contract violation"):
        read_events_jsonl(spark, str(ev), strict=True).collect()
    assert read_events_jsonl(spark, str(ev), strict=False).count() == 0

    doc = tmp_path / "doc.jsonl"
    doc.write_text(json.dumps({"doc_id": 1, "text": None, "lang": "en"}))
    with _pytest.raises(Exception, match="contract violation"):
        read_documents_jsonl(spark, str(doc), strict=True).collect()
    assert read_documents_jsonl(spark, str(doc), strict=False).count() == 0


def test_events_jsonl_ingest_feeds_the_timeseries_family(spark, tmp_path):
    """Events dumped as JSONL (ts as epoch nanos), ingested, must
    answer the sessionize and as-of queries identically to the
    original parquet events table — the whole family runs on a JSON
    event-log drop unchanged."""
    from tests.conftest import SF_SMALL

    from astra_perseverance_spark.conformed.model import _read
    from astra_perseverance_spark.extensions.timeseries import (
        q_events_asof,
        q_events_sessionize,
    )
    from astra_perseverance_spark.sources.events_jsonl import (
        ingest_events_jsonl,
        stream_ingest_events_jsonl,
    )

    dump = str(tmp_path / "dump")
    # full microsecond precision in the dump — the default JSON
    # timestamp format truncates to millis, which would make this a
    # precision test of the dump rather than of the ingest
    (
        _read(spark, SF_SMALL, "events").write.mode("overwrite")
        .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .json(dump)
    )

    batch_dir = ingest_events_jsonl(spark, dump, str(tmp_path / "batch"))
    stream_dir = stream_ingest_events_jsonl(
        spark, dump, str(tmp_path / "stream"))

    for q in (q_events_sessionize, q_events_asof):
        want = {tuple(r) for r in q(spark, SF_SMALL).collect()}
        assert {tuple(r) for r in q(spark, batch_dir).collect()} == want
        assert {tuple(r) for r in q(spark, stream_dir).collect()} == want
        assert want


def test_events_jsonl_required_fields_and_corrupt_lines(spark, tmp_path):
    import json

    import pytest as _pytest

    from astra_perseverance_spark.sources.events_jsonl import (
        read_events_jsonl,
    )

    p = tmp_path / "ev.jsonl"
    p.write_text("\n".join([
        json.dumps({"event_id": 1, "ts": 10, "user_id": 5,
                    "event_type": "click"}),
        json.dumps({"event_id": 2, "ts": 20, "user_id": None,
                    "event_type": "view"}),     # missing required
        "th{s is not json",
        json.dumps({"event_id": 3, "ts": 30, "user_id": 6,
                    "event_type": "purchase", "value": 9.5}),
    ]))
    with _pytest.raises(Exception):
        read_events_jsonl(spark, str(p), strict=True).collect()
    got = {r["event_id"]: r for r in
           read_events_jsonl(spark, str(p), strict=False).collect()}
    assert set(got) == {1, 3}
    assert got[3]["value"] == 9.5 and got[1]["value"] is None


def test_streamed_corpus_seal_compact_preserves_query_results(
        spark, tmp_path):
    """End-to-end ingest lifecycle (r8 verdict #7): JSONL lands in two
    drops → exactly-once streaming ingest (twice, same checkpoint) →
    sealing compaction (finalize_streaming_sink) → the compacted
    corpus hash-matches the uncompacted streamed corpus on registered
    queries spanning three shapes (digest groupBy, lang/source rollup,
    bucketless doc_id join) — compaction must be invisible to every
    reader, not just to a row count."""
    import glob
    import json

    from astra_perseverance_spark.conformed.model import release_memos
    from astra_perseverance_spark.queries import QUERY_REGISTRY
    from astra_perseverance_spark.sinks.compact import compact_corpus
    from astra_perseverance_spark.sources.corpus_jsonl import (
        stream_ingest_jsonl_corpus,
    )

    dump = tmp_path / "dump"
    dump.mkdir()
    corpus = str(tmp_path / "corpus")

    def land(name, ids):
        (dump / name).write_text("\n".join(
            json.dumps({"doc_id": i,
                        # plant exact duplicates so dedup_exact has
                        # real groups to find
                        "text": f"body of document {i % 37}",
                        "lang": ["en", "de", "fr"][i % 3],
                        "source": ["web", "book"][i % 2]})
            for i in ids))

    land("part-0.jsonl", range(0, 60))
    stream_ingest_jsonl_corpus(spark, str(dump), corpus)
    land("part-1.jsonl", range(60, 120))
    stream_ingest_jsonl_corpus(spark, str(dump), corpus)

    names = ["dedup_exact", "corpus_rollup", "doc_digest_join"]
    release_memos(spark)
    before = {n: {tuple(r) for r in
                  QUERY_REGISTRY[n](spark, corpus).collect()}
              for n in names}
    assert all(before[n] for n in names)  # non-trivial results

    files_before = len(glob.glob(f"{corpus}/documents.parquet/part-*"))
    stats = compact_corpus(spark, corpus, target_bytes=1 << 30,
                           finalize_streaming_sink=True)
    assert stats["documents.parquet"]["rows"] == 120
    files_after = len(glob.glob(f"{corpus}/documents.parquet/part-*"))
    assert files_after < files_before
    # sealed: the streaming commit log is gone, plain batch dataset
    assert not glob.glob(f"{corpus}/documents.parquet/_spark_metadata")

    release_memos(spark)
    after = {n: {tuple(r) for r in
                 QUERY_REGISTRY[n](spark, corpus).collect()}
             for n in names}
    assert after == before


# Partition width.  Parquet frames derive theirs from the row count
# (``corpus.cluster_width``), the ingest writers from the source's listed
# bytes (``corpus_jsonl.ingest_width``): floored at small inputs, linear
# in the input at large ones, and overridable from the environment.


def test_cluster_width_formula(spark):
    from astra_perseverance_spark.extensions.corpus import cluster_width

    par = spark.sparkContext.defaultParallelism
    # tiny corpus: floored by min_rows, never below 1
    assert cluster_width(spark, 1, 1_000, 50_000) == 1
    assert cluster_width(spark, 999, 1_000, 50_000) == 1
    assert cluster_width(spark, 2_000, 1_000, 50_000) == min(par, 2)
    # mid corpus: all cores, tasks between min and target
    assert cluster_width(spark, par * 50_000, 1_000, 50_000) == par * 1
    # huge corpus: width grows linearly (n / target), independent of
    # the core count — the production end of the scale
    n = 1_000_000_000
    assert cluster_width(spark, n, 1_000, 50_000) == math.ceil(n / 50_000)
    # degenerate knobs are clamped, not fatal
    assert cluster_width(spark, 10, 0, 0) == 10


def test_cluster_width_env_overrides(spark, monkeypatch):
    from astra_perseverance_spark.extensions import corpus

    monkeypatch.setenv(corpus.DOCS_MIN_ROWS_ENV, "1")
    par = spark.sparkContext.defaultParallelism
    # min_rows=1 reproduces the pre-r15 defaultParallelism width for
    # any corpus of at least `par` docs (the A/B isolation knob)
    assert corpus._docs_width(spark, SF_SMALL) == min(
        par, corpus.n_docs(spark, SF_SMALL))
    monkeypatch.delenv(corpus.DOCS_MIN_ROWS_ENV)
    expected = corpus.cluster_width(
        spark, corpus.n_docs(spark, SF_SMALL),
        corpus.DOCS_MIN_ROWS, corpus.DOCS_TARGET_ROWS)
    assert corpus._docs_width(spark, SF_SMALL) == expected


def test_source_bytes_listing(spark, tmp_path):
    from astra_perseverance_spark.sources.corpus_jsonl import source_bytes

    d = tmp_path / "dump"
    d.mkdir()
    (d / "a.jsonl").write_bytes(b"x" * 1000)
    (d / "b.jsonl").write_bytes(b"y" * 2345)
    sub = d / "sub"
    sub.mkdir()
    (sub / "c.jsonl").write_bytes(b"z" * 55)
    # single file
    assert source_bytes(spark, str(d / "a.jsonl")) == 1000
    # directory: recursive total
    assert source_bytes(spark, str(d)) == 1000 + 2345 + 55
    # glob: only matching files
    assert source_bytes(spark, str(d / "*.jsonl")) == 1000 + 2345


def test_ingest_width_arms(spark, tmp_path, monkeypatch):
    from astra_perseverance_spark.sources import corpus_jsonl as cj

    par = spark.sparkContext.defaultParallelism
    f = tmp_path / "tiny.jsonl"
    f.write_bytes(b"{}\n" * 100)

    monkeypatch.delenv(cj.INGEST_MIN_BYTES_ENV, raising=False)
    monkeypatch.delenv(cj.INGEST_TARGET_BYTES_ENV, raising=False)
    # tiny source: floor arm — one task
    assert cj.ingest_width(spark, str(f)) == 1
    # env floor of 1 byte: min(cores, n_bytes) — the pre-r16
    # defaultParallelism behavior is reproducible for deploys
    monkeypatch.setenv(cj.INGEST_MIN_BYTES_ENV, "1")
    assert cj.ingest_width(spark, str(f)) == min(par, f.stat().st_size)
    monkeypatch.delenv(cj.INGEST_MIN_BYTES_ENV)
    # linear arm: width = ceil(bytes / target), independent of cores
    monkeypatch.setenv(cj.INGEST_TARGET_BYTES_ENV, "50")
    n = f.stat().st_size
    assert cj.ingest_width(spark, str(f)) == math.ceil(n / 50)


def test_ingest_writers_use_derived_width(spark, tmp_path, monkeypatch):
    """The three converted outputs carry exactly ``ingest_width``
    parquet part-files (upper-bounds the write parallelism the old
    constant hard-coded)."""
    import glob as _glob
    import json

    from astra_perseverance_spark.sources import corpus_jsonl as cj
    from astra_perseverance_spark.sources.events_jsonl import (
        ingest_events_jsonl,
    )

    monkeypatch.delenv(cj.INGEST_MIN_BYTES_ENV, raising=False)
    monkeypatch.delenv(cj.INGEST_TARGET_BYTES_ENV, raising=False)

    docs = tmp_path / "docs.jsonl"
    docs.write_text("\n".join(
        json.dumps({"doc_id": i, "text": f"doc {i} text",
                    "lang": "en", "source": "t"}) for i in range(20)))
    out = tmp_path / "corpus"
    cj.ingest_jsonl_corpus(spark, str(docs), str(out))
    parts = _glob.glob(str(out / "documents.parquet" / "part-*"))
    assert len(parts) == cj.ingest_width(spark, str(docs)) == 1

    ev = tmp_path / "events.jsonl"
    ev.write_text("\n".join(
        json.dumps({"event_id": i, "ts": "2031-03-01T00:00:%02d" % (i % 60),
                    "user_id": i % 3, "event_type": "click",
                    "value": 1.0, "props": None}) for i in range(30)))
    out2 = tmp_path / "evdir"
    ingest_events_jsonl(spark, str(ev), str(out2))
    parts2 = _glob.glob(str(out2 / "events.parquet" / "part-*"))
    assert len(parts2) == cj.ingest_width(spark, str(ev)) == 1

    # round-trip sanity: the converted corpus serves reads unchanged
    got = spark.read.parquet(str(out / "documents.parquet"))
    assert got.count() == 20
