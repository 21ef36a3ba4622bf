"""Multimodal column plumbing: opaque binary payloads + typed metadata,
feature-extracted through Arrow-batched ``mapInPandas``.

- payloads are a ``binary`` column (here synthesized from the document
  text — utf-8 bytes prefixed with a 4-byte magic — because no real
  media ships with the test data);
- metadata travels as a typed struct (media_type, width, height,
  n_frames) next to the payload, never inside it, so partition
  pruning/column projection work on metadata without touching bytes;
- feature extraction runs in ``mapInPandas`` over Arrow record
  batches: the Python worker sees a ``pandas.DataFrame`` per batch and
  returns one conforming to an explicit output schema.

Video payloads are real minimal AVI containers synthesized with column
ops, so both registered queries parse an actual binary format:
``q_multimodal_features`` reads width/height/n_frames and the frame
bytes through the stdlib RIFF parse ``_avi_probe``, and
``q_multimodal_frame_sample`` reads the avih total_frames field out of
the payload bytes JVM-side.  The DuckDB twins recompute the embedded
values arithmetically, keeping the round-trip under the hash-match
gate.  No pixel or sample decode is done: the features are container
fields, byte lengths and content hashes.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MAGIC = b"APSE"  # payload header magic

FEATURE_SCHEMA = (
    "doc_id long, media_type string, width int, height int, n_frames int, "
    "byte_len long, content_h15 long"
)


def _avi_probe(data: bytes) -> tuple[int, int, int, list[bytes]]:
    """Pure-stdlib AVI (RIFF) container parse — public spec (the
    Microsoft AVI RIFF form): returns (width, height, total_frames,
    frame_chunks) from the ``avih`` main header and the ``movi``
    list's ``##db``/``##dc`` chunks.  A real container read with no
    PyAV/ffmpeg; codec DECODE of compressed streams still needs a
    codec library — for uncompressed DIB (``db``) chunks the bytes
    returned ARE the frame data."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    width = height = n_frames = -1
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal width, height, n_frames
        while pos + 8 <= end:
            cid = data[pos:pos + 4]
            (length,) = struct.unpack("<I", data[pos + 4:pos + 8])
            body = data[pos + 8:pos + 8 + length]
            if cid == b"LIST":
                walk(pos + 12, pos + 8 + length)  # skip the form tag
            elif cid == b"avih":
                if len(body) < 56:
                    # ValueError, not struct.error: a malformed payload
                    # raises the same error type as a non-AVI one
                    raise ValueError("AVI avih header truncated")
                f = struct.unpack("<14I", body[:56])
                n_frames, width, height = f[4], f[8], f[9]
            elif len(cid) == 4 and cid[2:4] in (b"db", b"dc"):
                frames.append(body)
            pos += 8 + length + (length & 1)  # chunks are word-aligned

    walk(12, len(data))
    if n_frames < 0:
        raise ValueError("AVI missing avih header")
    return width, height, n_frames, frames


def _le32_hex(c: F.Column) -> F.Column:
    """Hex string of a value as a little-endian u32 (byte-swapped
    8-nibble hex) — the RIFF/AVI integer encoding, built with plain
    string ops so container synthesis stays JVM-side."""
    h = F.lpad(F.hex(c.cast("bigint")), 8, "0")
    return F.concat(
        F.substring(h, 7, 2), F.substring(h, 5, 2),
        F.substring(h, 3, 2), F.substring(h, 1, 2),
    )


def _u32_from_le_bytes(binary_slice: F.Column) -> F.Column:
    """BIGINT from 4 little-endian bytes of a binary column — the
    column-ops twin of ``struct.unpack('<I', ...)``."""
    h = F.hex(binary_slice)
    return F.conv(
        F.concat(
            F.substring(h, 7, 2), F.substring(h, 5, 2),
            F.substring(h, 3, 2), F.substring(h, 1, 2),
        ),
        16, 10,
    ).cast("long")


# Fixed AVI layout offsets inside the synthesized payload (after the
# 4-byte MAGIC): avih total_frames / width / height u32 fields, and
# the start of the movi chunk's data (= the document's utf-8 bytes).
# payload = MAGIC ‖ RIFF(size) 'AVI ' ‖ LIST(68) 'hdrl' avih(56) ‖
#           LIST(12+L) 'movi' '00db'(L) text
AVI_NFRAMES_POS = 53   # 1-based, 4 bytes LE
AVI_WIDTH_POS = 69
AVI_HEIGHT_POS = 73
AVI_TEXT_POS = 113     # 1-based start of the movi chunk data
AVI_OVERHEAD = 112     # bytes before the text content

_Z4 = "00000000"  # one zero u32


def build_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, meta struct, payload binary).

    Metadata is arithmetic on doc_id (deterministic, SQL-mirrorable).
    Image/audio payloads are magic + utf-8 text bytes; VIDEO payloads
    are magic + a REAL minimal AVI container (RIFF form, public
    spec): an ``avih`` main header carrying the same deterministic
    width/height/n_frames, and the utf-8 text as the single ``movi``
    ``00db`` chunk.  The container is synthesized entirely with
    column ops (hex-string assembly + ``unhex``), so the table build
    stays JVM-side and the downstream consumers genuinely PARSE a
    container rather than trusting the metadata struct."""
    from astra_perseverance_spark.extensions.corpus import docs_frame
    d = docs_frame(spark, sf_dir)  # cached, pre-partitioned for batch work
    did = F.col("doc_id")
    media_type = (
        F.when(did % 3 == 0, "image").when(did % 3 == 1, "audio").otherwise("video")
    )
    width = (64 + did % 960).cast("int")
    height = (64 + (did * 7) % 540).cast("int")
    n_frames = (1 + did % 8).cast("int")
    text_bytes = F.encode("text", "utf-8")
    L = F.octet_length(text_bytes)
    avi_hex = F.concat(
        F.lit("52494646"), _le32_hex(L + 100), F.lit("41564920"),  # RIFF…AVI(space)
        F.lit("4C495354"), F.lit("44000000"), F.lit("6864726C"),  # LIST 68 hdrl
        F.lit("61766968"), F.lit("38000000"),                     # avih 56
        F.lit("409C0000"),          # us_per_frame = 40000 (25 fps)
        F.lit(_Z4), F.lit(_Z4), F.lit(_Z4),  # max_bps, padding, flags
        _le32_hex(n_frames),        # total_frames — the field under test
        F.lit(_Z4), F.lit("01000000"), F.lit(_Z4),  # initial, streams=1, buf
        _le32_hex(width), _le32_hex(height),
        F.lit(_Z4), F.lit(_Z4), F.lit(_Z4), F.lit(_Z4),  # reserved[4]
        F.lit("4C495354"), _le32_hex(L + 12), F.lit("6D6F7669"),  # LIST movi
        F.lit("30306462"), _le32_hex(L),                          # 00db chunk
        F.hex(text_bytes),
    )
    payload = F.when(
        media_type == "video",
        F.concat(F.lit(MAGIC), F.unhex(avi_hex)),
    ).otherwise(F.concat(F.lit(MAGIC), text_bytes))
    return d.select(
        "doc_id",
        F.struct(
            media_type.alias("media_type"),
            width.alias("width"),
            height.alias("height"),
            n_frames.alias("n_frames"),
        ).alias("meta"),
        payload.alias("payload"),
    )


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extraction.

    Image/audio rows: strip the 4-byte magic, hash the content (md5
    prefix → 60-bit int — the same ``h15`` the SQL twin computes),
    report byte length.  VIDEO rows: a REAL container read —
    ``_avi_probe`` parses the RIFF/AVI structure and the reported
    width/height/n_frames come from the ``avih`` header, the content
    from the ``movi`` chunk bytes (the synthesized container embeds
    the same deterministic values, so the oracle twin checks the
    parse end-to-end).  Batch-shaped exactly like a production
    decoder would be."""
    for pdf in batches:
        # one columnar unpack of the struct instead of 4 per-row maps
        meta = pd.DataFrame(pdf["meta"].tolist(), index=pdf.index)
        is_video = meta["media_type"] == "video"
        probed = pdf.loc[is_video, "payload"].map(
            lambda p: _avi_probe(bytes(p)[len(MAGIC):])
        )
        width = meta["width"].copy()
        height = meta["height"].copy()
        n_frames = meta["n_frames"].copy()
        content = pdf["payload"].str[len(MAGIC):]
        if is_video.any():
            width.loc[is_video] = probed.map(lambda t: t[0])
            height.loc[is_video] = probed.map(lambda t: t[1])
            n_frames.loc[is_video] = probed.map(lambda t: t[2])
            content.loc[is_video] = probed.map(
                lambda t: b"".join(t[3]))
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "media_type": meta["media_type"],
            "width": width,
            "height": height,
            "n_frames": n_frames,
            "byte_len": content.str.len(),
            "content_h15": content.map(
                lambda c: int(hashlib.md5(c).hexdigest()[:15], 16)
            ),
        })


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: build the media table, run the Arrow-batched
    extractor, emit typed features ordered by doc_id.

    Scale: ``mapInPandas`` is partition-parallel with Arrow transfer —
    the only Python in the repo's hot paths, and it is batch-
    vectorized, never row-at-a-time."""
    media = build_media_table(spark, sf_dir)
    feats = media.mapInPandas(_extract_features, schema=FEATURE_SCHEMA)
    return feats.orderBy("doc_id")


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan for video payloads: explode each video's
    frame index space at a stride of 2 (sample every other frame),
    carrying (frame_no, est_bytes) — pure column ops, no Python.

    ``n_frames`` is READ FROM THE CONTAINER: the avih total_frames
    u32 is sliced out of the payload bytes and decoded little-endian
    with column ops (``_u32_from_le_bytes`` — hex + byte-swap +
    conv), i.e. a real binary-format field read inside whole-stage
    codegen, not a copy of the metadata struct; the DuckDB twin
    recomputes the value arithmetically, so the driver's hash gate
    verifies the container round-trip.  byte_len is the movi chunk's
    content length.  est_bytes models an even split of the content
    across frames: byte_len div n_frames (integer division, exact)."""
    media = build_media_table(spark, sf_dir).filter(
        F.col("meta.media_type") == "video"
    )
    d = media.select(
        "doc_id",
        _u32_from_le_bytes(
            F.substring("payload", AVI_NFRAMES_POS, 4)
        ).cast("int").alias("n_frames"),
        (F.octet_length("payload") - F.lit(AVI_OVERHEAD))
        .cast("long").alias("byte_len"),
    )
    return (
        d.select(
            "doc_id", "n_frames", "byte_len",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(2))
            ).alias("frame_no"),
        )
        .select(
            "doc_id", "frame_no", "n_frames",
            F.expr("byte_len div n_frames").alias("est_bytes"),
        )
        .orderBy("doc_id", "frame_no")
    )
