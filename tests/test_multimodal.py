"""AVI container parse (``extensions.multimodal._avi_probe``) over
hand-built RIFF payloads, and the synthesized media table parsed back
end-to-end through Spark."""

from __future__ import annotations

import pytest


class TestDecodeMedia:
    """AVI container parse checks; the class keeps its historical name
    so the test ids stay stable."""

    def test_avi_probe_roundtrip(self):
        """The synthesized container (build_media_table's column-ops
        hex assembly) parses back through the pure-stdlib AVI walker
        with the exact written values."""
        import struct as st

        from astra_perseverance_spark.extensions.multimodal import _avi_probe

        def make_avi(w, h, nf, content: bytes) -> bytes:
            avih = st.pack("<14I", 40000, 0, 0, 0, nf, 0, 1, 0, w, h,
                           0, 0, 0, 0)
            hdrl = b"LIST" + st.pack("<I", 68) + b"hdrl" \
                + b"avih" + st.pack("<I", 56) + avih
            movi = b"LIST" + st.pack("<I", 12 + len(content)) + b"movi" \
                + b"00db" + st.pack("<I", len(content)) + content
            body = b"AVI " + hdrl + movi
            return b"RIFF" + st.pack("<I", len(body)) + body

        avi = make_avi(320, 240, 7, b"frame-bytes")
        w, h, nf, frames = _avi_probe(avi)
        assert (w, h, nf) == (320, 240, 7)
        assert frames == [b"frame-bytes"]

    def test_avi_probe_reads_dc_chunks(self):
        """Compressed ``##dc`` chunks are frames too, in stream order,
        and an odd-length chunk's pad byte does not desync the walk.
        The media table only ever emits ``00db``, so this is the one
        check of the ``dc`` arm."""
        import struct as st

        from astra_perseverance_spark.extensions.multimodal import _avi_probe

        f0, f1 = b"odd", b"even"
        avih = st.pack("<14I", 40000, 0, 0, 0, 2, 0, 1, 0, 999, 888,
                       0, 0, 0, 0)
        hdrl = b"LIST" + st.pack("<I", 68) + b"hdrl" \
            + b"avih" + st.pack("<I", 56) + avih
        movi_body = (b"00dc" + st.pack("<I", len(f0)) + f0 + b"\x00"
                     + b"00dc" + st.pack("<I", len(f1)) + f1)
        movi = b"LIST" + st.pack("<I", 4 + len(movi_body)) + b"movi" \
            + movi_body
        body = b"AVI " + hdrl + movi
        avi = b"RIFF" + st.pack("<I", len(body)) + body
        assert _avi_probe(avi) == (999, 888, 2, [f0, f1])

    def test_avi_probe_rejects_corrupt_container(self):
        from astra_perseverance_spark.extensions.multimodal import _avi_probe

        with pytest.raises(ValueError):
            _avi_probe(b"RIFFxxxxWAVE")  # RIFF but not an AVI form
        with pytest.raises(ValueError):
            # valid RIFF/AVI framing but no avih header anywhere
            import struct as st
            _avi_probe(b"RIFF" + st.pack("<I", 4) + b"AVI ")


class TestSynthesizedAviThroughSpark:
    def test_media_table_video_payloads_are_real_avi(self, spark):
        """The column-ops hex assembly in build_media_table produces
        containers the independent Python walker parses back with the
        exact metadata values and the document text as the movi
        chunk — and the registered frame-sample query's JVM-side
        total_frames field read agrees row for row."""
        from tests.conftest import SF_SMALL

        from astra_perseverance_spark.extensions.multimodal import (
            MAGIC,
            _avi_probe,
            build_media_table,
            q_multimodal_frame_sample,
        )

        media = build_media_table(spark, SF_SMALL).filter(
            "meta.media_type = 'video'")
        rows = media.limit(8).collect()
        assert rows
        for r in rows:
            w, h, nf, frames = _avi_probe(bytes(r["payload"])[len(MAGIC):])
            assert (w, h, nf) == (r["meta"]["width"], r["meta"]["height"],
                                  r["meta"]["n_frames"])
            assert len(frames) == 1 and len(frames[0]) > 0
        want = {r["doc_id"]: r["meta"]["n_frames"] for r in media.collect()}
        got = {
            r["doc_id"]: r["n_frames"]
            for r in q_multimodal_frame_sample(spark, SF_SMALL).collect()
        }
        assert got == want


class TestTruncationGuards:
    """A truncated container header surfaces through the
    malformed-payload ValueError, never a raw struct.error."""

    def test_truncated_avih_raises_valueerror(self):
        import struct as st

        from astra_perseverance_spark.extensions.multimodal import (
            _avi_probe,
        )

        # avih chunk declaring/carrying only 20 body bytes
        short = b"avih" + st.pack("<I", 20) + b"\x00" * 20
        hdrl = b"LIST" + st.pack("<I", 4 + len(short)) + b"hdrl" + short
        body = b"AVI " + hdrl
        avi = b"RIFF" + st.pack("<I", len(body)) + body
        with pytest.raises(ValueError, match="avih"):
            _avi_probe(avi)
