"""AVI/MJPEG container codec + frame-sampling operators.

Pure-python structural tests (writer <-> parser roundtrip, malformed
containers, bit-exact frame decode) plus Spark-side shape tests for
the mapInPandas operators.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from glamira_batch_processing_spark.operators.jpegcodec import (
    decode_jpeg,
    encode_baseline_jpeg,
)
from glamira_batch_processing_spark.operators.video import (
    AviInfo,
    avi_bytes,
    mjpeg_video_bytes,
    parse_avi,
    sample_video_frames,
    video_meta,
)


def _expected_raster(w: int, h: int, f: int) -> np.ndarray:
    xs, ys = np.arange(w), np.arange(h)
    v = ((xs[None, :] // 8) * 31 + (ys[:, None] // 8) * 17 + f * 29) % 256
    return np.repeat(v[:, :, None], 3, axis=2).astype(np.uint8)


class TestContainerRoundtrip:
    def test_metadata_roundtrip(self):
        frames = [encode_baseline_jpeg(_expected_raster(24, 16, f)) for f in range(3)]
        info = parse_avi(avi_bytes(frames, 24, 16, rate=12, scale=1))
        assert (info.width, info.height, info.n_frames) == (24, 16, 3)
        assert info.codec == "mjpg"
        assert (info.rate, info.scale) == (12, 1)
        assert info.duration_ms == 250  # 3 frames / 12 fps

    def test_rational_frame_rate(self):
        frames = [encode_baseline_jpeg(_expected_raster(8, 8, 0))] * 30
        info = parse_avi(avi_bytes(frames, 8, 8, rate=30000, scale=1001))
        assert (info.rate, info.scale) == (30000, 1001)
        assert info.duration_ms == 30 * 1000 * 1001 // 30000  # NTSC 29.97

    def test_frame_bytes_survive_word_alignment(self):
        # odd-length frame payloads force RIFF pad bytes; the parser
        # must return the unpadded payload exactly
        frames = [b"\xff\xd8" + bytes([f]) * (101 + f) for f in range(4)]
        info = parse_avi(avi_bytes(frames, 8, 8))
        assert [info.frame(i) for i in range(4)] == frames

    def test_pixel_exact_decode_across_grid(self):
        for w in (16, 32):
            for h in (8, 40):
                b = mjpeg_video_bytes(0, w, h, n_frames=5, rate=10)
                info = parse_avi(b)
                for f in range(5):
                    assert (decode_jpeg(info.frame(f)) == _expected_raster(w, h, f)).all()


class TestMalformedContainers:
    def test_not_riff(self):
        with pytest.raises(ValueError, match="RIFF"):
            parse_avi(b"JUNK" + b"\x00" * 100)

    def test_truncated(self):
        b = mjpeg_video_bytes(0, 16, 8, n_frames=2)
        with pytest.raises(ValueError):
            parse_avi(b[:40])

    def test_header_frame_count_mismatch(self):
        b = bytearray(mjpeg_video_bytes(0, 16, 8, n_frames=3))
        avih_at = b.index(b"avih") + 8
        # corrupt dwTotalFrames (5th dword of avih)
        struct.pack_into("<I", b, avih_at + 16, 99)
        with pytest.raises(ValueError, match="header declares"):
            parse_avi(bytes(b))

    def test_idx1_count_mismatch(self):
        b = bytearray(mjpeg_video_bytes(0, 16, 8, n_frames=2))
        idx_at = b.index(b"idx1")
        # drop one 16-byte index entry: shrink the idx1 chunk, the file,
        # and the outer RIFF size consistently so ONLY the count is wrong
        size = struct.unpack_from("<I", b, idx_at + 4)[0]
        struct.pack_into("<I", b, idx_at + 4, size - 16)
        patched = bytes(b[:-16])
        patched = (
            patched[:4]
            + struct.pack("<I", len(patched) - 8)
            + patched[8:]
        )
        with pytest.raises(ValueError, match="idx1 indexes"):
            parse_avi(patched)

    def test_empty_frame_list_rejected_by_writer(self):
        with pytest.raises(ValueError, match="at least one frame"):
            avi_bytes([], 8, 8)


class TestSparkOperators:
    @pytest.fixture()
    def payloads(self, spark):
        rows = [
            (int(i), mjpeg_video_bytes(i, 16 + (i % 2) * 8, 8, n_frames=2 + i % 3))
            for i in range(6)
        ]
        return spark.createDataFrame(rows, "doc_id long, payload binary")

    def test_video_meta_no_decode(self, payloads):
        out = {r["doc_id"]: r for r in video_meta(payloads).collect()}
        assert len(out) == 6
        for i in range(6):
            assert out[i]["n_frames"] == 2 + i % 3
            assert out[i]["width"] == 16 + (i % 2) * 8
            assert out[i]["codec"] == "mjpg"

    def test_sample_every_2nd(self, payloads):
        rows = sample_video_frames(payloads, every_n=2).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r["frame_index"])
        for i in range(6):
            n = 2 + i % 3
            assert sorted(by_doc[i]) == list(range(0, n, 2))

    def test_every_n_validation(self, payloads):
        with pytest.raises(ValueError):
            sample_video_frames(payloads, every_n=0)


class TestAviInfoIsParser:
    def test_parse_avi_returns_aviinfo(self):
        info = parse_avi(mjpeg_video_bytes(0, 16, 8, n_frames=2))
        assert isinstance(info, AviInfo)


class TestRouting:
    def test_variant_fixture_labels(self, spark):
        from glamira_batch_processing_spark.operators.video import (
            route_videos,
            variant_video_bytes,
        )

        rows = [
            (0, variant_video_bytes("mjpg", 16, 8, 2)),
            (1, variant_video_bytes("xvid", 16, 8, 2)),
            (2, variant_video_bytes("h264", 16, 8, 2)),
            (3, variant_video_bytes("corrupt", 16, 8, 2)),
            (4, variant_video_bytes("unknown", 16, 8, 2)),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {r.doc_id: r for r in route_videos(df).collect()}
        assert got[0].format == "avi-mjpg" and got[0].n_frames == 2
        assert got[1].format == "avi-xvid" and got[1].width == 16
        assert got[2].format == "avi-h264"
        assert got[3].format == "avi-corrupt" and got[3].width is None
        assert got[4].format == "video-unknown" and got[4].n_frames is None

    def test_foreign_codec_headers_still_parse(self):
        from glamira_batch_processing_spark.operators.video import (
            parse_avi,
            variant_video_bytes,
        )

        info = parse_avi(variant_video_bytes("xvid", 24, 16, 3))
        assert info.codec == "xvid"
        assert (info.width, info.height, info.n_frames) == (24, 16, 3)

    def test_unknown_variant_rejected(self):
        from glamira_batch_processing_spark.operators.video import (
            variant_video_bytes,
        )

        with pytest.raises(ValueError, match="unknown video variant"):
            variant_video_bytes("webm", 8, 8, 1)


class TestTruncationFuzz:
    def test_every_prefix_parses_or_raises_cleanly(self):
        """Fuzz the parser with every truncation point of a real
        container (the JPEG codec's truncation-fuzz twin): each prefix
        must either parse to a consistent AviInfo or raise ValueError —
        never IndexError/struct.error/hang, and never a 'successful'
        parse whose frame spans dangle past the payload."""
        full = mjpeg_video_bytes(0, 24, 16, n_frames=3, rate=10)
        for cut in range(0, len(full), 7):
            prefix = full[:cut]
            try:
                info = parse_avi(prefix)
            except ValueError:
                continue
            for i in range(info.n_frames):
                start, length = info.frame_spans[i]
                assert start + length <= len(prefix)

    def test_bitflip_fuzz_no_uncontrolled_errors(self):
        full = bytearray(mjpeg_video_bytes(0, 16, 8, n_frames=2))
        for pos in range(0, len(full), 11):
            mutated = bytearray(full)
            mutated[pos] ^= 0xFF
            try:
                parse_avi(bytes(mutated))
            except ValueError:
                pass  # controlled rejection is the contract
