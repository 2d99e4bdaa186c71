"""Video container plumbing: a real AVI (RIFF) parser + MJPEG frame
sampling over opaque ``binary`` columns.

Reference parity: the reference treats media payloads as opaque blobs
with typed metadata (SURVEY.md §2 multimodal rows); this module gives
video the same first-class treatment images and audio already have —
a genuine pure-stdlib container codec (writer + parser), with the
per-frame pixel decode delegated to the from-scratch JPEG codec in
``operators/jpegcodec.py``.

Scale shape: everything runs as Arrow-batched ``mapInPandas`` — the
container parse + frame decode cost is per-payload and embarrassingly
parallel (parallelism = input partitioning); only small typed columns
(ids, dims, digests) ever shuffle. Frame sampling is done INSIDE the
parser from the container's chunk index, so unsampled frames are never
JPEG-decoded (at 100 TB of crawl video, decode cost dominates scan
cost — sampling 1/N frames cuts the bill by ~N, not just the output).

AVI layout written/parsed (the minimal standard profile):

    RIFF <size> 'AVI '
      LIST 'hdrl'
        'avih' (56-byte main header: usec/frame, total frames, dims)
        LIST 'strl'
          'strh' (56-byte stream header: 'vids'/'MJPG', scale/rate)
          'strf' (40-byte BITMAPINFOHEADER, biCompression='MJPG')
      LIST 'movi'
        '00dc' <jpeg bytes> (word-aligned)  x n_frames
      'idx1' (16 bytes/frame: ckid, flags, offset, length)

Every structural field is round-tripped and cross-checked (header
frame count vs movi chunk count vs idx1 entry count), so a malformed
container fails loudly instead of yielding silently-wrong frames.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

VIDEO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("container", StringType()),
        StructField("codec", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("fps_num", IntegerType()),
        StructField("fps_den", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixel_digest", StringType()),
    ]
)


def _chunk(fourcc: bytes, data: bytes) -> bytes:
    """RIFF chunk: fourcc + little-endian size + word-aligned data."""
    pad = b"\x00" if len(data) % 2 else b""
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def avi_bytes(
    frames: list[bytes],
    width: int,
    height: int,
    rate: int = 30,
    scale: int = 1,
) -> bytes:
    """Render a complete, valid single-video-stream MJPEG AVI.

    ``frames`` are pre-encoded JPEG payloads (one per video frame);
    ``rate/scale`` is the frame rate as the standard rational (30/1 =
    30 fps). The writer emits the full canonical structure including
    the ``idx1`` seek index, so any standard AVI reader can play it.
    """
    if not frames:
        raise ValueError("avi: at least one frame required")
    if width <= 0 or height <= 0 or rate <= 0 or scale <= 0:
        raise ValueError("avi: dims and rate/scale must be positive")
    usec_per_frame = (1_000_000 * scale) // rate
    max_bytes = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I",
        usec_per_frame,
        max_bytes * rate // scale,  # dwMaxBytesPerSec
        0,  # padding granularity
        0x10,  # AVIF_HASINDEX
        len(frames),
        0,  # initial frames
        1,  # streams
        max_bytes,  # suggested buffer
        width,
        height,
        0,
        0,
        0,
        0,
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<10I4H",
            0,  # flags
            0,  # priority+language packed (both 0)
            0,  # initial frames
            scale,
            rate,
            0,  # start
            len(frames),  # length in frames
            max_bytes,  # suggested buffer
            0xFFFFFFFF,  # quality (default)
            0,  # sample size (0 = varying)
            0,
            0,
            width & 0xFFFF,
            height & 0xFFFF,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        width,
        height,
        1,  # planes
        24,  # bit count
        b"MJPG",
        width * height * 3,  # biSizeImage (nominal)
        0,
        0,
        0,
        0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_payload = b"movi"
    offsets = []  # offset of each ckid relative to the 'movi' fourcc
    for f in frames:
        offsets.append(len(movi_payload))
        movi_payload += _chunk(b"00dc", f)
    movi = _chunk(b"LIST", movi_payload)
    idx = b"".join(
        b"00dc" + struct.pack("<III", 0x10, off, len(f))
        for off, f in zip(offsets, frames)
    )
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


class AviInfo:
    """Parsed AVI: structural metadata + lazy per-frame JPEG payloads."""

    __slots__ = (
        "width",
        "height",
        "n_frames",
        "rate",
        "scale",
        "codec",
        "frame_spans",
        "payload",
    )

    def __init__(self, payload: bytes):
        if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
            raise ValueError("avi: not a RIFF/AVI container")
        riff_size = struct.unpack_from("<I", payload, 4)[0]
        if riff_size + 8 > len(payload):
            raise ValueError("avi: truncated container (RIFF size past EOF)")
        self.payload = payload
        self.width = self.height = self.n_frames = 0
        self.rate, self.scale = 0, 1
        self.codec = ""
        self.frame_spans: list[tuple[int, int]] = []  # (start, length)
        header_frames = idx_frames = None
        pos, end = 12, 8 + riff_size
        while pos + 8 <= end:
            fourcc = payload[pos : pos + 4]
            size = struct.unpack_from("<I", payload, pos + 4)[0]
            data_start = pos + 8
            if data_start + size > end:
                raise ValueError(f"avi: chunk {fourcc!r} overruns container")
            if fourcc == b"LIST":
                ltype = payload[data_start : data_start + 4]
                if ltype == b"hdrl":
                    header_frames = self._parse_hdrl(
                        data_start + 4, data_start + size
                    )
                elif ltype == b"movi":
                    self._parse_movi(data_start + 4, data_start + size)
            elif fourcc == b"idx1":
                idx_frames = size // 16
            pos = data_start + size + (size % 2)
        self.n_frames = len(self.frame_spans)
        if header_frames is not None and header_frames != self.n_frames:
            raise ValueError(
                f"avi: header declares {header_frames} frames, "
                f"movi carries {self.n_frames}"
            )
        if idx_frames is not None and idx_frames != self.n_frames:
            raise ValueError(
                f"avi: idx1 indexes {idx_frames} frames, "
                f"movi carries {self.n_frames}"
            )

    def _parse_hdrl(self, pos: int, end: int) -> int | None:
        header_frames = None
        while pos + 8 <= end:
            fourcc = self.payload[pos : pos + 4]
            size = struct.unpack_from("<I", self.payload, pos + 4)[0]
            data = pos + 8
            if fourcc == b"avih":
                (usec, _mbs, _pad, _flags, total, _init, _streams, _buf,
                 w, h) = struct.unpack_from("<10I", self.payload, data)
                self.width, self.height = w, h
                header_frames = total
                if usec and not self.rate:
                    self.rate, self.scale = 1_000_000, usec
            elif fourcc == b"LIST" and self.payload[data : data + 4] == b"strl":
                sub, sub_end = data + 4, data + size
                while sub + 8 <= sub_end:
                    sf = self.payload[sub : sub + 4]
                    ss = struct.unpack_from("<I", self.payload, sub + 4)[0]
                    if sf == b"strh" and self.payload[sub + 8 : sub + 12] == b"vids":
                        self.codec = (
                            self.payload[sub + 12 : sub + 16].decode("ascii").lower()
                        )
                        scale, rate = struct.unpack_from(
                            "<II", self.payload, sub + 8 + 20
                        )
                        if rate:
                            self.rate, self.scale = rate, scale or 1
                    sub += 8 + ss + (ss % 2)
            pos = data + size + (size % 2)
        return header_frames

    def _parse_movi(self, pos: int, end: int) -> None:
        while pos + 8 <= end:
            fourcc = self.payload[pos : pos + 4]
            size = struct.unpack_from("<I", self.payload, pos + 4)[0]
            if fourcc[2:4] in (b"dc", b"db"):  # compressed / uncompressed video
                self.frame_spans.append((pos + 8, size))
            pos += 8 + size + (size % 2)

    def frame(self, i: int) -> bytes:
        start, length = self.frame_spans[i]
        return self.payload[start : start + length]

    @property
    def duration_ms(self) -> int:
        return self.n_frames * 1000 * self.scale // self.rate if self.rate else 0


def parse_avi(payload: bytes) -> AviInfo:
    """Parse an AVI container; raises ValueError on malformed input."""
    try:
        return AviInfo(bytes(payload))
    except (IndexError, struct.error) as exc:
        raise ValueError(f"avi: truncated or malformed ({exc})") from exc


def _digest_rgb(rgb) -> str:
    """md5 of the row-major 'r,g,b;...' pixel string (the same digest
    convention as multimodal_pixel_digest, so oracles can regenerate it
    arithmetically in SQL)."""
    flat = rgb.reshape(-1, 3)
    s = ";".join(f"{int(p[0])},{int(p[1])},{int(p[2])}" for p in flat)
    return hashlib.md5(s.encode()).hexdigest()


def video_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Structural metadata per video payload (no frame decode).

    Parses only container headers + the chunk index — the frame bytes
    are never JPEG-decoded, so this is the cheap routing/stats pass a
    pipeline runs over everything before deciding what to decode.
    """

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                info = parse_avi(payload)
                rows.append(
                    (
                        int(doc_id),
                        "avi",
                        info.codec,
                        info.width,
                        info.height,
                        info.n_frames,
                        info.rate,
                        info.scale,
                        info.duration_ms,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_META_SCHEMA.fields]
            )

    return df.select(id_col, payload_col).mapInPandas(fn, VIDEO_META_SCHEMA)


def sample_video_frames(
    df: DataFrame,
    every_n: int = 2,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sample every ``every_n``-th frame and decode it to a pixel digest.

    The sampling decision comes from the container's chunk index, so
    frames that aren't sampled are never JPEG-decoded — the decode bill
    scales with the SAMPLED frame count, not the total frame count.
    """
    if every_n < 1:
        raise ValueError("every_n must be >= 1")

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from .jpegcodec import decode_jpeg

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                info = parse_avi(payload)
                for i in range(0, info.n_frames, every_n):
                    rgb = decode_jpeg(info.frame(i))
                    h, w = rgb.shape[:2]
                    rows.append(
                        (int(doc_id), i, info.n_frames, w, h, _digest_rgb(rgb))
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_FRAME_SCHEMA.fields]
            )

    return df.select(id_col, payload_col).mapInPandas(fn, VIDEO_FRAME_SCHEMA)


def mjpeg_video_bytes(
    doc_id: int,
    width: int,
    height: int,
    n_frames: int,
    rate: int = 30,
    scale: int = 1,
) -> bytes:
    """Deterministic MJPEG AVI fixture: each frame is the grayscale
    constant-per-8x8-block raster v(x,y,f) = ((x//8)*31 + (y//8)*17 +
    f*29) % 256 encoded as a quant=1 baseline JPEG. Constant blocks
    have one exact integer DC coefficient and zero AC, so the lossy
    round trip is BIT-EXACT (the property the pixel-digest oracle
    relies on; same construction as the progressive-JPEG gate row)."""
    import numpy as np

    from .jpegcodec import encode_baseline_jpeg

    del doc_id  # raster depends only on dims + frame index (oracle-friendly)
    xs, ys = np.arange(width), np.arange(height)
    frames = []
    for f in range(n_frames):
        v = ((xs[None, :] // 8) * 31 + (ys[:, None] // 8) * 17 + f * 29) % 256
        rgb = np.repeat(v[:, :, None], 3, axis=2).astype(np.uint8)
        frames.append(encode_baseline_jpeg(rgb, subsample=False, quant=1))
    return avi_bytes(frames, width, height, rate=rate, scale=scale)


VIDEO_ROUTE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)

# Fixture fourccs for codecs the frame decoder does NOT implement —
# the routing query proves they quarantine instead of task-failing.
NON_MJPEG_CODECS = ("xvid", "h264")


def route_videos(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Quarantine routing for video payloads (the JPEG/WAV-variant
    analog): every payload gets a row with a specific format label —
    ``avi-<codec>`` for a structurally valid AVI (dims + frame count
    from headers; only ``avi-mjpg`` is frame-decodable downstream),
    ``avi-corrupt`` for a RIFF/AVI failing structural checks, and
    ``video-unknown`` for non-RIFF bytes — with NULL metadata where
    the container couldn't be trusted. A 100 TB crawl pipeline filters
    labels aside instead of dying on the first truncated container."""

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                doc_id = int(doc_id)
                try:
                    info = parse_avi(payload)
                    rows.append(
                        (
                            doc_id,
                            f"avi-{info.codec}" if info.codec else "avi-corrupt",
                            info.width,
                            info.height,
                            info.n_frames,
                        )
                    )
                except ValueError as exc:
                    label = (
                        "video-unknown"
                        if "not a RIFF/AVI" in str(exc)
                        else "avi-corrupt"
                    )
                    rows.append((doc_id, label, None, None, None))
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_ROUTE_SCHEMA.fields]
            )

    return df.select(id_col, payload_col).mapInPandas(fn, VIDEO_ROUTE_SCHEMA)


def variant_video_bytes(variant: str, width: int, height: int, n_frames: int) -> bytes:
    """Video fixture of the given routing variant:

    - ``mjpg``: a real decodable MJPEG AVI;
    - ``xvid``/``h264``: a structurally VALID AVI whose stream handler
      and frame chunks are the foreign codec (opaque frame bytes —
      headers parse, frames are not MJPEG-decodable);
    - ``corrupt``: an MJPEG AVI truncated mid-movi (RIFF size past EOF);
    - ``unknown``: non-RIFF bytes.
    """
    if variant == "mjpg":
        return mjpeg_video_bytes(0, width, height, n_frames)
    if variant in NON_MJPEG_CODECS:
        frames = [
            (b"\x00\x01" + bytes([f % 256]) * 32) for f in range(n_frames)
        ]
        avi = avi_bytes(frames, width, height)
        # swap both fccHandler (strh) and biCompression (strf) to the
        # foreign codec tag; chunk ids stay 00dc (compressed video)
        return avi.replace(b"MJPG", variant.upper().encode("ascii"))
    if variant == "corrupt":
        full = mjpeg_video_bytes(0, width, height, n_frames)
        return full[: len(full) // 2]
    if variant == "unknown":
        return b"\x1aE\xdf\xa3" + b"\x00" * 64  # EBML-ish magic, not RIFF
    raise ValueError(f"unknown video variant {variant!r}")
