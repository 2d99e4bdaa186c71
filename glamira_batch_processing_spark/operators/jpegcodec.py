"""Baseline + progressive JPEG codec, pure stdlib + numpy.

Completes the multimodal pixel surface (``multimodal.py``): BMP, PNG
and GIF already rasterize with pure-stdlib decoders; this module adds
baseline sequential DCT JPEG (SOF0) — Huffman entropy decode with byte
stuffing and restart markers, dequantize + dezigzag, float64 matrix
IDCT, chroma upsampling (4:4:4 / 4:2:2 / 4:2:0), BT.601 YCbCr->RGB —
and (round 6) progressive DCT JPEG (SOF2, ITU-T T.81 Annex G):
multi-scan spectral selection + successive approximation, DC/AC first
and refinement scans, EOB runs, per-scan DHT redefinition. Arithmetic
coding and 12-bit precision stay honestly NotImplemented.

The matching encoders exist primarily as round-trip test/oracle
generators (the ``image_bytes`` precedent): they emit spec-valid SOF0 /
SOF2 streams with single-length canonical Huffman tables built from the
actual symbol set — the decoder reads whatever DHT the file declares,
so no Annex K constant tables are needed anywhere.

Everything is driver/executor-portable: no RNG, float64 matmul IDCT
(deterministic), and the hot path is numpy-vectorized per 8x8 block.
"""

from __future__ import annotations

import struct

import numpy as np

# Zigzag scan order: index in the 8x8 block for each of the 64 coefs.
_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Orthonormal 8-point DCT-II matrix; IDCT is T.T @ X @ T.
_T = np.zeros((8, 8))
for _j in range(8):
    for _k in range(8):
        _c = np.sqrt(0.125) if _j == 0 else 0.5
        _T[_j, _k] = _c * np.cos((2 * _k + 1) * _j * np.pi / 16.0)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    stuffing removal and restart-marker awareness."""

    def __init__(self, data: bytes, start: int):
        self.data = data
        self.pos = start
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                # pad with 1s past the end (spec behavior for final bits)
                self.bitbuf = (self.bitbuf << 8) | 0xFF
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:  # stuffed 0xFF data byte
                    self.pos += 2
                    self.bitbuf = (self.bitbuf << 8) | 0xFF
                    self.nbits += 8
                    continue
                # a real marker: stop consuming, pad with 1s
                self.bitbuf = (self.bitbuf << 8) | 0xFF
                self.nbits += 8
                continue
            self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | b
            self.nbits += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        val = (self.bitbuf >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        return val

    def align_to_marker(self) -> int | None:
        """Byte-align and consume a restart marker if present; returns
        the marker byte or None."""
        self.nbits = 0
        self.bitbuf = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00:
                m = self.data[self.pos + 1]
                self.pos += 2
                return m
            self.pos += 1
        return None


def _build_decode_table(counts: list[int], symbols: bytes):
    """Canonical Huffman: map (length, code) -> symbol."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bits(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("jpeg: invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: map t raw bits to a signed coefficient."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_baseline_jpeg(payload: bytes):
    """Decode a baseline sequential (SOF0) or progressive (SOF2) JPEG
    to (h, w, 3) uint8 RGB (grayscale replicates to 3 channels)."""
    try:
        return _decode_baseline(payload)
    except (IndexError, struct.error) as exc:
        raise ValueError(f"jpeg: truncated or malformed stream ({exc})") from exc


# Alias reflecting the full surface (baseline + progressive).
decode_jpeg = decode_baseline_jpeg


def _decode_baseline(payload: bytes):
    if payload[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    frame = None
    restart_interval = 0
    coefs: list[np.ndarray] | None = None  # progressive: per-comp (by,bx,64)
    saw_scan = False
    i = 2
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError("jpeg: segment desync")
        marker = payload[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seg_len,) = struct.unpack(">H", payload[i + 2 : i + 4])
        seg = payload[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if prec == 0:
                    tbl = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
                else:
                    tbl = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                qt[tid] = tbl
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                counts = list(seg[p + 1 : p + 17])
                n = sum(counts)
                symbols = seg[p + 17 : p + 17 + n]
                huff[(tc, th)] = _build_decode_table(counts, symbols)
                p += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            precision = seg[0]
            if precision != 8:
                raise NotImplementedError("jpeg: only 8-bit precision")
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if ncomp not in (1, 3):
                # 4-component (Adobe CMYK/YCCK) or 2-component frames
                # would silently decode with wrong colors / die with a
                # misleading truncation error — refuse honestly instead.
                raise NotImplementedError(
                    f"jpeg: only 1- or 3-component frames (got {ncomp})"
                )
            comps = []
            for c in range(ncomp):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": samp >> 4, "v": samp & 0x0F, "tq": tq}
                )
            frame = {"w": w, "h": h, "comps": comps, "progressive": marker == 0xC2}
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "jpeg: only baseline SOF0 / progressive SOF2 supported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xD9:  # EOI
            break
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("jpeg: SOS before SOF")
            ns = seg[0]
            if not frame["progressive"]:
                scan = {}
                for c in range(ns):
                    cs, tables = seg[1 + 2 * c], seg[2 + 2 * c]
                    scan[cs] = (tables >> 4, tables & 0x0F)
                return _decode_scan(
                    payload, i + 2 + seg_len, frame, scan, qt, huff, restart_interval
                )
            # progressive: accumulate this scan into the coefficient
            # arrays and keep walking segments until EOI
            scomps = []
            for c in range(ns):
                cs, tables = seg[1 + 2 * c], seg[2 + 2 * c]
                scomps.append((cs, tables >> 4, tables & 0x0F))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if coefs is None:
                hmax = max(c["h"] for c in frame["comps"])
                vmax = max(c["v"] for c in frame["comps"])
                mcus_x = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
                mcus_y = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
                frame["mcus"] = (mcus_x, mcus_y)
                coefs = [
                    np.zeros(
                        (mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int32
                    )
                    for c in frame["comps"]
                ]
            end = _decode_progressive_scan(
                payload, i + 2 + seg_len, frame, scomps, ss, se, ah, al,
                huff, restart_interval, coefs,
            )
            saw_scan = True
            # advance to the next marker after the entropy-coded data
            i = end
            while i + 1 < len(payload) and not (
                payload[i] == 0xFF and payload[i + 1] != 0x00
            ):
                i += 1
            continue
        i += 2 + seg_len
    if coefs is not None and saw_scan:
        return _progressive_reconstruct(frame, coefs, qt)
    raise ValueError("jpeg: no SOS segment")


def _decode_scan(payload, start, frame, scan, qt, huff, restart_interval):
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    planes = []
    for c in comps:
        cw, ch = mcus_x * c["h"] * 8, mcus_y * c["v"] * 8
        planes.append(np.zeros((ch, cw), dtype=np.float64))
    reader = _BitReader(payload, start)
    dc_pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                m = reader.align_to_marker()
                if m is None or not (0xD0 <= m <= 0xD7):
                    raise ValueError("jpeg: expected restart marker")
                dc_pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                td, ta = scan[c["id"]]
                dct = huff[(0, td)]
                act = huff[(1, ta)]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        t = _huff_decode(reader, dct)
                        diff = _extend(reader.bits(t), t)
                        dc_pred[ci] += diff
                        zz[0] = dc_pred[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(reader, act)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL: 16 zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("jpeg: AC index overflow")
                            zz[k] = _extend(reader.bits(s), s)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[_ZZ] = zz * q
                        sp = _T.T @ block.reshape(8, 8) @ _T
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = sp + 128.0
            mcu_count += 1
    return _planes_to_rgb(planes, comps, hmax, vmax, w, h)


def _planes_to_rgb(planes, comps, hmax, vmax, w, h):
    """Upsample each component plane to full resolution, crop to the
    frame size, and convert BT.601 YCbCr -> RGB (grayscale replicates)."""
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        g = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Progressive (SOF2) scan decoding — spectral selection + successive
# approximation per ITU-T T.81 Annex G (Huffman coding only).
# ---------------------------------------------------------------------------


def _comp_block_dims(frame, c):
    """Non-interleaved block-grid dims for one component: spec G says a
    single-component scan covers ceil(comp_size/8) blocks per axis,
    where comp_size = ceil(frame_size * sampling / max_sampling)."""
    hmax = max(cc["h"] for cc in frame["comps"])
    vmax = max(cc["v"] for cc in frame["comps"])
    cw = (frame["w"] * c["h"] + hmax - 1) // hmax
    ch = (frame["h"] * c["v"] + vmax - 1) // vmax
    return (ch + 7) // 8, (cw + 7) // 8


def _decode_progressive_scan(
    payload, start, frame, scomps, ss, se, ah, al, huff, restart_interval, coefs
):
    """Decode one progressive scan into the per-component coefficient
    grids (zigzag order, int32). Returns the reader position at the end
    of the entropy-coded data."""
    comps = frame["comps"]
    mcus_x, mcus_y = frame["mcus"]
    reader = _BitReader(payload, start)
    idxs = []
    for cs, td, ta in scomps:
        ci = next(
            (i for i, c in enumerate(comps) if c["id"] == cs), None
        )
        if ci is None:
            raise ValueError(f"jpeg: scan names unknown component {cs}")
        idxs.append((ci, td, ta))
    eobrun = 0
    if ss == 0:  # DC scan (first or refinement)
        if se != 0:
            raise ValueError("jpeg: DC scan with Se != 0")
        dc_pred = dict.fromkeys((ci for ci, _, _ in idxs), 0)

        def dc_block(blk, ci, td):
            if ah == 0:
                t = _huff_decode(reader, huff[(0, td)])
                dc_pred[ci] += _extend(reader.bits(t), t)
                blk[0] = dc_pred[ci] << al
            elif reader.bits(1):
                blk[0] = int(blk[0]) | (1 << al)

        if len(idxs) > 1:  # interleaved MCU order
            count = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if (
                        restart_interval
                        and count
                        and count % restart_interval == 0
                    ):
                        m = reader.align_to_marker()
                        if m is None or not 0xD0 <= m <= 0xD7:
                            raise ValueError("jpeg: expected restart marker")
                        for k in dc_pred:
                            dc_pred[k] = 0
                    for ci, td, _ta in idxs:
                        c = comps[ci]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                dc_block(
                                    coefs[ci][my * c["v"] + by, mx * c["h"] + bx],
                                    ci,
                                    td,
                                )
                    count += 1
        else:  # non-interleaved single component
            ci, td, _ta = idxs[0]
            bh, bw = _comp_block_dims(frame, comps[ci])
            count = 0
            for by in range(bh):
                for bx in range(bw):
                    if (
                        restart_interval
                        and count
                        and count % restart_interval == 0
                    ):
                        m = reader.align_to_marker()
                        if m is None or not 0xD0 <= m <= 0xD7:
                            raise ValueError("jpeg: expected restart marker")
                        dc_pred[ci] = 0
                    dc_block(coefs[ci][by, bx], ci, td)
                    count += 1
    else:  # AC scan: spec requires single-component, non-interleaved
        if len(idxs) != 1:
            raise ValueError("jpeg: AC progressive scan must be one component")
        if se > 63 or ss > se:
            raise ValueError("jpeg: bad spectral band")
        ci, _td, ta = idxs[0]
        act = huff[(1, ta)]
        grid = coefs[ci]
        bh, bw = _comp_block_dims(frame, comps[ci])
        count = 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and count and count % restart_interval == 0:
                    m = reader.align_to_marker()
                    if m is None or not 0xD0 <= m <= 0xD7:
                        raise ValueError("jpeg: expected restart marker")
                    eobrun = 0
                blk = grid[by, bx]
                if ah == 0:
                    eobrun = _ac_first_block(reader, blk, act, ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine_block(reader, blk, act, ss, se, al, eobrun)
                count += 1
    return reader.pos


def _ac_first_block(reader, blk, act, ss, se, al, eobrun):
    """AC first scan (Ah=0) for one block; returns the remaining EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(reader, act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.bits(r)
            return eobrun
        k += r
        if k > se:
            raise ValueError("jpeg: AC index overflow")
        blk[k] = _extend(reader.bits(s), s) << al
        k += 1
    return 0


def _ac_refine_block(reader, blk, act, ss, se, al, eobrun):
    """AC refinement scan (Ah>0) for one block: newly-nonzero coefs are
    coded as +-1<<Al; every already-nonzero coef passed gets one
    correction bit (T.81 G.1.2.3). Returns the remaining EOB run."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(reader, act)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("jpeg: refinement magnitude != 1")
                newval = p1 if reader.bits(1) else -p1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.bits(r)
                break
            # advance: skip r zero-history coefs, correcting nonzero ones
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if reader.bits(1) and (abs(c) & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                blk[k] = newval
            k += 1
    if eobrun > 0:
        # EOB: correct every remaining nonzero-history coef in the band
        while k <= se:
            c = int(blk[k])
            if c != 0 and reader.bits(1) and (abs(c) & p1) == 0:
                blk[k] = c + (p1 if c >= 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _progressive_reconstruct(frame, coefs, qt):
    """Dequantize + dezigzag + batch IDCT every accumulated block, then
    reuse the shared upsample/color path."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for ci, c in enumerate(comps):
        q = qt[c["tq"]]
        deq = coefs[ci].astype(np.float64) * q
        nby, nbx, _ = deq.shape
        nat = np.zeros_like(deq)
        nat[..., _ZZ] = deq
        blocks = nat.reshape(nby, nbx, 8, 8)
        sp = np.einsum("jk,yxkl,lm->yxjm", _T.T, blocks, _T) + 128.0
        planes.append(sp.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8))
    return _planes_to_rgb(planes, comps, hmax, vmax, frame["w"], frame["h"])


# ---------------------------------------------------------------------------
# Encoder (test/oracle generator — the image_bytes precedent).
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        while self.n:
            self.write(1, 1)  # pad with 1s


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _mono_table(symbols: list[int]):
    """Single-length canonical Huffman table over the given symbol set:
    every code has length L = ceil(log2(n+1)) (so the all-ones code
    stays unused). Returns (counts16, ordered_symbols, code_map)."""
    syms = sorted(set(symbols))
    n = len(syms)
    length = max(2, (n + 1 - 1).bit_length())
    while (1 << length) - 1 < n:
        length += 1
    counts = [0] * 16
    counts[length - 1] = n
    # canonical assignment with a single length: codes are simply 0..n-1
    code_map = {s: (i, length) for i, s in enumerate(syms)}
    return counts, bytes(syms), code_map


def encode_baseline_jpeg(
    rgb, subsample: bool = False, quant: int = 1, restart_interval: int = 0
) -> bytes:
    """Encode (h, w, 3) uint8 RGB as baseline SOF0 JPEG.

    ``subsample=True`` emits 4:2:0 chroma; ``quant`` is the flat
    quantization value (1 = near-lossless, bounded only by DCT float
    rounding and chroma conversion); ``restart_interval`` > 0 emits
    DRI + RSTn markers every that many MCUs (exercises the decoder's
    restart resync path)."""
    if not 1 <= quant <= 255:
        # the flat value is written into a uint8 DQT segment; values
        # outside [1, 255] would silently wrap and corrupt round trips
        raise ValueError(f"quant must be in [1, 255], got {quant}")
    grids, samp, (mcus_x, mcus_y), qtbl, h, w = _rgb_to_coef_grids(
        rgb, subsample, quant
    )
    # each component's blocks in emission (MCU-interleaved) order
    coef_store = [
        [
            grid[my * samp[ci][1] + by, mx * samp[ci][0] + bx]
            for my in range(mcus_y)
            for mx in range(mcus_x)
            for by in range(samp[ci][1])
            for bx in range(samp[ci][0])
        ]
        for ci, grid in enumerate(grids)
    ]

    # First pass: compute all (symbol, bits) streams to learn tables.
    dc_syms: list[list[int]] = [[], []]  # class-id 0 = luma, 1 = chroma
    ac_syms: list[list[int]] = [[], []]
    # gather symbols in true emission (MCU-interleaved) order, with the
    # same restart-boundary DC resets the emission pass applies
    idx0 = [0] * 3
    dc_prev0 = [0] * 3
    for mcu_i in range(mcus_x * mcus_y):
        if restart_interval and mcu_i and mcu_i % restart_interval == 0:
            dc_prev0 = [0] * 3
        for ci in range(3):
            cls = 0 if ci == 0 else 1
            for _ in range(samp[ci][0] * samp[ci][1]):
                zz = coef_store[ci][idx0[ci]]
                idx0[ci] += 1
                diff = int(zz[0]) - dc_prev0[ci]
                dc_prev0[ci] = int(zz[0])
                dc_syms[cls].append(_category(diff))
                run = 0
                last_nz = (
                    max(np.nonzero(zz[1:])[0]) + 1 if np.any(zz[1:]) else 0
                )
                for k in range(1, last_nz + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        if run == 16:
                            ac_syms[cls].append(0xF0)
                            run = 0
                        continue
                    ac_syms[cls].append((run << 4) | _category(v))
                    run = 0
                if last_nz < 63:
                    ac_syms[cls].append(0x00)  # EOB
    tables = {}
    for cls in (0, 1):
        tables[(0, cls)] = _mono_table(dc_syms[cls] or [0])
        tables[(1, cls)] = _mono_table(ac_syms[cls] or [0])

    # Second pass: emit entropy-coded data.
    bw = _BitWriter()
    idx = [0] * 3
    dc_prev = [0] * 3
    for mcu_i in range(mcus_x * mcus_y):
        if restart_interval and mcu_i and mcu_i % restart_interval == 0:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + ((mcu_i // restart_interval - 1) % 8)])
            dc_prev = [0] * 3
        for ci in range(3):
            cls = 0 if ci == 0 else 1
            dct = tables[(0, cls)][2]
            act = tables[(1, cls)][2]
            for _ in range(samp[ci][0] * samp[ci][1]):
                zz = coef_store[ci][idx[ci]]
                idx[ci] += 1
                diff = int(zz[0]) - dc_prev[ci]
                dc_prev[ci] = int(zz[0])
                t = _category(diff)
                code, ln = dct[t]
                bw.write(code, ln)
                if t:
                    bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
                run = 0
                last_nz = max(np.nonzero(zz[1:])[0]) + 1 if np.any(zz[1:]) else 0
                for k in range(1, last_nz + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        if run == 16:
                            code, ln = act[0xF0]
                            bw.write(code, ln)
                            run = 0
                        continue
                    s = _category(v)
                    code, ln = act[(run << 4) | s]
                    bw.write(code, ln)
                    bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                    run = 0
                if last_nz < 63:
                    code, ln = act[0x00]
                    bw.write(code, ln)
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes(qtbl.astype(np.uint8).tolist()))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
    for ci in range(3):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], 0])
    out += seg(0xC0, sof)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    for (tc, th), (counts, syms, _) in sorted(tables.items()):
        out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(counts) + syms)
    sos = bytes([3])
    for ci in range(3):
        cls = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (cls << 4) | cls])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive encoder (test/oracle generator, like encode_baseline_jpeg):
# emits a spec-valid SOF2 stream — interleaved DC first + refinement
# scans, per-component AC band scans with successive approximation, EOB
# runs — so the progressive decoder round-trips against in-engine bytes.
# ---------------------------------------------------------------------------


def _rgb_to_coef_grids(rgb, subsample: bool, quant: int):
    """FDCT + quantize to per-component zigzag coefficient grids shaped
    (mcus_y*v, mcus_x*h, 64) — the same layout the progressive decoder
    accumulates into."""
    rgb = np.asarray(rgb, dtype=np.float64)
    h, w = rgb.shape[:2]
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    if subsample:
        samp = [(2, 2), (1, 1), (1, 1)]
        pe_h, pe_w = (h + 1) // 2 * 2, (w + 1) // 2 * 2

        def pool(p):
            pp = np.pad(p, ((0, pe_h - h), (0, pe_w - w)), mode="edge")
            return pp.reshape(pe_h // 2, 2, pe_w // 2, 2).mean(axis=(1, 3))

        planes = [y, pool(cb), pool(cr)]
    else:
        samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    qtbl = np.full(64, quant, dtype=np.int32)
    grids = []
    for ci, p in enumerate(planes):
        ch, cw = p.shape
        nby, nbx = mcus_y * samp[ci][1], mcus_x * samp[ci][0]
        pp = np.pad(p, ((0, nby * 8 - ch), (0, nbx * 8 - cw)), mode="edge") - 128.0
        grid = np.zeros((nby, nbx, 64), dtype=np.int32)
        for by in range(nby):
            for bx in range(nbx):
                blk = pp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coef = _T @ blk @ _T.T
                grid[by, bx] = np.rint(coef.reshape(64)[_ZZ] / qtbl).astype(
                    np.int32
                )
        grids.append(grid)
    return grids, samp, (mcus_x, mcus_y), qtbl, h, w


def _dc_first_events(grids, samp, mcus, al):
    """Interleaved DC first scan: diff-code the point-transformed DC."""
    mcus_x, mcus_y = mcus
    ev = []
    preds = [0] * len(grids)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, grid in enumerate(grids):
                cls = "dc0" if ci == 0 else "dc1"
                for by in range(samp[ci][1]):
                    for bx in range(samp[ci][0]):
                        v = int(grid[my * samp[ci][1] + by, mx * samp[ci][0] + bx, 0]) >> al
                        diff = v - preds[ci]
                        preds[ci] = v
                        t = _category(diff)
                        ev.append(("sym", cls, t))
                        if t:
                            ev.append(
                                ("bits", diff if diff >= 0 else diff + (1 << t) - 1, t)
                            )
    return ev


def _dc_refine_events(grids, samp, mcus, al):
    """Interleaved DC refinement: one raw bit (bit Al) per block."""
    mcus_x, mcus_y = mcus
    ev = []
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, grid in enumerate(grids):
                for by in range(samp[ci][1]):
                    for bx in range(samp[ci][0]):
                        v = int(grid[my * samp[ci][1] + by, mx * samp[ci][0] + bx, 0])
                        ev.append(("bits", (v >> al) & 1, 1))
    return ev


def _ac_first_events(grid, bh, bw, ss, se, al):
    """Single-component AC first scan with accumulated EOB runs."""
    ev = []
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            ev.append(("sym", "ac", r << 4))
            if r:
                ev.append(("bits", eobrun - (1 << r), r))
            eobrun = 0

    for by in range(bh):
        for bx in range(bw):
            zz = grid[by, bx]
            vals = []
            for k in range(ss, se + 1):
                c = int(zz[k])
                t = abs(c) >> al
                vals.append(t if c >= 0 else -t)
            last = -1
            for i, v in enumerate(vals):
                if v:
                    last = i
            if last < 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            for i in range(last + 1):
                v = vals[i]
                if v == 0:
                    run += 1
                    if run == 16:
                        ev.append(("sym", "ac", 0xF0))
                        run = 0
                    continue
                s = _category(v)
                ev.append(("sym", "ac", (run << 4) | s))
                ev.append(("bits", v if v >= 0 else v + (1 << s) - 1, s))
                run = 0
            if last < se - ss:
                eobrun += 1
    flush_eob()
    return ev


def _ac_refine_events(grid, bh, bw, ss, se, al):
    """Single-component AC refinement scan (T.81 G.1.2.3): newly-nonzero
    coefs emit (run, 1)+sign; history coefs buffer correction bits that
    flush after each symbol; per-block EOBs (run length 1)."""
    ev = []
    for by in range(bh):
        for bx in range(bw):
            zz = grid[by, bx]
            temp = []
            for k in range(ss, se + 1):
                temp.append(abs(int(zz[k])) >> al)
            eob_i = -1
            for i, t in enumerate(temp):
                if t == 1:
                    eob_i = i
            r = 0
            br: list[int] = []
            for i, t in enumerate(temp):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob_i:
                    ev.append(("sym", "ac", 0xF0))
                    r -= 16
                    ev.extend(("bits", b, 1) for b in br)
                    br = []
                if t > 1:  # nonzero history: correction bit only
                    br.append(t & 1)
                    continue
                # newly nonzero at this precision (magnitude exactly 1)
                ev.append(("sym", "ac", (r << 4) | 1))
                ev.append(("bits", 1 if int(zz[ss + i]) > 0 else 0, 1))
                ev.extend(("bits", b, 1) for b in br)
                br = []
                r = 0
            if r > 0 or br:
                ev.append(("sym", "ac", 0x00))  # EOB (run of 1)
                ev.extend(("bits", b, 1) for b in br)
    return ev


def _emit_progressive_scan(out, scomp_specs, ss, se, ah, al, events):
    """Append DHT (for the classes this scan uses) + SOS + entropy data."""

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    cls_syms: dict[str, list[int]] = {}
    for e in events:
        if e[0] == "sym":
            cls_syms.setdefault(e[1], []).append(e[2])
    # class key -> (tc, th): dc0 -> (0,0), dc1 -> (0,1), ac -> (1,0)
    cls_ids = {"dc0": (0, 0), "dc1": (0, 1), "ac": (1, 0)}
    tables = {}
    for cls, syms in sorted(cls_syms.items()):
        counts, osyms, code_map = _mono_table(syms or [0])
        tc, th = cls_ids[cls]
        out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(counts) + osyms)
        tables[cls] = code_map
    sos = bytes([len(scomp_specs)])
    for cid, cls in scomp_specs:
        tc_dc = cls_ids.get(cls, (0, 0))[1] if cls.startswith("dc") else 0
        ta = 0 if cls == "ac" else 0
        sos += bytes([cid, (tc_dc << 4) | ta])
    sos += bytes([ss, se, (ah << 4) | al])
    out += seg(0xDA, sos)
    bw = _BitWriter()
    for e in events:
        if e[0] == "sym":
            code, ln = tables[e[1]][e[2]]
            bw.write(code, ln)
        else:
            bw.write(e[1], e[2])
    bw.flush()
    out += bw.out
    return out


def encode_progressive_jpeg(
    rgb,
    subsample: bool = False,
    quant: int = 1,
    dc_al: int = 1,
    ac_al: int = 1,
    bands: tuple = ((1, 5), (6, 63)),
) -> bytes:
    """Encode (h, w, 3) uint8 RGB as progressive SOF2 JPEG.

    Scan script (exercising every progressive decode path): interleaved
    DC first scan at Al=``dc_al``; per-component AC first scans per
    spectral band at Al=``ac_al``; AC refinement scans stepping Al down
    to 0; interleaved DC refinement scans stepping Al down to 0."""
    if not 1 <= quant <= 255:
        raise ValueError(f"quant must be in [1, 255], got {quant}")
    grids, samp, mcus, qtbl, h, w = _rgb_to_coef_grids(rgb, subsample, quant)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes(qtbl.astype(np.uint8).tolist()))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
    for ci in range(3):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], 0])
    out += seg(0xC2, sof)

    frame = {
        "w": w,
        "h": h,
        "comps": [
            {"id": ci + 1, "h": samp[ci][0], "v": samp[ci][1], "tq": 0}
            for ci in range(3)
        ],
    }
    dc_specs = [(1, "dc0"), (2, "dc1"), (3, "dc1")]
    # 1. DC first scan, interleaved, Al=dc_al
    out = _emit_progressive_scan(
        out, dc_specs, 0, 0, 0, dc_al, _dc_first_events(grids, samp, mcus, dc_al)
    )
    # 2. AC first scans: per component, per band, Al=ac_al
    for ci in range(3):
        bh, bw_ = _comp_block_dims(frame, frame["comps"][ci])
        for ss, se in bands:
            out = _emit_progressive_scan(
                out, [(ci + 1, "ac")], ss, se, 0, ac_al,
                _ac_first_events(grids[ci], bh, bw_, ss, se, ac_al),
            )
    # 3. AC refinement scans: Al from ac_al-1 down to 0
    for al in range(ac_al - 1, -1, -1):
        for ci in range(3):
            bh, bw_ = _comp_block_dims(frame, frame["comps"][ci])
            for ss, se in bands:
                out = _emit_progressive_scan(
                    out, [(ci + 1, "ac")], ss, se, al + 1, al,
                    _ac_refine_events(grids[ci], bh, bw_, ss, se, al),
                )
    # 4. DC refinement scans: Al from dc_al-1 down to 0 (no Huffman)
    for al in range(dc_al - 1, -1, -1):
        out = _emit_progressive_scan(
            out, dc_specs, 0, 0, al + 1, al,
            _dc_refine_events(grids, samp, mcus, al),
        )
    out += b"\xff\xd9"
    return bytes(out)
