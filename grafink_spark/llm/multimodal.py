"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with a typed metadata
struct; all heavy per-item work (decode, feature-extract,
frame-sample) runs as Arrow-batched ``mapInPandas`` so bytes stream
through Python in columnar batches, never row-at-a-time, and the plan
stays a narrow map (no shuffle).

The decode kernel is pluggable. ``fake_*`` kernels parse a
deterministic fake header (what the DuckDB oracles replay);
``real_decode_kernel`` / ``real_audio_kernel`` / ``real_video_kernel``
are pure-stdlib decoders — PNG (zlib inflate + scanline unfilter),
baseline AND progressive JFIF JPEG (Huffman entropy decode across
multi-scan spectral bands with successive approximation, dequantize,
8×8 IDCT, luma-only), PCM-WAV (struct), and MJPEG-in-AVI (RIFF demux
+ per-frame JPEG decode) — each exercised on real bytes in tests.
Formats beyond those (arithmetic-coded JPEG, mp3, mp4/H.264) need
external codec libraries (PIL/ffmpeg, not in this container) and
raise NotImplementedError at the same swap-in points. The
Spark-side contract — schemas, batching, partitioning — is
identical for every kernel.

The reference carries media the same way: ZTF cutout stamps are binary
struct fields (cutoutScience.stampData — SURVEY §1.2) that grafink
flattens and downcasts; we keep them as first-class binary columns
instead.
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("format", T.StringType()),  # png | wav | mp4 | fake
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def payload_checksum(payload: bytes) -> str:
    """md5 of the payload's lowercase-hex encoding. Hashing the hex
    string (not the raw bytes) is deliberate: it lets a pure-SQL oracle
    (DuckDB md5 accepts VARCHAR only) rebuild the identical checksum,
    so the media pipeline gets a value-level correctness gate instead of
    a rows-only check."""
    return hashlib.md5(payload.hex().encode()).hexdigest()


def make_fake_image(doc_id: int, width: int, height: int) -> bytes:
    """Deterministic fake 'image': 8-byte header (w,h as int32 LE) +
    pseudo-pixel bytes = md5(str(doc_id)) digest repeated to w*h bytes.
    Stands in for PNG bytes in tests and keeps every downstream step
    exercisable; md5-seeded so an SQL oracle can reconstruct it."""
    header = struct.pack("<ii", width, height)
    seed = hashlib.md5(str(doc_id).encode()).digest()
    body = (seed * ((width * height) // len(seed) + 1))[: width * height]
    return header + body


def fake_decode_kernel(doc_id: int, payload: bytes) -> dict:
    """Default decode kernel: understands make_fake_image's layout."""
    if payload is None or len(payload) < 8:
        return {"width": None, "height": None, "mean_luma": None}
    w, h = struct.unpack("<ii", payload[:8])
    body = payload[8 : 8 + w * h]
    mean = (sum(body) / len(body)) if body else None
    return {"width": w, "height": h, "mean_luma": mean}


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Undo PNG scanline filters (types 0-4) — returns the raw pixel
    bytes, ``width * bpp`` per row."""
    stride = width * bpp
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(height):
        ftype = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                line[i] = (line[i] + pr) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out.extend(line)
        prev = line
    return out


_JPEG_SIG = b"\xff\xd8"

# zig-zag scan order: index in the 64-coefficient stream → (row, col)
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# separable 8-point IDCT basis: _IDCT_B[u][x] = C(u)/2 · cos((2x+1)uπ/16)
_IDCT_B = [
    [
        (math.sqrt(0.5) if u == 0 else 1.0)
        / 2.0
        * math.cos((2 * x + 1) * u * math.pi / 16.0)
        for x in range(8)
    ]
    for u in range(8)
]


def _jpeg_huff_lut(counts: bytes, symbols: bytes) -> dict:
    """Canonical JPEG Huffman table: (code_length, code) → symbol."""
    lut = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            lut[(length, code)] = symbols[k]
            k += 1
            code += 1
        code <<= 1
    return lut


class _JpegBits:
    """MSB-first bit reader over the entropy-coded segment, undoing
    0xFF00 byte stuffing and stopping at any other marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self):
        # bounds-check BEFORE indexing: a truncated payload must raise
        # the same catchable ValueError as every other malformed-input
        # path (a raw IndexError would fail the whole Spark task with
        # an opaque error instead of letting callers quarantine the doc)
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG stream")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("truncated JPEG stream")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                # the MCU loop consumes RST markers at restart-interval
                # boundaries; hitting one mid-block means the entropy
                # decoder desynchronized (corrupt stream or a restart
                # interval the header lied about)
                raise ValueError(
                    "restart marker inside an entropy-coded block"
                )
            else:
                raise ValueError("unexpected marker inside entropy data")
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.bitbuf >> self.nbits) & ((1 << n) - 1)
        return v

    def huff(self, lut: dict) -> int:
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.read(1)
            length += 1
            sym = lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def align(self):
        self.nbits = 0
        self.bitbuf = 0


def _jpeg_extend(v: int, s: int) -> int:
    """JPEG F.12 EXTEND: map an s-bit magnitude to its signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _quarantined(fn, payload):
    """Run a decoder on an untrusted payload under the one-exception
    quarantine contract: structural exceptions a corrupt byte stream
    can surface from slice/index/unpack arithmetic — IndexError,
    KeyError, ZeroDivisionError, OverflowError, struct.error,
    zlib.error — re-raise as ValueError, so per-row handlers catch ONE
    type and a bad document can never kill the whole Spark task with
    an opaque internal error (fuzz-pinned: tests/test_multimodal.py
    mutates every fixture format 1000s of ways). ValueError and
    NotImplementedError pass through untouched — they ARE the
    contract."""
    import zlib

    try:
        return fn(payload)
    except (ValueError, NotImplementedError):
        raise
    except (
        IndexError,
        KeyError,
        ZeroDivisionError,
        OverflowError,
        struct.error,
        zlib.error,
    ) as e:
        raise ValueError(
            f"malformed payload ({e.__class__.__name__}: {e})"
        ) from e


def _jpeg_decode(payload: bytes) -> dict:
    """Baseline JFIF decoder (SOF0, Huffman): width/height/mean_luma.
    Pure stdlib — Huffman entropy decode, dequantize, de-zigzag, 8×8
    IDCT on the LUMA component only (chroma blocks are entropy-decoded
    to advance the bitstream but their IDCT is skipped: the feature set
    needs Y alone). Progressive (SOF2) streams dispatch to the
    multi-scan decoder; arithmetic-coded streams raise
    NotImplementedError.

    Malformed-input contract: EVERY truncation/corruption path raises
    ValueError (never struct.error/IndexError), so per-row quarantine
    handlers can catch one exception type. Fixed-size segment unpacks
    (DQT 16-bit tables, DRI, SOF component slices) on a truncated
    segment would otherwise surface opaque struct.error — the wrapper
    re-raises them here, covering the progressive and scan paths too."""
    return _quarantined(_jpeg_decode_impl, payload)


def _jpeg_decode_impl(payload: bytes) -> dict:
    pos = 2  # past SOI
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) → lut
    width = height = None
    comps: list[dict] = []  # id, h, v, tq per component
    restart_interval = 0
    data = payload
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    qt[tq] = list(seg[p : p + 64])
                    p += 64
                else:
                    qt[tq] = list(
                        struct.unpack(f">{64}H", seg[p : p + 128])
                    )
                    p += 128
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                counts = seg[p + 1 : p + 17]
                n = sum(counts)
                symbols = seg[p + 17 : p + 17 + n]
                huff[(tc, th)] = _jpeg_huff_lut(counts, symbols)
                p += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            height, width = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
        elif marker == 0xC2:  # SOF2 progressive: multi-scan path
            return _jpeg_decode_progressive(data)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0x{marker:02x} unsupported "
                "(baseline SOF0 / progressive SOF2 Huffman only)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows the header
            nscan = seg[0]
            scan = {}
            for i in range(nscan):
                cid, tables = seg[1 + 2 * i], seg[2 + 2 * i]
                scan[cid] = (tables >> 4, tables & 0x0F)
            pos = pos + 2 + seglen
            return _jpeg_scan(
                data, pos, width, height, comps, scan, qt, huff,
                restart_interval,
            )
        pos += 2 + seglen
    raise ValueError("JPEG missing SOS scan")


def _jpeg_scan(
    data, pos, width, height, comps, scan, qt, huff, restart_interval
) -> dict:
    if width is None or not comps:
        raise ValueError("JPEG SOS before SOF0")
    for c in comps:
        if c["id"] not in scan:
            raise ValueError("baseline SOS missing a frame component")
        if c["tq"] not in qt:
            raise ValueError("JPEG missing DQT for a scanned component")
        dc_t, ac_t = scan[c["id"]]
        if (0, dc_t) not in huff or (1, ac_t) not in huff:
            raise ValueError("JPEG scan references undefined Huffman table")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    luma_id = comps[0]["id"]  # first component is Y in JFIF
    # luma plane at full MCU resolution; cropped for the mean
    lw, lh = mcux * 8 * comps[0]["h"], mcuy * 8 * comps[0]["v"]
    plane = [0.0] * (lw * lh)
    bits = _JpegBits(data, pos)
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and (
                mcu_count % restart_interval == 0
            ):
                # byte-align, consume the RST marker, reset predictors;
                # bound the scan — a corrupt stream with no marker left
                # must raise a catchable ValueError, not run off the
                # buffer into IndexError
                bits.align()
                while bits.pos + 1 < len(data) and (
                    data[bits.pos] != 0xFF
                    or not (0xD0 <= data[bits.pos + 1] <= 0xD7)
                ):
                    bits.pos += 1
                if bits.pos + 1 >= len(data):
                    raise ValueError("truncated JPEG stream")
                bits.pos += 2
                pred = {c["id"]: 0 for c in comps}
            mcu_count += 1
            for c in comps:
                dc_lut = huff[(0, scan[c["id"]][0])]
                ac_lut = huff[(1, scan[c["id"]][1])]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coeff = [0] * 64
                        s = bits.huff(dc_lut)
                        diff = _jpeg_extend(bits.read(s), s) if s else 0
                        pred[c["id"]] += diff
                        coeff[0] = pred[c["id"]] * q[0]
                        k = 1
                        while k < 64:
                            rs = bits.huff(ac_lut)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL: 16 zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            coeff[_ZIGZAG[k]] = (
                                _jpeg_extend(bits.read(s), s) * q[k]
                            )
                            k += 1
                        if c["id"] != luma_id:
                            continue  # chroma advanced the stream; no IDCT
                        # separable IDCT: rows then columns
                        tmp = [0.0] * 64
                        for y in range(8):
                            row = coeff[y * 8 : y * 8 + 8]
                            for x in range(8):
                                tmp[y * 8 + x] = sum(
                                    row[u] * _IDCT_B[u][x] for u in range(8)
                                )
                        ox = (mx * c["h"] + bx) * 8
                        oy = (my * c["v"] + by) * 8
                        for x in range(8):
                            col = [tmp[y * 8 + x] for y in range(8)]
                            for y in range(8):
                                v = (
                                    sum(
                                        col[u] * _IDCT_B[u][y]
                                        for u in range(8)
                                    )
                                    + 128.0
                                )
                                plane[(oy + y) * lw + (ox + x)] = min(
                                    255.0, max(0.0, v)
                                )
    total = 0.0
    for y in range(height):
        base = y * lw
        total += sum(plane[base : base + width])
    n = width * height
    return {
        "width": width,
        "height": height,
        "mean_luma": (total / n) if n else None,
    }


def _jpeg_decode_progressive(data: bytes) -> dict:
    """Progressive JFIF decoder (SOF2, Huffman) — ITU T.81 §G.2.

    Progressive streams split each block's 64 coefficients across
    MULTIPLE scans: DC first/refinement scans (successive-approximation
    bit planes) and per-component AC scans over spectral bands
    [Ss, Se], each shifted by Al with later scans refining one bit at a
    time (the EOBRUN run-length coding of G.2.2).  This decoder keeps a
    persistent per-component coefficient buffer (zigzag order), applies
    every scan in file order — DHT/DRI may be redefined between scans —
    and runs dequant + IDCT on the accumulated LUMA coefficients after
    EOI, same output contract as the baseline path."""
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = None
    comps: list[dict] = []
    restart_interval = 0
    coeffs: dict[int, list[list[int]]] = {}  # cid -> blocks (zigzag order)
    geom: dict[int, tuple[int, int, int, int]] = {}  # cid -> bw, bh, bw_pad, bh_pad
    mcux = mcuy = 0
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG stream")
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    qt[tq] = list(seg[p : p + 64])
                    p += 64
                else:
                    qt[tq] = list(struct.unpack(f">{64}H", seg[p : p + 128]))
                    p += 128
        elif marker == 0xC4:
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                counts = seg[p + 1 : p + 17]
                n = sum(counts)
                symbols = seg[p + 17 : p + 17 + n]
                huff[(tc, th)] = _jpeg_huff_lut(counts, symbols)
                p += 17 + n
        elif marker == 0xC2:
            height, width = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-width // (8 * hmax))
            mcuy = -(-height // (8 * vmax))
            for c in comps:
                cw = -(-width * c["h"] // hmax)
                ch = -(-height * c["v"] // vmax)
                bw, bh = -(-cw // 8), -(-ch // 8)
                bw_pad, bh_pad = mcux * c["h"], mcuy * c["v"]
                geom[c["id"]] = (bw, bh, bw_pad, bh_pad)
                coeffs[c["id"]] = [[0] * 64 for _ in range(bw_pad * bh_pad)]
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:
            if width is None:
                raise ValueError("JPEG SOS before SOF2")
            nscan = seg[0]
            scan_comps = []
            for i in range(nscan):
                cid, tables = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_comps.append((cid, tables >> 4, tables & 0x0F))
            ss, se, ahal = seg[1 + 2 * nscan : 4 + 2 * nscan]
            ah, al = ahal >> 4, ahal & 0x0F
            pos = _jpeg_progressive_scan(
                data, pos + 2 + seglen, comps, scan_comps, ss, se, ah, al,
                huff, coeffs, geom, mcux, mcuy, restart_interval,
            )
            continue
        pos += 2 + seglen
    if width is None or not comps:
        raise ValueError("JPEG missing SOF2 frame header")
    # dequant + IDCT the luma component only (same contract as baseline)
    c0 = comps[0]
    if c0["tq"] not in qt:
        raise ValueError("JPEG missing DQT for luma component")
    q = qt[c0["tq"]]
    bw, bh, bw_pad, _ = geom[c0["id"]]
    blocks = coeffs[c0["id"]]
    lw, lh = bw * 8, bh * 8
    plane = [0.0] * (lw * lh)
    for byi in range(bh):
        for bxi in range(bw):
            zz = blocks[byi * bw_pad + bxi]
            nat = [0] * 64
            for k in range(64):
                nat[_ZIGZAG[k]] = zz[k] * q[k]
            tmp = [0.0] * 64
            for y in range(8):
                row = nat[y * 8 : y * 8 + 8]
                for x in range(8):
                    tmp[y * 8 + x] = sum(row[u] * _IDCT_B[u][x] for u in range(8))
            ox, oy = bxi * 8, byi * 8
            for x in range(8):
                col = [tmp[y * 8 + x] for y in range(8)]
                for y in range(8):
                    v = sum(col[u] * _IDCT_B[u][y] for u in range(8)) + 128.0
                    plane[(oy + y) * lw + (ox + x)] = min(255.0, max(0.0, v))
    total = 0.0
    for y in range(height):
        base = y * lw
        total += sum(plane[base : base + width])
    n = width * height
    return {
        "width": width,
        "height": height,
        "mean_luma": (total / n) if n else None,
    }


def _jpeg_progressive_scan(
    data, pos, comps, scan_comps, ss, se, ah, al,
    huff, coeffs, geom, mcux, mcuy, restart_interval,
) -> int:
    """Apply ONE progressive scan to the coefficient buffers and return
    the stream position of the next marker.  Implements the four scan
    kinds of T.81 §G.2: DC first (Ah=0, diffs shifted left Al), DC
    refinement (one bit per block), AC first (EOBRUN band coding), AC
    refinement (correction bits over zero-history runs)."""
    if ss == 0 and se != 0:
        # a full-band "scan" is a baseline stream mislabeled SOF2 or a
        # corrupt header — progressive DC scans must have Se == 0
        raise ValueError("progressive DC scan with Se != 0")
    for cid, dc_t, ac_t in scan_comps:
        if cid not in geom:
            raise ValueError("progressive scan references undeclared component")
        # DC-first scans need the DC table; any AC scan needs the AC
        # table (DC refinement reads raw bits, no table)
        need = (1, ac_t) if ss > 0 else ((0, dc_t) if ah == 0 else None)
        if need is not None and need not in huff:
            raise ValueError("progressive scan references undefined Huffman table")
    bits = _JpegBits(data, pos)
    by_id = {c["id"]: c for c in comps}
    eobrun = 0
    pred = {cid: 0 for cid, _, _ in scan_comps}
    p1, m1 = 1 << al, -1 << al

    def dc_first(blk, cid, dc_lut):
        s = bits.huff(dc_lut)
        diff = _jpeg_extend(bits.read(s), s) if s else 0
        pred[cid] += diff
        blk[0] = pred[cid] << al

    def dc_refine(blk):
        if bits.read(1):
            blk[0] |= p1

    def ac_first(blk, ac_lut):
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = bits.huff(ac_lut)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += bits.read(r)
                break
            k += r
            if k > se:
                raise ValueError("AC index overflow in progressive scan")
            blk[k] = _jpeg_extend(bits.read(s), s) << al
            k += 1

    def refine_nonzero(blk, k):
        # correction bit for a coefficient that is already nonzero
        if bits.read(1) and (blk[k] & p1) == 0:
            blk[k] += p1 if blk[k] > 0 else m1

    def ac_refine(blk, ac_lut):
        nonlocal eobrun
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = bits.huff(ac_lut)
                r, s = rs >> 4, rs & 0x0F
                newval = 0
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += bits.read(r)
                        break
                    # r == 15: pass over 16 zero-history coefficients
                else:
                    # s is always 1 in a refinement scan (one new bit)
                    newval = p1 if bits.read(1) else m1
                while k <= se:
                    if blk[k] != 0:
                        refine_nonzero(blk, k)
                    else:
                        if r == 0:
                            if newval:
                                blk[k] = newval
                            k += 1
                            break
                        r -= 1
                    k += 1
        if eobrun > 0:
            # EOB run covers this block: still refine every nonzero
            # coefficient left in the band
            while k <= se:
                if blk[k] != 0:
                    refine_nonzero(blk, k)
                k += 1
            eobrun -= 1

    def handle_restart(unit_count):
        nonlocal eobrun
        if restart_interval and unit_count and unit_count % restart_interval == 0:
            bits.align()
            while bits.pos + 1 < len(data) and (
                data[bits.pos] != 0xFF
                or not (0xD0 <= data[bits.pos + 1] <= 0xD7)
            ):
                bits.pos += 1
            if bits.pos + 1 >= len(data):
                raise ValueError("truncated JPEG stream")
            bits.pos += 2
            for cid in pred:
                pred[cid] = 0
            eobrun = 0

    if len(scan_comps) == 1:
        # NON-INTERLEAVED scan (DC or AC): data units iterate the one
        # component's OWN block raster (true dims, not MCU padding) —
        # T.81 A.2.2; restart counts data units
        (cid, dc_t, ac_t) = scan_comps[0]
        bw, bh, bw_pad, _ = geom[cid]
        unit = 0
        for byi in range(bh):
            for bxi in range(bw):
                handle_restart(unit)
                unit += 1
                blk = coeffs[cid][byi * bw_pad + bxi]
                if ss == 0:
                    if ah == 0:
                        dc_first(blk, cid, huff[(0, dc_t)])
                    else:
                        dc_refine(blk)
                elif ah == 0:
                    ac_first(blk, huff[(1, ac_t)])
                else:
                    ac_refine(blk, huff[(1, ac_t)])
    else:
        # INTERLEAVED scan: only DC scans may interleave (ss == 0);
        # MCU order, restart counts MCUs
        if ss != 0:
            raise ValueError("progressive AC scan must be single-component")
        unit = 0
        for my in range(mcuy):
            for mx in range(mcux):
                handle_restart(unit)
                unit += 1
                for cid, dc_t, _ in scan_comps:
                    c = by_id[cid]
                    _, _, bw_pad, _ = geom[cid]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            idx = (my * c["v"] + by) * bw_pad + (mx * c["h"] + bx)
                            blk = coeffs[cid][idx]
                            if ah == 0:
                                dc_first(blk, cid, huff[(0, dc_t)])
                            else:
                                dc_refine(blk)
    # resync: advance to the next marker after the entropy data
    p = bits.pos
    while p + 1 < len(data) and (
        data[p] != 0xFF or data[p + 1] == 0x00 or 0xD0 <= data[p + 1] <= 0xD7
    ):
        p += 1
    if p + 1 >= len(data):
        raise ValueError("truncated JPEG stream")
    return p


def real_decode_kernel(doc_id: int, payload: bytes) -> dict:
    """Quarantine wrapper: see :func:`_real_decode_kernel_impl`."""
    return _quarantined(lambda p: _real_decode_kernel_impl(doc_id, p), payload)


def _real_decode_kernel_impl(doc_id: int, payload: bytes) -> dict:
    """Real image decode — pure-stdlib PNG (zlib inflate + scanline
    unfilter), no third-party codec needed. Supports the common
    non-interlaced 8-bit color types (gray, gray+alpha, RGB, RGBA);
    other formats (JPEG etc.) still need an external library and raise
    NotImplementedError so the caller knows to swap kernels. mean_luma
    uses the Rec.601 weights (0.299 R + 0.587 G + 0.114 B)."""
    import zlib

    if payload is None or len(payload) < len(_PNG_SIG):
        return {"width": None, "height": None, "mean_luma": None}
    if payload.startswith(_JPEG_SIG):
        return _jpeg_decode(payload)
    if payload.startswith(b"GIF8"):
        return decode_gif(payload)
    if payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        return decode_tiff(payload)
    if payload.startswith(b"BM"):
        # no length pre-check: a truncated BMP is MALFORMED (decode_bmp
        # raises ValueError), not an honest unsupported format
        return decode_bmp(payload)
    if not payload.startswith(_PNG_SIG):
        raise NotImplementedError(
            "real_decode_kernel handles PNG, JPEG (baseline + "
            "progressive), GIF, TIFF, and BMP; other formats need an "
            "external codec (PIL) — or use fake_decode_kernel"
        )
    pos = len(_PNG_SIG)
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"PNG bit_depth={bit_depth} interlace={interlace} unsupported "
            "(8-bit non-interlaced only)"
        )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise NotImplementedError(f"PNG color_type={color_type} unsupported")
    pixels = _png_unfilter(zlib.decompress(bytes(idat)), width, height, channels)
    n = width * height
    if n == 0:
        return {"width": width, "height": height, "mean_luma": None}
    total = 0.0
    if color_type in (0, 4):  # gray / gray+alpha: luma is the gray byte
        total = sum(pixels[i * channels] for i in range(n))
    else:  # RGB / RGBA
        for i in range(n):
            o = i * channels
            total += (
                0.299 * pixels[o] + 0.587 * pixels[o + 1] + 0.114 * pixels[o + 2]
            )
    return {"width": width, "height": height, "mean_luma": total / n}


def extract_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    kernel: Callable[[int, bytes], dict] = fake_decode_kernel,
    batch_hint: int = 1024,
) -> DataFrame:
    """mapInPandas feature extraction over binary payloads → one row per
    media item (IMAGE_FEATURE_SCHEMA). Arrow moves the bytes in columnar
    batches; per-batch python overhead is amortized."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("_p"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["_p"]):
                payload = bytes(payload) if payload is not None else None
                d = kernel(int(doc_id), payload)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "payload_md5": payload_checksum(payload) if payload else None,
                        "n_bytes": len(payload) if payload is not None else 0,
                        "width": d.get("width"),
                        "height": d.get("height"),
                        "mean_luma": d.get("mean_luma"),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURE_SCHEMA])

    return src.mapInPandas(run, IMAGE_FEATURE_SCHEMA)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def make_fake_audio(doc_id: int, duration_ms: int, sample_rate: int = 8) -> bytes:
    """Deterministic fake 'audio': 12-byte header (duration_ms int64 LE,
    sample_rate int32 LE) + pseudo-sample bytes."""
    header = struct.pack("<qi", duration_ms, sample_rate)
    n = duration_ms * sample_rate // 1000
    seed = hashlib.md5(f"a{doc_id}".encode()).digest()
    body = (seed * (n // len(seed) + 1))[:n]
    return header + body


def fake_audio_kernel(doc_id: int, payload: bytes) -> dict:
    if payload is None or len(payload) < 12:
        return {"duration_ms": None, "rms": None}
    duration_ms, _rate = struct.unpack("<qi", payload[:12])
    body = payload[12:]
    rms = math.sqrt(sum(b * b for b in body) / len(body)) if body else None
    return {"duration_ms": duration_ms, "rms": rms}


def real_audio_kernel(doc_id: int, payload: bytes) -> dict:
    """Quarantine wrapper: see :func:`_real_audio_kernel_impl`."""
    return _quarantined(lambda p: _real_audio_kernel_impl(doc_id, p), payload)


def _real_audio_kernel_impl(doc_id: int, payload: bytes) -> dict:
    """Real audio decode — pure-stdlib RIFF/WAV PCM parser (8-bit
    unsigned and 16-bit signed LE, any channel count). Compressed
    formats (mp3 etc.) need an external library and raise
    NotImplementedError so the caller knows to swap kernels. rms is
    over normalized samples in [-1, 1]."""
    if payload is None or len(payload) < 12:
        return {"duration_ms": None, "rms": None}
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "real_audio_kernel handles PCM WAV; other formats need an "
            "external codec (soundfile) — or use fake_audio_kernel"
        )
    pos = 12
    sample_rate = channels = bits = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            audio_format, channels, sample_rate, _brate, _align, bits = (
                struct.unpack("<HHIIHH", body[:16])
            )
            if audio_format != 1:
                raise NotImplementedError(
                    f"WAV audio_format={audio_format} unsupported (PCM only)"
                )
        elif cid == b"data":
            data = body
    if sample_rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if bits == 16:
        n = len(data) // 2
        samples = struct.unpack(f"<{n}h", data[: n * 2])
        scale = 32768.0
    elif bits == 8:
        samples = tuple(b - 128 for b in data)
        scale = 128.0
    else:
        raise NotImplementedError(f"WAV bits_per_sample={bits} unsupported")
    n_frames = len(samples) // channels if channels else 0
    duration_ms = n_frames * 1000 // sample_rate if sample_rate else None
    rms = (
        math.sqrt(sum((s / scale) ** 2 for s in samples) / len(samples))
        if samples
        else None
    )
    return {"duration_ms": duration_ms, "rms": rms}


def extract_audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    kernel: Callable[[int, bytes], dict] = fake_audio_kernel,
) -> DataFrame:
    """mapInPandas audio feature extraction (AUDIO_FEATURE_SCHEMA)."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("_p"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["_p"]):
                payload = bytes(payload) if payload is not None else None
                d = kernel(int(doc_id), payload)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_bytes": len(payload) if payload is not None else 0,
                        "duration_ms": d.get("duration_ms"),
                        "rms": d.get("rms"),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURE_SCHEMA]
            )

    return src.mapInPandas(run, AUDIO_FEATURE_SCHEMA)


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n_bytes: int = 64,
) -> DataFrame:
    """'Frame sampling' plumbing: one output row per sampled frame
    (doc_id, frame_idx, frame_bytes). The fake kernel slices the payload
    every n bytes; a real video kernel would emit decoded frames. Shape
    matters: this is a 1→N mapInPandas, the same contract a real
    ffmpeg-based sampler needs."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_bytes", T.BinaryType()),
        ]
    )
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("_p"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["_p"]):
                if payload is None:
                    continue
                payload = bytes(payload)
                for idx, off in enumerate(range(0, len(payload), every_n_bytes)):
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_idx": idx,
                            "frame_bytes": payload[off : off + every_n_bytes],
                        }
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_bytes"])

    return src.mapInPandas(run, out_schema)


# ---- real video: MJPEG-in-AVI (RIFF) mux/demux, pure stdlib ----
#
# AVI is the one mainstream video container parseable without a codec
# library: RIFF chunks with per-frame '##dc'/'##db' payloads, and MJPEG
# frames are plain baseline JPEGs — which _jpeg_decode already handles.
# MP4/WebM/MKV interleave codec bitstreams (H.264 etc.) that genuinely
# need ffmpeg and keep raising NotImplementedError at the same swap-in
# point.


def make_solid_jpeg(width: int, height: int, luma: int, q: int = 16) -> bytes:
    """Deterministic baseline-JFIF grayscale JPEG of a solid ``luma``
    image — the video-frame fixture generator (like make_fake_image for
    images, but REAL bytes the stdlib decoder round-trips exactly).

    Exactness: with the flat quant table ``q`` and ``luma`` even, the
    quantized DC ``(luma-128)*8/q`` is integral, so decode returns the
    encoded luma bit-exactly — which is what lets a DuckDB oracle
    replay decoded means as a closed form. ``width``/``height`` must be
    multiples of 8; |(luma-128)*8/q| must fit DC category ≤ 7."""
    if width % 8 or height % 8:
        raise ValueError("make_solid_jpeg needs 8-multiple dimensions")
    dc = (luma - 128) * 8
    if dc % q:
        raise ValueError("luma does not quantize exactly; pick an even luma")
    dc //= q

    bits: list[int] = []

    def put(value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            bits.append((value >> i) & 1)

    def put_block(diff: int) -> None:
        cat = 0 if diff == 0 else (diff if diff > 0 else -diff).bit_length()
        if cat > 7:
            raise ValueError("DC diff beyond category 7")
        put(cat, 3)  # canonical DC code for category c IS c (len 3)
        if cat:
            put(diff if diff > 0 else diff + (1 << cat) - 1, cat)
        put(0, 1)  # EOB (code '0')

    n_blocks = (width // 8) * (height // 8)
    put_block(dc)  # first block: diff from predictor 0
    for _ in range(n_blocks - 1):
        put_block(0)  # solid image: every later diff is 0
    bits += [1] * (-len(bits) % 8)  # pad to byte boundary, JPEG convention
    scan = bytearray()
    for i in range(0, len(bits), 8):
        b = 0
        for bit in bits[i : i + 8]:
            b = (b << 1) | bit
        scan.append(b)
        if b == 0xFF:
            scan.append(0x00)  # byte stuffing

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    out += seg(
        0xC0,
        bytes([8]) + struct.pack(">HH", height, width) + bytes([1, 1, 0x11, 0]),
    )
    dc_counts = bytearray(16)
    dc_counts[2] = 8  # 8 DC categories, all code length 3
    out += seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(range(8)))
    ac_counts = bytearray(16)
    ac_counts[0] = 1  # single 1-bit AC code: EOB
    out += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes([0x00]))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


def make_solid_jpeg_progressive(
    width: int, height: int, luma: int, q: int = 16
) -> bytes:
    """Deterministic PROGRESSIVE (SOF2) grayscale JPEG of a solid
    ``luma`` image — the progressive twin of :func:`make_solid_jpeg`,
    so registered queries can push actual SOF2 bytes through the
    decoder with a closed-form oracle.

    The coefficient ladder deliberately exercises all four T.81 §G.2
    scan kinds: DC first with successive approximation (Al=1), an AC
    first scan whose whole 1..63 band is one EOBn run over every
    block, a DC refinement scan (one raw bit per block), and an AC
    refinement scan (EOBn run again — no correction bits, since a
    solid image has no nonzero AC history). Same exactness contract as
    the baseline builder: even ``luma`` and flat quant ``q`` make the
    quantized DC integral, so decode returns ``luma`` bit-exactly."""
    if width % 8 or height % 8:
        raise ValueError("make_solid_jpeg_progressive needs 8-multiple dims")
    dc = (luma - 128) * 8
    if dc % q:
        raise ValueError("luma does not quantize exactly; pick an even luma")
    dc //= q
    n_blocks = (width // 8) * (height // 8)
    # EOBn covering ALL blocks in one symbol: 2^r + appended == n_blocks
    eob_r = n_blocks.bit_length() - 1
    if eob_r > 14:
        # T.81 defines EOBn only for r <= 14 (r = 15 is ZRL) — beyond
        # 2^15 blocks the run must be split; this fixture builder
        # refuses rather than emit a structurally invalid stream
        raise ValueError("image beyond 2^15 blocks: EOBn run not encodable")
    eob_extra = n_blocks - (1 << eob_r)

    class _W:
        def __init__(self):
            self.bits: list[int] = []

        def put(self, value: int, n: int) -> None:
            for i in range(n - 1, -1, -1):
                self.bits.append((value >> i) & 1)

        def bytes(self) -> bytes:
            bits = self.bits + [1] * (-len(self.bits) % 8)
            out = bytearray()
            for i in range(0, len(bits), 8):
                b = 0
                for bit in bits[i : i + 8]:
                    b = (b << 1) | bit
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

    def put_dc(w: _W, diff: int) -> None:
        cat = 0 if diff == 0 else abs(diff).bit_length()
        if cat > 7:
            raise ValueError("DC diff beyond category 7")
        w.put(cat, 3)  # canonical DC code for category c IS c (len 3)
        if cat:
            w.put(diff if diff > 0 else diff + (1 << cat) - 1, cat)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    out += seg(
        0xC2,  # SOF2: progressive DCT, Huffman
        bytes([8]) + struct.pack(">HH", height, width) + bytes([1, 1, 0x11, 0]),
    )
    dc_counts = bytearray(16)
    dc_counts[2] = 8  # 8 DC categories, all code length 3
    out += seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(range(8)))
    # AC table: the one EOBn symbol this stream needs (len-2 canonical)
    ac_counts = bytearray(16)
    ac_counts[1] = 1
    out += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes([eob_r << 4]))

    def sos(ss: int, se: int, ah: int, al: int, w: _W) -> bytes:
        return seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al])) + w.bytes()

    # scan 1: DC first, Al=1 — first block codes dc>>1, rest diff 0
    w = _W()
    put_dc(w, dc >> 1)
    for _ in range(n_blocks - 1):
        put_dc(w, 0)
    out += sos(0, 0, 0, 1, w)
    # scan 2: AC first, band 1..63, Al=1 — one EOBn run over all blocks
    w = _W()
    w.put(0, 2)  # the single len-2 AC code -> EOB(eob_r)
    if eob_r:
        w.put(eob_extra, eob_r)
    out += sos(1, 63, 0, 1, w)
    # scan 3: DC refinement Ah=1, Al=0 — one raw bit (dc & 1) per block
    w = _W()
    for _ in range(n_blocks):
        w.put(dc & 1, 1)
    out += sos(0, 0, 1, 0, w)
    # scan 4: AC refinement Ah=1, Al=0 — EOBn run, zero correction bits
    w = _W()
    w.put(0, 2)
    if eob_r:
        w.put(eob_extra, eob_r)
    out += sos(1, 63, 1, 0, w)
    out += b"\xff\xd9"
    return bytes(out)


def payloads_from_ids(
    df: DataFrame,
    make: Callable[[int], bytes],
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id) → (doc_id, payload) with payload bytes built EXECUTOR-
    side by ``make(doc_id)`` inside one Arrow mapInPandas — the fixture
    generator for the media queries.

    The point is plan shape: payloads are born ON the executors and
    stream straight into the decode kernel as a narrow map, exactly the
    contract of a real binary-payload column scanned from parquet — no
    driver collect(), no createDataFrame of materialized media bytes
    (the round-5 review flagged the collect()-based generator as
    exercising the wrong input path)."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    src = df.select(F.col(id_col).alias("doc_id"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(x) for x in pdf["doc_id"]]
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [make(i) for i in ids]},
                columns=["doc_id", "payload"],
            )

    return src.mapInPandas(run, out_schema)


def _riff_chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""  # RIFF chunks word-align
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _riff_list(listtype: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", listtype + payload)


def make_mjpeg_avi(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Minimal spec-shaped MJPEG AVI: RIFF('AVI ') with an hdrl
    (avih + one 'vids'/'MJPG' stream) and a movi LIST of one '00dc'
    chunk per JPEG frame. Every field a demuxer reads — frame count,
    µs-per-frame, dimensions, stream fourcc — is populated."""
    uspf = 1_000_000 // fps
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        uspf, 0, 0, 0x10, len(frames), 0, 1, 0, width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vidsMJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(frames), 0, 0xFFFFFFFF, 0)
        + struct.pack("<HHHH", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(b"movi", b"".join(_riff_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def demux_avi_frames(payload: bytes) -> tuple[dict, list[bytes]]:
    """Quarantine wrapper: see :func:`_demux_avi_frames_impl`."""
    return _quarantined(_demux_avi_frames_impl, payload)


def _demux_avi_frames_impl(payload: bytes) -> tuple[dict, list[bytes]]:
    """Walk a RIFF-AVI container and return (header info, compressed
    frame payloads) — the '##dc'/'##db' chunks of the movi LIST, in
    file order. Pure chunk arithmetic, no codec work. Raises
    ValueError on truncated/corrupt RIFF structure and
    NotImplementedError for non-AVI containers (MP4/WebM need real
    demuxer+codec libraries)."""
    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF":
        if payload is not None and payload[4:8] == b"ftyp":
            raise ValueError(
                "ISO-BMFF container: use demux_mp4_frames / "
                "demux_video_frames (stdlib MP4 demux)"
            )
        raise ValueError("not a RIFF container")
    if payload[8:12] != b"AVI ":
        raise NotImplementedError(
            f"RIFF form {payload[8:12]!r} unsupported (AVI only)"
        )
    info: dict = {"us_per_frame": None, "n_frames_declared": None}
    frames: list[bytes] = []
    # explicit stack, not recursion: an adversarial container of deeply
    # nested LISTs must raise ValueError (truncation checks), never
    # RecursionError — same hazard planlint._iter_logical avoids.
    # Frame ORDER must stay file order, so a LIST's children are
    # scanned inline and only the parent's continuation is stacked.
    stack: list[tuple[int, int, bool]] = [(12, len(payload), False)]
    while stack:
        pos, hi, in_movi = stack.pop()
        while pos + 8 <= hi:
            fourcc = payload[pos : pos + 4]
            (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            data_lo = pos + 8
            data_hi = data_lo + size
            if data_hi > hi:
                raise ValueError("truncated RIFF chunk")
            if fourcc == b"LIST":
                listtype = payload[data_lo : data_lo + 4]
                # resume the parent AFTER this LIST, then descend
                stack.append((data_hi + (size % 2), hi, in_movi))
                pos, hi = data_lo + 4, data_hi
                in_movi = in_movi or listtype == b"movi"
                continue
            if fourcc == b"avih":
                # avih needs 20 bytes up to dwTotalFrames; a 16-19 byte
                # chunk would read into the NEXT chunk (or struct.error
                # at end of buffer) — honor the ValueError contract
                if size < 20:
                    raise ValueError("truncated avih chunk")
                uspf, _, _, _, nf = struct.unpack(
                    "<IIIII", payload[data_lo : data_lo + 20]
                )
                info["us_per_frame"] = uspf
                info["n_frames_declared"] = nf
            elif in_movi and fourcc[2:4] in (b"dc", b"db"):
                frames.append(payload[data_lo:data_hi])
            pos = data_hi + (size % 2)  # chunks are word-aligned
    return info, frames


# ---- GIF (87a/89a) decode, pure stdlib ----
#
# GIF is LZW over palette indices — fully decodable with stdlib bit
# arithmetic. Width/growth timing follows the de-facto giflib rule:
# the code counter advances per code READ (decoder) / EMITTED
# (encoder), and the read width bumps when the counter passes 2^width
# — that one-read lag is what keeps the two sides in sync around each
# dictionary growth boundary (hand-traced vectors pin it in tests).


# Decode-side pixel budget: a GIF image descriptor can declare up to
# 65535×65535 (~4.3e9) pixels in 4 header bytes, and LZW amplifies a
# few-KB stream thousands-fold — an unchecked crafted payload (LZW
# bomb) would OOM the executor BEFORE any exception fires, which the
# ValueError quarantine cannot catch. 2^26 (= 8192×8192) is far above
# any sane GIF frame and far below executor memory.
GIF_MAX_PIXELS = 1 << 26


def _gif_lzw_decode(data: bytes, min_code: int, expect: int) -> list[int]:
    """Decode a GIF LZW stream (concatenated sub-block payloads) into
    ``expect`` palette indices. Handles clear codes, the KwKwK
    (code == next unassigned) case, width growth to 12 bits, and the
    4096-entry dictionary cap. Raises ValueError on corrupt streams."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    base = {i: (i,) for i in range(1 << min_code)}
    table = dict(base)
    width = min_code + 1
    counter = end + 1  # giflib RunningCode: advances per code read
    prev: int | None = None
    out: list[int] = []
    acc = nbits = 0
    pos = 0
    while len(out) < expect:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits  # GIF packs LSB-first
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = dict(base)
            width = min_code + 1
            counter = end + 1
            prev = None
            continue
        if code == end:
            break
        counter += 1
        if counter > (1 << width) and width < 12:
            width += 1
        if prev is None:
            entry = table.get(code)
            if entry is None:
                raise ValueError("GIF LZW first code not a literal")
        elif code in table:
            entry = table[code]
        elif code == counter - 2:  # KwKwK: exactly the next assignment
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError("GIF LZW code beyond dictionary")
        out.extend(entry)
        if prev is not None and counter - 2 < 4096:
            table[counter - 2] = table[prev] + entry[:1]
        prev = code
    if len(out) < expect:
        raise ValueError("GIF LZW stream ended before raster complete")
    return out[:expect]


def _gif_lzw_encode(indices: list[int], min_code: int) -> bytes:
    """Greedy GIF LZW encoder (fixture/test generator) — giflib-
    synchronized width growth, clear emitted when the dictionary
    fills."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    bits: list[tuple[int, int]] = []

    table: dict[tuple[int, ...], int] = {}
    width = min_code + 1
    counter = end + 1

    def reset() -> None:
        nonlocal table, width, counter
        table = {(i,): i for i in range(1 << min_code)}
        width = min_code + 1
        counter = end + 1

    reset()
    bits.append((clear, width))
    buf: tuple[int, ...] = ()
    for ix in indices:
        cand = buf + (ix,)
        if cand in table:
            buf = cand
            continue
        bits.append((table[buf], width))
        counter += 1
        if counter > (1 << width) and width < 12:
            width += 1
        # entry code = counter-1 here vs counter-2 in the decoder: the
        # decoder's counter advances one read AHEAD of its adds (its
        # first data code sets prev without adding), so the two sides
        # assign identical codes end+1, end+2, ...
        table[cand] = counter - 1
        if counter - 1 >= 4095:
            bits.append((clear, width))
            reset()
        buf = (ix,)
    if buf:
        bits.append((table[buf], width))
        counter += 1
        if counter > (1 << width) and width < 12:
            width += 1
    bits.append((end, width))
    acc = nbits = 0
    out = bytearray()
    for code, w in bits:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_interlace_order(h: int) -> list[int]:
    """Screen-row order of the 4 GIF interlace passes (every 8th from
    0, every 8th from 4, every 4th from 2, every 2nd from 1) — the ONE
    definition both the encoder and decoder use, so the pass table can
    never desynchronize between them."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def _gif_deinterlace(rows: list[list[int]]) -> list[list[int]]:
    """Reorder interlaced GIF rows from file (pass) order back to
    screen order."""
    out: list[list[int] | None] = [None] * len(rows)
    for src, dst in enumerate(_gif_interlace_order(len(rows))):
        out[dst] = rows[src]
    return out  # type: ignore[return-value]


def make_gif(
    width: int,
    height: int,
    indices: list[int],
    palette: list[tuple[int, int, int]],
    interlace: bool = False,
    n_extra_frames: int = 0,
) -> bytes:
    """Minimal spec-shaped GIF89a: logical screen descriptor + global
    palette (padded to a power of two) + one LZW-coded image (optional
    interlace) — plus ``n_extra_frames`` repeats of the same image
    data for animated-GIF frame counting."""
    if len(indices) != width * height:
        raise ValueError("indices must cover width*height pixels")
    pbits = max(1, (max(2, len(palette)) - 1).bit_length())
    pal = list(palette) + [(0, 0, 0)] * ((1 << pbits) - len(palette))
    min_code = max(2, pbits)
    rows = [indices[y * width : (y + 1) * width] for y in range(height)]
    if interlace:
        rows = [rows[dst] for dst in _gif_interlace_order(height)]
    flat = [ix for row in rows for ix in row]
    lzw = _gif_lzw_encode(flat, min_code)
    sub = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        sub.append(len(chunk))
        sub += chunk
    sub.append(0)  # block terminator
    img = (
        b"\x2c"
        + struct.pack("<HHHH", 0, 0, width, height)
        + bytes([(0x40 if interlace else 0)])
        + bytes([min_code])
        + bytes(sub)
    )
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | (pbits - 1)])  # global palette, 2^pbits entries
    out += b"\x00\x00"  # bg color, aspect
    for r, g, b in pal:
        out += bytes([r, g, b])
    for _ in range(1 + n_extra_frames):
        out += img
    out += b"\x3b"  # trailer
    return bytes(out)


def decode_gif(payload: bytes) -> dict:
    """Quarantine wrapper: see :func:`_decode_gif_impl`."""
    return _quarantined(_decode_gif_impl, payload)


def _decode_gif_impl(payload: bytes) -> dict:
    """Decode a GIF87a/89a payload: first frame fully (LZW + optional
    de-interlace, local palette honored), later frames counted only.
    Returns width/height (logical screen), mean Rec.601 luma of the
    first frame, and n_frames. Raises ValueError on corrupt
    structure."""
    if payload is None or len(payload) < 13 or payload[:4] != b"GIF8":
        raise ValueError("not a GIF payload")
    width, height = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    pos = 13
    gpal: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(payload):
            raise ValueError("truncated GIF global palette")
        gpal = [
            (payload[pos + 3 * i], payload[pos + 3 * i + 1], payload[pos + 3 * i + 2])
            for i in range(n)
        ]
        pos += 3 * n
    n_frames = 0
    mean_luma = None
    while pos < len(payload):
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unknown GIF block 0x{b0:02x}")
        if pos + 9 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        _l, _t, iw, ih = struct.unpack("<HHHH", payload[pos : pos + 8])
        ipacked = payload[pos + 8]
        pos += 9
        pal = gpal
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(payload):
                raise ValueError("truncated GIF local palette")
            pal = [
                (
                    payload[pos + 3 * i],
                    payload[pos + 3 * i + 1],
                    payload[pos + 3 * i + 2],
                )
                for i in range(n)
            ]
            pos += 3 * n
        if pos >= len(payload):
            raise ValueError("truncated GIF image data")
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while pos < len(payload) and payload[pos]:
            ln = payload[pos]
            if pos + 1 + ln > len(payload):
                raise ValueError("truncated GIF data sub-block")
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        if pos >= len(payload):
            raise ValueError("GIF missing sub-block terminator")
        pos += 1
        n_frames += 1
        if n_frames > 1:
            continue  # later frames: counted, not decoded
        if not pal:
            raise ValueError("GIF image has no palette")
        if not (2 <= min_code <= 8):
            raise ValueError("bad GIF LZW minimum code size")
        # LZW-bomb guard: absolute budget, plus an amplification bound —
        # a C-code stream (codes ≥ 3 bits → ≤ 8/3 per byte) can emit at
        # most ~C²/2 symbols below the 4096-entry cap, so 4096 symbols
        # per stream byte over-covers every legitimate encoding while
        # rejecting few-KB payloads that declare billions of pixels
        if iw * ih > GIF_MAX_PIXELS or iw * ih > 4096 * max(1, len(data)):
            raise ValueError(
                f"GIF raster {iw}x{ih} exceeds decode pixel budget"
            )
        idx = _gif_lzw_decode(bytes(data), min_code, iw * ih)
        if ipacked & 0x40:
            rows = [idx[y * iw : (y + 1) * iw] for y in range(ih)]
            idx = [v for row in _gif_deinterlace(rows) for v in row]
        total = 0.0
        for v in idx:
            if v >= len(pal):
                raise ValueError("GIF palette index out of range")
            r, g, b = pal[v]
            total += 0.299 * r + 0.587 * g + 0.114 * b
        mean_luma = total / (iw * ih) if iw * ih else None
    if n_frames == 0:
        raise ValueError("GIF has no image blocks")
    return {
        "width": width,
        "height": height,
        "mean_luma": mean_luma,
        "n_frames": n_frames,
    }


# ---- BMP (Windows BITMAPINFOHEADER) decode, pure stdlib ----


def make_bmp(
    width: int,
    height: int,
    pixels: bytes,
    bits: int = 24,
    top_down: bool = False,
) -> bytes:
    """Minimal spec-shaped BMP: BITMAPFILEHEADER + BITMAPINFOHEADER +
    (8-bit: a 256-entry grayscale palette) + BI_RGB pixel rows with
    4-byte padding, bottom-up by default (top_down writes a negative
    height). ``pixels`` is row-major top-to-bottom: gray bytes at
    bits=8, BGR triples at bits=24."""
    if bits not in (8, 24):
        raise ValueError("make_bmp supports 8- and 24-bit only")
    spp = bits // 8
    if len(pixels) != width * height * spp:
        raise ValueError("pixels must cover width*height samples")
    stride = width * spp
    padded = (stride + 3) & ~3
    pal = (
        b"".join(bytes([i, i, i, 0]) for i in range(256)) if bits == 8 else b""
    )
    off = 14 + 40 + len(pal)
    rows = [pixels[y * stride : (y + 1) * stride] for y in range(height)]
    if not top_down:
        rows = rows[::-1]
    body = b"".join(r + b"\x00" * (padded - stride) for r in rows)
    hdr = b"BM" + struct.pack(
        "<IHHI", off + len(body), 0, 0, off
    )
    info = struct.pack(
        "<IiiHHIIiiII",
        40,
        width,
        -height if top_down else height,
        1,
        bits,
        0,  # BI_RGB
        len(body),
        2835,
        2835,
        256 if bits == 8 else 0,
        0,
    )
    return hdr + info + pal + body


def decode_bmp(payload: bytes) -> dict:
    """Quarantine wrapper: see :func:`_decode_bmp_impl`."""
    return _quarantined(_decode_bmp_impl, payload)


def _decode_bmp_impl(payload: bytes) -> dict:
    """Decode an uncompressed (BI_RGB) BITMAPINFOHEADER BMP: 8-bit
    paletted or 24-bit BGR, bottom-up or top-down rows, 4-byte row
    padding. Returns width/height and the Rec.601 mean luma.
    RLE/bitfield compression raises NotImplementedError; corrupt
    structure raises ValueError."""
    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (off,) = struct.unpack("<I", payload[10:14])
    hsize, width, height = struct.unpack("<Iii", payload[14:26])
    planes, bits, compression = struct.unpack("<HHI", payload[26:34])
    if hsize < 40:
        raise ValueError("BMP header too small (pre-BITMAPINFOHEADER)")
    if compression != 0:
        raise NotImplementedError(
            f"BMP compression {compression} unsupported (BI_RGB only)"
        )
    if bits not in (8, 24):
        raise NotImplementedError(f"BMP bit depth {bits} unsupported")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError("bad BMP dimensions")
    palette: list[tuple[int, int, int]] = []
    if bits == 8:
        (used,) = struct.unpack("<I", payload[46:50])
        n = used or 256
        pal_off = 14 + hsize
        if pal_off + 4 * n > len(payload):
            raise ValueError("truncated BMP palette")
        palette = [
            (
                payload[pal_off + 4 * i + 2],  # stored BGRX
                payload[pal_off + 4 * i + 1],
                payload[pal_off + 4 * i],
            )
            for i in range(n)
        ]
    spp = bits // 8
    stride = width * spp
    padded = (stride + 3) & ~3
    if off + padded * height > len(payload):
        raise ValueError("truncated BMP pixel data")
    total = 0.0
    for row in range(height):
        src = off + padded * (row if top_down else height - 1 - row)
        line = payload[src : src + stride]
        if bits == 8:
            for v in line:
                if v >= len(palette):
                    raise ValueError("BMP palette index out of range")
                r, g, b = palette[v]
                total += 0.299 * r + 0.587 * g + 0.114 * b
        else:
            for x in range(width):
                b, g, r = line[3 * x], line[3 * x + 1], line[3 * x + 2]
                total += 0.299 * r + 0.587 * g + 0.114 * b
    n_px = width * height
    return {"width": width, "height": height, "mean_luma": total / n_px}


# ---- TIFF (6.0 baseline) decode, pure stdlib ----
#
# TIFF is tag-directory arithmetic: an IFD of (tag, type, count,
# value) entries pointing at strip byte ranges. Baseline grayscale/RGB
# with Compression=1 (none) or 32773 (PackBits RLE) decodes with
# stdlib byte walks in either byte order; LZW/JPEG-in-TIFF variants
# stay honest NotImplementedError swap-ins.


def _packbits_decode(data: bytes, expect: int) -> bytes:
    """Apple PackBits RLE (TIFF Compression 32773): n in 0..127 →
    copy n+1 literal bytes; n in -127..-1 → repeat next byte 1-n
    times; -128 is a no-op."""
    out = bytearray()
    pos = 0
    while len(out) < expect:
        if pos >= len(data):
            raise ValueError("truncated PackBits stream")
        n = data[pos]
        pos += 1
        if n < 128:
            if pos + n + 1 > len(data):
                raise ValueError("truncated PackBits literal run")
            out += data[pos : pos + n + 1]
            pos += n + 1
        elif n > 128:
            if pos >= len(data):
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: no-op
    return bytes(out[:expect])


def _packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits encoder (fixture generator): repeat runs ≥ 3
    bytes become repeat packets, everything else literal packets."""
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while i + run < len(data) and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit_start = i
        while (
            i < len(data)
            and i - lit_start < 128
            and not (
                i + 2 < len(data) and data[i] == data[i + 1] == data[i + 2]
            )
        ):
            i += 1
        out += bytes([i - lit_start - 1]) + data[lit_start:i]
    return bytes(out)


def make_tiff(
    width: int,
    height: int,
    pixels: bytes,
    samples_per_pixel: int = 1,
    big_endian: bool = False,
    packbits: bool = False,
    rows_per_strip: int | None = None,
) -> bytes:
    """Minimal spec-shaped baseline TIFF: header + one IFD with the
    ten baseline tags + strip data (optionally PackBits-compressed,
    optionally multi-strip, either byte order)."""
    if len(pixels) != width * height * samples_per_pixel:
        raise ValueError("pixels must cover width*height*samples")
    bo = ">" if big_endian else "<"
    rps = rows_per_strip or height
    stride = width * samples_per_pixel
    strips = [
        pixels[y * stride : min(y + rps, height) * stride]
        for y in range(0, height, rps)
    ]
    if packbits:
        strips = [_packbits_encode(s) for s in strips]
    n_strips = len(strips)

    # layout: header(8) + IFD + [bps array if RGB] + strip tables + data
    entries = []

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack(f"{bo}HHII", tag, typ, count, value)

    def short1(v: int) -> int:
        # a SHORT stored inline is LEFT-justified in the 4-byte value
        # slot (TIFF 6.0 §2) — high half in big-endian files
        return (v << 16) if big_endian else v

    ifd_off = 8
    n_entries = 10
    ifd_size = 2 + 12 * n_entries + 4
    aux_off = ifd_off + ifd_size
    aux = bytearray()
    if samples_per_pixel == 3:
        bps_off = aux_off + len(aux)
        aux += struct.pack(f"{bo}HHH", 8, 8, 8) + b"\x00\x00"
    if n_strips > 1:
        offsets_off = aux_off + len(aux)
        aux += b"\x00" * 4 * n_strips  # patched below
        counts_off = aux_off + len(aux)
        aux += b"".join(struct.pack(f"{bo}I", len(s)) for s in strips)
    data_off = aux_off + len(aux)
    offs = []
    o = data_off
    for s in strips:
        offs.append(o)
        o += len(s)
    if n_strips > 1:
        aux[offsets_off - aux_off : offsets_off - aux_off + 4 * n_strips] = (
            b"".join(struct.pack(f"{bo}I", x) for x in offs)
        )

    entries.append(entry(256, 4, 1, width))  # ImageWidth LONG
    entries.append(entry(257, 4, 1, height))  # ImageLength
    if samples_per_pixel == 3:
        entries.append(entry(258, 3, 3, bps_off))  # BitsPerSample offset
    else:
        entries.append(entry(258, 3, 1, short1(8)))
    entries.append(entry(259, 3, 1, short1(32773 if packbits else 1)))
    entries.append(entry(262, 3, 1, short1(1 if samples_per_pixel == 1 else 2)))
    entries.append(
        entry(273, 4, n_strips, offs[0] if n_strips == 1 else offsets_off)
    )
    entries.append(entry(277, 3, 1, short1(samples_per_pixel)))
    entries.append(entry(278, 4, 1, rps))
    entries.append(
        entry(
            279,
            4,
            n_strips,
            len(strips[0]) if n_strips == 1 else counts_off,
        )
    )
    entries.append(entry(284, 3, 1, short1(1)))  # PlanarConfiguration chunky
    out = bytearray()
    out += (b"MM\x00\x2a" if big_endian else b"II\x2a\x00") + struct.pack(
        f"{bo}I", ifd_off
    )
    out += struct.pack(f"{bo}H", n_entries)
    out += b"".join(entries)
    out += struct.pack(f"{bo}I", 0)  # next IFD
    out += aux
    for s in strips:
        out += s
    return bytes(out)


def decode_tiff(payload: bytes) -> dict:
    """Quarantine wrapper: see :func:`_decode_tiff_impl`."""
    return _quarantined(_decode_tiff_impl, payload)


def _decode_tiff_impl(payload: bytes) -> dict:
    """Decode a baseline TIFF (first IFD): grayscale or chunky RGB,
    8 bits/sample, Compression 1 (none) or 32773 (PackBits), single or
    multiple strips, either byte order. Returns width/height and the
    Rec.601 mean luma. LZW/JPEG/deflate-compressed TIFFs raise
    NotImplementedError (external codec); corrupt structure raises
    ValueError."""
    if payload is None or len(payload) < 8:
        raise ValueError("not a TIFF payload")
    if payload[:4] == b"II\x2a\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00\x2a":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload")
    (ifd_off,) = struct.unpack(f"{bo}I", payload[4:8])
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated TIFF IFD offset")
    (n_entries,) = struct.unpack(f"{bo}H", payload[ifd_off : ifd_off + 2])
    if ifd_off + 2 + 12 * n_entries + 4 > len(payload):
        raise ValueError("truncated TIFF IFD")
    tags: dict[int, tuple[int, int, int]] = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(f"{bo}HHI", payload[base : base + 8])
        (raw,) = struct.unpack(f"{bo}I", payload[base + 8 : base + 12])
        tags[tag] = (typ, count, raw)

    def values(tag: int, default: list[int] | None = None) -> list[int]:
        if tag not in tags:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        typ, count, raw = tags[tag]
        size = {1: 1, 3: 2, 4: 4}.get(typ)
        if size is None:
            raise ValueError(f"TIFF tag {tag} has unsupported type {typ}")
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        if size * count <= 4:
            buf = struct.pack(f"{bo}I", raw)[: size * count]
        else:
            if raw + size * count > len(payload):
                raise ValueError(f"TIFF tag {tag} data beyond end of file")
            buf = payload[raw : raw + size * count]
        return list(struct.unpack(f"{bo}{count}{fmt}", buf))

    width = values(256)[0]
    height = values(257)[0]
    spp = values(277, [1])[0]
    bps = values(258, [8] * spp)
    if spp not in (1, 3) or any(b != 8 for b in bps):
        raise NotImplementedError(
            f"TIFF samples={spp} bits={bps} unsupported (8-bit gray/RGB only)"
        )
    if values(284, [1])[0] != 1:
        raise NotImplementedError("TIFF planar configuration unsupported")
    compression = values(259, [1])[0]
    if compression not in (1, 32773):
        raise NotImplementedError(
            f"TIFF compression {compression} needs an external codec "
            "(none/PackBits decode in-stdlib)"
        )
    offsets = values(273)
    counts = values(279)
    if len(offsets) != len(counts):
        raise ValueError("TIFF strip offset/count tables disagree")
    rps = values(278, [height])[0] or height
    stride = width * spp
    raw = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(payload):
            raise ValueError("TIFF strip beyond end of file")
        strip = payload[off : off + cnt]
        n_rows = min(rps, height - si * rps)
        if n_rows <= 0:
            raise ValueError("TIFF has more strips than rows")
        if compression == 32773:
            strip = _packbits_decode(strip, n_rows * stride)
        elif len(strip) < n_rows * stride:
            raise ValueError("TIFF strip shorter than its rows")
        raw += strip[: n_rows * stride]
    if len(raw) < width * height * spp:
        raise ValueError("TIFF strips cover fewer pixels than the image")
    n = width * height
    if n == 0:
        return {"width": width, "height": height, "mean_luma": None}
    total = 0.0
    if spp == 1:
        total = float(sum(raw[:n]))
    else:
        for i in range(n):
            o = i * 3
            total += 0.299 * raw[o] + 0.587 * raw[o + 1] + 0.114 * raw[o + 2]
    return {"width": width, "height": height, "mean_luma": total / n}


# ---- MP4 / ISO-BMFF (ISO 14496-12) demux, pure stdlib ----
#
# MP4 is a pure INDEX format: the moov box's sample tables (stsd codec
# entry, stsz sizes, stco/co64 chunk offsets, stsc sample→chunk runs,
# stts durations) describe byte ranges into mdat — so DEMUX needs only
# box arithmetic, no codec work, same as the RIFF walk. What stays
# honestly NotImplementedError is DECODING non-JPEG codecs (H.264/HEVC
# sample entries — avc1/hev1 — genuinely need a codec library); an
# MJPEG-in-MP4 track ('jpeg' sample entry, the QuickTime/ISO motion-
# JPEG layout) decodes through the existing stdlib JPEG decoder.


def _bmff_box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + fourcc + payload


def _bmff_full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _bmff_box(fourcc, struct.pack(">I", (version << 24) | flags) + payload)


_BMFF_MATRIX = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)


def make_mjpeg_mp4(
    frames: list[bytes],
    width: int,
    height: int,
    fps: int = 10,
    samples_per_chunk: int = 2,
    co64: bool = False,
) -> bytes:
    """Minimal spec-shaped MJPEG-in-MP4: ftyp + mdat (concatenated
    JPEG samples) + moov with one 'vide' trak whose sample tables
    index the mdat bytes. Samples are grouped ``samples_per_chunk``
    per chunk so the demuxer's stsc run-walk is exercised by default
    (a single-chunk file reads the degenerate table); ``co64`` writes
    64-bit chunk offsets (the >4 GB-file form). Every field a demuxer
    needs — codec fourcc, dimensions, timescale, per-sample sizes,
    chunk offsets — is populated."""
    timescale = 1000
    delta = timescale // fps
    n = len(frames)
    ftyp = _bmff_box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat_payload = b"".join(frames)
    # absolute file offsets: ftyp, then mdat's 8-byte header
    base = len(ftyp) + 8
    spc = max(1, samples_per_chunk)
    chunk_offsets = []
    off = base
    for i in range(0, n, spc):
        chunk_offsets.append(off)
        off += sum(len(f) for f in frames[i : i + spc])
    # stsc runs: every chunk holds spc samples except a short last one
    stsc_entries = [(1, spc, 1)]
    last = n - spc * (len(chunk_offsets) - 1)
    if chunk_offsets and last != spc:
        stsc_entries.append((len(chunk_offsets), last, 1))

    stsd_entry = (
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined / reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, pre_defined
    )
    stbl = (
        _bmff_full(b"stsd", 0, 0, struct.pack(">I", 1) + _bmff_box(b"jpeg", stsd_entry))
        + _bmff_full(b"stts", 0, 0, struct.pack(">III", 1, n, delta))
        + _bmff_full(
            b"stsc",
            0,
            0,
            struct.pack(">I", len(stsc_entries))
            + b"".join(struct.pack(">III", *e) for e in stsc_entries),
        )
        + _bmff_full(
            b"stsz",
            0,
            0,
            struct.pack(">II", 0, n)
            + b"".join(struct.pack(">I", len(f)) for f in frames),
        )
        + _bmff_full(
            b"co64" if co64 else b"stco",
            0,
            0,
            struct.pack(">I", len(chunk_offsets))
            + b"".join(
                struct.pack(">Q" if co64 else ">I", o) for o in chunk_offsets
            ),
        )
    )
    dinf = _bmff_box(
        b"dinf",
        _bmff_full(b"dref", 0, 0, struct.pack(">I", 1) + _bmff_full(b"url ", 0, 1, b"")),
    )
    minf = _bmff_box(
        b"minf",
        _bmff_full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
        + dinf
        + _bmff_box(b"stbl", stbl),
    )
    duration = n * delta
    mdhd = _bmff_full(
        b"mdhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = _bmff_full(
        b"hdlr", 0, 0, struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"\x00"
    )
    mdia = _bmff_box(b"mdia", mdhd + hdlr + minf)
    tkhd = _bmff_full(
        b"tkhd",
        0,
        3,  # enabled + in-movie
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + _BMFF_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _bmff_box(b"trak", tkhd + mdia)
    mvhd = _bmff_full(
        b"mvhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + _BMFF_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next_track_id
    )
    moov = _bmff_box(b"moov", mvhd + trak)
    return ftyp + _bmff_box(b"mdat", mdat_payload) + moov


def _bmff_children(payload: bytes, lo: int, hi: int):
    """Yield (fourcc, body_lo, body_hi) for each box in [lo, hi) —
    flat iteration; callers descend explicitly (no recursion hazard).
    Handles 64-bit largesize boxes; raises ValueError on truncation."""
    pos = lo
    while pos < hi:
        if pos + 8 > hi:
            raise ValueError("truncated MP4 box header")
        (size,) = struct.unpack(">I", payload[pos : pos + 4])
        fourcc = payload[pos + 4 : pos + 8]
        body_lo = pos + 8
        if size == 1:  # 64-bit largesize follows the fourcc
            if pos + 16 > hi:
                raise ValueError("truncated MP4 largesize box")
            (size,) = struct.unpack(">Q", payload[pos + 8 : pos + 16])
            body_lo = pos + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = hi - pos
        if size < body_lo - pos or pos + size > hi:
            raise ValueError("truncated MP4 box")
        yield fourcc, body_lo, pos + size
        pos += size


def _bmff_find(payload: bytes, lo: int, hi: int, path: list[bytes]):
    """All (body_lo, body_hi) spans reached by descending ``path``
    (e.g. [b'moov', b'trak']) — breadth levels via explicit frontier."""
    frontier = [(lo, hi)]
    for name in path:
        nxt = []
        for a, b in frontier:
            for fourcc, c_lo, c_hi in _bmff_children(payload, a, b):
                if fourcc == name:
                    nxt.append((c_lo, c_hi))
        frontier = nxt
    return frontier


def demux_mp4_frames(payload: bytes) -> tuple[dict, list[bytes]]:
    """Quarantine wrapper: see :func:`_demux_mp4_frames_impl`."""
    return _quarantined(_demux_mp4_frames_impl, payload)


def _demux_mp4_frames_impl(payload: bytes) -> tuple[dict, list[bytes]]:
    """Walk an ISO-BMFF (MP4/MOV) container and return (header info,
    per-sample byte payloads) for the FIRST video track, in decode
    order — pure sample-table arithmetic (stsd/stts/stsc/stsz/stco),
    no codec work. info['codec'] carries the sample-entry fourcc
    ('jpeg' decodes downstream; 'avc1'/'hev1' are the honest
    NotImplementedError swap-in at the DECODE step, not here). Raises
    ValueError on truncated/corrupt box structure."""
    if payload is None or len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF container")
    info: dict = {
        "us_per_frame": None,
        "n_frames_declared": None,
        "codec": None,
    }
    for trak_lo, trak_hi in _bmff_find(payload, 0, len(payload), [b"moov", b"trak"]):
        handlers = _bmff_find(payload, trak_lo, trak_hi, [b"mdia", b"hdlr"])
        # hdlr body: version+flags(4) + pre_defined(4) + handler_type(4)
        if not any(payload[lo + 8 : lo + 12] == b"vide" for lo, _ in handlers):
            continue
        timescale = None
        for lo, hi in _bmff_find(payload, trak_lo, trak_hi, [b"mdia", b"mdhd"]):
            if hi - lo < 16:
                raise ValueError("truncated mdhd box")
            version = payload[lo]
            timescale = struct.unpack(
                ">I", payload[lo + (20 if version else 12) : lo + (24 if version else 16)]
            )[0]
        stbl = _bmff_find(
            payload, trak_lo, trak_hi, [b"mdia", b"minf", b"stbl"]
        )
        if not stbl:
            raise ValueError("video trak missing stbl")
        s_lo, s_hi = stbl[0]
        tables: dict[bytes, tuple[int, int]] = {}
        for fourcc, c_lo, c_hi in _bmff_children(payload, s_lo, s_hi):
            tables[fourcc] = (c_lo, c_hi)

        def full(name: bytes, min_len: int) -> tuple[int, int]:
            if name not in tables:
                raise ValueError(f"stbl missing {name.decode()} box")
            lo, hi = tables[name]
            if hi - lo < 4 + min_len:
                raise ValueError(f"truncated {name.decode()} box")
            return lo + 4, hi  # skip version+flags

        # codec fourcc from the first stsd sample entry
        lo, hi = full(b"stsd", 4)
        entries = list(_bmff_children(payload, lo + 4, hi))
        if not entries:
            raise ValueError("empty stsd box")
        info["codec"] = entries[0][0].decode("latin1").strip()
        # stts → nominal frame interval
        lo, hi = full(b"stts", 4)
        (n_stts,) = struct.unpack(">I", payload[lo : lo + 4])
        if n_stts and timescale:
            if lo + 4 + 8 > hi:
                raise ValueError("truncated stts box")
            _cnt, delta = struct.unpack(">II", payload[lo + 4 : lo + 12])
            info["us_per_frame"] = delta * 1_000_000 // timescale
        # stsz → sizes
        lo, hi = full(b"stsz", 8)
        fixed, n_samples = struct.unpack(">II", payload[lo : lo + 8])
        if fixed:
            sizes = [fixed] * n_samples
        else:
            if lo + 8 + 4 * n_samples > hi:
                raise ValueError("truncated stsz box")
            sizes = list(
                struct.unpack(f">{n_samples}I", payload[lo + 8 : lo + 8 + 4 * n_samples])
            )
        info["n_frames_declared"] = n_samples
        # stco/co64 → chunk offsets
        if b"co64" in tables:
            lo, hi = full(b"co64", 4)
            (n_chunks,) = struct.unpack(">I", payload[lo : lo + 4])
            if lo + 4 + 8 * n_chunks > hi:
                raise ValueError("truncated co64 box")
            offsets = list(
                struct.unpack(f">{n_chunks}Q", payload[lo + 4 : lo + 4 + 8 * n_chunks])
            )
        else:
            lo, hi = full(b"stco", 4)
            (n_chunks,) = struct.unpack(">I", payload[lo : lo + 4])
            if lo + 4 + 4 * n_chunks > hi:
                raise ValueError("truncated stco box")
            offsets = list(
                struct.unpack(f">{n_chunks}I", payload[lo + 4 : lo + 4 + 4 * n_chunks])
            )
        # stsc runs → samples per chunk
        lo, hi = full(b"stsc", 4)
        (n_runs,) = struct.unpack(">I", payload[lo : lo + 4])
        if lo + 4 + 12 * n_runs > hi:
            raise ValueError("truncated stsc box")
        runs = [
            struct.unpack(">III", payload[lo + 4 + 12 * i : lo + 16 + 12 * i])
            for i in range(n_runs)
        ]
        if not runs or runs[0][0] != 1:
            raise ValueError("stsc table must start at chunk 1")
        # walk chunks in order, slicing samples off each chunk's base
        frames: list[bytes] = []
        run_idx = 0
        for chunk_no in range(1, len(offsets) + 1):
            while run_idx + 1 < len(runs) and runs[run_idx + 1][0] <= chunk_no:
                run_idx += 1
            spc = runs[run_idx][1]
            off = offsets[chunk_no - 1]
            for _ in range(spc):
                if len(frames) >= n_samples:
                    break
                size = sizes[len(frames)]
                if off + size > len(payload):
                    raise ValueError("MP4 sample range beyond end of file")
                frames.append(payload[off : off + size])
                off += size
        if len(frames) != n_samples:
            raise ValueError("stsc/stco chunks cover fewer samples than stsz")
        return info, frames
    raise ValueError("MP4 has no video track")


def demux_video_frames(payload: bytes) -> tuple[dict, list[bytes]]:
    """Container dispatch: RIFF → AVI demux, ftyp → ISO-BMFF demux.
    Both return the same (info, frame payloads) contract; unknown
    containers raise ValueError (quarantine) via the AVI path."""
    if payload is not None and len(payload) >= 12 and payload[4:8] == b"ftyp":
        return demux_mp4_frames(payload)
    return demux_avi_frames(payload)


def real_video_kernel(doc_id: int, payload: bytes) -> dict:
    """Quarantine wrapper: see :func:`_real_video_kernel_impl`."""
    return _quarantined(lambda p: _real_video_kernel_impl(doc_id, p), payload)


def _real_video_kernel_impl(doc_id: int, payload: bytes) -> dict:
    """Real video decode: container demux (AVI or MP4) + per-frame
    baseline-JPEG decode (the stdlib path; an MP4 video track whose
    sample entry is a real codec — avc1/hev1 — raises
    NotImplementedError at this decode step). Returns container-level
    stats plus the mean decoded luma across frames — the cheap
    corpus-quality signal (black/blank video detection, exposure
    drift)."""
    info, raw = demux_video_frames(payload)
    codec = info.get("codec")
    if codec is not None and codec != "jpeg":
        raise NotImplementedError(
            f"MP4 codec {codec!r} needs an external decoder (ffmpeg); "
            "only motion-JPEG ('jpeg' sample entries) decodes in-stdlib"
        )
    width = height = None
    total = 0.0
    n = 0
    for fb in raw:
        d = _jpeg_decode(fb)
        if d["mean_luma"] is None:
            continue
        width, height = d["width"], d["height"]
        total += d["mean_luma"]
        n += 1
    uspf = info["us_per_frame"]
    return {
        "n_frames": len(raw),
        "width": width,
        "height": height,
        "mean_luma": (total / n) if n else None,
        "duration_ms": (uspf * len(raw)) // 1000 if uspf else None,
    }


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def sample_video_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_k: int = 1,
) -> DataFrame:
    """REAL 1→N frame sampling: demux each container payload (AVI or
    MP4), decode every ``every_k``-th JPEG frame, one output row per
    sampled frame with its decoded stats. Same Arrow mapInPandas shape
    as sample_frames — a narrow map, no shuffle; payload bytes never
    leave the executor. frame_idx is the index IN THE CONTAINER (so
    sampled outputs remain addressable for a later full decode)."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("_p"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["_p"]):
                if payload is None:
                    continue
                info, raw = demux_video_frames(bytes(payload))
                codec = info.get("codec")
                if codec is not None and codec != "jpeg":
                    # same honest swap-in as real_video_kernel: a real
                    # codec must surface as NotImplementedError, never
                    # be fed to the JPEG decoder and quarantined as a
                    # ValueError 'corrupt' row
                    raise NotImplementedError(
                        f"MP4 codec {codec!r} needs an external decoder"
                    )
                for idx in range(0, len(raw), every_k):
                    d = _jpeg_decode(raw[idx])
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_idx": idx,
                            "width": d["width"],
                            "height": d["height"],
                            "mean_luma": d["mean_luma"],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_FRAME_SCHEMA]
            )

    return src.mapInPandas(run, VIDEO_FRAME_SCHEMA)
