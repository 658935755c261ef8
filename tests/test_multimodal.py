"""Multimodal binary-column plumbing (fake codec, real Spark mechanics)."""

import hashlib

import pytest

from grafink_spark.llm import multimodal as mm


@pytest.fixture()
def media(spark):
    rows = [
        (i, mm.make_fake_image(i, 16, 8)) for i in range(1, 6)
    ] + [(99, None)]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_extract_image_features(spark, media):
    out = {r.doc_id: r for r in mm.extract_image_features(media).collect()}
    assert len(out) == 6
    assert out[1].width == 16 and out[1].height == 8
    assert out[1].n_bytes == 8 + 16 * 8
    assert out[1].payload_md5 == hashlib.md5(
        mm.make_fake_image(1, 16, 8).hex().encode()
    ).hexdigest()
    assert 0 <= out[1].mean_luma <= 255
    assert out[99].payload_md5 is None and out[99].n_bytes == 0
    # deterministic: same doc_id → same features
    again = {r.doc_id: r for r in mm.extract_image_features(media).collect()}
    assert again[2].mean_luma == out[2].mean_luma


def test_real_kernel_rejects_non_png(spark, media):
    # fake-image payloads aren't PNG: the real kernel must say so loudly
    # (NotImplementedError → swap kernels), never silently mis-decode
    with pytest.raises(Exception) as ei:
        mm.extract_image_features(media, kernel=mm.real_decode_kernel).collect()
    assert "NotImplementedError" in str(ei.value) or "PNG" in str(ei.value)


def test_sample_frames_one_to_many(spark, media):
    frames = mm.sample_frames(media, every_n_bytes=32)
    got = frames.groupBy("doc_id").count().collect()
    by_id = {r.doc_id: r["count"] for r in got}
    # 136 payload bytes / 32 → 5 frames per doc; null payload → none
    assert by_id[1] == 5
    assert 99 not in by_id
    first = frames.where("doc_id = 1 and frame_idx = 0").first()
    assert len(first.frame_bytes) == 32


def test_audio_features(spark):
    from grafink_spark.llm.multimodal import (
        extract_audio_features,
        fake_audio_kernel,
        make_fake_audio,
        real_audio_kernel,
    )

    df = spark.createDataFrame(
        [(1, make_fake_audio(1, 2000)), (2, make_fake_audio(2, 500)), (3, None)],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in extract_audio_features(df).collect()}
    assert rows[1].duration_ms == 2000 and rows[2].duration_ms == 500
    assert rows[1].rms is not None and rows[1].rms > 0
    assert rows[3].duration_ms is None and rows[3].n_bytes == 0
    # determinism: kernel is pure
    assert fake_audio_kernel(1, make_fake_audio(1, 2000)) == fake_audio_kernel(
        1, make_fake_audio(1, 2000)
    )
    # the real kernel rejects non-WAV formats loudly
    import pytest

    with pytest.raises(NotImplementedError):
        real_audio_kernel(1, b"ID3\x03mp3-ish junk bytes")


# ------------------------- real stdlib codecs on actual PNG/WAV bytes


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def encode_png(pixels, width, height, color_type=2, filters=None):
    """Minimal stdlib PNG encoder: 8-bit, per-row filter types (default
    all 0). ``pixels`` is the raw byte sequence, channels inferred from
    color_type."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * channels
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        row = bytearray(pixels[y * stride : (y + 1) * stride])
        f = filters[y]
        raw.append(f)
        enc = bytearray(row)
        for i in range(stride):
            a = row[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if f == 1:
                enc[i] = (row[i] - a) & 0xFF
            elif f == 2:
                enc[i] = (row[i] - b) & 0xFF
            elif f == 3:
                enc[i] = (row[i] - ((a + b) >> 1)) & 0xFF
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (row[i] - pr) & 0xFF
        raw.extend(enc)
        prev = row
    ihdr = __import__("struct").pack(
        ">IIBBBBB", width, height, 8, color_type, 0, 0, 0
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_wav(samples, sample_rate=8000, channels=1, bits=16):
    import struct

    if bits == 16:
        data = struct.pack(f"<{len(samples)}h", *samples)
    else:
        data = bytes((s + 128) & 0xFF for s in samples)
    byte_rate = sample_rate * channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate,
        channels * bits // 8, bits,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_real_decode_kernel_rgb_png_golden():
    # 2x2 RGB: pure red, green, blue, white — Rec.601 mean luma exact
    px = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    d = mm.real_decode_kernel(1, encode_png(px, 2, 2, color_type=2))
    assert (d["width"], d["height"]) == (2, 2)
    expect = (0.299 * 255 + 0.587 * 255 + 0.114 * 255 + 255.0) / 4
    assert abs(d["mean_luma"] - expect) < 1e-9


def test_real_decode_kernel_all_filters_gray():
    # 5x4 grayscale, one row per filter type (0,1,2,3,4) exercises the
    # whole unfilter path; mean is exact
    px = bytes(range(20))
    for filters in ([0, 1, 2, 3], [4, 3, 2, 1], [1, 4, 1, 4]):
        d = mm.real_decode_kernel(1, encode_png(px, 5, 4, 0, filters))
        assert (d["width"], d["height"]) == (5, 4)
        assert d["mean_luma"] == sum(px) / 20


def test_real_decode_kernel_rgba_and_gray_alpha():
    # alpha must be excluded from luma
    rgba = bytes([10, 20, 30, 255, 50, 60, 70, 0])
    d = mm.real_decode_kernel(1, encode_png(rgba, 2, 1, color_type=6))
    expect = (
        (0.299 * 10 + 0.587 * 20 + 0.114 * 30)
        + (0.299 * 50 + 0.587 * 60 + 0.114 * 70)
    ) / 2
    assert abs(d["mean_luma"] - expect) < 1e-9
    ga = bytes([100, 255, 200, 0])
    d = mm.real_decode_kernel(1, encode_png(ga, 2, 1, color_type=4))
    assert d["mean_luma"] == 150.0


def test_real_audio_kernel_wav_golden():
    # 16-bit mono square wave at half amplitude → rms exactly 0.5
    sq = [16384, -16384] * 4000
    d = mm.real_audio_kernel(1, encode_wav(sq, sample_rate=8000))
    assert d["duration_ms"] == 1000
    assert abs(d["rms"] - 0.5) < 1e-12
    # 8-bit stereo: 500 frames at 1000 Hz → 500 ms
    st = [64, -64] * 500  # L/R interleaved, |s|/128 = 0.5
    d8 = mm.real_audio_kernel(1, encode_wav(st, 1000, channels=2, bits=8))
    assert d8["duration_ms"] == 500
    assert abs(d8["rms"] - 0.5) < 1e-12


def test_real_kernels_through_spark(spark):
    """The same mapInPandas plumbing runs the real codecs end-to-end."""
    png = encode_png(bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]), 2, 2)
    imgs = spark.createDataFrame([(1, png)], "doc_id long, payload binary")
    r = mm.extract_image_features(imgs, kernel=mm.real_decode_kernel).first()
    assert (r.width, r.height) == (2, 2) and r.n_bytes == len(png)

    wav = encode_wav([16384, -16384] * 4000)
    auds = spark.createDataFrame([(1, wav)], "doc_id long, payload binary")
    a = mm.extract_audio_features(auds, kernel=mm.real_audio_kernel).first()
    assert a.duration_ms == 1000 and abs(a.rms - 0.5) < 1e-12


# ---- baseline JPEG golden tests (hand-crafted minimal JFIF streams) ----

class _BitWriter:
    def __init__(self):
        self.bits = []

    def put(self, value, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def bytes(self):
        # pad with 1s to a byte boundary (JPEG convention)
        bits = self.bits + [1] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
            if b == 0xFF:  # byte stuffing
                out.append(0x00)
        return bytes(out)


def _seg(marker, payload):
    import struct
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _dc_codes(n_cats):
    """Canonical codes for DC categories 0..n_cats-1, all length 3
    (requires n_cats <= 8): counts[3]=n_cats."""
    counts = bytearray(16)
    counts[2] = n_cats
    return bytes(counts), bytes(range(n_cats)), {s: (s, 3) for s in range(n_cats)}


def _make_jpeg(width, height, comps, blocks_bits, q=16):
    """Assemble a baseline JFIF stream: comps = [(cid, hv)], shared
    quant table (all q), DC cats 0..7 at len 3, AC EOB='0'."""
    import struct
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    sof = bytearray([8]) + struct.pack(">HH", height, width) + bytes([len(comps)])
    for cid, hv in comps:
        sof += bytes([cid, hv, 0])
    out += _seg(0xC0, bytes(sof))
    counts, symbols, _ = _dc_codes(8)
    out += _seg(0xC4, bytes([0x00]) + counts + symbols)          # DC table 0
    ac_counts = bytearray(16)
    ac_counts[0] = 1
    out += _seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes([0x00]))  # AC: EOB
    sos = bytearray([len(comps)])
    for cid, _ in comps:
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, bytes(sos))
    out += blocks_bits.bytes()
    out += b"\xff\xd9"
    return bytes(out)


def _put_dc_block(w, dc_diff):
    """Encode one block: DC category+bits (codes from _dc_codes), EOB."""
    if dc_diff == 0:
        cat = 0
    else:
        cat = dc_diff.bit_length() if dc_diff > 0 else (-dc_diff).bit_length()
    w.put(cat, 3)  # canonical code for category c IS c (len 3)
    if cat:
        v = dc_diff if dc_diff > 0 else dc_diff + (1 << cat) - 1
        w.put(v, cat)
    w.put(0, 1)  # EOB (code '0')


def test_real_decode_kernel_jpeg_gray_solid():
    """8×8 grayscale baseline JPEG, solid luma 160: DC = (160-128)*8/16
    = 16, all ACs zero — decoder must recover mean_luma exactly."""
    w = _BitWriter()
    _put_dc_block(w, 16)
    d = mm.real_decode_kernel(1, _make_jpeg(8, 8, [(1, 0x11)], w))
    assert (d["width"], d["height"]) == (8, 8)
    assert abs(d["mean_luma"] - 160.0) < 1e-9


def test_real_decode_kernel_jpeg_dc_prediction():
    """16×8 grayscale, two blocks 160 then 96 — the second block's DC
    arrives as a NEGATIVE diff against the predictor."""
    w = _BitWriter()
    _put_dc_block(w, 16)    # block 1: DC 16 (value 160)
    _put_dc_block(w, -32)   # block 2: DC -16 (value 96)
    d = mm.real_decode_kernel(1, _make_jpeg(16, 8, [(1, 0x11)], w))
    assert (d["width"], d["height"]) == (16, 8)
    assert abs(d["mean_luma"] - 128.0) < 1e-9


def test_real_decode_kernel_jpeg_color_420():
    """16×16 YCbCr 4:2:0 (4 Y blocks + Cb + Cr per MCU), solid Y=200,
    neutral chroma: chroma blocks must advance the bitstream without
    contributing to the luma mean."""
    w = _BitWriter()
    _put_dc_block(w, 36)    # Y block 1: (200-128)*8/16 = 36
    for _ in range(3):
        _put_dc_block(w, 0)  # Y blocks 2-4: same value → diff 0
    _put_dc_block(w, 0)     # Cb: 128 → 0
    _put_dc_block(w, 0)     # Cr
    d = mm.real_decode_kernel(
        1, _make_jpeg(16, 16, [(1, 0x22), (2, 0x11), (3, 0x11)], w)
    )
    assert (d["width"], d["height"]) == (16, 16)
    assert abs(d["mean_luma"] - 200.0) < 1e-9


def test_real_decode_kernel_jpeg_crop():
    """12×8 image: the right 4 columns of the second block are padding
    and must be EXCLUDED from the mean (crop path). Second block's DC
    differs so including padding would shift the mean."""
    w = _BitWriter()
    _put_dc_block(w, 16)    # block 1: 160
    _put_dc_block(w, -32)   # block 2: 96
    d = mm.real_decode_kernel(1, _make_jpeg(12, 8, [(1, 0x11)], w))
    assert (d["width"], d["height"]) == (12, 8)
    # mean over 12 real columns: (8*160 + 4*96) / 12
    assert abs(d["mean_luma"] - (8 * 160 + 4 * 96) / 12.0) < 1e-9


def test_real_decode_kernel_mislabeled_progressive_rejected():
    """A baseline stream whose SOF marker is flipped to SOF2 carries a
    full-band scan header (Ss=0, Se=63) that is illegal in progressive
    mode — the decoder must reject it as corrupt, not mis-decode."""
    w = _BitWriter()
    _put_dc_block(w, 16)
    payload = bytearray(_make_jpeg(8, 8, [(1, 0x11)], w))
    idx = payload.find(b"\xff\xc0")
    payload[idx + 1] = 0xC2
    with pytest.raises(ValueError):
        mm.real_decode_kernel(1, bytes(payload))


# ---- progressive JPEG (SOF2) golden tests ----
#
# Streams are hand-assembled per ITU T.81 §G.2 so every scan kind is
# exercised deliberately: DC first/refine (successive approximation),
# AC first with EOB runs, AC refinement with correction bits. The
# color/crop expectations are cross-checked against the BASELINE
# decoder on identical quantized coefficients.

def _ac_table(symbols):
    """All-length-4 canonical AC table: counts[3] = n, code i = symbol i."""
    counts = bytearray(16)
    counts[3] = len(symbols)
    return bytes(counts), bytes(symbols)


def _prog_headers(width, height, ac_symbols, q=16):
    import struct as st
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    out += _seg(
        0xC2,
        bytes([8]) + st.pack(">HH", height, width) + bytes([1, 1, 0x11, 0]),
    )
    dc_counts, dc_syms, _ = _dc_codes(8)
    out += _seg(0xC4, bytes([0x00]) + dc_counts + dc_syms)
    ac_counts, ac_syms = _ac_table(ac_symbols)
    out += _seg(0xC4, bytes([0x10]) + ac_counts + ac_syms)
    return out


def _prog_sos(ss, se, ah, al, bits):
    return _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al])) + bits.bytes()


def _put_dc_only(w, diff):
    """DC scan data unit: category code + extend bits, NO AC EOB."""
    cat = 0 if diff == 0 else (diff if diff > 0 else -diff).bit_length()
    w.put(cat, 3)
    if cat:
        w.put(diff if diff > 0 else diff + (1 << cat) - 1, cat)


def test_progressive_jpeg_spectral_selection_only():
    """16x16, 4 solid blocks over two scans (DC first, then the whole
    AC band closed by one EOB2 run covering all 4 blocks): decodes to
    the exact per-block lumas."""
    lumas = [160, 96, 200, 120]
    dcs = [(l - 128) // 2 for l in lumas]  # q=16: (L-128)*8/16
    # AC symbols: EOB0 (0x00) at code 0, EOB2 (0x20) at code 1
    out = _prog_headers(16, 16, [0x00, 0x20])
    w = _BitWriter()
    prev = 0
    for dc in dcs:
        _put_dc_only(w, dc - prev)
        prev = dc
    out += _prog_sos(0, 0, 0, 0, w)
    w = _BitWriter()
    w.put(1, 4)  # EOB2 symbol (code 1, len 4)
    w.put(0, 2)  # 2 appended bits -> eobrun covers 2^2 = 4 blocks
    out += _prog_sos(1, 63, 0, 0, w)
    out += b"\xff\xd9"
    d = mm.real_decode_kernel(1, bytes(out))
    assert (d["width"], d["height"]) == (16, 16)
    assert abs(d["mean_luma"] - sum(lumas) / 4.0) < 1e-9


def test_progressive_jpeg_successive_approximation_matches_baseline():
    """12x8 (cropped second block, so AC terms move the mean), two
    blocks with DC and AC content, coded over FOUR scans with Al=1
    first passes and Ah=1 refinements — must decode identically to the
    baseline stream carrying the same quantized coefficients."""
    # quantized coefficients (zigzag index -> value); both ACs sit at
    # zigzag k=1 (natural (0,1) — the HORIZONTAL cosine basis), so the
    # 12-wide crop of block 2 gives its AC a nonzero mean contribution
    b1 = {0: 17, 1: 5}
    b2 = {0: -16, 1: -3}
    # --- baseline twin: DC + AC in one scan ---
    # AC symbols needed: (0,3)=0x03, (0,2)=0x02, EOB=0x00
    base = bytearray(b"\xff\xd8")
    base += _seg(0xDB, bytes([0x00]) + bytes([16] * 64))
    import struct as st
    base += _seg(0xC0, bytes([8]) + st.pack(">HH", 8, 12) + bytes([1, 1, 0x11, 0]))
    dc_counts, dc_syms, _ = _dc_codes(8)
    base += _seg(0xC4, bytes([0x00]) + dc_counts + dc_syms)
    ac_counts, ac_syms = _ac_table([0x00, 0x03, 0x02])
    base += _seg(0xC4, bytes([0x10]) + ac_counts + ac_syms)
    base += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    w = _BitWriter()
    _put_dc_only(w, 17)       # block 1 DC
    w.put(1, 4)               # (0,3) symbol
    w.put(5, 3)               # value 5
    w.put(0, 4)               # EOB
    _put_dc_only(w, -33)      # block 2 DC diff: -16 - 17
    w.put(2, 4)               # (0,2) symbol at k=1
    w.put(0, 2)               # -3 -> -3 + (1<<2) - 1 = 0
    w.put(0, 4)               # EOB
    base += w.bytes() + b"\xff\xd9"
    d_base = mm.real_decode_kernel(1, bytes(base))
    assert (d_base["width"], d_base["height"]) == (12, 8)

    # --- progressive twin: 4 scans with successive approximation ---
    # AC symbols: EOB0=0x00 code 0, EOB1=0x10 code 1, (0,1)=0x01 code 2,
    # (1,1)=0x11 code 3 (refine/first scans code s=1 magnitudes)
    out = _prog_headers(12, 8, [0x00, 0x10, 0x01, 0x11])
    # scan 1: DC first, Al=1 — diffs of dc>>1: 8, then -8-8=-16
    w = _BitWriter()
    _put_dc_only(w, 8)
    _put_dc_only(w, -16)
    out += _prog_sos(0, 0, 0, 1, w)
    # scan 2: AC first band 1..63, Al=1 — magnitudes truncated toward 0:
    # b1 k=1: 5 -> 2... wait, Al=1 first scan codes value/2 trunc: 5->2
    # needs cat 2, but our table only has s=1 — use Al=2: 5>>2=1, -3->0.
    # Simpler: Al=1 with s=... keep s=1 coefficients only: code b1 k=1
    # as magnitude 2? cat(2)=2. To stay within s=1 symbols, use Al=2
    # for the AC ladder: first scan values trunc(v/4): 5->1, -3->0
    # (b2's AC appears only in the refinement scans).
    w = _BitWriter()
    w.put(2, 4)   # (0,1) at k=1
    w.put(1, 1)   # value +1
    w.put(0, 4)   # EOB0 (ends block 1)
    w.put(0, 4)   # EOB0 (block 2: nothing above Al=2)
    out += _prog_sos(1, 63, 0, 2, w)
    # scan 3: DC refinement Ah=1, Al=0 — bit 0 of each dc: 17&1=1, -16&1=0
    w = _BitWriter()
    w.put(1, 1)
    w.put(0, 1)
    out += _prog_sos(0, 0, 1, 0, w)
    # scan 4: AC refinement band 1..63 Ah=2, Al=1 — refine 5: stored
    # (1<<2)=4, bit (5>>1)&1 = 0 -> stays 4 at this precision; b2 k=1
    # newly nonzero at Al=1: magnitude 3>>1 = 1 -> (0,1) negative
    w = _BitWriter()
    # block 1: no new coeffs; existing k=1 gets a correction bit —
    # encoder emits EOB0 then the covered block's correction bits
    w.put(0, 4)   # EOB0 -> eobrun=1 covers block 1
    w.put(0, 1)   # correction bit for b1 k=1 (stays 4)
    # block 2: (0,1): zero-run 0, new ±1 at k=1, sign -
    w.put(2, 4)   # (0,1) symbol
    w.put(0, 1)   # sign bit 0 -> m1 (-1 at Al=1 -> value -2 stored)
    w.put(0, 4)   # EOB0 ends block 2
    out += _prog_sos(1, 63, 2, 1, w)
    # scan 5: AC refinement Ah=1, Al=0 — b1 k=1: 4 -> bit 1 -> 5;
    # b2 k=1: stored -2, bit 1 -> -3
    w = _BitWriter()
    w.put(0, 4)   # EOB0 covers block 1
    w.put(1, 1)   # correction: 4 -> 5
    w.put(0, 4)   # EOB0 covers block 2
    w.put(1, 1)   # correction: -2 -> -3
    out += _prog_sos(1, 63, 1, 0, w)
    out += b"\xff\xd9"
    d_prog = mm.real_decode_kernel(1, bytes(out))
    assert (d_prog["width"], d_prog["height"]) == (12, 8)
    assert abs(d_prog["mean_luma"] - d_base["mean_luma"]) < 1e-9
    # sanity: AC content actually moved the mean off the DC-only value
    dc_only_mean = (8 * (17 * 2 + 128) + 4 * (-16 * 2 + 128)) / 12.0
    assert abs(d_base["mean_luma"] - dc_only_mean) > 0.01


def test_mjpeg_avi_roundtrip_and_kernel():
    """Mux N solid-luma JPEG frames into an AVI, demux, decode: frame
    payloads byte-identical, header fields populated, kernel stats
    exact (even lumas quantize exactly through the flat q=16 table)."""
    frames = [mm.make_solid_jpeg(16, 16, 100 + 2 * i) for i in range(5)]
    avi = mm.make_mjpeg_avi(frames, 16, 16, fps=10)
    info, raw = mm.demux_avi_frames(avi)
    assert raw == frames
    assert info["us_per_frame"] == 100_000
    assert info["n_frames_declared"] == 5
    k = mm.real_video_kernel(1, avi)
    assert k["n_frames"] == 5
    assert (k["width"], k["height"]) == (16, 16)
    assert abs(k["mean_luma"] - 104.0) < 1e-9
    assert k["duration_ms"] == 500


def test_avi_demux_error_paths():
    """An ftyp payload routed to the AVI demuxer raises ValueError
    pointing at the stdlib MP4 path; corrupt/truncated RIFF raises
    catchable ValueError."""
    with pytest.raises(ValueError, match="demux_mp4_frames"):
        mm.demux_avi_frames(b"\x00\x00\x00\x00ftyp" + b"\x00" * 16)
    with pytest.raises(ValueError):
        mm.demux_avi_frames(b"garbage")
    avi = mm.make_mjpeg_avi([mm.make_solid_jpeg(8, 8, 100)], 8, 8)
    with pytest.raises(ValueError):
        mm.demux_avi_frames(avi[:40])
    with pytest.raises(NotImplementedError):
        mm.demux_avi_frames(b"RIFF\x08\x00\x00\x00WAVE" + b"\x00" * 8)


def test_avi_demux_truncated_avih_raises_valueerror():
    """A 16-19 byte avih chunk must raise ValueError (quarantine
    contract), not silently read the next chunk's bytes as
    n_frames_declared or surface struct.error at end of buffer."""
    import struct as _s

    short_avih = mm._riff_chunk(b"avih", b"\x01\x00\x00\x00" * 4)  # 16B
    body = b"AVI " + mm._riff_list(b"hdrl", short_avih)
    avi = b"RIFF" + _s.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="avih"):
        mm.demux_avi_frames(avi)


def test_avi_demux_deep_list_nesting_no_recursion_error():
    """An adversarial container of deeply nested LISTs must walk with
    the explicit stack (ValueError on truncation at worst), never
    RecursionError — and frame order stays file order."""
    import struct as _s
    import sys

    frame = mm.make_solid_jpeg(8, 8, 100)
    inner = mm._riff_list(b"movi", mm._riff_chunk(b"00dc", frame))
    depth = sys.getrecursionlimit() + 200
    for _ in range(depth):
        inner = mm._riff_list(b"JUNK", inner)
    body = b"AVI " + inner
    avi = b"RIFF" + _s.pack("<I", len(body)) + body
    _, raw = mm.demux_avi_frames(avi)
    assert raw == [frame]
    # order preserved across siblings AFTER a nested LIST: a movi list
    # with [frame0, LIST(junk), frame1] must yield [frame0, frame1]
    f0, f1 = mm.make_solid_jpeg(8, 8, 100), mm.make_solid_jpeg(8, 8, 102)
    movi = mm._riff_list(
        b"movi",
        mm._riff_chunk(b"00dc", f0)
        + mm._riff_list(b"JUNK", mm._riff_chunk(b"zzzz", b"\x00\x00"))
        + mm._riff_chunk(b"00dc", f1),
    )
    body2 = b"AVI " + movi
    avi2 = b"RIFF" + _s.pack("<I", len(body2)) + body2
    _, raw2 = mm.demux_avi_frames(avi2)
    assert raw2 == [f0, f1]


def test_jpeg_truncated_segments_raise_valueerror():
    """Truncated fixed-size segment parses (16-bit DQT, DRI, SOF
    slices) must surface as ValueError via the decode-entry wrapper,
    honoring the one-exception quarantine contract."""
    good = mm.make_solid_jpeg(8, 8, 100)
    # locate the DQT segment (FFDB) and truncate inside it
    i = good.find(b"\xff\xdb")
    assert i > 0
    # rewrite DQT to claim a 16-bit table (pq=1) but supply 3 bytes:
    # header len 2 + id byte + 3 = 6
    broken = good[:i] + b"\xff\xdb\x00\x06\x10\x01\x02\x03" + b"\xff\xd9"
    with pytest.raises(ValueError):
        mm._jpeg_decode(broken)
    # DRI with an empty body: struct.error -> ValueError
    j = good.find(b"\xff\xda")
    broken2 = good[:j] + b"\xff\xdd\x00\x02" + good[j:]
    with pytest.raises(ValueError):
        mm._jpeg_decode(broken2)


def test_sample_video_frames_spark_path(spark):
    """The 1->N mapInPandas contract on real containers: every k-th
    frame decoded, frame_idx preserved as the container index."""
    payloads = []
    for did in (1, 2):
        frames = [
            mm.make_solid_jpeg(16, 16, 100 + 2 * i) for i in range(4)
        ]
        payloads.append((did, mm.make_mjpeg_avi(frames, 16, 16)))
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = mm.sample_video_frames(df, every_k=2).collect()
    got = sorted((r.doc_id, r.frame_idx, round(r.mean_luma, 6)) for r in out)
    assert got == [(1, 0, 100.0), (1, 2, 104.0), (2, 0, 100.0), (2, 2, 104.0)]


def test_real_decode_kernel_jpeg_truncated_raises_value_error():
    """A payload cut off mid-entropy-data must raise a catchable
    ValueError ('truncated JPEG stream'), not an opaque IndexError that
    fails the whole Spark task — callers quarantine bad documents by
    catching ValueError, same as every other malformed-input path."""
    w = _BitWriter()
    _put_dc_block(w, 16)
    full = _make_jpeg(16, 8, [(1, 0x11)], w)
    # cut inside the scan: drop the EOI and the last entropy bytes
    truncated = full[: len(full) - 4]
    with pytest.raises(ValueError):
        mm.real_decode_kernel(1, truncated)


# ---- randomized baseline-vs-progressive equivalence (property test) ----

def _cat(v):
    return v.bit_length()


class _GenJpeg:
    """General test encoder: arbitrary per-block zigzag coefficients as
    (a) one baseline scan, (b) a progressive successive-approximation
    ladder (DC/AC first at Al=L, refinements L-1..0, EOB0 per block).
    AC symbols get len-5 canonical codes built from whatever (r, s)
    pairs the data needs."""

    def __init__(self, width, height, blocks, q=16, levels=2):
        self.width, self.height = width, height
        self.blocks = blocks  # list of dict zigzag_k -> int
        self.q, self.L = q, levels

    def _tables(self, symbols):
        import struct as st
        counts = bytearray(16)
        counts[4] = len(symbols)  # all length-5 canonical codes
        lut = {s: (i, 5) for i, s in enumerate(symbols)}
        seg = bytes([0x10]) + bytes(counts) + bytes(symbols)
        return seg, lut

    def _headers(self, sof, ac_symbols):
        import struct as st
        out = bytearray(b"\xff\xd8")
        out += _seg(0xDB, bytes([0x00]) + bytes([self.q] * 64))
        out += _seg(
            sof,
            bytes([8]) + st.pack(">HH", self.height, self.width) + bytes([1, 1, 0x11, 0]),
        )
        dc_counts, dc_syms, _ = _dc_codes(8)
        out += _seg(0xC4, bytes([0x00]) + dc_counts + dc_syms)
        seg, self._ac_lut = self._tables(ac_symbols)
        out += _seg(0xC4, seg)
        return out

    def _put_ac(self, w, sym, val_bits=None, nbits=0):
        code, ln = self._ac_lut[sym]
        w.put(code, ln)
        if nbits:
            w.put(val_bits, nbits)

    def baseline(self):
        syms = {0x00}
        for blk in self.blocks:
            ks = sorted(k for k in blk if k > 0 and blk[k])
            prev = 0
            for k in ks:
                r = k - prev - 1
                while r > 15:
                    syms.add(0xF0)
                    r -= 16
                syms.add((r << 4) | _cat(abs(blk[k])))
                prev = k
        out = self._headers(0xC0, sorted(syms))
        out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        w = _BitWriter()
        pred = 0
        for blk in self.blocks:
            dc = blk.get(0, 0)
            _put_dc_only(w, dc - pred)
            pred = dc
            ks = sorted(k for k in blk if k > 0 and blk[k])
            prev = 0
            for k in ks:
                r = k - prev - 1
                while r > 15:
                    self._put_ac(w, 0xF0)
                    r -= 16
                v = blk[k]
                s = _cat(abs(v))
                self._put_ac(w, (r << 4) | s, v if v > 0 else v + (1 << s) - 1, s)
                prev = k
            if not ks or ks[-1] < 63:
                self._put_ac(w, 0x00)
        return bytes(out + w.bytes() + b"\xff\xd9")

    def progressive(self):
        L = self.L
        # collect every AC symbol any scan emits
        syms = {0x00}
        for lv in range(L + 1):
            for blk in self.blocks:
                syms |= self._ac_scan_symbols(blk, lv, first=(lv == L))
        out = self._headers(0xC2, sorted(syms))
        # scan 1: DC first at Al=L
        w = _BitWriter()
        pred = 0
        for blk in self.blocks:
            dcl = blk.get(0, 0) >> L
            _put_dc_only(w, dcl - pred)
            pred = dcl
        out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, L])) + w.bytes()
        # scan 2: AC first band 1..63 at Al=L
        w = _BitWriter()
        for blk in self.blocks:
            self._ac_first(w, blk, L)
        out += _seg(0xDA, bytes([1, 1, 0x00, 1, 63, L])) + w.bytes()
        # refinement ladder: level L-1 .. 0 (DC then AC at each level)
        for lv in range(L - 1, -1, -1):
            w = _BitWriter()
            for blk in self.blocks:
                w.put((blk.get(0, 0) >> lv) & 1, 1)
            out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, ((lv + 1) << 4) | lv])) + w.bytes()
            w = _BitWriter()
            for blk in self.blocks:
                self._ac_refine(w, blk, lv)
            out += _seg(0xDA, bytes([1, 1, 0x00, 1, 63, ((lv + 1) << 4) | lv])) + w.bytes()
        return bytes(out + b"\xff\xd9")

    def _mag(self, v, lv):
        return abs(v) >> lv

    def _ac_scan_symbols(self, blk, lv, first):
        syms = set()
        if first:
            prev = 0
            for k in range(1, 64):
                t = self._mag(blk.get(k, 0), lv)
                if t == 0:
                    continue
                r = k - prev - 1
                while r > 15:
                    syms.add(0xF0)
                    r -= 16
                syms.add((r << 4) | _cat(t))
                prev = k
            syms.add(0x00)
            return syms
        r = 0
        for k in range(1, 64):
            v = blk.get(k, 0)
            if self._mag(v, lv) == 0:
                r += 1
                continue
            # ZRLs are forced at ANY nonzero position (correction or
            # new) — the decoder's positional traversal demands it
            while r > 15:
                syms.add(0xF0)
                r -= 16
            if self._mag(v, lv + 1) != 0:
                continue  # correction bit, no symbol
            syms.add((r << 4) | 1)
            r = 0
        syms.add(0x00)
        return syms

    def _ac_first(self, w, blk, lv):
        prev = 0
        wrote = False
        for k in range(1, 64):
            v = blk.get(k, 0)
            t = (abs(v) >> lv)
            if t == 0:
                continue
            vl = t if v > 0 else -t
            r = k - prev - 1
            while r > 15:
                self._put_ac(w, 0xF0)
                r -= 16
            s = _cat(t)
            self._put_ac(w, (r << 4) | s, vl if vl > 0 else vl + (1 << s) - 1, s)
            prev = k
            wrote = True
        if prev < 63:
            self._put_ac(w, 0x00)  # EOB0

    def _ac_refine(self, w, blk, lv):
        # libjpeg encode_mcu_AC_refine shape: the ZRL check fires at
        # ANY nonzero position (correction OR new — the decoder's
        # positional traversal demands it); buffered correction bits
        # flush after each emitted symbol; EOB0 flushes the tail
        r = 0
        br = []
        emitted_any = False
        for k in range(1, 64):
            v = blk.get(k, 0)
            t = self._mag(v, lv)
            if t == 0:
                r += 1
                continue
            while r > 15:
                self._put_ac(w, 0xF0)
                for bit in br:
                    w.put(bit, 1)
                br = []
                r -= 16
            if self._mag(v, lv + 1) != 0:
                br.append(t & 1)
                continue
            self._put_ac(w, (r << 4) | 1)
            w.put(1 if v > 0 else 0, 1)  # sign bit
            for bit in br:
                w.put(bit, 1)
            br = []
            r = 0
            emitted_any = True
        if r > 0 or br:
            self._put_ac(w, 0x00)  # EOB0 covers the block tail
            for bit in br:
                w.put(bit, 1)
        elif not emitted_any:
            self._put_ac(w, 0x00)


def test_progressive_matches_baseline_on_random_blocks():
    """Property: for random coefficient blocks, a full successive-
    approximation progressive ladder decodes to exactly the baseline
    stream's mean_luma — fuzzes EOB runs, ZRL-in-refinement, buffered
    correction bits, sign handling, and multi-level DC refinement."""
    import random

    rnd = random.Random(20260815)
    for trial in range(40):
        n_blocks = rnd.choice([1, 2, 3])
        width = 8 * n_blocks - rnd.choice([0, 3])  # sometimes cropped
        blocks = []
        for _ in range(n_blocks):
            blk = {0: rnd.randint(-40, 40)}
            for _ in range(rnd.randint(0, 6)):
                k = rnd.randint(1, 63)
                v = rnd.randint(-15, 15)
                if v:
                    blk[k] = v
            blocks.append(blk)
        gen = _GenJpeg(width, 8, blocks, levels=rnd.choice([1, 2]))
        d_base = mm.real_decode_kernel(1, gen.baseline())
        d_prog = mm.real_decode_kernel(1, gen.progressive())
        assert (d_base["width"], d_base["height"]) == (width, 8)
        assert abs(d_prog["mean_luma"] - d_base["mean_luma"]) < 1e-9, (
            trial, blocks, d_base["mean_luma"], d_prog["mean_luma"]
        )


def test_progressive_eob_run_spans_blocks_in_refinement():
    """An EOB run emitted in a REFINEMENT scan that covers multiple
    blocks: covered blocks read their correction bits via the
    eobrun>0 path (no symbol), appended after the EOB symbol in block
    order — the one decode path per-block EOB0 encoding never reaches."""
    blocks = [{0: 16}, {0: -16, 1: 2}, {0: 8, 2: -2}]
    gen = _GenJpeg(24, 8, blocks, levels=1)
    d_base = mm.real_decode_kernel(1, gen.baseline())

    # symbols: EOB0, (0,1), EOB1, (1,1) -> canonical len-5 codes 0..3
    out = gen._headers(0xC2, [0x00, 0x01, 0x10, 0x11])
    code = {0x00: 0, 0x01: 1, 0x10: 2, 0x11: 3}
    # scan 1 — DC first at Al=1: diffs of dc>>1: 8, -8-8=-16, 4-(-8)=12
    w = _BitWriter()
    for diff in (8, -16, 12):
        _put_dc_only(w, diff)
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 1])) + w.bytes()
    # scan 2 — AC first band 1..63 at Al=1:
    w = _BitWriter()
    w.put(code[0x00], 5)            # b1: EOB0
    w.put(code[0x01], 5)            # b2: (0,1) at k=1
    w.put(1, 1)                     #     value +1
    w.put(code[0x00], 5)            #     EOB0
    w.put(code[0x11], 5)            # b3: (1,1) at k=2 (run 1)
    w.put(0, 1)                     #     value -1 (extend bits: 0)
    w.put(code[0x00], 5)            #     EOB0
    out += _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 1])) + w.bytes()
    # scan 3 — DC refinement (Ah=1, Al=0): bits dc&1 = 0, 0, 0
    w = _BitWriter()
    for _ in range(3):
        w.put(0, 1)
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10])) + w.bytes()
    # scan 4 — AC refinement (Ah=1, Al=0): EOB1 + 1 appended run bit
    # covers b1+b2 (eobrun = 2+0); correction bits of the covered
    # blocks follow in block order (b1: none; b2 k=1: bit 0). b3 gets
    # its own EOB0 + correction bit.
    w = _BitWriter()
    w.put(code[0x10], 5)            # EOB, r=1
    w.put(0, 1)                     # appended run bit -> eobrun = 2
    w.put(0, 1)                     # b2 k=1 correction (2 stays 2)
    w.put(code[0x00], 5)            # b3: EOB0
    w.put(0, 1)                     # b3 k=2 correction (-2 stays -2)
    out += _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10])) + w.bytes()
    out += b"\xff\xd9"
    d_prog = mm.real_decode_kernel(1, bytes(out))
    assert (d_prog["width"], d_prog["height"]) == (24, 8)
    assert abs(d_prog["mean_luma"] - d_base["mean_luma"]) < 1e-9


def test_mjpeg_avi_odd_size_frames_roundtrip():
    """RIFF chunks are word-aligned: odd-size JPEG frames exercise the
    pad byte on mux and the aligned advance on demux (a COM segment
    also exercises the decoder's unknown-segment skip)."""
    def odd_jpeg(luma):
        j = bytearray(mm.make_solid_jpeg(8, 8, luma))
        if len(j) % 2 == 0:  # insert an odd-length COM segment after SOI
            j = j[:2] + b"\xff\xfe\x00\x03x" + j[2:]
        assert len(j) % 2 == 1
        return bytes(j)

    frames = [odd_jpeg(100), odd_jpeg(102), odd_jpeg(104)]
    avi = mm.make_mjpeg_avi(frames, 8, 8)
    _, raw = mm.demux_avi_frames(avi)
    assert raw == frames
    k = mm.real_video_kernel(1, avi)
    assert k["n_frames"] == 3 and abs(k["mean_luma"] - 102.0) < 1e-9


def _rst(n):
    return bytes([0xFF, 0xD0 + (n % 8)])


def test_progressive_jpeg_restart_markers():
    """DRI=1 in a progressive stream: every scan kind (DC first, AC
    first, DC refine, AC refine) hits a restart boundary between its
    two data units — predictors and EOB runs must reset, and the
    decoder must consume the RST and realign. Decodes identically to
    the baseline twin carrying the same coefficients (itself also
    restart-coded, covering the baseline RST path)."""
    import struct as st

    b1 = {0: 17, 1: 5}
    b2 = {0: -16, 1: -3}
    # width 12 CROPS block 2, so the k=1 (horizontal-basis) ACs move
    # the mean — a wrong AC decode cannot hide behind full-block
    # mean-invariance
    gen = _GenJpeg(12, 8, [b1, b2], levels=1)

    # --- baseline twin WITH restarts ---
    base = bytearray(b"\xff\xd8")
    base += _seg(0xDB, bytes([0x00]) + bytes([16] * 64))
    base += _seg(0xC0, bytes([8]) + st.pack(">HH", 8, 12) + bytes([1, 1, 0x11, 0]))
    dc_counts, dc_syms, _ = _dc_codes(8)
    base += _seg(0xC4, bytes([0x00]) + dc_counts + dc_syms)
    ac_counts, ac_syms = _ac_table([0x00, 0x03, 0x02])  # len-4 codes
    base += _seg(0xC4, bytes([0x10]) + ac_counts + ac_syms)
    base += _seg(0xDD, st.pack(">H", 1))  # DRI: restart every MCU
    base += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    w = _BitWriter()
    _put_dc_only(w, 17)   # block 1 DC (pred starts 0)
    w.put(1, 4)           # (0,3) at k=1
    w.put(5, 3)
    w.put(0, 4)           # EOB
    base += w.bytes() + _rst(0)
    w = _BitWriter()
    _put_dc_only(w, -16)  # block 2 DC — PREDICTOR RESET by the restart
    w.put(2, 4)           # (0,2) at k=1
    w.put(0, 2)           # -3
    w.put(0, 4)           # EOB
    base += w.bytes() + b"\xff\xd9"
    d_base = mm.real_decode_kernel(1, bytes(base))
    assert (d_base["width"], d_base["height"]) == (12, 8)
    # sanity: the twin must agree with the no-restart general encoder
    assert abs(d_base["mean_luma"] - mm.real_decode_kernel(1, gen.baseline())["mean_luma"]) < 1e-9

    # --- progressive twin WITH restarts in every scan ---
    out = gen._headers(0xC2, [0x00, 0x01, 0x02])
    code = {0x00: 0, 0x01: 1, 0x02: 2}
    out += _seg(0xDD, st.pack(">H", 1))
    # scan 1: DC first Al=1 — the restart RESETS the predictor, so
    # each block codes its own shifted dc as a diff from 0: 8, then -8
    w = _BitWriter(); _put_dc_only(w, 8)
    s1 = w.bytes() + _rst(0)
    w = _BitWriter(); _put_dc_only(w, -8)
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 1])) + s1 + w.bytes()
    # scan 2: AC first band at Al=1 — b1 k=1: 5>>1 = +2 (cat 2);
    # restart; b2 k=1: -3 -> -1 (cat 1)
    w = _BitWriter()
    w.put(code[0x02], 5); w.put(2, 2)      # (0,2), value +2
    w.put(code[0x00], 5)                   # EOB0
    s2 = w.bytes() + _rst(0)
    w = _BitWriter()
    w.put(code[0x01], 5); w.put(0, 1)      # (0,1), value -1
    w.put(code[0x00], 5)                   # EOB0
    out += _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 1])) + s2 + w.bytes()
    # scan 3: DC refinement — bit 17&1=1; restart; bit (-16)&1=0
    w = _BitWriter(); w.put(1, 1)
    s3 = w.bytes() + _rst(0)
    w = _BitWriter(); w.put(0, 1)
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10])) + s3 + w.bytes()
    # scan 4: AC refinement — each block: EOB0 + correction bit
    # (5: 4->5 via bit 1; -3: -2->-3 via bit 1); eobrun resets at RST
    w = _BitWriter(); w.put(code[0x00], 5); w.put(1, 1)
    s4 = w.bytes() + _rst(0)
    w = _BitWriter(); w.put(code[0x00], 5); w.put(1, 1)
    out += _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10])) + s4 + w.bytes()
    out += b"\xff\xd9"
    d_prog = mm.real_decode_kernel(1, bytes(out))
    assert (d_prog["width"], d_prog["height"]) == (12, 8)
    assert abs(d_prog["mean_luma"] - d_base["mean_luma"]) < 1e-9


# ---- library progressive encoder (make_solid_jpeg_progressive) ----


def test_make_solid_jpeg_progressive_matches_baseline():
    """The library SOF2 builder must decode bit-exactly to the luma it
    encodes — and to the baseline builder's result — across block
    counts that exercise every EOBn width (1, 2, 4, 6, 8 blocks)."""
    for w, h, luma in [
        (8, 8, 128),      # 1 block, EOB0
        (16, 8, 100),     # 2 blocks, EOB1
        (16, 16, 226),    # 4 blocks, EOB2
        (24, 16, 98),     # 6 blocks, EOB2 + appended bits
        (32, 16, 162),    # 8 blocks, EOB3
    ]:
        p = mm.make_solid_jpeg_progressive(w, h, luma)
        assert b"\xff\xc2" in p  # actually progressive (SOF2 marker)
        d = mm.real_decode_kernel(1, p)
        assert (d["width"], d["height"]) == (w, h)
        assert abs(d["mean_luma"] - luma) < 1e-12
        b = mm.real_decode_kernel(1, mm.make_solid_jpeg(w, h, luma))
        assert abs(d["mean_luma"] - b["mean_luma"]) < 1e-12


def test_make_solid_jpeg_progressive_rejects_bad_inputs():
    with pytest.raises(ValueError):
        mm.make_solid_jpeg_progressive(12, 8, 100)  # non-8-multiple
    with pytest.raises(ValueError):
        mm.make_solid_jpeg_progressive(8, 8, 101)  # odd luma: DC not integral


def test_payloads_from_ids_executor_side_generation(spark):
    """(doc_id) -> (doc_id, payload) built inside mapInPandas: schema,
    per-id determinism, and decode through the real kernel — the
    no-driver-collect fixture path the media queries use."""
    ids = spark.range(3, 7).withColumnRenamed("id", "doc_id")
    media = mm.payloads_from_ids(
        ids, lambda d: mm.make_solid_jpeg_progressive(16, 16, 100 + 2 * d)
    )
    assert [f.simpleString() for f in media.schema.fields] == [
        "doc_id:bigint",
        "payload:binary",
    ]
    out = mm.extract_image_features(media, kernel=mm.real_decode_kernel)
    got = sorted(
        (r.doc_id, r.width, r.height, round(r.mean_luma, 9)) for r in out.collect()
    )
    assert got == [(d, 16, 16, 100.0 + 2 * d) for d in range(3, 7)]


# ---- MP4 / ISO-BMFF demux ----


def test_mp4_roundtrip_and_kernel():
    """Mux N JPEG samples into an MP4, demux via the sample tables,
    decode: byte-identical samples, header fields populated, kernel
    stats exact."""
    frames = [mm.make_solid_jpeg(16, 16, 100 + 2 * i) for i in range(5)]
    mp4 = mm.make_mjpeg_mp4(frames, 16, 16, fps=10)
    info, raw = mm.demux_mp4_frames(mp4)
    assert raw == frames
    assert info["codec"] == "jpeg"
    assert info["n_frames_declared"] == 5
    assert info["us_per_frame"] == 100_000
    k = mm.real_video_kernel(7, mp4)
    assert k["n_frames"] == 5
    assert (k["width"], k["height"]) == (16, 16)
    assert abs(k["mean_luma"] - 104.0) < 1e-9
    assert k["duration_ms"] == 500


def test_mp4_stsc_chunk_layouts():
    """The stsc run-walk must reassemble samples across every chunk
    grouping — uniform, ragged-last, one-chunk, one-sample-per-chunk
    — and odd-size frames (no alignment padding in BMFF)."""
    frames = [
        mm.make_solid_jpeg(8, 8, 100 + 2 * i) + (b"\x00" * (i % 3))
        for i in range(7)
    ]
    for spc in (1, 2, 3, 7, 10):
        mp4 = mm.make_mjpeg_mp4(frames, 8, 8, samples_per_chunk=spc)
        _, raw = mm.demux_mp4_frames(mp4)
        assert raw == frames, f"samples_per_chunk={spc}"


def test_mp4_codec_gate_and_dispatch():
    """avc1 sample entries demux fine but raise NotImplementedError at
    the DECODE step (the honest swap-in); demux_video_frames routes
    RIFF to the AVI walk and ftyp to the BMFF walk."""
    frames = [mm.make_solid_jpeg(8, 8, 100)]
    mp4 = mm.make_mjpeg_mp4(frames, 8, 8)
    h264 = mp4.replace(b"jpeg", b"avc1", 1)
    info, raw = mm.demux_mp4_frames(h264)  # demux itself is codec-free
    assert info["codec"] == "avc1" and raw == frames
    with pytest.raises(NotImplementedError, match="avc1"):
        mm.real_video_kernel(1, h264)
    avi = mm.make_mjpeg_avi(frames, 8, 8)
    assert mm.demux_video_frames(avi)[1] == frames
    assert mm.demux_video_frames(mp4)[1] == frames


def test_mp4_malformed_raises_value_error():
    """Every malformed-structure path must raise catchable ValueError
    (quarantine contract): truncation, bad sample ranges, missing
    tables, no video track, stsc not starting at chunk 1."""
    frames = [mm.make_solid_jpeg(8, 8, 100), mm.make_solid_jpeg(8, 8, 102)]
    mp4 = mm.make_mjpeg_mp4(frames, 8, 8)
    with pytest.raises(ValueError):
        mm.demux_mp4_frames(mp4[: len(mp4) // 2])  # moov cut off
    with pytest.raises(ValueError):
        mm.demux_mp4_frames(b"\x00\x00\x00\x08free")  # no ftyp
    # sample range beyond EOF: shrink the file after the tables point
    import struct as st
    i = mp4.find(b"stco")
    (n,) = st.unpack(">I", mp4[i + 8 : i + 12])
    grown = bytearray(mp4)
    off0 = st.unpack(">I", mp4[i + 12 : i + 16])[0]
    grown[i + 12 : i + 16] = st.pack(">I", len(mp4) - 4)  # point past EOF
    with pytest.raises(ValueError, match="beyond end"):
        mm.demux_mp4_frames(bytes(grown))
    grown[i + 12 : i + 16] = st.pack(">I", off0)  # restore
    # stsc first run not at chunk 1
    j = mp4.find(b"stsc")
    bad = bytearray(mp4)
    bad[j + 12 : j + 16] = st.pack(">I", 2)
    with pytest.raises(ValueError, match="chunk 1"):
        mm.demux_mp4_frames(bytes(bad))
    # audio-only track: flip hdlr handler to 'soun'
    soun = mp4.replace(b"vide", b"soun")
    with pytest.raises(ValueError, match="no video track"):
        mm.demux_mp4_frames(soun)


def test_mp4_largesize_and_size_zero_boxes():
    """64-bit largesize boxes (size field == 1 + 8-byte length) and
    to-end-of-scope boxes (size == 0) parse correctly."""
    import struct as st
    frames = [mm.make_solid_jpeg(8, 8, 100)]
    mp4 = bytearray(mm.make_mjpeg_mp4(frames, 8, 8))
    # rewrite mdat as a largesize box (its data offsets shift by 8, so
    # patch stco too)
    i = mp4.find(b"mdat") - 4
    (size,) = st.unpack(">I", mp4[i : i + 4])
    body = bytes(mp4[i + 8 : i + size])
    large = st.pack(">I", 1) + b"mdat" + st.pack(">Q", size + 8) + body
    out = bytearray(bytes(mp4[:i]) + large + bytes(mp4[i + size :]))
    j = out.find(b"stco")
    (n,) = st.unpack(">I", out[j + 8 : j + 12])
    for e in range(n):
        o = j + 12 + 4 * e
        out[o : o + 4] = st.pack(">I", st.unpack(">I", out[o : o + 4])[0] + 8)
    _, raw = mm.demux_mp4_frames(bytes(out))
    assert raw == frames
    # size==0: make the LAST top-level box (moov) run to end-of-file
    k = bytes(mp4).rfind(b"moov") - 4
    mp4[k : k + 4] = st.pack(">I", 0)
    _, raw2 = mm.demux_mp4_frames(bytes(mp4))
    assert raw2 == frames


def test_mp4_co64_offsets():
    """co64 (64-bit chunk offsets, the >4 GB-file form) is accepted
    wherever stco is — offsets are absolute, mdat precedes moov, so
    the two encodings index identical sample bytes."""
    frames = [mm.make_solid_jpeg(8, 8, 100), mm.make_solid_jpeg(8, 8, 104)]
    mp4 = mm.make_mjpeg_mp4(frames, 8, 8, samples_per_chunk=1, co64=True)
    assert b"co64" in mp4 and b"stco" not in mp4
    _, raw = mm.demux_mp4_frames(mp4)
    assert raw == frames


def test_mp4_deep_nesting_no_recursion_error():
    """An adversarial container of deeply nested boxes must raise
    ValueError (or parse), never RecursionError — the walk uses an
    explicit frontier."""
    import struct as st
    inner = b"\x00\x00\x00\x08free"
    for _ in range(3000):
        inner = st.pack(">I", len(inner) + 8) + b"moov" + inner
    payload = b"\x00\x00\x00\x14ftypisom\x00\x00\x02\x00isom" + inner
    with pytest.raises(ValueError):
        mm.demux_mp4_frames(payload)


# ---- GIF (LZW) codec ----


def _pack_codes(bits):
    acc = n = 0
    out = bytearray()
    for c, w in bits:
        acc |= c << n
        n += w
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        out.append(acc & 0xFF)
    return bytes(out)


def test_gif_lzw_hand_traced_kwkwk():
    """The KwKwK case (code == next unassigned entry) from a
    hand-assembled stream: [clear,1,6,1,end] at min_code=2 must decode
    to [1,1,1,1] — code 6 is interpreted as prev + prev[0]."""
    data = _pack_codes([(4, 3), (1, 3), (6, 3), (1, 3), (5, 3)])
    assert mm._gif_lzw_decode(data, 2, 4) == [1, 1, 1, 1]


def test_gif_lzw_hand_traced_width_growth():
    """Width must bump from 2 to 3 bits after the FIRST data code at
    min_code=1 (the giflib counter rule): [clear@2,0@2,1@3,4@3,0@3,
    end@3] decodes to [0,1,0,1,0] — a decoder that bumps one code late
    misreads everything after code 2."""
    data = _pack_codes([(2, 2), (0, 2), (1, 3), (4, 3), (0, 3), (3, 3)])
    assert mm._gif_lzw_decode(data, 1, 5) == [0, 1, 0, 1, 0]


def test_gif_lzw_roundtrip_property():
    """Encoder/decoder agree across palette sizes and stream lengths,
    including streams long enough to fill the 4096-entry dictionary
    and force mid-stream clear codes, and constant runs that build
    deep KwKwK chains."""
    import random

    rnd = random.Random(7)
    for min_code in (1, 2, 4, 8):
        for length in (1, 5, 300, 9000):
            idx = [rnd.randrange(1 << min_code) for _ in range(length)]
            enc = mm._gif_lzw_encode(idx, min_code)
            assert mm._gif_lzw_decode(enc, min_code, length) == idx
    run = [1] * 5000 + [0, 1] * 500
    enc = mm._gif_lzw_encode(run, 2)
    assert mm._gif_lzw_decode(enc, 2, len(run)) == run


def test_gif_decode_golden_and_interlace():
    pal = [(10, 20, 30), (200, 100, 50), (0, 0, 0), (255, 255, 255)]
    idx = [(x + y) % 4 for y in range(16) for x in range(8)]
    lum = sum(
        0.299 * pal[v][0] + 0.587 * pal[v][1] + 0.114 * pal[v][2] for v in idx
    ) / len(idx)
    for interlace in (False, True):
        d = mm.decode_gif(mm.make_gif(8, 16, idx, pal, interlace=interlace))
        assert (d["width"], d["height"], d["n_frames"]) == (8, 16, 1)
        assert abs(d["mean_luma"] - lum) < 1e-9
    # deinterlace row mapping itself (not just the mean): 16 rows land
    # back in screen order from the 4-pass file order
    rows = [[r] for r in range(16)]
    order = [0, 8, 4, 12, 2, 6, 10, 14, 1, 3, 5, 7, 9, 11, 13, 15]
    assert mm._gif_deinterlace([rows[0]] * 0 + [[order[i]] for i in range(16)]) == rows


def test_gif_animated_frame_count_and_kernel_dispatch():
    pal = [(0, 0, 0), (255, 255, 255)]
    idx = [(x + y) % 2 for y in range(8) for x in range(8)]
    g = mm.make_gif(8, 8, idx, pal, n_extra_frames=2)
    assert mm.decode_gif(g)["n_frames"] == 3
    k = mm.real_decode_kernel(1, mm.make_gif(8, 8, idx, pal))
    assert (k["width"], k["height"]) == (8, 8)
    assert abs(k["mean_luma"] - 127.5) < 1e-9


def test_gif_malformed_raises_value_error():
    pal = [(0, 0, 0), (255, 255, 255)]
    idx = [0] * 64
    g = mm.make_gif(8, 8, idx, pal)
    for bad in (g[:10], g[:20], b"GIF89a" + b"\x00" * 5, g[:-2], g[:-10]):
        with pytest.raises(ValueError):
            mm.decode_gif(bad)
    # LZW stream that ends mid-raster
    with pytest.raises(ValueError, match="LZW"):
        mm._gif_lzw_decode(b"\x04", 2, 64)
    # code beyond the dictionary
    data = _pack_codes([(4, 3), (1, 3), (7, 3)])  # 7 > next assignable
    with pytest.raises(ValueError, match="beyond dictionary"):
        mm._gif_lzw_decode(data, 2, 4)


def test_gif_lzw_bomb_quarantined_fast():
    """A few-byte GIF declaring a ~4.3e9-pixel raster must raise
    ValueError BEFORE any decode allocation — the pixel-budget guard —
    and a legit frame just under the amplification bound still
    decodes."""
    import struct
    import time

    pal = [(0, 0, 0), (255, 255, 255)]
    g = bytearray(mm.make_gif(8, 8, [0] * 64, pal))
    # image descriptor starts after header(13) + 2-entry padded
    # palette: find the 0x2c introducer and rewrite its iw/ih
    at = g.index(0x2C, 13)
    g[at + 5 : at + 9] = struct.pack("<HH", 65535, 65535)
    t0 = time.monotonic()
    with pytest.raises(ValueError, match="pixel budget"):
        mm.decode_gif(bytes(g))
    assert time.monotonic() - t0 < 1.0  # guard fires, not the decoder
    # a genuinely large-but-sane frame is untouched by the guard
    out = mm.decode_gif(mm.make_gif(64, 64, [1] * 4096, pal))
    assert out["mean_luma"] == pytest.approx(255.0)


# ---- TIFF (baseline) codec ----


def test_packbits_roundtrip_property():
    import random

    rnd = random.Random(11)
    cases = [
        b"",
        b"\x01",
        b"a" * 500,
        bytes(rnd.randrange(256) for _ in range(1000)),
        b"ab" * 300,
        b"a" * 3 + b"bcd" + b"e" * 200,
    ]
    for data in cases:
        enc = mm._packbits_encode(data)
        assert mm._packbits_decode(enc, len(data)) == data


def test_tiff_gray_all_layouts():
    """Gray 8-bit across both byte orders × none/PackBits × single and
    multi strip: identical decoded mean (the left-justified inline
    SHORT rule is what big-endian files break on first)."""
    w, h = 7, 9
    px = bytes((x * 13 + y * 31) % 256 for y in range(h) for x in range(w))
    want = sum(px) / len(px)
    for be in (False, True):
        for pb in (False, True):
            for rps in (None, 2, 4):
                t = mm.make_tiff(
                    w, h, px, 1, big_endian=be, packbits=pb, rows_per_strip=rps
                )
                d = mm.decode_tiff(t)
                assert (d["width"], d["height"]) == (w, h)
                assert abs(d["mean_luma"] - want) < 1e-9


def test_tiff_rgb_and_kernel_dispatch():
    w, h = 7, 9
    rgb = bytes((i * 7) % 256 for i in range(w * h * 3))
    want = sum(
        0.299 * rgb[i * 3] + 0.587 * rgb[i * 3 + 1] + 0.114 * rgb[i * 3 + 2]
        for i in range(w * h)
    ) / (w * h)
    for be in (False, True):
        t = mm.make_tiff(w, h, rgb, 3, big_endian=be, packbits=True, rows_per_strip=3)
        assert abs(mm.decode_tiff(t)["mean_luma"] - want) < 1e-9
    px = bytes(range(63))
    k = mm.real_decode_kernel(1, mm.make_tiff(7, 9, px))
    assert (k["width"], k["height"]) == (7, 9)
    assert abs(k["mean_luma"] - sum(px) / 63) < 1e-9


def test_tiff_codec_gate_and_malformed():
    """LZW/deflate TIFFs raise NotImplementedError (honest swap-in);
    structural corruption raises catchable ValueError."""
    import struct as st

    px = bytes(range(63))
    t = bytearray(mm.make_tiff(7, 9, px))
    i = t.find(st.pack("<HHI", 259, 3, 1))
    t[i + 8 : i + 10] = st.pack("<H", 5)  # Compression=LZW
    with pytest.raises(NotImplementedError, match="compression 5"):
        mm.decode_tiff(bytes(t))
    good = mm.make_tiff(7, 9, px, packbits=True)
    for bad in (good[:6], good[:20], good[: len(good) // 2],
                b"II\x2a\x00" + b"\xff" * 8):
        with pytest.raises(ValueError):
            mm.decode_tiff(bad)


# ---- BMP codec ----


def test_bmp_gray_and_rgb_both_orientations():
    """8-bit paletted and 24-bit BGR, bottom-up and top-down, with a
    non-multiple-of-4 stride (width 7 → 1 pad byte per row)."""
    w, h = 7, 5
    px = bytes((x * 11 + y * 29) % 256 for y in range(h) for x in range(w))
    want = sum(px) / len(px)
    bgr = bytes((i * 5) % 256 for i in range(w * h * 3))
    want24 = sum(
        0.299 * bgr[i * 3 + 2] + 0.587 * bgr[i * 3 + 1] + 0.114 * bgr[i * 3]
        for i in range(w * h)
    ) / (w * h)
    for td in (False, True):
        d = mm.decode_bmp(mm.make_bmp(w, h, px, bits=8, top_down=td))
        assert (d["width"], d["height"]) == (w, h)
        assert abs(d["mean_luma"] - want) < 1e-9
        d24 = mm.decode_bmp(mm.make_bmp(w, h, bgr, bits=24, top_down=td))
        assert abs(d24["mean_luma"] - want24) < 1e-9
    k = mm.real_decode_kernel(1, mm.make_bmp(w, h, px, bits=8))
    assert abs(k["mean_luma"] - want) < 1e-9


def test_bmp_gates_and_malformed():
    import struct as st

    w, h = 7, 5
    px = bytes(range(35))
    b = bytearray(mm.make_bmp(w, h, px, bits=8))
    b[30:34] = st.pack("<I", 1)  # BI_RLE8
    with pytest.raises(NotImplementedError, match="compression 1"):
        mm.decode_bmp(bytes(b))
    good = mm.make_bmp(w, h, px, bits=8)
    for bad in (good[:30], good[:100], b"BM" + b"\x00" * 60):
        with pytest.raises(ValueError):
            mm.decode_bmp(bad)


def test_codec_fuzz_quarantine_contract():
    """Mutation fuzz across EVERY fixture format: byte flips,
    truncations, and splices must surface only ValueError /
    NotImplementedError — never IndexError/KeyError/struct.error/
    ZeroDivisionError — so per-row quarantine handlers catch one type
    and a bad document can't kill a Spark task (the _quarantined
    wrapper at every decode entry point)."""
    import random

    rnd = random.Random(42)
    w, h = 16, 16
    px = bytes((x * 13 + y * 31) % 256 for y in range(h) for x in range(w))
    board = [(x + y) % 2 for y in range(8) for x in range(8)]
    samples = {
        "gif": mm.make_gif(8, 8, board, [(0, 0, 0), (255, 255, 255)]),
        "gif_i": mm.make_gif(8, 16, [0] * 128, [(9, 9, 9), (1, 2, 3)],
                             interlace=True),
        "tiff_le": mm.make_tiff(w, h, px),
        "tiff_be_pb": mm.make_tiff(w, h, px, big_endian=True, packbits=True,
                                   rows_per_strip=4),
        "bmp8": mm.make_bmp(7, 5, bytes(range(35)), bits=8),
        "bmp24": mm.make_bmp(7, 5, bytes(range(105)), bits=24),
        "mp4": mm.make_mjpeg_mp4([mm.make_solid_jpeg(8, 8, 100)] * 3, 8, 8),
        "avi": mm.make_mjpeg_avi([mm.make_solid_jpeg(8, 8, 100)] * 3, 8, 8),
        "jpg": mm.make_solid_jpeg(16, 16, 100),
        "jpgp": mm.make_solid_jpeg_progressive(16, 16, 100),
        "wav": mm.make_fake_audio(1, 1000),
    }
    for name, payload in samples.items():
        for _ in range(400):
            b = bytearray(payload)
            for _ in range(rnd.randrange(1, 6)):
                op = rnd.random()
                if op < 0.5 and len(b) > 1:
                    b[rnd.randrange(len(b))] = rnd.randrange(256)
                elif op < 0.8 and len(b) > 4:
                    b = b[: rnd.randrange(1, len(b))]
                else:
                    at = rnd.randrange(len(b))
                    b[at:at] = bytes(
                        rnd.randrange(256) for _ in range(rnd.randrange(8))
                    )
            try:
                if name in ("mp4", "avi"):
                    mm.demux_video_frames(bytes(b))
                    mm.real_video_kernel(1, bytes(b))
                elif name == "wav":
                    mm.real_audio_kernel(1, bytes(b))
                else:
                    mm.real_decode_kernel(1, bytes(b))
            except (ValueError, NotImplementedError):
                pass


def test_sample_video_frames_codec_gate(spark):
    """A real-codec MP4 (avc1) must surface NotImplementedError from
    the Spark sampler — never be fed to the JPEG decoder and die as a
    ValueError 'corrupt' row (the two video entry points agree)."""
    mp4 = mm.make_mjpeg_mp4([mm.make_solid_jpeg(8, 8, 100)], 8, 8)
    h264 = mp4.replace(b"jpeg", b"avc1", 1)
    df = spark.createDataFrame([(1, h264)], "doc_id long, payload binary")
    with pytest.raises(Exception) as ei:
        mm.sample_video_frames(df).collect()
    assert "NotImplementedError" in str(ei.value)


def test_make_solid_jpeg_progressive_block_limit():
    """EOBn is defined only for r <= 14: a request beyond 2^15 blocks
    must refuse with ValueError, not emit an invalid stream."""
    with pytest.raises(ValueError, match="2\\^15 blocks"):
        mm.make_solid_jpeg_progressive(2048, 1024, 128)
