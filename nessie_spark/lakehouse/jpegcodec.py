"""Baseline JFIF (JPEG) codec — pure numpy + stdlib, no codec libraries.

A real, self-contained implementation of baseline sequential DCT JPEG as
published in ITU-T T.81 (the public JPEG spec): 4:4:4 sampling (one 8×8
block per component per MCU), the Annex-K example quantization tables
scaled by the IJG quality formula, the Annex-K typical Huffman tables
(emitted in DHT and *re-read* by the decoder — the decoder trusts the
stream, not this module's constants), JFIF APP0, byte stuffing, and
proper marker-aware stream walking. Files produced here decode in any
standards-compliant JPEG reader, and the decoder accepts any baseline
4:4:4 / grayscale JPEG (it rejects progressive/subsampled streams with
NotImplementedError rather than guessing).

Used by the lakehouse image kernels (fmt="jpeg" payloads) and the MJPEG
frame-sampling operator. Per-image cost is O(pixels) numpy for DCT and
O(nonzero coefficients) Python for entropy coding — always called from
Arrow-batched kernels, never per-row Spark Python.
"""

from __future__ import annotations

import struct

import numpy as np

# --- Annex K.1/K.2 example quantization tables (natural order) -------------

_QY = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

_QC = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# zig-zag scan order: _ZIG[k] = natural index of the k-th zigzag coefficient
_ZIG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# --- Annex K.3 typical Huffman tables (BITS counts + HUFFVAL lists) --------

_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHR_VALS = list(range(12))

_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHR_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# orthonormal 8-point DCT-II matrix
_D = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _D[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex-K tables."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    qy = np.clip((_QY * scale + 50) // 100, 1, 255).astype(np.int32)
    qc = np.clip((_QC * scale + 50) // 100, 1, 255).astype(np.int32)
    return qy, qc


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (codeword, length), canonical Huffman per T.81 C.2."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


_ENC_DC = (_build_codes(_DC_LUM_BITS, _DC_LUM_VALS),
           _build_codes(_DC_CHR_BITS, _DC_CHR_VALS))
_ENC_AC = (_build_codes(_AC_LUM_BITS, _AC_LUM_VALS),
           _build_codes(_AC_CHR_BITS, _AC_CHR_VALS))


def _fdct_blocks(plane: np.ndarray) -> np.ndarray:
    """(H8, W8) plane (level-shifted float) -> (n_blocks, 8, 8) DCT coefs,
    raster block order. matmul, not einsum: same contraction, ~18x faster
    (einsum's 3-operand path skips BLAS)."""
    h8, w8 = plane.shape
    b = plane.reshape(h8 // 8, 8, w8 // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return np.matmul(np.matmul(_D, b), _D.T)


def _idct_blocks(coef: np.ndarray, h8: int, w8: int) -> np.ndarray:
    b = np.matmul(np.matmul(_D.T, coef), _D)
    return (
        b.reshape(h8 // 8, w8 // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h8, w8)
    )


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = (px[..., 0].astype(np.float64), px[..., 1].astype(np.float64),
               px[..., 2].astype(np.float64))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def encode_jpeg_real(px: np.ndarray, quality: int = 98, restart_mcu: int = 0):
    """(h, w, 3) uint8 RGB -> baseline 4:4:4 JFIF bytes.
    ``restart_mcu`` > 0 emits a DRI segment and RSTn markers every that
    many MCUs (spec-valid T.81 restart intervals; any compliant reader
    decodes them). Restart streams make the entropy-coded data a set of
    independent byte-aligned segments, which is what lets the batch
    decoder (jpegvec.py) decode all MCUs of a batch in parallel.
    See ``encode_jpeg_with_recon`` for the (bytes, reconstruction) pair."""
    return _encode_jpeg_impl(px, quality, want_recon=False, restart_mcu=restart_mcu)[0]


def encode_jpeg_with_recon(px: np.ndarray, quality: int = 98, restart_mcu: int = 0):
    """(bytes, recon): the JFIF stream AND the decoder's output for it,
    computed from the encoder's own quantized coefficients (dequantize →
    IDCT → color convert — the exact arithmetic ``decode_jpeg_real`` runs
    after entropy decoding, so ``recon`` is BIT-IDENTICAL to
    ``decode_jpeg_real(bytes)``; pinned by test_real_codecs). Lets the
    rewrite PSNR gate skip a full entropy re-decode of every fresh
    stream — the expensive sequential half of the codec — while the
    bitstream itself stays covered by sampled real decodes."""
    return _encode_jpeg_impl(px, quality, want_recon=True, restart_mcu=restart_mcu)


def _build_headers(
    h: int, w: int, qy: np.ndarray, qc: np.ndarray, restart_mcu: int
) -> bytes:
    """Everything before the entropy-coded scan: SOI..SOS (shared by the
    scalar and the vectorized batch encoder so their streams stay
    byte-identical)."""
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    for tid, q in ((0, qy), (1, qc)):  # DQT (zigzag order per spec)
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(
            int(q[_ZIG[k]]) for k in range(64)
        )
    if restart_mcu > 0:  # DRI: restart interval in MCUs
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_mcu)
    # SOF0: 8-bit, 3 components, 1×1 sampling (4:4:4)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        out += struct.pack("BBB", cid, 0x11, tq)
    for tc_th, bits, vals in (
        (0x00, _DC_LUM_BITS, _DC_LUM_VALS),
        (0x01, _DC_CHR_BITS, _DC_CHR_VALS),
        (0x10, _AC_LUM_BITS, _AC_LUM_VALS),
        (0x11, _AC_CHR_BITS, _AC_CHR_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 3 + 16 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tables in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += struct.pack("BB", cid, tables)
    out += b"\x00\x3f\x00"  # Ss=0, Se=63, Ah/Al=0
    return bytes(out)


def _encode_jpeg_impl(px: np.ndarray, quality: int, want_recon: bool,
                      restart_mcu: int = 0):
    assert px.ndim == 3 and px.shape[2] == 3 and px.dtype == np.uint8
    h, w = px.shape[:2]
    qy, qc = _quality_tables(quality)
    # replicate-pad to multiples of 8 (decoder crops back to SOF0 h×w)
    h8, w8 = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    ycc = _rgb_to_ycbcr(px)
    ycc = np.pad(ycc, ((0, h8 - h), (0, w8 - w), (0, 0)), mode="edge")

    # quantized zigzag blocks per component, raster MCU order
    comp_blocks = []
    for c in range(3):
        q = qy if c == 0 else qc
        coef = _fdct_blocks(ycc[..., c] - 128.0)
        zz = coef.reshape(-1, 64)[:, _ZIG]
        comp_blocks.append(
            np.round(zz / q[_ZIG].astype(np.float64)).astype(np.int32)
        )

    # entropy loop on locals only (the encode hot path): each symbol and
    # its appended magnitude bits are fused into ONE accumulator push,
    # flushed a byte at a time with FF00 stuffing inline
    buf = bytearray()
    acc = 0
    nbits = 0
    prev_dc = [0, 0, 0]
    n_mcu = (h8 // 8) * (w8 // 8)
    blists = [cb.tolist() for cb in comp_blocks]
    for m in range(n_mcu):
        if restart_mcu > 0 and m > 0 and m % restart_mcu == 0:
            # flush: 1-fill pad to byte boundary, RSTn marker, DC reset
            if nbits:
                pad = 8 - nbits
                acc = (acc << pad) | ((1 << pad) - 1)
                nbits = 0
                b = acc & 0xFF
                buf.append(b)
                if b == 0xFF:
                    buf.append(0)
                acc = 0
            buf.append(0xFF)
            buf.append(0xD0 + ((m // restart_mcu - 1) % 8))
            prev_dc = [0, 0, 0]
        for c in range(3):
            t = 0 if c == 0 else 1
            dc_t = _ENC_DC[t]
            ac_t = _ENC_AC[t]
            bl = blists[c][m]
            v0 = bl[0]
            diff = v0 - prev_dc[c]
            prev_dc[c] = v0
            if diff == 0:
                cat = 0
                bits = 0
            else:
                a = diff if diff > 0 else -diff
                cat = a.bit_length()
                bits = diff if diff > 0 else diff + (1 << cat) - 1
            code, ln = dc_t[cat]
            acc = (acc << (ln + cat)) | (code << cat) | bits
            nbits += ln + cat
            while nbits >= 8:
                nbits -= 8
                b = (acc >> nbits) & 0xFF
                buf.append(b)
                if b == 0xFF:
                    buf.append(0)
            acc &= (1 << nbits) - 1
            run = 0
            for k in range(1, 64):
                v = bl[k]
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    code, ln = ac_t[0xF0]  # ZRL
                    acc = (acc << ln) | code
                    nbits += ln
                    run -= 16
                a = v if v > 0 else -v
                cat = a.bit_length()
                bits = v if v > 0 else v + (1 << cat) - 1
                code, ln = ac_t[(run << 4) | cat]
                acc = (acc << (ln + cat)) | (code << cat) | bits
                nbits += ln + cat
                while nbits >= 8:
                    nbits -= 8
                    b = (acc >> nbits) & 0xFF
                    buf.append(b)
                    if b == 0xFF:
                        buf.append(0)
                acc &= (1 << nbits) - 1
                run = 0
            if run:
                code, ln = ac_t[0x00]  # EOB
                acc = (acc << ln) | code
                nbits += ln
                while nbits >= 8:
                    nbits -= 8
                    b = (acc >> nbits) & 0xFF
                    buf.append(b)
                    if b == 0xFF:
                        buf.append(0)
                acc &= (1 << nbits) - 1
    if nbits:  # 1-fill pad per spec
        pad = 8 - nbits
        acc = (acc << pad) | ((1 << pad) - 1)
        b = acc & 0xFF
        buf.append(b)
        if b == 0xFF:
            buf.append(0)
    scan = bytes(buf)

    out = bytearray(_build_headers(h, w, qy, qc, restart_mcu))
    out += scan
    out += b"\xff\xd9"  # EOI
    if not want_recon:
        return bytes(out), None
    planes = []
    for c in range(3):
        q = qy if c == 0 else qc
        qzig = q[_ZIG].astype(np.float64)
        zz = comp_blocks[c].astype(np.float64) * qzig
        nat = np.zeros((zz.shape[0], 64))
        nat[:, _ZIG] = zz
        planes.append(_idct_blocks(nat.reshape(-1, 8, 8), h8, w8) + 128.0)
    ycc_r = np.stack([pl[:h, :w] for pl in planes], axis=-1)
    return bytes(out), _ycbcr_to_rgb(ycc_r)


# --- decoder ----------------------------------------------------------------

import functools


@functools.lru_cache(maxsize=64)
def _decode_table_cached(bits: bytes, vals: bytes):
    """Flat 16-bit-peek lookup: (sym[65536], len[65536]) — every entry
    whose top ``ln`` bits equal a codeword maps to that symbol; length 0
    marks an invalid prefix. One list index per symbol instead of a
    bit-by-bit canonical-tree walk (the decode hot path). Cached on the
    table definition: every stream carrying the Annex-K tables (all of
    ours) shares one build."""
    sym = np.zeros(1 << 16, dtype=np.int16)
    lng = np.zeros(1 << 16, dtype=np.int8)
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            startx = code << (16 - ln)
            sym[startx : startx + (1 << (16 - ln))] = vals[k]
            lng[startx : startx + (1 << (16 - ln))] = ln
            code += 1
            k += 1
        code <<= 1
    return sym.tolist(), lng.tolist()


def huff_table(huff_spec: dict[int, tuple[bytes, bytes]], tid: int):
    """(sym, len) flat 16-bit-peek lists for table id ``tid`` (0x00/0x01 DC,
    0x10/0x11 AC) from the raw DHT specs of a parsed stream."""
    bits, vals = huff_spec[tid]
    return _decode_table_cached(bits, vals)


def _parse_stream(data: bytes) -> dict:
    """Marker walk shared by the scalar and the batch decoder: returns
    quant tables, raw DHT specs, SOF geometry, scan setup, restart
    interval and the entropy-coded scan bytes. Handles optional 0xFF fill
    bytes before a marker (T.81 B.1.1.2) and the DRI segment."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    pos = 2
    n = len(data)
    qt: dict[int, np.ndarray] = {}
    huff_spec: dict[int, tuple[bytes, bytes]] = {}
    sof = None
    comps: list[tuple[int, int, int]] = []  # (cid, sampling, tq)
    scan_comps: list[tuple[int, int, int]] = []  # (cid, td, ta)
    scan_data = None
    restart = 0
    while pos < n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        # consume optional 0xFF fill bytes before the marker code
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= n:
            break
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                zz = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8).astype(np.int32)
                nat = np.zeros(64, dtype=np.int32)
                nat[_ZIG] = zz
                qt[tq] = nat
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = seg[p + 1 : p + 17]
                cnt = sum(bits)
                huff_spec[tc_th] = (bytes(bits), bytes(seg[p + 17 : p + 17 + cnt]))
                p += 17 + cnt
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            (restart,) = struct.unpack(">H", seg[:2])
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            for ci in range(nc):
                cid, samp, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                if samp != 0x11:
                    raise NotImplementedError("subsampled JPEG (non-4:4:4)")
                comps.append((cid, samp, tq))
            sof = (h, w, nc)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"non-baseline SOF marker 0xFF{marker:02X}")
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            for ci in range(ns):
                cid, tt = seg[1 + 2 * ci], seg[2 + 2 * ci]
                scan_comps.append((cid, tt >> 4, tt & 0xF))
            scan_data = data[pos + seglen :]
            pos += seglen
            break
        pos += seglen
    if sof is None or scan_data is None:
        raise ValueError("truncated JPEG (no SOF/SOS)")
    return {
        "qt": qt, "huff_spec": huff_spec, "sof": sof, "comps": comps,
        "scan_comps": scan_comps, "scan_data": scan_data, "restart": restart,
    }


def _split_scan(data: bytes) -> list[bytes]:
    """Destuff the entropy-coded scan (FF00 → FF) and split it at RSTn
    markers into independent segments (byte-aligned, DC predictors reset
    at each — T.81 restart semantics). A stream without restarts yields
    one segment. Stops at the first true marker."""
    segs: list[bytes] = []
    parts: list[bytes] = []
    start = 0
    pos = 0
    n = len(data)
    while True:
        i = data.find(b"\xff", pos)
        if i < 0 or i + 1 >= n:
            parts.append(data[start:])
            break
        nxt = data[i + 1]
        if nxt == 0x00:
            parts.append(data[start : i + 1])  # keep FF, drop 00
            start = pos = i + 2
        elif 0xD0 <= nxt <= 0xD7:
            parts.append(data[start:i])  # segment boundary
            segs.append(b"".join(parts))
            parts = []
            start = pos = i + 2
        else:  # true marker: scan ends
            parts.append(data[start:i])
            break
    segs.append(b"".join(parts))
    return segs


def _decode_segment(
    d: bytes, m0: int, m1: int, sc: list, coefs: list, nc: int
) -> None:
    """Decode MCUs [m0, m1) from one destuffed entropy segment into the
    per-component flat zigzag buffers. DC predictors start at 0 (segment
    == restart interval). The hot loop: locals only, chunked 4-byte
    refill, flat 16-bit-peek LUTs."""
    # 1-fill sentinels sized past the refill's legitimate prefetch (the
    # 4-byte refill can run ~7 bytes past the stream end while the last
    # real symbols drain from the accumulator); the p > dn+8 guard below
    # catches a truncated/corrupt scan BEFORE a short slice can
    # desynchronize the bit reader (ADVICE r5 #3).
    if not d:
        # adjacent RSTn markers: every segment holds at least one MCU and
        # every MCU at least one code bit, so an empty segment is corrupt
        raise ValueError("corrupt JPEG segment (empty restart segment)")
    dn = len(d) + 8
    d = d + b"\xff" * 16
    acc = 0
    nbits = 0
    p = 0
    prev_dc = [0] * nc
    for m in range(m0, m1):
        base = m * 64
        for ci, dsym, dlen, asym, alen in sc:
            buf = coefs[ci]
            # DC symbol
            if nbits < 16:
                if p > dn:
                    raise ValueError("truncated JPEG scan")
                acc = (acc << 32) | int.from_bytes(d[p : p + 4], "big")
                p += 4
                nbits += 32
            v = (acc >> (nbits - 16)) & 0xFFFF
            ln = dlen[v]
            if ln == 0:
                raise ValueError("invalid Huffman code in JPEG stream")
            nbits -= ln
            cat = dsym[v]
            if cat:
                if nbits < cat:
                    if p > dn:
                        raise ValueError("truncated JPEG scan")
                    acc = (acc << 32) | int.from_bytes(d[p : p + 4], "big")
                    p += 4
                    nbits += 32
                nbits -= cat
                bits = (acc >> nbits) & ((1 << cat) - 1)
                if bits < (1 << (cat - 1)):
                    bits += 1 - (1 << cat)
                prev_dc[ci] += bits
            acc &= (1 << nbits) - 1
            buf[base] = prev_dc[ci]
            # AC run-length loop
            k = 1
            while k < 64:
                if nbits < 16:
                    if p > dn:
                        raise ValueError("truncated JPEG scan")
                    acc = (acc << 32) | int.from_bytes(d[p : p + 4], "big")
                    p += 4
                    nbits += 32
                v = (acc >> (nbits - 16)) & 0xFFFF
                ln = alen[v]
                if ln == 0:
                    raise ValueError("invalid Huffman code in JPEG stream")
                nbits -= ln
                rs = asym[v]
                cat = rs & 0xF
                if cat == 0:
                    acc &= (1 << nbits) - 1
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += rs >> 4
                if k > 63:
                    raise ValueError("AC index overflow in JPEG stream")
                if nbits < cat:
                    if p > dn:
                        raise ValueError("truncated JPEG scan")
                    acc = (acc << 32) | int.from_bytes(d[p : p + 4], "big")
                    p += 4
                    nbits += 32
                nbits -= cat
                bits = (acc >> nbits) & ((1 << cat) - 1)
                if bits < (1 << (cat - 1)):
                    bits += 1 - (1 << cat)
                acc &= (1 << nbits) - 1
                buf[base + k] = bits
                k += 1
    # Segment-exact consumption check (T.81 B.2.1/F.1.2.3): after the last
    # MCU of a restart segment (or the scan), only 0-7 bits of 1-fill
    # padding to the byte boundary may remain. A flipped byte inside the
    # entropy data almost always shifts the symbol boundaries and breaks
    # this invariant even when every individual code happened to stay
    # decodable — without the check such corruption decodes to silently
    # wrong pixels confined to one MCU (restart_mcu=1 streams localize
    # damage, so a perceptual-hash flagger alone can no longer see it).
    seg_len = dn - 8  # real (destuffed) segment bytes, before sentinels
    rem = seg_len * 8 - (p * 8 - nbits)
    if rem < 0 or rem >= 8:
        raise ValueError("corrupt JPEG segment (code/padding length mismatch)")
    if rem and (d[seg_len - 1] & ((1 << rem) - 1)) != (1 << rem) - 1:
        raise ValueError("corrupt JPEG segment (padding bits not 1-filled)")


def decode_jpeg_real(data: bytes) -> np.ndarray:
    """Baseline 4:4:4 (or grayscale) JFIF bytes -> (h, w, 3) uint8 RGB.
    Tables are read from the stream's DQT/DHT segments; restart intervals
    (DRI + RSTn) are honored with DC-predictor reset and byte realignment
    per segment. Progressive SOF2, arithmetic coding, and subsampled
    streams raise NotImplementedError.

    The decoder is strict T.81: each restart segment (or the whole scan)
    must end with 0-7 bits of 1-fill padding (F.1.2.3), so a stream whose
    padding bits are not all 1 raises "corrupt JPEG segment" even though
    libjpeg, which ignores padding content, accepts it. Every stream this
    package writes is 1-filled; an externally encoded JPEG may not be."""
    meta = _parse_stream(data)
    qt, comps, scan_comps = meta["qt"], meta["comps"], meta["scan_comps"]
    h, w, nc = meta["sof"]
    restart = meta["restart"]
    h8, w8 = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    n_mcu = (h8 // 8) * (w8 // 8)
    order = {cid: i for i, (cid, _s, _q) in enumerate(comps)}
    # flat zigzag coefficient buffers per component (Python lists — the
    # entropy loop is the hot path, so it runs on locals with zero
    # function calls; dequant/unzigzag/IDCT are one vectorized pass after)
    coefs = [[0] * (n_mcu * 64) for _ in range(nc)]
    sc = []
    for cid, td, ta in scan_comps:
        dsym, dlen = huff_table(meta["huff_spec"], 0x00 | td)
        asym, alen = huff_table(meta["huff_spec"], 0x10 | ta)
        sc.append((order[cid], dsym, dlen, asym, alen))
    segs = _split_scan(meta["scan_data"])
    step = restart if restart > 0 else n_mcu
    n_seg = (n_mcu + step - 1) // step
    if len(segs) < n_seg:
        raise ValueError("truncated JPEG scan (missing restart segments)")
    for si in range(n_seg):
        _decode_segment(
            segs[si], si * step, min((si + 1) * step, n_mcu), sc, coefs, nc
        )
    planes = []
    for ci in range(nc):
        qzig = qt[comps[ci][2]][_ZIG].astype(np.float64)
        zz = np.array(coefs[ci], dtype=np.float64).reshape(n_mcu, 64) * qzig
        nat = np.zeros((n_mcu, 64))
        nat[:, _ZIG] = zz
        planes.append(nat.reshape(n_mcu, 8, 8))
    imgs = [_idct_blocks(p, h8, w8) + 128.0 for p in planes]
    if nc == 1:
        g = np.clip(np.round(imgs[0][:h, :w]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    ycc = np.stack([p[:h, :w] for p in imgs], axis=-1)
    return _ycbcr_to_rgb(ycc)


# --- MJPEG container --------------------------------------------------------


def encode_mjpeg(frames: list[np.ndarray], quality: int = 98) -> bytes:
    """Real MJPEG stream: concatenated baseline JFIF frames (the raw-MJPEG
    / multipart camera-stream layout)."""
    return b"".join(encode_jpeg_real(f, quality) for f in frames)


def iter_mjpeg_frames(data: bytes):
    """Yield (offset, frame_bytes) per JPEG in an MJPEG stream — a real
    marker walk (segment lengths + entropy-data scan honoring FF00 byte
    stuffing and RSTn), never a naive FFD8 substring split (entropy or
    table payload bytes may contain FFD8)."""
    pos = 0
    n = len(data)
    while pos + 1 < n:
        if not (data[pos] == 0xFF and data[pos + 1] == 0xD8):
            raise ValueError(f"MJPEG: expected SOI at offset {pos}")
        start = pos
        pos += 2
        while True:
            if pos + 1 >= n:
                raise ValueError("MJPEG: truncated frame")
            if data[pos] != 0xFF:
                raise ValueError(f"MJPEG: lost marker sync at {pos}")
            marker = data[pos + 1]
            pos += 2
            if marker == 0xD9:  # EOI — frame complete
                yield start, data[start:pos]
                break
            if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
                continue
            (seglen,) = struct.unpack(">H", data[pos : pos + 2])
            is_sos = marker == 0xDA
            pos += seglen
            if is_sos:
                # entropy-coded data: scan for the next true marker
                while pos + 1 < n:
                    if data[pos] == 0xFF and data[pos + 1] not in (0x00,) and not (
                        0xD0 <= data[pos + 1] <= 0xD7
                    ):
                        break
                    pos += 1


def decode_mjpeg_frames(data: bytes, every_k: int = 1) -> list[np.ndarray]:
    """Sample every k-th frame of a real MJPEG stream, fully decoded."""
    out = []
    for i, (_off, frame) in enumerate(iter_mjpeg_frames(data)):
        if i % every_k == 0:
            out.append(decode_jpeg_real(frame))
    return out


def mjpeg_frame_count(data: bytes) -> int:
    return sum(1 for _ in iter_mjpeg_frames(data))
