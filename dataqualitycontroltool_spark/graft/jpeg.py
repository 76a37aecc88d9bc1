"""A REAL baseline JPEG codec (encode + decode) in pure numpy.

Implements ITU-T T.81 (the public JPEG spec) baseline sequential DCT with
JFIF framing: 8-bit samples, 4:4:4 (no chroma subsampling), the Annex K
quantization tables scaled by the public IJG quality formula, and the
Annex K.3 "typical" Huffman tables.  Output bitstreams are readable by any
standard JPEG decoder (libjpeg, browsers); the decoder reads any
baseline 4:4:4 or grayscale JPEG (restart markers included).

This is the graft pipeline's one JPEG codec: `codecs.encode`/`codecs.decode`
route every jpeg row here, and the BASELINE.json "decoded-pixel PSNR ≥ 40 dB
for lossy formats" check runs against these bitstreams.

Scope notes (explicit, erroring — never silent garbage):
* encoder: 4:4:4 RGB or grayscale only (maximum fidelity; subsampling is a
  rate optimization irrelevant to the PSNR contract);
* decoder: baseline sequential (SOF0), 8-bit, 1 or 3 components with 1x1
  sampling factors; progressive/subsampled streams raise ValueError.

Everything below derives from the public spec text: FDCT/IDCT as the
orthonormal 8x8 DCT-II (T.81 A.3.3), zigzag (A.3.6), entropy coding
(F.1.2), byte stuffing (F.1.2.3), JFIF APP0 (JFIF 1.02).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Constant tables (ITU-T T.81 Annex K — published example tables)
# ---------------------------------------------------------------------------

# K.1 luminance / K.2 chrominance quantization tables (row-major 8x8)
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# zigzag scan order (T.81 A.3.6): ZIGZAG[i] = raster index of i-th coeff
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Orthonormal 8x8 DCT-II matrix — D @ block @ D.T == T.81 A.3.3 FDCT
_D = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _D[_k, _n] = (np.sqrt(1 / 8) if _k == 0 else 0.5) * np.cos(
            (2 * _n + 1) * _k * np.pi / 16
        )
del _k, _n


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Scale the Annex K tables by the public IJG quality formula."""
    quality = max(1, min(100, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (QT_LUMA, QT_CHROMA):
        q = (base * scale + 50) // 100
        out.append(np.clip(q, 1, 255).astype(np.int32))
    return out[0], out[1]


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman code assignment (T.81 C.2): symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_ENC_DC = (_huff_codes(DC_LUMA_BITS, DC_LUMA_VALS),
           _huff_codes(DC_CHROMA_BITS, DC_CHROMA_VALS))
_ENC_AC = (_huff_codes(AC_LUMA_BITS, AC_LUMA_VALS),
           _huff_codes(AC_CHROMA_BITS, AC_CHROMA_VALS))


# ---------------------------------------------------------------------------
# Color transforms (JFIF / BT.601 full range)
# ---------------------------------------------------------------------------

_RGB2YCC = np.array([
    [0.299, 0.587, 0.114],
    [-0.168736, -0.331264, 0.5],
    [0.5, -0.418688, -0.081312],
])


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    ycc = rgb.astype(np.float64) @ _RGB2YCC.T
    ycc[..., 1:] += 128.0
    return ycc


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    rgb = np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) float plane (H, W multiples of 8) -> (n_blocks, 8, 8) in
    raster block order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, h8: int, w8: int) -> np.ndarray:
    return (
        blocks.reshape(h8 // 8, w8 // 8, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(h8, w8)
    )


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

class _BitWriter:
    """MSB-first bit accumulator with T.81 F.1.2.3 byte stuffing."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (F.1.2.3)
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """T.81 F.1.2.1: value -> (category/size, amplitude bits)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = int(a).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_plane_coeffs(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Level shift, DCT, quantize, zigzag: (H, W) -> (n_blocks, 64) int32."""
    blocks = _to_blocks(plane - 128.0)
    coeffs = (_D @ blocks) @ _D.T  # BLAS path; == einsum up to last-ulp
    quant = np.round(coeffs / qt[None, :, :]).astype(np.int32)
    return quant.reshape(-1, 64)[:, ZIGZAG]


def encode(rgb: np.ndarray, quality: int = 95, restart_interval: int = 0) -> bytes:
    """Encode an (h, w, 3) uint8 RGB (or (h, w) grayscale) array as a real
    baseline JFIF/T.81 JPEG bitstream (4:4:4, Annex K Huffman tables).

    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    that many MCUs (T.81 F.1.2.3) — the mechanism real encoders use so a
    corrupt region doesn't cascade; here it also exercises the decoder's
    restart resynchronization."""
    gray = rgb.ndim == 2
    if gray:
        rgb = rgb[:, :, None]
    h, w, nc = rgb.shape
    if nc not in (1, 3):
        raise ValueError(f"expected 1 or 3 channels, got {nc}")
    qt_l, qt_c = _quality_tables(quality)

    # pad to multiples of 8 by edge replication (decoder crops back)
    h8, w8 = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(rgb, ((0, h8 - h), (0, w8 - w), (0, 0)), mode="edge")
    if nc == 3:
        planes = rgb_to_ycbcr(padded)
        comps = [
            (planes[..., 0], qt_l, 0),
            (planes[..., 1], qt_c, 1),
            (planes[..., 2], qt_c, 1),
        ]
    else:
        comps = [(padded[..., 0].astype(np.float64), qt_l, 0)]

    comp_coeffs = [_encode_plane_coeffs(p, qt) for p, qt, _ in comps]
    n_blocks = comp_coeffs[0].shape[0]

    entropy_parts: list[bytes] = []
    bw = _BitWriter()
    dc_prev = [0] * len(comps)
    rst = 0
    for b in range(n_blocks):  # interleaved MCU order: Y, Cb, Cr per MCU
        if restart_interval and b and b % restart_interval == 0:
            entropy_parts.append(bw.flush())
            entropy_parts.append(bytes([0xFF, 0xD0 + (rst % 8)]))
            rst += 1
            bw = _BitWriter()
            dc_prev = [0] * len(comps)
        for ci, (_, _, tid) in enumerate(comps):
            zz = comp_coeffs[ci][b]
            dc_tab, ac_tab = _ENC_DC[tid], _ENC_AC[tid]
            dc = int(zz[0])
            diff = dc - dc_prev[ci]
            dc_prev[ci] = dc
            # symbol and amplitude go out in ONE write (code << s | bits)
            size, bits = _magnitude(diff)
            code, ln = dc_tab[size]
            bw.write((code << size) | bits, ln + size)
            # touch only the nonzero AC positions; runs come from the gaps
            nz = np.nonzero(zz[1:])[0] + 1
            vals = zz[nz].tolist()
            prev = 0
            for k, v in zip(nz.tolist(), vals):
                run = k - prev - 1
                prev = k
                while run > 15:
                    code, ln = ac_tab[0xF0]  # ZRL
                    bw.write(code, ln)
                    run -= 16
                size, bits = _magnitude(v)
                code, ln = ac_tab[(run << 4) | size]
                bw.write((code << size) | bits, ln + size)
            if prev != 63:
                code, ln = ac_tab[0x00]  # EOB
                bw.write(code, ln)
    entropy_parts.append(bw.flush())
    entropy = b"".join(entropy_parts)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" \
        + struct.pack(">HBB", 1, 1, 0) + b"\x00\x00"  # APP0, 1:1 aspect
    for tid, qt in ([(0, qt_l), (1, qt_c)] if nc == 3 else [(0, qt_l)]):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) \
            + bytes(int(x) for x in qt.reshape(64)[ZIGZAG])
    # SOF0: baseline, 8-bit, all sampling factors 1x1 (4:4:4)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += struct.pack("BBB", ci + 1, 0x11, 0 if ci == 0 else 1)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    huff = [(0x00, DC_LUMA_BITS, DC_LUMA_VALS), (0x10, AC_LUMA_BITS, AC_LUMA_VALS)]
    if nc == 3:
        huff += [(0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
                 (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)]
    for tc_th, bits, vals in huff:
        payload = bytes([tc_th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = struct.pack("B", nc)
    for ci in range(nc):
        sos += struct.pack("BB", ci + 1, 0x00 if ci == 0 else 0x11)
    sos += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def quant_roundtrip(rgb: np.ndarray, quality: int = 95) -> np.ndarray:
    """``decode(encode(rgb, quality))`` computed in the transform domain.

    Entropy coding (Huffman + byte stuffing) is LOSSLESS, so the decoded
    round-trip image is fully determined by level-shift → FDCT → quantize
    → dequantize → IDCT → color transform.  This runs the exact same numpy
    expressions as ``encode``/``decode`` in the same order and dtypes, so
    the result is bit-identical to the full bitstream round-trip (pinned in
    tests/test_jpeg.py) at a fraction of the cost — the honest optimization
    for PSNR gating, where only the round-trip IMAGE is needed, never the
    bitstream.  The input bitstream of a validation row still pays its one
    genuine entropy decode."""
    gray = rgb.ndim == 2
    if gray:
        rgb = rgb[:, :, None]
    h, w, nc = rgb.shape
    if nc not in (1, 3):
        raise ValueError(f"expected 1 or 3 channels, got {nc}")
    qt_l, qt_c = _quality_tables(quality)
    h8, w8 = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(rgb, ((0, h8 - h), (0, w8 - w), (0, 0)), mode="edge")
    if nc == 3:
        ycc = rgb_to_ycbcr(padded)
        comps = [(ycc[..., 0], qt_l), (ycc[..., 1], qt_c), (ycc[..., 2], qt_c)]
    else:
        comps = [(padded[..., 0].astype(np.float64), qt_l)]
    planes = []
    for plane, qt in comps:
        zz = _encode_plane_coeffs(plane, qt)  # encoder side, verbatim
        qtf = qt.astype(np.float64)  # decoder side, verbatim
        deq = zz[:, UNZIGZAG].reshape(-1, 8, 8) * qtf[None, :, :]
        spatial = (_D.T @ deq) @ _D + 128.0  # BLAS path; == einsum to last-ulp
        planes.append(_from_blocks(spatial, h8, w8)[:h, :w])
    if nc == 1:
        g = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    return ycbcr_to_rgb(np.stack(planes, axis=-1))


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

def _entropy_segments(data: bytes, start: int) -> list[bytes]:
    """Split the entropy-coded section at restart markers and de-stuff each
    segment (FF 00 -> FF) up front: the hot decode loop then reads plain
    bytes with no per-byte marker checks.  The scan stops at the first
    marker that is neither a stuffed zero nor an RSTn (EOI / next segment),
    or at end-of-buffer for EOI-stripped streams."""
    segs: list[bytes] = []
    seg_start = pos = start
    n = len(data)
    while True:
        idx = data.find(b"\xff", pos)
        if idx < 0:
            segs.append(data[seg_start:n].replace(b"\xff\x00", b"\xff"))
            break
        if idx + 1 >= n:
            # dangling FF at end-of-buffer: an incomplete stuffing/marker
            # pair (T.81 F.1.2.3 — FF in entropy data is always followed by
            # 00 or a marker byte).  End the entropy data BEFORE it so bits
            # a decode would need from there count as missing (truncation
            # error), not as eight spurious 1-bits.
            segs.append(data[seg_start:idx].replace(b"\xff\x00", b"\xff"))
            break
        nxt = data[idx + 1]
        if nxt == 0x00:
            pos = idx + 2
        elif 0xD0 <= nxt <= 0xD7:  # restart marker: segment boundary
            segs.append(data[seg_start:idx].replace(b"\xff\x00", b"\xff"))
            seg_start = pos = idx + 2
        else:  # EOI / any other marker: end of entropy data
            segs.append(data[seg_start:idx].replace(b"\xff\x00", b"\xff"))
            break
    return segs


# (class, bits||vals) -> packed LUT: for every 16-bit lookahead window, the
# entry is (code_length << 16) | (code_length + amplitude_size) << 8 | symbol
# — the hot loop gets the symbol, its own length AND the total bit advance
# (code + amplitude) in ONE list index; 0 = invalid prefix.  DC symbols ARE
# the amplitude size (T.81 F.1.2.1), so symbols > 15 — impossible under a
# legal table but expressible in a crafted DHT — stay 0/invalid rather than
# implying a >16-bit amplitude read.  A plain Python list beats an ndarray
# for scalar indexing in the per-coefficient loop, and the standard Annex K
# tables hit this cache on every image.  BOUNDED (FIFO): real-world encoders
# emit per-image optimized Huffman tables, and a long-lived executor worker
# decoding millions of distinct JPEGs must not accumulate one ~2MB list per
# unique table.
_LUT_CACHE: dict[bytes, list[int]] = {}
_LUT_CACHE_MAX = 16


def _huff_lut(tc: int, bits: list[int], vals: list[int]) -> list[int]:
    key = bytes([tc]) + bytes(bits) + bytes(vals)
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    lut = np.zeros(65536, np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = vals[k]
            s = sym if tc == 0 else sym & 0x0F
            if not (tc == 0 and sym > 15):  # malformed DC symbol stays 0
                base = code << (16 - length)
                lut[base : base + (1 << (16 - length))] = (
                    (length << 16) | ((length + s) << 8) | sym
                )
            code += 1
            k += 1
        code <<= 1
    out = lut.tolist()
    if len(_LUT_CACHE) >= _LUT_CACHE_MAX:
        _LUT_CACHE.pop(next(iter(_LUT_CACHE)))
    _LUT_CACHE[key] = out
    return out


# Sign-extension LUT (T.81 F.2.2.1 EXTEND): entry (s << 11) | raw11 is the
# signed amplitude whose s magnitude bits are the TOP s bits of the 11-bit
# lookahead raw11 — one list index replaces the mask/compare/extend sequence
# per coefficient.  11 bits cover every legal baseline size (AC <= 10,
# DC <= 11); s in 12..15 (crafted tables) falls back to inline arithmetic.
_EXT: list[int] | None = None
_EXT_MAX_S = 11


def _ext_lut() -> list[int]:
    global _EXT
    if _EXT is None:
        s = np.arange(_EXT_MAX_S + 1)[:, None]
        raw = np.arange(2048)[None, :]
        v = raw >> (11 - s)
        half = np.where(s > 0, 1 << np.maximum(s - 1, 0), 1)
        ext = np.where(v >= half, v, v - (1 << s) + 1)
        ext[0, :] = 0
        _EXT = np.concatenate(
            [ext, np.zeros((16 - _EXT_MAX_S - 1, 2048), ext.dtype)]
        ).ravel().tolist()
    return _EXT


def _seg_words(seg: bytes) -> list[int]:
    """Per-byte 40-bit big-endian windows of ``seg`` + 8 bytes of 1-bit pad
    (the truncation canary, as before) + ~6 MCUs worth of zero windows so an
    overrunning decode hits the per-MCU truncation check before any index
    can leave the list."""
    b = np.frombuffer(seg + b"\xff" * 8, np.uint8).astype(np.int64)
    words = (
        (b[:-4] << 32) | (b[1:-3] << 24) | (b[2:-2] << 16)
        | (b[3:-1] << 8) | b[4:]
    ).tolist()
    words.extend([0] * 800)
    return words


def decode(data: bytes) -> np.ndarray:
    """Decode a baseline JFIF/T.81 JPEG bitstream to (h, w, 3) uint8 RGB.

    Supports baseline sequential (SOF0), 8-bit, grayscale or 4:4:4 color,
    restart intervals.  Progressive or subsampled streams raise ValueError
    (explicit scope limit — never silent garbage)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], list[int]] = {}  # (class, id) -> packed LUT
    h = w = 0
    ncomp = 0
    comp_q: list[int] = []
    comp_ids: list[int] = []
    restart_interval = 0
    scan_tables: list[tuple[int, int]] = []
    scan_start = -1

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        while data[pos + 1] == 0xFF:  # optional fill bytes (T.81 B.1.1.2)
            pos += 1
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables not supported")
                zz = np.frombuffer(seg[sp + 1 : sp + 65], np.uint8).astype(np.int32)
                qtables[tq] = zz[UNZIGZAG].reshape(8, 8)
                sp += 65
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext. seq.)
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            for ci in range(ncomp):
                cid, sampling, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                if sampling != 0x11:
                    raise ValueError(
                        "subsampled JPEG not supported (4:4:4/grayscale only)"
                    )
                comp_ids.append(cid)
                comp_q.append(tq)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential (SOF0) is supported")
        elif marker == 0xC4:  # DHT
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 0x0F
                bits = list(seg[sp + 1 : sp + 17])
                nv = sum(bits)
                vals = list(seg[sp + 17 : sp + 17 + nv])
                if len(bits) < 16 or len(vals) < nv:
                    raise ValueError("truncated DHT segment")
                htables[(tc, th)] = _huff_lut(tc, bits, vals)
                sp += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            if ns != ncomp:
                # a legal baseline stream MAY ship one scan per component
                # (non-interleaved); decoding only the first scan would be
                # silent garbage — explicit scope limit instead
                raise ValueError(
                    "non-interleaved (multi-scan) JPEG not supported"
                )
            order = {cid: i for i, cid in enumerate(comp_ids)}
            scan_tables = [(0, 0)] * ncomp
            for si in range(ns):
                cid, tabs = seg[1 + 2 * si], seg[2 + 2 * si]
                scan_tables[order[cid]] = (tabs >> 4, tabs & 0x0F)
            scan_start = pos + 2 + seglen
            break
        pos += 2 + seglen

    if scan_start < 0 or not ncomp:
        raise ValueError("no scan found (truncated or non-baseline JPEG)")

    h8, w8 = -(-h // 8) * 8, -(-w // 8) * 8
    n_blocks = (h8 // 8) * (w8 // 8)
    # entropy decode fills plain Python int lists (cheapest scalar stores);
    # one (n_blocks, 64) int32 array per component is built at the end
    coeff_lists: list[list[int]] = [[0] * (n_blocks * 64) for _ in range(ncomp)]
    luts = [
        (htables[(0, scan_tables[ci][0])], htables[(1, scan_tables[ci][1])])
        for ci in range(ncomp)
    ]
    segs = _entropy_segments(data, scan_start)
    seg_i = 0
    # per-byte 40-bit windows (one list index serves the <=16-bit symbol AND
    # its <=15-bit amplitude at any misalignment); 1-bit pad bytes make
    # consuming past the end (p > nbits) the truncation signal, checked per
    # MCU so an overrun can never index out of the padded window list
    ext = _ext_lut()
    words = _seg_words(segs[0])
    nbits = 8 * len(segs[0])
    p = 0
    dc_prev = [0] * ncomp
    for b in range(n_blocks):
        if restart_interval and b and b % restart_interval == 0:
            if p > nbits:
                raise ValueError("truncated JPEG entropy stream")
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError("expected restart marker, hit end of stream")
            words = _seg_words(segs[seg_i])
            nbits = 8 * len(segs[seg_i])
            p = 0
            dc_prev = [0] * ncomp
        elif p > nbits:
            raise ValueError("truncated JPEG entropy stream")
        base = b * 64
        for ci in range(ncomp):
            dc_lut, ac_lut = luts[ci]
            zz = coeff_lists[ci]
            word = words[p >> 3]
            off24 = 24 - (p & 7)
            e = dc_lut[(word >> off24) & 0xFFFF]
            if e == 0:
                raise ValueError("invalid Huffman code in entropy stream")
            s = e & 0xFF
            p += (e >> 8) & 0xFF
            if s:
                if s <= _EXT_MAX_S:
                    dc_prev[ci] += ext[
                        (s << 11) | ((word >> (off24 + 5 - (e >> 16))) & 0x7FF)
                    ]
                else:  # 12..15: legal bit budget, outside the EXT window
                    bits_v = (word >> (off24 + 16 - ((e >> 8) & 0xFF))) & (
                        (1 << s) - 1
                    )
                    dc_prev[ci] += (
                        bits_v
                        if bits_v >= (1 << (s - 1))
                        else bits_v - (1 << s) + 1
                    )
            zz[base] = dc_prev[ci]
            k = 1
            while k < 64:
                word = words[p >> 3]
                off24 = 24 - (p & 7)
                e = ac_lut[(word >> off24) & 0xFFFF]
                if e == 0:
                    raise ValueError("invalid Huffman code in entropy stream")
                sym = e & 0xFF
                if sym == 0x00:  # EOB
                    p += e >> 16
                    break
                s = sym & 0x0F
                if s == 0:
                    if sym != 0xF0:
                        raise ValueError("invalid AC symbol")
                    p += e >> 16
                    k += 16  # ZRL
                    continue
                k += sym >> 4
                if k > 63:
                    raise ValueError("AC run past end of block")
                p += (e >> 8) & 0xFF
                if s <= _EXT_MAX_S:
                    zz[base + k] = ext[
                        (s << 11) | ((word >> (off24 + 5 - (e >> 16))) & 0x7FF)
                    ]
                else:
                    bits_v = (word >> (off24 + 16 - ((e >> 8) & 0xFF))) & (
                        (1 << s) - 1
                    )
                    zz[base + k] = (
                        bits_v
                        if bits_v >= (1 << (s - 1))
                        else bits_v - (1 << s) + 1
                    )
                k += 1
    if p > nbits:
        # a truncated entropy stream must FAIL — never silently return a
        # half image
        raise ValueError("truncated JPEG entropy stream")
    coeffs = [
        np.array(cl, np.int32).reshape(n_blocks, 64) for cl in coeff_lists
    ]

    planes = []
    for ci in range(ncomp):
        qt = qtables[comp_q[ci]].astype(np.float64)
        deq = coeffs[ci][:, UNZIGZAG].reshape(-1, 8, 8) * qt[None, :, :]
        spatial = (_D.T @ deq) @ _D + 128.0  # BLAS path; == einsum to last-ulp
        planes.append(_from_blocks(spatial, h8, w8)[:h, :w])
    if ncomp == 1:
        g = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    return ycbcr_to_rgb(np.stack(planes, axis=-1))
