"""Image codecs and pixel metrics — pure stdlib + numpy, executor-safe.

One codec per format, each writing and reading genuine bitstreams that any
standard reader accepts:

* ``png``  — a minimal PNG codec (RGB8, zlib, filter types 0-4 on decode,
  filter 0 on encode).
* ``jpeg`` — baseline T.81/JFIF (`graft/jpeg.py`), encoded at
  ``JPEG_QUALITY`` (≥ 43 dB round trip even on pure noise, so the
  pipeline's decoded-pixel PSNR ≥ 40 dB check holds, see BASELINE.json
  input_hint).
* ``webp`` — lossless VP8L in a RIFF/WEBP container (`graft/vp8l.py`).
  Lossy VP8 and extended VP8X streams are not decoded: ``decode`` raises
  ValueError, which the pipeline records as ``decode_ok=false``.

Reference parity: the decode/dimension/PSNR checks play the role of the
reference's DICOM pixel & metadata validation
(`/root/reference/mipqctool/model/mri/mrisequence.py:122-156`).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from dataqualitycontroltool_spark.graft import jpeg, vp8l

JPEG_QUALITY = 98  # ≥43 dB round-trip even on pure noise
ALL_FORMATS = ("png", "jpeg", "webp")

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ---------------------------------------------------------------------------
# PNG (real, RGB8 only)
# ---------------------------------------------------------------------------

def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(rgb: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a standard PNG (filter 0)."""
    h, w, c = rgb.shape
    assert c == 3 and rgb.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, color type 2 (RGB)
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), rgb.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters (types 0-4). Vectorized per scanline."""
    rows = raw.reshape(h, stride + 1)
    out = np.zeros((h, stride), np.uint8)
    for y in range(h):
        ftype = rows[y, 0]
        line = rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if ftype == 0:
            res = line
        elif ftype == 2:  # Up
            res = (line + prev) & 0xFF
        else:  # Sub/Average/Paeth need a left-to-right scan
            res = np.zeros(stride, np.int64)
            for x in range(stride):
                a = res[x - bpp] if x >= bpp else 0
                b = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    res[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    res[x] = (line[x] + (a + b) // 2) & 0xFF
                else:  # 4 Paeth
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    res[x] = (line[x] + pred) & 0xFF
        out[y] = res.astype(np.uint8)
    return out


def png_decode(data: bytes) -> np.ndarray:
    """Decode an RGB8 PNG to an (h, w, 3) uint8 array."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, 0
    h = bitdepth = ctype = 0
    idat = bytearray()
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, bitdepth, ctype = struct.unpack(">IIBB", payload[:10])
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if bitdepth != 8 or ctype != 2:
        raise ValueError(f"unsupported PNG (bitdepth={bitdepth}, colortype={ctype})")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    stride = w * 3
    return _unfilter(raw, h, stride, 3).reshape(h, w, 3)


# ---------------------------------------------------------------------------
# Unified encode/decode + metrics
# ---------------------------------------------------------------------------

def webp_encode(
    rgb: np.ndarray, cache_bits: int = 6, predictor_bits: int = 0,
    palette: bool | str = "auto",
) -> bytes:
    """Encode a lossless WebP (RIFF/VP8L) bitstream (pure numpy).

    ``predictor_bits`` (opt-in) enables the PREDICTOR transform: ~25%
    smaller and faster to ENCODE on natural images, but its inverse is a
    sequential per-pixel Python loop on DECODE — the pipeline's hot path
    is decode (the pandas-UDF validation pass), so the default stays on
    the fully-vectorized literal+run coding; turn the predictor on for
    storage-bound flows where files are written once and decoded rarely.

    ``palette="auto"`` (default, libwebp's behavior) switches to the
    COLOR_INDEXING transform whenever the image fits a 256-color table —
    decisively smaller on few-color images AND faster to decode (bundled
    indices invert as one vectorized table lookup); true-color images
    (every image in the synthetic bench corpus) are unaffected, keeping
    prior-round bitstreams byte-identical."""
    if palette == "auto":
        # pack RGB into one uint32 so the distinct-color probe is a 1-D
        # np.unique (~70x faster than axis=0 row dedup — the probe runs on
        # EVERY encode, palette-eligible or not)
        packed = rgb.astype(np.uint32)
        packed = (packed[..., 0] << 16) | (packed[..., 1] << 8) | packed[..., 2]
        palette = not predictor_bits and len(np.unique(packed)) <= 256
    if palette:
        # pass predictor_bits through so vp8l.encode rejects the
        # contradictory explicit palette=True + predictor combination
        # instead of silently dropping the predictor request
        return vp8l.encode(
            rgb, cache_bits=cache_bits, palette=True, predictor_bits=predictor_bits
        )
    return vp8l.encode(rgb, cache_bits=cache_bits, predictor_bits=predictor_bits)


def jpeg_roundtrip(rgb: np.ndarray, quality: int = JPEG_QUALITY) -> np.ndarray:
    """decode(encode(x)) through the JPEG codec — the lossy fidelity loop.
    Computed in the transform domain (entropy coding is lossless, so the
    round-trip image is fully determined before Huffman): bit-identical to
    the full bitstream loop — pinned in
    tests/test_jpeg.py::test_quant_roundtrip_equals_bitstream."""
    return jpeg.quant_roundtrip(rgb, quality)


def encode(rgb: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return png_encode(rgb)
    if fmt == "jpeg":
        return jpeg.encode(rgb, JPEG_QUALITY)
    if fmt == "webp":
        return webp_encode(rgb)
    raise ValueError(f"unknown format {fmt!r}")


def decode(data: bytes, fmt: str) -> np.ndarray:
    """Decode a bitstream with its format's codec.  A stream that codec
    does not read (lossy VP8 or extended VP8X WebP, progressive or
    subsampled JPEG, a truncated or corrupt stream) raises ValueError —
    never silent garbage."""
    if fmt == "png":
        decoder, name = png_decode, "PNG"
    elif fmt == "jpeg":
        decoder, name = jpeg.decode, "JPEG"
    elif fmt == "webp":
        if not vp8l.is_vp8l(bytes(data[:16])):
            raise ValueError("unsupported WebP stream: only lossless VP8L decodes")
        decoder, name = vp8l.decode, "VP8L"
    else:
        raise ValueError(f"unknown format {fmt!r}")
    try:
        return decoder(bytes(data))
    except ValueError:
        raise
    except Exception as exc:
        # malformed headers can surface as struct.error/zlib.error/
        # IndexError/KeyError from the parsers; the documented error
        # contract covers them all
        raise ValueError(f"malformed {name} stream: {exc}") from exc


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def phash64(rgb: np.ndarray) -> int:
    """64-bit perceptual hash: 8×8 block-mean grayscale thresholded on its
    mean (aHash). Signed int64 so it fits the table's ``phash:int64``."""
    gray = rgb.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    # average-pool to 8x8 (crop to a multiple of 8 first)
    h8, w8 = (h // 8) * 8, (w // 8) * 8
    g = gray[:h8, :w8].reshape(8, h8 // 8, 8, w8 // 8).mean(axis=(1, 3))
    bits = (g > g.mean()).astype(np.uint64).reshape(64)
    val = np.uint64(0)
    for i in range(64):
        val = (val << np.uint64(1)) | bits[i]
    return int(np.int64(val))
