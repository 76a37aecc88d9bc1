"""Multimodal columns — image / audio / video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched pandas UDFs.

Design: the Spark-side plumbing — schemas, partitioning, UDF signatures,
batch shapes — is REAL and tested.  Images go through graft/codecs.py, one
genuine codec per format (PNG, baseline JPEG, lossless VP8L WebP); PCM-WAV
is parsed for real; resize/features are real numpy.  Video has no real
codec here, so it uses a clearly-marked deterministic container (``QVID``:
length-prefixed baseline-JPEG frames).

Reference lineage: the DICOM path (`/root/reference/mipqctool/model/mri/
mridicom.py:33-45` header decode, `mrisequence.py:122-156` pixel checks) is
the reference's only binary-payload processing; these operators generalize
it to the media types a training-data pipeline ingests.

Scale notes: every operator is a pure map over rows (no shuffle); binary
payloads stay columnar in Arrow until the UDF batch; frame sampling uses
``mapInPandas`` so one input row can emit N frame rows without a join.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from dataqualitycontroltool_spark.graft import codecs

# --------------------------------------------------------------------------
# image: resize + feature extraction (real numpy implementations)
# --------------------------------------------------------------------------


def _resize_nn(img: np.ndarray, w: int, h: int) -> np.ndarray:
    """Nearest-neighbor resize — deterministic, library-free."""
    ys = (np.arange(h) * (img.shape[0] / h)).astype(np.int64).clip(0, img.shape[0] - 1)
    xs = (np.arange(w) * (img.shape[1] / w)).astype(np.int64).clip(0, img.shape[1] - 1)
    return img[ys][:, xs]


def _block_mean_features(img: np.ndarray, grid: int) -> np.ndarray:
    """grid×grid per-channel block means, L2-normalized — a deterministic
    stand-in for a learned image embedding (same shape/contract: the real
    model would be a per-executor lazy singleton scoring the same batches)."""
    g = _resize_nn(img.astype(np.float64), grid * 8, grid * 8)
    h8, w8 = g.shape[0] // grid, g.shape[1] // grid
    blocks = g[: h8 * grid, : w8 * grid].reshape(grid, h8, grid, w8, 3).mean(axis=(1, 3))
    v = blocks.reshape(-1)
    n = np.sqrt((v * v).sum())
    return (v / n if n > 0 else v).astype(np.float32)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def _decoded_batch(data: pd.Series, fmt: pd.Series):
    """Decode an Arrow batch row-by-row, yielding the (h, w, 3) array or
    None for undecodable rows — the ONE place the per-row decode/except
    contract lives for every image UDF in this module."""
    for b, f in zip(data, fmt):
        try:
            yield codecs.decode(bytes(b), f)
        except Exception:
            yield None


def image_resize(bytes_col: Column, fmt_col: Column, width: int, height: int) -> Column:
    """Decode → nearest-neighbor resize → re-encode (same format).
    Returns struct(bytes, w, h, ok); undecodable rows yield ok=false."""

    @F.pandas_udf(RESIZE_SCHEMA)
    def _resize(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
        out = []
        for img, f in zip(_decoded_batch(data, fmt), fmt):
            if img is None:
                out.append((None, None, None, False))
            else:
                r = _resize_nn(img, width, height)
                out.append((bytearray(codecs.encode(r, f)), width, height, True))
        df = pd.DataFrame(out, columns=["bytes", "w", "h", "ok"])
        df["w"] = df["w"].astype("Int32")
        df["h"] = df["h"].astype("Int32")
        return df

    return _resize(bytes_col, fmt_col)


def image_features(bytes_col: Column, fmt_col: Column, grid: int = 4) -> Column:
    """Deterministic image embedding (grid²·3 floats, L2-normalized) as an
    ``array<float>`` column — feeds directly into operators/similarity.py.
    Swap ``_block_mean_features`` for a real model per-executor singleton at
    production time; the Spark plan is identical."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _feat(data: pd.Series, fmt: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if img is None else _block_mean_features(img, grid).tolist()
                for img in _decoded_batch(data, fmt)
            ]
        )

    return _feat(bytes_col, fmt_col)


# --------------------------------------------------------------------------
# audio: minimal RIFF/WAVE PCM16 parser (real, stdlib+numpy only)
# --------------------------------------------------------------------------

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def wav_encode_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal RIFF/WAVE writer (PCM16, used by tests/generators)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    pcm = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sample_rate, byte_rate, ch * 2, 16)
        + b"data" + struct.pack("<I", len(pcm))
    )
    return hdr + pcm


def parse_wav_pcm16(data: bytes) -> tuple[int, np.ndarray]:
    """(sample_rate, samples[n, ch]) from a PCM16 RIFF/WAVE stream."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, rate, ch, bits = 12, None, None, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            _fmt, ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if _fmt != 1 or bits != 16:
                raise ValueError("only PCM16 supported")
        elif tag == b"data":
            if rate is None:
                raise ValueError("data chunk before fmt")
            arr = np.frombuffer(body, dtype="<i2")
            return rate, arr.reshape(-1, ch)
        pos += 8 + ln + (ln & 1)
    raise ValueError("no data chunk")


def audio_stats(bytes_col: Column) -> Column:
    """Decode WAV-PCM16 audio bytes → struct(decode_ok, sample_rate,
    n_channels, n_samples, duration_s, rms).  Non-WAV / corrupt payloads
    yield decode_ok=false (the pipeline's keep/drop rules treat that like
    an image decode failure)."""

    @F.pandas_udf(AUDIO_SCHEMA)
    def _stats(data: pd.Series) -> pd.DataFrame:
        rows = []
        for b in data:
            try:
                rate, samples = parse_wav_pcm16(bytes(b))
                x = samples.astype(np.float64) / 32768.0
                rows.append(
                    (True, rate, samples.shape[1], samples.shape[0],
                     samples.shape[0] / rate,
                     float(np.sqrt((x * x).mean())))
                )
            except Exception:
                rows.append((False, None, None, None, None, None))
        df = pd.DataFrame(rows, columns=["decode_ok", "sample_rate", "n_channels",
                                         "n_samples", "duration_s", "rms"])
        df["sample_rate"] = df["sample_rate"].astype("Int32")
        df["n_channels"] = df["n_channels"].astype("Int32")
        df["n_samples"] = df["n_samples"].astype("Int64")
        return df

    return _stats(bytes_col)


# --------------------------------------------------------------------------
# video: QVID stub container + real frame-sampling plumbing
# --------------------------------------------------------------------------

_QVID_MAGIC = b"QVID"


def qvid_encode(frames: list[np.ndarray], fps: int = 8) -> bytes:
    """STUB video container: magic, fps, frame count, then length-prefixed
    frames, each a baseline JPEG (``codecs.encode``).  Deterministic; stands
    in for mp4/webm, for which no codec exists here — the SAMPLING plumbing
    below (offset walk, every-k-th decode, mapInPandas explode) is exactly
    what a real demuxer integration would use."""
    payloads = [codecs.encode(f, "jpeg") for f in frames]
    out = [_QVID_MAGIC, struct.pack("<HI", fps, len(payloads))]
    for p in payloads:
        out.append(struct.pack("<I", len(p)))
        out.append(p)
    return b"".join(out)


def qvid_frame_offsets(data: bytes) -> tuple[int, list[tuple[int, int]]]:
    """(fps, [(offset, length), ...]) without decoding any frame — the
    metadata-only pass (analogue of pydicom stop_before_pixels)."""
    if data[:4] != _QVID_MAGIC:
        raise ValueError("not a QVID stream")
    fps, n = struct.unpack("<HI", data[4:10])
    pos, out = 10, []
    for _ in range(n):
        (ln,) = struct.unpack("<I", data[pos : pos + 4])
        out.append((pos + 4, ln))
        pos += 4 + ln
    return fps, out


FRAME_SCHEMA = (
    "video_id string, frame_idx int, n_frames int, fps int, "
    "frame_bytes binary, frame_w int, frame_h int"
)


def sample_frames(
    df: DataFrame, id_col: str, bytes_col: str, every_k: int = 4
) -> DataFrame:
    """Every k-th frame of each video as its own row — ``mapInPandas`` so a
    row fans out to N rows with no join/explode of a pre-built array (frames
    are decoded lazily per sampled index, never all at once).  Undecodable
    videos are dropped (count them upstream via a decode_ok check)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid, data in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    fps, offs = qvid_frame_offsets(bytes(data))
                except Exception:
                    continue
                b = bytes(data)
                for i in range(0, len(offs), every_k):
                    off, ln = offs[i]
                    frame = codecs.decode(b[off : off + ln], "jpeg")
                    rows.append(
                        (vid, i, len(offs), fps,
                         bytearray(b[off : off + ln]),
                         frame.shape[1], frame.shape[0])
                    )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["video_id", "frame_idx", "n_frames", "fps",
                                   "frame_bytes", "frame_w", "frame_h"]
                )

    return df.select(
        F.col(id_col).alias(id_col), F.col(bytes_col).alias(bytes_col)
    ).mapInPandas(gen, FRAME_SCHEMA)


# --------------------------------------------------------------------------
# dataset normalization constants (per-channel mean/std)
# --------------------------------------------------------------------------

_CHAN_SCHEMA = T.StructType(
    [
        T.StructField("n_px", T.LongType()),
        T.StructField("s", T.ArrayType(T.DoubleType())),
        T.StructField("ss", T.ArrayType(T.DoubleType())),
        T.StructField("ok", T.BooleanType()),
    ]
)


def channel_stats(df: DataFrame, bytes_col: str, fmt_col: str) -> DataFrame:
    """Dataset normalization constants — the per-channel pixel mean/std a
    vision training run bakes into its preprocessing: each image reduces
    to 7 numbers inside the Arrow batch (pixel count + per-channel sum and
    sum-of-squares — the two-moment trick, so no second pass), then ONE
    map-side-combinable global aggregate.  Undecodable rows are counted
    (``n_failed``) but excluded from the moments.  Output is a single row:
    ``(n_images, n_failed, n_pixels, mean_r/g/b, std_r/g/b)``, round-6.

    At 10^12 images this is the cheapest possible shape: decode is pure
    map work, the shuffle carries 9 values per PARTITION (row/failed/pixel
    counts + 6 moment sums, partial agg), and nothing is collected but the
    final row."""

    @F.pandas_udf(_CHAN_SCHEMA)
    def _moments(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
        out = []
        for img in _decoded_batch(data, fmt):
            if img is None:
                out.append((None, None, None, False))
            else:
                px = img.astype(np.float64) / 255.0
                out.append(
                    (
                        int(px.shape[0] * px.shape[1]),
                        px.sum(axis=(0, 1)).tolist(),
                        (px * px).sum(axis=(0, 1)).tolist(),
                        True,
                    )
                )
        return pd.DataFrame(out, columns=["n_px", "s", "ss", "ok"])

    m = df.select(_moments(F.col(bytes_col), F.col(fmt_col)).alias("_m")).select(
        "_m.n_px", "_m.s", "_m.ss", "_m.ok"
    )
    agg = m.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.coalesce(F.sum((~F.col("ok")).cast("long")), F.lit(0)).alias("n_failed"),
        F.coalesce(F.sum("n_px"), F.lit(0)).alias("n_pixels"),
        *[F.sum(F.col("s")[c]).alias(f"_s{c}") for c in range(3)],
        *[F.sum(F.col("ss")[c]).alias(f"_ss{c}") for c in range(3)],
    )
    names = ["r", "g", "b"]
    means = [
        F.round(F.col(f"_s{c}") / F.col("n_pixels"), 6).alias(f"mean_{names[c]}")
        for c in range(3)
    ]
    stds = [
        # clamp at 0: E[x²]−E[x]² cancels to ~−1e-17 for constant channels
        # and sqrt(negative) would be NaN instead of 0
        F.round(
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    F.col(f"_ss{c}") / F.col("n_pixels")
                    - (F.col(f"_s{c}") / F.col("n_pixels")) ** 2,
                )
            ),
            6,
        ).alias(f"std_{names[c]}")
        for c in range(3)
    ]
    return agg.select("n_images", "n_failed", "n_pixels", *means, *stds)
