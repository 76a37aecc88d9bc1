"""Image decode validation — Arrow-batched pandas UDF over the ``bytes``
column.

Graft analogue of the reference's DICOM pixel/metadata validation
(`/root/reference/mipqctool/model/mri/mrisequence.py:122-156`: resolution /
slice-count / protocol checks on decoded headers): decode the stream, check
the decoded dimensions against the ``w``/``h`` metadata, and verify lossy
round-trip fidelity (PSNR ≥ ``MIN_PSNR_DB`` per BASELINE.json input_hint).

Returns one struct column so the whole check stays a single projected
expression; only ``bytes``/``fmt`` are read (Parquet column pruning keeps
pixel bytes out of every other stage).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F, types as T

from dataqualitycontroltool_spark.graft import codecs, vp8l

MIN_PSNR_DB = 40.0

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("dec_w", T.IntegerType()),
        T.StructField("dec_h", T.IntegerType()),
        T.StructField("psnr_db", T.DoubleType()),
    ]
)


def check_bytes(data: bytes | None, fmt: str | None) -> tuple[bool, int | None, int | None, float | None]:
    """Decode + round-trip PSNR for one image (shared with reference_impl)."""
    if data is None or fmt not in codecs.ALL_FORMATS:
        return (False, None, None, None)
    try:
        img = codecs.decode(bytes(data), fmt)
    except Exception:
        return (False, None, None, None)
    h, w = img.shape[:2]
    if fmt == "jpeg":
        p = codecs.psnr(img, codecs.jpeg_roundtrip(img))
    elif fmt == "png" or vp8l.is_vp8l(bytes(data[:16])):
        # LOSSLESS: decode(encode(x)) == x exactly (VP8L pinned in
        # tests/test_vp8l.py), so PSNR is inf by construction — no second
        # encode/decode
        p = float("inf")
    else:
        # a WebP that is not VP8L has no round trip here to check its
        # fidelity against, so it must never pass the PSNR gate as lossless
        return (False, None, None, None)
    return (True, int(w), int(h), float(min(p, 99.0)))


@F.pandas_udf(DECODE_SCHEMA)
def decode_check_udf(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
    rows = [check_bytes(b, f) for b, f in zip(data, fmt)]
    out = pd.DataFrame(rows, columns=["decode_ok", "dec_w", "dec_h", "psnr_db"])
    out["dec_w"] = out["dec_w"].astype("Int32")
    out["dec_h"] = out["dec_h"].astype("Int32")
    return out


def decode_check(bytes_col: Column, fmt_col: Column) -> Column:
    return decode_check_udf(bytes_col, fmt_col)
