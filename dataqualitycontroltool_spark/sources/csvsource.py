"""CSV source — dialect sniffing + header sanitization + raw-string schema.

Reference behavior re-expressed (`/root/reference/mipqctool/model/
qcfrictionless/qctable.py:29-49`): open as utf-8-sig (BOM stripped),
``csv.Sniffer`` dialect detection on a bounded head sample, header row
extraction; headers sanitized to identifier-safe names
(`qctable.py:153-156`, `qcschema.py:189-198` → specs.sanitize_header).

Spark split of responsibilities: the SNIFF and the header row are
driver-side on a few KB (the reference reads the same head sample), while
the SCAN is the distributed ``spark.read.csv`` with the sniffed dialect and
an explicit all-string schema — Spark's parallel CSV reader splits the file
by byte ranges, so a 100TB CSV ingests wide, and no job runs until the
frame is used.  All columns load as raw strings (the reference's semantics —
validation/inference are defined on raw cells); the validation plan or
``TableSpec`` casting decides types downstream."""

from __future__ import annotations

import codecs as _codecs
import csv as _csv

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from dataqualitycontroltool_spark.specs import sanitize_header

_SNIFF_BYTES = 64 * 1024
_JAVA_TRIM = "".join(map(chr, range(33)))  # what String.trim strips


def _head_file(path: str) -> str:
    """Resolve a direct file, a directory (Spark CSV output), or a glob to
    one representative part file for driver-side sniffing."""
    import glob
    import os

    if os.path.isfile(path):
        return path
    if os.path.isdir(path):
        cands = sorted(glob.glob(os.path.join(path, "*.csv"))) or sorted(
            glob.glob(os.path.join(path, "part-*"))
        )
    else:
        cands = sorted(glob.glob(path))
    if not cands:
        raise FileNotFoundError(path)
    return cands[0]


def sniff_dialect(path: str, sample_bytes: int = _SNIFF_BYTES) -> dict:
    """Driver-side dialect detection on the file head.

    Returns {delimiter, quotechar, has_header, encoding} — falls back to
    comma/doublequote when the sniffer can't decide (single-column files)."""
    with open(_head_file(path), "rb") as f:
        head = f.read(sample_bytes)
    encoding = "utf-8-sig" if head.startswith(_codecs.BOM_UTF8) else "utf-8"
    text = head.decode(encoding, errors="replace")
    # drop a possibly-truncated last line so the sniffer sees whole rows
    sample = text[: text.rfind("\n") + 1] or text
    try:
        dialect = _csv.Sniffer().sniff(sample, delimiters=",;\t|")
        delim, quote = dialect.delimiter, dialect.quotechar or '"'
    except _csv.Error:
        delim, quote = ",", '"'
    try:
        has_header = _csv.Sniffer().has_header(sample)
    except _csv.Error:
        has_header = True
    return {
        "delimiter": delim,
        "quotechar": quote,
        "has_header": has_header,
        "encoding": encoding,
    }


def read_headers(path: str, dialect: dict) -> list[str]:
    """Raw header row (driver-side): the first line that is not blank, as
    Spark's CSV reader skips lines that Java's ``trim`` empties."""
    with open(path, encoding=dialect["encoding"], newline="") as f:
        line = next((ln for ln in f if ln.strip(_JAVA_TRIM)), "")
    reader = _csv.reader([line], delimiter=dialect["delimiter"], quotechar=dialect["quotechar"])
    return next(reader, [])


def _spark_column_names(raw: list[str], header: bool) -> list[str]:
    """The names Spark's CSV reader gives a file whose first row is ``raw``
    (``CSVUtils.makeSafeHeader``): ``_c{i}`` without a header or for an
    empty name, ``{name}{i}`` for a name repeated case-insensitively."""
    if not header:
        return [f"_c{i}" for i in range(len(raw))]
    lower = [n.lower() for n in raw]
    dup = {n for n in lower if lower.count(n) > 1}
    return [
        f"_c{i}" if n == "" else f"{n}{i}" if n.lower() in dup else n
        for i, n in enumerate(raw)
    ]


def read_csv(
    spark: SparkSession,
    path: str,
    sanitize_headers: bool = True,
    multiline: bool = False,
    header: bool = True,
) -> DataFrame:
    """Distributed CSV scan with the sniffed dialect; every column is a raw
    string (reference semantics).  ``PERMISSIVE`` mode pads/truncates ragged
    rows like the reference's row-length normalization (`qcschema.py:92-100`).

    The first row is the header by default — the reference always reads one
    (`qctable.py:40-44`); the sniffer's has_header guess is exposed via
    :func:`sniff_dialect` for callers handling headerless exports.  The
    schema comes from the driver-side header row named the way Spark's
    reader names it (case-insensitive duplicates a→a0, a1; empty → _c{i}),
    so building the frame runs no job; :func:`_dedupe` handles the
    collisions those positional names (a,a0,a → a0,a0,a2) and sanitization
    introduce."""
    d = sniff_dialect(path)
    # deduped here: a schema with a duplicate name fails before any rename
    names = _dedupe(_spark_column_names(read_headers(_head_file(path), d), header))
    reader = (
        spark.read.schema(StructType([StructField(n, StringType()) for n in names]))
        .option("header", str(header).lower())
        .option("sep", d["delimiter"])
        .option("quote", d["quotechar"])
        .option("encoding", "UTF-8")
        .option("mode", "PERMISSIVE")
        .option("multiLine", str(multiline).lower())
    )
    df = reader.csv(path)
    if header and sanitize_headers:
        clean = _dedupe([sanitize_header(c) for c in df.columns])
        df = df.toDF(*clean)
    return df


def _dedupe(names: list[str]) -> list[str]:
    """Suffix duplicate names (a_1, a_2, ...) — Spark rejects duplicate
    column names where the reference tolerated them.  Names compare
    case-insensitively, as Spark resolves them, and a suffix never takes a
    name already in use."""
    taken = {n.lower() for n in names}
    seen: set[str] = set()
    out = []
    for n in names:
        name, i = n, 0
        while name.lower() in seen or (i and name.lower() in taken):
            i += 1
            name = f"{n}_{i}"
        seen.add(name.lower())
        out.append(name)
    return out
