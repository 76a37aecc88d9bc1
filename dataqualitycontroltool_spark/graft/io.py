"""Corpus IO seam: parquet path OR catalog (Iceberg) table, transparently.

north_rule runs the pipeline "over Iceberg tables of image + caption pairs".
This sandbox has no Iceberg runtime jars, so the repo's tables are parquet
directories partitioned by ``part`` (the documented stand-in).  This module
is the seam that makes the SAME orchestrator code run against a real Iceberg
catalog table on a cluster:

* ``read_corpus(spark, src)`` — ``spark.table(src)`` for a catalog ref
  (``cat.db.tbl`` — no path separators or URI scheme), ``spark.read.parquet``
  otherwise.  Partition-pruning filters (``part = N``) push down in both
  cases (Iceberg prunes from snapshot metadata; parquet from hive-style
  directory layout).
* ``corpus_partitions(spark, src)`` — the ``part`` values, without a data
  scan wherever the layout allows.  For a path it lists the ``part=N``
  directories through the Hadoop FileSystem (O(#partitions) metadata calls,
  no Spark job), counting a directory only when it holds a data file — the
  rule Spark's own partition discovery applies.  For a catalog ref it tries
  the Iceberg ``<tbl>.partitions`` metadata table (O(#partitions) as well).
  Only a non-Iceberg catalog table (e.g. a temp view in tests) or a path that
  is not laid out by partition falls back to a distinct scan over the data,
  which at 10^12 rows is a full scan.

Output stays a parquet directory (``part=N``) + one ``_manifest/part-N.json``
marker per partition: the manifest is the resume protocol's source of truth
and must be listable/writable without a catalog; on a cluster the filtered
output can be re-registered or ``writeTo``-appended to a table downstream of
the manifest commit.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)


def is_table_ref(src: str) -> bool:
    """True when ``src`` names a catalog table (``cat.db.tbl``), not a path.
    Paths contain a separator or a URI scheme; a bare single-segment name
    that exists on the local filesystem is a relative path (previously the
    only interpretation), not a table ref."""
    if "/" in src or "\\" in src or ":" in src:
        return False
    return not os.path.exists(src)


def read_corpus(spark: SparkSession, src: str) -> DataFrame:
    """Load the corpus from a parquet path or a catalog table ref."""
    if is_table_ref(src):
        return spark.table(src)
    return spark.read.parquet(src)


def corpus_partitions(
    spark: SparkSession, src: str, col: str = "part", df: DataFrame | None = None
) -> list[int]:
    """Sorted partition values, cheapest available way (see module doc).
    ``df`` is the corpus already read from ``src``, used by the distinct-scan
    fallback instead of reading it again.

    A null partition value (Spark writes it to ``col=__HIVE_DEFAULT_PARTITION__``)
    is not supported: it raises ValueError naming ``col``, before any
    partition is planned."""
    if not is_table_ref(src):
        listed = _listed_partitions(spark, src, col)
        if listed is not None:
            return listed
    else:
        try:
            # Iceberg metadata table: partition spec values without a data scan
            rows = (
                spark.table(f"{src}.partitions")
                .select(f"partition.{col}")
                .collect()
            )
        except Exception as exc:
            # not an Iceberg table (temp view, hive table) — or a transient
            # catalog error: either way the fallback is a full distinct scan
            # over the data, which at design scale is exactly the cost this
            # path exists to avoid, so say so instead of degrading silently
            logger.warning(
                "corpus_partitions: %s.partitions metadata table unavailable "
                "(%s); falling back to a distinct scan over the data", src, exc
            )
        else:
            return sorted(_partition_value(col, r[col]) for r in rows)
    df = df if df is not None else read_corpus(spark, src)
    return [
        _partition_value(col, r[col])
        for r in df.select(col).distinct().orderBy(col).collect()
    ]


_NULL_PARTITION_DIR = "__HIVE_DEFAULT_PARTITION__"


def _partition_value(col: str, value) -> int:
    if value is None or value == _NULL_PARTITION_DIR:
        raise ValueError(
            f"corpus_partitions: column {col!r} has null partition values, "
            "which are not supported"
        )
    return int(value)


def _listed_partitions(spark: SparkSession, src: str, col: str) -> list[int] | None:
    """``col=N`` values of the directories under ``src`` that hold at least
    one data file, from a Hadoop FileSystem listing; None when ``src`` has no
    ``col=`` directory (a file, a glob, an unpartitioned directory)."""
    fs, p = _hadoop_fs(spark, src)
    if not fs.exists(p) or not fs.getFileStatus(p).isDirectory():
        return None
    prefix = f"{col}="
    dirs = [st.getPath() for st in fs.listStatus(p)
            if st.isDirectory() and st.getPath().getName().startswith(prefix)]
    if not dirs:
        return None
    # Spark's partition discovery, too, ignores a directory whose files all
    # start with "_" or "." (_SUCCESS, .part-0.crc)
    return sorted(
        _partition_value(col, d.getName()[len(prefix):]) for d in dirs
        if any(st.isFile() and not st.getPath().getName().startswith(("_", "."))
               for st in fs.listStatus(d))
    )


# --------------------------------------------------------------------------
# Hadoop FileSystem access (driver-side, via the session's JVM).
#
# The checkpoint manifest must live NEXT TO the output — on a cluster that
# is HDFS or an object store, not the driver's local disk.  ``pathlib``
# would silently write `hdfs://nn/out/_manifest` under the driver's cwd;
# these helpers resolve the scheme through Hadoop's own FileSystem registry
# so the same orchestrator code runs against file:, hdfs://, s3a://, ...
# All calls are O(#partitions) driver-side metadata ops.
# --------------------------------------------------------------------------


def _hadoop_fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create-with-overwrite a small text file (parents auto-created).
    Object-store safe: one whole-file PUT, no append."""
    fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def fs_read_text(spark: SparkSession, path: str) -> str:
    fs, p = _hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        jvm = spark._jvm
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        stream.close()


def fs_list_names(spark: SparkSession, dir_path: str) -> list[str]:
    """File names directly under ``dir_path`` ([] when it doesn't exist)."""
    fs, p = _hadoop_fs(spark, dir_path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]
