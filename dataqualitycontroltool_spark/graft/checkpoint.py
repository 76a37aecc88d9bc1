"""Checkpoint-resumable per-partition pipeline orchestrator (north_rule:
"execution is checkpoint-resumable per Iceberg partition ... with
per-partition lineage + metrics").

The driver runs the input table's pending partitions concurrently, each as
its own small Spark job, from a bounded thread pool.  The input may be a
parquet directory (the sandbox stand-in, partitioned by ``part``) or a
catalog (Iceberg) table ref — see ``graft/io.py``.  Everything that does not
depend on the partition is done once per call:

* **one read, one partition list** — the corpus is read once; that frame
  feeds the dedup index, the partition list and every partition query.  For
  a path the partition list is a FileSystem listing of the ``part=N``
  directories, for Iceberg the snapshot metadata: no data scan, no job.
* **step 0** — the global exact-dup index (phash → keeper) is computed once
  and persisted; every partition job reuses it, so resumed runs produce
  byte-identical keep/drop decisions to a single-shot run.  A freshly written
  index is read back under the schema it was written with (no schema job).
* **one plan** — ``run_pipeline`` over the whole corpus and the lineage
  aggregate are built once per call (a plan build is hundreds of py4j round
  trips on the driver, so building one per partition grows with the
  partition count).
* **per partition** — that plan filtered to ``part = N`` (Catalyst pushes the
  filter through the UDF projection and the broadcast join into the scan's
  partition filters, so each job reads only its own partition), written to
  ``out/part=N``, then one lineage marker ``_manifest/part-N.json``
  (partition, rows in/kept/dropped, scrub counts, drop-reason counts, wall
  seconds).  The lineage row comes from an ``Observation`` on the write
  itself (``pipeline.lineage_columns``), so it costs no job of its own.  Each
  partition's marker is written only AFTER that partition's output commits,
  so a crash mid-partition re-runs exactly that partition on resume.
* **concurrency** — one partition job has about one task per input file,
  so one job at a time leaves most executor cores idle.  Up to
  ``min(pending, defaultParallelism, 8)`` partitions run at once
  (``session.concurrent_jobs``); in pinned-thread mode (PySpark's default)
  each worker thread inherits the caller's job group and local properties.
  A failing partition does not stop the others: every pending partition
  runs to its own commit or failure, and the first failure (in partition
  order) is raised after all have finished, so a resume re-runs only the
  failed partitions.

The manifest lives NEXT TO the output and is accessed through the Hadoop
FileSystem API (``graft/io.py``), so ``out_path`` may be ``file:``,
``hdfs://`` or ``s3a://`` — exactly where a cluster run would put it.  One
whole-file marker per partition (create-with-overwrite, idempotent) rather
than appending a shared JSONL: object stores have no append, and a
re-driven partition simply overwrites its own marker.
"""

from __future__ import annotations

import json
import logging
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from dataqualitycontroltool_spark.graft import io as gio
from dataqualitycontroltool_spark.graft.io import corpus_partitions, read_corpus
from dataqualitycontroltool_spark.graft.pipeline import (
    build_dedup_index,
    lineage_columns,
    run_pipeline,
)
from dataqualitycontroltool_spark.graft.rules import KeepDropConfig
from dataqualitycontroltool_spark.session import concurrent_jobs

logger = logging.getLogger(__name__)

MANIFEST_DIR = "_manifest"
DEDUP_DIR = "_dedup_index"


def _join(base: str, *parts: str) -> str:
    # URI-safe join: pathlib would collapse "hdfs://nn" to "hdfs:/nn"
    return "/".join([base.rstrip("/"), *parts])


def read_manifest(out_path: str, spark: SparkSession | None = None) -> dict[int, dict]:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:  # pragma: no cover - needs a session for the Hadoop FS
        raise RuntimeError("read_manifest requires an active SparkSession")
    done: dict[int, dict] = {}
    mdir = _join(out_path, MANIFEST_DIR)
    for name in gio.fs_list_names(spark, mdir):
        if name.startswith("part-") and name.endswith(".json"):
            try:
                row = json.loads(gio.fs_read_text(spark, _join(mdir, name)))
            except Exception:
                # a crash between create() and write/close leaves an empty,
                # truncated, or checksum-failing marker — that partition is
                # NOT done; re-running it overwrites the marker (idempotent),
                # so skip, don't wedge every future resume
                logger.warning(
                    "ignoring unreadable manifest marker %s/%s", mdir, name
                )
                continue
            done[int(row["part"])] = row
    return done


def _commit_manifest(spark: SparkSession, out_path: str, row: dict) -> None:
    marker = _join(out_path, MANIFEST_DIR, f"part-{int(row['part'])}.json")
    gio.fs_write_text(spark, marker, json.dumps(row) + "\n")


def ensure_dedup_index(
    spark: SparkSession, in_path: str, out_path: str, cfg: KeepDropConfig
) -> DataFrame | None:
    """Step 0: global dedup index, itself checkpointed."""
    return _dedup_index(spark, lambda: read_corpus(spark, in_path), out_path, cfg)


def _dedup_index(
    spark: SparkSession,
    corpus: Callable[[], DataFrame],
    out_path: str,
    cfg: KeepDropConfig,
) -> DataFrame | None:
    """The dedup index under ``out_path``, built from ``corpus()`` and
    written first unless a committed one is there.  A fresh index is read
    back under the schema of the frame just written, which skips the parquet
    schema-inference job; a committed one (a resumed call) is read as is,
    since building the frame to learn its schema may itself run a job (the
    hamming index's hot-bucket detection)."""
    if not cfg.dedupe_on:
        return None
    idx_path = _join(out_path, DEDUP_DIR)
    if gio.fs_exists(spark, _join(idx_path, "_SUCCESS")):
        return spark.read.parquet(idx_path)
    idx = build_dedup_index(corpus(), cfg)
    idx.write.mode("overwrite").parquet(idx_path)
    return spark.read.schema(idx.schema).parquet(idx_path)


def run_resumable(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    cfg: KeepDropConfig | None = None,
    max_partitions: int | None = None,
) -> list[dict]:
    """Process every not-yet-done partition; return the lineage rows written
    THIS call, in partition order.  ``max_partitions`` takes only the first N
    pending partitions (tests use it to simulate a mid-run crash).

    Pending partitions run concurrently (see the module docstring).  Each
    partition's marker is committed after that partition's output, and a
    failing partition never stops another's write or marker: all run, then
    the first failure in partition order is raised."""
    cfg = cfg or KeepDropConfig()
    done = read_manifest(out_path, spark)
    corpus = read_corpus(spark, in_path)
    pending = [p for p in corpus_partitions(spark, in_path, df=corpus)
               if p not in done]
    if max_partitions is not None:
        pending = pending[:max_partitions]
    if not pending:
        return []

    idx = _dedup_index(spark, lambda: corpus, out_path, cfg)
    filtered = run_pipeline(corpus, cfg, dedup=idx)
    lineage = lineage_columns()

    def write_partition(part: int) -> dict:
        t0 = time.perf_counter()
        # observe() is the last operator before the sink, so the lineage row
        # is aggregated inside the write's own result stage (each task
        # counted once) and obs.get returns only after the output commits
        obs = Observation()
        (
            filtered.where(F.col("part") == part).drop("part")
            .observe(obs, *lineage)
            .write.mode("overwrite")
            .parquet(_join(out_path, f"part={part}"))
        )
        row = {"part": int(part), **obs.get,
               "wall_s": round(time.perf_counter() - t0, 3)}
        _commit_manifest(spark, out_path, row)
        return row

    with concurrent_jobs(spark, len(pending), "run_resumable") as submit:
        futures = [submit(write_partition, part) for part in pending]
    return [f.result() for f in futures]


def read_output(spark: SparkSession, out_path: str) -> DataFrame:
    """The filtered table across all completed partitions."""
    done = sorted(read_manifest(out_path, spark))
    paths = [_join(out_path, f"part={p}") for p in done]
    df = spark.read.parquet(*paths)
    return df
