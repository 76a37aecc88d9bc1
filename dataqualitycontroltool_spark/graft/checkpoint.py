"""Checkpoint-resumable per-partition pipeline orchestrator (north_rule:
"execution is checkpoint-resumable per Iceberg partition ... with
per-partition lineage + metrics").

Driver-side loop over the input table's partitions.  The input may be a
parquet directory (the sandbox stand-in, partitioned by ``part``) or a
catalog (Iceberg) table ref — see ``graft/io.py``; on a real cluster the
partition list comes from Iceberg snapshot metadata, not a data scan:

* **step 0** — the global exact-dup index (phash → keeper) is computed once
  and persisted; every partition job reuses it, so resumed runs produce
  byte-identical keep/drop decisions to a single-shot run.
* **per partition** — filter the corpus (read once per call) to that
  partition (partition pruning: the ``part = N`` filter reaches the parquet
  scan), run the pipeline, write ``out/part=N``, then commit one lineage
  marker ``_manifest/part-N.json`` (partition, rows in/kept/dropped, scrub
  counts, drop-reason counts, wall seconds).  The lineage row comes from an
  ``Observation`` on the write itself (``pipeline.lineage_columns``), so it
  costs no job of its own.  The marker is written only AFTER the
  partition's output commits, so a crash mid-partition re-runs exactly
  that partition on resume.

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

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from dataqualitycontroltool_spark.graft import io as gio
from dataqualitycontroltool_spark.graft.io import corpus_partitions, read_corpus
from dataqualitycontroltool_spark.graft.pipeline import (
    build_dedup_index,
    lineage_columns,
    run_pipeline,
)
from dataqualitycontroltool_spark.graft.rules import KeepDropConfig

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
    if not cfg.dedupe_on:
        return None
    idx_path = _join(out_path, DEDUP_DIR)
    if not gio.fs_exists(spark, _join(idx_path, "_SUCCESS")):
        idx = build_dedup_index(read_corpus(spark, in_path), cfg)
        idx.write.mode("overwrite").parquet(idx_path)
    return spark.read.parquet(idx_path)


def run_resumable(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    cfg: KeepDropConfig | None = None,
    max_partitions: int | None = None,
) -> list[dict]:
    """Process every not-yet-done partition; return the lineage rows written
    THIS call.  ``max_partitions`` lets tests simulate a mid-run crash."""
    cfg = cfg or KeepDropConfig()
    done = read_manifest(out_path, spark)
    idx = ensure_dedup_index(spark, in_path, out_path, cfg)

    # in_path may be a parquet directory or a catalog (Iceberg) table ref;
    # for Iceberg the partition list comes from snapshot metadata, not a scan
    pending = [p for p in corpus_partitions(spark, in_path) if p not in done]
    if max_partitions is not None:
        pending = pending[:max_partitions]

    corpus = read_corpus(spark, in_path)
    written: list[dict] = []
    for part in pending:
        t0 = time.perf_counter()
        result = run_pipeline(corpus.where(F.col("part") == part), cfg, dedup=idx)
        # observe() is the last operator before the sink, so the lineage row
        # is aggregated inside the write's own result stage (each task
        # counted once) and obs.get returns only after the output commits
        obs = Observation()
        (
            result.drop("part").observe(obs, *lineage_columns())
            .write.mode("overwrite")
            .parquet(_join(out_path, f"part={part}"))
        )
        row = {"part": int(part), **obs.get,
               "wall_s": round(time.perf_counter() - t0, 3)}
        _commit_manifest(spark, out_path, row)
        written.append(row)
    return written


def read_output(spark: SparkSession, out_path: str) -> DataFrame:
    """The filtered table across all completed partitions."""
    done = sorted(read_manifest(out_path, spark))
    paths = [_join(out_path, f"part={p}") for p in done]
    df = spark.read.parquet(*paths)
    return df
