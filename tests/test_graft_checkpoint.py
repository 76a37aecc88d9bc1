"""Checkpoint/resume semantics (north_rule: resumable per partition with
per-partition lineage + metrics): a run interrupted after K partitions and
then resumed must produce byte-identical keep/drop output to a single-shot
run, and must not re-process completed partitions."""

import pandas as pd
import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from dataqualitycontroltool_spark import session
from dataqualitycontroltool_spark.graft import checkpoint, synth
from dataqualitycontroltool_spark.graft.pipeline import run_pipeline
from dataqualitycontroltool_spark.graft.rules import KeepDropConfig

N_ROWS, N_PARTS = 400, 4


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ckpt")
    in_path = str(root / "input")
    synth.write_images(spark, in_path, N_ROWS, N_PARTS, seed=42)
    return in_path, str(root / "out"), str(root / "out_oneshot")


def test_resume_matches_single_shot(spark, paths):
    in_path, out_path, _ = paths
    cfg = KeepDropConfig()

    # simulate a crash after 2 of 4 partitions
    first = checkpoint.run_resumable(spark, in_path, out_path, cfg, max_partitions=2)
    assert [r["part"] for r in first] == [0, 1]
    assert len(checkpoint.read_manifest(out_path)) == 2

    # resume: only the remaining partitions run
    second = checkpoint.run_resumable(spark, in_path, out_path, cfg)
    assert [r["part"] for r in second] == [2, 3]
    manifest = checkpoint.read_manifest(out_path)
    assert len(manifest) == 4
    assert sum(r["rows_in"] for r in manifest.values()) == N_ROWS

    # third call: nothing left
    assert checkpoint.run_resumable(spark, in_path, out_path, cfg) == []

    resumed = (
        checkpoint.read_output(spark, out_path)
        .select("image_id", "keep", "drop_reason", "caption_scrubbed")
        .toPandas().sort_values("image_id").reset_index(drop=True)
    )
    oneshot = (
        run_pipeline(spark.read.parquet(in_path), cfg)
        .select("image_id", "keep", "drop_reason", "caption_scrubbed")
        .toPandas().sort_values("image_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(resumed, oneshot)


def test_lineage_manifest_contents(spark, paths):
    in_path, out_path, _ = paths
    manifest = checkpoint.read_manifest(out_path)
    for row in manifest.values():
        assert row["rows_in"] == row["kept"] + row["dropped"]
        assert row["wall_s"] > 0
        assert row["rows_scrubbed"] >= 0


def test_manifest_drop_reasons_match_histogram(spark, paths):
    """The markers' drop-reason counts come from an Observation on the
    partition write; summed over partitions they must equal the histogram
    of the committed output exactly."""
    from dataqualitycontroltool_spark.graft.pipeline import drop_reason_histogram

    _, out_path, _ = paths
    manifest = checkpoint.read_manifest(out_path)
    summed: dict[str, int] = {}
    for row in manifest.values():
        assert sum(row["drop_reasons"].values()) == row["dropped"]
        for reason, n in row["drop_reasons"].items():
            summed[reason] = summed.get(reason, 0) + n
    hist = {r.reason: r.n_rows for r in
            drop_reason_histogram(checkpoint.read_output(spark, out_path)).collect()}
    assert hist.pop("kept") == sum(r["kept"] for r in manifest.values())
    assert summed == hist


def test_jobs_per_partition(spark, paths, tmp_path):
    """Lineage rides on the partition write: beyond the per-call setup (one
    corpus read and the dedup index; the partition list of a path is a
    FileSystem listing, not a job) each partition costs at most its dedup
    broadcast and its write — no read-back, no re-aggregate.  Four
    partitions measure 11 jobs: 1 corpus schema read, 2 for the index
    write and 2 per partition.  The partitions run on pool threads, which
    must inherit the caller's job group: each extra partition adds at least
    its write job to the group."""
    in_path, _, _ = paths
    sc = spark.sparkContext

    def jobs(name, **kw):
        sc.setJobGroup(name, "run_resumable job count")
        try:
            checkpoint.run_resumable(
                spark, in_path, str(tmp_path / name), KeepDropConfig(), **kw)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    one = jobs("jobs-one-part", max_partitions=1)
    every = jobs("jobs-all-parts")
    assert every - one <= 2 * (N_PARTS - 1), (one, every)
    assert every <= 11, every
    assert every >= one + (N_PARTS - 1), (one, every)


def test_one_pipeline_plan_per_call(spark, paths, tmp_path, monkeypatch):
    """The pipeline plan is built once per call and filtered per partition,
    not rebuilt for every pending partition: a plan build is hundreds of
    py4j round trips of driver time."""
    in_path, _, _ = paths
    real = checkpoint.run_pipeline
    calls = []

    def counting(df, *args, **kw):
        calls.append(df)
        return real(df, *args, **kw)

    monkeypatch.setattr(checkpoint, "run_pipeline", counting)
    rows = checkpoint.run_resumable(
        spark, in_path, str(tmp_path / "out"), KeepDropConfig())
    assert [r["part"] for r in rows] == list(range(N_PARTS))
    assert len(calls) == 1


def test_partition_filter_reaches_the_corpus_scan(spark, paths, tmp_path):
    """Each partition job runs the whole-corpus plan filtered to its
    partition; the filter must reach the corpus scan as a partition filter
    (through the UDF projection and the broadcast dedup join), or every
    partition job would scan the whole corpus."""
    import re

    in_path, _, _ = paths
    cfg = KeepDropConfig()
    idx = checkpoint.ensure_dedup_index(spark, in_path, str(tmp_path), cfg)
    plan = (run_pipeline(spark.read.parquet(in_path), cfg, dedup=idx)
            .where(F.col("part") == 2))
    executed = plan._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in executed.splitlines()
             if "FileScan parquet" in ln and in_path in ln]
    assert scans, executed
    for scan in scans:
        assert re.search(r"PartitionFilters: \[[^\]]*\(part#\d+ = 2\)", scan), scan


def test_corpus_partitions_of_a_path_runs_no_job(spark, tmp_path):
    """A parquet path's partition list comes from a FileSystem listing: no
    job, the same values as a distinct over the data, and a ``part=`` dir
    holding only ``_SUCCESS`` or hidden files is not a partition (Spark's
    partition discovery ignores it too)."""
    from dataqualitycontroltool_spark.graft.io import corpus_partitions

    in_path = str(tmp_path / "input")
    synth.write_images(spark, in_path, 120, 3, seed=5)
    junk = tmp_path / "input" / "part=9"
    junk.mkdir()
    (junk / "_SUCCESS").write_text("")
    (junk / ".part-0.parquet.crc").write_text("x")

    sc = spark.sparkContext
    group = "corpus-partitions-no-job"
    sc.setJobGroup(group, "corpus_partitions listing")
    try:
        got = corpus_partitions(spark, in_path)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    distinct = [r.part for r in spark.read.parquet(in_path)
                .select("part").distinct().orderBy("part").collect()]
    assert got == distinct == [0, 1, 2]


def test_zero_row_partition_is_committed(spark, tmp_path):
    """A ``part=N`` directory whose only data file has no rows is a
    partition of the listing (a distinct over the data never sees it), so
    ``run_resumable`` writes and commits it with ``rows_in`` 0."""
    import shutil

    from dataqualitycontroltool_spark.graft.io import corpus_partitions

    in_path = tmp_path / "input"
    synth.write_images(spark, str(in_path), 100, 2, seed=11)
    empty = tmp_path / "empty"
    spark.read.parquet(str(in_path)).limit(0).drop("part") \
        .coalesce(1).write.parquet(str(empty))
    (in_path / "part=5").mkdir()
    for f in empty.glob("part-*.parquet"):
        shutil.copy(f, in_path / "part=5" / f.name)
    assert corpus_partitions(spark, str(in_path)) == [0, 1, 5]

    out = str(tmp_path / "out")
    rows = checkpoint.run_resumable(spark, str(in_path), out, KeepDropConfig())
    assert [r["part"] for r in rows] == [0, 1, 5]
    zero = checkpoint.read_manifest(out, spark)[5]
    assert (zero["rows_in"], zero["kept"], zero["dropped"]) == (0, 0, 0)
    assert zero["drop_reasons"] == {}
    assert checkpoint.read_output(spark, out).count() == 100


def test_null_partition_values_are_rejected_before_any_partition(spark, tmp_path):
    """A null ``part`` (written to ``part=__HIVE_DEFAULT_PARTITION__``) is
    not supported: the partition listing and the distinct-scan fallback
    raise one ValueError naming the column, and ``run_resumable`` raises it
    before any partition is planned, so no marker is written."""
    from dataqualitycontroltool_spark.graft.io import corpus_partitions

    in_path = str(tmp_path / "input")
    corpus = synth.generate_images(spark, 40, 2, seed=42).withColumn(
        "part", F.when(F.col("image_id").endswith("1"), None).otherwise(F.col("part")))
    corpus.write.partitionBy("part").parquet(in_path)
    spark.read.parquet(in_path).createOrReplaceTempView("null_part_v")
    match = "column 'part' has null partition values, which are not supported"
    for src in (in_path, "null_part_v"):
        with pytest.raises(ValueError, match=match):
            corpus_partitions(spark, src)

    out = tmp_path / "out"
    with pytest.raises(ValueError, match=match):
        checkpoint.run_resumable(spark, in_path, str(out), KeepDropConfig())
    assert not (out / checkpoint.MANIFEST_DIR).exists()


def test_pool_size():
    """Pool sizing (``session.concurrent_jobs``, which runs the pending
    partitions) is pure: bounded by the pending partitions, by the
    cluster's parallelism and by a fixed cap however many cores or
    partitions there are."""
    cap = session._MAX_CONCURRENT_JOBS
    assert 2 <= cap <= 16
    assert session._pool_size(1, 2) == 1
    assert session._pool_size(1, 4_000) == 1
    assert session._pool_size(3, 2) == 2
    assert session._pool_size(10_000, 2) == 2
    assert session._pool_size(3, 4_000) == 3
    assert session._pool_size(10_000, 4_000) == cap
    assert session._pool_size(5, 1) == 1


def test_unpinned_thread_mode(spark, paths, tmp_path, monkeypatch):
    """Outside pinned-thread mode (``PYSPARK_PIN_THREAD=false``, gateway not
    a py4j ``ClientServer``) PySpark has no per-thread local properties to
    copy: the partition body runs unwrapped and several partitions still
    complete.  In pinned mode the wrapper is silent (no tags warning)."""
    import warnings

    from pyspark import SparkContext

    in_path, _, _ = paths

    def body():
        return None

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert session._inherit_local_properties(body) is not body

    class NotClientServer:
        def __init__(self, gateway):
            self._gateway = gateway

        def __getattr__(self, name):
            return getattr(self._gateway, name)

    monkeypatch.setattr(SparkContext, "_gateway", NotClientServer(SparkContext._gateway))
    assert session._inherit_local_properties(body) is body
    out = str(tmp_path / "out")
    rows = checkpoint.run_resumable(spark, in_path, out, KeepDropConfig(),
                                    max_partitions=2)
    assert [r["part"] for r in rows] == [0, 1]
    assert sorted(checkpoint.read_manifest(out, spark)) == [0, 1]


def test_failed_partition_does_not_stop_the_others(spark, paths, tmp_path, monkeypatch):
    """One partition raising must not cost the others their output or
    marker: all pending partitions run, the failure is raised after they
    finish, and the next call re-runs only the failed partition."""
    in_path, _, _ = paths
    out_dir = tmp_path / "out"
    out = str(out_dir)
    real = checkpoint.run_pipeline

    def failing_part_2(df, *args, **kw):
        # the failure fires inside part 2's own write job, on its rows only
        out = real(df, *args, **kw)
        return out.withColumn("caption", F.when(
            F.col("part") == 2, F.raise_error(F.lit("injected failure in part 2"))
        ).otherwise(F.col("caption")))

    monkeypatch.setattr(checkpoint, "run_pipeline", failing_part_2)
    with pytest.raises(SparkRuntimeException, match="injected failure in part 2"):
        checkpoint.run_resumable(spark, in_path, out, KeepDropConfig())

    manifest = checkpoint.read_manifest(out, spark)
    assert sorted(manifest) == [0, 1, 3]
    per_part = {r.part: r["count"] for r in
                spark.read.parquet(in_path).groupBy("part").count().collect()}
    for part, row in manifest.items():
        assert row["rows_in"] == per_part[part]
        assert (out_dir / f"part={part}" / "_SUCCESS").exists()
        assert spark.read.parquet(str(out_dir / f"part={part}")).count() == row["rows_in"]

    monkeypatch.setattr(checkpoint, "run_pipeline", real)
    redo = checkpoint.run_resumable(spark, in_path, out, KeepDropConfig())
    assert [r["part"] for r in redo] == [2]
    assert sorted(checkpoint.read_manifest(out, spark)) == list(range(N_PARTS))

    got = (checkpoint.read_output(spark, out)
           .select("image_id", "keep", "drop_reason", "caption_scrubbed")
           .toPandas().sort_values("image_id").reset_index(drop=True))
    oneshot = (run_pipeline(spark.read.parquet(in_path), KeepDropConfig())
               .select("image_id", "keep", "drop_reason", "caption_scrubbed")
               .toPandas().sort_values("image_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, oneshot)


def test_catalog_table_ref_input(spark, paths, tmp_path):
    """in_path may be a catalog table ref instead of a parquet path (the
    Iceberg surface on a real cluster): same manifest, same output.  A temp
    view exercises the spark.table dispatch + the distinct-scan fallback of
    corpus_partitions (the Iceberg .partitions metadata path needs the
    Iceberg runtime, absent in this sandbox)."""
    from dataqualitycontroltool_spark.graft.io import (
        corpus_partitions, is_table_ref, read_corpus)

    in_path, out_path, _ = paths
    assert not is_table_ref(in_path) and not is_table_ref("file:/x/y")
    assert is_table_ref("cat.db.images") and is_table_ref("images")

    spark.read.parquet(in_path).createOrReplaceTempView("corpus_v")
    assert read_corpus(spark, "corpus_v").count() == N_ROWS
    assert corpus_partitions(spark, "corpus_v") == list(range(N_PARTS))

    out_tbl = str(tmp_path / "out_tbl")
    rows = checkpoint.run_resumable(spark, "corpus_v", out_tbl, KeepDropConfig())
    assert [r["part"] for r in rows] == list(range(N_PARTS))
    got = (checkpoint.read_output(spark, out_tbl)
           .select("image_id", "keep").toPandas()
           .sort_values("image_id").reset_index(drop=True))
    exp = (checkpoint.read_output(spark, out_path)
           .select("image_id", "keep").toPandas()
           .sort_values("image_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp)


def test_uri_out_path_and_manifest_on_hadoop_fs(spark, paths, tmp_path):
    """On a cluster ``out_path`` is an HDFS/object-store URI, not a local
    path.  A ``file:`` URI exercises the same Hadoop FileSystem dispatch:
    the manifest markers must land under the URI (not the driver cwd),
    resume must see them, and the output must match the plain-path run."""
    in_path, out_path, _ = paths
    uri_out = "file:" + str(tmp_path / "out_uri")

    first = checkpoint.run_resumable(
        spark, in_path, uri_out, KeepDropConfig(), max_partitions=1)
    assert [r["part"] for r in first] == [0]
    # marker is physically under the URI's local mapping
    assert (tmp_path / "out_uri" / "_manifest" / "part-0.json").exists()

    rest = checkpoint.run_resumable(spark, in_path, uri_out, KeepDropConfig())
    assert [r["part"] for r in rest] == [1, 2, 3]

    got = (checkpoint.read_output(spark, uri_out)
           .select("image_id", "keep").toPandas()
           .sort_values("image_id").reset_index(drop=True))
    exp = (checkpoint.read_output(spark, out_path)
           .select("image_id", "keep").toPandas()
           .sort_values("image_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp)


def test_corrupt_marker_treated_as_not_done(spark, tmp_path):
    """A crash between marker create() and write leaves an empty/truncated
    file; resume must treat that partition as NOT done (and re-run it), not
    wedge every future run on a JSONDecodeError."""
    in_path = str(tmp_path / "input")
    synth.write_images(spark, in_path, 200, 2, seed=3)
    out = str(tmp_path / "out")

    checkpoint.run_resumable(spark, in_path, out, KeepDropConfig())
    assert sorted(checkpoint.read_manifest(out, spark)) == [0, 1]

    # simulate the crash window: truncate one marker
    import pathlib
    (pathlib.Path(out) / "_manifest" / "part-1.json").write_text("")
    assert sorted(checkpoint.read_manifest(out, spark)) == [0]

    redo = checkpoint.run_resumable(spark, in_path, out, KeepDropConfig())
    assert [r["part"] for r in redo] == [1]  # re-ran exactly the broken one
    assert sorted(checkpoint.read_manifest(out, spark)) == [0, 1]


def test_bare_relative_path_is_not_a_table_ref(tmp_path, monkeypatch):
    from dataqualitycontroltool_spark.graft.io import is_table_ref

    (tmp_path / "corpus").mkdir()
    monkeypatch.chdir(tmp_path)
    assert not is_table_ref("corpus")       # existing bare dir = path
    assert is_table_ref("corpus_missing")   # nonexistent bare name = table


def _phash_path(n, seed):
    """n int64 phashes in random numeric order along a path: neighbours
    differ in exactly 3 bits, every other pair in at least 4."""
    import numpy as np

    rng = np.random.default_rng(seed)
    while True:
        v = [int(rng.integers(0, 2**63))]
        for _ in range(n - 1):
            flips = rng.choice(64, 3, replace=False)
            v.append(v[-1] ^ int(sum(1 << int(b) for b in flips)))
        v = [x - 2**64 if x >= 2**63 else x for x in v]  # as signed int64
        u = np.array(v, dtype=np.int64).view(np.uint64)
        ham = np.array([[bin(int(a ^ b)).count("1") for b in u] for a in u])
        near = np.abs(np.subtract.outer(np.arange(n), np.arange(n))) == 1
        if (ham[near] == 3).all() and (ham[~near & (ham > 0)] >= 4).all() \
                and len(set(v)) == n:
            return v


def test_hamming_dedup_index_on_random_order_phash_path(spark, tmp_path):
    """A near-dup chain whose phash values fall in random order along it is
    ONE duplicate group with the least image_id as keeper.  Min-label
    propagation with pointer jumping ran out of rounds on this input."""
    import random

    phashes = _phash_path(128, 7)
    image_ids = [f"img-{i:04d}" for i in range(128)]
    random.Random(7).shuffle(image_ids)
    in_path = str(tmp_path / "input")
    spark.createDataFrame(
        list(zip(image_ids, phashes)), "image_id string, phash long"
    ).write.parquet(in_path)
    idx = checkpoint.ensure_dedup_index(
        spark, in_path, str(tmp_path / "out"), KeepDropConfig(dedupe_hamming=3))
    groups = {(r.keeper_id, r.n_members) for r in idx.collect()}
    assert groups == {("img-0000", 128)}
    assert idx.count() == 128
