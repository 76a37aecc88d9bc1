"""SparkSession factory with scale-appropriate defaults.

Single place where execution knobs live so tests / bench / pipeline all agree:
AQE on (runtime re-plan + skew-join splitting), Arrow on (all Python UDFs in this
engine are vectorized pandas UDFs), UTC session timezone (DuckDB-oracle parity),
and shuffle partitions sized to the local core count rather than the 200 default.
On a real cluster the same builder is used; the operator's ``spark-submit``
``--master``/``--conf`` govern, and the semantic defaults here fill in only
where unset.

:func:`concurrent_jobs` is the one way this package submits independent
Spark jobs from several driver threads at once.
"""

from __future__ import annotations

import logging
import os
import warnings
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

logger = logging.getLogger(__name__)

# On a cluster defaultParallelism is the total executor core count, which
# can be thousands; this caps how many jobs the driver plans and tracks at
# once.
_MAX_CONCURRENT_JOBS = 8


def get_spark(
    app_name: str = "dqc-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cpus=None`` means: respect an externally configured master (spark-submit /
    existing session); otherwise run ``local[$SPARK_GRAFT_CPUS or *]``.

    "Externally configured" is detected via ``PYSPARK_GATEWAY_PORT``: when
    spark-submit launches a Python application it starts the JVM gateway first
    (with ``--master``/``--conf``/``--py-files`` already applied) and hands the
    script that port, so setting ``.master()`` here would silently override the
    cluster manager the operator asked for.  An explicit ``cpus=N`` still wins
    (callers like bench_scaling force a local size on purpose).
    """
    external_master = cpus is None and "PYSPARK_GATEWAY_PORT" in os.environ
    if cpus is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(cpus_env) if cpus_env else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name)
    if not external_master:
        builder = builder.master(f"local[{cpus}]")
    if shuffle_partitions is not None or not external_master:
        # local mode: size shuffles to the core count.  Under spark-submit the
        # operator's --conf spark.sql.shuffle.partitions (or AQE) governs —
        # clobbering it with the DRIVER's cpu count would be nonsense on a
        # 1000-executor cluster.
        builder = builder.config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else max(4, int(cpus))),
        )
    defaults = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }
    if not external_master:
        # LOCAL-ONLY tuning — never forced onto a spark-submit launch:
        # * 16MB parquet splits: the default 128MB maxPartitionBytes coalesces
        #   a ~500MB binary-column table into ~4 splits, capping the scan at
        #   4-way parallelism no matter how many cores the session has
        #   (measured: decode stage identical wall time at local[8] and
        #   local[32]).  On a real cluster the operator sizes this.
        # * UI off: pointless for throwaway local sessions; a production run
        #   wants its UI.
        # * driver memory: startup-only, meaningless once spark-submit has
        #   launched the JVM.
        defaults["spark.sql.files.maxPartitionBytes"] = "16m"
        defaults["spark.ui.enabled"] = "false"
        defaults["spark.driver.memory"] = os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "8g"
        )
    else:
        # builder.config OVERRIDES spark-submit system properties — apply the
        # semantic defaults (AQE / Arrow / UTC) only where the operator's
        # --conf / spark-defaults.conf did not already choose a value.
        from pyspark import SparkConf

        preset = dict(SparkConf().getAll())
        defaults = {k: v for k, v in defaults.items() if k not in preset}
    for k, v in defaults.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


_shipped: set = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Local equivalent of ``spark-submit --py-files dqc.zip``: pandas UDFs
    (date re-suggestion, langid, decode) reference package modules from their
    closures, so workers must be able to import the package regardless of cwd.
    """
    import shutil
    import tempfile

    key = id(spark.sparkContext)
    if key in _shipped:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # imported from a zip: spark-submit --py-files already distributed the
        # package to every worker; there is no directory to re-archive.
        _shipped.add(key)
        return
    root = os.path.dirname(pkg_dir)
    zpath = shutil.make_archive(
        os.path.join(tempfile.mkdtemp(prefix="dqc_pyfiles_"), "dqc_spark_pkg"),
        "zip",
        root_dir=root,
        base_dir=os.path.basename(pkg_dir),
    )
    spark.sparkContext.addPyFile(zpath)
    _shipped.add(key)


def _pool_size(n_jobs: int, default_parallelism: int) -> int:
    """Worker threads for ``n_jobs`` (at least one) concurrent jobs."""
    return min(n_jobs, default_parallelism, _MAX_CONCURRENT_JOBS)


def _inherit_local_properties(fn):
    """``fn`` wrapped to run with a copy, taken now, of this thread's Spark
    local properties (job group, description); ``fn`` itself when PySpark
    is not in pinned-thread mode, where JVM threads are not per Python
    thread.  No session tags are used, so the session form is not needed."""
    with warnings.catch_warnings():
        warnings.filterwarnings("ignore", "Spark session is not provided")
        return inheritable_thread_target(fn)


@contextmanager
def concurrent_jobs(spark: SparkSession, n_jobs: int, name: str) -> Iterator:
    """A ``submit(fn, *args)`` that runs ``fn(*args)`` on a pool of
    ``min(n_jobs, defaultParallelism, 8)`` threads and returns its future;
    the block's own thread keeps working meanwhile.

    Each submission is wrapped on the submitting thread, so every job runs
    with its own copy of the caller's local properties (job group,
    description): Spark sets the SQL execution id in them, so the copies
    must not be shared.  A failing job does not stop the others: the block
    exits after every submitted job has finished, then raises the first
    failure in submission order and logs the rest, each named by its
    first argument."""
    submitted = []
    workers = _pool_size(n_jobs, spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(workers, thread_name_prefix=name) as pool:
        def submit(fn, *args):
            future = pool.submit(_inherit_local_properties(fn), *args)
            submitted.append((args, future))
            return future

        yield submit
    failed = [(args, f.exception()) for args, f in submitted if f.exception() is not None]
    for args, exc in failed[1:]:  # only the first failure is raised
        logger.error("%s job %s also failed", name, args[0] if args else "", exc_info=exc)
    if failed:
        raise failed[0][1]
