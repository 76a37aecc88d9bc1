"""Benchmark entry point.

    python3 perfbench/run.py --workload {filter,validate} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository.  One run:

1. builds the workload's inputs from ``--seed`` (cached under
   ``.bench_work/inputs``, keyed on the seed, every generator parameter and
   the source of the program modules that write the filter corpus)
   and the independent expectations the checks compare against;
2. starts one local Spark session on ``CORES`` cores and runs
   ``WARMUP_ROUNDS`` untimed rounds (``setup_s`` = session start + warm-up);
3. ``--trace 0``: runs whole rounds of the workload's operations until
   ``--seconds`` of operation time have passed and at least ``MIN_ROUNDS``
   rounds, checking every output after the clock stops, and reports the
   end-to-end metrics, each the median over the rounds;
   ``--trace 1``: runs one traced round (event log, a job group per
   operation), calls each layer on its own, and reports the per-layer
   metrics.

The last line of standard output is the JSON result; the line before it
holds details (input digest, per-operation times, problems found).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "dataqualitycontroltool_spark"

# Spark cores for every run: fixed, so runs on different seeds and commits
# compare; two leaves room for the driver and the Python workers on a
# four-core box, where local[4] oversubscribes.
CORES = 2

# Untimed rounds after session start.  The first round costs two to three
# warm ones (class loading, Python worker start, most of the JIT work); one
# is all the run-time budget allows next to MIN_ROUNDS timed ones.
WARMUP_ROUNDS = 1

# Timed rounds a run makes at least, whatever --seconds says.  The JVM's JIT
# compiler keeps working for several rounds after the first (its CPU time
# per validate round falls from ~17 s to ~8 s over rounds 2-6), so each
# round reads faster than the one before, and a median over a number of
# rounds that depends on the machine's speed at the time splits the figures:
# with rounds run for 20 s alone, runs on a slow spell made two rounds and
# the rest three or four.  Three rounds take longer than BENCHMARK.json's
# run_seconds at today's speeds, so every run makes exactly three and the
# still-warming first round is one value of three, never one of two.
MIN_ROUNDS = 3

# metric names and units, as BENCHMARK.json declares them
_BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}

# job group or description whose job count becomes each `_jobs` metric
JOB_COUNTS = {
    "graft.checkpoint.jobs": "op.run_resumable",
    "operators.dedup.hamming_pairs_jobs": "operators.dedup.hamming_pairs",
    "operators.dedup.cc_jobs": "operators.dedup.cc",
    "operators.profiler.profile_table_jobs": "operators.profiler.profile_table",
    "sinks.reports.report_tables_jobs": "sinks.reports.report_tables",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["filter", "validate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_environment(work: Path) -> dict:
    """Keep every file the run writes inside the checkout; return the
    session config that does the same for Spark."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    import tempfile

    tempfile.tempdir = str(tmp)
    sys.path[:0] = [str(ROOT), str(HERE)]
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work / 'derby'}"
    return {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": (work / "warehouse").resolve().as_uri(),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }


class Round:
    """Outcome of one round of operations."""

    def __init__(self):
        self.ops: list[dict] = []

    @property
    def wall(self) -> float:
        return sum(o["wall_s"] for o in self.ops)

    @property
    def cpu(self) -> float:
        return sum(o["cpu_s"] for o in self.ops)

    @property
    def ok_rows(self) -> int:
        return sum(o["rows"] for o in self.ops if o["ok"])


def run_round(spark, workload, work: Path, index: int, groups: bool = False,
              check: bool = True) -> Round:
    import checks
    from probes import tree_cpu_s

    rnd = Round()
    for op in workload.ops():
        out = work / f"out-{index}-{op.name}"
        checks.remove(out)
        if groups:
            spark.sparkContext.setJobGroup(f"op.{op.name}", op.name)
        error = None
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            op.run(spark, out)
        except Exception as exc:  # an operation that fails is counted, not fatal
            error = exc
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if groups:
            spark.sparkContext.setJobGroup("bench", "bench")
        if error is None:
            problems = op.check(out) if check else []
        else:
            problems = [f"raised {type(error).__name__}: {str(error)[:300]}"]
        checks.remove(out)
        rnd.ops.append({"op": op.name, "rows": op.rows, "wall_s": wall, "cpu_s": cpu,
                        "ok": not problems, "problems": problems})
    return rnd


def start_session(conf: dict):
    from dataqualitycontroltool_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched (it exits when its stdin
    closes), then wait for every process this run started."""
    import subprocess

    from pyspark import SparkContext

    from probes import wait_for_children

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    wait_for_children()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no program package at {PACKAGE}; run from a checkout root",
              file=sys.stderr)
        return 2
    work = ROOT / ".bench_work"
    conf = prepare_environment(work)

    import inputs
    from workloads import WORKLOADS

    data = inputs.build_all(args.workload, work / "inputs", args.seed, bool(args.trace))
    workload = WORKLOADS[args.workload](data, work / args.workload)
    detail = {"workload": args.workload, "seed": args.seed, "cores": CORES,
              "input_digest": inputs.input_digest(data)}

    if args.trace:
        from probes import event_log_conf

        log_dir = work / "eventlog" / f"{args.workload}-{os.getpid()}"
        conf = {**conf, **event_log_conf(log_dir)}

    from probes import cpu_steal_ticks

    steal0 = cpu_steal_ticks()
    t0 = time.perf_counter()
    spark = start_session(conf)
    session_s = time.perf_counter() - t0
    for i in range(WARMUP_ROUNDS):
        run_round(spark, workload, work / "warmup", i, check=False)
    setup_s = time.perf_counter() - t0
    detail.update(session_s=session_s, setup_s=setup_s)

    try:
        if args.trace:
            traced_round, layers, problems, peak_rss = traced_rounds(spark, workload, work)
        else:
            result = untraced(spark, workload, work, args.seconds, detail, setup_s)
    finally:
        stop_session(spark)
    if args.trace:
        result = traced_result(traced_round, layers, problems, peak_rss, log_dir, detail)
    steal1 = cpu_steal_ticks()
    detail["machine_steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


def _counts(rounds: list[Round]) -> tuple[bool, int, int]:
    ops = [o for r in rounds for o in r.ops]
    correct = not any(o["problems"] for o in ops)
    return correct, len(ops), sum(1 for o in ops if not o["ok"])


def untraced(spark, workload, work, seconds, detail, setup_s) -> dict:
    rounds: list[Round] = []
    while len(rounds) < MIN_ROUNDS or sum(r.wall for r in rounds) < seconds:
        rounds.append(run_round(spark, workload, work / "run", len(rounds)))
    detail["rounds"] = [r.ops for r in rounds]
    correct, attempted, failed = _counts(rounds)
    metrics = {
        # rows of the operations that succeeded over the time of all those
        # attempted, per round; median over the run's rounds
        "rows_per_s": statistics.median(r.ok_rows / r.wall for r in rounds),
        "cpu_s": statistics.median(r.cpu for r in rounds),
        "setup_s": setup_s,
    }
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}}


def traced_rounds(spark, workload, work):
    """A traced round, then the layer calls."""
    from probes import tree_peak_rss_mb

    from workloads import Layers

    layers = Layers(spark)
    workload.layers = layers
    traced_round = run_round(spark, workload, work / "run", 0, groups=True)
    workload.layers = None
    walls = {o["op"]: o["wall_s"] for o in traced_round.ops}
    problems = workload.trace_layers(spark, layers, walls)
    return traced_round, layers, problems, tree_peak_rss_mb()


def traced_result(traced_round, layers, problems, peak_rss, log_dir, detail) -> dict:
    """Per-layer metrics from the layer timings and the finished event log."""
    from probes import EventLog

    log = EventLog.latest(log_dir)
    values = {name: 0.0 for name in PER_LAYER}
    values.update(layers.values)
    values.update(log.summary("op.", traced_round.wall, CORES))
    for metric, group in JOB_COUNTS.items():
        values[metric] = log.n_jobs(group)
    values["session.start_s"] = detail["session_s"]
    values["process.peak_rss_mb"] = peak_rss
    detail["rounds"] = [traced_round.ops]
    detail["trace_problems"] = problems
    correct, attempted, failed = _counts([traced_round])
    return {"correct": correct and not problems, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}}


if __name__ == "__main__":
    sys.exit(main())
