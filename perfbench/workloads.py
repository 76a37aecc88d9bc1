"""The workloads: their operations and traced layer calls.

An operation is one call of a public entry point over a workload input,
writing to a fresh output directory; a round is every operation of a
workload once, in a fixed order.  Operations are timed by ``run.py``; the
checks in ``checks.py`` run after the clock stops.  The warm-up is
untimed rounds of the same operations.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import checks


@dataclass
class Op:
    name: str
    rows: int
    run: Callable  # (spark, out_dir) -> None
    check: Callable  # (out_dir) -> list[str]


class Layers:
    """Per-layer figures of one traced run.  Each layer call runs under its
    own job description, so the event log can count its jobs; the job group
    stays that of the operation around it."""

    def __init__(self, spark):
        self.spark = spark
        self.values: dict[str, float] = {}

    def timed(self, name: str, fn: Callable):
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.values[name + "_s"] = time.perf_counter() - t0
            sc.setJobDescription(None)


def noop(df) -> None:
    """Run a frame's whole plan as one job, writing nothing."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# filter
# ---------------------------------------------------------------------------


class Filter:
    name = "filter"

    def __init__(self, inputs: dict, work: Path):
        self.corpus = inputs["main"][0] / "corpus"
        self.rows = inputs["main"][1]["rows"]
        self.work = work
        self.truth = checks.FilterTruth(self.corpus)
        self.phash = inputs["phash"][0] / "table" if "phash" in inputs else None

    def _run(self, corpus: Path):
        def run(spark, out: Path) -> None:
            from dataqualitycontroltool_spark.graft.checkpoint import run_resumable

            # the CLI `filter` path: default KeepDropConfig, exact phash dedup
            run_resumable(spark, str(corpus), str(out))
        return run

    def ops(self) -> list[Op]:
        return [Op("run_resumable", self.rows, self._run(self.corpus), self.truth.check)]

    def trace_layers(self, spark, layers: Layers, op_walls: dict) -> list[str]:
        from pyspark.sql import functions as F

        from dataqualitycontroltool_spark.graft.checkpoint import ensure_dedup_index
        from dataqualitycontroltool_spark.graft.decode import check_bytes, decode_check
        from dataqualitycontroltool_spark.graft.io import read_corpus
        from dataqualitycontroltool_spark.graft.langid import langid
        from dataqualitycontroltool_spark.graft.perplexity import perplexity
        from dataqualitycontroltool_spark.graft.pipeline import run_pipeline
        from dataqualitycontroltool_spark.graft.rules import KeepDropConfig

        src = str(self.corpus)
        layers.timed("graft.io.scan", lambda: noop(read_corpus(spark, src)))
        layers.timed("graft.langid.langid",
                     lambda: noop(read_corpus(spark, src).select(langid(F.col("caption")))))
        layers.timed("graft.perplexity.perplexity",
                     lambda: noop(read_corpus(spark, src).select(perplexity(F.col("caption")))))
        layers.timed("graft.decode.decode",
                     lambda: noop(read_corpus(spark, src).select(
                         decode_check(F.col("bytes"), F.col("fmt")))))
        cfg = KeepDropConfig()
        idx_root = self.work / "trace-index"
        idx = ensure_dedup_index(spark, src, str(idx_root), cfg)
        layers.timed("graft.pipeline.run_pipeline",
                     lambda: noop(run_pipeline(read_corpus(spark, src), cfg, dedup=idx)))
        checks.remove(idx_root)
        v = layers.values
        v["graft.checkpoint.overhead_s"] = (
            op_walls["run_resumable"] - v["graft.pipeline.run_pipeline_s"])
        # per-image decode cost of each format, in this process, over the
        # sample's whole streams
        per_fmt: dict[str, list[float]] = {"png": [], "jpeg": [], "webp": []}
        for data, fmt in zip(self.truth.sample["bytes"], self.truth.sample["fmt"]):
            data = bytes(data)
            if fmt in per_fmt and checks._stream_complete(data):
                t0 = time.perf_counter()
                check_bytes(data, fmt)
                per_fmt[fmt].append(time.perf_counter() - t0)
        for fmt, ts in per_fmt.items():
            v[f"graft.decode.{fmt}_ms"] = 1000.0 * sum(ts) / len(ts) if ts else 0.0
        return self._near_dup_layers(spark, layers)

    def _near_dup_layers(self, spark, layers: Layers) -> list[str]:
        """The two steps of pipeline.hamming_dedup_index (the filter's
        KeepDropConfig.dedupe_hamming mode), one at a time, over the phash
        table: banded hamming pairs, then connected components."""
        from pyspark.sql import functions as F

        from dataqualitycontroltool_spark.graft.io import read_corpus
        from dataqualitycontroltool_spark.operators.dedup import (
            banded_hamming_pairs, connected_components,
        )

        truth = checks.PhashTruth(self.phash, MAX_HAMMING)
        ph = read_corpus(spark, str(self.phash)).select(
            F.col("phash").alias("fp_id"), F.col("phash").alias("fp")).distinct()
        pairs_dir = self.work / "trace-pairs"
        layers.timed("operators.dedup.hamming_pairs",
                     lambda: banded_hamming_pairs(ph, "fp_id", "fp", MAX_HAMMING)
                     .write.mode("overwrite").parquet(str(pairs_dir)))
        pairs = spark.read.parquet(str(pairs_dir))
        n_pairs = pairs.count()
        layers.values["operators.dedup.candidate_pairs"] = n_pairs
        labels = layers.timed("operators.dedup.cc", lambda: connected_components(pairs))
        problems = truth.check_components(labels.toPandas())
        checks.remove(pairs_dir)
        if n_pairs != truth.n_pairs:
            problems.append(f"banded_hamming_pairs found {n_pairs} pairs, numpy {truth.n_pairs}")
        return problems


MAX_HAMMING = 3


# ---------------------------------------------------------------------------
# validate
# ---------------------------------------------------------------------------


class Validate:
    name = "validate"

    def __init__(self, inputs: dict, work: Path):
        d, self.ledger = inputs["main"]
        self.csv = d / "visits.csv"
        self.schema = d / "schema.json"
        self.rows = self.ledger["rows"]
        self.work = work
        self.truth = checks.ValidateTruth(self.ledger)
        self.layers: Layers | None = None  # set during the traced round

    def _spec(self):
        from dataqualitycontroltool_spark.specs import TableSpec

        return TableSpec.from_descriptor(json.loads(self.schema.read_text()))

    def _run(self, path: Path):
        def run(spark, out: Path) -> None:
            # the CLI `validate --clean` path
            from dataqualitycontroltool_spark.operators import profiler
            from dataqualitycontroltool_spark.sinks import reports
            from dataqualitycontroltool_spark.sources import csvsource

            spec = self._spec()
            df = csvsource.read_csv(spark, str(path))
            tables = reports.report_tables(df, spec)
            if self.layers is None:
                reports.write_report(df, spec, str(out), threshold=3.0, tables=tables)
                reports.write_corrected_csv(df, spec, str(out / "corrected_csv"))
            else:
                # write_report's two loops, each under its own job description
                def write_tables():
                    for name, table in tables.items():
                        table.write.mode("overwrite").parquet(str(out / name))

                def write_profiles():
                    for f, prof in profiler.profile_table(df, spec, threshold=3.0).items():
                        prof.write.mode("overwrite").parquet(str(out / f"profile_{f}"))

                self.layers.timed("sinks.reports.report_tables", write_tables)
                self.layers.timed("operators.profiler.profile_table", write_profiles)
                self.layers.timed("sinks.reports.corrected_csv",
                                  lambda: reports.write_corrected_csv(
                                      df, spec, str(out / "corrected_csv")))
            spark.catalog.clearCache()
        return run

    def ops(self) -> list[Op]:
        return [Op("validate_clean", self.rows, self._run(self.csv), self.truth.check)]

    def trace_layers(self, spark, layers: Layers, op_walls: dict) -> list[str]:
        from pyspark.sql import functions as F

        from dataqualitycontroltool_spark.plans.compiler import FieldPlan, ValidationPlan
        from dataqualitycontroltool_spark.sources import csvsource

        spec = self._spec()
        path = str(self.csv)
        layers.timed("sources.csvsource.scan", lambda: noop(csvsource.read_csv(spark, path)))
        layers.timed("plans.compiler.apply",
                     lambda: noop(ValidationPlan(spec).apply(
                         csvsource.read_csv(spark, path), derive=("status", "suggestion"))))
        date = FieldPlan(spec.field("visit_date"))
        layers.timed("plans.compiler.date_suggest",
                     lambda: noop(csvsource.read_csv(spark, path).select(
                         date.suggestion(F.col("visit_date")))))
        return []


WORKLOADS = {w.name: w for w in (Filter, Validate)}
