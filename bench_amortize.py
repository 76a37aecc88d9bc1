#!/usr/bin/env python
"""Amortization evidence for the hamming near-dup graft metric (r4 verdict #8).

At 8k rows the banded-hamming + connected-components phash index costs ~4s of
FIXED setup (banded self-join planning + connected-components round floor) on top
of the exact-dedup pipeline, which reads as a 2-3x img/s gap.  The claim to
evidence: that cost is fixed (iteration rounds see only DISTINCT phashes that
collide in a band, not images), so img/s CONVERGES toward the exact-dedup
number as rows grow.  This script times both pipelines over the SAME corpus
at 8k / 32k / 96k rows and prints one JSON line per (rows, mode).

Usage: python bench_amortize.py [--rows 8000,32000,96000]
Writes nothing to the repo; the resulting table is recorded in PLANS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from dataqualitycontroltool_spark.session import get_spark  # noqa: E402


def timed_run(spark, rows: int, hamming: int) -> dict:
    from pyspark.sql import functions as F

    from dataqualitycontroltool_spark.graft.pipeline import (
        KeepDropConfig,
        run_pipeline,
    )
    from dataqualitycontroltool_spark.graft.synth import write_images

    path = f"/tmp/dqc_bench_corpus_{rows}"  # the corpus bench.py writes
    if not os.path.exists(f"{path}/_SUCCESS"):
        write_images(spark, path, rows, n_partitions=32)
    df = spark.read.parquet(path)
    n = df.count()
    cfg = KeepDropConfig(dedupe_hamming=hamming) if hamming else None
    tag = f"amort_{rows}_{hamming}"
    # same 25% warm-up discipline as bench.py's _timed_graft
    warm = df.where(F.pmod(F.xxhash64("image_id"), F.lit(4)) == 0)
    run_pipeline(warm, cfg).write.mode("overwrite").parquet(f"/tmp/dqc_warm_{tag}")
    t0 = time.perf_counter()
    run_pipeline(df, cfg).write.mode("overwrite").parquet(f"/tmp/dqc_out_{tag}")
    wall = time.perf_counter() - t0
    return {
        "rows": n,
        "mode": f"hamming={hamming}" if hamming else "exact",
        "wall_s": round(wall, 2),
        "images_per_sec": round(n / wall, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", default="8000,32000,96000")
    args = ap.parse_args()
    sizes = [int(r) for r in args.rows.split(",")]
    spark = get_spark("dqc-amortize", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    out = []
    for rows in sizes:
        for hamming in (0, 3):
            rec = timed_run(spark, rows, hamming)
            out.append(rec)
            print(json.dumps(rec), flush=True)
    # convergence summary: hamming img/s as a fraction of exact at each size
    by_rows: dict[int, dict[str, float]] = {}
    for rec in out:
        by_rows.setdefault(rec["rows"], {})[rec["mode"]] = rec["images_per_sec"]
    ratio = {
        r: round(v.get("hamming=3", 0.0) / v["exact"], 3)
        for r, v in sorted(by_rows.items())
        if v.get("exact")
    }
    print(json.dumps({"hamming_over_exact_ratio": ratio}), flush=True)


if __name__ == "__main__":
    main()
