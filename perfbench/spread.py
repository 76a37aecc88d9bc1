"""Run each workload several times on the same code and print, for every
end-to-end metric, its median, quartiles and spread next to its bound.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1]

Run from the root of a checkout.  Each run gets its own seed (first-seed,
first-seed + 1, ...), as two sets of benchmark runs would.  The spread is
the distance between the first and third quartile (Python's
``statistics.quantiles(values, n=4)``) as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["detail"] = json.loads(lines[-2])["detail"]
    result["run_wall_s"] = time.perf_counter() - t0
    return result


def summarize(bench: dict, results: dict) -> list[str]:
    out = []
    for w, runs in results.items():
        shares = sorted({r["failed"] / r["attempted"] for r in runs})
        walls = [r["run_wall_s"] for r in runs]
        out.append(f"{w}: {len(runs)} runs, correct={all(r['correct'] for r in runs)}, "
                   f"failed share {shares}, run wall median {statistics.median(walls):.1f} s "
                   f"(max {max(walls):.1f} s)")
        out.append(f"  {'metric':<12}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}"
                   f"{'bound':>8}{'spread/bound':>14}")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            out.append(f"  {m['name']:<12}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}"
                       f"{m['bound']:>8.2f}{spread / m['bound']:>14.2f}")
    return out


def main(argv=None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    results: dict[str, list] = {w["name"]: [] for w in bench["workloads"]}
    for i in range(args.runs):
        for w in results:  # workloads alternate, so slow spells hit both
            r = one_run(w, args.first_seed + i, bench["run_seconds"])
            results[w].append(r)
            print(f"{w} seed {args.first_seed + i}: "
                  + ", ".join(f"{k}={v['value']:.4f}" for k, v in r["metrics"].items())
                  + f" attempted={r['attempted']} failed={r['failed']} "
                  f"run {r['run_wall_s']:.1f} s", flush=True)
    print("\n".join(summarize(bench, results)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
