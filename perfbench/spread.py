"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload llm_ops --runs 10 [--first-seed 1]

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric its median and the distance between the first and the
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound from ``BENCHMARK.json``. The raw
results go to ``.perfbench_out/spread-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def bench(spec: dict, workload: str, seed: int, trace: int) -> dict:
    """One benchmark run as the BENCHMARK.json command gives it; returns
    its result JSON plus the run's wall time."""
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.perf_counter() - t0
    return result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        result = bench(spec, args.workload, seed, 0)
        results.append(result)
        print(f"seed {seed}: {result['wall_s']:.1f}s "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
    print(f"run wall median {statistics.median(r['wall_s'] for r in results):.1f}s")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']:14s} median {med:.5g} {m['unit']:6s} "
              f"spread {(q3 - q1) / med:.4f} bound {m['bound']}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"spread-{args.workload}.json"), "w") as f:
        json.dump(results, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
