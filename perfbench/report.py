"""Traced-run report: the per-layer table of every workload and the
tracing overhead.

    python3 perfbench/report.py [--seed 1] [--out perfbench/results]

For each workload, runs the benchmark once untraced and once traced with
the same seed, prints every per-layer metric by name and unit, and
reports the tracing overhead as the traced pass time minus the untraced
one. Writes ``traced-run.json`` and the spans of each traced run to
``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from spread import ROOT, bench

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(BENCH_DIR, "results"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(args.out, exist_ok=True)
    workloads = [w["name"] for w in spec["workloads"]]
    report: dict = {"seed": args.seed, "workloads": {}}
    for w in workloads:
        plain = bench(spec, w, args.seed, 0)
        traced = bench(spec, w, args.seed, 1)
        pass_s = plain["metrics"]["pass_s"]["value"]
        traced_s = traced["metrics"]["trace.pass_s"]["value"]
        report["workloads"][w] = {
            "end_to_end": plain,
            "per_layer": traced,
            "tracing_overhead": {"pass_s": traced_s - pass_s, "share": traced_s / pass_s - 1},
        }
        spans = os.path.join(ROOT, ".perfbench_out", f"spans-{w}-sf0.01-seed{args.seed}-trace1.json")
        shutil.copyfile(spans, os.path.join(args.out, f"spans-{w}.json"))

    width = max(len(m["name"]) for m in spec["per_layer"])
    print(f"{'metric':{width}s} {'unit':6s} " + " ".join(f"{w:>14s}" for w in workloads))
    for m in spec["per_layer"]:
        vals = [report["workloads"][w]["per_layer"]["metrics"][m["name"]]["value"] for w in workloads]
        print(f"{m['name']:{width}s} {m['unit']:6s} " + " ".join(f"{v:14.6g}" for v in vals))
    for w in workloads:
        o = report["workloads"][w]["tracing_overhead"]
        print(f"tracing overhead {w}: {o['pass_s']:+.3f} s per pass ({o['share']:+.1%})")
    with open(os.path.join(args.out, "traced-run.json"), "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
