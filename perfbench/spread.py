"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 --first-seed 100 [--workload cdc_trickle ...]

Runs the benchmark ``--runs`` times per workload, each with its own seed,
one run at a time, and prints per metric the median and the distance
between the first and third quartile as a share of the median, next to
the metric's bound from BENCHMARK.json, and the median wall time of a
run. Raw results go to .perfbench_out/spread-<first-seed>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append", default=None)
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    raw = open(os.path.join(out_dir, f"spread-{args.first_seed}.jsonl"), "a")
    worst = 0.0
    for w in workloads:
        results, walls = [], []
        for i in range(args.runs):
            seed = args.first_seed + i
            t = time.time()
            proc = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            walls.append(time.time() - t)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            res = json.loads(last) if proc.returncode == 0 else {}
            raw.write(json.dumps({"workload": w, "seed": seed, "rc": proc.returncode,
                                  "wall_s": walls[-1], "result": res}) + "\n")
            raw.flush()
            if not res.get("correct") or res.get("failed"):
                print(f"{w} seed {seed}: rc={proc.returncode} {last[:300]}", file=sys.stderr)
            results.append(res)
        print(f"{w}: {len(results)} runs, median wall {statistics.median(walls):.1f} s, failed share "
              f"{sorted({r.get('failed', -1) / max(1, r.get('attempted', 1)) for r in results})}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results if "metrics" in r]
            if len(vals) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            if name != "setup_s":
                worst = max(worst, spread / bound)
            print(f"  {name:15s} median {med:14.4f}  spread {spread:6.3f}  bound {bound}"
                  f"  {'ok' if spread < bound / 3 else 'WIDE'}")
    print(f"worst spread / bound (excluding setup_s): {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
