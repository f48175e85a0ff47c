"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload table_mixed --seeds 1-10 [--seconds N]

Runs the benchmark once per seed (untraced, one after another) and
prints, per metric, the median and the distance between the first and
third quartiles (``statistics.quantiles(values, n=4)``) as a share of
the median, next to the metric's bound from BENCHMARK.json.
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


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    failed = 0
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        result = json.loads(out.stdout.strip().splitlines()[-1])
        failed += out.returncode != 0 or not result["correct"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: rc={out.returncode} wall={time.perf_counter() - t0:.1f}s", file=sys.stderr)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, xs in values.items():
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:14s} median={med:.4g} spread={spread:.3f} bound={bounds.get(name)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
