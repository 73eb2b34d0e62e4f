"""Run one workload over several seeds and print, per metric and per
report row, the median and the quartile spread (Q3 - Q1) / median, as
statistics.quantiles gives the quartiles, plus the wall time of each
run.

    python3 perfbench/spread.py --workload asof_read --runs 10 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, check=True,
        ).stdout
        walls.append(time.perf_counter() - t0)
        lines = out.strip().splitlines()
        result = json.loads(lines[-1])
        for line in lines[1:-1]:  # report rows: name, value, unit, ...
            name, value = line.split()[:2]
            if name not in result["metrics"]:
                values.setdefault(name, []).append(float(value))
        if not result["correct"]:
            print(f"seed {seed}: {result['failed']} of {result['attempted']} failed", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        shown = {k: v["value"] for k, v in result["metrics"].items()}
        shown.update((k, values[k][-1]) for k in ("op_p50_s", "host_steal_share") if k in values)
        print(f"seed {seed}: {walls[-1]:.1f} s  " + "  ".join(f"{k}={v:.4g}" for k, v in shown.items()), flush=True)
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:<44} median {med:<12.6g} spread {spread:.3f}")
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
