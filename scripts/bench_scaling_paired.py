"""Interleaved (paired) scaling-efficiency evidence for the north_rule.

A sequential two-block design (all N blocks, then all 4N) is exposed
to host drift: the sandbox is a VM with visible steal time, and rep
walls swing ±130% minute-to-minute, so a leg measured in a congested
half-hour is penalized against the other leg. This variant interleaves
JVM blocks A(local[2N]) B(local[8... 4N]) A B ... so both levels sample
the SAME time-varying host conditions; the per-level statistic is the
min wall across all of that level's blocks (standard noise floor).
Each block runs `bench_scaling_clocked.py`'s runner, without its
spinners or CPU pinning.

Usage: python scripts/bench_scaling_paired.py
Env: SPARK_GRAFT_SCALE_N (default 2), SPARK_GRAFT_KG_URLS (default
400000), SPARK_GRAFT_SCALE_BLOCKS (default 2 per level),
SPARK_GRAFT_SCALE_REPS (default 2 timed reps per block; each block
also runs one discarded full-scale warmup rep).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, REPO)
from scripts.bench_scaling_clocked import _RUNNER  # noqa: E402


def run_block(cpus: int) -> dict:
    # memory scales WITH the level (6 GiB/core): the north rule
    # compares N vs 4N EXECUTORS — 4N executors bring 4x aggregate
    # memory. A shared fixed heap hands the small level 4x the
    # memory-per-core and starves the big one into extra GC (measured:
    # at 3.56M pages local[8] throughput fell 23.3k -> 18.3k pages/s
    # under a fixed 48g heap while local[2] barely moved).
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{6 * cpus}g")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_DRIVER_MEM=mem)
    r = subprocess.run([sys.executable, "-c", _RUNNER], env=env,
                       capture_output=True, text=True, cwd=REPO)
    for line in r.stdout.splitlines():
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"block cpus={cpus} failed: {r.stderr[-1500:]}")


def main() -> None:
    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
    blocks = int(os.environ.get("SPARK_GRAFT_SCALE_BLOCKS", "2"))
    lo, hi = n, 4 * n
    results: dict[int, list] = {lo: [], hi: []}
    pages = None
    for _ in range(blocks):  # interleaved: lo, hi, lo, hi, ...
        for cpus in (lo, hi):
            out = run_block(cpus)
            pages = out["pages"]
            results[cpus].append(out["walls"])
            print(json.dumps({"block": out}), flush=True)
    best_lo = min(w for ws in results[lo] for w in ws)
    best_hi = min(w for ws in results[hi] for w in ws)
    eff = (best_lo / best_hi) / (hi / lo)
    print(json.dumps({
        "workload": "kg_pipeline (north_star DAG, interleaved blocks, "
                    "warmed, min across blocks)",
        "kg_pages": pages,
        f"local{lo}_walls": results[lo],
        f"local{hi}_walls": results[hi],
        f"local{lo}_wall_sec": best_lo,
        f"local{hi}_wall_sec": best_hi,
        f"local{lo}_pages_per_sec": round(pages / best_lo, 1),
        f"local{hi}_pages_per_sec": round(pages / best_hi, 1),
        "speedup_N_to_4N": round(best_lo / best_hi, 3),
        "scaling_efficiency": round(eff, 3),
    }, indent=2))


if __name__ == "__main__":
    main()
