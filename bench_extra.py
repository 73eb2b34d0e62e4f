"""Round-6 optimization measurement harness (guide §1).

bench.py is FROZEN for the driver's measurement; this file is the
working bench for the optimization round. It times each headline
query in isolation with the noop sink (min of N reps, full-scale
warmup), labels jobs, and captures `.explain("formatted")` for every
query into plans/r06/<query>_<tag>.txt so plan-shape claims are
checkable without running Spark.

Usage:
  python bench_extra.py [--tag before] [--reps 3] [--queries a,b,c]
                        [--sf-dir DIR]
The headline list, the noop sink and the default data directory
(SPARK_GRAFT_SF_DIR, else sf0.1) are bench.py's. Prints one JSON line
like bench.py (queries dict only, no kg).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE, force  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default=None, help="plan file suffix (before/after); omit to skip")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from rdf_diff_store_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", cpus=cpus)
    qs = entrymod.queries()
    names = args.queries.split(",") if args.queries else HEADLINE

    plan_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    if args.tag:
        os.makedirs(plan_dir, exist_ok=True)

    spark.range(1000).count()  # JVM warmup

    timings: dict[str, float] = {}
    for name in names:
        df = qs[name](spark, args.sf_dir)
        if args.tag:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        force(df)  # full-scale warmup rep, discarded (JIT/codegen/AQE shape)
        best = None
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.perf_counter()
            force(qs[name](spark, args.sf_dir))
            rep = time.perf_counter() - t0
            best = rep if best is None else min(best, rep)
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    print(json.dumps({"metric": "bench_extra", "value": total, "unit": "sec",
                      "queries": timings, "sf_dir": args.sf_dir, "cpus": cpus,
                      "reps": args.reps, "warmed": True}))


if __name__ == "__main__":
    main()
