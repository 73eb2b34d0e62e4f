"""As-of reads over a writer table that commits between reads.

perfbench's `store` workload reads a source that never changes while
it is timed, so every timed as-of request there repeats a read of an
unchanged file set. This driver measures the opposite traffic: a
`StreamingChangelogWriter` table, seeded with the perfbench `events`
changelog (100k versions), then R rounds of one writer commit followed
by K as-of requests against `read_changelog()` — a SPARQL query over
`snapshot_triples`, then a triple diff, alternating, as perfbench's
`asof_read` op issues them. Only the requests are timed (wall and the
machine's CPU seconds, /proc/stat); the commits are not.

    python scripts/asof_churn.py --reads 2 --rounds 4 --seed 7 --cpus 4

Prints one JSON line: per request its round, position, kind, wall,
CPU and the `graft.branch` it reported (null where the tree has no
as-of index), plus the rows' digest, so that two trees' answers can be
compared.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reads", type=int, default=2, help="as-of requests per commit")
    ap.add_argument("--rounds", type=int, default=4, help="commits")
    ap.add_argument("--batch", type=int, default=1000, help="updates per commit")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--cpus", default="4")
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_CPUS", args.cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    import numpy as np
    from proc import machine_busy_s
    from workloads import DIFF_COLS, DIFF_SPAN_S, SHAPES, _ts_str, write_events

    from rdf_diff_store_spark import get_spark
    from rdf_diff_store_spark.operators.versioned import diff, snapshot_triples
    from rdf_diff_store_spark.plans.sparql_text import sparql_query
    from rdf_diff_store_spark.schemas import GRAPH_UPDATES
    from rdf_diff_store_spark.sources.relational import changelog_from_events
    from rdf_diff_store_spark.streaming.ingest import StreamingChangelogWriter

    spark = get_spark()
    work = tempfile.mkdtemp(prefix="asof_churn_")
    lo, hi = write_events(os.path.join(work, "events"), args.seed)
    history = changelog_from_events(spark, os.path.join(work, "events")).select(
        "graph_id", "ts", "op", "payload"
    )
    pool = history.toPandas()
    writer = StreamingChangelogWriter(spark, os.path.join(work, "table"))
    writer.process_batch(spark.createDataFrame(pool.assign(format=None), GRAPH_UPDATES), 0)

    rng = np.random.default_rng([args.seed, 3])
    out = []
    for r in range(args.rounds):
        # the next commit: earlier versions of random graphs, re-sent
        # with times past everything the table holds
        batch = pool.iloc[rng.choice(len(pool), args.batch, replace=False)].copy()
        batch["ts"] = np.datetime64(_ts_str(hi + 60 * (r + 1)), "ms") + np.arange(
            args.batch
        ).astype("timedelta64[ms]")
        batch["format"] = None
        writer.process_batch(spark.createDataFrame(batch, GRAPH_UPDATES), r + 1)
        for k in range(args.reads):
            t = int(rng.integers(lo, hi))
            c0, t0 = machine_busy_s(), time.perf_counter()
            cl = writer.read_changelog()
            if k % 2 == 0:
                kind = "query"
                rows = sparql_query(snapshot_triples(cl, _ts_str(t)), SHAPES[k // 2 % len(SHAPES)][0])
            else:
                kind = "diff"
                rows = diff(cl, _ts_str(t), _ts_str(t + DIFF_SPAN_S)).select(*DIFF_COLS)
            rows = sorted(tuple(map(str, row)) for row in rows.collect())
            out.append(
                {
                    "round": r,
                    "pos": k,
                    "kind": kind,
                    "wall_s": round(time.perf_counter() - t0, 3),
                    "cpu_s": round(machine_busy_s() - c0, 3),
                    "branch": spark.sparkContext.getLocalProperty("graft.branch"),
                    "digest": hashlib.sha1(repr(rows).encode()).hexdigest()[:12],
                }
            )
    print(
        json.dumps(
            {
                "reads": args.reads,
                "rounds": args.rounds,
                "seed": args.seed,
                "wall_s": round(sum(x["wall_s"] for x in out), 3),
                "cpu_s": round(sum(x["cpu_s"] for x in out), 3),
                "requests": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
