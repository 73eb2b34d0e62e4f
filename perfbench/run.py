"""Benchmark of rdf_diff_store_spark: closed-loop workloads with one
client each, on local[nproc] (see perfbench/README.md).

Run from the repository root:

    python3 perfbench/run.py --workload store --seed 1 --seconds 6 --trace 0

--trace 0 measures the end-to-end metrics. --trace 1 is the separate
traced run: it runs the ops with Spark's event log on and every layer
call in its own job group, reads the log back into per-layer metrics,
then restarts the session without the log to time untraced ops for the
tracing overhead. Both print a report, then,
as the last line, one JSON object with the keys correct, attempted,
failed and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
MIN_OPS = 3

# name -> (unit, better); BENCHMARK.json lists the same metrics
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

NAMED_LAYER = {
    "session.start_s": ("s", "lower"),
    "relational.load_s": ("s", "lower"),
    "versioned.plan_s": ("s", "lower"),
    "relational.changelog_s": ("s", "lower"),
    "versioned.snapshot_s": ("s", "lower"),
    "versioned.diff_s": ("s", "lower"),
    "versioned.diff_changed_share": ("ratio", "lower"),
    "turtle.parse_s": ("s", "lower"),
    "turtle.python_worker_s": ("s", "lower"),
    "turtle.python_bytes_sent": ("bytes", "lower"),
    "sparql_text.compile_s": ("s", "lower"),
    "sparql_text.exec_s": ("s", "lower"),
    "turtle.canonicalize_s": ("s", "lower"),
    "ingest.process_batch_s": ("s", "lower"),
    "ingest.survivor_share": ("ratio", "higher"),
    "ingest.replay_skip_s": ("s", "lower"),
    "text.extract_s": ("s", "lower"),
    "kg.mentions_s": ("s", "lower"),
    "kg.first_capture_s": ("s", "lower"),
    "dedup.alias_edges_s": ("s", "lower"),
    "graph.entity_map_s": ("s", "lower"),
    "kg.quads_s": ("s", "lower"),
    "kg.changelog_s": ("s", "lower"),
    "kg.unattributed_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.accounted_share": ("ratio", "higher"),
}
# job-group labels whose event-log counters are reported per call
LABELS = (
    "relational.changelog",
    "versioned.snapshot",
    "turtle.parse",
    "sparql_text.exec",
    "versioned.diff",
    "turtle.canonicalize",
    "ingest.process_batch",
    "ingest.replay",
    "kg.build",
    "text.extract",
    "kg.mentions",
    "kg.first_capture",
    "dedup.alias_edges",
    "graph.entity_map",
    "kg.quads",
    "kg.changelog",
)
UDF_LABELS = (
    "turtle.parse",
    "versioned.diff",
    "turtle.canonicalize",
    "ingest.process_batch",
    "text.extract",
    "kg.build",
)
COUNTERS = {
    "executor_run_s": ("s", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "task_skew": ("ratio", "lower"),
    "driver_gap_s": ("s", "lower"),
}


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    out = dict(NAMED_LAYER)
    for label in LABELS:
        for counter, spec in COUNTERS.items():
            out[f"{label}.{counter}"] = spec
        if label in UDF_LABELS:
            out[f"{label}.python_worker_s"] = ("s", "lower")
    return out


def tail(xs: list[float]) -> tuple[str, float]:
    """Highest of p99.9/p99/p95/p90/p75/p50 (nearest rank) with at least
    ten samples beyond it; the maximum below 20 samples."""
    s = sorted(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        k = math.ceil(p / 100 * len(s))
        if len(s) - k >= 10:
            return f"p{p:g}", s[k - 1]
    return "max", s[-1]


class Sessions:
    """SparkContexts of one run, all in one JVM, which close() stops."""

    def __init__(self, cpus: int, work: str):
        self.cpus = cpus
        self.work = work
        self.spark = None
        self.proc = None

    def start(self, extra_conf: dict | None = None, restart: bool = False) -> float:
        """get_spark's wall. Without `restart` a running session is
        returned as is, as get_spark does for any caller."""
        from rdf_diff_store_spark.session import get_spark

        if restart and self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"), **(extra_conf or {})}
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        wall = time.perf_counter() - t0
        from pyspark import SparkContext

        self.proc = SparkContext._gateway.proc
        return wall

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status of the Spark JVM")

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.proc is not None:
            from pyspark import SparkContext

            SparkContext._gateway.shutdown()
            # the gateway JVM exits when its stdin closes
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except Exception:
                self.proc.kill()
                self.proc.wait(timeout=30)
                raise
            self.proc = None


class Tracer:
    """Runs each layer call under its own job group `<label>#<n>` and
    keeps (label, group, wall) spans in memory."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple[str, str, float]] = []

    @contextlib.contextmanager
    def span(self, label: str):
        group = f"{label}#{len(self.spans)}"
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append((label, group, wall))


def closed_loop(wl, seconds: float, min_ops: int = MIN_OPS, traced: bool = False) -> list[float]:
    """Send ops back to back until `seconds` have passed (at least
    `min_ops`); returns each op's wall."""
    walls = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(walls) < min_ops:
        req = wl.next_request()
        walls.append(wl.op(req))
        if traced:
            wl.decompose(req)
    return walls


def setup_once(
    wl, sessions: Sessions, extra_conf: dict | None = None, restart: bool = False
) -> tuple[float, float]:
    """(setup wall, session start wall): session start + inputs + warm-up."""
    t0 = time.perf_counter()
    start = sessions.start(extra_conf, restart)
    wl.setup(sessions.spark)
    return time.perf_counter() - t0, start


def run_timed(wl, sessions: Sessions, seconds: float) -> tuple[dict, list]:
    from proc import steal_s

    setups = [setup_once(wl, sessions)[0] for _ in range(SETUP_REPS)]
    t0, steal0 = time.perf_counter(), steal_s()
    walls = closed_loop(wl, seconds)
    steal_share = (steal_s() - steal0) / ((time.perf_counter() - t0) * os.cpu_count())
    peak_rss_mb = sessions.peak_rss_mb()  # before the oracle work
    attempted, failed = wl.verify()
    metrics = {
        "setup_s": (statistics.median(setups), len(setups)),
        "op_cpu_s": (wl.op_cpu(), len(walls)),
        "peak_rss_mb": (peak_rss_mb, 1),
    }
    pct, value = tail(walls)
    report = [
        ("op_p50_s", statistics.median(walls), "s (p50)", len(walls)),
        ("op_tail_s", value, f"s ({pct})", len(walls)),
        ("host_steal_share", steal_share, "ratio", 1),
    ]
    for name, unit, xs, kind in wl.table():
        pct, value = ("p50", statistics.median(xs)) if kind == "p50" else tail(xs)
        report.append((name, value, f"{unit} ({pct})", len(xs)))
    for kind, xs in wl.cpu_samples().items():
        report.append((f"{kind}_cpu_p50_s", statistics.median(xs), "s (p50)", len(xs)))
    report += wl.extra()
    report.append(("error_rate", failed / attempted, "ratio", attempted))
    report.append(("setup_cold_s", setups[0], "s", 1))
    return {"attempted": attempted, "failed": failed, "metrics": metrics}, report


def run_traced(wl, sessions: Sessions, seconds: float, work: str) -> tuple[dict, list]:
    """Traced phase (2/3 of the seconds, event log on), then an untraced
    phase in a fresh session (1/3) for the tracing overhead. The
    untraced phase runs second, on a warmer JVM, so the overhead errs
    high rather than low."""
    from eventlog import group_counters, read_event_log
    from workloads import no_span

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    setup_once(
        wl,
        sessions,
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        },
    )
    tracer = Tracer(sessions.spark.sparkContext)
    wl.span = tracer.span
    t0 = time.perf_counter()
    traced = closed_loop(wl, seconds * 2 / 3, min_ops=1, traced=True)
    loop_wall = time.perf_counter() - t0
    loop_spans = len(tracer.spans)
    attempted, failed = wl.verify()
    sessions.spark.stop()  # flushes the event log
    (log_file,) = os.listdir(log_dir)
    counters = group_counters(*read_event_log(os.path.join(log_dir, log_file)))

    calls: dict[str, list[dict]] = {}
    for label, group, wall in tracer.spans:
        c = dict(counters.get(group, {}))
        c["wall_s"] = wall
        c["driver_gap_s"] = wall - c.get("jobs_s", 0.0)
        calls.setdefault(label, []).append(c)
    values = {name: 0.0 for name in per_layer_metrics()}
    values.update(wl.layer_metrics(calls))
    for label in LABELS:
        for counter in list(COUNTERS) + ["python_worker_s"]:
            name = f"{label}.{counter}"
            if name in values and label in calls:
                values[name] = statistics.median(c.get(counter, 0.0) for c in calls[label])
    values["trace.accounted_share"] = sum(w for _, _, w in tracer.spans[:loop_spans]) / loop_wall

    wl.span = no_span
    _, values["session.start_s"] = setup_once(wl, sessions, restart=True)
    plain = closed_loop(wl, seconds / 3, min_ops=1)
    values["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)

    metrics = {name: (v, len(traced)) for name, v in values.items()}
    report = [
        ("traced_op_p50_s", statistics.median(traced), "s", len(traced)),
        ("untraced_op_p50_s", statistics.median(plain), "s", len(plain)),
        ("error_rate", failed / attempted, "ratio", attempted),
    ]
    return {"attempted": attempted, "failed": failed, "metrics": metrics}, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="nproc", help="local[N] threads; 'nproc' = usable cores")
    ap.add_argument("--driver-mem", default="2g", help="driver JVM heap (SPARK_GRAFT_DRIVER_MEM)")
    ap.add_argument("--work-dir", default="perfbench/.work", help="run scratch, relative to the checkout")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "rdf_diff_store_spark", "__init__.py")):
        print("perfbench: the rdf_diff_store_spark package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0)) if args.cpus == "nproc" else int(args.cpus)
    work = os.path.join(ROOT, args.work_dir)
    shutil.rmtree(work, ignore_errors=True)
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dirs)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    os.environ["TMPDIR"] = tmp
    # C1 only: C2's compiler threads kept recompiling through the whole
    # run; in paired store runs they added ~40% to an op's CPU seconds and
    # doubled its run-to-run spread, while op walls read the same
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    print(
        f"perfbench: workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} cpus={cpus} SPARK_GRAFT_DRIVER_MEM={args.driver_mem} "
        f"SPARK_LOCAL_DIRS={os.path.relpath(local_dirs, ROOT)}",
        flush=True,
    )

    wl = WORKLOADS[args.workload](args.seed, work)
    sessions = Sessions(cpus, work)
    try:
        if args.trace:
            result, report = run_traced(wl, sessions, args.seconds, work)
            specs = per_layer_metrics()
        else:
            result, report = run_timed(wl, sessions, args.seconds)
            specs = END_TO_END
    finally:
        sessions.close()
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, n) in result["metrics"].items():
        print(f"  {name:<44} {value:>14.6g} {specs[name][0]:<8} n={n}")
    for name, value, unit, n in report:
        print(f"  {name:<44} {value:>14.6g} {unit:<8} n={n}")
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    name: {"value": value, "unit": specs[name][0]}
                    for name, (value, _) in result["metrics"].items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
