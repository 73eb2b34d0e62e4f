"""SparkSession factory.

Local-mode settings tuned for the sandbox (local[N], single JVM) but
every knob is chosen for cluster validity too: AQE on (runtime
re-plan, skew-join splitting — the reference's hub-entity skew story,
SURVEY.md §4), Arrow on (all our UDFs are pandas UDFs), UTC session
timezone (oracle comparison vs DuckDB's UTC-naive timestamps), and
shuffle partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _gc_opts(cpus: int) -> str:
    """ParallelGC with a thread pool sized for a `cpus`-core machine
    (HotSpot's default formula), not for the sandbox host."""
    gc_threads = cpus if cpus <= 8 else 8 + (cpus - 8) * 5 // 8
    return f"-XX:+UseParallelGC -XX:ParallelGCThreads={gc_threads}"


def get_spark(
    app_name: str = "rdf_diff_store_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or 32 — the reference's
    reader concurrency is also 32 pooled repos / 32 workers
    (reference: src/bin/rdf-query-cache.rs:137,170), which Spark
    replaces with executor-thread parallelism.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # Executor Python workers must be able to import this package:
    # module-level pandas UDFs are pickled by reference. Locally that
    # means PYTHONPATH before the JVM/daemon start; on a cluster the
    # same is done with `spark-submit --py-files rdf_diff_store_spark.zip`.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = f"{pkg_root}:{existing}" if existing else pkg_root

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # Executor Python workers start from pyspark_graft_worker (repo
        # root, importable through the PYTHONPATH set above). It stops
        # each task's importlib.invalidate_caches() from re-reading the
        # directories of pyspark.zip and the spark-core jar unless they
        # changed on disk: ~0.2 CPU-s saved per Python UDF task.
        .config("spark.python.worker.module", "pyspark_graft_worker")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Joins (optimization guide §3.1/§9): let the planner pick a
        # shuffled-hash join when its size conditions hold instead of
        # always sort-merge (skips both sort passes), and let AQE
        # rewrite a planned sort-merge join to shuffled-hash at runtime
        # when every post-shuffle partition is under 64 MB (the
        # 0-default leaves this rewrite off). A hash build side cannot
        # spill: the static choice rests on Catalyst size ESTIMATES,
        # only the AQE one on measured shuffle sizes. Each one turns a
        # sort-merge join into a shuffled-hash join in explain_audit's
        # plans (web_triangles statically; a full-outer join on `node`
        # at runtime): plans/joins/.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # Throughput batch engine → ParallelGC. G1 (the JVM default)
        # anti-scales here: measured 26.8s vs 4.5s on a 64M-row
        # sha2 aggregation at local[32]; G1's concurrent phases fight
        # the 32 mutator threads for cores.
        #
        # ParallelGCThreads is pinned to what a machine with `cpus`
        # cores would get (the JVM's own formula: N for N<=8, else
        # 8 + (N-8)*5/8). Unpinned, the JVM sizes the GC pool from the
        # HOST's core count, so a local[2] session collects garbage
        # with ~23 threads — free parallelism a real 2-core executor
        # doesn't have, which silently distorts any N-vs-4N scaling
        # comparison on this allocation-heavy workload.
        .config("spark.driver.extraJavaOptions", _gc_opts(cpus))
        .config("spark.executor.extraJavaOptions", _gc_opts(cpus))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
