"""Per-stage metrics + lineage recording (the Spark analog of the
reference's Prometheus histograms, src/metrics/mod.rs:8-99, and the
north_rule's "per-partition lineage + metrics ... resumable" demand).

Each pipeline stage is materialized through `StageRecorder.stage()`:
the DataFrame is either written to the work_dir (checkpoint — a
re-run resumes by reading it back instead of recomputing) or
persisted in memory, and a metrics row (stage, rows, partitions,
wall seconds, extractor version) plus per-partition lineage counts
are recorded. `flush()` appends them to parquet side tables under
the work_dir so a resumed run can audit what previous attempts did.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rdf_diff_store_spark.functions.text import EXTRACTOR_VERSION
from rdf_diff_store_spark.streaming.state import HadoopFS


class StageRecorder:
    def __init__(self, spark: SparkSession, work_dir: str | None = None):
        self.spark = spark
        self.work_dir = work_dir
        self._fs = HadoopFS(spark) if work_dir else None
        self.metrics: list[dict] = []
        self.lineage: list[dict] = []
        self._cached: list[DataFrame] = []

    def stage(self, name: str, df: DataFrame, partition_by: str | None = None) -> DataFrame:
        """Materialize one stage boundary; resume from the checkpoint
        if it already exists (exactly-once per stage by overwrite).
        `partition_by` writes the checkpoint in a partitioned layout
        (e.g. the changelog's days(ts) production layout), so
        downstream as-of reads prune files."""
        t0 = time.perf_counter()
        if self.work_dir:
            path = f"{self.work_dir}/{name}"
            if self._fs.exists(f"{path}/_SUCCESS"):
                out = self.spark.read.parquet(path)
                self._record(name, out, t0, resumed=True)
                return out
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(path)
            out = self.spark.read.parquet(path)
        else:
            out = df.persist(StorageLevel.MEMORY_AND_DISK)
            self._cached.append(out)
        # _record's per-partition count is the materializing action for
        # the persist path, so wall time is measured around it
        self._record(name, out, t0, resumed=False)
        return out

    def release_intermediates(self) -> None:
        """Unpersist every in-memory stage cache except the most
        recent one (the pipeline's returned output). Without this,
        repeated pipeline runs in one session leak 7 cached frames
        per run (guide §5: unpersist when done) — executor storage
        fills with dead blocks and later runs pay eviction + GC.
        Safe at any point after the final stage's _record (which
        fully materializes it): earlier stages are only lineage
        parents, re-computable on the rare eviction of the output."""
        for df in self._cached[:-1]:
            df.unpersist(blocking=False)
        del self._cached[:-1]

    def _record(self, name: str, df: DataFrame, t0: float, resumed: bool) -> None:
        per_part = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        wall = time.perf_counter() - t0
        self.metrics.append(
            {
                "stage": name,
                "rows": sum(r.rows for r in per_part),
                "n_partitions": len(per_part),
                "wall_sec": round(wall, 3),
                "resumed": resumed,
                "extractor_version": EXTRACTOR_VERSION,
            }
        )
        for r in per_part:
            self.lineage.append(
                {"stage": name, "partition_id": r.partition_id, "rows": r.rows}
            )

    def flush(self) -> None:
        if not self.work_dir or not self.metrics:
            return
        self.spark.createDataFrame(
            [tuple(m.values()) for m in self.metrics],
            "stage string, rows long, n_partitions int, wall_sec double, resumed boolean, extractor_version string",
        ).write.mode("append").parquet(f"{self.work_dir}/_metrics")
        self.spark.createDataFrame(
            [tuple(l.values()) for l in self.lineage],
            "stage string, partition_id int, rows long",
        ).write.mode("append").parquet(f"{self.work_dir}/_lineage")
