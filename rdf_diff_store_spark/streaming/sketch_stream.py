"""Streaming count-min maintenance: heavy hitters over an unbounded
token stream with O(depth × width) persistent state.

Reference context: the reference recomputes exact store/graph counts
per metadata request (/root/reference/src/metrics/mod.rs:1-40); over
an unbounded crawl-token stream the equivalent question ("which
tokens dominate so far?") is answered incrementally — each
micro-batch builds its own d×w counter table (one
map-side-combinable pass over the batch, `countmin_counters`) and
merges it into the persisted sketch by ADDITION (`countmin_merge`,
pytest-pinned to equal the one-shot sketch over the concatenated
stream). State on disk is ≤ depth×width rows regardless of stream
length — the crash-safe, replay-friendly shape: re-merging an
already-merged batch is the only replay hazard, so the sink keeps a
batch-id high-water mark and skips replays (same idempotence
discipline as streaming/ingest.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from rdf_diff_store_spark.operators.sketch import (
    countmin_counters,
    countmin_estimate,
    countmin_merge,
)
from rdf_diff_store_spark.streaming.state import read_or_empty


class StreamingHeavyHitters:
    """foreachBatch processor: feed it token micro-batches, read back
    point estimates any time. Wire into Structured Streaming with
    ``stream.writeStream.foreachBatch(hh.process_batch)``."""

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        token_col: str = "tok",
        depth: int = 3,
        width: int = 256,
    ) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.token_col = token_col
        self.depth = depth
        self.width = width
        self._counters_path = os.path.join(work_dir, "cm_counters")
        self._mark_path = os.path.join(work_dir, "cm_batchmark")

    def _read_mark(self) -> int:
        row = read_or_empty(self.spark, self._mark_path, "batch_id long").first()
        return -1 if row is None else row["batch_id"]  # -1: no mark yet

    def counters(self) -> DataFrame:
        return read_or_empty(
            self.spark, self._counters_path, "r int, bucket long, counter long"
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self._read_mark():
            return  # replayed batch after a crash: already merged
        fresh = countmin_counters(
            batch, self.token_col, depth=self.depth, width=self.width
        )
        merged = countmin_merge(self.counters(), fresh).localCheckpoint()
        # state is <= depth*width rows: rewrite-in-full is O(1)-ish
        merged.coalesce(1).write.mode("overwrite").parquet(self._counters_path)
        self.spark.createDataFrame(
            [(batch_id,)], "batch_id long"
        ).write.mode("overwrite").parquet(self._mark_path)

    def estimate(self, candidates: DataFrame) -> DataFrame:
        """est_count per candidate token (one-sided: est >= exact)."""
        return countmin_estimate(
            self.counters(),
            candidates,
            self.token_col,
            depth=self.depth,
            width=self.width,
        )


class StreamingDistinct:
    """Streaming distinct-count maintenance: an HLL register table
    merged per micro-batch by register-wise MAX (operators/sketch.py::
    hll_merge).

    The replay story is strictly better than the count-min one above:
    max is IDEMPOTENT, so re-merging a replayed batch after a crash
    is a mathematical no-op — no batch-id high-water mark, no skip
    logic, nothing to get wrong. (Additive sketches need the mark
    because `old + batch + batch` double-counts; `max(old, batch,
    batch)` doesn't.) State on disk is ≤ m rows per group forever.

    Wire into Structured Streaming with
    ``stream.writeStream.foreachBatch(sd.process_batch)``.

    Group columns are STRING-typed (the empty-state frame is built
    from a DDL schema before any batch arrives); cast numeric keys
    to string upstream, as every registry query already does for
    md5-keyed operators.
    """

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        value_col: str = "v",
        group_cols: list[str] | None = None,
        b: int = 8,
    ) -> None:
        self.spark = spark
        self.value_col = value_col
        self.group_cols = group_cols if group_cols is not None else []
        self.b = b
        self._regs_path = os.path.join(work_dir, "hll_registers")

    def _schema(self) -> str:
        groups = "".join(f"{g} string, " for g in self.group_cols)
        return f"{groups}reg int, maxrank int"

    def registers(self) -> DataFrame:
        return read_or_empty(self.spark, self._regs_path, self._schema())

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from rdf_diff_store_spark.operators.sketch import (
            hll_merge,
            hll_registers,
        )

        # group columns must lead so empty-state unions line up; the
        # grouping key set is fixed at construction (streaming state
        # can't change shape mid-stream)
        fresh = hll_registers(
            batch, self.group_cols, self.value_col, b=self.b
        )
        merged = hll_merge(self.registers(), fresh).localCheckpoint()
        merged.coalesce(1).write.mode("overwrite").parquet(self._regs_path)

    def estimate(self) -> DataFrame:
        from rdf_diff_store_spark.operators.sketch import hll_estimate

        return hll_estimate(self.registers(), self.group_cols, b=self.b)
