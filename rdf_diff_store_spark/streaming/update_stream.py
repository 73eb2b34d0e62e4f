"""Streaming SPARQL-update channel: an unbounded stream of
(ts, update_text) requests applied to the versioned store in event
order, exactly once.

This is the standard-protocol twin of the reference's update queue —
rdf-diff-writer pulls queued graph writes and commits them on a 60 s
cadence (/root/reference/src/bin/rdf-diff-writer.rs:109-123); here the
queued writes are SPARQL 1.1 UPDATE strings and each micro-batch
commits them through plans/sparql_update.apply_update.

Exactly-once without a transaction log: apply_update is idempotent
(append_updates normalizes identical replays away), and the applier
persists ONLY the appended version rows per batch (O(batch effect),
not O(store)) — a replayed micro-batch re-derives the same rows,
which normalize to nothing, so the second write is empty.

Ordering: updates apply in (ts, text) order inside a batch. Update
timestamps must be monotonically non-decreasing across batches (the
reference's queue guarantees this by construction — commit time is
wall clock). A batch that would rewrite stored history raises: one
whose max ts precedes the stored maximum (fully stale), or one that
mixes new work (ts above the stored max) with late rows below it —
only a pure replay (batch max <= stored max, because its own rows are
already stored) falls through, re-derives identical rows, and appends
nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_diff_store_spark.schemas import CHANGELOG
from rdf_diff_store_spark.streaming.state import read_or_empty


class UpdateStreamApplier:
    """foreachBatch handler: fold a micro-batch of SPARQL updates into
    the changelog table under `work_dir`."""

    def __init__(self, spark: SparkSession, work_dir: str):
        self.spark = spark
        self.dir = os.path.join(work_dir, "changelog")

    def changelog(self) -> DataFrame:
        """The stored changelog. Read through Spark, not os.path, so a
        `file:` or remote work_dir sees its history; only a missing
        table means "no history yet", any other read failure raises."""
        return read_or_empty(self.spark, self.dir, CHANGELOG)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from rdf_diff_store_spark.plans.sparql_update import apply_update

        # update requests are human-scale strings (the reference's
        # whole queue rides one HTTP endpoint) — collecting ONE batch
        # of them is bounded by the trigger interval, never the store
        reqs = sorted(
            ((r["ts"], r["update_text"]) for r in batch.collect()),
            key=lambda x: (x[0], x[1]),
        )
        if not reqs:
            return
        log = self.changelog().localCheckpoint()
        prev_max = log.agg(F.max("ts")).first()[0]
        # Out-of-order guard, replay-safe: on a foreachBatch REPLAY
        # (crash between parquet append and checkpoint commit)
        # prev_max already includes this batch's own rows, so batch
        # timestamps legitimately precede it — but then the batch MAX
        # is <= the stored max (its own max was stored). Two shapes
        # are therefore genuinely out-of-order and raise:
        #   * batch max < stored max (fully stale batch), and
        #   * batch max > stored max WITH an earlier row below it
        #     (mixed batch: contains NEW work, so it cannot be a
        #     replay, and its sub-max rows would rewrite history).
        # A replayed batch (max <= stored max, possibly multi-ts)
        # falls through to the anti-join, re-derives identical rows,
        # and appends nothing. Remaining ambiguity, documented: a NEW
        # batch whose max coincides exactly with the stored max but
        # carries never-seen earlier rows is indistinguishable from a
        # replay without persisted batch ids.
        if prev_max is not None:
            if reqs[-1][0] < prev_max:
                raise ValueError(
                    f"update stream went backwards: batch max ts {reqs[-1][0]} "
                    f"< stored max {prev_max} (the queue must be time-ordered)"
                )
            if reqs[-1][0] > prev_max and reqs[0][0] < prev_max:
                raise ValueError(
                    f"out-of-order update batch: contains new work (max ts "
                    f"{reqs[-1][0]} > stored max {prev_max}) mixed with "
                    f"late rows (min ts {reqs[0][0]} < stored max) — a "
                    f"replay would not exceed the stored max"
                )
        new_log = log
        for ts, text in reqs:
            new_log = apply_update(new_log, text, ts)
        # persist only the APPENDED rows: everything at ts >= the
        # batch's first update time that the fold produced. Replays
        # re-derive identical rows, which apply_update's normalization
        # drops against the already-stored copies → empty append.
        # Row identity includes the content hash (null-safe): two
        # different-content versions of one graph CAN share a ts (two
        # same-second updates across batches), and the coarser
        # (graph, ts, op) key would drop the second one.
        old = log.select(
            F.col("graph_id").alias("__g"),
            F.col("ts").alias("__t"),
            F.col("op").alias("__o"),
            F.coalesce("content_hash", F.lit("")).alias("__h"),
        )
        cond = (
            (F.col("graph_id") == F.col("__g"))
            & (F.col("ts") == F.col("__t"))
            & (F.col("op") == F.col("__o"))
            & (F.coalesce("content_hash", F.lit("")) == F.col("__h"))
        )
        appended = new_log.join(old, cond, "left_anti").filter(
            F.col("ts") >= F.lit(reqs[0][0])
        )
        appended.write.mode("append").parquet(self.dir)

    def start(self, requests: DataFrame, checkpoint_dir: str, interval: str = "60 seconds"):
        """requests: streaming DataFrame (ts timestamp, update_text
        string)."""
        return (
            requests.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=interval)
            .start()
        )
