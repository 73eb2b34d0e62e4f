"""Streaming near-duplicate suppression: online MinHash-LSH dedup
over an unbounded document stream.

The batch pipeline finds near-dup PAIRS after the fact
(operators/dedup.py::lsh_candidate_pairs); a crawl ingest needs the
online form — drop each arriving document that collides with any
already-ACCEPTED document in at least one LSH band. This is the
standard online LSH filter (first doc claims its buckets; later
colliders are suppressed; suppressed docs do NOT extend the cluster,
so transitive near-dup chains don't swallow the corpus).

Mechanics mirror streaming/ingest.py's exactly-once pattern:

* ``{out_dir}/batch-sN/``       — the batch's ACCEPTED documents
* ``{out_dir}__bands/batch-sN/`` — the band hashes those documents
  claimed (append-only; the union of these dirs up to the latest
  committed N IS the filter state)
* ``{out_dir}__bands/_commits/N`` — the one commit point, written
  last and atomically (streaming/state.py::CommitLog): the batch's
  content fingerprint. No record N → a replay reads the same state and
  rewrites the same dirs (same pre-state → same decisions); record N
  with the replay's fingerprint → the replay is skipped.

Per-batch cost: O(batch × bands) new state rows written, one semi
join of the batch's band rows against the accumulated state (at
cluster scale: a bucketed Iceberg table on (band, band_hash) with the
batch side broadcast — the scan prunes to the batch's buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from rdf_diff_store_spark.streaming.state import CommitLog, upto_glob

_EMPTY_BANDS_SCHEMA = "band int, band_hash long"


class StreamingNearDupFilter:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        num_hashes: int = 16,
        bands: int = 8,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.bands_dir = f"{out_dir}__bands"
        self.num_hashes = num_hashes
        self.bands = bands
        self.id_col = id_col
        self.text_col = text_col
        self.log = CommitLog(spark, f"{self.bands_dir}/_commits")

    # -- state ----------------------------------------------------------
    def _latest_version(self) -> int | None:
        return self.log.latest()

    def _read_state(self, upto: int | None) -> DataFrame:
        if upto is None:
            return self.spark.createDataFrame([], _EMPTY_BANDS_SCHEMA)
        # schema inferred from the files: _id's type follows id_col
        # (long doc ids, string urls, ...) — a hardcoded schema would
        # break the read for any non-long id
        return self.spark.read.parquet(*self.log.glob(f"{self.bands_dir}/batch-s{upto_glob(upto)}"))

    def read_kept(self) -> DataFrame:
        """The accepted documents of the committed batches only: a
        ``batch-sN/`` written by an attempt that crashed before its
        commit record is left out (its replay rewrites it). The kept
        rows' schema follows the input's, so a filter with nothing
        committed has nothing to read and raises."""
        v = self._latest_version()
        if v is None:
            raise FileNotFoundError(f"{self.out_dir}: no batch committed yet")
        return self.spark.read.parquet(
            *self.log.glob(f"{self.out_dir}/batch-s{upto_glob(v)}")
        ).dropDuplicates()

    # -- the filter -------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from rdf_diff_store_spark.operators.dedup import band_rows_frame, shingle_frame

        v = self._latest_version()
        new_v = (v if v is not None else -1) + 1
        batch = batch_df.localCheckpoint()
        fp_row = batch.agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64(self.id_col, self.text_col).cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        fp = f"{fp_row.n}:{fp_row.h}"
        if v is not None and self.log.read(v)["fp"] == fp:
            return  # committed replay

        sh = shingle_frame(batch, id_col=self.id_col, text_col=self.text_col)
        rows = band_rows_frame(sh, self.num_hashes, self.bands).localCheckpoint()
        state = self._read_state(v)
        # dup vs accepted history: ANY band collision
        hit_state = (
            rows.join(state.select("band", "band_hash"), ["band", "band_hash"], "left_semi")
            .select("_id")
            .distinct()
        )
        # dup within the batch: sequential first-doc-wins semantics —
        # a doc is suppressed iff some bucket of it is claimed by a
        # KEPT smaller-id batch-mate. One min-per-bucket round is not
        # enough: a doc that loses bucket B1 could still be the min of
        # B2 and wrongly swallow a batch-mate (r02 ADVICE low), so
        # iterate the suppression to a fixpoint over the in-batch
        # collision edges. Rounds = longest suppression chain
        # (typically 1-2); each round decides at least the globally
        # smallest undecided id, so it terminates.
        alive = rows.join(hit_state, "_id", "left_anti")
        edges = (
            alive.select("band", "band_hash", F.col("_id").alias("small"))
            .join(
                alive.select("band", "band_hash", F.col("_id").alias("big")),
                ["band", "band_hash"],
            )
            .filter(F.col("small") < F.col("big"))
            .select("small", "big")
            .distinct()
            .localCheckpoint()
        )
        undecided = alive.select("_id").distinct().localCheckpoint()
        kept_in_batch = self.spark.createDataFrame([], undecided.schema)
        dup_in_batch = self.spark.createDataFrame([], undecided.schema)
        while undecided.count() > 0:
            blockers = edges.join(
                kept_in_batch.withColumnRenamed("_id", "small"), "small", "left_semi"
            ).select(F.col("big").alias("_id"))
            newly_supp = undecided.join(blockers, "_id", "left_semi")
            remaining = undecided.join(newly_supp, "_id", "left_anti")
            pending = edges.join(
                remaining.withColumnRenamed("_id", "small"), "small", "left_semi"
            ).select(F.col("big").alias("_id"))
            newly_kept = remaining.join(pending, "_id", "left_anti")
            kept_in_batch = kept_in_batch.unionByName(newly_kept).localCheckpoint()
            dup_in_batch = dup_in_batch.unionByName(newly_supp).localCheckpoint()
            undecided = remaining.join(newly_kept, "_id", "left_anti").localCheckpoint()
        dups = hit_state.unionByName(dup_in_batch).distinct()
        kept = batch.join(
            dups.withColumnRenamed("_id", self.id_col), self.id_col, "left_anti"
        )
        kept_path = f"{self.out_dir}/batch-s{new_v}"
        kept.write.mode("overwrite").parquet(kept_path)
        # only ACCEPTED docs claim buckets
        kept_ids = self.spark.read.parquet(kept_path).select(
            F.col(self.id_col).alias("_id")
        )
        kept_bands = rows.join(kept_ids, "_id", "left_semi")
        kept_bands.write.mode("overwrite").parquet(f"{self.bands_dir}/batch-s{new_v}")
        self.log.commit(new_v, {"fp": fp})

    def start(
        self, docs_stream: DataFrame, checkpoint_dir: str, trigger_seconds: int = 60
    ) -> StreamingQuery:
        return (
            docs_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )
