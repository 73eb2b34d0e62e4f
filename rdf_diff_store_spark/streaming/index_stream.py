"""Streaming inverted-index maintenance: keep (term, df, cf, capped
postings) current over an unbounded append-only document stream.

Reference context: the reference's store answers queries over the
materialized current state and keeps it current per write
(/root/reference/src/bin/rdf-diff-writer.rs:45-91 applies each update
transactionally); the retrieval-index analog is maintaining the
index of operators/index.py incrementally instead of rebuilding it
per crawl batch. Each micro-batch contributes one map-side-combinable
aggregation over ITS documents only; the persisted state merges by a
semilattice:

* df, cf add (a doc appears in exactly one batch of an append-only
  doc stream, so per-batch document frequencies are disjoint);
* postings (the first ``postings_cap`` doc ids ascending) merge by
  capped sorted union — min-k is associative (k smallest of
  (k smallest of A) ∪ (k smallest of B) = k smallest of A ∪ B),
  so the streamed postings equal the one-shot build's exactly
  (pytest-pinned against ``inverted_index`` over the concatenated
  batches).

Replay safety: df/cf addition is NOT idempotent, so the sink keeps
the same batch-id high-water mark as StreamingHeavyHitters — a
replayed batch after a crash between state write and checkpoint
commit is skipped whole.

Scale note: state is one row per vocabulary term (Heaps' law —
sublinear in corpus size, but not constant like the sketches). The
rewrite-per-batch here is the single-file test shape; at production
vocabulary sizes write the state partitioned by a term-hash bucket
and merge only buckets the batch touched (the bucketed-state shape
streaming/ingest.py uses for graphs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_diff_store_spark.streaming.state import read_or_empty


class StreamingIndex:
    """foreachBatch processor: feed it (doc_id, text) micro-batches,
    read the current index back any time. Wire into Structured
    Streaming with ``stream.writeStream.foreachBatch(ix.process_batch)``.
    """

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        postings_cap: int = 10,
    ) -> None:
        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self.postings_cap = postings_cap
        self._state_path = os.path.join(work_dir, "index_state")
        self._mark_path = os.path.join(work_dir, "index_batchmark")

    def _read_mark(self) -> int:
        row = read_or_empty(self.spark, self._mark_path, "batch_id long").first()
        return -1 if row is None else row["batch_id"]  # -1: no mark yet

    def state(self) -> DataFrame:
        schema = "term string, df long, cf long, postings array<long>"
        return read_or_empty(self.spark, self._state_path, schema)

    def _batch_index(self, batch: DataFrame) -> DataFrame:
        # the two-stage build of operators/index.py::inverted_index,
        # with postings kept as an array (the mergeable form)
        toks = batch.select(
            F.col(self.id_col).alias("doc_id"),
            F.explode(
                F.split(F.lower(F.trim(self.text_col)), r"\s+")
            ).alias("term"),
        ).filter(F.length("term") > 0)
        tf = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
        return tf.groupBy("term").agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("cf"),
            F.slice(
                F.sort_array(F.collect_list("doc_id")), 1, self.postings_cap
            ).alias("postings"),
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self._read_mark():
            return  # replayed batch after a crash: already merged
        fresh = self._batch_index(batch)
        old = self.state()
        merged = (
            old.select("term", "df", "cf", "postings")
            .unionByName(fresh)
            .groupBy("term")
            .agg(
                F.sum("df").cast("bigint").alias("df"),
                F.sum("cf").cast("bigint").alias("cf"),
                F.slice(
                    F.array_sort(F.flatten(F.collect_list("postings"))),
                    1,
                    self.postings_cap,
                ).alias("postings"),
            )
            .localCheckpoint()
        )
        merged.write.mode("overwrite").parquet(self._state_path)
        self.spark.createDataFrame(
            [(batch_id,)], "batch_id long"
        ).write.mode("overwrite").parquet(self._mark_path)

    def index(self, min_df: int = 1) -> DataFrame:
        """The current index in `inverted_index`'s output surface:
        (term, df, cf, postings csv string)."""
        out = self.state().select(
            "term",
            "df",
            "cf",
            F.concat_ws(
                ",", F.transform(F.col("postings"), lambda x: x.cast("string"))
            ).alias("postings"),
        )
        if min_df > 1:
            out = out.filter(F.col("df") >= min_df)
        return out
