"""Streaming KG construction: pages arrive as an unbounded stream,
each micro-batch runs extract → mentions → quads → changelog-append
with the same content-hash idempotence as the batch pipeline.

Division of labor mirrors production KG systems:
* per-batch (streaming): extraction, mention detection, quad emission,
  idempotent changelog append — embarrassingly parallel, no global
  state beyond the changelog itself;
* periodic (batch): entity canonicalization (MinHash-LSH + connected
  components needs a corpus-wide view; it runs as the batch job
  `pipeline/kg.py::alias_edges`+`canonical_entity_map` on a schedule,
  and its output `entity_map` is handed to the stream as a slowly
  changing dimension).

Equivalence contract (tested): streaming the same pages in any batch
split, with the same entity_map, converges to the same snapshot as the
batch pipeline — because both reduce to the same canonical payloads
and latest-wins semantics.

Note: tombstones for disappeared urls are inherently a *batch-boundary*
judgment (absence from a full crawl round); the stream handles explicit
deletes, while crawl-round tombstoning stays in the batch path
(`changelog_of`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from rdf_diff_store_spark.schemas import PAGES


def pages_to_changelog_rows(pages_batch: DataFrame, entity_map: DataFrame) -> DataFrame:
    """One micro-batch of pages → candidate changelog rows
    (graph_id, ts, op='add', payload, content_hash, format) built by the
    batch pipeline's own `canonical_adds`, so a capture hashes the same
    in both paths. Pure function of (batch, entity_map) — replays are
    idempotent because downstream append_updates dedups on content
    hash."""
    from rdf_diff_store_spark.pipeline.kg import canonical_adds, extract_pages, mentions_of, quads_of

    extracted = extract_pages(pages_batch)
    quads = quads_of(mentions_of(extracted), extracted, entity_map)
    return canonical_adds(quads).withColumn("format", F.lit("text/turtle"))


class StreamingKgWriter:
    """foreachBatch sink: pages stream → incremental changelog table
    (parquet stage-and-swap; Iceberg/Delta commit per batch at cluster
    scale). Shares StreamingChangelogWriter's idempotent fold."""

    def __init__(self, spark: SparkSession, table_dir: str, entity_map: DataFrame):
        from rdf_diff_store_spark.streaming.ingest import StreamingChangelogWriter

        self._inner = StreamingChangelogWriter(spark, table_dir)
        self.entity_map = entity_map.localCheckpoint()

    def read_changelog(self) -> DataFrame:
        return self._inner.read_changelog()

    def compact(self) -> None:
        """Periodic maintenance: restore minimal history (absorbs the
        exact-duplicate rows a fresh-checkpoint whole-feed replay can
        leave — see StreamingChangelogWriter case (c))."""
        self._inner.compact()

    def process_batch(self, pages_batch: DataFrame, batch_id: int) -> None:
        updates = pages_to_changelog_rows(pages_batch, self.entity_map)
        self._inner.process_batch(updates, batch_id)

    def start(
        self, pages_stream: DataFrame, checkpoint_dir: str, trigger_seconds: int = 60
    ) -> StreamingQuery:
        return (
            pages_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )


def read_pages_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of pages (parquet drop-dir ≙ crawl feed)."""
    return spark.readStream.schema(PAGES).parquet(source_dir)
