"""Streaming KG construction: batch-split invariance and equivalence
with the batch pipeline's add-path."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from rdf_diff_store_spark.operators.versioned import snapshot_at
from rdf_diff_store_spark.pipeline.kg import (
    alias_edges,
    canonical_entity_map,
    changelog_of,
    extract_pages,
    first_capture,
    mentions_of,
    quads_of,
)
from rdf_diff_store_spark.sources.pages import generate_pages
from rdf_diff_store_spark.streaming.kg_stream import (
    StreamingKgWriter,
    pages_to_changelog_rows,
    read_pages_stream,
)

T_END = "2024-02-01 00:00:00"


def _entity_map(spark, pages):
    ext = extract_pages(pages)
    return canonical_entity_map(alias_edges(first_capture(ext), mentions_of(first_capture(ext))))


def _batch_changelog(pages, emap):
    ext = extract_pages(pages)
    return changelog_of(quads_of(mentions_of(ext), ext, emap), pages)


def test_repeated_capture_hashes_like_batch(spark):
    """A capture that arrives twice is still one graph version: the
    stream's rows carry the same content hash as the batch changelog's
    for every (url, ts) the batch keeps."""
    pages = (
        generate_pages(spark, n_urls=20, n_crawls=2, n_entities=10)
        .select("url", "warc_ts", "html", "text", "lang")
        .localCheckpoint()
    )
    pages = pages.unionByName(pages.limit(1)).localCheckpoint()
    emap = _entity_map(spark, pages).localCheckpoint()
    (repeated,) = pages.groupBy("url", "warc_ts").count().filter("count > 1").collect()

    batch = {
        (r.graph_id, r.ts): r.content_hash
        for r in _batch_changelog(pages, emap).filter(F.col("op") == "add").collect()
    }
    stream_rows = pages_to_changelog_rows(pages, emap).select(
        "graph_id", "ts", F.sha2("payload", 256).alias("content_hash")
    )
    stream = {(r.graph_id, r.ts): r.content_hash for r in stream_rows.collect()}
    assert (repeated.url, repeated.warc_ts) in batch
    assert {k: stream[k] for k in batch} == batch


def test_streaming_kg_matches_batch_adds(spark, tmp_path):
    pages = (
        generate_pages(spark, n_urls=120, n_crawls=3, n_entities=60)
        .select("url", "warc_ts", "html", "text", "lang")
        .localCheckpoint()
    )
    emap = _entity_map(spark, pages).localCheckpoint()

    # stream the pages in two crawl-round batches
    src = str(tmp_path / "pages_src")
    pages.filter(F.col("warc_ts") < "2024-01-02").write.mode("append").parquet(src)
    writer = StreamingKgWriter(spark, str(tmp_path / "changelog"), emap)
    q = writer.start(read_pages_stream(spark, src), str(tmp_path / "ckpt"), trigger_seconds=1)
    q.processAllAvailable()
    mid_snapshot = snapshot_at(writer.read_changelog(), T_END).count()
    pages.filter(F.col("warc_ts") >= "2024-01-02").write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    streamed = writer.read_changelog()
    assert snapshot_at(streamed, T_END).count() >= mid_snapshot

    # batch reference: the batch pipeline's changelog over the same
    # pages and entity map, one shot
    batch_rows = _batch_changelog(pages, emap)
    s_stream = {
        (r.graph_id, r.content_hash) for r in snapshot_at(streamed, T_END).collect()
    }
    # latest-wins over the batch add-rows: the stream writes no
    # crawl-round tombstones, and compaction only drops an add equal
    # to the one before it, so the latest add's hash is unchanged
    w = Window.partitionBy("graph_id").orderBy(F.col("ts").desc())
    latest_batch = (
        batch_rows.filter(F.col("op") == "add")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("graph_id", "content_hash")
    )
    s_batch = {(r.graph_id, r.content_hash) for r in latest_batch.collect()}
    assert s_stream == s_batch

    # replaying the whole feed under a FRESH stream checkpoint (case
    # (c) of the writer contract: old data re-fed in different batch
    # shapes) may leave exact-duplicate raw rows — reads no longer pay
    # a whole-table dropDuplicates for it (r03). The guarantees that
    # must hold: snapshot semantics are unchanged even before
    # compaction (max_by is duplicate-insensitive), and compact()
    # restores the row-for-row minimal history.
    n_before = streamed.count()
    snap_before = {
        (r.graph_id, r.content_hash) for r in snapshot_at(streamed, T_END).collect()
    }
    writer2 = StreamingKgWriter(spark, str(tmp_path / "changelog"), emap)
    q2 = writer2.start(read_pages_stream(spark, src), str(tmp_path / "ckpt2"), trigger_seconds=1)
    q2.processAllAvailable()
    q2.stop()
    replayed = writer2.read_changelog()
    snap_after = {
        (r.graph_id, r.content_hash) for r in snapshot_at(replayed, T_END).collect()
    }
    assert snap_after == snap_before
    writer2.compact()
    assert writer2.read_changelog().count() == n_before
