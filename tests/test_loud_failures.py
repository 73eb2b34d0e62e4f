"""Failures must be loud: only a missing path reads as empty state, and
caches key on everything their value depends on."""

from __future__ import annotations

import pytest


def test_read_changelog_missing_table_is_empty(spark, tmp_path):
    from rdf_diff_store_spark.streaming.ingest import StreamingChangelogWriter
    from rdf_diff_store_spark.streaming.state import read_or_empty

    writer = StreamingChangelogWriter(spark, str(tmp_path / "table"))
    assert writer.read_changelog().count() == 0
    # only a missing path is empty: an unknown filesystem scheme raises
    # in the writer's commit-log probe and in read_or_empty alike
    with pytest.raises(Exception, match="nosuchfs"):
        StreamingChangelogWriter(spark, "nosuchfs://bucket/table").read_changelog()
    with pytest.raises(Exception, match="nosuchfs"):
        read_or_empty(spark, "nosuchfs://bucket/work/s", "a string")


def test_read_changelog_corrupt_table_raises(spark, tmp_path):
    from rdf_diff_store_spark.streaming.ingest import StreamingChangelogWriter

    from rdf_diff_store_spark.streaming.state import CommitLog

    table = tmp_path / "table"
    (table / "batch-s0").mkdir(parents=True)
    (table / "batch-s0" / "part-0.parquet").write_text("this is not parquet")
    # committed, so batch-s0 is part of the table (an uncommitted
    # segment is not read at all)
    CommitLog(spark, f"{table}__state/_commits").commit(
        0, {"fp": "", "manifest": {}, "n_buckets": 16}
    )
    writer = StreamingChangelogWriter(spark, str(table))
    with pytest.raises(Exception):
        writer.read_changelog().count()


def test_scan_partition_cache_keys_on_session(spark, sf_dir, monkeypatch):
    from rdf_diff_store_spark.schemas import load_table
    from rdf_diff_store_spark.sources import relational

    app = spark.sparkContext.applicationId
    # a count cached by another session (other cores, other conf) must
    # not be reused by this one
    monkeypatch.setitem(relational._SCAN_PARTS, ("app-other", sf_dir, "events"), 10**6)
    monkeypatch.delitem(relational._SCAN_PARTS, (app, sf_dir, "events"), raising=False)
    ev = load_table(spark, sf_dir, "events")
    n = relational._scan_partitions(ev, sf_dir, "events")
    assert n == ev.rdd.getNumPartitions()
    assert relational._SCAN_PARTS[(app, sf_dir, "events")] == n
