"""Failures must be loud: only a missing path reads as empty state, and
caches key on everything their value depends on."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException


class _NoJvmSession:
    """A session without the private JVM handles, as under Spark Connect."""

    def __init__(self, spark):
        self.read = spark.read

    def __getattr__(self, name):
        raise AttributeError(name)


def test_state_filesystem_error_propagates(spark):
    from rdf_diff_store_spark.streaming.state import AppendOnlyState

    st = AppendOnlyState(spark, "nosuchfs://bucket/work", "s", "a string")
    with pytest.raises(Exception, match="nosuchfs"):
        st.read()


def test_state_probe_without_jvm_maps_only_missing_to_empty(spark, tmp_path):
    from rdf_diff_store_spark.streaming.state import AppendOnlyState

    no_jvm = _NoJvmSession(spark)
    local = AppendOnlyState(no_jvm, str(tmp_path), "s", "a string")
    assert not local._exists()
    os.makedirs(local.path)
    assert local._exists()

    remote = AppendOnlyState(no_jvm, "nosuchfs://bucket/work", "s", "a string")
    with pytest.raises(Exception, match="nosuchfs"):
        remote._exists()


def test_state_probe_without_jvm_reads_path_not_found_as_absent(spark, tmp_path):
    from rdf_diff_store_spark.streaming.state import AppendOnlyState

    with pytest.raises(AnalysisException) as missing:
        spark.read.parquet(str(tmp_path / "missing"))

    class MissingReader:
        def parquet(self, path):
            raise missing.value

    no_jvm = _NoJvmSession(spark)
    no_jvm.read = MissingReader()
    st = AppendOnlyState(no_jvm, "hdfs://nn/work", "s", "a string")
    assert not st._exists()


def test_read_changelog_missing_table_is_empty(spark, tmp_path):
    from rdf_diff_store_spark.streaming.ingest import StreamingChangelogWriter

    writer = StreamingChangelogWriter(spark, str(tmp_path / "table"))
    assert writer.read_changelog().count() == 0


def test_read_changelog_corrupt_table_raises(spark, tmp_path):
    from rdf_diff_store_spark.streaming.ingest import StreamingChangelogWriter

    table = tmp_path / "table"
    (table / "batch-s0").mkdir(parents=True)
    (table / "batch-s0" / "part-0.parquet").write_text("this is not parquet")
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
