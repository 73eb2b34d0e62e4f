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


def _truncate_parquet(d):
    """Cut every parquet file under `d` in half (its footer goes) and
    drop the checksum sidecars, so the read fails in the parquet
    reader itself."""
    for f in d.rglob("*.parquet"):
        f.write_bytes(f.read_bytes()[: f.stat().st_size // 2])
    for crc in d.rglob(".*.crc"):
        crc.unlink()


def test_sketch_sink_state_reads_only_missing_as_empty(spark, tmp_path):
    from rdf_diff_store_spark.streaming.sketch_stream import (
        StreamingDistinct,
        StreamingHeavyHitters,
    )

    toks = spark.createDataFrame([("a",), ("b",), ("a",)], "tok string")
    hh = StreamingHeavyHitters(spark, str(tmp_path / "hh"))
    assert hh._read_mark() == -1 and hh.counters().count() == 0
    hh.process_batch(toks, 0)
    _truncate_parquet(tmp_path / "hh" / "cm_counters")
    with pytest.raises(Exception):
        hh.counters().collect()
    _truncate_parquet(tmp_path / "hh" / "cm_batchmark")
    with pytest.raises(Exception):
        hh._read_mark()

    vals = spark.createDataFrame([("x",), ("y",)], "v string")
    sd = StreamingDistinct(spark, str(tmp_path / "sd"))
    assert sd.registers().count() == 0
    sd.process_batch(vals, 0)
    _truncate_parquet(tmp_path / "sd" / "hll_registers")
    with pytest.raises(Exception):
        sd.registers().collect()


def test_index_sink_state_reads_only_missing_as_empty(spark, tmp_path):
    from rdf_diff_store_spark.streaming.index_stream import StreamingIndex

    docs = spark.createDataFrame([(1, "a b"), (2, "b c")], "doc_id long, text string")
    ix = StreamingIndex(spark, str(tmp_path / "ix"))
    assert ix._read_mark() == -1 and ix.state().count() == 0
    ix.process_batch(docs, 0)
    _truncate_parquet(tmp_path / "ix" / "index_state")
    with pytest.raises(Exception):
        ix.state().collect()
    _truncate_parquet(tmp_path / "ix" / "index_batchmark")
    with pytest.raises(Exception):
        ix._read_mark()
