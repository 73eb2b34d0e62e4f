"""The one-record commit protocol of the micro-batch sinks
(streaming/state.py::CommitLog): a crash before the record replays
into the same version, a crash after it skips the replay, and every
path goes through the table's own Hadoop FileSystem, so `file:` URIs
behave like plain paths."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from rdf_diff_store_spark.metrics import StageRecorder
from rdf_diff_store_spark.operators.versioned import append_updates
from rdf_diff_store_spark.schemas import CHANGELOG
from rdf_diff_store_spark.streaming.ingest import StreamingChangelogWriter
from rdf_diff_store_spark.streaming.neardup import StreamingNearDupFilter
from rdf_diff_store_spark.streaming.state import CommitLog, upto_glob

TTL = '<http://e/{0}> <http://e/p> "{1}" .'
COLS = ["graph_id", "ts", "op", "content_hash", "payload"]


def _updates(spark, rows):
    return (
        spark.createDataFrame(rows, "graph_id string, ts string, op string, payload string")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("format", F.lit(None).cast("string"))
    )


def _add(g, day, v):
    return (g, f"2024-01-0{day} 00:00:00", "add", TTL.format(g, v))


def _delete(g, day):
    return (g, f"2024-01-0{day} 00:00:00", "delete", None)


# three batches over five graphs: fresh adds, a content change, a
# byte-identical resend, a tombstone and a delete of a graph that never
# existed (it writes no state row, so its bucket may write nothing)
BATCHES = [
    [_add("g1", 1, "a"), _add("g2", 1, "a"), _add("g3", 1, "a")],
    [_add("g1", 2, "b"), _add("g2", 2, "a"), _delete("g3", 2), _delete("ghost", 2)],
    [_add("g4", 3, "a"), _add("g3", 3, "c"), _add("ghost", 3, "a")],
]


def _rows(df):
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def _fold(spark, batches):
    every = [row for b in batches for row in b]
    return _rows(append_updates(spark.createDataFrame([], CHANGELOG), _updates(spark, every)))


class _CountingLog(CommitLog):
    """A commit log whose versions 0..committed-1 exist, counting probes."""

    def __init__(self, committed: int) -> None:
        self.dir, self._known, self._last = "log", -1, None
        self.committed, self.calls = committed, 0

    def exists(self, path: str) -> bool:
        self.calls += 1
        return int(path.rsplit("/", 1)[1]) < self.committed


@pytest.mark.parametrize("committed", [0, 1, 2, 3, 5, 8, 100, 2000])
def test_latest_is_logarithmic_then_constant(committed):
    log = _CountingLog(committed)
    assert log.latest() == (committed - 1 if committed else None)
    assert log.calls <= 2 * math.ceil(math.log2(committed + 1)) + 1
    log.calls = 0
    assert log.latest() == (committed - 1 if committed else None)
    assert log.calls == 1  # a warm handle probes only the next version
    log.committed += 1
    log.calls = 0
    assert log.latest() == committed
    assert log.calls == 3  # found, then one gallop and one bisect probe


@pytest.mark.parametrize("v", [0, 1, 9, 10, 11, 99, 100, 230, 1009, 2000])
def test_upto_glob_matches_exactly_the_committed_prefix(v):
    import re

    glob = upto_glob(v)
    pattern = re.compile(glob.replace("{", "(?:").replace(",", "|").replace("}", ")"))
    assert [n for n in range(2600) if pattern.fullmatch(str(n))] == list(range(v + 1))
    assert not pattern.fullmatch("0" + str(v))  # no leading zeros


def test_glob_lists_exactly_the_matching_paths(spark, tmp_path):
    for n in range(13):
        (tmp_path / f"batch-s{n}").mkdir()
    fs = CommitLog(spark, f"file:{tmp_path}/_commits")
    found = fs.glob(f"file:{tmp_path}/batch-s{upto_glob(11)}")
    assert sorted(int(p.rsplit("batch-s", 1)[1]) for p in found) == list(range(12))
    assert fs.glob(f"{tmp_path}/batch-x*") == []


def test_second_commit_of_a_version_raises(spark, tmp_path):
    log = CommitLog(spark, f"file:{tmp_path}/commits")
    log.commit(0, {"fp": "a"})
    with pytest.raises(Exception, match="already exists"):
        CommitLog(spark, f"file:{tmp_path}/commits").commit(0, {"fp": "b"})
    fresh = CommitLog(spark, str(tmp_path / "commits"))
    assert fresh.latest() == 0
    assert fresh.read(0) == {"fp": "a"}


def test_refused_commit_leaves_only_the_record(spark, tmp_path):
    log = CommitLog(spark, f"file:{tmp_path}/commits")
    log.commit(0, {"fp": "a"})
    with pytest.raises(Exception, match="already exists"):
        CommitLog(spark, str(tmp_path / "commits")).commit(0, {"fp": "b"})
    assert sorted(p.name for p in (tmp_path / "commits").iterdir()) == [".0.crc", "0"]


class _Crash(RuntimeError):
    pass


def _crash_before_commit(monkeypatch):
    def crashing_commit(self, n, record):
        raise _Crash("before the commit record")

    monkeypatch.setattr(CommitLog, "commit", crashing_commit)


def test_reader_skips_a_batch_that_crashed_before_its_commit(spark, tmp_path, monkeypatch):
    table = f"file:{tmp_path}/log"
    StreamingChangelogWriter(spark, table).process_batch(_updates(spark, BATCHES[0]), 0)
    _crash_before_commit(monkeypatch)
    with pytest.raises(_Crash):
        StreamingChangelogWriter(spark, table).process_batch(_updates(spark, BATCHES[1]), 1)
    monkeypatch.undo()
    assert (tmp_path / "log" / "batch-s1").is_dir()  # written, not committed
    assert _rows(StreamingChangelogWriter(spark, table).read_changelog()) == _fold(
        spark, BATCHES[:1]
    )


def test_neardup_reader_skips_a_batch_that_crashed_before_its_commit(
    spark, tmp_path, monkeypatch
):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    later = spark.createDataFrame(
        [(2, "one two three four five six seven eight nine ten eleven")],
        "doc_id long, text string",
    )
    out = f"file:{tmp_path}/kept"
    StreamingNearDupFilter(spark, out).process_batch(docs, 0)
    _crash_before_commit(monkeypatch)
    with pytest.raises(_Crash):
        StreamingNearDupFilter(spark, out).process_batch(later, 1)
    monkeypatch.undo()
    assert (tmp_path / "kept" / "batch-s1").is_dir()
    assert [r.doc_id for r in StreamingNearDupFilter(spark, out).read_kept().collect()] == [1]


@pytest.mark.parametrize("crash_after", ["batch dir", "state dir", "commit record"])
def test_crash_after_each_write_then_replay_matches_fold(
    spark, tmp_path, monkeypatch, crash_after
):
    """Kill batch 1 right after one of its three writes, replay it with
    a fresh writer, then carry on: the table is the fold of all
    batches, with no duplicate row and one committed version a batch."""
    table = f"file:{tmp_path}/log"
    StreamingChangelogWriter(spark, table, n_buckets=16).process_batch(
        _updates(spark, BATCHES[0]), 0
    )
    if crash_after == "commit record":
        commit = CommitLog.commit

        def crashing_commit(self, n, record):
            commit(self, n, record)
            raise _Crash(crash_after)

        monkeypatch.setattr(CommitLog, "commit", crashing_commit)
    else:
        parquet = DataFrameWriter.parquet
        target = "/batch-s1" if crash_after == "batch dir" else "__state/v-1"

        def crashing_parquet(self, path, *args, **kwargs):
            parquet(self, path, *args, **kwargs)
            if path.endswith(target):
                raise _Crash(crash_after)

        monkeypatch.setattr(DataFrameWriter, "parquet", crashing_parquet)
    with pytest.raises(_Crash):
        StreamingChangelogWriter(spark, table).process_batch(_updates(spark, BATCHES[1]), 1)
    monkeypatch.undo()

    writer = StreamingChangelogWriter(spark, table)
    assert writer._latest_state_version() == (1 if crash_after == "commit record" else 0)
    writer.process_batch(_updates(spark, BATCHES[1]), 1)  # the replay
    writer.process_batch(_updates(spark, BATCHES[2]), 2)
    rows = _rows(writer.read_changelog())
    assert rows == _fold(spark, BATCHES)
    assert len(rows) == len(set(rows))
    assert StreamingChangelogWriter(spark, table)._latest_state_version() == 2


def test_bucket_that_writes_nothing_stays_out_of_the_map(spark, tmp_path):
    """A touched bucket whose only row is dropped (a delete of a graph
    that never existed) creates no state directory, so the bucket map
    must not point at one: the next batch reads that bucket."""
    w = StreamingChangelogWriter(spark, str(tmp_path / "log"), n_buckets=64)
    w.process_batch(_updates(spark, [_add("g1", 1, "a")]), 0)
    w.process_batch(_updates(spark, [_delete("ghost", 2)]), 1)
    assert w.log.read(1)["manifest"] == w.log.read(0)["manifest"]
    w.process_batch(_updates(spark, [_add("ghost", 3, "a")]), 2)
    assert _rows(w.read_changelog()) == _fold(
        spark, [[_add("g1", 1, "a")], [_delete("ghost", 2)], [_add("ghost", 3, "a")]]
    )


def test_file_uri_writer_batches_and_replay_match_fold(spark, tmp_path):
    table = f"file:{tmp_path}/log"
    w = StreamingChangelogWriter(spark, table, n_buckets=4)
    w.process_batch(_updates(spark, BATCHES[0]), 0)
    w.process_batch(_updates(spark, BATCHES[1]), 1)
    w.process_batch(_updates(spark, BATCHES[1]), 1)  # exact replay
    assert _rows(w.read_changelog()) == _fold(spark, BATCHES[:2])
    assert StreamingChangelogWriter(spark, table, n_buckets=64).n_buckets == 4
    w.compact()
    assert _rows(w.read_changelog()) == _fold(spark, BATCHES[:2])


def test_file_uri_neardup_committed_replay_is_a_no_op(spark, tmp_path):
    text = "the quick brown fox jumps over the lazy dog by the river bank today"
    docs = spark.createDataFrame([(1, text), (2, text + " again")], "doc_id long, text string")
    f = StreamingNearDupFilter(spark, f"file:{tmp_path}/kept")
    f.process_batch(docs, 0)
    kept = sorted(r.doc_id for r in f.read_kept().collect())
    f.process_batch(docs, 0)
    assert sorted(r.doc_id for r in f.read_kept().collect()) == kept
    assert f._latest_version() == 0


def test_file_uri_stage_recorder_resumes(spark, tmp_path):
    work = f"file:{tmp_path}/work"
    df = spark.range(5)
    StageRecorder(spark, work).stage("numbers", df)
    rec = StageRecorder(spark, work)
    assert rec.stage("numbers", df).count() == 5
    assert rec.metrics[-1]["resumed"] is True
