"""Streaming SPARQL-update channel (streaming/update_stream.py):
event-order application, replay exactly-once, O(batch) appends."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_diff_store_spark.operators.versioned import snapshot_at, snapshot_triples
from rdf_diff_store_spark.streaming.update_stream import UpdateStreamApplier

T1 = "2024-06-01 00:00:00"
T2 = "2024-06-02 00:00:00"
T3 = "2024-06-03 00:00:00"
T9 = "2024-12-01 00:00:00"


def _reqs(spark, rows):
    return spark.createDataFrame(
        rows, "ts string, update_text string"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "update_text")


class TestUpdateStream:
    def test_batches_fold_in_order(self, spark, tmp_path):
        app = UpdateStreamApplier(spark, str(tmp_path))
        app.process_batch(
            _reqs(spark, [
                (T1, 'INSERT DATA { GRAPH <g:1> { <http://e/s> <http://e/p> "a" } }'),
            ]),
            0,
        )
        app.process_batch(
            _reqs(spark, [
                (T2, "PREFIX e: <http://e/> DELETE { ?s e:p ?v } "
                     "INSERT { ?s e:q ?v } WHERE { ?s e:p ?v }"),
                (T3, 'INSERT DATA { GRAPH <g:2> { <http://e/t> <http://e/p> "b" } }'),
            ]),
            1,
        )
        log = app.changelog()
        trip = {
            (r.graph_id, r.pred, r.obj)
            for r in snapshot_triples(log, T9).collect()
        }
        assert ("g:1", "http://e/q", "a") in trip
        assert ("g:2", "http://e/p", "b") in trip
        assert not any(p == "http://e/p" and g == "g:1" for g, p, _ in trip)
        # time travel: before the rename, g:1 still has e:p
        early = {
            (r.graph_id, r.pred) for r in snapshot_triples(log, T1).collect()
        }
        assert ("g:1", "http://e/p") in early

    def test_replayed_batch_appends_nothing(self, spark, tmp_path):
        app = UpdateStreamApplier(spark, str(tmp_path))
        batch = _reqs(spark, [
            (T1, 'INSERT DATA { GRAPH <g:1> { <http://e/s> <http://e/p> "a" } }'),
        ])
        app.process_batch(batch, 0)
        n = app.changelog().count()
        app.process_batch(batch, 0)  # crash-recovery replay
        assert app.changelog().count() == n

    def test_replayed_multi_timestamp_batch_appends_nothing(
        self, spark, tmp_path
    ):
        """The r03 advisor's exact scenario: a batch with MORE THAN ONE
        distinct ts is replayed after a crash between the parquet
        append and the checkpoint commit. prev_max then already
        includes this batch's own rows, so a strict reqs[0].ts <
        prev_max guard would raise on every restart and wedge the
        stream; the max-based guard must fall through to the anti-join
        and append nothing."""
        app = UpdateStreamApplier(spark, str(tmp_path))
        batch = _reqs(spark, [
            (T1, 'INSERT DATA { GRAPH <g:1> { <http://e/s> <http://e/p> "a" } }'),
            (T2, 'INSERT DATA { GRAPH <g:2> { <http://e/t> <http://e/q> "b" } }'),
        ])
        app.process_batch(batch, 0)
        n = app.changelog().count()
        app.process_batch(batch, 0)  # crash-recovery replay, multi-ts
        assert app.changelog().count() == n

    def test_out_of_order_batch_is_loud(self, spark, tmp_path):
        app = UpdateStreamApplier(spark, str(tmp_path))
        app.process_batch(
            _reqs(spark, [
                (T2, 'INSERT DATA { GRAPH <g:1> { <http://e/s> <http://e/p> "a" } }'),
            ]),
            0,
        )
        with pytest.raises(ValueError, match="backwards"):
            app.process_batch(
                _reqs(spark, [(T1, "CLEAR ALL")]), 1
            )

    def test_append_rows_are_batch_sized(self, spark, tmp_path):
        """A one-graph update against a 50-graph store writes O(1)
        rows, not a store rewrite."""
        app = UpdateStreamApplier(spark, str(tmp_path))
        seed = " ; ".join(
            'INSERT DATA { GRAPH <g:%d> { <http://e/s%d> <http://e/p> "v" } }' % (i, i)
            for i in range(50)
        )
        app.process_batch(_reqs(spark, [(T1, seed)]), 0)
        before = app.changelog().count()
        assert before == 50
        app.process_batch(
            _reqs(spark, [
                (T2, 'INSERT DATA { GRAPH <g:7> { <http://e/extra> <http://e/p> "w" } }'),
            ]),
            1,
        )
        log = app.changelog()
        assert log.count() == before + 1  # exactly one appended version row
        assert snapshot_at(log, T9).count() == 50

    def test_same_second_updates_across_batches(self, spark, tmp_path):
        """Two different-content versions of one graph sharing a ts
        across batches both persist (hash-aware append identity)."""
        app = UpdateStreamApplier(spark, str(tmp_path))
        app.process_batch(
            _reqs(spark, [
                (T1, 'INSERT DATA { GRAPH <g:1> { <http://e/s> <http://e/p> "a" } }'),
            ]),
            0,
        )
        app.process_batch(
            _reqs(spark, [
                (T1, 'INSERT DATA { GRAPH <g:1> { <http://e/s> <http://e/p> "b" } }'),
            ]),
            1,
        )
        log = app.changelog()
        assert log.filter("graph_id = 'g:1'").count() == 2
        trip = {r.obj for r in snapshot_triples(log, T9).collect()}
        assert trip == {"a", "b"}

    def test_file_uri_work_dir_keeps_history(self, spark, tmp_path):
        """A `file:` work_dir is read through Spark: the second batch
        folds against the stored first one, so both triples survive
        (an os.path check read such a store as empty)."""
        app = UpdateStreamApplier(spark, f"file:{tmp_path}")
        for i, (ts, obj) in enumerate([(T1, "a"), (T2, "b")]):
            app.process_batch(
                _reqs(spark, [
                    (ts, 'INSERT DATA { GRAPH <g:1> { <http://e/s> <http://e/p> "%s" } }' % obj),
                ]),
                i,
            )
        trip = {r.obj for r in snapshot_triples(app.changelog(), T9).collect()}
        assert trip == {"a", "b"}
