"""The as-of index (operators/versioned.py::_AsofIndex): its two
branches answer alike, its key holds everything its value depends on,
and each request reports the branch it took."""

from __future__ import annotations

import os
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rdf_diff_store_spark.operators import versioned as V

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
A = '<http://e/s1> <http://e/p> "a" .'
B = '<http://e/s1> <http://e/p> "b" .\n<http://e/s1> <http://e/q> <http://e/o> .'
C = '<http://e/s1> <http://e/p> "c" .'
TYPED = f'<http://e/s2> <http://e/n> "5"^^<{XSD_INT}> .'
LANG = '<http://e/s2> <http://e/label> "hallo"@de .\n<http://e/s2> <http://e/label> "hi"@en .'
BLANK = "_:b0 <http://e/p> <http://e/o> .\n_:b0 <http://e/q> \"x\" ."
# non-canonical: prefixes, a predicate list and a multi-line literal
# send the whole document through the tokenizer fallback
TURTLE = '@prefix e: <http://e/> .\ne:s3 e:p """line one\nline two""" ;\n    e:q e:o1, e:o2 .'

D = [f"2024-01-0{d} 00:00:00" for d in range(1, 6)]
HISTORY = [
    # an add and a delete at the same ts, then a re-add
    ("g1", D[0], "add", A),
    ("g1", D[1], "add", B),
    ("g1", D[1], "delete", None),
    ("g1", D[2], "add", A),
    # typed, then deleted, then language-tagged
    ("g2", D[0], "add", TYPED),
    ("g2", D[2], "delete", None),
    ("g2", D[3], "add", LANG),
    ("g3", D[1], "add", TURTLE),
    ("g3", D[3], "add", BLANK),
    # U+001F in the id; two adds at one ts; a re-send
    ("g\x1f4", D[0], "add", A),
    ("g\x1f4", D[0], "add", C),
    ("g\x1f4", D[2], "add", C),
    # a delete of a graph that never existed
    ("g5", D[1], "delete", None),
    # an exact duplicate row
    ("g6", D[2], "add", TYPED),
    ("g6", D[2], "add", TYPED),
]
# before all history, at versions' ts, between versions, after all
PROBES = ["2023-12-31 00:00:00", D[0], "2024-01-01 12:00:00", D[1], D[2], D[3], D[4]]
# forward, reversed (t1 > t2), equal times, from before all history
PAIRS = [(PROBES[0], D[1]), (D[1], D[0]), (D[0], D[3]), (D[2], D[2]), (D[3], PROBES[0])]


def _changelog(spark, rows=HISTORY):
    return (
        spark.createDataFrame(rows, "graph_id string, ts string, op string, payload string")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("content_hash", F.sha2("payload", 256))
    )


def _rows(df):
    return sorted(tuple("\\N" if v is None else str(v) for v in r) for r in df.collect())


def _per_probe(fn, probes):
    return _rows(
        reduce(
            lambda a, b: a.unionByName(b),
            [fn(p).withColumn("_probe", F.lit(i)) for i, p in enumerate(probes)],
        )
    )


def _ts(s):
    return F.lit(s).cast("timestamp")


@pytest.fixture(autouse=True)
def _fresh_index():
    V._ASOF.clear()
    yield
    V._ASOF.clear()


def test_index_branch_equals_derive_branch(spark):
    log = _changelog(spark).localCheckpoint()
    index = V._IndexEntry(log, ())
    index.build("triples")  # before `versions`: parses intervals derived afresh
    index.build("versions")
    try:
        cases = [
            (lambda t: V._derived_snapshot(log, _ts(t)), lambda t: index.snapshot(_ts(t)), PROBES),
            (
                lambda t: V.parse_triples(V._derived_snapshot(log, _ts(t))),
                lambda t: index.snapshot_triples(_ts(t)),
                PROBES,
            ),
        ]
        for on_triples in (True, False):
            cases.append(
                (
                    lambda p, o=on_triples: V._derived_diff(log, _ts(p[0]), _ts(p[1]), o),
                    lambda p, o=on_triples: index.diff(_ts(p[0]), _ts(p[1]), o),
                    PAIRS,
                )
            )
        for derive, indexed, probes in cases:
            want = _per_probe(derive, probes)
            assert want  # every case has rows to compare
            assert _per_probe(indexed, probes) == want
    finally:
        index.drop()


def _branch(spark):
    return spark.sparkContext.getLocalProperty(V.BRANCH_PROPERTY)


def test_three_requests_report_derive_build_hit(spark, tmp_path):
    path = str(tmp_path / "log")
    _changelog(spark).write.parquet(path)
    want = {
        "snap": _rows(V._derived_snapshot(_changelog(spark), _ts(D[2]))),
        "diff": _rows(V._derived_diff(_changelog(spark), _ts(D[0]), _ts(D[3]), True)),
    }
    branches = []
    for _ in range(3):
        assert _rows(V.snapshot_at(spark.read.parquet(path), D[2])) == want["snap"]
        branches.append(_branch(spark))
    assert branches == ["asof_derive", "asof_build", "asof_hit"]
    # the triples half counts its own requests
    for branch in ("asof_derive", "asof_build", "asof_hit"):
        assert _rows(V.diff(spark.read.parquet(path), D[0], D[3])) == want["diff"]
        assert _branch(spark) == branch
    plan = V.snapshot_triples(spark.read.parquet(path), D[2])._jdf.queryExecution()
    assert "MapInPandas" not in plan.executedPlan().toString().split("InMemoryRelation")[0]


def _write_events(path, values, mtime_ns):
    """One parquet file with fixed-width values, so a rewrite with other
    values of the same count keeps the file's length."""
    n = len(values)
    table = pa.table(
        {
            "graph_id": pa.array([f"g{i % 3}" for i in range(n)]),
            "ts": pa.array([1_704_067_200_000_000 + i * 3_600_000_000 for i in range(n)], pa.timestamp("us")),
            "op": pa.array(["add"] * n),
            "payload": pa.array([f'<http://e/s> <http://e/p> "{v}" .' for v in values]),
            "content_hash": pa.array([f"{v}" for v in values]),
        }
    )
    pq.write_table(table, path, compression="none", use_dictionary=False)
    os.utime(path, ns=(mtime_ns, mtime_ns))
    return os.path.getsize(path)


def test_rewritten_source_is_never_served_stale(spark, tmp_path):
    """The key holds each file's length and modification time: a rewrite
    that keeps either one must still invalidate the index."""
    path = str(tmp_path / "events.parquet")
    t = "2024-01-05 00:00:00"
    mtime = 1_700_000_000_000_000_000

    def answer():
        return sorted(r.payload for r in V.snapshot_at(spark.read.parquet(path), t).collect())

    size = _write_events(path, [1000 + i for i in range(6)], mtime)
    first = answer()
    assert answer() == first and _branch(spark) == "asof_build"
    built = next(iter(V._ASOF._entries.values()))
    for _ in range(V._PAYOFF_HITS):  # the build pays off: the next key builds as soon
        assert answer() == first and _branch(spark) == "asof_hit"

    # same length, later mtime
    assert _write_events(path, [2000 + i for i in range(6)], mtime + 10**9) == size
    second = answer()
    assert second != first and _branch(spark) == "asof_derive"
    assert not built.halves  # the superseded index was unpersisted
    assert answer() == second and _branch(spark) == "asof_build"
    assert answer() == second and _branch(spark) == "asof_hit"

    # other length, the same mtime
    assert _write_events(path, [30000 + i for i in range(6)], mtime + 10**9) != size
    third = answer()
    assert third not in (first, second) and _branch(spark) == "asof_derive"


def test_in_memory_changelog_is_never_indexed(spark):
    log = _changelog(spark)
    for _ in range(3):
        V.snapshot_at(log, D[2]).collect()
        assert _branch(spark) == "asof_derive"
    assert not V._ASOF._entries


def test_two_plans_over_one_file_never_share_an_index(spark, tmp_path):
    path = str(tmp_path / "log")
    _changelog(spark).write.parquet(path)

    def plain():
        return spark.read.parquet(path)

    def other():  # the same file, another plan
        return spark.read.parquet(path).filter(F.col("graph_id") != "g1")

    want = {f: _rows(V._derived_snapshot(f(), _ts(D[3]))) for f in (plain, other)}
    assert want[plain] != want[other]
    for _ in range(3):
        for f in (plain, other):
            assert _rows(V.snapshot_at(f(), D[3])) == want[f]
    assert len(V._ASOF._entries) == 2


def test_entries_of_a_stopped_application_are_dropped_unvisited(spark, tmp_path):
    """After a session restart the old application's frames belong to a
    stopped context: unpersisting them raises, so they are only
    forgotten."""

    class Stopped:
        files, paths = (), frozenset()

        def drop(self):
            raise AssertionError("unpersist on a stopped context")

    V._ASOF._entries[("app-stopped", 0)] = Stopped()
    path = str(tmp_path / "log")
    _changelog(spark).write.parquet(path)
    V.snapshot_at(spark.read.parquet(path), D[2]).collect()
    assert [k[0] for k in V._ASOF._entries] == [spark.sparkContext.applicationId]


def test_one_sql_request_persists_nothing(spark, tmp_path):
    """`execute_sql` asks for both views of one source: each half counts
    its own requests, so a one-shot read derives both and builds none."""
    from rdf_diff_store_spark.plans.sql_api import execute_sql

    path = str(tmp_path / "log")
    _changelog(spark).write.parquet(path)
    got = execute_sql(
        spark, spark.read.parquet(path), D[3], "SELECT count(*) AS n FROM snapshot_triples"
    ).first().n
    assert got == V.parse_triples(V._derived_snapshot(_changelog(spark), _ts(D[3]))).count()
    assert _branch(spark) == "asof_derive"
    assert [e.halves for e in V._ASOF._entries.values()] == [{}]


def test_source_that_changes_before_its_index_pays_off_waits_longer(spark, tmp_path):
    """Reads over a growing set of files (a writer table between two
    commits): each read after a commit supersedes the index of the
    files before it, though the two plans' keys differ; a build that
    served fewer than `_PAYOFF_HITS` hits doubles the requests the next
    key derives before it builds."""
    for i, rows in enumerate([HISTORY[:5], HISTORY[5:10], HISTORY[10:]]):
        _changelog(spark, rows).write.parquet(str(tmp_path / f"part-{i}"))

    def read(n):  # the first n parts, as one glob: its key differs for each n
        return spark.read.parquet(str(tmp_path / f"part-{{{','.join(map(str, range(n)))}}}"))

    def branches(n, k):
        out = []
        for _ in range(k):
            assert _rows(V.snapshot_at(read(n), D[3])) == _rows(
                V._derived_snapshot(_changelog(spark, HISTORY[: 5 * n]), _ts(D[3]))
            )
            out.append(_branch(spark))
        return out

    paid = V._PAYOFF_HITS
    assert branches(1, 2 + paid - 1) == ["asof_derive", "asof_build"] + ["asof_hit"] * (paid - 1)
    first = next(iter(V._ASOF._entries.values()))
    assert branches(2, 4) == ["asof_derive"] * 3 + ["asof_build"]
    assert not first.halves and len(V._ASOF._entries) == 1  # superseded, unpersisted
    second = next(iter(V._ASOF._entries.values()))
    assert branches(2, paid) == ["asof_hit"] * paid  # paid off: the next key keeps waiting 4
    assert branches(3, 4) == ["asof_derive"] * 3 + ["asof_build"]
    assert not second.halves and len(V._ASOF._entries) == 1
