"""Branch equivalence of the gated graph fast paths: each driver-side
path must return the same SET as the distributed path it shortcuts,
on shared Hypothesis-generated edge sets with self-loops, long chains
and U+001F in ids (NULL endpoints too, for the closure).

  B1 transitive_closure: driver BFS ≡ doubling loop (driver_threshold=0)
  B2 connected_components: union-find ≡ label propagation
     (driver_threshold=0)
  B3 the driver BFS bounds its OUTPUT pair set by driver_max_bytes: a
     chain inside the input gate whose closure is not falls back to
     the doubling loop
  B4 NULL endpoints: a path ends at NULL, never passes through it
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rdf_diff_store_spark.operators.graph import connected_components, transitive_closure

_IDS = ["a", "b", "c", "x\x1fy", "\x1f", "z"]


def _graph(ids):
    # random edges (self-loops included) plus a long chain hung off "a"
    return st.tuples(
        st.lists(st.tuples(ids, ids), min_size=1, max_size=10),
        st.integers(min_value=0, max_value=12),
    ).map(
        lambda t: t[0]
        + [("a" if i == 0 else f"c{i:02d}", f"c{i + 1:02d}") for i in range(t[1])]
    )


@pytest.fixture(scope="module")
def sparksession(spark):
    return spark


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(pairs=_graph(st.sampled_from(_IDS + [None])))
def test_closure_driver_bfs_matches_doubling(sparksession, pairs):
    e = _edges(sparksession, pairs)
    driver = {tuple(r) for r in transitive_closure(e).collect()}
    doubling = {tuple(r) for r in transitive_closure(e, driver_threshold=0).collect()}
    assert driver == doubling


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(pairs=_graph(st.sampled_from(_IDS)))
def test_cc_union_find_matches_label_propagation(sparksession, pairs):
    e = _edges(sparksession, pairs)
    driver = {tuple(r) for r in connected_components(e).collect()}
    distributed = {tuple(r) for r in connected_components(e, driver_threshold=0).collect()}
    assert driver == distributed


def _spy_create_dataframe(spark, monkeypatch):
    """Spy: the driver BFS builds its result with createDataFrame;
    the doubling loop never calls it."""
    calls = []
    orig = type(spark).createDataFrame

    def spy(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(type(spark), "createDataFrame", spy)
    return calls


def test_long_chain_closure_over_byte_budget_takes_doubling(spark, monkeypatch):
    n = 40
    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(n)]
    e = _edges(spark, chain).localCheckpoint()
    # 40 edges x (6 id chars + 96) ~ 4 KB fit the gate's 8 KB; the 820
    # closure pairs (~84 KB) do not
    calls = _spy_create_dataframe(spark, monkeypatch)
    out = {tuple(r) for r in transitive_closure(e, driver_max_bytes=8192).collect()}
    assert not calls, "driver BFS kept a closure over its byte budget"
    assert out == {
        (f"c{i:02d}", f"c{j:02d}") for i in range(n) for j in range(i + 1, n + 1)
    }
    # control: under the default budget the same chain stays on the driver
    transitive_closure(e).collect()
    assert calls


def test_null_endpoints_same_set_on_both_paths(spark):
    e = _edges(spark, [("a", None), (None, "b"), ("b", "c")])
    want = {("a", None), (None, "b"), (None, "c"), ("b", "c")}
    assert {tuple(r) for r in transitive_closure(e).collect()} == want
    assert {tuple(r) for r in transitive_closure(e, driver_threshold=0).collect()} == want
