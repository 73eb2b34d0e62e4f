"""Property-table pivot, dictionary encoding and Z-order keys
(operators/layout.py)."""

from __future__ import annotations

from rdf_diff_store_spark.operators.layout import property_table

ROWS = [
    ("e1", "name", "Alice"),
    ("e1", "email", "a@x"),
    ("e1", "email", "b@x"),  # multi-valued
    ("e2", "name", "Bob"),
]


def test_pivot_shape_and_multivalue(spark):
    df = spark.createDataFrame(ROWS, ["s", "p", "o"])
    out = {r.s: r for r in property_table(df, ["email", "name"]).collect()}
    assert out["e1"].email == "a@x,b@x"  # sorted, deterministic
    assert out["e1"].name == "Alice"
    assert out["e2"].email is None  # absent predicate is NULL, not ''
    assert out["e2"].name == "Bob"


def test_pivot_discovers_vocabulary(spark):
    df = spark.createDataFrame(ROWS, ["s", "p", "o"])
    cols = property_table(df).columns
    assert cols == ["s", "email", "name"]  # discovered, sorted


def test_multivalue_order_is_input_order_proof(spark):
    df1 = spark.createDataFrame(ROWS, ["s", "p", "o"])
    df2 = spark.createDataFrame(list(reversed(ROWS)), ["s", "p", "o"]).repartition(7)
    a = sorted(map(tuple, property_table(df1, ["email", "name"]).collect()))
    b = sorted(map(tuple, property_table(df2, ["email", "name"]).collect()))
    assert a == b


def test_pivot_single_exchange(spark):
    df = spark.createDataFrame(ROWS, ["s", "p", "o"])
    plan = (
        property_table(df, ["email", "name"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


class TestDictEncode:
    TRIPLES = [
        ("e1", "name", "Alice"),
        ("e1", "knows", "e2"),
        ("e2", "name", "Bob"),
        ("e2", "knows", "e1"),  # e1 is both subject and object
    ]

    def _t(self, spark):
        return spark.createDataFrame(self.TRIPLES, "subj string, pred string, obj string")

    def test_roundtrip(self, spark):
        from rdf_diff_store_spark.operators.layout import dict_encode

        d, enc = dict_encode(self._t(spark))
        terms = {r.term_id: r.term for r in d.collect()}
        back = {(terms[r.s_id], terms[r.p_id], terms[r.o_id]) for r in enc.collect()}
        assert back == set(self.TRIPLES)

    def test_dictionary_roles(self, spark):
        from rdf_diff_store_spark.operators.layout import dict_encode

        d, _ = dict_encode(self._t(spark))
        rows = {r["term"]: r for r in d.collect()}
        assert len(rows) == 6  # e1 e2 name knows Alice Bob — each once
        assert rows["e1"]["is_subj"] and rows["e1"]["is_obj"] and not rows["e1"]["is_pred"]
        assert rows["name"]["is_pred"] and not rows["name"]["is_subj"]
        assert rows["Alice"]["is_obj"] and not rows["Alice"]["is_subj"]

    def test_ids_are_md5_prefix(self, spark):
        import hashlib

        from rdf_diff_store_spark.operators.layout import dict_encode

        d, enc = dict_encode(self._t(spark))
        expect = int(hashlib.md5(b"e1").hexdigest()[:15], 16)
        got = {r["term"]: r["term_id"] for r in d.collect()}
        assert got["e1"] == expect
        assert all(v >= 0 for v in got.values())
        # encoded rows use the same ids without consulting the dictionary
        s_ids = {r["s_id"] for r in enc.collect()}
        assert expect in s_ids

    def test_no_collisions_here(self, spark):
        from rdf_diff_store_spark.operators.layout import dict_encode

        d, _ = dict_encode(self._t(spark))
        assert d.select("term_id").distinct().count() == d.count()

    def test_encode_is_join_free(self, spark):
        from rdf_diff_store_spark.operators.layout import dict_encode

        _, enc = dict_encode(self._t(spark))
        plan = enc._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Exchange" not in plan


class TestZorderKey:
    def _keys(self, spark, pairs, bits=8):
        from rdf_diff_store_spark.operators.layout import zorder_key

        df = spark.createDataFrame(pairs, "x long, y long")
        return {
            (r.x, r.y): r.z
            for r in df.select("x", "y", zorder_key("x", "y", bits).alias("z")).collect()
        }

    def test_known_interleavings(self, spark):
        out = self._keys(spark, [(0, 0), (1, 0), (0, 1), (1, 1), (3, 1), (5, 7)])
        assert out == {
            (0, 0): 0, (1, 0): 1, (0, 1): 2, (1, 1): 3,
            (3, 1): 7, (5, 7): 59,
        }

    def test_bijective_on_grid(self, spark):
        grid = [(x, y) for x in range(8) for y in range(8)]
        out = self._keys(spark, grid, bits=3)
        assert sorted(out.values()) == list(range(64))  # exact bijection

    def test_quadrant_locality(self, spark):
        # all cells of the low 4x4 quadrant sort before any cell of
        # the (x>=4, y>=4) quadrant — the min/max pruning property
        out = self._keys(spark, [(x, y) for x in range(8) for y in range(8)], bits=3)
        low = max(v for (x, y), v in out.items() if x < 4 and y < 4)
        high = min(v for (x, y), v in out.items() if x >= 4 and y >= 4)
        assert low < high

    def test_bits_guard(self, spark):
        import pytest as _pytest

        from rdf_diff_store_spark.operators.layout import zorder_key

        with _pytest.raises(ValueError):
            zorder_key("x", "y", bits=32)

    def test_negative_input_raises_loudly(self, spark):
        import pytest as _pytest

        from rdf_diff_store_spark.operators.layout import zorder_key

        df = spark.createDataFrame([(-1, 2)], "x long, y long")
        with _pytest.raises(Exception, match="is not true"):
            df.select(zorder_key("x", "y", 4).alias("z")).collect()
