"""Round-4 fixes: replay-safe update stream, CLEAR/DROP DEFAULT|NAMED
semantics, underscore-variable projection, typed-literal ordering
comparisons, md5-portable ANN, and the sqrt-n IVF default.

Covers VERDICT r03 items #1/#3/#5/#8 and all four r03 ADVICE findings.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

T1 = "2024-06-01 00:00:00"
T2 = "2024-06-02 00:00:00"


def _reqs(spark, rows):
    return spark.createDataFrame(
        rows, "ts string, update_text string"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "update_text")


class TestUpdateStreamReplay:
    def test_multi_ts_batch_replay_appends_nothing(self, spark, tmp_path):
        """ADVICE r03 medium: a replayed batch with >1 distinct ts used
        to trip the backwards guard (prev_max already includes the
        batch's own rows) and wedge the stream permanently."""
        from rdf_diff_store_spark.streaming.update_stream import UpdateStreamApplier

        app = UpdateStreamApplier(spark, str(tmp_path))
        batch = _reqs(spark, [
            (T1, 'INSERT DATA { GRAPH <g:1> { <http://e/s> <http://e/p> "a" } }'),
            (T2, 'INSERT DATA { GRAPH <g:2> { <http://e/t> <http://e/p> "b" } }'),
        ])
        app.process_batch(batch, 0)
        n_before = app.changelog().count()
        assert n_before == 2
        # crash-between-append-and-commit: the SAME batch is replayed
        app.process_batch(batch, 0)
        assert app.changelog().count() == n_before  # exactly-once

    def test_genuinely_backwards_batch_still_raises(self, spark, tmp_path):
        from rdf_diff_store_spark.streaming.update_stream import UpdateStreamApplier

        app = UpdateStreamApplier(spark, str(tmp_path))
        app.process_batch(_reqs(spark, [
            (T2, 'INSERT DATA { GRAPH <g:1> { <http://e/s> <http://e/p> "a" } }'),
        ]), 0)
        with pytest.raises(ValueError, match="backwards"):
            app.process_batch(_reqs(spark, [
                (T1, 'INSERT DATA { GRAPH <g:3> { <http://e/u> <http://e/p> "c" } }'),
            ]), 1)


class TestClearDefaultNamed:
    """ADVICE r03 medium: CLEAR/DROP DEFAULT tombstoned EVERY graph
    (silent whole-store loss); NAMED must spare the default graph
    (SPARQL 1.1 Update §3.2.2/3.2.3)."""

    def _store(self, spark):
        from rdf_diff_store_spark.plans.sparql_update import apply_update
        from rdf_diff_store_spark.schemas import CHANGELOG

        log = spark.createDataFrame([], CHANGELOG)
        return apply_update(
            log,
            'INSERT DATA { <http://e/s> <http://e/p> "default-row" . '
            'GRAPH <g:named> { <http://e/t> <http://e/p> "named-row" } }',
            T1,
        )

    def _live_graphs(self, log):
        from rdf_diff_store_spark.operators.versioned import snapshot_triples

        return {r.graph_id for r in snapshot_triples(log, "2030-01-01 00:00:00").collect()}

    def test_clear_default_spares_named_graphs(self, spark):
        from rdf_diff_store_spark.plans.sparql_update import apply_update

        log = self._store(spark)
        assert self._live_graphs(log) == {"urn:x-default", "g:named"}
        out = apply_update(log, "CLEAR DEFAULT", T2)
        assert self._live_graphs(out) == {"g:named"}

    def test_drop_named_spares_default_graph(self, spark):
        from rdf_diff_store_spark.plans.sparql_update import apply_update

        log = self._store(spark)
        out = apply_update(log, "DROP NAMED", T2)
        assert self._live_graphs(out) == {"urn:x-default"}

    def test_clear_all_still_clears_everything(self, spark):
        from rdf_diff_store_spark.plans.sparql_update import apply_update

        log = self._store(spark)
        out = apply_update(log, "CLEAR ALL", T2)
        assert self._live_graphs(out) == set()


class TestUnderscoreVariable:
    """ADVICE r03 low: ?_x is a legal variable; it must survive
    SELECT * and serialize in CSV/TSV/JSON (only the known _lang_/
    _dt_/_ord_/_match helper columns are hidden)."""

    def _triples(self, spark):
        return spark.createDataFrame(
            [("g", "s:1", "p:name", "alice"), ("g", "s:2", "p:name", "bob")],
            "graph_id string, subj string, pred string, obj string",
        )

    def test_select_star_keeps_underscore_var(self, spark):
        from rdf_diff_store_spark.plans.sparql_text import sparql_query

        df = sparql_query(self._triples(spark), "SELECT * WHERE { ?_s <p:name> ?_n }")
        assert set(df.columns) == {"_s", "_n"}
        assert df.count() == 2

    def test_json_emits_underscore_var(self, spark):
        from rdf_diff_store_spark.functions.results import to_sparql_json
        from rdf_diff_store_spark.plans.sparql_text import sparql_query

        df = sparql_query(
            self._triples(spark), "SELECT ?_n WHERE { ?_s <p:name> ?_n } ORDER BY ?_n"
        )
        js = to_sparql_json(df)
        assert '"_n"' in js and "alice" in js


class TestTypedLiteralCompare:
    """VERDICT r03 #8: ordering/arithmetic on numeric typed literals;
    ADVICE r03 low: typed =/!= against a variable with no typing
    columns must yield a correct false, not an AnalysisException."""

    def _triples(self, spark):
        return spark.createDataFrame(
            [("g", "s:1", "p:size", "5"), ("g", "s:2", "p:size", "12"),
             ("g", "s:3", "p:size", "700")],
            "graph_id string, subj string, pred string, obj string",
        )

    def test_gt_numeric_typed_literal(self, spark):
        from rdf_diff_store_spark.plans.sparql_text import sparql_query

        df = sparql_query(
            self._triples(spark),
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            'SELECT ?s WHERE { ?s <p:size> ?v . FILTER(?v > "6"^^xsd:decimal) }',
        )
        assert {r.s for r in df.collect()} == {"s:2", "s:3"}

    def test_arithmetic_with_typed_literal(self, spark):
        from rdf_diff_store_spark.plans.sparql_text import sparql_query

        df = sparql_query(
            self._triples(spark),
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            'SELECT ?s WHERE { ?s <p:size> ?v . '
            'FILTER(?v * "10"^^xsd:integer >= "120"^^xsd:decimal) }',
        )
        assert {r.s for r in df.collect()} == {"s:2", "s:3"}

    def test_nonnumeric_typed_ordering_raises_loudly(self, spark):
        from rdf_diff_store_spark.plans.sparql_text import SparqlParseError, sparql_query

        with pytest.raises(SparqlParseError, match="numeric"):
            sparql_query(
                self._triples(spark),
                'SELECT ?s WHERE { ?s <p:size> ?v . FILTER(?v > "a"@en) }',
            ).collect()

    def test_typed_equality_is_value_level(self, spark):
        """r04 session 2 (SPARQL §17.3 op:numeric-equal): = on a
        NUMERIC typed literal uses VALUE semantics, agreeing with
        <=/>= on the same literal — over an untyped view the obj
        lexical form is compared numerically (no crash on missing
        typing columns; originally the r03-advisor AnalysisException
        class)."""
        from rdf_diff_store_spark.plans.sparql_text import sparql_query

        df = sparql_query(
            self._triples(spark),
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            'SELECT ?s WHERE { ?s <p:size> ?v . FILTER(?v = "5"^^xsd:integer) }',
        )
        assert {r.s for r in df.collect()} == {"s:1"}
        neg = sparql_query(
            self._triples(spark),
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            'SELECT ?s WHERE { ?s <p:size> ?v . FILTER(?v != "5"^^xsd:integer) }',
        )
        assert {r.s for r in neg.collect()} == {"s:2", "s:3"}


class TestAnnPortable:
    """VERDICT r03 #3/#5: md5-derived integer planes/centroids make
    bucket assignment engine-exact; n_centroids defaults to sqrt(n)."""

    def test_md5_planes_deterministic_and_bounded(self):
        from rdf_diff_store_spark.operators.similarity import md5_centroids, md5_planes

        p1, p2 = md5_planes(4, 64, table=1), md5_planes(4, 64, table=1)
        assert p1 == p2
        assert p1 != md5_planes(4, 64, table=2)
        flat = [x for row in p1 for x in row]
        assert all(-(1 << 15) <= x < (1 << 15) for x in flat)
        assert md5_centroids(8, 16) == md5_centroids(8, 16)

    def test_lsh_topk_deterministic_with_neighbors(self, spark, sf_dir):
        from rdf_diff_store_spark.operators.similarity import lsh_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 10)
        a = sorted(map(tuple, lsh_topk(q, emb, dim=64, k=5).collect()))
        b = sorted(map(tuple, lsh_topk(q, emb, dim=64, k=5).collect()))
        assert a == b and len(a) > 0

    def test_sqrt_n_default_centroids(self, spark):
        from rdf_diff_store_spark.operators.similarity import default_n_centroids

        small = spark.range(100).select(F.col("id").alias("vec_id"))
        big = spark.range(10_000).select(F.col("id").alias("vec_id"))
        assert default_n_centroids(small) == 16  # floor
        assert default_n_centroids(big) == 100  # sqrt(n)

    def test_cell_size_distribution_scales(self, spark):
        """Pin the sqrt-n contract at two corpus sizes: cells stay
        O(sqrt n) and no md5 cell hoards the corpus (max cell ≤ 8×
        the mean on uniform synthetic vectors)."""
        import numpy as np

        from rdf_diff_store_spark.operators.similarity import (
            _centroid_assign_udf,
            default_n_centroids,
            md5_centroids,
        )

        dim = 16
        for n in (400, 1600):
            rng = np.random.RandomState(3)
            rows = [
                (i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)
            ]
            emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
            k = default_n_centroids(emb)
            assert k == max(16, int(n**0.5))
            assign = _centroid_assign_udf(md5_centroids(k, dim), top=1)
            counts = (
                emb.select(F.element_at(assign("embedding"), 1).alias("cell"))
                .groupBy("cell").count().collect()
            )
            sizes = [r["count"] for r in counts]
            assert max(sizes) <= 8 * (n / k), (n, k, max(sizes))


class TestOracleDtypeLint:
    """VERDICT r03 #1: int-valued DOUBLE vs LONG passes a value compare
    but hash-mismatches on the driver — check_oracle must catch the
    type-family split locally."""

    def test_family_classifier(self):
        import sys

        sys.path.insert(0, "scripts")
        from check_oracle import _family

        assert _family("BIGINT") == "int"
        assert _family("bigint") == "int"
        assert _family("DOUBLE") == "float"
        assert _family("double") == "float"
        assert _family("HUGEINT") == "int"
        assert _family("DECIMAL(18,2)") == "float"
        assert _family("BOOLEAN") == "bool"
        assert _family("string") == "other"

    def test_compare_flags_int_float_split(self, spark):
        import duckdb
        import sys

        sys.path.insert(0, "scripts")
        from check_oracle import compare

        con = duckdb.connect()
        df = spark.createDataFrame([(1, 9108)], "id long, ceiled long")
        problems = compare(
            "t", df, con, "SELECT 1 AS id, ceil(9108.0) AS ceiled"
        )
        assert any("dtype family" in p for p in problems), problems
