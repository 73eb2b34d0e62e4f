"""N-Quads source/sink (sources/nquads.py): pure-python line codec
pins plus a real file roundtrip through spark.read.text."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from rdf_diff_store_spark.sources.nquads import (
    XSD_STRING,
    parse_nquad_line,
    parse_nquads,
    serialize_nquads,
)


class TestLineCodec:
    def test_iri_quad(self):
        assert parse_nquad_line(
            "<http://a> <http://p> <http://o> <http://g> ."
        ) == ("http://g", "http://a", "http://p", "http://o", None, None)

    def test_default_graph_triple(self):
        g, s, p, o, dt, lang = parse_nquad_line("<http://a> <http://p> <http://o> .")
        assert g is None and o == "http://o"

    def test_plain_literal_gets_xsd_string(self):
        out = parse_nquad_line('<http://a> <http://p> "hei" .')
        assert out[3:] == ("hei", XSD_STRING, None)

    def test_escapes_and_unicode(self):
        out = parse_nquad_line(
            '<http://a> <http://p> "q\\"b\\\\c\\nd\\te\\u0041" .'
        )
        assert out[3] == 'q"b\\c\nd\teA'

    def test_lang_and_typed(self):
        assert parse_nquad_line('<http://a> <http://p> "x"@nb .')[3:] == (
            "x", None, "nb",
        )
        out = parse_nquad_line(
            '<http://a> <http://p> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .'
        )
        assert out[3:] == ("5", "http://www.w3.org/2001/XMLSchema#integer", None)

    def test_bnodes_both_positions(self):
        out = parse_nquad_line("_:s <http://p> _:o _:g .")
        assert (out[0], out[1], out[3]) == ("_:g", "_:s", "_:o")

    def test_blank_and_comment_skipped(self):
        assert parse_nquad_line("") is None
        assert parse_nquad_line("  # comment") is None

    def test_malformed_is_loud(self):
        with pytest.raises(ValueError):
            parse_nquad_line("<http://a> nope .")


class TestSparkRoundtrip:
    def test_file_roundtrip(self, spark, tmp_path):
        rows = [
            ("g:1", "http://e/1", "http://p/x", "http://o/1", None, None),
            (None, "_:b2", "http://p/x", 'v"w\\z\ny\tq', XSD_STRING, None),
            ("g:2", "http://e/3", "http://p/x", "hei", None, "nb"),
        ]
        df = spark.createDataFrame(
            rows,
            "graph_id string, subj string, pred string, obj string, "
            "obj_dt string, obj_lang string",
        )
        out = str(tmp_path / "dump")
        serialize_nquads(df).write.text(out)
        back = parse_nquads(spark.read.text(out))
        got = sorted([tuple(r) for r in back.collect()], key=str)
        want = sorted(
            [(g, s, p, o, dt, l) for g, s, p, o, dt, l in rows], key=str
        )
        assert got == want

    def test_multiline_chunk_parses(self, spark):
        chunk = (
            "<http://a> <http://p> <http://o> <http://g> .\n"
            "# comment\n"
            '<http://b> <http://p> "x"@en .\n'
        )
        df = spark.createDataFrame([(chunk,)], "value string")
        assert parse_nquads(df).count() == 2

    def test_sink_is_jvm_only(self, spark):
        df = spark.createDataFrame(
            [("g", "s", "p", "o", None, None)],
            "graph_id string, subj string, pred string, obj string, "
            "obj_dt string, obj_lang string",
        )
        plan = serialize_nquads(df)._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


class TestRdfPatch:
    """RDF Patch sink and parser (sources/nquads.py::
    serialize_rdf_patch / parse_rdf_patch)."""

    def _diff_df(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "graph_id string, subj string, pred string, obj string, "
            "obj_dt string, obj_lang string, change string",
        )

    def test_line_format(self, spark):
        from rdf_diff_store_spark.sources.nquads import serialize_rdf_patch

        XS = "http://www.w3.org/2001/XMLSchema#string"
        rows = [
            ("g1", "http://e/s", "http://e/p", "http://e/o", None, None, "added"),
            ("g1", "http://e/s", "http://e/p", "v", XS, None, "removed"),
            (None, "_:b0", "http://e/p", "hi", None, "en", "added"),
        ]
        lines = sorted(
            r["line"] for r in serialize_rdf_patch(self._diff_df(spark, rows)).collect()
        )
        assert lines == [
            'A <http://e/s> <http://e/p> <http://e/o> <g1> .',
            'A _:b0 <http://e/p> "hi"@en .',
            'D <http://e/s> <http://e/p> "v" <g1> .',
        ]

    def test_roundtrip(self, spark):
        from rdf_diff_store_spark.sources.nquads import (
            parse_rdf_patch,
            serialize_rdf_patch,
        )

        XS = "http://www.w3.org/2001/XMLSchema#string"
        rows = [
            ("g1", "http://e/s", "http://e/p", 'quote " and \\ back', XS, None, "added"),
            ("g2", "http://e/s", "http://e/p", "http://e/o", None, None, "removed"),
        ]
        patch = serialize_rdf_patch(self._diff_df(spark, rows))
        back = {
            (r["op"], r["graph_id"], r["subj"], r["pred"], r["obj"], r["obj_dt"], r["obj_lang"])
            for r in parse_rdf_patch(patch, "line").collect()
        }
        assert back == {
            ("A", "g1", "http://e/s", "http://e/p", 'quote " and \\ back', XS, None),
            ("D", "g2", "http://e/s", "http://e/p", "http://e/o", None, None),
        }

    def test_apply_reconstructs_snapshot(self, spark):
        from rdf_diff_store_spark.operators.versioned import diff, snapshot_triples
        from rdf_diff_store_spark.sources.nquads import (
            parse_rdf_patch,
            serialize_rdf_patch,
        )
        from tests.test_versioned_store import empty_changelog, updates

        from rdf_diff_store_spark.operators.versioned import append_updates

        log = empty_changelog(spark)
        log = append_updates(log, updates(spark, [
            ("g1", "2024-01-01 00:00:00", "add", '<http://e/s> <http://e/p> "v1" .'),
            ("g2", "2024-01-01 00:00:00", "add", '<http://e/x> <http://e/p> <http://e/y> .'),
        ]))
        log = append_updates(log, updates(spark, [
            ("g1", "2024-01-03 00:00:00", "add", '<http://e/s> <http://e/p> "v2" .'),
            ("g2", "2024-01-03 00:00:00", "delete", ""),
        ]))
        t1, t2 = "2024-01-01 12:00:00", "2024-01-03 12:00:00"
        d = diff(log, t1, t2)
        patch = parse_rdf_patch(serialize_rdf_patch(d), "line")
        s1 = snapshot_triples(log, t1)
        s2 = snapshot_triples(log, t2)
        key = ["graph_id", "subj", "pred", "obj", "obj_dt", "obj_lang"]
        # replay onto the triple set: (snapshot(t1) ∖ deletes) ∪ adds,
        # keyed on the full quad identity (NULL typing and the default
        # graph included)
        ops = {"A": set(), "D": set()}
        for r in patch.collect():
            ops[r.op].add(tuple(r[k] for k in key))
        replayed = ({tuple(r) for r in s1.select(*key).collect()} - ops["D"]) | ops["A"]
        want = {tuple(r) for r in s2.select(*key).distinct().collect()}
        assert replayed == want

    def test_unknown_op_raises(self, spark):
        import pytest as _pytest

        from rdf_diff_store_spark.sources.nquads import parse_rdf_patch

        bad = spark.createDataFrame([("X <a> <b> <c> .",)], ["line"])
        with _pytest.raises(Exception, match="RDF Patch|op"):
            parse_rdf_patch(bad, "line").collect()
