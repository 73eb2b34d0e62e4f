"""Reference on-disk interop (Turtle file source/sink), SPARQL-JSON
results, and Turtle round-trip property tests."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rdf_diff_store_spark.functions.results import ask_json, to_sparql_json
from rdf_diff_store_spark.functions.turtle import canonicalize, parse_turtle, serialize_triple
from rdf_diff_store_spark.operators.versioned import append_updates, snapshot_triples
from rdf_diff_store_spark.schemas import CHANGELOG
from rdf_diff_store_spark.sources.turtle_files import (
    decode_graph_filename,
    encode_graph_filename,
    read_graph_dir,
    write_snapshot_dir,
)

PATHOLOGICAL_ID = "<#/(%¤=:"  # reference test id, tests/integration_test.rs:22
TTL = '@prefix si: <https://www.w3schools.com/rdf/> .\n<https://w3.org> si:author "A" ;\n si:title "T" .'


def test_filename_codec_roundtrip():
    for gid in [PATHOLOGICAL_ID, "plain", "http://ex.org/graph?x=1&y=2", "æøå ünïcode"]:
        name = encode_graph_filename(gid)
        assert "/" not in name and name.endswith(".ttl")
        assert decode_graph_filename(name) == gid


def test_turtle_dir_roundtrip(spark, tmp_path):
    """Write .ttl files the way the reference lays them out, ingest
    them, snapshot, export — byte-stable canonical documents."""
    src = tmp_path / "graphs"
    src.mkdir()
    for gid in [PATHOLOGICAL_ID, "g2"]:
        (src / encode_graph_filename(gid)).write_text(TTL, encoding="utf-8")
    updates = read_graph_dir(spark, str(src), ts="2024-01-01 00:00:00")
    rows = updates.collect()
    assert {r.graph_id for r in rows} == {PATHOLOGICAL_ID, "g2"}
    log = append_updates(spark.createDataFrame([], CHANGELOG), updates)
    triples = snapshot_triples(log, "2024-02-01 00:00:00")
    assert triples.count() == 4  # 2 graphs × 2 triples
    out = tmp_path / "export"
    n = write_snapshot_dir(triples, str(out))
    assert n == 2
    exported = (out / encode_graph_filename("g2")).read_text(encoding="utf-8")
    assert exported == canonicalize(TTL)


def test_sparql_json_results(spark):
    df = spark.createDataFrame(
        [("http://ex.org/a", "_:b1", 3, 1.5, True, None)],
        "iri string, bn string, i long, d double, b boolean, missing string",
    )
    doc = json.loads(to_sparql_json(df))
    assert doc["head"]["vars"] == ["iri", "bn", "i", "d", "b", "missing"]
    b = doc["results"]["bindings"][0]
    assert b["iri"] == {"type": "uri", "value": "http://ex.org/a"}
    assert b["bn"] == {"type": "bnode", "value": "b1"}
    assert b["i"]["datatype"].endswith("integer") and b["i"]["value"] == "3"
    assert b["b"]["value"] == "true"
    assert "missing" not in b  # unbound vars are omitted per spec
    assert json.loads(ask_json(True)) == {"head": {}, "boolean": True}


# --- property-based: Turtle canonical form is a fixpoint ---------------

_iri = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="/._-"),
    min_size=1,
    max_size=20,
).map(lambda s: f"http://ex.org/{s}")
_literal = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters=""),
    max_size=30,
)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(_iri, _iri, st.one_of(_iri.map(lambda x: (x, None, None)),
                                        _literal.map(lambda v: (v, "__lit__", None)))),
        min_size=1,
        max_size=8,
    )
)
def test_turtle_canonicalize_is_fixpoint(triples):
    """serialize → parse → serialize is byte-identical (the reference's
    prettify-equality contract depends on exactly this)."""
    lines = []
    for s, p, (o, kind, _) in triples:
        dt_ = "http://www.w3.org/2001/XMLSchema#string" if kind else None
        lines.append(serialize_triple(s, p, o, dt_, None))
    doc = "\n".join(sorted(set(lines))) + "\n"
    c1 = canonicalize(doc)
    assert canonicalize(c1) == c1
    reparsed = parse_turtle(c1)
    assert canonicalize("\n".join(sorted(serialize_triple(*t) for t in reparsed)) + "\n") == c1


def test_serialize_graph_escapes_match_python_canonicalizer(spark):
    """ADVICE regression: the JVM serializer must emit byte-identical
    text to functions.turtle.canonicalize for \\t and \\r literals —
    the canonical-form / content-hash contract."""
    from rdf_diff_store_spark.functions.turtle import (
        canonicalize,
        parse_triples,
        serialize_graph,
    )

    doc = '<http://ex.org/s> <http://ex.org/p> "a\\tb\\rc\\nd\\"e\\\\f" .'
    changelog = spark.createDataFrame(
        [("g", None, doc)], "graph_id string, ts timestamp, payload string"
    )
    jvm_doc = serialize_graph(parse_triples(changelog)).first()["doc"] + "\n"
    assert jvm_doc == canonicalize(doc)


def test_turtle_grammar_breadth():
    """Round-2 grammar extensions: numeric/boolean shorthand, multiline
    literals, collections, blank node property lists — all canonical-
    fixpoint stable."""
    from rdf_diff_store_spark.functions.turtle import canonicalize, parse_turtle

    doc = """@prefix ex: <http://ex.org/> .
ex:s ex:count 42 ; ex:ratio 3.14 ; ex:big 1.2e6 ; ex:flag true .
ex:s ex:note \"\"\"line one
line "two" end\"\"\"@en .
ex:s ex:items ( ex:a 1 "x" ) .
ex:s ex:via [ ex:p ex:o ; ex:q 7 ] .
"""
    triples = parse_turtle(doc)
    by_pred = {}
    for s, p, o, dt, lang in triples:
        by_pred.setdefault(p.rsplit("/", 1)[-1], []).append((o, dt, lang))
    xsd = "http://www.w3.org/2001/XMLSchema#"
    assert by_pred["count"] == [("42", xsd + "integer", None)]
    assert by_pred["ratio"] == [("3.14", xsd + "decimal", None)]
    assert by_pred["big"] == [("1.2e6", xsd + "double", None)]
    assert by_pred["flag"] == [("true", xsd + "boolean", None)]
    assert by_pred["note"][0][0] == 'line one\nline "two" end'
    assert by_pred["note"][0][2] == "en"
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    firsts = [t for t in triples if t[1] == rdf + "first"]
    rests = [t for t in triples if t[1] == rdf + "rest"]
    assert len(firsts) == 3 and len(rests) == 3
    assert any(t[2] == rdf + "nil" for t in rests)
    # [ ... ] property list: inner triples attached to a generated bnode
    via = by_pred["via"][0][0]
    assert via.startswith("_:genid")
    assert ("_:genid%s" % via[7:], "http://ex.org/q", "7", xsd + "integer", None) in triples
    # canonical fixpoint: canonicalize(canonicalize(doc)) == canonicalize(doc)
    c1 = canonicalize(doc)
    assert canonicalize(c1) == c1
    # and deterministic
    assert canonicalize(doc) == c1


def test_turtle_unparseable_still_fails_loudly():
    """Out-of-subset content must raise, never silently drop (@base
    itself is SUPPORTED since r03 — use genuinely-invalid inputs)."""
    import pytest as _pytest

    from rdf_diff_store_spark.functions.turtle import parse_turtle

    with _pytest.raises(ValueError):
        parse_turtle("<s> <p> %%garbage%% .")
    with _pytest.raises(ValueError):
        parse_turtle('@base "not-an-iri" .\n<s> <p> <o> .')
    with _pytest.raises(ValueError):
        parse_turtle("<s> <p> <o>")  # missing terminator


def test_turtle_multiline_indentation_and_comments_preserved():
    """Tokenizing the whole doc (no line stripping) keeps indentation
    inside multiline literals and ignores # comments outside tokens."""
    from rdf_diff_store_spark.functions.turtle import parse_turtle

    doc = (
        "@prefix ex: <http://ex.org/> . # decl comment\n"
        'ex:s ex:note """a\n'
        '   indented\n'
        'b""" . # trailing comment\n'
        '# full-line comment\n'
        'ex:s ex:tag "x # not a comment" .\n'
    )
    triples = parse_turtle(doc)
    vals = {p.rsplit("/", 1)[-1]: o for _, p, o, _, _ in triples}
    assert vals["note"] == "a\n   indented\nb"
    assert vals["tag"] == "x # not a comment"


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            _iri,
            _iri,
            st.one_of(
                _iri.map(lambda x: (x, None, None)),
                st.tuples(_literal, st.sampled_from(["en", "de", "pt-BR"])).map(
                    lambda t: (t[0], None, t[1])
                ),
                st.tuples(_literal, _iri).map(lambda t: (t[0], t[1], None)),
                _literal.map(
                    lambda v: (v, "http://www.w3.org/2001/XMLSchema#string", None)
                ),
            ),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_turtle_fixpoint_with_lang_and_datatypes(triples):
    """Round-trip fixpoint extended to @lang literals and ^^datatypes
    (the triple-identity dimensions the round-2 diff fix depends on)."""
    lines = sorted(
        {serialize_triple(s, p, o, dt_, lang) for s, p, (o, dt_, lang) in triples}
    )
    doc = "\n".join(lines) + "\n"
    c1 = canonicalize(doc)
    assert canonicalize(c1) == c1
    reparsed = parse_turtle(c1)
    assert sorted(serialize_triple(*t) for t in reparsed) == c1.rstrip("\n").split("\n")


class TestCappedTopkPerGroup:
    def test_equals_naive_single_window(self, spark):
        """Two-level salted capping ≡ one global window per group —
        on a skewed frame (one group holds half the rows)."""
        from pyspark.sql import Window

        from rdf_diff_store_spark.operators.skew import capped_topk_per_group

        df = spark.range(2000).select(
            F.when(F.col("id") < 1000, F.lit("hub"))
            .otherwise(F.concat(F.lit("g"), (F.col("id") % 37).cast("string")))
            .alias("g"),
            F.col("id"),
            F.md5(F.col("id").cast("string")).alias("o"),
        )
        got = capped_topk_per_group(df, "g", [F.col("o"), F.col("id")], k=5)
        w = Window.partitionBy("g").orderBy("o", "id")
        want = (
            df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
        )
        a = {(r.g, r.id, r.rk) for r in got.collect()}
        b = {(r.g, r.id, r.rk) for r in want.collect()}
        assert a == b and len(a) > 0

    def test_cap_enforced_and_deterministic(self, spark):
        from rdf_diff_store_spark.operators.skew import capped_topk_per_group

        df = spark.range(500).select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.col("id"),
            F.md5(F.col("id").cast("string")).alias("o"),
        )
        r1 = capped_topk_per_group(df, "g", [F.col("o"), F.col("id")], k=4)
        r2 = capped_topk_per_group(
            df.repartition(64), "g", [F.col("o"), F.col("id")], k=4
        )
        assert r1.groupBy("g").count().agg(F.max("count")).first()[0] == 4
        assert {tuple(r) for r in r1.collect()} == {tuple(r) for r in r2.collect()}
