"""The canonical N-Triples line has exactly two writers: Python
`serialize_triple` and its JVM twin `ntriples_line`. Every JVM writer
of the canonical form (serialize_graph, nquad_line, the KG changelog)
goes through `ntriples_line`, so pinning the twins equal pins them all.

Invariants:

  T1 ntriples_line == serialize_triple row for row, on IRIs, `_:`
     bnodes, and literals carrying \\ " \\n \\r \\t and non-ASCII text,
     with @lang, ^^dt and xsd:string
  T2 nquad_line with a NULL graph == serialize_triple
  T3 the canonical form is a set: serialize_graph(parse_triples(doc))
     + "\\n" == canonicalize(doc), also when doc repeats a triple
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rdf_diff_store_spark.functions.turtle import (
    canonicalize,
    ntriples_line,
    parse_triples,
    serialize_graph,
    serialize_triple,
)
from rdf_diff_store_spark.sources.nquads import nquad_line

XSD = "http://www.w3.org/2001/XMLSchema#"
_SCHEMA = "subj string, pred string, obj string, obj_dt string, obj_lang string"

_text = st.text(
    st.one_of(
        st.sampled_from(list('\\"\n\r\t é€😀')),
        st.characters(blacklist_categories=("Cs",)),
    ),
    max_size=12,
)
_iri_char = st.characters(min_codepoint=0x21, max_codepoint=0x7E, blacklist_characters='<>\\"')
_iri = st.text(_iri_char, min_size=1, max_size=10).map(lambda s: "http://e/" + s)
_bnode = st.from_regex(r"\A_:[a-z][a-z0-9]{0,5}\Z")
_node = st.one_of(_iri, _bnode)
_object = st.one_of(
    _node.map(lambda o: (o, None, None)),
    _text.map(lambda v: (v, XSD + "string", None)),
    st.tuples(_text, st.sampled_from([XSD + "integer", XSD + "date", "http://e/dt"])).map(
        lambda t: (t[0], t[1], None)
    ),
    st.tuples(_text, st.sampled_from(["en", "de", "pt-BR"])).map(lambda t: (t[0], None, t[1])),
)
_triples = st.lists(
    st.tuples(_node, _iri, _object).map(lambda t: (t[0], t[1], *t[2])),
    min_size=1,
    max_size=8,
)


@pytest.fixture(scope="module")
def sparksession(spark):
    return spark


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(triples=_triples)
def test_jvm_line_matches_python_twin(sparksession, triples):
    df = sparksession.createDataFrame(triples, _SCHEMA)
    cols = [F.col(c) for c in ("subj", "pred", "obj", "obj_dt", "obj_lang")]
    rows = df.select(
        "*",
        ntriples_line(*cols).alias("nt"),
        nquad_line(*cols, F.lit(None).cast("string")).alias("nq"),
    ).collect()
    for r in rows:
        want = serialize_triple(r.subj, r.pred, r.obj, r.obj_dt, r.obj_lang)
        assert r.nt == want
        assert r.nq == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(triples=_triples, repeat=st.integers(min_value=0, max_value=7))
def test_serialize_graph_is_canonicalize(sparksession, triples, repeat):
    lines = [serialize_triple(*t) for t in triples]
    doc = "\n".join(lines + [lines[repeat % len(lines)]]) + "\n"
    log = sparksession.createDataFrame(
        [("g", dt.datetime(2024, 1, 1), doc)], "graph_id string, ts timestamp, payload string"
    )
    (row,) = serialize_graph(parse_triples(log)).collect()
    assert row.doc + "\n" == canonicalize(doc)


def test_canonicalize_is_a_set():
    """A repeated statement names the same RDF graph, so it must give
    the same bytes — the canonical form is the content hash."""
    once = "<http://e/a> <http://e/b> <http://e/c> ."
    assert canonicalize("<http://e/a> <http://e/b> <http://e/c>, <http://e/c> .") == canonicalize(once)
    assert canonicalize(f"{once}\n{once}\n") == once + "\n"
