"""N-Quads source/sink — the line-oriented RDF dataset dump format
(W3C N-Quads, RDF 1.1). This is the format web-scale KG corpora
actually ship in: Web Data Commons publishes its Common-Crawl
structured-data extraction as N-Quads, and a versioned graph store's
"whole dataset" export (every named graph in one file set) needs the
4th (graph-label) term the reference's per-graph Turtle files
(reference: src/git.rs:24-41, one file per graph id) encode in the
FILENAME instead.

Why line-oriented matters at 100 TB: one statement per line means the
format splits on newlines — Spark's text source assigns arbitrary
byte ranges to tasks and every split is a valid parse boundary, so a
multi-TB dump parallelizes with NO container index (contrast WARC's
Content-Length framing, sources/warc.py). That property drives the
design here:

* ``nquad_line(...)`` — the SINK is a pure JVM expression: the
  canonical line from ``functions.turtle.ntriples_line`` (the one JVM
  writer of term syntax and escaping) plus the graph label — map-only
  whole-stage codegen, zero Python at any scale.
* ``parse_nquads(...)`` — the SOURCE is one Arrow hop
  (``mapInPandas`` over a strict per-line regex), the same shape as
  the Turtle bulk parser (functions/turtle.py::parse_triples);
  numeric ``\\uXXXX`` unescaping keeps it out of pure-JVM reach.

Terms follow the same conventions as functions/turtle.py: IRIs
bare-expanded, blank nodes ``_:label``, literal lexical values with
datatype/lang carried in separate columns, xsd:string elided.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_diff_store_spark.functions.turtle import _iri_or_bnode, _unescape, ntriples_line

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


def nquad_line(
    subj: Column,
    pred: Column,
    obj: Column,
    obj_dt: Column,
    obj_lang: Column,
    graph: Column,
) -> Column:
    """One N-Quads statement line (no trailing newline) as a pure JVM
    expression: the canonical N-Triples line (turtle.ntriples_line)
    with the graph label inserted before its terminating `` .``. NULL
    graph → triple in the default graph (the graph term is simply
    omitted, per spec §2)."""
    line = ntriples_line(subj, pred, obj, obj_dt, obj_lang)
    return F.when(graph.isNull(), line).otherwise(
        F.concat(
            line.substr(F.lit(1), F.length(line) - 2), F.lit(" "), _iri_or_bnode(graph), F.lit(" .")
        )
    )


def serialize_nquads(triples: DataFrame, graph_col: str = "graph_id") -> DataFrame:
    """(graph_id, subj, pred, obj, obj_dt, obj_lang) → one `line` per
    statement, ready for ``df.write.text`` (the whole sink is map-only
    whole-stage codegen)."""
    return triples.select(
        nquad_line(
            F.col("subj"),
            F.col("pred"),
            F.col("obj"),
            F.col("obj_dt"),
            F.col("obj_lang"),
            F.col(graph_col),
        ).alias("line")
    )


# one statement per line: subject, predicate, object term, optional
# graph label, terminating dot
_LINE_RE = re.compile(
    r"^\s*(<[^>]*>|_:\S+)\s+<([^>]*)>\s+"
    r"(<[^>]*>|_:\S+|\"(?:[^\"\\]|\\.)*\"(?:@[A-Za-z0-9-]+|\^\^<[^>]*>)?)"
    r"(?:\s+(<[^>]*>|_:\S+))?\s*\.\s*$"
)
_LIT_RE = re.compile(
    r'^"((?:[^"\\]|\\.)*)"(?:@([A-Za-z0-9-]+)|\^\^<([^>]*)>)?$'
)


def parse_nquad_line(line: str) -> tuple | None:
    """(graph, subj, pred, obj, obj_dt, obj_lang) for one statement
    line; None for blank/comment lines; ValueError on a malformed
    statement (loud, like parse_turtle)."""
    if not line.strip() or line.lstrip().startswith("#"):
        return None
    m = _LINE_RE.match(line)
    if not m:
        raise ValueError(f"not an N-Quads statement: {line[:80]!r}")
    s_raw, pred, o_raw, g_raw = m.groups()
    subj = s_raw[1:-1] if s_raw.startswith("<") else s_raw
    graph = None
    if g_raw is not None:
        graph = g_raw[1:-1] if g_raw.startswith("<") else g_raw
    if o_raw.startswith('"'):
        lm = _LIT_RE.match(o_raw)
        if not lm:
            raise ValueError(f"bad literal term: {o_raw[:80]!r}")
        obj, lang, dt = _unescape(lm.group(1)), lm.group(2), lm.group(3)
        # plain literal → xsd:string, matching parse_turtle's convention
        # (functions/turtle.py::_literal_parts)
        if dt is None and lang is None:
            dt = XSD_STRING
        return (graph, subj, pred, obj, dt, lang)
    obj = o_raw[1:-1] if o_raw.startswith("<") else o_raw
    return (graph, subj, pred, obj, None, None)


_PARSED_SCHEMA = (
    "graph_id string, subj string, pred string, obj string, "
    "obj_dt string, obj_lang string"
)


def parse_nquads(df: DataFrame, line_col: str = "value") -> DataFrame:
    """Bulk-parse a column of N-Quads text (one statement per row, or
    whole multi-line chunks — both split identically because the
    format is line-delimited) into triple rows. ONE Arrow hop, the
    parse_triples shape; compose with ``spark.read.text(path)`` for
    the file source, where Spark's newline splits give parallelism
    for free."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("graph_id", "subj", "pred", "obj", "obj_dt", "obj_lang")
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            for chunk in pdf[line_col]:
                if chunk is None:
                    continue
                for line in chunk.split("\n"):
                    t = parse_nquad_line(line)
                    if t is None:
                        continue
                    for k, v in zip(cols, t):
                        out[k].append(v)
            yield pd.DataFrame(out)

    return df.select(line_col).mapInPandas(_parse, _PARSED_SCHEMA)


def serialize_rdf_patch(
    diff_triples: DataFrame, graph_col: str = "graph_id", change_col: str = "change"
) -> DataFrame:
    """RDF Patch sink (Seaborne & Berners-Lee's RDF Patch draft; the
    change-interchange format LDES/Delta-style replication consumes):
    one ``A <s> <p> <o> <g> .`` / ``D <s> <p> <o> <g> .`` line per
    diff row. This is the INTERCHANGE form of the reference's core
    contract — `versioned.diff` computes added/removed
    (src/git.rs:162-194 does it by diffing canonical N-Triples); this
    serializes that delta so a DOWNSTREAM store can replay it without
    ever seeing either snapshot.

    Statement subset only (no TX/TC transaction framing, no PA/PD
    prefix ops — quads carry absolute IRIs here by construction).
    Term syntax is exactly `nquad_line` (shared escaping, xsd:string
    elision, default-graph omission), so the whole sink stays map-only
    whole-stage codegen: at a 10^9-row delta this is a scan, not a
    job. Input needs (change ∈ added|removed, graph_id, subj, pred,
    obj[, obj_dt, obj_lang]); missing typing columns mean IRI objects
    only for literal-free diffs — pass them when you have them."""
    cols = diff_triples.columns
    dt = F.col("obj_dt") if "obj_dt" in cols else F.lit(None).cast("string")
    lang = F.col("obj_lang") if "obj_lang" in cols else F.lit(None).cast("string")
    op = F.when(F.col(change_col) == "added", F.lit("A")).otherwise(F.lit("D"))
    return diff_triples.select(
        F.concat(
            op,
            F.lit(" "),
            nquad_line(F.col("subj"), F.col("pred"), F.col("obj"), dt, lang, F.col(graph_col)),
        ).alias("line")
    )


def parse_rdf_patch(df: DataFrame, line_col: str = "value") -> DataFrame:
    """Inverse of `serialize_rdf_patch`: patch lines → (op A|D,
    graph_id, subj, pred, obj, obj_dt, obj_lang). The op token is
    split off JVM-side; the statement tail reuses the strict N-Quads
    line parser in the same ONE-Arrow-hop shape as `parse_nquads`.
    Unknown op letters raise (loud, like every parser here); blank
    and comment lines are skipped."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("op", "graph_id", "subj", "pred", "obj", "obj_dt", "obj_lang")
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            for chunk in pdf[line_col]:
                if chunk is None:
                    continue
                for line in chunk.split("\n"):
                    stripped = line.strip()
                    if not stripped or stripped.startswith("#"):
                        continue
                    op, _, rest = stripped.partition(" ")
                    if op not in ("A", "D"):
                        raise ValueError(f"not an RDF Patch statement op: {line[:80]!r}")
                    t = parse_nquad_line(rest)
                    if t is None:
                        continue
                    out["op"].append(op)
                    for k, v in zip(cols[1:], t):
                        out[k].append(v)
            yield pd.DataFrame(out)

    schema = "op string, " + _PARSED_SCHEMA
    return df.select(line_col).mapInPandas(_parse, schema)
