"""SPARQL 1.1 Query Results JSON serialization.

The reference answers /api/sparql with SPARQL-JSON
(QueryResultsFormat::Json, src/query.rs:111). This module renders any
result DataFrame in the same envelope:

    {"head": {"vars": [...]},
     "results": {"bindings": [{var: {"type": ..., "value": ...}}]}}

plus the ASK form {"head": {}, "boolean": b}. Term typing follows the
spec: IRIs → "uri", "_:"-prefixed → "bnode", everything else a
literal (with datatype for non-strings).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

_XSD = "http://www.w3.org/2001/XMLSchema#"

# Engine-internal helper columns, by KNOWN prefix/name only: the SPARQL
# grammar allows variables with a leading underscore (?_x), so a blanket
# startswith("_") filter would silently drop a user's projected variable
# from the serialized results (r03 advisor, results.py finding).
_HIDDEN_PREFIXES = ("_lang_", "_dt_", "_ord_", "_bn_", "_path_", "_val_")


def _visible_columns(cols) -> list:
    return [c for c in cols if not c.startswith(_HIDDEN_PREFIXES) and c != "_match"]

_DT_BY_PYTYPE = {
    bool: _XSD + "boolean",
    int: _XSD + "integer",
    float: _XSD + "double",
}


def _term(value) -> dict | None:
    if value is None:
        return None
    if isinstance(value, str):
        if value.startswith("_:"):
            return {"type": "bnode", "value": value[2:]}
        if "://" in value or value.startswith(("urn:", "mailto:")):
            return {"type": "uri", "value": value}
        return {"type": "literal", "value": value}
    for pytype, dt in _DT_BY_PYTYPE.items():
        if isinstance(value, pytype):
            return {
                "type": "literal",
                "value": str(value).lower() if pytype is bool else str(value),
                "datatype": dt,
            }
    return {"type": "literal", "value": str(value)}


def to_sparql_json(df: DataFrame, limit: int | None = None) -> str:
    """Serialize a solution-sequence DataFrame to SPARQL-JSON text.
    Driver-side collect — results are human-scale by contract (the
    reference caches whole JSON bodies in a 1000-entry LRU).

    Hidden `_lang_v`/`_dt_v` typing columns (present when the query
    ran with keep_typing over a typed view) drive exact term typing:
    xml:lang for language-tagged literals, datatype for typed ones,
    and NULL/NULL ⇔ IRI — the oxigraph-faithful response shape. Frames
    without typing columns fall back to the lexical heuristic."""
    rows = df.limit(limit).collect() if limit else df.collect()
    visible = _visible_columns(df.columns)
    has_typing = {
        v: (f"_lang_{v}" in df.columns and f"_dt_{v}" in df.columns) for v in visible
    }
    bindings = []
    for row in rows:
        b = {}
        for var in visible:
            value = row[var]
            if value is None:
                continue
            if has_typing[var] and isinstance(value, str):
                lang, dt = row[f"_lang_{var}"], row[f"_dt_{var}"]
                if lang:
                    b[var] = {"type": "literal", "value": value, "xml:lang": lang}
                elif dt:
                    b[var] = {"type": "literal", "value": value, "datatype": dt}
                elif value.startswith("_:"):
                    b[var] = {"type": "bnode", "value": value[2:]}
                else:
                    b[var] = {"type": "uri", "value": value}
                continue
            t = _term(value)
            if t is not None:
                b[var] = t
        bindings.append(b)
    return json.dumps(
        {"head": {"vars": visible}, "results": {"bindings": bindings}},
        ensure_ascii=False,
        sort_keys=True,
    )


def ask_json(result: bool) -> str:
    return json.dumps({"head": {}, "boolean": bool(result)})
