"""SPARQL text front-end — parse a SPARQL 1.1 query string and compile
it onto the algebra layer (plans/algebra.py).

The reference's query interface IS a SPARQL string
(GET /api/sparql/{ts}?query=..., src/bin/rdf-query-cache.rs:44-53,
evaluated by oxigraph at src/query.rs:105). This module gives users of
the reference the same entry point: a query string in, a DataFrame of
bindings out, over any triples view (snapshot_triples(t) included).

Coverage (the algebra rows of SURVEY.md §2B, now reachable from TEXT):

    PREFIX pfx: <iri>
    SELECT [DISTINCT] (?v ... | * | (AGG(?v) AS ?alias) | (expr AS ?a))
    ASK / CONSTRUCT { template } (dispatch via sparql_query)
    WHERE {
      triple patterns with ';' ',' and 'a';
      property paths: p/q, p|q, ^p, p+, p*, p? and (grouping);
      OPTIONAL { ... }      MINUS { ... }      nested { ... } groups
      { g1 } UNION { g2 }
      FILTER (expr)  — comparisons, && || !, arithmetic, REGEX,
        STRSTARTS/STRENDS/CONTAINS/STRLEN/UCASE/LCASE/STR/CONCAT,
        ABS/ROUND/CEIL/FLOOR, COALESCE/IF/BOUND, ?v IN (...),
        EXISTS { ... } / NOT EXISTS { ... }
      BIND (expr AS ?v)
      VALUES ?v { ... } / VALUES (?a ?b) { (..) (..) UNDEF }
    }
    GROUP BY ?v ...   HAVING (expr over aliases)
    ORDER BY [ASC|DESC](?v) ...   LIMIT n   OFFSET n

Every construct compiles to built-in DataFrame operators (SURVEY.md
§2B table): BGP → hash equi-joins, OPTIONAL → left join, MINUS /
NOT EXISTS → anti join, EXISTS → semi join, property path closure →
iterative doubling joins (operators.graph.transitive_closure),
GROUP BY → hash aggregation, OFFSET → DataFrame.offset (global-sort
limit pushdown — NOT a single-partition window). Catalyst owns the
physical plan, mirroring the reference's division of labor with
oxigraph's optimizer.

Literals in object position match the triples view's `obj` string
column; numeric comparisons/arithmetic cast the bound column to double.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_diff_store_spark.plans.algebra import (
    TypedLit,
    Var,
    _pattern_df,
    exists as _exists,
    join_shared as _join_shared,
    minus as _minus,
    optional as _optional,
    split_shared as _split_shared,
    union as _union,
)

_FN_KWS = (
    "REGEX|STRSTARTS|STRENDS|CONTAINS|STRLEN|UCASE|LCASE|STRBEFORE|STRAFTER|STR"
    "|CONCAT|SUBSTR|REPLACE|LANGMATCHES|LANG|DATATYPE"
    "|ABS|ROUND|CEIL|FLOOR|COALESCE|IF|BOUND"
    "|MD5|SHA1|SHA256|SHA384|SHA512"
    "|NOW|YEAR|MONTH|DAY|HOURS|MINUTES|SECONDS|TZ"
    "|ISIRI|ISURI|ISBLANK|ISLITERAL|ISNUMERIC|SAMETERM|ENCODE_FOR_URI"
    "|UUID|STRUUID|RAND|STRLANG|STRDT"
)
_AGG_KWS = "GROUP_CONCAT|COUNT|SUM|AVG|MIN|MAX|SAMPLE"

_TOKEN = re.compile(
    rf"""
    (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
  | (?P<iri><[^<>\s]*>)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<langtag>@[A-Za-z][A-Za-z0-9\-]*)
  | (?P<number>-?[0-9]+(?:\.[0-9]+)?)
  | (?P<kw>\b(?:PREFIX|SELECT|DISTINCT|WHERE|OPTIONAL|FILTER|UNION|MINUS
       |BIND|VALUES|UNDEF|EXISTS|NOT|AS|ASK|CONSTRUCT|DESCRIBE|GRAPH|REDUCED
       |FROM|NAMED|USING
       |INSERT|DELETE|DATA|WITH|CLEAR|DROP|ALL|DEFAULT|LOAD|INTO|SILENT
       |COPY|MOVE|ADD|TO
       |{_AGG_KWS}|SEPARATOR|IN|TRUE|FALSE
       |ORDER|GROUP|BY|HAVING|ASC|DESC|LIMIT|OFFSET|{_FN_KWS}|a)\b)
  | (?P<bnode>_:[A-Za-z][A-Za-z0-9_\-]*)
  | (?P<pname>[A-Za-z_][A-Za-z0-9_\-]*:[A-Za-z0-9_\-.]*)
  | (?P<op><=|>=|!=|=|&&|\|\||[<>!|^/+\-])
  | (?P<punct>[{{}}().;,*?])
    """,
    re.VERBOSE | re.IGNORECASE,
)

_AGG_SET = set(_AGG_KWS.split("|"))
_FN_SET = set(_FN_KWS.split("|"))


class SparqlParseError(ValueError):
    pass


class _Tokens:
    def __init__(self, text: str):
        self.toks = []
        pos = 0
        for m in _TOKEN.finditer(text):
            between = text[pos : m.start()]
            if between.strip():
                raise SparqlParseError(f"unexpected text {between.strip()[:40]!r}")
            kind = m.lastgroup
            val = m.group(0)
            if kind == "kw" and val != "a":
                val = val.upper()
            self.toks.append((kind, val))
            pos = m.end()
        if text[pos:].strip():
            raise SparqlParseError(f"unexpected trailing text {text[pos:].strip()[:40]!r}")
        self.i = 0

    def peek(self, ahead: int = 0):
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        if t[0] is None:
            raise SparqlParseError("unexpected end of query")
        self.i += 1
        return t

    def expect(self, val: str):
        kind, v = self.next()
        if v.upper() != val.upper():
            raise SparqlParseError(f"expected {val!r}, got {v!r}")


# ---------------------------------------------------------------------------
# AST


@dataclass
class _Group:
    """One group graph pattern: an ordered list of elements."""

    elements: list = field(default_factory=list)
    # elements are tuples:
    #   ("bgp", [(s, path, o), ...])
    #   ("optional", _Group) ("minus", _Group) ("group", _Group)
    #   ("union", [_Group, ...])
    #   ("filter", expr_ast)
    #   ("exists_filter", positive: bool, _Group)
    #   ("bind", expr_ast, var_name)
    #   ("values", [var, ...], [row, ...])


@dataclass
class _Query:
    form: str = "SELECT"  # SELECT | ASK | CONSTRUCT
    distinct: bool = False
    projection: list | None = None  # None = *; items: ("var", name) |
    # ("agg", fn, expr_ast|None, distinct, alias, sep) | ("expr", ast, alias)
    template: list = field(default_factory=list)  # CONSTRUCT triples
    where: _Group | None = None
    from_graphs: list = field(default_factory=list)  # FROM <iri> (default graph)
    from_named: list = field(default_factory=list)  # FROM NAMED <iri>
    group_by: list = field(default_factory=list)
    group_exprs: list = field(default_factory=list)  # (expr_ast, alias) pre-group BINDs
    having: list = field(default_factory=list)
    order_by: list = field(default_factory=list)  # (var, asc)
    limit: int | None = None
    offset: int | None = None


# ---------------------------------------------------------------------------
# parser


def _parse(query: str) -> _Query:
    ts = _Tokens(query)
    prefixes: dict[str, str] = {}
    out = _Query()
    # late-bound cell: parse_group's subquery branch needs
    # parse_select_body, which is defined after parse_group
    _parse_select_body_ref: list = [None]

    while ts.peek()[1] == "PREFIX":
        ts.next()
        kind, pname = ts.next()
        if kind != "pname":
            raise SparqlParseError(f"bad PREFIX name {pname!r}")
        kind, iri = ts.next()
        if kind != "iri":
            raise SparqlParseError("PREFIX needs an <iri>")
        prefixes[pname.rstrip(":")] = iri[1:-1]

    def resolve_pname(val: str) -> str:
        pfx, _, local = val.partition(":")
        if pfx not in prefixes:
            raise SparqlParseError(f"unknown prefix {pfx!r}")
        return prefixes[pfx] + local

    def term(kind, val):
        """A non-path RDF term (subject/object position or expr atom)."""
        if kind == "var":
            return Var(val[1:])
        if kind == "bnode":
            # a blank node in a query pattern is a non-distinguished
            # variable scoped to the query (W3C 18.3); the "_" prefix
            # keeps it out of SELECT * output like other hidden cols
            return Var("_bn_" + val[2:])
        if kind == "iri":
            return val[1:-1]
        if kind == "pname":
            return resolve_pname(val)
        if kind == "string":
            lex = val[1:-1].replace('\\"', '"')
            nk, nv = ts.peek()
            if nk == "langtag":
                # "x"@en — matches lexical form + language tag
                ts.next()
                return TypedLit(lex, None, nv[1:])
            if nk == "op" and nv == "^" and ts.peek(1) == ("op", "^"):
                # "5"^^<dt> — matches lexical form + datatype
                ts.next()
                ts.next()
                k2, v2 = ts.next()
                if k2 == "iri":
                    return TypedLit(lex, v2[1:-1], None)
                if k2 == "pname":
                    return TypedLit(lex, resolve_pname(v2), None)
                raise SparqlParseError("datatype needs ^^<iri>")
            return lex
        if kind == "number":
            return val
        if kind == "kw" and val in ("TRUE", "FALSE"):
            return val.lower()
        raise SparqlParseError(f"bad term {val!r}")

    # ---- property paths -------------------------------------------------
    def parse_path():
        """alt := seq ('|' seq)*; seq := elt ('/' elt)*;
        elt := '^'? primary ('+'|'*'|'?')?"""

        def primary():
            kind, val = ts.peek()
            if val == "(":
                ts.next()
                p = parse_path()
                ts.expect(")")
                return p
            if val == "^":
                ts.next()
                return ("inv", primary())
            if val == "!":
                # negated property set: !iri or !(p|q|^r)
                ts.next()
                inner = primary()

                def flatten(p):
                    if p[0] == "iri":
                        return [p[1]], []
                    if p[0] == "inv" and p[1][0] == "iri":
                        return [], [p[1][1]]
                    if p[0] == "alt":
                        f1, r1 = flatten(p[1])
                        f2, r2 = flatten(p[2])
                        return f1 + f2, r1 + r2
                    raise SparqlParseError(
                        "negated property set allows only IRIs / ^IRIs / |"
                    )

                fwd, rev = flatten(inner)
                return ("nps", fwd, rev)
            kind, val = ts.next()
            if kind == "iri":
                return ("iri", val[1:-1])
            if kind == "pname":
                return ("iri", resolve_pname(val))
            if kind == "kw" and val == "a":
                return ("iri", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
            raise SparqlParseError(f"bad path element {val!r}")

        def elt():
            p = primary()
            nxt = ts.peek()[1]
            if nxt == "+":
                ts.next()
                return ("plus", p)
            if nxt == "*":
                ts.next()
                return ("star", p)
            if nxt == "?":
                ts.next()
                return ("opt", p)
            return p

        def seq():
            p = elt()
            while ts.peek()[1] == "/":
                ts.next()
                p = ("seq", p, elt())
            return p

        p = seq()
        while ts.peek()[1] == "|":
            ts.next()
            p = ("alt", p, seq())
        return p

    # ---- expressions -----------------------------------------------------
    def parse_expr():
        def primary():
            kind, val = ts.peek()
            if val == "(":
                ts.next()
                e = or_expr()
                ts.expect(")")
                return e
            if val == "!":
                ts.next()
                return ("not", primary())
            kind, val = ts.next()
            if kind == "kw" and val == "EXISTS":
                raise SparqlParseError("_EXISTS_")  # handled at FILTER level
            if kind == "kw" and val == "NOT":
                raise SparqlParseError("_EXISTS_")
            if kind == "kw" and val in _FN_SET:
                fn = val
                ts.expect("(")
                args = []
                if ts.peek()[1] != ")":  # NOW() / UUID() / RAND() take none
                    args.append(or_expr())
                    while ts.peek()[1] == ",":
                        ts.next()
                        args.append(or_expr())
                ts.expect(")")
                return ("fn", fn, args)
            if kind == "kw" and val in _AGG_SET:
                # aggregate call inside an expression (HAVING / SELECT)
                ts.expect("(")
                distinct = False
                if ts.peek()[1] == "DISTINCT":
                    ts.next()
                    distinct = True
                if ts.peek()[1] == "*":
                    ts.next()
                    arg = None
                else:
                    arg = or_expr()
                sep = ","
                if ts.peek()[1] == ";":
                    ts.next()
                    ts.expect("SEPARATOR")
                    ts.expect("=")
                    k, v = ts.next()
                    if k != "string":
                        raise SparqlParseError("SEPARATOR needs a string")
                    sep = v[1:-1]
                ts.expect(")")
                return ("aggfn", val, arg, distinct, sep)
            if kind == "var":
                return ("var", val[1:])
            if kind == "number":
                return ("num", val)
            if kind == "string":
                lex = val[1:-1].replace('\\"', '"')
                nk, nv = ts.peek()
                if nk == "langtag":
                    ts.next()
                    return ("typedlit", lex, None, nv[1:])
                if (nk, nv) == ("op", "^") and ts.peek(1) == ("op", "^"):
                    ts.next()
                    ts.next()
                    k2, v2 = ts.next()
                    if k2 == "iri":
                        return ("typedlit", lex, v2[1:-1], None)
                    if k2 == "pname":
                        return ("typedlit", lex, resolve_pname(v2), None)
                    raise SparqlParseError("datatype needs ^^<iri>")
                return ("str", lex)
            if kind == "iri":
                return ("str", val[1:-1])
            if kind == "pname":
                return ("str", resolve_pname(val))
            if kind == "kw" and val in ("TRUE", "FALSE"):
                return ("bool", val == "TRUE")
            raise SparqlParseError(f"bad expression near {val!r}")

        def mul_expr():
            e = primary()
            while ts.peek()[1] in ("*", "/"):
                op = ts.next()[1]
                e = ("arith", op, e, primary())
            return e

        def add_expr():
            e = mul_expr()
            while ts.peek()[1] in ("+", "-"):
                op = ts.next()[1]
                e = ("arith", op, e, mul_expr())
            return e

        def cmp_expr():
            e = add_expr()
            nxt = ts.peek()
            if nxt[1] in ("=", "!=", "<", "<=", ">", ">="):
                op = ts.next()[1]
                return ("cmp", op, e, add_expr())
            negated = False
            if nxt[1] == "NOT" and ts.peek(1)[1] == "IN":
                ts.next()
                negated = True
                nxt = ts.peek()
            if nxt[1] == "IN":
                ts.next()
                ts.expect("(")
                items = [primary()]
                while ts.peek()[1] == ",":
                    ts.next()
                    items.append(primary())
                ts.expect(")")
                node = ("in", e, items)
                return ("not", node) if negated else node
            return e

        def and_expr():
            e = cmp_expr()
            while ts.peek()[1] == "&&":
                ts.next()
                e = ("and", e, cmp_expr())
            return e

        def or_expr():
            e = and_expr()
            while ts.peek()[1] == "||":
                ts.next()
                e = ("or", e, and_expr())
            return e

        return or_expr()

    # ---- group graph patterns ---------------------------------------------
    def parse_triples_into(bgp_patterns: list):
        stop = {"}", None, "OPTIONAL", "FILTER", "MINUS", "BIND", "VALUES", "GRAPH", "{"}
        while True:
            kind, val = ts.peek()
            if val in stop or (kind is None):
                return
            s = term(*ts.next())
            while True:
                kind, val = ts.peek()
                if kind == "var":
                    ts.next()
                    p = Var(val[1:])
                else:
                    p = parse_path()
                while True:
                    o = term(*ts.next())
                    bgp_patterns.append((s, p, o))
                    if ts.peek()[1] == ",":
                        ts.next()
                        continue
                    break
                if ts.peek()[1] == ";":
                    ts.next()
                    if ts.peek()[1] in (".", "}"):  # dangling ';'
                        break
                    continue
                break
            if ts.peek()[1] == ".":
                ts.next()

    def parse_values():
        """VALUES ?v { lit ... }  |  VALUES (?a ?b) { (l1 l2) ... }"""
        kind, val = ts.next()
        if val == "(":
            vars_ = []
            while ts.peek()[0] == "var":
                vars_.append(ts.next()[1][1:])
            ts.expect(")")
        elif kind == "var":
            vars_ = [val[1:]]
        else:
            raise SparqlParseError("VALUES needs ?var or (?v ...)")
        ts.expect("{")
        rows = []

        def one_value():
            k, v = ts.next()
            if k == "kw" and v == "UNDEF":
                return None
            if k == "number":
                return v
            t = term(k, v)
            # VALUES rows feed createDataFrame: typed literals keep
            # the engine's value-level identity (lexical form)
            return t.lex if isinstance(t, TypedLit) else t

        while ts.peek()[1] != "}":
            if len(vars_) == 1 and ts.peek()[1] != "(":
                rows.append((one_value(),))
            else:
                ts.expect("(")
                row = []
                while ts.peek()[1] != ")":
                    row.append(one_value())
                ts.expect(")")
                if len(row) != len(vars_):
                    raise SparqlParseError("VALUES row arity mismatch")
                rows.append(tuple(row))
        ts.expect("}")
        return vars_, rows

    def parse_group() -> _Group:
        """Everything between '{' and the matching '}' (the '{' is
        already consumed)."""
        g = _Group()
        while True:
            kind, val = ts.peek()
            if val == "}":
                ts.next()
                return g
            if val is None:
                raise SparqlParseError("unterminated group (missing '}')")
            if val == "{" and ts.peek(1)[1] == "SELECT":
                # SPARQL 1.1 subquery: { SELECT ... WHERE { ... } ... }
                ts.next()
                ts.next()  # consume SELECT
                sub = _parse_select_body_ref[0]()
                g.elements.append(("subselect", sub))
                if ts.peek()[1] != "}":
                    raise SparqlParseError("subquery must close its group")
                ts.next()
                if ts.peek()[1] == ".":
                    ts.next()
            elif val == "{":
                # nested group, possibly a UNION chain
                branches = []
                while ts.peek()[1] == "{":
                    ts.next()
                    branches.append(parse_group())
                    if ts.peek()[1] == "UNION":
                        ts.next()
                        if ts.peek()[1] != "{":
                            raise SparqlParseError("UNION needs a '{' group")
                        continue
                    break
                if len(branches) > 1:
                    g.elements.append(("union", branches))
                else:
                    g.elements.append(("group", branches[0]))
                if ts.peek()[1] == ".":
                    ts.next()
            elif val == "GRAPH":
                ts.next()
                k, v = ts.next()
                if k == "var":
                    gterm = Var(v[1:])
                elif k == "iri":
                    gterm = v[1:-1]
                elif k == "pname":
                    gterm = resolve_pname(v)
                else:
                    raise SparqlParseError("GRAPH needs ?var or an IRI")
                ts.expect("{")
                g.elements.append(("graph_scope", gterm, parse_group()))
                if ts.peek()[1] == ".":
                    ts.next()
            elif val == "OPTIONAL":
                ts.next()
                ts.expect("{")
                g.elements.append(("optional", parse_group()))
                if ts.peek()[1] == ".":
                    ts.next()
            elif val == "MINUS":
                ts.next()
                ts.expect("{")
                g.elements.append(("minus", parse_group()))
                if ts.peek()[1] == ".":
                    ts.next()
            elif val == "FILTER":
                ts.next()
                # FILTER [NOT] EXISTS { ... }  |  FILTER (expr)
                if ts.peek()[1] in ("EXISTS", "NOT"):
                    positive = ts.next()[1] == "EXISTS"
                    if not positive:
                        ts.expect("EXISTS")
                    ts.expect("{")
                    g.elements.append(("exists_filter", positive, parse_group()))
                else:
                    ts.expect("(")
                    # allow (NOT) EXISTS inside the parens too
                    if ts.peek()[1] in ("EXISTS", "NOT"):
                        positive = ts.next()[1] == "EXISTS"
                        if not positive:
                            ts.expect("EXISTS")
                        ts.expect("{")
                        g.elements.append(("exists_filter", positive, parse_group()))
                        ts.expect(")")
                    else:
                        g.elements.append(("filter", parse_expr()))
                        ts.expect(")")
                if ts.peek()[1] == ".":
                    ts.next()
            elif val == "BIND":
                ts.next()
                ts.expect("(")
                e = parse_expr()
                ts.expect("AS")
                k, v = ts.next()
                if k != "var":
                    raise SparqlParseError("BIND needs AS ?var")
                ts.expect(")")
                g.elements.append(("bind", e, v[1:]))
                if ts.peek()[1] == ".":
                    ts.next()
            elif val == "VALUES":
                ts.next()
                vars_, rows = parse_values()
                g.elements.append(("values", vars_, rows))
                if ts.peek()[1] == ".":
                    ts.next()
            else:
                patterns: list = []
                parse_triples_into(patterns)
                if not patterns:
                    raise SparqlParseError(f"unexpected {val!r} in group")
                g.elements.append(("bgp", patterns))

    def parse_modifiers(q: _Query) -> None:
        """GROUP BY / HAVING / ORDER BY / LIMIT / OFFSET; stops at EOF
        or at the '}' that closes an enclosing subquery group."""
        while ts.peek()[1] is not None and ts.peek()[1] != "}":
            kind, val = ts.next()
            if val == "GROUP":
                ts.expect("BY")
                while True:
                    if ts.peek()[0] == "var":
                        q.group_by.append(ts.next()[1][1:])
                    elif ts.peek()[1] == "(":
                        # GroupCondition ::= '(' Expression 'AS' Var ')'
                        ts.next()
                        e = parse_expr()
                        ts.expect("AS")
                        k, v = ts.next()
                        if k != "var":
                            raise SparqlParseError("GROUP BY (expr AS ?var)")
                        ts.expect(")")
                        q.group_exprs.append((e, v[1:]))
                        q.group_by.append(v[1:])
                    else:
                        break
                if not q.group_by:
                    raise SparqlParseError("GROUP BY needs variables")
            elif val == "HAVING":
                ts.expect("(")
                q.having.append(parse_expr())
                ts.expect(")")
            elif val == "ORDER":
                ts.expect("BY")
                got = False
                while True:
                    k2, v2 = ts.peek()
                    if v2 in ("ASC", "DESC"):
                        # OrderCondition ::= (ASC|DESC) BrackettedExpression
                        ts.next()
                        asc = v2 == "ASC"
                        ts.expect("(")
                        e = parse_expr()
                        ts.expect(")")
                        # plain-variable keys stay strings (cheap path)
                        key = e[1] if e[0] == "var" else e
                        q.order_by.append((key, asc))
                        got = True
                    elif k2 == "var":
                        ts.next()
                        q.order_by.append((v2[1:], True))
                        got = True
                    elif v2 == "(" or (k2 == "kw" and v2 in _FN_SET):
                        # bare Constraint form: ORDER BY STRLEN(?x)
                        e = parse_expr()
                        q.order_by.append((e, True))
                        got = True
                    else:
                        break
                if not got:
                    raise SparqlParseError("ORDER BY needs variables or expressions")
            elif val == "LIMIT":
                q.limit = int(ts.next()[1])
            elif val == "OFFSET":
                q.offset = int(ts.next()[1])
            else:
                raise SparqlParseError(f"unexpected {val!r} after pattern group")

    def parse_dataset(q: _Query) -> None:
        """FROM <iri> ... / FROM NAMED <iri> ... (dataset clause)."""
        while ts.peek()[1] == "FROM":
            ts.next()
            target = q.from_graphs
            if ts.peek()[1] == "NAMED":
                ts.next()
                target = q.from_named
            k, v = ts.next()
            if k == "iri":
                target.append(v[1:-1])
            elif k == "pname":
                target.append(resolve_pname(v))
            else:
                raise SparqlParseError("FROM needs an IRI")

    def parse_select_body() -> _Query:
        """Everything after the SELECT keyword (projection, WHERE
        group, solution modifiers) — shared by the top level and
        { SELECT ... } subqueries."""
        q = _Query()
        q.form = "SELECT"
        if ts.peek()[1] in ("DISTINCT", "REDUCED"):
            # REDUCED permits (doesn't require) dedup — dedup is the
            # cheaper answer in a distributed engine
            ts.next()
            q.distinct = True
        if ts.peek()[1] == "*":
            ts.next()
            q.projection = None
        else:
            q.projection = []
            while True:
                kind, val = ts.peek()
                if kind == "var":
                    ts.next()
                    q.projection.append(("var", val[1:]))
                elif val == "(":
                    ts.next()
                    e = parse_expr()
                    ts.expect("AS")
                    k, v = ts.next()
                    if k != "var":
                        raise SparqlParseError("projection needs AS ?var")
                    ts.expect(")")
                    q.projection.append(("expr", e, v[1:]))
                else:
                    break
            if not q.projection:
                raise SparqlParseError("SELECT needs variables, expressions or *")
        parse_dataset(q)
        if ts.peek()[1] == "WHERE":
            ts.next()
        ts.expect("{")
        q.where = parse_group()
        parse_modifiers(q)
        return q

    _parse_select_body_ref[0] = parse_select_body

    # ---- query forms -------------------------------------------------------
    kind, val = ts.next()
    if val == "SELECT":
        out = parse_select_body()
    elif val == "ASK":
        out.form = "ASK"
        parse_dataset(out)
        if ts.peek()[1] == "WHERE":
            ts.next()
        ts.expect("{")
        out.where = parse_group()
        parse_modifiers(out)
    elif val == "CONSTRUCT":
        out.form = "CONSTRUCT"
        if ts.peek()[1] in ("WHERE", "FROM"):
            # CONSTRUCT WHERE { TriplesTemplate } shorthand (SPARQL
            # 1.1 §10.2.3): the pattern IS the template. Plain triples
            # only — a path in the group can't be emitted as a triple.
            parse_dataset(out)
            ts.expect("WHERE")
            ts.expect("{")
            tmpl: list = []
            parse_triples_into(tmpl)
            ts.expect("}")
            for s, p, o in tmpl:
                if not (isinstance(p, Var) or (isinstance(p, tuple) and p[0] == "iri")):
                    raise SparqlParseError(
                        "CONSTRUCT WHERE allows only plain triple patterns"
                    )
            out.template = tmpl
            out.where = _Group(elements=[("bgp", tmpl)])
            parse_modifiers(out)
        else:
            ts.expect("{")
            tmpl = []
            parse_triples_into(tmpl)
            ts.expect("}")
            out.template = tmpl
            parse_dataset(out)
            ts.expect("WHERE")
            ts.expect("{")
            out.where = parse_group()
            parse_modifiers(out)
    elif val == "DESCRIBE":
        # DESCRIBE <iri> [...] — every triple with the resource as
        # subject or object (the reference surface exposes oxigraph's
        # DESCRIBE; this is its common concise-bounded form).
        # DESCRIBE ?v [...] WHERE { ... } — the resources are the
        # distinct bindings of the listed variables.
        out.form = "DESCRIBE"
        resources: list = []
        desc_vars: list = []
        while ts.peek()[0] in ("iri", "pname", "var"):
            k, v = ts.next()
            if k == "var":
                desc_vars.append(v[1:])
            else:
                resources.append(v[1:-1] if k == "iri" else resolve_pname(v))
        if not resources and not desc_vars:
            raise SparqlParseError("DESCRIBE needs at least one IRI or variable")
        if desc_vars:
            if ts.peek()[1] == "WHERE":
                ts.next()
            ts.expect("{")
            out.where = parse_group()
            parse_modifiers(out)
        elif ts.peek()[1] == "WHERE":
            raise SparqlParseError("DESCRIBE <iri> takes no WHERE clause here")
        out.template = resources  # reuse the field for the IRI list
        out.projection = desc_vars or None  # reuse for the var list
    else:
        raise SparqlParseError(f"unsupported query form {val!r}")
    if ts.peek()[1] is not None:
        raise SparqlParseError(f"unexpected {ts.peek()[1]!r} after query")
    return out


# ---------------------------------------------------------------------------
# expression compilation


_NUMERIC_FNS = {"ABS", "ROUND", "CEIL", "FLOOR"}

_XSD_NS = "http://www.w3.org/2001/XMLSchema#"
# XSD numeric datatypes: typed literals with one of these compile to
# numeric literals, so FILTER(?price > "5"^^xsd:decimal) and arithmetic
# work (SPARQL 1.1 §17.3 operand-mapping; r03 verdict item #8)
_NUMERIC_DTS = {
    _XSD_NS + t
    for t in (
        "integer", "decimal", "double", "float", "long", "int", "short",
        "byte", "nonNegativeInteger", "positiveInteger", "negativeInteger",
        "nonPositiveInteger", "unsignedLong", "unsignedInt",
        "unsignedShort", "unsignedByte",
    )
}

# Column-name context for typed-literal term comparisons: the hidden
# _lang_/_dt_ typing columns only exist when the compared variable was
# bound in object position over a typed view. Call sites that filter a
# concrete frame push its column set here so a missing typing column
# compiles to NULL (→ correct false result) instead of an
# unresolved-column AnalysisException (r03 advisor, sparql_text:900).
_FRAME_COLUMNS: list[set] = []


class _frame_columns:
    def __init__(self, df):
        self._cols = set(df.columns)

    def __enter__(self):
        _FRAME_COLUMNS.append(self._cols)

    def __exit__(self, *exc):
        _FRAME_COLUMNS.pop()


def _typing_col(name: str) -> Column:
    if _FRAME_COLUMNS and name not in _FRAME_COLUMNS[-1]:
        return F.lit(None).cast("string")
    return F.col(name)


def _norm_dt(c: Column) -> Column:
    """Map xsd:string → NULL: RDF 1.1 makes a simple literal and an
    explicit "x"^^xsd:string the SAME term, and the triples view carries
    either spelling depending on the source serialization."""
    return F.when(c == F.lit(_XSD_NS + "string"), F.lit(None).cast("string")).otherwise(c)


def _fold_typed_ctor(ast):
    """STRLANG("lex","tag") / STRDT("lex", <dt>) with CONSTANT args is a
    typed-literal constant (SPARQL 1.1 §17.4.2.8-9) — fold it to the
    typedlit node so FILTER comparisons / sameTerm / numeric operand
    mapping treat it exactly like the "lex"@tag / "lex"^^<dt> spelling.
    Dynamic args stay a fn node (handled at BIND level, where the tag
    can ride the hidden typing columns)."""
    if (
        ast[0] == "fn"
        and ast[1] in ("STRLANG", "STRDT")
        and len(ast[2]) == 2
        and ast[2][0][0] == "str"
        and ast[2][1][0] == "str"
    ):
        lex, tag = ast[2][0][1], ast[2][1][1]
        if ast[1] == "STRDT":
            return ("typedlit", lex, tag, None)
        return ("typedlit", lex, None, tag)
    return ast


def _is_dyn_ctor(ast) -> bool:
    """A STRLANG/STRDT call whose args did NOT fold to a constant —
    i.e. at least one argument is a computed expression."""
    return (
        ast[0] == "fn"
        and ast[1] in ("STRLANG", "STRDT")
        and len(ast[2]) == 2
        and _fold_typed_ctor(ast)[0] == "fn"
    )


def _term_components(x):
    """(value, lang, dt, kind) Columns for a term-valued expression —
    the component view =/!= and sameTerm compare field-by-field.

    kind is "iri" / "lit" / NULL-unknown: over a PARSED typed view an
    IRI object has BOTH typing columns NULL while a simple literal
    carries dt=xsd:string, so an IRI and a same-lexical SIMPLE literal
    compare unequal; untyped views and constants (the expression
    grammar folds <iri> and "str" to the same node) carry no IRI-ness
    and match anything.

    Dynamic-arg STRLANG/STRDT (SPARQL 1.1 §17.4.2.8-9) construct their
    typing tags from compiled scalar expressions here, so term
    comparisons work without a BIND materializing hidden columns —
    closes the r03 "only as the top-level expression of a BIND"
    deviation for the =/!=/sameTerm cases."""
    x = _fold_typed_ctor(x)
    none = F.lit(None).cast("string")
    if _is_dyn_ctor(x):
        val, tag = [_compile_expr(a).cast("string") for a in x[2]]
        if x[1] == "STRLANG":
            return (val, tag, none, F.lit("lit"))
        return (val, none, _norm_dt(tag), F.lit("lit"))
    if x[0] == "var":
        v = x[1]
        lang_c = _typing_col(f"_lang_{v}")
        dt_c = _typing_col(f"_dt_{v}")
        typed_frame = bool(_FRAME_COLUMNS) and (
            f"_lang_{v}" in _FRAME_COLUMNS[-1]
            or f"_dt_{v}" in _FRAME_COLUMNS[-1]
        )
        kind = (
            F.when(lang_c.isNotNull() | dt_c.isNotNull(), F.lit("lit")).otherwise(
                F.lit("iri")
            )
            if typed_frame
            else none
        )
        return (F.col(v).cast("string"), lang_c, _norm_dt(dt_c), kind)
    if x[0] == "typedlit":
        _, lex, dt, lang = x
        return (
            F.lit(lex),
            F.lit(lang).cast("string"),
            _norm_dt(F.lit(dt).cast("string")),
            F.lit("lit"),
        )
    return _compile_expr(x).cast("string"), none, none, none


_TEMPORAL_DTS = {_XSD_NS + "date", _XSD_NS + "dateTime"}


def _temporal_dt(ast):
    """The xsd:date/xsd:dateTime datatype IRI if `ast` is a temporal
    typed-literal constant, else None."""
    ast = _fold_typed_ctor(ast)
    if ast[0] == "typedlit" and ast[3] is None and ast[2] in _TEMPORAL_DTS:
        return ast[2]
    return None


def _is_numeric(ast) -> bool:
    ast = _fold_typed_ctor(ast)
    op = ast[0]
    if op == "num":
        return True
    if op == "arith":
        return True
    if op == "typedlit":
        return ast[3] is None and ast[2] in _NUMERIC_DTS
    if op == "fn":
        return ast[1] in _NUMERIC_FNS or ast[1] == "STRLEN"
    if op == "aggfn":
        return ast[1] in ("COUNT", "SUM", "AVG")
    return False


def _compile_expr(ast, numeric: bool = False) -> Column:
    ast = _fold_typed_ctor(ast)
    op = ast[0]
    if op == "var":
        c = F.col(ast[1])
        return c.cast("double") if numeric else c
    if op == "num":
        v = ast[1]
        return F.lit(float(v)) if ("." in v or numeric) else F.lit(int(v))
    if op == "str":
        return F.lit(ast[1])
    if op == "bool":
        return F.lit(ast[1])
    if op == "and":
        # operands of &&/||/! are boolean contexts → EBV (§17.2.2)
        return _compile_ebv(ast[1]) & _compile_ebv(ast[2])
    if op == "or":
        return _compile_ebv(ast[1]) | _compile_ebv(ast[2])
    if op == "not":
        return ~_compile_ebv(ast[1])
    if op == "arith":
        _, o, a, b = ast
        ca, cb = _compile_expr(a, numeric=True), _compile_expr(b, numeric=True)
        return {"+": ca + cb, "-": ca - cb, "*": ca * cb, "/": ca / cb}[o]
    if op == "typedlit":
        _, lex, dt, lang = ast
        if lang is None and dt in _NUMERIC_DTS:
            # "5"^^xsd:decimal as an operand: numeric value (SPARQL
            # operand mapping) — enables arithmetic and ordering.
            # Exponent forms ("1e3"^^xsd:double) are valid lexical
            # forms that int() rejects; an ill-formed lexical form is
            # a SPARQL type error → loud SparqlParseError, not a raw
            # ValueError.
            try:
                if not numeric and "." not in lex and "e" not in lex.lower():
                    return F.lit(int(lex))
                return F.lit(float(lex))
            except ValueError as ex:
                raise SparqlParseError(
                    f"ill-formed numeric literal {lex!r}^^<{dt}>"
                ) from ex
        raise SparqlParseError(
            'typed literals ("x"@en, "5"^^<dt>, constant STRLANG/STRDT) '
            "are supported in triple patterns, =/!= term comparisons, "
            "sameTerm, and (numeric datatypes) ordering/arithmetic "
            "expressions only"
        )
    if op == "cmp":
        _, o, a, b = ast
        a, b = _fold_typed_ctor(a), _fold_typed_ctor(b)
        if o in ("=", "!=") and (_is_dyn_ctor(a) or _is_dyn_ctor(b)):
            # dynamic-arg STRLANG/STRDT in a term comparison: compare
            # component-wise (value ==, tags eqNullSafe) — the same
            # contract as the typedlit-vs-var path below, no BIND
            # needed to carry the constructed tag
            va, la, da, ka = _term_components(a)
            vb, lb, db, kb = _term_components(b)
            eq = (
                (va == vb)
                & la.eqNullSafe(lb)
                & da.eqNullSafe(db)
                & (ka.isNull() | kb.isNull() | (ka == kb))
            )
            return eq if o == "=" else ~eq
        typed = a[0] == "typedlit" or b[0] == "typedlit"
        tdt = _temporal_dt(a) or _temporal_dt(b)
        num_tl = any(
            x[0] == "typedlit" and x[3] is None and x[2] in _NUMERIC_DTS
            for x in (a, b)
        )
        if typed and (num_tl or tdt is not None):
            # VALUE semantics for numeric and temporal typed literals,
            # for ALL six operators (SPARQL 1.1 §17.3 op:numeric-equal
            # / op:date-equal): x = c must agree with x >= c && x <= c.
            # try_cast: a lexical form outside the value space is a
            # SPARQL type error → NULL → the row drops (ANSI cast
            # would throw). On TYPED views the hidden datatype column
            # additionally gates the var side: a term whose datatype
            # is outside the value space (an IRI, a lang-tagged or
            # xsd:string literal vs a number) is a type error and
            # drops for = AND != alike.
            spark_t = (
                "double"
                if num_tl
                else ("date" if tdt == _XSD_NS + "date" else "timestamp_ntz")
            )
            guards = []

            def vcol(x):
                if x[0] == "typedlit":
                    return (
                        _compile_expr(x, numeric=True)
                        if num_tl
                        else F.lit(x[1]).cast(spark_t)
                    )
                if x[0] == "var":
                    v = x[1]
                    if bool(_FRAME_COLUMNS) and (
                        f"_lang_{v}" in _FRAME_COLUMNS[-1]
                        or f"_dt_{v}" in _FRAME_COLUMNS[-1]
                    ):
                        ok_dts = _NUMERIC_DTS if num_tl else {tdt}
                        guards.append(
                            _typing_col(f"_lang_{v}").isNull()
                            & _typing_col(f"_dt_{v}").isin(*ok_dts)
                        )
                    return F.col(v).try_cast(spark_t)
                if num_tl:
                    return _compile_expr(x, numeric=True)
                raise SparqlParseError(
                    "temporal comparison needs a variable or xsd:date/"
                    "xsd:dateTime literal on each side"
                )

            ca, cb = vcol(a), vcol(b)
            res = {
                "=": ca == cb,
                "!=": ca != cb,
                "<": ca < cb,
                "<=": ca <= cb,
                ">": ca > cb,
                ">=": ca >= cb,
            }[o]
            for g in guards:
                res = res & g
            return res
        if typed and o in ("=", "!="):
            # term-level equality: lexical form AND typing must match
            # (hidden _lang_/_dt_ columns, same contract as LANG())
            tl, other = (a, b) if a[0] == "typedlit" else (b, a)
            if other[0] == "typedlit":
                same = tl[1:] == other[1:]
                return F.lit(same if o == "=" else not same)
            if other[0] != "var":
                raise SparqlParseError(
                    "typed-literal comparison needs a variable on the other side"
                )
            v = other[1]
            _, lex, dt, lang = tl
            eq = (
                (F.col(v) == F.lit(lex))
                & _typing_col(f"_lang_{v}").eqNullSafe(F.lit(lang).cast("string"))
            )
            if lang is None:  # "5"^^<dt>: datatype must match too
                # (xsd:string ≡ simple literal, both spellings normalized)
                eq = eq & _norm_dt(_typing_col(f"_dt_{v}")).eqNullSafe(
                    _norm_dt(F.lit(dt).cast("string"))
                )
            if bool(_FRAME_COLUMNS) and (
                f"_lang_{v}" in _FRAME_COLUMNS[-1]
                or f"_dt_{v}" in _FRAME_COLUMNS[-1]
            ):
                # typed view records IRI-ness (both typing columns
                # NULL): an IRI never term-equals a literal constant,
                # even with xsd:string's simple-literal normalization
                eq = eq & (
                    _typing_col(f"_lang_{v}").isNotNull()
                    | _typing_col(f"_dt_{v}").isNotNull()
                )
            return eq if o == "=" else ~eq
        str_tl = any(
            x[0] == "typedlit" and x[3] is None and x[2] == _XSD_NS + "string"
            for x in (a, b)
        )
        if typed and str_tl:
            # ordering on xsd:string-typed literals (=/!= took the
            # term-level branch above): fn:compare value semantics
            # (SPARQL 1.1 §17.3) — xsd:string ≡ simple literal, so
            # this is plain string ordering. On typed views a var
            # whose term is lang-tagged, non-string-typed, or an IRI
            # is a type error → guard false → the row drops; on
            # untyped views the lexical form compares directly (the
            # same documented pragmatism as numeric comparisons).
            guards = []

            def scol(x):
                if x[0] == "typedlit":
                    return F.lit(x[1])
                if x[0] == "var":
                    v = x[1]
                    if bool(_FRAME_COLUMNS) and (
                        f"_lang_{v}" in _FRAME_COLUMNS[-1]
                        or f"_dt_{v}" in _FRAME_COLUMNS[-1]
                    ):
                        guards.append(
                            _typing_col(f"_lang_{v}").isNull()
                            & (
                                _typing_col(f"_dt_{v}")
                                == F.lit(_XSD_NS + "string")
                            )
                        )
                    return F.col(v).cast("string")
                return _compile_expr(x).cast("string")

            ca, cb = scol(a), scol(b)
            res = {"<": ca < cb, "<=": ca <= cb, ">": ca > cb, ">=": ca >= cb}[o]
            for gd in guards:
                res = res & gd
            return res
        if typed and not (_is_numeric(a) or _is_numeric(b)):
            raise SparqlParseError(
                "ordering comparisons on typed literals need a numeric "
                "or xsd:date/xsd:dateTime datatype (lang-tagged "
                "ordering is undefined in SPARQL 1.1 §17.3)"
            )
        num = _is_numeric(a) or _is_numeric(b)
        ca, cb = _compile_expr(a, numeric=num), _compile_expr(b, numeric=num)
        return {
            "=": ca == cb,
            "!=": ca != cb,
            "<": ca < cb,
            "<=": ca <= cb,
            ">": ca > cb,
            ">=": ca >= cb,
        }[o]
    if op == "in":
        _, e, items = ast
        # compile each member: a variable item must compare against the
        # COLUMN (isin over raw AST payloads would treat "?b" as the
        # literal string "b"); Catalyst folds the all-literal case back
        # into an InSet anyway
        ce = _compile_expr(e)
        cond = F.lit(False)
        for i in items:
            cond = cond | (ce == _compile_expr(i))
        return cond
    if op == "fn":
        _, fn, args = ast

        def lit_str(i: int, what: str) -> str:
            if len(args) <= i or args[i][0] != "str":
                raise SparqlParseError(f"{fn} {what} must be a string literal")
            return args[i][1]

        def regex_flags(i: int) -> str:
            """Optional SPARQL regex flags argument → inline (?ims) prefix."""
            if len(args) <= i:
                return ""
            flags = lit_str(i, "flags")
            if not set(flags) <= set("ims"):
                raise SparqlParseError(f"{fn} unsupported regex flags {flags!r}")
            return f"(?{flags})" if flags else ""

        if fn == "SAMETERM":
            # term-level identity: lexical value AND typing tags must all
            # match (lang tag, datatype via hidden _lang_/_dt_ columns;
            # xsd:string normalized to the simple-literal spelling per
            # RDF 1.1). Handled BEFORE the eager arg compile: a typed-
            # literal arg ("hi"@en) is a term here, not a scalar operand.
            # Each term also carries a KIND ("iri" / "lit" / NULL =
            # unknown): over a TYPED view (parse_triples output) an IRI
            # object has BOTH typing columns NULL while a simple literal
            # carries dt=xsd:string, so an IRI and a same-lexical SIMPLE
            # literal now compare unequal. Unknown kind (untyped views,
            # constants — the expression grammar folds <iri> and "str"
            # to the same node) matches anything, preserving prior
            # behavior where IRI-ness is genuinely unrecorded.
            # (Shared component view _term_components — also handles
            # dynamic-arg STRLANG/STRDT constructors.)
            va, la, da, ka = _term_components(args[0])
            vb, lb, db, kb = _term_components(args[1])
            return (
                va.eqNullSafe(vb)
                & la.eqNullSafe(lb)
                & da.eqNullSafe(db)
                & (ka.isNull() | kb.isNull() | (ka == kb))
            )

        a = [_compile_expr(x, numeric=fn in _NUMERIC_FNS) for x in args]
        if fn == "REGEX":
            if args[1][0] == "str":
                # literal pattern: constant regex compiles once
                return a[0].rlike(regex_flags(2) + lit_str(1, "pattern"))
            # expression pattern (flags stay literal-only)
            return F.regexp_like(
                a[0], F.concat(F.lit(regex_flags(2)), a[1].cast("string"))
            )
        if fn == "STRSTARTS":
            return a[0].startswith(a[1])
        if fn == "STRENDS":
            return a[0].endswith(a[1])
        if fn == "CONTAINS":
            return a[0].contains(a[1])
        if fn == "STRLEN":
            return F.length(a[0])
        if fn == "UCASE":
            return F.upper(a[0])
        if fn == "LCASE":
            return F.lower(a[0])
        if fn == "STR":
            return a[0].cast("string")
        if fn == "CONCAT":
            return F.concat(*a)
        if fn == "SUBSTR":
            # SPARQL SUBSTR is 1-based like F.substring; start/length
            # may be arbitrary expressions (F.substring takes Columns)
            start = _compile_expr(args[1], numeric=True).cast("int")
            length = (
                _compile_expr(args[2], numeric=True).cast("int")
                if len(args) > 2
                else F.lit(2_147_483_647)
            )
            return F.substring(a[0], start, length)
        if fn == "REPLACE":
            if args[1][0] == "str" and args[2][0] == "str":
                # literal pattern: keep the constant-regex fast path
                return F.regexp_replace(
                    a[0],
                    regex_flags(3) + lit_str(1, "pattern"),
                    lit_str(2, "replacement"),
                )
            # expression pattern/replacement (flags stay literal-only)
            pat = F.concat(F.lit(regex_flags(3)), a[1].cast("string"))
            return F.regexp_replace(a[0], pat, a[2].cast("string"))
        if fn == "ABS":
            return F.abs(a[0])
        if fn == "ROUND":
            return F.round(a[0], int(args[1][1]) if len(a) > 1 else 0)
        if fn == "CEIL":
            return F.ceil(a[0])
        if fn == "FLOOR":
            return F.floor(a[0])
        if fn == "COALESCE":
            return F.coalesce(*a)
        if fn == "IF":
            return F.when(_compile_ebv(args[0]), a[1]).otherwise(a[2])
        if fn == "BOUND":
            return a[0].isNotNull()
        if fn == "STRBEFORE":
            # "" when the needle never occurs (SPARQL 17.4.3.10); the
            # empty needle gives instr()==1 → substring(_,1,0) == ""
            pos = F.instr(a[0], a[1])
            return F.when(pos > 0, F.substring(a[0], F.lit(1), pos - 1)).otherwise("")
        if fn == "STRAFTER":
            pos = F.instr(a[0], a[1])
            return F.when(
                pos > 0,
                F.substring(a[0], pos + F.length(a[1]), F.lit(2_147_483_647)),
            ).otherwise("")
        if fn == "LANGMATCHES":
            # basic filtering (RFC 4647 §3.3.1): "*" matches any
            # non-empty tag; else case-insensitive exact or prefix-"-"
            lt, rng = F.lower(a[0]), F.lower(a[1])
            return F.when(rng == "*", lt != "").otherwise(
                (lt == rng) | lt.startswith(F.concat(rng, F.lit("-")))
            )
        if fn == "MD5":
            return F.md5(a[0].cast("string"))
        if fn == "SHA1":
            return F.sha1(a[0].cast("string"))
        if fn in ("SHA256", "SHA384", "SHA512"):
            return F.sha2(a[0].cast("string"), int(fn[3:]))
        if fn == "NOW":
            return F.current_timestamp()
        if fn in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
            # xsd:dateTime lexical form → NTZ timestamp: immune to the
            # harness's session timezone (CLAUDE.md tz-proof rule)
            ts_ = a[0].cast("timestamp_ntz")
            return {
                "YEAR": F.year,
                "MONTH": F.month,
                "DAY": F.dayofmonth,
                "HOURS": F.hour,
                "MINUTES": F.minute,
                # xsd:decimal per spec: whole seconds + fractional part
                # (date_format 'SSSSSS' = fraction-of-second, µs digits)
                "SECONDS": lambda c: F.second(c).cast("double")
                + F.date_format(c, "SSSSSS").cast("double") / F.lit(1_000_000.0),
            }[fn](ts_)
        if fn == "TZ":
            # timezone designator of the LEXICAL form ("" if absent)
            return F.regexp_extract(
                a[0].cast("string"), r"(Z|[+-]\d{2}:\d{2})$", 1
            )
        if fn in ("ISIRI", "ISURI", "ISLITERAL"):
            # typing rides in hidden columns (object-position vars,
            # same contract as LANG/DATATYPE): IRI ⇔ NULL lang AND dt
            if args[0][0] != "var":
                raise SparqlParseError(f"{fn} needs a variable argument")
            v = args[0][1]
            is_iri = F.col(f"_lang_{v}").isNull() & F.col(f"_dt_{v}").isNull()
            return is_iri if fn != "ISLITERAL" else ~is_iri
        if fn == "ISBLANK":
            return a[0].cast("string").startswith("_:")
        if fn == "ISNUMERIC":
            if args[0][0] != "var":
                raise SparqlParseError("ISNUMERIC needs a variable argument")
            xsd = "http://www.w3.org/2001/XMLSchema#"
            return F.col(f"_dt_{args[0][1]}").isin(
                [
                    xsd + t
                    for t in (
                        "integer", "decimal", "double", "float", "int", "long",
                        "short", "byte", "nonNegativeInteger", "positiveInteger",
                        "negativeInteger", "nonPositiveInteger", "unsignedLong",
                        "unsignedInt", "unsignedShort", "unsignedByte",
                    )
                ]
            )
        if fn == "ENCODE_FOR_URI":
            # url_encode is application/x-www-form-urlencoded; patch
            # the three deltas to RFC 3986 percent-encoding (space, *, ~)
            e = F.url_encode(a[0].cast("string"))
            e = F.replace(e, F.lit("+"), F.lit("%20"))
            e = F.replace(e, F.lit("*"), F.lit("%2A"))
            return F.replace(e, F.lit("%7E"), F.lit("~"))
        if fn in ("UUID", "STRUUID"):
            u = F.expr("uuid()")
            return F.concat(F.lit("urn:uuid:"), u) if fn == "UUID" else u
        if fn == "RAND":
            return F.rand()
        if fn in ("STRLANG", "STRDT"):
            # constant-arg calls fold to typedlit at entry; dynamic-arg
            # calls are handled structurally in =/!=/sameTerm
            # (_term_components) and as the top-level expression of a
            # BIND. Only OTHER scalar positions (ORDER BY, nested in
            # another function) reach here — there a single column
            # can't carry the constructed tag.
            raise SparqlParseError(
                f"{fn} with non-constant arguments is supported in "
                "=/!= and sameTerm comparisons and as the top-level "
                "expression of a BIND; other scalar positions can't "
                "carry the constructed typing tag. Constant-arg calls "
                "work anywhere a typed literal does"
            )
        if fn in ("LANG", "DATATYPE"):
            # typing rides in hidden _lang_/_dt_ columns projected by
            # the pattern scan when the triples view carries
            # obj_lang/obj_dt (object-position variables only)
            if args[0][0] != "var":
                raise SparqlParseError(f"{fn} needs a variable argument")
            v = args[0][1]
            if fn == "LANG":
                return F.coalesce(F.col(f"_lang_{v}"), F.lit(""))
            return F.col(f"_dt_{v}")
    raise SparqlParseError(f"unsupported expression op {op!r}")


_XSD_BOOLEAN = _XSD_NS + "boolean"

# fns whose _compile_expr result is already xsd:boolean-valued
_BOOLEAN_FNS = {
    "REGEX", "STRSTARTS", "STRENDS", "CONTAINS", "BOUND", "LANGMATCHES",
    "ISIRI", "ISURI", "ISLITERAL", "ISBLANK", "ISNUMERIC", "SAMETERM",
}


def _lexical_ebv(lex: Column) -> Column:
    """EBV of a term whose datatype is unrecorded (untyped views,
    computed strings): boolean lexical forms by value, numeric lexical
    forms by != 0 (NaN → false), anything else by non-emptiness — the
    same documented untyped-view pragmatism as numeric comparisons
    (COVERAGE.md known deviations)."""
    d = lex.try_cast("double")
    return (
        F.when(lex == "true", F.lit(True))
        .when(lex == "false", F.lit(False))
        .when(d.isNotNull(), (d != 0.0) & ~F.isnan(d))
        .otherwise(F.length(lex) > 0)
    )


def _compile_ebv(ast) -> Column:
    """SPARQL 1.1 §17.2.2 Effective Boolean Value: coerce an
    expression in boolean context (FILTER, &&/||/!, IF, HAVING) to a
    boolean. Type errors (IRIs, unbound vars, non-EBV datatypes,
    ill-formed boolean/numeric lexical forms) compile to NULL, so the
    row drops in FILTER and !error stays an error, per §17.2's
    error-propagation table (which Spark's three-valued &&/||/NOT on
    NULL reproduces exactly)."""
    ast = _fold_typed_ctor(ast)
    op = ast[0]
    if op in ("cmp", "bool", "in"):
        return _compile_expr(ast)
    if op == "and":
        return _compile_ebv(ast[1]) & _compile_ebv(ast[2])
    if op == "or":
        return _compile_ebv(ast[1]) | _compile_ebv(ast[2])
    if op == "not":
        return ~_compile_ebv(ast[1])
    if op == "fn" and ast[1] in _BOOLEAN_FNS:
        return _compile_expr(ast)
    if op == "fn" and ast[1] == "IF":
        args = ast[2]
        return F.when(_compile_ebv(args[0]), _compile_ebv(args[1])).otherwise(
            _compile_ebv(args[2])
        )
    if op == "fn" and ast[1] == "COALESCE":
        return F.coalesce(*[_compile_ebv(x) for x in ast[2]])
    if op == "num":
        v = float(ast[1])
        return F.lit(v != 0.0 and v == v)
    if op == "str":
        return F.lit(len(ast[1]) > 0)
    if op == "typedlit":
        _, lex, dt, lang = ast
        if lang is not None or dt in (None, _XSD_NS + "string"):
            return F.lit(len(lex) > 0)
        if dt == _XSD_BOOLEAN:
            if lex in ("true", "1"):
                return F.lit(True)
            if lex in ("false", "0"):
                return F.lit(False)
            return F.lit(None).cast("boolean")  # ill-formed → type error
        if dt in _NUMERIC_DTS:
            try:
                v = float(lex)
            except ValueError:
                return F.lit(None).cast("boolean")
            return F.lit(v != 0.0 and v == v)
        return F.lit(None).cast("boolean")  # no EBV for this datatype
    if op == "var":
        v = ast[1]
        lex = F.col(v).cast("string")
        typed_frame = bool(_FRAME_COLUMNS) and (
            f"_lang_{v}" in _FRAME_COLUMNS[-1]
            or f"_dt_{v}" in _FRAME_COLUMNS[-1]
        )
        if not typed_frame:
            return _lexical_ebv(lex)
        lang_c = _typing_col(f"_lang_{v}")
        dt_c = _typing_col(f"_dt_{v}")
        d = lex.try_cast("double")
        return (
            # lang-tagged / simple / xsd:string literal: non-emptiness
            F.when(
                lang_c.isNotNull() | (dt_c == _XSD_NS + "string"),
                F.length(lex) > 0,
            )
            .when(
                dt_c == _XSD_BOOLEAN,
                F.when(lex.isin("true", "1"), F.lit(True)).when(
                    lex.isin("false", "0"), F.lit(False)
                ),  # ill-formed lexical falls through to NULL
            )
            .when(dt_c.isin(*_NUMERIC_DTS), (d != 0.0) & ~F.isnan(d))
            # IRI/bnode (both typing cols NULL), other datatypes,
            # unbound: type error
            .otherwise(F.lit(None).cast("boolean"))
        )
    # any other scalar expression (arithmetic, string fns, …): render
    # and classify the lexical form
    return _lexical_ebv(_compile_expr(ast).cast("string"))


def _compile_agg(ast, alias: str) -> Column:
    """("aggfn", fn, arg_ast|None, distinct, sep) → aggregate Column."""
    _, fn, arg, distinct, sep = ast
    if fn == "COUNT":
        if arg is None:
            c = F.count(F.lit(1))
        else:
            inner = _compile_expr(arg)
            c = F.count_distinct(inner) if distinct else F.count(inner)
        return c.alias(alias)
    if arg is None:
        raise SparqlParseError(f"{fn} needs an argument")
    inner = _compile_expr(arg, numeric=fn in ("SUM", "AVG"))
    if fn == "SUM":
        c = F.sum(inner)
    elif fn == "AVG":
        c = F.avg(inner)
    elif fn == "MIN":
        c = F.min(inner)
    elif fn == "MAX":
        c = F.max(inner)
    elif fn == "SAMPLE":
        c = F.min(inner)  # deterministic sample (SPARQL leaves it open)
    elif fn == "GROUP_CONCAT":
        base = F.collect_set(inner) if distinct else F.collect_list(inner)
        c = F.array_join(F.array_sort(base), sep)  # deterministic order
    else:
        raise SparqlParseError(f"unsupported aggregate {fn!r}")
    return c.alias(alias)


# ---------------------------------------------------------------------------
# property-path compilation


def _compile_path(triples: DataFrame, path, per_graph: bool = False) -> DataFrame:
    """Path AST → DataFrame of (src, dst) endpoint pairs.

    `per_graph=True` carries graph_id through every step (joins, unions
    and closures key on it), so the path evaluates INDEPENDENTLY inside
    each named graph — the GRAPH ?var semantics. The graph column rides
    the same shuffle keys, so per-graph evaluation co-locates free."""
    op = path[0]
    g = ["graph_id"] if per_graph else []

    def ends(df, s, o):
        return df.select(*g, F.col(s).alias("src"), F.col(o).alias("dst"))

    if op == "iri":
        return ends(triples.filter(F.col("pred") == path[1]), "subj", "obj")
    if op == "nps":
        # SPARQL negated property set: forward edges whose predicate is
        # not in the forward set, plus reversed edges whose predicate
        # is not in the reverse set
        _, fwd, rev = path
        parts = []
        if fwd or not rev:
            f = triples
            if fwd:
                f = f.filter(~F.col("pred").isin(fwd))
            parts.append(ends(f, "subj", "obj"))
        if rev:
            parts.append(ends(triples.filter(~F.col("pred").isin(rev)), "obj", "subj"))
        out = parts[0]
        for p_ in parts[1:]:
            out = out.unionByName(p_)
        return out
    if op == "inv":
        e = _compile_path(triples, path[1], per_graph)
        return e.select(*g, F.col("dst").alias("src"), F.col("src").alias("dst"))
    if op == "seq":
        a = _compile_path(triples, path[1], per_graph).alias("a")
        b = _compile_path(triples, path[2], per_graph).alias("b")
        cond = F.col("a.dst") == F.col("b.src")
        if per_graph:
            cond = cond & (F.col("a.graph_id") == F.col("b.graph_id"))
        return a.join(b, cond).select(
            *[F.col(f"a.{k}").alias(k) for k in g],
            F.col("a.src").alias("src"),
            F.col("b.dst").alias("dst"),
        )
    if op == "alt":
        return (
            _compile_path(triples, path[1], per_graph)
            .unionByName(_compile_path(triples, path[2], per_graph))
            .distinct()
        )
    if op in ("plus", "star", "opt"):
        from rdf_diff_store_spark.operators.graph import transitive_closure

        e = _compile_path(triples, path[1], per_graph)
        if op == "plus":
            return transitive_closure(e, key_cols=tuple(g))
        # zero-length path semantics (W3C 18.4 ZeroLengthPath): every
        # TERM IN THE GRAPH matches itself — not just endpoints of
        # p-edges (a graph with no p-edges still yields identity rows)
        nodes = (
            triples.select(*g, F.col("subj").alias("n"))
            .unionByName(triples.select(*g, F.col("obj").alias("n")))
            .distinct()
        )
        ident = nodes.select(*g, F.col("n").alias("src"), F.col("n").alias("dst"))
        base = transitive_closure(e, key_cols=tuple(g)) if op == "star" else e
        return base.unionByName(ident).distinct()
    raise SparqlParseError(f"unsupported path op {op!r}")


def _path_pattern_df(triples: DataFrame, s, path, o, graph_var=None) -> DataFrame:
    """Triple pattern whose predicate is a non-trivial path.

    `graph_var` (GRAPH ?var scope) evaluates the path independently
    per named graph and binds the graph id as that variable.

    Closure paths (p+/p*) with a BOUND endpoint evaluate as a seeded
    frontier BFS (operators/graph.py::seeded_closure) instead of
    filtering the graph's full transitive closure — `<s> p+ ?o` on a
    100×-scale graph must not materialize all-pairs reachability for
    a one-seed walk (r02 VERDICT #2)."""
    bound_s, bound_o = not isinstance(s, Var), not isinstance(o, Var)
    if graph_var is not None:
        # GRAPH ?var scope: the path evaluates independently per named
        # graph — graph_id rides every join/closure key. (The seeded
        # fast path below is per-seed; per-graph seeding would need
        # keyed frontiers — the keyed closure is correct for all
        # shapes, bound endpoints filter it.)
        df = _compile_path(triples, path, per_graph=True)
        df = df.withColumnRenamed("graph_id", graph_var.name)
        if bound_s:
            df = df.filter(F.col("src") == F.lit(s))
        if bound_o:
            df = df.filter(F.col("dst") == F.lit(o))
        proj = [F.col(graph_var.name)]
        if isinstance(s, Var):
            proj.append(F.col("src").alias(s.name))
        if isinstance(o, Var):
            if isinstance(s, Var) and o.name == s.name:
                df = df.filter(F.col("src") == F.col("dst"))
            else:
                proj.append(F.col("dst").alias(o.name))
        return df.select(*proj)
    if (
        isinstance(path, tuple)
        and path[0] in ("plus", "star")
        and (bound_s or bound_o)
    ):
        from rdf_diff_store_spark.operators.graph import seeded_closure

        spark = triples.sparkSession
        edges = _compile_path(triples, path[1])
        if not bound_s:  # bound object: walk the reversed edges
            edges = edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        seed_val = s if bound_s else o
        seeds = spark.createDataFrame([(seed_val,)], "seed string")
        reach = seeded_closure(edges, seeds)
        if path[0] == "star":
            # zero-length: the seed matches itself if it is a term of
            # the graph at all (W3C 18.4 ZeroLengthPath; same node set
            # the unbounded branch uses)
            in_graph = (
                triples.select(F.col("subj").alias("node"))
                .unionByName(triples.select(F.col("obj").alias("node")))
                .filter(F.col("node") == F.lit(seed_val))
                .limit(1)
                .select(
                    F.col("node").alias("seed"), F.col("node").alias("node")
                )
            )
            reach = reach.unionByName(in_graph).distinct()
        df = (
            reach.select(F.col("seed").alias("src"), F.col("node").alias("dst"))
            if bound_s
            else reach.select(F.col("node").alias("src"), F.col("seed").alias("dst"))
        )
    else:
        df = _compile_path(triples, path)
    proj = []
    if isinstance(s, Var):
        proj.append(F.col("src").alias(s.name))
    else:
        df = df.filter(F.col("src") == F.lit(s))
    if isinstance(o, Var):
        if isinstance(s, Var) and o.name == s.name:
            df = df.filter(F.col("src") == F.col("dst"))
        else:
            proj.append(F.col("dst").alias(o.name))
    else:
        df = df.filter(F.col("dst") == F.lit(o))
    return df.select(*proj) if proj else df.select(F.lit(1).alias("_match")).limit(1)


# ---------------------------------------------------------------------------
# group compilation


def _natural_join(left: DataFrame | None, right: DataFrame) -> DataFrame:
    if left is None:
        return right
    # join_shared: visible vars equi-join; hidden _lang_/_dt_ typing
    # columns compare null-safely (IRIs have NULL typing — r02 ADVICE)
    return _join_shared(left, right)


def _compile_group(triples: DataFrame, g: _Group, graph=None, named: DataFrame | None = None) -> DataFrame:
    spark = triples.sparkSession
    df: DataFrame | None = None
    deferred_filters: list = []  # plain filters apply to the whole group
    deferred_values: list = []  # UNDEF-carrying VALUES join the whole group

    for el in g.elements:
        kind = el[0]
        if kind == "bgp":
            for s, p, o in el[1]:
                if isinstance(p, Var):
                    pdf = _pattern_df(triples, (s, p, o), graph=graph)
                elif p[0] == "iri":
                    pdf = _pattern_df(triples, (s, p[1], o), graph=graph)
                elif isinstance(graph, Var):
                    # paths inside GRAPH ?var: per-graph keyed closure
                    pdf = _path_pattern_df(triples, s, p, o, graph_var=graph)
                else:
                    pdf = _path_pattern_df(triples, s, p, o)
                df = _natural_join(df, pdf)
        elif kind == "graph_scope":
            _, gterm, sub = el
            base = named if named is not None else triples  # FROM NAMED scope
            if isinstance(gterm, Var):
                sub_df = _compile_group(base, sub, graph=gterm, named=named)
            else:
                # constant graph: scope the scan itself — the filter
                # pushes down to the source
                sub_df = _compile_group(
                    base.filter(F.col("graph_id") == F.lit(gterm)), sub, named=named
                )
            df = _natural_join(df, sub_df)
        elif kind == "group":
            df = _natural_join(df, _compile_group(triples, el[1], graph=graph, named=named))
        elif kind == "subselect":
            # SPARQL subquery: evaluate independently, join on shared vars
            df = _natural_join(df, _compile_select(triples, el[1]))
        elif kind == "union":
            u = None
            for branch in el[1]:
                b = _compile_group(triples, branch, graph=graph, named=named)
                u = b if u is None else _union(u, b)
            df = _natural_join(df, u)
        elif kind == "optional":
            right = _compile_group(triples, el[1], graph=graph, named=named)
            if df is None:
                raise SparqlParseError("OPTIONAL with no preceding pattern")
            df = _optional(df, right)
        elif kind == "minus":
            right = _compile_group(triples, el[1], graph=graph, named=named)
            if df is None:
                raise SparqlParseError("MINUS with no preceding pattern")
            df = _minus(df, right)
        elif kind == "exists_filter":
            _, positive, sub = el
            right = _compile_group(triples, sub, graph=graph, named=named)
            if df is None:
                raise SparqlParseError("EXISTS with no preceding pattern")
            # NOT EXISTS differs from MINUS exactly when no variables
            # are shared: NOT EXISTS still removes rows if the inner
            # pattern has ANY solution (empty-key anti join), MINUS
            # keeps everything (algebra.minus guards that case)
            if positive:
                df = _exists(df, right)
            else:
                visible, hidden = _split_shared(df, right)
                if visible or hidden:
                    df = _join_shared(df, right, "left_anti")
                else:
                    # no shared vars: NOT EXISTS removes every row iff
                    # the inner pattern has any solution at all
                    df = df.join(right.limit(1), F.lit(True), "left_anti")
        elif kind == "filter":
            deferred_filters.append(el[1])
        elif kind == "bind":
            _, expr, name = el
            if df is None:
                raise SparqlParseError("BIND with no preceding pattern")
            if expr[0] == "fn" and expr[1] in ("STRLANG", "STRDT"):
                # typed-literal constructors: the VALUE goes in the
                # variable column, the tag in the hidden typing
                # columns — so LANG()/DATATYPE() and typed joins see
                # the constructed literal exactly like a parsed one
                if len(expr[2]) != 2:
                    raise SparqlParseError(f"{expr[1]} takes (value, tag)")
                with _frame_columns(df):
                    val, tag = [_compile_expr(a) for a in expr[2]]
                df = df.withColumn(name, val.cast("string"))
                if expr[1] == "STRLANG":
                    df = df.withColumn(f"_lang_{name}", tag.cast("string"))
                    df = df.withColumn(f"_dt_{name}", F.lit(None).cast("string"))
                else:
                    df = df.withColumn(f"_lang_{name}", F.lit(None).cast("string"))
                    df = df.withColumn(f"_dt_{name}", tag.cast("string"))
            else:
                # same missing-typing-column guard as FILTER: a typed
                # comparison in BIND over an untyped view must compile
                # to NULL, not raise UNRESOLVED_COLUMN
                with _frame_columns(df):
                    df = df.withColumn(name, _compile_expr(expr))
        elif kind == "values":
            _, vars_, rows = el
            has_undef = any(v is None for r in rows for v in r)
            if has_undef:
                # VALUES is position-independent (SPARQL joins it with
                # the WHOLE group result): defer UNDEF-carrying blocks
                # to after every pattern compiles, so a VALUES placed
                # BEFORE its triple patterns still joins null-tolerantly
                # instead of putting NULL in an equi-key (r02 ADVICE,
                # verified: VALUES-first UNDEF returned empty)
                deferred_values.append((vars_, rows))
            else:
                vdf = spark.createDataFrame(
                    rows, ", ".join(f"{v} string" for v in vars_)
                )
                df = _natural_join(df, F.broadcast(vdf))
        else:  # pragma: no cover
            raise SparqlParseError(f"unknown group element {kind!r}")

    for vars_, rows in deferred_values:
        vdf = spark.createDataFrame(rows, ", ".join(f"{v} string" for v in vars_))
        if df is None:
            # group is ONLY the VALUES block: its multiset (with
            # unbound cells) IS the solution
            df = vdf
            continue
        # UNDEF leaves a variable UNCONSTRAINED for that row — a null
        # in an equi-join key would instead match nothing.
        # Null-tolerant condition join: a shared var matches if the
        # VALUES cell is NULL or equal.
        shared = [v for v in vars_ if v in df.columns]
        new = [v for v in vars_ if v not in df.columns]
        right = vdf.select(*[F.col(v).alias(f"_val_{v}") for v in vars_])
        cond = F.lit(True)
        for v in shared:
            cond = cond & (
                F.col(f"_val_{v}").isNull() | (F.col(v) == F.col(f"_val_{v}"))
            )
        joined = df.join(F.broadcast(right), cond)
        keep = [F.col(c) for c in df.columns]
        keep += [F.col(f"_val_{v}").alias(v) for v in new]
        df = joined.select(*keep)
    if df is None:
        raise SparqlParseError("empty pattern group")
    for f_ast in deferred_filters:
        with _frame_columns(df):
            df = df.filter(_compile_ebv(f_ast))
    return df


# ---------------------------------------------------------------------------
# public API


def _dataset_views(triples: DataFrame, q: _Query):
    """FROM / FROM NAMED dataset clause → (default view, named view).
    FROM restricts the default graph to the union of the listed
    graphs; FROM NAMED restricts what GRAPH clauses may range over."""
    default = (
        triples.filter(F.col("graph_id").isin(q.from_graphs))
        if q.from_graphs
        else triples
    )
    named = (
        triples.filter(F.col("graph_id").isin(q.from_named))
        if q.from_named
        else None
    )
    return default, named


def sparql_query(
    triples: DataFrame, query: str, keep_typing: bool = False
) -> DataFrame:
    """Evaluate a SPARQL query string (SELECT / ASK / CONSTRUCT)
    against a (subj, pred, obj) triples DataFrame — the full request
    surface of the reference's /api/sparql endpoint
    (src/bin/rdf-query-cache.rs:44-53).

    `keep_typing=True` retains the hidden `_lang_v`/`_dt_v` columns of
    projected variables in SELECT results so serializers (sparql_json)
    can emit exact term typing; plain callers get clean columns."""
    q = _parse(query)
    if q.form == "ASK":
        default, named = _dataset_views(triples, q)
        hit = _compile_group(default, q.where, named=named).limit(1).count() > 0
        return triples.sparkSession.createDataFrame([(hit,)], "ask boolean")
    if q.form == "DESCRIBE":
        if q.projection:  # DESCRIBE ?v WHERE { ... }: var bindings
            default, named = _dataset_views(triples, q)
            sol = _compile_group(default, q.where, named=named)
            res = None
            for v in q.projection:
                part = sol.select(F.col(v).alias("_r"))
                res = part if res is None else res.unionByName(part)
            if q.template:  # mixed DESCRIBE <iri> ?v WHERE { ... }
                consts = triples.sparkSession.createDataFrame(
                    [(r,) for r in q.template], "_r string"
                )
                res = res.unionByName(consts)
            res = res.distinct()
            # concise-bounded form WITHOUT a collect: two equi semi
            # joins (subject hit / object hit) — broadcast-able, so a
            # DESCRIBE of few resources never shuffles the triples
            by_subj = triples.join(res, F.col("subj") == F.col("_r"), "left_semi")
            by_obj = triples.join(res, F.col("obj") == F.col("_r"), "left_semi")
            return (
                by_subj.unionByName(by_obj)
                .select("subj", "pred", "obj")
                .distinct()  # a triple can hit on both ends
            )
        cond = None
        for r in q.template:  # IRI list (see parser)
            c = (F.col("subj") == r) | (F.col("obj") == r)
            cond = c if cond is None else (cond | c)
        return triples.filter(cond).select("subj", "pred", "obj")
    if q.form == "CONSTRUCT":
        default, named = _dataset_views(triples, q)
        df = _compile_group(default, q.where, named=named)
        parts = []
        for s, p, o in q.template:
            def emit(t, alias):
                if isinstance(t, Var):
                    return F.col(t.name).cast("string").alias(alias)
                if isinstance(t, TypedLit):
                    return F.lit(t.lex).alias(alias)
                if isinstance(t, tuple):  # parsed path; only plain IRIs valid
                    if t[0] != "iri":
                        raise SparqlParseError("CONSTRUCT template needs plain terms")
                    return F.lit(t[1]).alias(alias)
                return F.lit(t).alias(alias)

            parts.append(df.select(emit(s, "subj"), emit(p, "pred"), emit(o, "obj")))
        out = parts[0]
        for p_ in parts[1:]:
            out = out.unionByName(p_)
        return out.distinct()  # a constructed graph is a set of triples
    return _compile_select(triples, q, keep_typing=keep_typing)


def _order_key_vars(order_by) -> list[str]:
    """Variable names referenced by ORDER BY keys (plain or inside
    expression ASTs)."""
    out: list[str] = []

    def walk(a):
        if isinstance(a, tuple):
            if a[0] == "var" and isinstance(a[1], str):
                out.append(a[1])
            for x in a[1:]:
                walk(x)
        elif isinstance(a, list):
            for x in a:
                walk(x)

    for k, _asc in order_by:
        if isinstance(k, str):
            out.append(k)
        else:
            walk(k)
    return out


def _compile_select(
    triples: DataFrame, q: _Query, keep_typing: bool = False
) -> DataFrame:
    default, named = _dataset_views(triples, q)
    df = _compile_group(default, q.where, named=named)
    ord_hidden: list[str] = []  # hidden ORDER BY aggregate columns

    has_aggs = q.group_by or any(
        item[0] == "expr" and item[1][0] == "aggfn" for item in (q.projection or [])
    )
    if has_aggs:
        if q.projection is None:
            raise SparqlParseError("aggregate queries need an explicit projection")
        for e, alias in q.group_exprs:  # GROUP BY (expr AS ?v)
            with _frame_columns(df):
                df = df.withColumn(alias, _compile_expr(e))
        agg_cols, group_vars, post_select = [], list(q.group_by), []
        for item in q.projection:
            if item[0] == "var":
                if item[1] not in group_vars:
                    raise SparqlParseError(
                        f"?{item[1]} must appear in GROUP BY to be projected"
                    )
                post_select.append(item[1])
            else:
                _, expr, alias = item
                if expr[0] == "aggfn":
                    agg_cols.append(_compile_agg(expr, alias))
                else:
                    raise SparqlParseError(
                        "non-aggregate projection expressions need BIND"
                    )
                post_select.append(alias)
        # hidden aggregates referenced only by HAVING
        having_cols = []
        for i, h in enumerate(q.having):
            h2, extra = _rewrite_having(h, i)
            having_cols.append(h2)
            agg_cols.extend(extra)
        # aggregates referenced by ORDER BY (e.g. ORDER BY
        # DESC(COUNT(?x))): same rewrite — hidden agg columns carried
        # through the sort, dropped at the very end
        ord_aggs: list = []

        def _rewrite_order(a):
            if isinstance(a, tuple) and a[0] == "aggfn":
                name = f"_ord_{len(ord_aggs)}"
                ord_aggs.append((_compile_agg(a, name), name))
                return ("var", name)
            if isinstance(a, tuple):
                return tuple(_rewrite_order(x) for x in a)
            if isinstance(a, list):
                return [_rewrite_order(x) for x in a]
            return a

        new_order = [
            (k if isinstance(k, str) else _rewrite_order(k), asc)
            for k, asc in q.order_by
        ]
        if ord_aggs:
            agg_cols.extend(c for c, _ in ord_aggs)
            ord_hidden.extend(n for _, n in ord_aggs)
            q = replace(q, order_by=new_order)
        grouped = df.groupBy(*group_vars) if group_vars else df.groupBy()
        df = grouped.agg(*agg_cols)
        for h in having_cols:
            with _frame_columns(df):
                df = df.filter(_compile_ebv(h))
        df = df.select(*post_select, *ord_hidden)
    else:
        if q.having:
            raise SparqlParseError("HAVING requires GROUP BY or aggregates")
        if q.projection is not None:
            cols = []
            for item in q.projection:
                if item[0] == "var":
                    if item[1] not in df.columns:
                        raise SparqlParseError(
                            f"projected variables not bound: ['{item[1]}']"
                        )
                    cols.append(F.col(item[1]))
                else:
                    _, expr, alias = item
                    with _frame_columns(df):
                        cols.append(_compile_expr(expr).alias(alias))
            if keep_typing:
                for item in q.projection:
                    if item[0] == "var":
                        for h in (f"_lang_{item[1]}", f"_dt_{item[1]}"):
                            if h in df.columns:
                                cols.append(F.col(h))
            # SPARQL orders SOLUTIONS before projection (18.5): sort
            # keys may reference vars the SELECT drops. When they do
            # (and no DISTINCT intervenes — dedup would both destroy
            # and be destroyed by a pre-projection order), sort first;
            # select preserves row order.
            if q.order_by and not q.distinct:
                proj_names = {
                    it[1] if it[0] == "var" else it[2] for it in q.projection
                }
                if any(
                    v in df.columns and v not in proj_names
                    for v in _order_key_vars(q.order_by)
                ):
                    with _frame_columns(df):
                        df = df.orderBy(
                            *[
                                (F.col(v) if isinstance(v, str) else _compile_expr(v)).asc()
                                if asc
                                else (
                                    F.col(v) if isinstance(v, str) else _compile_expr(v)
                                ).desc()
                                for v, asc in q.order_by
                            ]
                        )
                    q = replace(q, order_by=[])
            df = df.select(*cols)

    if q.projection is None:
        # SELECT *: hidden helper columns (_match, _lang_*, _dt_*)
        # never appear in results — except the typing columns of
        # surviving variables when the caller asked to keep them.
        # Only KNOWN helper names are hidden: ?_x is a legal variable
        # and must survive SELECT * (r03 advisor class).
        hidden = [
            c
            for c in df.columns
            if c == "_match"
            or c.startswith(("_lang_", "_dt_", "_ord_", "_bn_", "_path_", "_val_"))
        ]
        if keep_typing:
            visible = {c for c in df.columns if c not in hidden}
            hidden = [
                c
                for c in hidden
                if not (
                    (c.startswith("_lang_") and c[6:] in visible)
                    or (c.startswith("_dt_") and c[4:] in visible)
                )
            ]
        if hidden:
            df = df.drop(*hidden)
    if q.distinct:
        df = df.distinct()
    def _sort_col(key):  # str = plain variable; tuple = expression AST
        return F.col(key) if isinstance(key, str) else _compile_expr(key)

    with _frame_columns(df):
        sort_cols = [
            _sort_col(v).asc() if asc else _sort_col(v).desc()
            for v, asc in q.order_by
        ]
    if sort_cols:
        df = df.orderBy(*sort_cols)
    if q.offset:
        if not sort_cols:
            raise SparqlParseError("OFFSET requires ORDER BY")
        # DataFrame.offset: global-sort limit pushdown — replaces the
        # old single-partition row_number window (VERDICT r01 fix #5)
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    if ord_hidden:  # ORDER BY aggregates: sort keys never surface
        df = df.drop(*ord_hidden)
    return df


def _rewrite_having(ast, idx: int, _counter=[0]):  # noqa: B006
    """Replace aggfn nodes inside a HAVING expression with references
    to hidden aggregate columns; returns (rewritten_ast, extra_aggs)."""
    extra: list = []

    def walk(a):
        if isinstance(a, list):  # fn arg lists carry sub-expressions too
            return [walk(x) for x in a]
        if not isinstance(a, tuple):
            return a
        if a[0] == "aggfn":
            name = f"_having_{idx}_{len(extra)}"
            extra.append(_compile_agg(a, name))
            return ("var", name)
        return tuple(walk(x) for x in a)

    return walk(ast), extra


def sparql_json(triples: DataFrame, query: str, limit: int | None = None) -> str:
    """Evaluate a SPARQL string and serialize the result in the
    reference's response format — SPARQL 1.1 Results JSON for
    SELECT/CONSTRUCT/DESCRIBE, the boolean envelope for ASK
    (src/query.rs:111, QueryResultsFormat::Json)."""
    from rdf_diff_store_spark.functions.results import ask_json, to_sparql_json

    # dispatch on the PARSED query form, not on output column names —
    # a SELECT projecting a variable named ?ask is still a SELECT
    form = _parse(query).form
    # keep_typing: the serializer emits xml:lang / datatype / uri from
    # the hidden typing columns when the view carries them
    df = sparql_query(triples, query, keep_typing=(form == "SELECT"))
    if form == "ASK":
        return ask_json(bool(df.first()["ask"]))
    return to_sparql_json(df, limit=limit)


def sparql_select(triples: DataFrame, query: str) -> DataFrame:
    """Evaluate a SPARQL SELECT string against a (subj, pred, obj)
    triples DataFrame. Returns one column per projected variable.
    (Kept as the stable name; sparql_query also dispatches ASK and
    CONSTRUCT.)"""
    return sparql_query(triples, query)
