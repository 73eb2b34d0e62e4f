"""Typed-literal constants in SPARQL triple patterns (TypedLit) and
the SECONDS() xsd:decimal return — round-3 parser/builtin additions."""

from __future__ import annotations

import pytest

from rdf_diff_store_spark.plans.sparql_text import SparqlParseError, sparql_query


@pytest.fixture(scope="module")
def typed(spark):
    return spark.createDataFrame(
        [
            ("g", "s1", "p", "x", None, "en"),
            ("g", "s2", "p", "x", None, "de"),
            ("g", "s3", "p", "x", "http://www.w3.org/2001/XMLSchema#string", None),
            ("g", "s4", "p", "5", "http://www.w3.org/2001/XMLSchema#integer", None),
            ("g", "s5", "p", "5", "http://www.w3.org/2001/XMLSchema#string", None),
        ],
        "graph_id string, subj string, pred string, obj string, obj_dt string, obj_lang string",
    ).localCheckpoint()


class TestTypedLiteralPatterns:
    def test_langtag_matches_only_that_language(self, typed):
        rows = sparql_query(typed, 'SELECT ?s WHERE { ?s <p> "x"@en }').collect()
        assert [r.s for r in rows] == ["s1"]

    def test_datatype_matches_only_typed(self, typed):
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            'SELECT ?s WHERE { ?s <p> "5"^^xsd:integer }'
        )
        assert [r.s for r in sparql_query(typed, q).collect()] == ["s4"]

    def test_bare_string_keeps_lexical_identity(self, typed):
        rows = sparql_query(typed, 'SELECT ?s WHERE { ?s <p> "x" }').collect()
        assert sorted(r.s for r in rows) == ["s1", "s2", "s3"]

    def test_typed_literal_in_construct_template_emits_lexical(self, typed):
        rows = sparql_query(
            typed,
            'CONSTRUCT { ?s <tag> "t"@en } WHERE { ?s <p> "x"@en }',
        ).collect()
        assert [(r.subj, r.pred, r.obj) for r in rows] == [("s1", "tag", "t")]

    def test_bad_datatype_syntax_is_loud(self, typed):
        with pytest.raises(SparqlParseError):
            sparql_query(typed, 'SELECT ?s WHERE { ?s <p> "5"^^7 }')


class TestSecondsDecimal:
    def test_seconds_returns_fractional(self, typed):
        rows = sparql_query(
            typed,
            'SELECT (SECONDS("2024-01-01T10:20:30.250000") AS ?sec) '
            'WHERE { ?s <p> "x"@en }',
        ).collect()
        assert rows[0].sec == pytest.approx(30.25)

    def test_seconds_whole(self, typed):
        rows = sparql_query(
            typed,
            'SELECT (SECONDS("2024-01-01T10:20:30") AS ?sec) '
            'WHERE { ?s <p> "x"@en }',
        ).collect()
        assert rows[0].sec == 30.0


class TestTypedLiteralFilters:
    def test_filter_equality_langtag(self, typed):
        rows = sparql_query(
            typed, 'SELECT ?s WHERE { ?s <p> ?v . FILTER(?v = "x"@en) }'
        ).collect()
        assert [r.s for r in rows] == ["s1"]

    def test_filter_inequality_langtag(self, typed):
        rows = sparql_query(
            typed, 'SELECT ?s WHERE { ?s <p> ?v . FILTER(?v != "x"@en) }'
        ).collect()
        assert sorted(r.s for r in rows) == ["s2", "s3", "s4", "s5"]

    def test_filter_equality_datatype(self, typed):
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            'SELECT ?s WHERE { ?s <p> ?v . FILTER(?v = "5"^^xsd:integer) }'
        )
        assert [r.s for r in sparql_query(typed, q).collect()] == ["s4"]

    def test_typed_literal_outside_comparison_is_loud(self, typed):
        with pytest.raises(SparqlParseError, match="typed literal"):
            sparql_query(
                typed, 'SELECT (STRLEN("x"@en) AS ?n) WHERE { ?s <p> ?v }'
            )

    def test_ordering_comparison_on_non_numeric_is_loud(self, typed):
        """r04: ordering now WORKS for numeric-typed literals
        (test_r04_fixes.TestTypedLiteralCompare); non-numeric ones
        still raise loudly."""
        with pytest.raises(SparqlParseError, match="numeric"):
            sparql_query(typed, 'SELECT ?s WHERE { ?s <p> ?v . FILTER(?v < "x"@en) }')


class TestTemporalOrdering:
    """r04 session-2: ordering comparisons on xsd:date / xsd:dateTime
    typed literals compile to session-TZ-independent calendar casts."""

    @pytest.fixture(scope="class")
    def dated(self, spark):
        return spark.createDataFrame(
            [
                ("g", "e1", "when", "2020-01-15"),
                ("g", "e2", "when", "2020-06-01"),
                ("g", "e3", "when", "2021-02-28"),
                ("g", "e4", "when", "not-a-date"),
                ("g", "e5", "at", "2020-06-01T12:30:00"),
                ("g", "e6", "at", "2020-06-01T22:00:00"),
            ],
            "graph_id string, subj string, pred string, obj string",
        ).localCheckpoint()

    def test_date_range_filter(self, dated):
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?s <when> ?d . "
            'FILTER(?d >= "2020-02-01"^^xsd:date && ?d < "2021-01-01"^^xsd:date) }'
        )
        assert [r.s for r in sparql_query(dated, q).collect()] == ["e2"]

    def test_datetime_ordering(self, dated):
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?s <at> ?t . "
            'FILTER(?t > "2020-06-01T15:00:00"^^xsd:dateTime) }'
        )
        assert [r.s for r in sparql_query(dated, q).collect()] == ["e6"]

    def test_literal_on_left(self, dated):
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?s <when> ?d . "
            'FILTER("2021-01-01"^^xsd:date <= ?d) }'
        )
        assert [r.s for r in sparql_query(dated, q).collect()] == ["e3"]

    def test_unparseable_lexical_drops_row(self, dated):
        """'not-a-date' casts to NULL → comparison NULL → row dropped
        (SPARQL type-error semantics), not an exception."""
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?s <when> ?d . "
            'FILTER(?d >= "1900-01-01"^^xsd:date) }'
        )
        assert sorted(r.s for r in sparql_query(dated, q).collect()) == [
            "e1", "e2", "e3",
        ]

    def test_temporal_equality_is_value_level(self, dated):
        """SPARQL §17.3 op:date-equal: = on a temporal literal uses
        VALUE semantics (agreeing with <=/>= on the same literal), so
        the matching date qualifies even on an untyped view."""
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?s <when> ?d . "
            'FILTER(?d = "2020-01-15"^^xsd:date) }'
        )
        assert [r.s for r in sparql_query(dated, q).collect()] == ["e1"]

    def test_equality_agrees_with_range(self, dated):
        """x = c must give the same rows as x >= c && x <= c."""
        base = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?s <when> ?d . FILTER(%s) }"
        )
        eq = base % '?d = "2020-06-01"^^xsd:date'
        rng = base % ('?d >= "2020-06-01"^^xsd:date && ?d <= "2020-06-01"^^xsd:date')
        assert (
            sorted(r.s for r in sparql_query(dated, eq).collect())
            == sorted(r.s for r in sparql_query(dated, rng).collect())
            == ["e2"]
        )


class TestSameTermIriness:
    """r04 session-2: typed views record IRI-ness (both typing columns
    NULL ⟺ IRI/bnode), so sameTerm and typed =/!= no longer conflate an
    IRI with a same-lexical simple literal. Untyped views keep the
    documented permissive behavior (kind unknown matches anything)."""

    @pytest.fixture(scope="class")
    def mixed(self, spark):
        xsd_s = "http://www.w3.org/2001/XMLSchema#string"
        return spark.createDataFrame(
            [
                ("g", "s1", "p", "x", None, None),      # IRI object <x>
                ("g", "s2", "p", "x", xsd_s, None),     # simple literal "x"
                ("g", "s3", "p", "x", None, "en"),      # "x"@en
            ],
            "graph_id string, subj string, pred string, obj string, obj_dt string, obj_lang string",
        ).localCheckpoint()

    def test_sameterm_iri_vs_simple_literal(self, mixed):
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?s <p> ?v . "
            'FILTER(sameTerm(?v, "x"^^xsd:string)) }'
        )
        assert [r.s for r in sparql_query(mixed, q).collect()] == ["s2"]

    def test_sameterm_var_var_excludes_iri_literal_pair(self, mixed):
        q = (
            "SELECT ?a ?b WHERE { ?a <p> ?v1 . ?b <p> ?v2 . "
            "FILTER(sameTerm(?v1, ?v2) && ?a < ?b) }"
        )
        assert sparql_query(mixed, q).count() == 0

    def test_typed_equality_excludes_iri(self, mixed):
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            'SELECT ?s WHERE { ?s <p> ?v . FILTER(?v = "x"^^xsd:string) }'
        )
        assert [r.s for r in sparql_query(mixed, q).collect()] == ["s2"]

    def test_untyped_view_stays_permissive(self, spark):
        plain = spark.createDataFrame(
            [("g", "s1", "p", "x")],
            "graph_id string, subj string, pred string, obj string",
        )
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?s <p> ?v . "
            'FILTER(sameTerm(?v, "x"^^xsd:string)) }'
        )
        assert [r.s for r in sparql_query(plain, q).collect()] == ["s1"]


@pytest.fixture(scope="module")
def ebv_frame(spark):
    xsd = "http://www.w3.org/2001/XMLSchema#"
    return spark.createDataFrame(
        [
            ("g", "b1", "flag", "true", xsd + "boolean", None),
            ("g", "b2", "flag", "false", xsd + "boolean", None),
            ("g", "n0", "flag", "0", xsd + "integer", None),
            ("g", "n1", "flag", "42", xsd + "integer", None),
            ("g", "s0", "flag", "", xsd + "string", None),
            ("g", "s1", "flag", "hello", xsd + "string", None),
            ("g", "l1", "flag", "false", None, "en"),
            ("g", "e1", "flag", "2024-01-01", xsd + "date", None),
        ],
        "graph_id string, subj string, pred string, obj string, "
        "obj_dt string, obj_lang string",
    ).localCheckpoint()


class TestEffectiveBooleanValue:
    """SPARQL 1.1 §17.2.2: FILTER/&&/||/!/IF coerce operands by EBV;
    type errors (IRIs, non-EBV datatypes) drop the row both plain and
    negated."""

    def test_filter_bare_variable(self, ebv_frame):
        rows = sparql_query(
            ebv_frame, "SELECT ?s WHERE { ?s <flag> ?v FILTER(?v) }"
        ).collect()
        # "false"@en is a LANG-TAGGED literal: EBV = non-empty = true
        assert sorted(r.s for r in rows) == ["b1", "l1", "n1", "s1"]

    def test_negated_variable_keeps_errors_out(self, ebv_frame):
        rows = sparql_query(
            ebv_frame, "SELECT ?s WHERE { ?s <flag> ?v FILTER(!?v) }"
        ).collect()
        # !false → true for boolean/numeric/empty-string rows; the
        # xsd:date row is a TYPE ERROR and !error is still an error
        assert sorted(r.s for r in rows) == ["b2", "n0", "s0"]

    def test_constant_ebv(self, ebv_frame):
        assert (
            sparql_query(
                ebv_frame, "SELECT ?s WHERE { ?s <flag> ?v FILTER(0) }"
            ).count()
            == 0
        )
        assert (
            sparql_query(
                ebv_frame, 'SELECT ?s WHERE { ?s <flag> ?v FILTER("x") }'
            ).count()
            == 8
        )
        assert (
            sparql_query(
                ebv_frame, 'SELECT ?s WHERE { ?s <flag> ?v FILTER("") }'
            ).count()
            == 0
        )

    def test_typed_boolean_constant(self, ebv_frame):
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            'SELECT ?s WHERE { ?s <flag> ?v FILTER("false"^^xsd:boolean) }'
        )
        assert sparql_query(ebv_frame, q).count() == 0

    def test_and_coerces_operands(self, ebv_frame):
        rows = sparql_query(
            ebv_frame,
            'SELECT ?s WHERE { ?s <flag> ?v FILTER(?v && CONTAINS(?s, "1")) }',
        ).collect()
        assert sorted(r.s for r in rows) == ["b1", "l1", "n1", "s1"]

    def test_if_condition_uses_ebv(self, ebv_frame):
        rows = sparql_query(
            ebv_frame,
            'SELECT ?s (IF(?v, "y", "n") AS ?tag) '
            "WHERE { ?s <flag> ?v FILTER(?s = \"b2\" || ?s = \"n1\") }",
        ).collect()
        got = {r.s: r.tag for r in rows}
        assert got == {"b2": "n", "n1": "y"}

    def test_untyped_view_lexical_heuristic(self, spark):
        plain = spark.createDataFrame(
            [
                ("s1", "p", "true"),
                ("s2", "p", "false"),
                ("s3", "p", "0"),
                ("s4", "p", "7"),
                ("s5", "p", ""),
                ("s6", "p", "abc"),
            ],
            "subj string, pred string, obj string",
        )
        rows = sparql_query(
            plain, "SELECT ?s WHERE { ?s <p> ?o FILTER(?o) }"
        ).collect()
        assert sorted(r.s for r in rows) == ["s1", "s4", "s6"]


class TestDynamicCtorComparisons:
    """Dynamic-arg STRLANG/STRDT in =/!=/sameTerm — r04 deviation
    closure (was a loud raise anywhere but BIND). Compiled via the
    shared _term_components view, no hidden-column materialization."""

    def test_strlang_dyn_eq_keeps_tagged(self, typed):
        rows = sparql_query(
            typed,
            "SELECT ?s WHERE { ?s <p> ?o . "
            'FILTER(?o = STRLANG(STR(?o), "en")) }',
        ).collect()
        assert [r.s for r in rows] == ["s1"]

    def test_strlang_dyn_neq_is_complement(self, typed):
        rows = sparql_query(
            typed,
            "SELECT ?s WHERE { ?s <p> ?o . "
            'FILTER(?o != STRLANG(STR(?o), "en")) }',
        ).collect()
        assert sorted(r.s for r in rows) == ["s2", "s3", "s4", "s5"]

    def test_strdt_dyn_eq_keeps_typed(self, typed):
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?s <p> ?o . "
            "FILTER(?o = STRDT(STR(?o), xsd:integer)) }"
        )
        assert [r.s for r in sparql_query(typed, q).collect()] == ["s4"]

    def test_strdt_dyn_xsd_string_is_simple(self, typed):
        # xsd:string normalizes to the simple-literal spelling (RDF
        # 1.1), so STRDT(..., xsd:string) matches plain + xsd:string
        # literals but NOT lang-tagged ones
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?s <p> ?o . "
            "FILTER(?o = STRDT(STR(?o), xsd:string)) }"
        )
        assert sorted(r.s for r in sparql_query(typed, q).collect()) == [
            "s3",
            "s5",
        ]

    def test_sameterm_with_dynamic_ctor(self, typed):
        rows = sparql_query(
            typed,
            "SELECT ?s WHERE { ?s <p> ?o . "
            'FILTER(sameTerm(?o, STRLANG(LCASE("X"), "de"))) }',
        ).collect()
        assert [r.s for r in rows] == ["s2"]

    def test_other_scalar_positions_still_raise(self, typed):
        with pytest.raises(SparqlParseError, match="STRLANG"):
            sparql_query(
                typed,
                "SELECT ?s WHERE { ?s <p> ?o } "
                'ORDER BY STRLANG(STR(?o), "en")',
            )


class TestStringTypedOrdering:
    """Ordering on xsd:string-typed literals — SPARQL 1.1 §17.3
    fn:compare (r04 session 5; was a loud raise). xsd:string ≡ simple
    literal, so this is plain string ordering; non-string terms are
    type errors and drop on typed views."""

    def test_string_ordering_keeps_greater(self, typed):
        q = (
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?s <p> ?o . "
            'FILTER(?o > "4"^^xsd:string) }'
        )
        # string ordering: "x" > "4" (s3), "5" > "4" (s5); the
        # lang-tagged "x"s (s1, s2) and the integer-typed 5 (s4) are
        # type errors on a typed view and drop
        assert sorted(r.s for r in sparql_query(typed, q).collect()) == [
            "s3",
            "s5",
        ]

    def test_lang_tagged_ordering_still_raises(self, typed):
        with pytest.raises(SparqlParseError, match="ordering"):
            sparql_query(
                typed,
                'SELECT ?s WHERE { ?s <p> ?o . FILTER(?o > "x"@en) }',
            )
