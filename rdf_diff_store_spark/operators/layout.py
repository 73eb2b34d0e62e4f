"""Storage-layout transforms for triple frames.

Reference context: the reference stores each graph as ONE Turtle
document (src/rdf.rs:87-92) and leaves any query-friendly layout to
oxigraph's internal indexes. At warehouse scale the standard move is
the PROPERTY TABLE (Wilkinson, "Jena Property Table Implementation",
SSWS 2006): one row per subject, one column per predicate, so
star-shaped SPARQL patterns (the dominant shape — all attributes of an
entity) become a single scan with zero self-joins, and Parquet's
columnar layout gives per-predicate column pruning — the same win
vertical partitioning (Abadi et al., VLDB 2007) gets from per-predicate
tables, without the n-way join to reassemble an entity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def property_table(
    triples: DataFrame,
    predicates: list[str] | None = None,
    subj_col: str = "s",
    pred_col: str = "p",
    obj_col: str = "o",
) -> DataFrame:
    """Pivot an (s, p, o) frame into one row per subject with one
    column per predicate. Multi-valued predicates collapse to a
    DETERMINISTIC sorted comma-joined string (the inverted-index
    postings convention — engine-portable, order-proof); absent
    predicates are NULL.

    `predicates` is the column vocabulary. Pass it explicitly when
    known (schema-sized knowledge) — that skips Spark's pivot-value
    discovery job entirely; with None, one distinct-scan discovers it
    (still vocabulary-sized output, but an extra pass over the data).

    Scale shape: exactly ONE hash exchange on subject, with map-side
    partial aggregation (pivot-with-explicit-values compiles to a
    regular two-phase HashAggregate whose buffer is one cell per
    predicate). Hub subjects with millions of values for one predicate
    concentrate into a single cell string — cap upstream with
    `operators.skew.capped_topk_per_group` if the corpus has such
    keys; there is no join anywhere, so no fanout skew."""
    if predicates is None:
        predicates = [
            r[0]
            for r in triples.select(pred_col).distinct().orderBy(pred_col).collect()
        ]
    # collect_list over an absent (subject, predicate) cell yields an
    # empty array, not NULL — nullif restores the NULL-means-absent
    # contract (an entity with a genuinely empty-string object is
    # indistinguishable; RDF literals are rarely "" and the layout is
    # lossy-by-design for that corner)
    wide = (
        triples.groupBy(F.col(subj_col).alias("s"))
        .pivot(pred_col, predicates)
        .agg(F.array_join(F.array_sort(F.collect_list(obj_col)), ","))
    )
    # nullif must sit OUTSIDE the pivot agg (Spark's pivot rewrite
    # rejects the expression inside) — one extra projection, no shuffle
    return wide.select(
        "s", *[F.nullif(F.col(f"`{p}`"), F.lit("")).alias(p) for p in predicates]
    )


def term_id(col: F.Column | str) -> F.Column:
    """Deterministic 60-bit BIGINT term id: the first 15 hex digits of
    md5(term). Hash-assigned ids need ZERO coordination — every
    executor computes its own ids locally, unlike ordinal ids
    (HDT's sorted-dictionary ranks) which need a global sort or a
    zipWithIndex barrier over 10^11 distinct terms. Engine-portable:
    DuckDB reproduces it as ('0x' || substr(md5(t), 1, 15))::BIGINT.
    Always non-negative (60 < 63 bits)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def dict_encode(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> tuple[DataFrame, DataFrame]:
    """HDT-style dictionary-encoded triple layout (Fernández et al.,
    "Binary RDF Representation for Publication and Exchange", JWS
    2013): returns ``(dictionary, encoded)`` where ``dictionary`` =
    one row per distinct term — (term, term_id, role bit flags
    is_subj/is_pred/is_obj) — and ``encoded`` = (s_id, p_id, o_id)
    BIGINT triples. Ints shrink the shuffle payload of every
    downstream join/sort (8 bytes vs ~40-byte IRIs — the reason every
    triple store encodes before indexing) and fixed-width columns
    dictionary-compress in Parquet.

    Ids are md5-hash-assigned (`term_id`), not ordinal: encoding is
    embarrassingly parallel (the 10^12-row fact table never joins the
    dictionary — each row hashes its own terms), and two
    independently-encoded datasets can union without re-mapping.
    The cost is the birthday bound: at 10^9 distinct terms over 2^60
    the collision expectation is ~0.4 pairs; a collision shows as a
    term_id that more than one dictionary row claims. The dictionary build
    is ONE distinct over the role-tagged term union (Expand-style
    3× row expansion, map-side combined).
    """
    s, p, o = F.col(subj_col), F.col(pred_col), F.col(obj_col)
    terms = (
        triples.select(s.alias("term"), F.lit(1).alias("r"))
        .unionByName(triples.select(p.alias("term"), F.lit(2).alias("r")))
        .unionByName(triples.select(o.alias("term"), F.lit(4).alias("r")))
        .groupBy("term")
        .agg(
            F.max(F.col("r") == 1).alias("is_subj"),
            F.max(F.col("r") == 2).alias("is_pred"),
            F.max(F.col("r") == 4).alias("is_obj"),
        )
        .select("term", term_id("term").alias("term_id"), "is_subj", "is_pred", "is_obj")
    )
    encoded = triples.select(
        term_id(subj_col).alias("s_id"),
        term_id(pred_col).alias("p_id"),
        term_id(obj_col).alias("o_id"),
    )
    return terms, encoded


def zorder_key(x, y, bits: int = 21):
    """Morton / Z-order bit interleave of two non-negative integer
    columns into one BIGINT sort key (Morton 1966; the multi-dim
    clustering key behind Delta Lake's OPTIMIZE ZORDER BY and every
    spatial range index): sorting/range-partitioning by the key keeps
    rows close in BOTH dimensions physically adjacent, so parquet
    min/max footer stats prune 2-D range predicates (time × entity
    bucket, lat × lon) that a lexicographic (x, y) sort can prune
    only on x.

    Pure whole-stage-codegen column math — an `aggregate` fold over
    the bit sequence with variable `shiftleft` (both engines accept
    expression shift amounts, verified) — no UDF, no shuffle; 2·bits
    ≤ 62 keeps the key positive BIGINT. `x` / `y` are SQL
    expression strings whose values must lie in [0, 2^bits);
    bucketize first with `pmod(hash(col), m)` — NOT `hash(col) % m`:
    Spark hash() is signed and `%` keeps the dividend's sign, and a
    negative input would make the bit fold sum negative shiftleft
    terms (silently garbage keys). Negative inputs RAISE at runtime
    (assert_true guard) rather than corrupt the layout quietly.

    Usage: ``df.repartitionByRange(n, zorder_key("day", "bucket"))
    .sortWithinPartitions(...)`` before the parquet write — the
    layout move, not a query operator, which is why the oracle-
    checked query only verifies the key arithmetic.
    """
    if 2 * bits > 62:
        raise ValueError("2*bits must fit a positive BIGINT")
    # SQL-expr form: PySpark's F.shiftleft types the shift amount as a
    # Python int, but the SQL function accepts expressions — which the
    # per-bit fold needs (shift by the lambda variable)
    return F.expr(
        f"""CASE WHEN assert_true(({x}) >= 0 AND ({y}) >= 0) IS NULL THEN
  aggregate(sequence(0, {bits - 1}), 0L,
    (acc, i) -> acc
      + shiftleft((cast(({x}) as bigint) div shiftleft(1L, i)) % 2, 2 * i)
      + shiftleft((cast(({y}) as bigint) div shiftleft(1L, i)) % 2, 2 * i + 1))
END"""
    )
