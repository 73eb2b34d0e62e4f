"""VoID dataset statistics (W3C Interest Group Note "Describing
Linked Datasets with the VoID Vocabulary") — the standard statistical
self-description a published RDF dataset carries: triple/entity/class/
property counts and the per-property / per-class partitions
(void:triples, void:classes, void:properties, void:distinctSubjects,
void:distinctObjects, void:propertyPartition, void:classPartition).

The reference serves datasets (its store IS a dataset of named
graphs, /root/reference/src/graphs.rs:30-61); a production deployment
publishes VoID alongside — and at web scale these statistics are also
the query-planner's cardinality source (predicate selectivity feeds
join ordering in every SPARQL optimizer).

Scale shape: the input is treated as a triple SET (graphs are sets —
the frames extraction/entailment produce can carry duplicates, so the
operators dedupe first, one shuffle). Multi-column distinct counts
compile to Spark's Expand + partial aggregation — one pass over the
data with map-side combine, k× row expansion but never a per-count
rescan. Partitions group by predicate / class: hot predicates
(rdf:type at ~20% of any web corpus) are absorbed by partial
aggregation and AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_diff_store_spark.operators.structured import RDF_TYPE


def _as_set(triples: DataFrame) -> DataFrame:
    return triples.select("subj", "pred", "obj").distinct()


def void_summary(triples: DataFrame) -> DataFrame:
    """ONE row of dataset-level VoID counts: n_triples,
    n_distinct_subjects, n_properties, n_distinct_objects, n_classes
    (distinct rdf:type objects), n_entities (distinct typed subjects).
    All BIGINT, engine-portable."""
    t = _as_set(triples)
    is_type = F.col("pred") == RDF_TYPE
    return t.agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_distinct_subjects"),
        F.countDistinct("pred").alias("n_properties"),
        F.countDistinct("obj").alias("n_distinct_objects"),
        F.countDistinct(F.when(is_type, F.col("obj"))).alias("n_classes"),
        F.countDistinct(F.when(is_type, F.col("subj"))).alias("n_entities"),
    )


def property_partitions(triples: DataFrame) -> DataFrame:
    """void:propertyPartition — per predicate: n_triples,
    n_distinct_subjects, n_distinct_objects. The cardinality table a
    SPARQL planner estimates BGP selectivity from."""
    return (
        _as_set(triples)
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj").alias("n_distinct_subjects"),
            F.countDistinct("obj").alias("n_distinct_objects"),
        )
    )


def class_partitions(triples: DataFrame) -> DataFrame:
    """void:classPartition — per class (rdf:type object): n_entities
    (distinct instances)."""
    return (
        _as_set(triples)
        .filter(F.col("pred") == RDF_TYPE)
        .groupBy(F.col("obj").alias("class_iri"))
        .agg(F.countDistinct("subj").alias("n_entities"))
    )


def characteristic_sets(triples: DataFrame) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte, ICDE 2011 —
    "Characteristic sets: Accurate cardinality estimation for RDF
    queries with multiple joins"): partition subjects by the exact SET
    of predicates they carry. Output one row per distinct predicate
    set — ``cs_props`` (space-joined sorted predicate list; IRIs never
    contain spaces), ``n_subjects`` (subjects whose predicate set is
    exactly this), ``n_triples`` (total triples those subjects carry —
    n_triples / n_subjects / |set| is the per-predicate multiplicity
    a planner multiplies star-join estimates by).

    This is the star-shaped-BGP cardinality statistic the VoID
    property partitions (one-predicate marginals) cannot express: a
    query ``?s :a ?x . ?s :b ?y`` is estimated from the sets that
    contain BOTH predicates, not from independence assumptions.

    Scale shape: ONE corpus shuffle total. An explicit
    repartition("subj") makes every downstream requirement — the
    per-subject set fold AND the set-semantics dedup (countDistinct
    over (pred, obj)) — already-satisfied, because hashpartitioning on
    a SUBSET of a required clustering satisfies it; the naive
    `.distinct().groupBy(subj)` spelling pays a second full-corpus
    exchange on (s,p,o) for nothing (measured 2 exchanges → 1, values
    identical; the 16.2M-triple timings are in BENCH.md). collect_set is a
    partial-aggregating SET accumulator bounded by the vocabulary. The
    paper's empirical law makes the rollup free: 10^9+ real-web
    triples produce only ~10^3-10^4 distinct characteristic sets, so
    the final aggregate map-side-combines into almost nothing. Extends
    the reference's per-graph metadata surface (src/graphs.rs:30-61)
    with the planner statistic its oxigraph backend keeps internally.
    (Trade-off: the raw rows shuffle before dedup — right for the
    mostly-unique frames extraction emits; a heavily-duplicated input
    would prefer dedup-first.)
    """
    t = triples.select("subj", "pred", "obj").repartition("subj")
    per_subj = t.groupBy("subj").agg(
        F.array_join(F.array_sort(F.collect_set("pred")), " ").alias("cs_props"),
        F.countDistinct("pred", "obj").alias("_nt"),
    )
    return per_subj.groupBy("cs_props").agg(
        F.count(F.lit(1)).alias("n_subjects"),
        F.sum("_nt").cast("long").alias("n_triples"),
    )


def summary_graph(triples: DataFrame) -> DataFrame:
    """Class-level quotient summary graph (Goldman & Widom VLDB 1997
    DataGuides lineage; the ABSTAT / LODSight exploration summary):
    collapse every entity into its rdf:type class and count the edges
    between classes — one row per (src_class, pred, dst_class) with
    ``n_edges``, ``n_src_entities``, ``n_dst_entities``. The result is
    the schema-shaped map of an instance-shaped graph: what a user
    explores to learn which predicates connect which classes, and the
    second planner statistic (path selectivity between typed ends).

    Semantics: rdf:type edges are the quotient map, every other
    entity-to-entity edge projects through it; multi-typed entities
    contribute one summary edge per type combination (the standard
    quotient-by-type convention); edges to literals / untyped nodes
    drop (inner join) — they are VoID property-partition material, not
    class-graph material.

    Scale shape: the type map is |entities|-sized, so both projections
    are plain subject-/object-hash shuffle joins (never broadcast at
    web scale; AQE may still choose broadcast at small SF). The output
    is |classes|²-bounded per predicate — tiny — so the final count
    aggregates map-side. Hub classes (every entity is typed) are
    exactly the rdf:type skew AQE skew-join splitting absorbs.
    """
    t = _as_set(triples)
    types = t.filter(F.col("pred") == RDF_TYPE)
    edges = t.filter(F.col("pred") != RDF_TYPE)
    src_t = types.select(F.col("subj").alias("_sn"), F.col("obj").alias("src_class"))
    dst_t = types.select(F.col("subj").alias("_dn"), F.col("obj").alias("dst_class"))
    return (
        edges.join(src_t, edges["subj"] == src_t["_sn"])
        .join(dst_t, edges["obj"] == dst_t["_dn"])
        .groupBy("src_class", "pred", "dst_class")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("subj").alias("n_src_entities"),
            F.countDistinct("obj").alias("n_dst_entities"),
        )
    )


def entity_facts_topk(triples: DataFrame, k: int = 5) -> DataFrame:
    """Entity summarization: the k most INFORMATIVE facts per subject
    (the "entity card" a KG front-end renders; RELIN, Cheng et al.
    ISWC 2011, ranks facts by predicate informativeness — rare
    predicates say more about an entity than ubiquitous ones).

    Informativeness is kept integer-exact for engine portability:
    ``rarity = n_total_triples div n_triples(pred)`` is monotone in
    -log(freq) without touching libm (cross-engine float ln is the
    one nondeterminism no oracle survives). Facts rank by (rarity
    DESC, pred, obj) — total order, deterministic ties — and the top
    k per subject survive. Output adds ``rarity`` and ``rank``.

    Scale shape: predicate counts are vocabulary-sized → the rarity
    table BROADCASTS into the fact scan; the single shuffle is the
    subject-hash window (same partitioning a property-table pivot
    would reuse). Hub subjects with 10^6 facts cost one window pass,
    no join fanout; cap upstream via `operators.skew.
    capped_topk_per_group` if a subject's fact list itself is the
    skew."""
    from pyspark.sql import Window  # noqa: PLC0415

    # repartition by subject ONCE: the set-dedup (dropDuplicates over
    # s,p,o — subset-satisfied) and the top-k window then add no
    # further corpus exchange; only the vocabulary-sized rarity
    # branch shuffles (by pred, map-side-combined to ~|vocabulary|)
    t = (
        triples.select("subj", "pred", "obj")
        .repartition("subj")
        .dropDuplicates(["subj", "pred", "obj"])
    )
    totals = t.groupBy("pred").agg(F.count(F.lit(1)).alias("_df"))
    # 1-row total broadcast-crossed onto the vocabulary-sized counts:
    # no eager driver action, integer div end to end
    n_total = t.agg(F.count(F.lit(1)).alias("_n"))
    rarity = totals.crossJoin(F.broadcast(n_total)).select(
        "pred", F.expr("_n div _df").alias("rarity")
    )
    w = Window.partitionBy("subj").orderBy(
        F.col("rarity").desc(), F.col("pred"), F.col("obj")
    )
    return (
        t.join(F.broadcast(rarity), "pred")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("subj", "pred", "obj", "rarity", "rank")
    )


def star_subject_count(cs_stats: DataFrame, preds: list[str]) -> DataFrame:
    """Answer a star-shaped subject count from characteristic-set
    statistics ALONE — Neumann & Moerkotte's headline result (ICDE
    2011 §4.2): for ``SELECT COUNT(DISTINCT ?s) WHERE { ?s p1 ?o1 .
    ?s p2 ?o2 . … }`` the answer is EXACTLY the sum of n_subjects over
    every characteristic set containing all of p1…pk — no scan of the
    10^12-row fact table, just the ~10^3-row statistics frame. (Result
    ROW counts additionally need per-predicate multiplicities; subject
    counts need nothing more.)

    Input is `characteristic_sets` output; membership tests split the
    space-joined predicate list (IRIs never contain spaces). Returns
    one row (n_subjects BIGINT), 0 when no set qualifies."""
    cond = F.lit(True)
    for p in preds:
        cond = cond & F.array_contains(F.split(F.col("cs_props"), " "), p)
    return cs_stats.filter(cond).agg(
        F.coalesce(F.sum("n_subjects"), F.lit(0)).cast("long").alias("n_subjects")
    )
