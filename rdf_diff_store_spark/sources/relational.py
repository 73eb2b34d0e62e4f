"""Derivations of engine inputs from the driver-provided testdata
(TESTDATA.md) — deterministic, expressible identically in ANSI SQL so
every derived dataset has a DuckDB oracle twin.

`changelog_from_events` treats the events stream as a replayed graph
update log: each event is a version of its user's graph (event_type
'error' ≙ delete tombstone). All expressions are JVM-side built-ins —
no Python in this path, so at 100 TB the derivation is a pure
projection pipelined into the parquet scan.

`triples_from_tpch` materializes an RDF-ish triple view of the TPC-H
star schema; the SPARQL-algebra operators (SURVEY.md §2B) run over it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rdf_diff_store_spark.schemas import load_table

# Scan-parallelism metadata cache: (applicationId, sf_dir, table) ->
# number of scan partitions Spark plans for the file. Pure FILE
# METADATA (no query results, no data), stable for a given path within
# a session — it exists so the widen-or-not decision below doesn't
# re-plan the scan on every query construction. The count depends on
# the session's conf (cores, maxPartitionBytes), hence the session in
# the key.
_SCAN_PARTS: dict[tuple[str, str, str], int] = {}


def _scan_partitions(df: DataFrame, sf_dir: str, name: str) -> int:
    key = (df.sparkSession.sparkContext.applicationId, sf_dir, name)
    if key not in _SCAN_PARTS:
        _SCAN_PARTS[key] = df.rdd.getNumPartitions()
    return _SCAN_PARTS[key]


def widen_if_narrow(df: DataFrame, key: str, sf_dir: str, table: str) -> DataFrame:
    """Scan-parallelism guard (r06). The driver's tables are mostly ONE
    parquet row group, so a scan-side projection ran on 1-2 cores.
    When the scan of `table` (a map-only frame `df` over it) has fewer
    splits than the session's cores, hash-repartition `df` on `key` to
    the core count; otherwise return it unchanged. A well-split table
    at scale keeps its plan, since the guard compares scan splits with
    defaultParallelism, not with any host constant. Hash on a
    near-unique key, never round-robin: a keyless repartition(n) first
    sorts its input locally for determinism under retries (guide §2.5;
    measured 1.26 s vs 0.66 s in window_topk)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if _scan_partitions(df, sf_dir, table) < n:
        return df.repartition(n, key)
    return df


def changelog_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → changelog(graph_id, ts, op, payload, content_hash).

    payload is a single-triple canonical N-Triples line built with
    string concat (already in canonical form, so the Turtle
    canonicalizer is the identity on it); content_hash = sha2-256,
    null for tombstones — mirroring canonical_changelog_row without
    any UDF. Value is encoded as integer cents so the string form is
    engine-independent.

    Scan-parallelism guard (`widen_if_narrow`): the driver's
    events.parquet is ONE row group, so the whole scan — and, in the
    old plan, the payload concat + 1M sha2 calls AND the map side of
    the downstream aggregation — ran in a single task. Widened, the
    cheap projection is hash-repartitioned on graph_id and payload/
    sha2 run AFTER that exchange: the serial task does only parquet
    decode + shuffle write, and the exchange doubles as the one every
    downstream versioned operator (groupBy graph_id / window
    graph_id) needs, so the plan's Exchange count is unchanged. Not
    widened, the same projections run inside the scan's codegen
    stage, with no exchange. Measured at sf1.0 (1M events, local[32]): snapshot_at
    1.03→0.72 s, diff_versions 2.22→0.99 s, compact_versions 1.83→
    1.18 s, identical rows.
    """
    ev = load_table(spark, sf_dir, "events")
    payload = F.concat(
        F.lit("<http://ex.org/user/"),
        F.col("user_id").cast("string"),
        F.lit("> <http://ex.org/value> \""),
        F.round(F.col("value") * 100).cast("bigint").cast("string"),
        F.lit("\" ."),
    )
    op = F.when(F.col("event_type") == "error", F.lit("delete")).otherwise(F.lit("add"))
    pre = ev.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("graph_id"),
        F.col("ts"),
        op.alias("op"),
        F.col("user_id"),
        F.col("value"),
    )
    tomb = F.col("op") == "delete"
    return (
        widen_if_narrow(pre, "graph_id", sf_dir, "events")
        .select(
            "graph_id",
            "ts",
            "op",
            F.when(tomb, F.lit(None).cast("string")).otherwise(payload).alias("payload"),
        )
        .withColumn(
            "content_hash",
            F.when(tomb, F.lit(None).cast("string")).otherwise(F.sha2(F.col("payload"), 256)),
        )
    )


# SQL twin of changelog_from_events, spliced into every DuckDB oracle
# that needs the changelog. Keep expression-for-expression aligned
# with the DataFrame code above.
CHANGELOG_FROM_EVENTS_SQL = """
SELECT 'user:' || CAST(user_id AS VARCHAR) AS graph_id,
       ts,
       CASE WHEN event_type = 'error' THEN 'delete' ELSE 'add' END AS op,
       CASE WHEN event_type = 'error' THEN NULL
            ELSE '<http://ex.org/user/' || CAST(user_id AS VARCHAR)
                 || '> <http://ex.org/value> "'
                 || CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR) || '" .'
       END AS payload,
       CASE WHEN event_type = 'error' THEN NULL
            ELSE sha256('<http://ex.org/user/' || CAST(user_id AS VARCHAR)
                 || '> <http://ex.org/value> "'
                 || CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR) || '" .')
       END AS content_hash
FROM events
"""


def triples_from_tpch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H star schema → triples (graph_id, subj, pred, obj).

    Predicates: region/nation/customer/supplier names and containment
    edges, plus a per-region `nextNation` linked list (window lead
    over n_nationkey) so property-path closure has real multi-hop
    chains to traverse. Pure unions of projections — Catalyst prunes
    each parquet scan to the two or three referenced columns.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")

    def iri(prefix: str, col):
        return F.concat(F.lit(prefix), col.cast("string"))

    parts = [
        region.select(
            iri("region:", F.col("r_regionkey")).alias("subj"),
            F.lit("name").alias("pred"),
            F.col("r_name").alias("obj"),
        ),
        nation.select(
            iri("nation:", F.col("n_nationkey")).alias("subj"),
            F.lit("name").alias("pred"),
            F.col("n_name").alias("obj"),
        ),
        nation.select(
            iri("nation:", F.col("n_nationkey")).alias("subj"),
            F.lit("inRegion").alias("pred"),
            iri("region:", F.col("n_regionkey")).alias("obj"),
        ),
        nation.select(
            iri("nation:", F.col("n_nationkey")).alias("subj"),
            F.lit("nextNation").alias("pred"),
            iri(
                "nation:",
                F.lead("n_nationkey").over(
                    Window.partitionBy("n_regionkey").orderBy("n_nationkey")
                ),
            ).alias("obj"),
        ).filter(F.col("obj").isNotNull()),
        customer.select(
            iri("customer:", F.col("c_custkey")).alias("subj"),
            F.lit("inNation").alias("pred"),
            iri("nation:", F.col("c_nationkey")).alias("obj"),
        ),
        customer.select(
            iri("customer:", F.col("c_custkey")).alias("subj"),
            F.lit("mktsegment").alias("pred"),
            F.col("c_mktsegment").alias("obj"),
        ),
        supplier.select(
            iri("supplier:", F.col("s_suppkey")).alias("subj"),
            F.lit("inNation").alias("pred"),
            iri("nation:", F.col("s_nationkey")).alias("obj"),
        ),
        # numeric literal as integer cents — engine-independent string
        customer.select(
            iri("customer:", F.col("c_custkey")).alias("subj"),
            F.lit("acctbalCents").alias("pred"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").cast("string").alias("obj"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(F.lit("tpch").alias("graph_id"), "subj", "pred", "obj")


TRIPLES_FROM_TPCH_SQL = """
SELECT 'tpch' AS graph_id, subj, pred, obj FROM (
  SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS subj, 'name' AS pred, r_name AS obj FROM region
  UNION ALL
  SELECT 'nation:' || CAST(n_nationkey AS VARCHAR), 'name', n_name FROM nation
  UNION ALL
  SELECT 'nation:' || CAST(n_nationkey AS VARCHAR), 'inRegion', 'region:' || CAST(n_regionkey AS VARCHAR) FROM nation
  UNION ALL
  SELECT subj, pred, obj FROM (
    SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS subj, 'nextNation' AS pred,
           'nation:' || CAST(lead(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS VARCHAR) AS obj
    FROM nation) WHERE obj IS NOT NULL
  UNION ALL
  SELECT 'customer:' || CAST(c_custkey AS VARCHAR), 'inNation', 'nation:' || CAST(c_nationkey AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'customer:' || CAST(c_custkey AS VARCHAR), 'mktsegment', c_mktsegment FROM customer
  UNION ALL
  SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR), 'inNation', 'nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
  UNION ALL
  SELECT 'customer:' || CAST(c_custkey AS VARCHAR), 'acctbalCents',
         CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS VARCHAR) FROM customer
)
"""
