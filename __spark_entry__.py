"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship versioned-KG query on sf0.001.
`queries()` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; `oracle_sql()` provides the
DuckDB-equivalent ANSI SQL for each (tables region nation customer
supplier part orders lineitem events documents embeddings are
pre-registered views).

Column names are aliased identically on both sides; doubles are
rounded on both sides so the value-hash compare is stable across
engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rdf_diff_store_spark.operators.graph import transitive_closure
from rdf_diff_store_spark.operators.versioned import (
    compact_changelog,
    diff,
    metadata,
    snapshot_at,
)
from rdf_diff_store_spark.schemas import load_table
from rdf_diff_store_spark.sources.relational import (
    CHANGELOG_FROM_EVENTS_SQL,
    TRIPLES_FROM_TPCH_SQL,
    changelog_from_events,
    triples_from_tpch,
)

# Version-axis probe timestamps: the events table spans 2024-01-01 →
# 2024-01-30 at every sf (TESTDATA.md).
T_MID = "2024-01-10 00:00:00"
T_LATE = "2024-01-20 00:00:00"

def _ntz_us(c) -> F.Column:
    """Timezone-proof epoch micros from a TIMESTAMP_NTZ column.

    Parquet timestamps load as TIMESTAMP_NTZ; `cast("timestamp")` +
    `unix_micros` re-interprets the wall clock in the *session*
    timezone — correct only when the session pins UTC, which the
    driver harness's own SparkSession may not. timestamp_diff on two
    NTZ values is pure wall-clock arithmetic, matching DuckDB's
    epoch_us(TIMESTAMP) exactly under any session timezone."""
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_diff("MICROSECOND", epoch, c)

# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: replay the events stream as a versioned graph
    changelog, reconstruct the snapshot at T_LATE, expand to triples
    (mapInPandas Turtle parse), and evaluate a SPARQL STRING against
    it — the reference's exact request lifecycle
    (GET /api/sparql/{ts}?query=..., SURVEY.md §3.1) end-to-end."""
    sf_dir = "/root/testdata/sf0.001"
    from rdf_diff_store_spark.operators.versioned import snapshot_triples
    from rdf_diff_store_spark.plans.sparql_text import sparql_query

    changelog = changelog_from_events(spark, sf_dir)
    triples = snapshot_triples(changelog, T_LATE)
    return sparql_query(
        triples,
        """
        SELECT ?pred (COUNT(?s) AS ?n_triples) (COUNT(DISTINCT ?s) AS ?n_subjects)
        WHERE { ?s ?pred ?o } GROUP BY ?pred
        """,
    )


# ---------------------------------------------------------------------------
# helpers

_SNAPSHOT_SQL = """
WITH changelog AS ({changelog}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY graph_id
      ORDER BY ts DESC, op DESC, coalesce(content_hash, '') DESC) AS rn
  FROM changelog WHERE ts <= TIMESTAMP '{t}'
)
SELECT graph_id, payload, content_hash FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _snapshot_sql(t: str) -> str:
    return _SNAPSHOT_SQL.format(changelog=CHANGELOG_FROM_EVENTS_SQL, t=t)


# ---------------------------------------------------------------------------
# versioned-store family (SURVEY.md §2A)


def q_snapshot_at(spark, sf_dir):
    """O-06/O-07: latest-wins tombstone-filtered snapshot at T_MID."""
    snap = snapshot_at(changelog_from_events(spark, sf_dir), T_MID)
    return snap.select("graph_id", "payload", "content_hash")


def q_snapshot_pre_history(spark, sf_dir):
    """Snapshot before the first version is empty (git.rs:157-158)."""
    snap = snapshot_at(changelog_from_events(spark, sf_dir), "1990-01-01 00:00:00")
    return snap.select("graph_id", "content_hash")


def q_diff_versions(spark, sf_dir):
    """O-08 at graph-version granularity: added/removed between T_MID
    and T_LATE via bidirectional anti-joins."""
    d = diff(changelog_from_events(spark, sf_dir), T_MID, T_LATE, on_triples=False)
    return d.select("graph_id", "content_hash", "change")


def q_diff_triples(spark, sf_dir):
    """O-08 at triple granularity — exercises the mapInPandas Turtle
    parser on both snapshots."""
    d = diff(changelog_from_events(spark, sf_dir), T_MID, T_LATE, on_triples=True)
    return d.select("graph_id", "subj", "pred", "obj", "change")


def q_metadata(spark, sf_dir):
    """O-09: first/last version times (epoch micros for portability)."""
    m = metadata(changelog_from_events(spark, sf_dir))
    return m.select(
        _ntz_us(F.col("start_time")).alias("start_us"),
        _ntz_us(F.col("end_time")).alias("end_us"),
    )


def q_compact_versions(spark, sf_dir):
    """O-01 idempotence in bulk-replay form: versions retained per
    graph after dropping consecutive identical content."""
    c = compact_changelog(changelog_from_events(spark, sf_dir))
    return c.groupBy("graph_id").agg(F.count("*").alias("n_versions"))


_ORACLE_VERSIONED = {
    "snapshot_at": _snapshot_sql(T_MID),
    "snapshot_pre_history": """
WITH changelog AS ({changelog}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY graph_id
      ORDER BY ts DESC, op DESC, coalesce(content_hash, '') DESC) AS rn
  FROM changelog WHERE ts <= TIMESTAMP '1990-01-01 00:00:00'
)
SELECT graph_id, content_hash FROM ranked WHERE rn = 1 AND op <> 'delete'
""".format(changelog=CHANGELOG_FROM_EVENTS_SQL),
    "diff_versions": """
WITH s1 AS ({s1}), s2 AS ({s2})
SELECT graph_id, content_hash, 'added' AS change FROM s2
WHERE NOT EXISTS (SELECT 1 FROM s1
                  WHERE s1.graph_id = s2.graph_id AND s1.content_hash = s2.content_hash)
UNION ALL
SELECT graph_id, content_hash, 'removed' AS change FROM s1
WHERE NOT EXISTS (SELECT 1 FROM s2
                  WHERE s2.graph_id = s1.graph_id AND s2.content_hash = s1.content_hash)
""".format(s1=_snapshot_sql(T_MID), s2=_snapshot_sql(T_LATE)),
    "diff_triples": """
WITH s1r AS ({s1}), s2r AS ({s2}),
s1 AS (SELECT graph_id,
              regexp_extract(payload, '^<([^>]*)>', 1) AS subj,
              regexp_extract(payload, '> <([^>]*)>', 1) AS pred,
              regexp_extract(payload, '"([^"]*)"', 1) AS obj
       FROM s1r),
s2 AS (SELECT graph_id,
              regexp_extract(payload, '^<([^>]*)>', 1) AS subj,
              regexp_extract(payload, '> <([^>]*)>', 1) AS pred,
              regexp_extract(payload, '"([^"]*)"', 1) AS obj
       FROM s2r)
SELECT graph_id, subj, pred, obj, 'added' AS change FROM s2
WHERE NOT EXISTS (SELECT 1 FROM s1 WHERE s1.graph_id = s2.graph_id
                  AND s1.subj = s2.subj AND s1.pred = s2.pred AND s1.obj = s2.obj)
UNION ALL
SELECT graph_id, subj, pred, obj, 'removed' AS change FROM s1
WHERE NOT EXISTS (SELECT 1 FROM s2 WHERE s2.graph_id = s1.graph_id
                  AND s2.subj = s1.subj AND s2.pred = s1.pred AND s2.obj = s1.obj)
""".format(s1=_snapshot_sql(T_MID), s2=_snapshot_sql(T_LATE)),
    "metadata": f"""
WITH changelog AS ({CHANGELOG_FROM_EVENTS_SQL})
SELECT epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us FROM changelog
""",
    "compact_versions": f"""
WITH changelog AS ({CHANGELOG_FROM_EVENTS_SQL}),
lagged AS (
  SELECT graph_id,
         coalesce(content_hash, '__tombstone__') AS cur,
         lag(coalesce(content_hash, '__tombstone__')) OVER (
             PARTITION BY graph_id
             ORDER BY ts, op, coalesce(content_hash, '')) AS prev
  FROM changelog
)
SELECT graph_id, count(*) AS n_versions FROM lagged
WHERE prev IS NULL OR prev <> cur GROUP BY graph_id
""",
}


# ---------------------------------------------------------------------------
# SPARQL 1.1 algebra family (SURVEY.md §2B) over the TPC-H triple view


def q_sparql_bgp_join(spark, sf_dir):
    """BGP: ?c inNation ?n . ?n inRegion ?r . ?r name 'ASIA'
    → chain of hash equi-joins; the nation/region patterns are small
    and broadcast."""
    t = triples_from_tpch(spark, sf_dir)
    cust = t.filter(F.col("pred") == "inNation").select(
        F.col("subj").alias("customer"), F.col("obj").alias("nation")
    ).filter(F.col("customer").startswith("customer:"))
    nreg = t.filter(F.col("pred") == "inRegion").select(
        F.col("subj").alias("nation"), F.col("obj").alias("region")
    )
    rname = t.filter((F.col("pred") == "name") & (F.col("obj") == "ASIA")).select(
        F.col("subj").alias("region")
    )
    return cust.join(F.broadcast(nreg), "nation").join(F.broadcast(rname), "region").select(
        "customer", "nation"
    )


def q_sparql_optional(spark, sf_dir):
    """OPTIONAL ≙ left outer join: every nation with its (possibly
    absent) suppliers."""
    t = triples_from_tpch(spark, sf_dir)
    nations = t.filter((F.col("pred") == "name") & F.col("subj").startswith("nation:")).select(
        F.col("subj").alias("nation"), F.col("obj").alias("nation_name")
    )
    sup = t.filter((F.col("pred") == "inNation") & F.col("subj").startswith("supplier:")).select(
        F.col("subj").alias("supplier"), F.col("obj").alias("nation")
    )
    return nations.join(sup, "nation", "left_outer").select("nation", "nation_name", "supplier")


def q_sparql_union(spark, sf_dir):
    """UNION of two patterns."""
    t = triples_from_tpch(spark, sf_dir)
    r = t.filter((F.col("pred") == "name") & F.col("subj").startswith("region:"))
    n = t.filter((F.col("pred") == "name") & F.col("subj").startswith("nation:"))
    return r.unionByName(n).select(F.col("subj").alias("entity"), F.col("obj").alias("entity_name"))


def q_sparql_minus(spark, sf_dir):
    """MINUS / NOT EXISTS ≙ left anti join: nations with no suppliers."""
    t = triples_from_tpch(spark, sf_dir)
    nations = t.filter(F.col("pred") == "inRegion").select(F.col("subj").alias("nation"))
    sup_nations = t.filter(
        (F.col("pred") == "inNation") & F.col("subj").startswith("supplier:")
    ).select(F.col("obj").alias("nation"))
    return nations.join(sup_nations, "nation", "left_anti")


def q_sparql_exists(spark, sf_dir):
    """FILTER EXISTS ≙ left semi join: nations having customers."""
    t = triples_from_tpch(spark, sf_dir)
    nations = t.filter(F.col("pred") == "inRegion").select(F.col("subj").alias("nation"))
    cust_nations = t.filter(
        (F.col("pred") == "inNation") & F.col("subj").startswith("customer:")
    ).select(F.col("obj").alias("nation"))
    return nations.join(cust_nations, "nation", "left_semi")


def q_sparql_group_agg(spark, sf_dir):
    """GROUP BY + COUNT + HAVING over customer→nation edges."""
    t = triples_from_tpch(spark, sf_dir)
    return (
        t.filter((F.col("pred") == "inNation") & F.col("subj").startswith("customer:"))
        .groupBy(F.col("obj").alias("nation"))
        .agg(F.count("*").alias("n_customers"))
        .filter(F.col("n_customers") >= 2)
    )


def q_sparql_group_concat(spark, sf_dir):
    """GROUP_CONCAT ≙ sorted collect_list + array_join."""
    t = triples_from_tpch(spark, sf_dir)
    nreg = t.filter(F.col("pred") == "inRegion").select(
        F.col("subj").alias("nation"), F.col("obj").alias("region")
    )
    names = t.filter((F.col("pred") == "name") & F.col("subj").startswith("nation:")).select(
        F.col("subj").alias("nation"), F.col("obj").alias("nation_name")
    )
    return (
        nreg.join(names, "nation")
        .groupBy("region")
        .agg(F.array_join(F.array_sort(F.collect_list("nation_name")), ",").alias("members"))
    )


def q_sparql_distinct_order_limit(spark, sf_dir):
    """DISTINCT + ORDER BY + LIMIT (top-k): 3 largest customer keys in
    segment BUILDING."""
    t = triples_from_tpch(spark, sf_dir)
    seg = t.filter((F.col("pred") == "mktsegment") & (F.col("obj") == "BUILDING")).select(
        F.col("subj").alias("customer")
    )
    return seg.distinct().orderBy(F.col("customer").desc()).limit(3)


def q_sparql_values_bind(spark, sf_dir):
    """VALUES inline data joined to a pattern + BIND(STRLEN(...))."""
    t = triples_from_tpch(spark, sf_dir)
    vals = spark.createDataFrame([("ASIA",), ("EUROPE",)], ["region_name"])
    names = t.filter((F.col("pred") == "name") & F.col("subj").startswith("region:")).select(
        F.col("subj").alias("region"), F.col("obj").alias("region_name")
    )
    return names.join(F.broadcast(vals), "region_name").select(
        "region", "region_name", F.length("region_name").alias("name_len")
    )


def q_sparql_filter_regex(spark, sf_dir):
    """FILTER regex/STRSTARTS on literals: nations whose name matches
    'NATION_1[0-9]'."""
    t = triples_from_tpch(spark, sf_dir)
    return t.filter(
        (F.col("pred") == "name") & F.col("obj").rlike("^NATION_1[0-9]$")
    ).select(F.col("subj").alias("nation"), F.col("obj").alias("nation_name"))


def q_sparql_path_plus(spark, sf_dir):
    """Property path p+ : transitive closure of per-region nextNation
    chains via iterative doubling joins (plans/algebra.py::path_plus)."""
    from rdf_diff_store_spark.plans.algebra import path_plus

    return path_plus(triples_from_tpch(spark, sf_dir), "nextNation")


def q_sparql_text_select(spark, sf_dir):
    """An actual SPARQL query STRING (the reference's request format,
    src/bin/rdf-query-cache.rs:44-53) parsed and compiled onto the
    algebra layer by plans/sparql_text.py."""
    from rdf_diff_store_spark.plans.sparql_text import sparql_select

    t = triples_from_tpch(spark, sf_dir)
    return sparql_select(
        t,
        """
        SELECT ?nation ?nation_name WHERE {
          ?nation <inRegion> ?r ; <name> ?nation_name .
          FILTER (REGEX(?nation_name, "^NATION_[0-9]$") && ?r != "region:0")
        }
        ORDER BY ASC(?nation_name)
        """,
    )


def q_sparql_ask(spark, sf_dir):
    """ASK ≙ limit(1) existence check."""
    t = triples_from_tpch(spark, sf_dir)
    n = t.filter((F.col("pred") == "name") & (F.col("obj") == "MIDDLE EAST")).limit(1).count()
    return spark.createDataFrame([(n > 0,)], "ask boolean")


def q_sparql_construct(spark, sf_dir):
    """CONSTRUCT: rewrite customer→nation→region into a new
    customer→inRegionT edge template (2-hop join, template emit)."""
    t = triples_from_tpch(spark, sf_dir)
    cn = t.filter((F.col("pred") == "inNation") & F.col("subj").startswith("customer:")).select(
        F.col("subj").alias("customer"), F.col("obj").alias("nation")
    )
    nr = t.filter(F.col("pred") == "inRegion").select(
        F.col("subj").alias("nation"), F.col("obj").alias("region")
    )
    return cn.join(F.broadcast(nr), "nation").select(
        F.col("customer").alias("subj"),
        F.lit("inRegionT").alias("pred"),
        F.col("region").alias("obj"),
    )


def _sparql_text(spark, sf_dir, query: str):
    """Evaluate a SPARQL string via the text front-end (the reference's
    actual request format, src/bin/rdf-query-cache.rs:44-53)."""
    from rdf_diff_store_spark.plans.sparql_text import sparql_query

    return sparql_query(triples_from_tpch(spark, sf_dir), query)


def q_sparql_text_group_agg(spark, sf_dir):
    """String-form GROUP BY + COUNT + HAVING (parser round-2 surface)."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?nation (COUNT(?c) AS ?n_customers) WHERE {
          ?c <inNation> ?nation . FILTER (STRSTARTS(?c, "customer:"))
        } GROUP BY ?nation HAVING (COUNT(?c) >= 2)
        """,
    )


def q_sparql_text_bind_values(spark, sf_dir):
    """String-form VALUES + BIND(STRLEN)."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?region ?region_name ?name_len WHERE {
          ?region <name> ?region_name .
          VALUES ?region_name { "ASIA" "EUROPE" }
          BIND (STRLEN(?region_name) AS ?name_len)
          FILTER (STRSTARTS(?region, "region:"))
        }
        """,
    )


def q_sparql_text_minus(spark, sf_dir):
    """String-form MINUS: nations with no suppliers."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?nation WHERE {
          ?nation <inRegion> ?r .
          MINUS { ?s <inNation> ?nation . FILTER (STRSTARTS(?s, "supplier:")) }
        }
        """,
    )


def q_sparql_text_exists(spark, sf_dir):
    """String-form FILTER EXISTS: nations having customers."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?nation WHERE {
          ?nation <inRegion> ?r .
          FILTER EXISTS { ?c <inNation> ?nation . FILTER (STRSTARTS(?c, "customer:")) }
        }
        """,
    )


def q_sparql_text_path(spark, sf_dir):
    """String-form property paths: sequence (inNation/inRegion) plus a
    transitive closure (nextNation+) in one query."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?c ?region ?reach WHERE {
          ?c <inNation>/<inRegion> ?region .
          ?c <inNation> ?n .
          ?n <nextNation>+ ?reach .
          FILTER (STRSTARTS(?c, "customer:"))
        }
        """,
    )


def q_sparql_text_ask(spark, sf_dir):
    """String-form ASK."""
    return _sparql_text(spark, sf_dir, 'ASK { ?r <name> "MIDDLE EAST" }')


def q_sparql_text_construct(spark, sf_dir):
    """String-form CONSTRUCT with a 2-hop template rewrite."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        CONSTRUCT { ?c <inRegionT> ?region } WHERE {
          ?c <inNation> ?n . ?n <inRegion> ?region .
          FILTER (STRSTARTS(?c, "customer:"))
        }
        """,
    )


def q_sparql_text_subselect(spark, sf_dir):
    """String-form SPARQL 1.1 subquery: per-nation customer counts
    aggregated inside, joined to names outside."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?nation_name ?n_cust WHERE {
          ?n <name> ?nation_name . FILTER (STRSTARTS(?n, "nation:"))
          { SELECT ?n (COUNT(?c) AS ?n_cust) WHERE {
              ?c <inNation> ?n . FILTER (STRSTARTS(?c, "customer:"))
            } GROUP BY ?n }
        }
        """,
    )


def q_sparql_text_describe(spark, sf_dir):
    """String-form DESCRIBE <nation:0>."""
    return _sparql_text(spark, sf_dir, "DESCRIBE <nation:0>")


def q_sparql_text_offset(spark, sf_dir):
    """String-form ORDER BY + LIMIT + OFFSET — compiled to
    DataFrame.offset (global-sort limit), not a single-partition
    window."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?nation_name WHERE {
          ?n <name> ?nation_name . FILTER (STRSTARTS(?nation_name, "NATION_"))
        } ORDER BY ASC(?nation_name) LIMIT 5 OFFSET 3
        """,
    )


_T = TRIPLES_FROM_TPCH_SQL


# Shared session-19 graph fixture: per-region nation chains closed
# into rings, plus nation->region edges. The SQL body is the UNION
# arms only (callers wrap it in `e AS (...)` and may append arms).
_RING_INREG_UNION = """
  SELECT src, dst FROM (
    SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS src,
           'nation:' || CAST(lead(n_nationkey) OVER (
             PARTITION BY n_regionkey ORDER BY n_nationkey) AS VARCHAR) AS dst
    FROM nation) WHERE dst IS NOT NULL
  UNION
  SELECT 'nation:' || CAST(MAX(n_nationkey) AS VARCHAR),
         'nation:' || CAST(MIN(n_nationkey) AS VARCHAR)
  FROM nation GROUP BY n_regionkey
  UNION
  SELECT 'nation:' || CAST(n_nationkey AS VARCHAR),
         'region:' || CAST(n_regionkey AS VARCHAR) FROM nation"""

_RING_INREG_SQL = f"e AS ({_RING_INREG_UNION})"


def _ring_inreg_edges(spark, sf_dir):
    """Spark twin of _RING_INREG_SQL: nextNation chains + ring-closing
    edges + inRegion pointers."""
    nation = load_table(spark, sf_dir, "nation")
    nn = nation.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(
            F.lit("nation:"),
            F.lead("n_nationkey")
            .over(Window.partitionBy("n_regionkey").orderBy("n_nationkey"))
            .cast("string"),
        ).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    ring = (
        nation.groupBy("n_regionkey")
        .agg(F.max("n_nationkey").alias("mx"), F.min("n_nationkey").alias("mn"))
        .select(
            F.concat(F.lit("nation:"), F.col("mx").cast("string")).alias("src"),
            F.concat(F.lit("nation:"), F.col("mn").cast("string")).alias("dst"),
        )
    )
    inreg = nation.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    return nn.unionByName(ring).unionByName(inreg)


# The portable HLL ball-register CTE chain shared by the web_anf /
# web_neighborhood_fn / web_harmonic_centrality oracles (b=4: one hex
# register digit, 13-digit rank tail — operators/sketch.py arithmetic)
_HLL_B4_C_LIT = repr(0.673 * 16 * 16 * 2**53)


def _hll_ball_ctes(max_radius: int) -> str:
    sql = [
        """nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
h0 AS (
  SELECT node,
         CAST(('0x' || substr(md5(node), 1, 1))::BIGINT AS INT) AS reg,
         CAST(53 - length(ltrim(bin(('0x' || substr(md5(node), 2, 13))::BIGINT),
                                '0')) AS INT) AS maxrank
  FROM nodes)"""
    ]
    for t in range(1, max_radius + 1):
        sql.append(
            f""",
h{t} AS (
  SELECT node, reg, MAX(maxrank) AS maxrank FROM (
    SELECT node, reg, maxrank FROM h{t - 1}
    UNION ALL
    SELECT e.src AS node, h.reg, h.maxrank
    FROM e JOIN h{t - 1} h ON h.node = e.dst)
  GROUP BY node, reg)"""
        )
    return "".join(sql)

_ORACLE_SPARQL_TEXT = {
    "sparql_text_group_agg": f"""
WITH triples AS ({_T})
SELECT obj AS nation, count(*) AS n_customers FROM triples
WHERE pred = 'inNation' AND subj LIKE 'customer:%'
GROUP BY obj HAVING count(*) >= 2
""",
    "sparql_text_bind_values": f"""
WITH triples AS ({_T})
SELECT subj AS region, obj AS region_name, length(obj) AS name_len
FROM triples WHERE pred = 'name' AND subj LIKE 'region:%'
AND obj IN ('ASIA', 'EUROPE')
""",
    "sparql_text_minus": f"""
WITH triples AS ({_T})
SELECT subj AS nation FROM triples t WHERE pred = 'inRegion'
AND NOT EXISTS (SELECT 1 FROM triples s WHERE s.pred = 'inNation'
                AND s.subj LIKE 'supplier:%' AND s.obj = t.subj)
""",
    "sparql_text_exists": f"""
WITH triples AS ({_T})
SELECT subj AS nation FROM triples t WHERE pred = 'inRegion'
AND EXISTS (SELECT 1 FROM triples c WHERE c.pred = 'inNation'
            AND c.subj LIKE 'customer:%' AND c.obj = t.subj)
""",
    "sparql_text_path": f"""
WITH RECURSIVE triples AS ({_T}),
edges AS (SELECT subj AS src, obj AS dst FROM triples WHERE pred = 'nextNation'),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
cn AS (SELECT subj AS c, obj AS n FROM triples
       WHERE pred = 'inNation' AND subj LIKE 'customer:%'),
nr AS (SELECT subj AS n, obj AS region FROM triples WHERE pred = 'inRegion')
SELECT cn.c, nr.region, reach.dst AS reach
FROM cn JOIN nr USING (n) JOIN reach ON reach.src = cn.n
""",
    "sparql_text_ask": f"""
WITH triples AS ({_T})
SELECT EXISTS (SELECT 1 FROM triples WHERE pred = 'name' AND obj = 'MIDDLE EAST') AS ask
""",
    "sparql_text_construct": f"""
WITH triples AS ({_T})
SELECT DISTINCT cn.subj AS subj, 'inRegionT' AS pred, nr.obj AS obj
FROM triples cn JOIN triples nr ON nr.pred = 'inRegion' AND nr.subj = cn.obj
WHERE cn.pred = 'inNation' AND cn.subj LIKE 'customer:%'
""",
    "sparql_text_offset": f"""
WITH triples AS ({_T})
SELECT obj AS nation_name FROM triples
WHERE pred = 'name' AND obj LIKE 'NATION\\_%' ESCAPE '\\'
ORDER BY nation_name ASC LIMIT 5 OFFSET 3
""",
    "sparql_text_subselect": f"""
WITH triples AS ({_T}),
names AS (SELECT subj AS n, obj AS nation_name FROM triples
          WHERE pred = 'name' AND subj LIKE 'nation:%'),
counts AS (SELECT obj AS n, count(*) AS n_cust FROM triples
           WHERE pred = 'inNation' AND subj LIKE 'customer:%' GROUP BY obj)
SELECT nation_name, n_cust FROM names JOIN counts USING (n)
""",
    "sparql_text_describe": f"""
WITH triples AS ({_T})
SELECT subj, pred, obj FROM triples WHERE subj = 'nation:0' OR obj = 'nation:0'
""",
}

_ORACLE_SPARQL = {
    "sparql_bgp_join": f"""
WITH triples AS ({_T})
SELECT c.subj AS customer, c.obj AS nation
FROM triples c
JOIN triples nr ON nr.pred = 'inRegion' AND nr.subj = c.obj
JOIN triples r  ON r.pred = 'name' AND r.obj = 'ASIA' AND r.subj = nr.obj
WHERE c.pred = 'inNation' AND c.subj LIKE 'customer:%'
""",
    "sparql_optional": f"""
WITH triples AS ({_T}),
nations AS (SELECT subj AS nation, obj AS nation_name FROM triples
            WHERE pred = 'name' AND subj LIKE 'nation:%'),
sup AS (SELECT subj AS supplier, obj AS nation FROM triples
        WHERE pred = 'inNation' AND subj LIKE 'supplier:%')
SELECT n.nation, n.nation_name, s.supplier
FROM nations n LEFT JOIN sup s ON n.nation = s.nation
""",
    "sparql_union": f"""
WITH triples AS ({_T})
SELECT subj AS entity, obj AS entity_name FROM triples
WHERE pred = 'name' AND subj LIKE 'region:%'
UNION ALL
SELECT subj, obj FROM triples WHERE pred = 'name' AND subj LIKE 'nation:%'
""",
    "sparql_minus": f"""
WITH triples AS ({_T})
SELECT subj AS nation FROM triples t WHERE pred = 'inRegion'
AND NOT EXISTS (SELECT 1 FROM triples s WHERE s.pred = 'inNation'
                AND s.subj LIKE 'supplier:%' AND s.obj = t.subj)
""",
    "sparql_exists": f"""
WITH triples AS ({_T})
SELECT subj AS nation FROM triples t WHERE pred = 'inRegion'
AND EXISTS (SELECT 1 FROM triples c WHERE c.pred = 'inNation'
            AND c.subj LIKE 'customer:%' AND c.obj = t.subj)
""",
    "sparql_group_agg": f"""
WITH triples AS ({_T})
SELECT obj AS nation, count(*) AS n_customers FROM triples
WHERE pred = 'inNation' AND subj LIKE 'customer:%'
GROUP BY obj HAVING count(*) >= 2
""",
    "sparql_group_concat": f"""
WITH triples AS ({_T}),
nreg AS (SELECT subj AS nation, obj AS region FROM triples WHERE pred = 'inRegion'),
names AS (SELECT subj AS nation, obj AS nation_name FROM triples
          WHERE pred = 'name' AND subj LIKE 'nation:%')
SELECT region, string_agg(nation_name, ',' ORDER BY nation_name) AS members
FROM nreg JOIN names USING (nation) GROUP BY region
""",
    "sparql_distinct_order_limit": f"""
WITH triples AS ({_T})
SELECT DISTINCT subj AS customer FROM triples
WHERE pred = 'mktsegment' AND obj = 'BUILDING'
ORDER BY customer DESC LIMIT 3
""",
    "sparql_values_bind": f"""
WITH triples AS ({_T})
SELECT subj AS region, obj AS region_name, length(obj) AS name_len
FROM triples WHERE pred = 'name' AND subj LIKE 'region:%'
AND obj IN ('ASIA', 'EUROPE')
""",
    "sparql_filter_regex": f"""
WITH triples AS ({_T})
SELECT subj AS nation, obj AS nation_name FROM triples
WHERE pred = 'name' AND regexp_matches(obj, '^NATION_1[0-9]$')
""",
    "sparql_path_plus": f"""
WITH RECURSIVE triples AS ({_T}),
edges AS (SELECT subj AS src, obj AS dst FROM triples WHERE pred = 'nextNation'),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src, dst FROM reach
""",
    "sparql_text_select": f"""
WITH triples AS ({_T}),
nreg AS (SELECT subj AS nation, obj AS r FROM triples WHERE pred = 'inRegion'),
names AS (SELECT subj AS nation, obj AS nation_name FROM triples WHERE pred = 'name')
SELECT nation, nation_name
FROM nreg JOIN names USING (nation)
WHERE regexp_matches(nation_name, '^NATION_[0-9]$') AND r <> 'region:0'
""",
    "sparql_ask": f"""
WITH triples AS ({_T})
SELECT EXISTS (SELECT 1 FROM triples WHERE pred = 'name' AND obj = 'MIDDLE EAST') AS ask
""",
    "sparql_construct": f"""
WITH triples AS ({_T})
SELECT cn.subj AS subj, 'inRegionT' AS pred, nr.obj AS obj
FROM triples cn JOIN triples nr ON nr.pred = 'inRegion' AND nr.subj = cn.obj
WHERE cn.pred = 'inNation' AND cn.subj LIKE 'customer:%'
""",
}


# ---------------------------------------------------------------------------
# relational / TPC-H-ish family (the reference's SELECT+agg surface at scale)


def q_tpch_q1(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2000-01-01")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_tpch_q5(spark, sf_dir):
    """Multi-way join through the star schema with a broadcast dim
    chain (region→nation) and an agg by nation."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == sup.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q_tpch_q6(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def q_window_topk_per_group(spark, sf_dir):
    """Top-2 orders by totalprice per priority — window row_number
    (the SPARQL-extension window surface, SURVEY.md §2B last row).

    r06: WindowGroupLimit already prunes to 2 rows per group on the
    map side, but the map-side SORT it needs ran on the scan's 2
    row-group splits — `widen_if_narrow` repartitions the scan first
    (column pruning keeps the exchange at the 3 columns the window
    reads) so the per-partition sorts parallelize (orders.parquet is 2
    row groups; measured 1.46→1.26 s at sf1.0, identical rows). A
    well-split table at scale skips the extra exchange."""
    from rdf_diff_store_spark.sources.relational import widen_if_narrow

    orders = widen_if_narrow(load_table(spark, sf_dir, "orders"), "o_orderkey", sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rn")
    )


_ORACLE_RELATIONAL = {
    "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    "tpch_q3": """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
    "tpch_q5": """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
    "tpch_q6": """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    "window_topk_per_group": """
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 2
""",
}


# ---------------------------------------------------------------------------
# training-data / documents family


def q_doc_token_count(spark, sf_dir):
    from rdf_diff_store_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def q_doc_exact_dedup(spark, sf_dir):
    """Exact dedup: canonical keep = min doc_id per content hash."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
    )


def q_doc_lang_stats(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


def q_doc_quality_score(spark, sf_dir):
    """Quality heuristics JVM-side: alpha ratio + mean token length.

    r06: documents.parquet is a single row group (2-split scan), so
    the regex work ran on 2 cores; repartition to core count first —
    measured at sf1.0: 0.91 s → 0.35 s, identical rows (guide §2.5).
    Guarded on actual scan parallelism so a well-split table at scale
    skips the shuffle. An empty document's alpha ratio is NULL
    (functions/text.py::quality_features), as in the oracle."""
    from rdf_diff_store_spark.functions.text import quality_features
    from rdf_diff_store_spark.sources.relational import widen_if_narrow

    docs = widen_if_narrow(load_table(spark, sf_dir, "documents"), "doc_id", sf_dir, "documents")
    q = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        q["alpha_ratio"].alias("alpha_ratio"),
        q["mean_tok_len"].alias("mean_tok_len"),
    )


def q_training_set_selection(spark, sf_dir):
    """End-to-end training-data selection: quality gate (alpha ratio,
    token range) → language allowlist → exact dedup keep-first. The
    composition every large-scale corpus pipeline runs before
    tokenization; all JVM expressions + one hash-agg. The alpha ratio
    is functions/text.py::quality_features' (NULL on an empty
    document, which the gate then drops)."""
    from rdf_diff_store_spark.functions.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    q = quality_features(F.col("text"))
    n_tok = q["n_tokens"]
    filtered = docs.filter(
        (F.col("lang").isin("en", "de", "fr"))
        & (n_tok.between(20, 200))
        & (q["alpha_ratio"] >= 0.7)
    )
    kept = (
        filtered.select(F.md5("text").alias("h"), "doc_id", "lang", n_tok.alias("n_tokens"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        )
        .drop("h")
    )
    return kept


_ORACLE_DOCS = {
    "training_set_selection": r"""
WITH filtered AS (
  SELECT doc_id, lang, md5(text) AS h,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
  WHERE lang IN ('en', 'de', 'fr')
    AND len(string_split_regex(trim(text), '\s+')) BETWEEN 20 AND 200
    AND round(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text), 4) >= 0.7
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM filtered
)
SELECT doc_id, lang, n_tokens FROM ranked WHERE rn = 1
""",
    "doc_token_count": r"""
SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens FROM documents
""",
    "doc_exact_dedup": """
SELECT md5(text) AS content_md5, min(doc_id) AS keep_doc_id, count(*) AS n_docs
FROM documents GROUP BY md5(text)
""",
    "doc_lang_stats": """
SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
FROM documents GROUP BY lang
""",
    "doc_quality_score": r"""
SELECT doc_id,
       round(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text), 4) AS alpha_ratio,
       round(len(text) * 1.0 / len(string_split_regex(trim(text), '\s+')), 4) AS mean_tok_len
FROM documents
""",
}


# ---------------------------------------------------------------------------
# embeddings / similarity family


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 neighbors for query vectors
    (vec_id < 5). Dot/norm via F.aggregate+F.zip_with — JVM-side,
    no Python. The scale path is LSH bucketing (operators.similarity);
    this is the exact baseline.

    r06: (a) embeddings.parquet is a single row group, so the cross-
    join's streamed side inherited a 2-task scan and the per-pair dot
    products ran nearly serial — repartition to core count first
    (guide §2.5 "unsplittable input → repartition after the read");
    (b) each vector's self-norm is computed ONCE per row before the
    join instead of once per PAIR (it was 2/3 of the per-pair
    expression work; identical arithmetic, so cos_sim is bit-equal).
    Measured at sf1.0: 2.03 s → 0.54 s, identical rows. Guarded on
    actual scan parallelism so a well-split table skips the shuffle."""
    from rdf_diff_store_spark.sources.relational import widen_if_narrow

    emb = widen_if_narrow(load_table(spark, sf_dir, "embeddings"), "vec_id", sf_dir, "embeddings")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    normed = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("_norm"),
    )
    q = normed.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("_norm").alias("_qn"),
    )
    c = normed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("_norm").alias("_cn"),
    )
    pairs = q.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    sim = dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("cos_sim", F.round(sim, 4))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact baseline; the IVF-
    bucketed scale path is operators.dedup.embedding_near_dup with
    exact=False)."""
    from rdf_diff_store_spark.operators.dedup import embedding_near_dup

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup(emb, threshold=0.45, exact=True)
    return pairs.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))


_ORACLE_EMB = {
    "embedding_near_dup": """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45
""",
    "ann_cosine_topk": """
SELECT query_id, neighbor_id, cos_sim, rn FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cos_sim,
         row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) DESC,
                      c.vec_id) AS rn
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 5
) WHERE rn <= 3
""",
}


# --- portable ANN oracles (r03 verdict #3) -------------------------------
# The Spark operators derive hyperplanes / default centroids from md5
# bits (similarity.md5_planes/md5_centroids) and project QUANTIZED
# integer embeddings, so bucket and cell assignment is exact integer
# arithmetic. These builders inline the SAME integers as BIGINT[]
# literals; DuckDB's list_dot_product accumulates the ≤2^41 integer
# dots exactly in DOUBLE, so candidate sets match bit-for-bit. The
# re-rank reuses the driver-green round-4 cosine recipe above.

_EMB_QUANTIZED = """
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
  FROM embeddings
"""

_ANN_RERANK = """
rer AS (
  SELECT p.query_id, p.neighbor_id,
         round(list_cosine_similarity(q.ev, c.ev), 4) AS cos_sim
  FROM pairs p JOIN emb q ON q.vec_id = p.query_id
               JOIN emb c ON c.vec_id = p.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rn FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM rer
) WHERE rn <= {k}
"""


def _bigint_list(ints) -> str:
    return "[" + ",".join(map(str, ints)) + "]::BIGINT[]"


def _ann_lsh_oracle(k=5, n_planes=4, n_tables=3, dim=64, q_max=20) -> str:
    from rdf_diff_store_spark.operators.similarity import md5_planes

    qparts, cparts = [], []
    for t in range(n_tables):
        planes = md5_planes(n_planes, dim, t)
        bexpr = " + ".join(
            f"(CASE WHEN list_dot_product(qv, {_bigint_list(planes[p])}) >= 0"
            f" THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )
        probes = ", ".join(["b"] + [f"xor(b, {1 << p})" for p in range(n_planes)])
        qparts.append(
            f"SELECT vec_id, {t} AS tbl, unnest([{probes}]) AS bucket FROM "
            f"(SELECT vec_id, {bexpr} AS b FROM emb WHERE vec_id < {q_max})"
        )
        cparts.append(f"SELECT vec_id, {t} AS tbl, {bexpr} AS bucket FROM emb")
    qb = " UNION ALL ".join(qparts)
    cb = " UNION ALL ".join(cparts)
    return f"""
WITH emb AS ({_EMB_QUANTIZED}),
qb AS ({qb}),
cb AS ({cb}),
pairs AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM qb JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
  WHERE qb.vec_id <> cb.vec_id
),
{_ANN_RERANK.format(k=k)}
"""


def _ann_ivf_oracle(k=5, n_centroids=8, n_probe=4, dim=64, q_max=20) -> str:
    from rdf_diff_store_spark.operators.similarity import md5_centroids

    vals = ", ".join(
        f"({i}, {_bigint_list(c)})"
        for i, c in enumerate(md5_centroids(n_centroids, dim))
    )
    return f"""
WITH emb AS ({_EMB_QUANTIZED}),
cent(cell, cv) AS (VALUES {vals}),
score AS (
  SELECT e.vec_id, c.cell,
         list_dot_product(e.qv, c.cv) / sqrt(list_dot_product(c.cv, c.cv)) AS s
  FROM emb e CROSS JOIN cent c
),
cand AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
    FROM score) WHERE rn = 1
),
qry AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
    FROM score WHERE vec_id < {q_max}) WHERE rn <= {n_probe}
),
pairs AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM qry q JOIN cand c ON q.cell = c.cell
  WHERE q.vec_id <> c.vec_id
),
{_ANN_RERANK.format(k=k)}
"""


_ORACLE_EMB["ann_lsh_topk"] = _ann_lsh_oracle()
_ORACLE_EMB["ann_ivf_topk"] = _ann_ivf_oracle()


# ---------------------------------------------------------------------------
# versioned-store extras


def q_version_history(spark, sf_dir):
    """Per-graph version statistics over the full changelog."""
    log = changelog_from_events(spark, sf_dir)
    return log.groupBy("graph_id").agg(
        F.count("*").alias("n_versions"),
        F.sum((F.col("op") == "delete").cast("int")).alias("n_deletes"),
        _ntz_us(F.min("ts")).alias("first_us"),
        _ntz_us(F.max("ts")).alias("last_us"),
    )


def q_sparql_over_snapshot(spark, sf_dir):
    """The reference's complete request lifecycle as ONE oracle-checked
    query: changelog → snapshot_at(T_MID) → triples (mapInPandas
    parse) → SPARQL string evaluated by the text front-end
    (GET /api/sparql/{ts}?query=..., src/bin/rdf-query-cache.rs:44-79)."""
    from rdf_diff_store_spark.operators.versioned import snapshot_triples
    from rdf_diff_store_spark.plans.sparql_text import sparql_query

    triples = snapshot_triples(changelog_from_events(spark, sf_dir), T_MID)
    return sparql_query(
        triples,
        """
        SELECT ?s ?v WHERE {
          ?s <http://ex.org/value> ?v . FILTER (?v >= 500000)
        }
        """,
    )


def q_sparql_text_graph(spark, sf_dir):
    """GRAPH clause over the versioned store: bind each named graph's
    id while matching inside it (the reference's named-graph axis is
    the per-graph file; here it's the graph_id column)."""
    from rdf_diff_store_spark.operators.versioned import snapshot_triples
    from rdf_diff_store_spark.plans.sparql_text import sparql_query

    triples = snapshot_triples(changelog_from_events(spark, sf_dir), T_MID)
    return sparql_query(
        triples,
        """
        SELECT ?g ?v WHERE {
          GRAPH ?g { ?s <http://ex.org/value> ?v . FILTER (?v >= 500000) }
        }
        """,
    )


def q_ntriples_ingest(spark, sf_dir):
    """Format-dispatched ingest (O-13 + models::Graph.format,
    src/models/graph.rs:14-22): the events payloads declared as
    application/n-triples run through the mapInPandas canonicalizer;
    output is each add's canonical content hash. Unknown formats would
    raise (pinned by test_format_dispatch_rejects_unknown)."""
    from rdf_diff_store_spark.operators.versioned import canonical_changelog_row

    ev = changelog_from_events(spark, sf_dir)
    ups = ev.select(
        "graph_id", "ts", "op", "payload", F.lit("application/n-triples").alias("format")
    )
    rows = canonical_changelog_row(ups)
    return rows.filter(F.col("op") == "add").select(
        "graph_id", F.col("content_hash").alias("canon_hash")
    )


def q_snapshot_as_turtle(spark, sf_dir):
    """O-12 snapshot-as-document: parse the snapshot payloads to
    triples (mapInPandas) and re-serialize canonically — the
    GET /api/graphs/{ts} path. Round-trips byte-identically."""
    from rdf_diff_store_spark.functions.turtle import parse_triples, serialize_graph

    snap = snapshot_at(changelog_from_events(spark, sf_dir), T_MID)
    return serialize_graph(parse_triples(snap))


_ORACLE_VERSIONED_EXTRA = {
    "version_history": f"""
WITH changelog AS ({CHANGELOG_FROM_EVENTS_SQL})
SELECT graph_id, count(*) AS n_versions,
       -- DuckDB sum(int) is HUGEINT (int128) → pandas float64; cast to
       -- BIGINT so the value hash matches Spark's LONG (driver r01 fail)
       CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
       epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us
FROM changelog GROUP BY graph_id
""",
    "snapshot_as_turtle": f"""
WITH snap AS ({_snapshot_sql(T_MID)})
SELECT graph_id, payload AS doc FROM snap
""",
    "sparql_over_snapshot": f"""
WITH snap AS ({_snapshot_sql(T_MID)}),
triples AS (SELECT regexp_extract(payload, '^<([^>]*)>', 1) AS subj,
                   regexp_extract(payload, '"([^"]*)"', 1) AS obj
            FROM snap)
SELECT subj AS s, obj AS v FROM triples WHERE CAST(obj AS DOUBLE) >= 500000
""",
    "sparql_text_graph": f"""
WITH snap AS ({_snapshot_sql(T_MID)})
SELECT graph_id AS g, regexp_extract(payload, '"([^"]*)"', 1) AS v
FROM snap WHERE CAST(regexp_extract(payload, '"([^"]*)"', 1) AS DOUBLE) >= 500000
""",
    # canonicalize() of an already-canonical single N-Triples line is
    # that line + trailing newline, so the oracle hash is
    # sha256(payload || chr(10))
    "ntriples_ingest": f"""
WITH changelog AS ({CHANGELOG_FROM_EVENTS_SQL})
SELECT graph_id, sha256(payload || chr(10)) AS canon_hash
FROM changelog WHERE op = 'add'
""",
}


# ---------------------------------------------------------------------------
# SPARQL extras


def q_sparql_path_alt_inverse(spark, sf_dir):
    """Path alternative + inverse: (nextNation | ^nextNation)."""
    t = triples_from_tpch(spark, sf_dir)
    e = t.filter(F.col("pred") == "nextNation").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    inv = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return e.unionByName(inv).distinct()


def q_sparql_path_star(spark, sf_dir):
    """p* = identity on path nodes ∪ transitive closure."""
    t = triples_from_tpch(spark, sf_dir)
    e = t.filter(F.col("pred") == "nextNation").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    nodes = e.select(F.col("src").alias("n")).unionByName(
        e.select(F.col("dst").alias("n"))
    ).distinct()
    ident = nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))
    return transitive_closure(e).unionByName(ident).distinct()


def q_sparql_optional_filter(spark, sf_dir):
    """OPTIONAL { ?c inNation ?n . ?c acctbalCents ?b FILTER(?b > 900000) }
    → left join with a numeric filter on the optional side, counting
    rich customers per nation (0 allowed)."""
    t = triples_from_tpch(spark, sf_dir)
    nations = t.filter(F.col("pred") == "inRegion").select(F.col("subj").alias("nation"))
    cn = t.filter((F.col("pred") == "inNation") & F.col("subj").startswith("customer:")).select(
        F.col("subj").alias("customer"), F.col("obj").alias("nation")
    )
    rich = t.filter(
        (F.col("pred") == "acctbalCents") & (F.col("obj").cast("long") > 900000)
    ).select(F.col("subj").alias("customer"))
    rich_per_nation = cn.join(rich, "customer")
    return (
        nations.join(rich_per_nation, "nation", "left_outer")
        .groupBy("nation")
        .agg(F.count("customer").alias("n_rich"))
    )


def q_sparql_sample_min(spark, sf_dir):
    """SAMPLE(?n) per region — deterministic min-based sample."""
    t = triples_from_tpch(spark, sf_dir)
    nreg = t.filter(F.col("pred") == "inRegion").select(
        F.col("subj").alias("nation"), F.col("obj").alias("region")
    )
    names = t.filter(
        (F.col("pred") == "name") & F.col("subj").startswith("nation:")
    ).select(F.col("subj").alias("nation"), F.col("obj").alias("nation_name"))
    return (
        nreg.join(names, "nation")
        .groupBy("region")
        .agg(F.min("nation_name").alias("sample_nation"))
    )


_ORACLE_SPARQL_EXTRA = {
    "sparql_path_alt_inverse": f"""
WITH triples AS ({_T}),
e AS (SELECT subj AS src, obj AS dst FROM triples WHERE pred = 'nextNation')
SELECT src, dst FROM e UNION SELECT dst, src FROM e
""",
    "sparql_path_star": f"""
WITH RECURSIVE triples AS ({_T}),
e AS (SELECT subj AS src, obj AS dst FROM triples WHERE pred = 'nextNation'),
reach AS (SELECT src, dst FROM e
          UNION SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e)
SELECT src, dst FROM reach UNION SELECT n, n FROM nodes
""",
    "sparql_optional_filter": f"""
WITH triples AS ({_T}),
nations AS (SELECT subj AS nation FROM triples WHERE pred = 'inRegion'),
cn AS (SELECT subj AS customer, obj AS nation FROM triples
       WHERE pred = 'inNation' AND subj LIKE 'customer:%'),
rich AS (SELECT subj AS customer FROM triples
         WHERE pred = 'acctbalCents' AND CAST(obj AS BIGINT) > 900000)
SELECT n.nation, count(r.customer) AS n_rich
FROM nations n
LEFT JOIN (SELECT cn.customer, cn.nation FROM cn JOIN rich USING (customer)) r
  ON n.nation = r.nation
GROUP BY n.nation
""",
    "sparql_sample_min": f"""
WITH triples AS ({_T}),
nreg AS (SELECT subj AS nation, obj AS region FROM triples WHERE pred = 'inRegion'),
names AS (SELECT subj AS nation, obj AS nation_name FROM triples
          WHERE pred = 'name' AND subj LIKE 'nation:%')
SELECT region, min(nation_name) AS sample_nation
FROM nreg JOIN names USING (nation) GROUP BY region
""",
}


# ---------------------------------------------------------------------------
# relational extras (windows, grouping sets, as-of, sessionization, fns)


def q_cube_agg(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def q_pivot_status(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


def q_sessionize(spark, sf_dir):
    """Sessions per user (30-min inactivity gap) — lag + cumulative
    new-session flags, the classic sessionization window pattern."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ-native gap arithmetic: timezone-proof (no cast-to-instant),
    # immune to DST-bearing driver session timezones
    gap_us = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    new_sess = (F.col("_gap").isNull() | (F.col("_gap") > 1800 * 1_000_000)).cast("int")
    return (
        ev.withColumn("_gap", gap_us)
        .withColumn("_new", new_sess)
        .groupBy("user_id")
        .agg(F.sum("_new").alias("n_sessions"), F.count("*").alias("n_events"))
    )


def q_asof_join(spark, sf_dir):
    """As-of join: for each purchase, the latest signup ts (same user,
    signup.ts <= purchase.ts). Implemented scale-first: one window
    over the event stream (rangeBetween unbounded→current on event
    time), no self-join."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(_ntz_us(F.col("ts")))
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    sign_ts = F.max(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    return (
        ev.withColumn("_sign", sign_ts)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", _ntz_us(F.col("_sign")).alias("last_signup_us"))
    )


def q_string_date_fns(spark, sf_dir):
    """SPARQL builtin-function surface: SUBSTR/UCASE/REPLACE/CONTAINS/
    STRLEN + YEAR/MONTH/DAY (SURVEY.md §2B builtins table)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio3"),
        F.regexp_replace("o_orderpriority", "-", " ").alias("prio_spaced"),
        F.col("o_orderpriority").contains("URGENT").alias("is_urgent"),
        F.length("o_orderpriority").alias("prio_len"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
    )


def q_hash_fns(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 20)
    return cust.select(
        "c_custkey",
        F.md5(F.col("c_name")).alias("name_md5"),
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
    )


def q_subquery_avg(spark, sf_dir):
    """Scalar subquery: customers above global average balance.
    One plan — the 1-row aggregate is broadcast-cross-joined, not
    collected to the driver (no second job)."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.agg(F.avg("c_acctbal").alias("_avg"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .select("c_custkey")
    )


def q_set_ops(spark, sf_dir):
    """INTERSECT: nations having both customers and suppliers."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(sup)


def q_events_json(spark, sf_dir):
    """JSON extraction from the props column (semi-structured path)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"), F.max(k).alias("max_k")
    )


def q_window_running_sum(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


def q_percentile(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", 0.5), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90_price"),
    )


_ORACLE_RELATIONAL_EXTRA = {
    "cube_agg": """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    "pivot_status": """
SELECT o_orderpriority,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
FROM orders GROUP BY o_orderpriority
""",
    "sessionize": """
WITH lagged AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
  FROM events
)
SELECT user_id,
       CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM lagged GROUP BY user_id
""",
    "asof_join": """
SELECT p.event_id, epoch_us(max(s.ts)) AS last_signup_us
FROM events p
LEFT JOIN events s
  ON s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
""",
    "string_date_fns": """
SELECT o_orderkey,
       upper(substr(o_orderpriority, 1, 3)) AS prio3,
       replace(o_orderpriority, '-', ' ') AS prio_spaced,
       contains(o_orderpriority, 'URGENT') AS is_urgent,
       length(o_orderpriority) AS prio_len,
       year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d
FROM orders WHERE o_orderkey < 500
""",
    "hash_fns": """
SELECT c_custkey, md5(c_name) AS name_md5, sha256(c_name) AS name_sha256
FROM customer WHERE c_custkey < 20
""",
    "subquery_avg": """
SELECT c_custkey FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
""",
    "set_ops": """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""",
    "events_json": """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
""",
    "window_running_sum": """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey), 2) AS running_total
FROM orders WHERE o_custkey < 50
""",
    "percentile": """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
FROM orders GROUP BY o_orderstatus
""",
}


# ---------------------------------------------------------------------------
# documents extras: portable MinHash-LSH, Jaccard top-k, lang-id,
# fingerprint — plus rows-only operators (simhash, ANN, KG pipeline)

_SHINGLE_SEEDS = 8


def _doc_shingles_col():
    words = F.split(F.trim(F.col("text")), r"\s+")
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - 2, F.lit(1)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i),
                F.element_at(words, (i + 1)),
                F.element_at(words, (i + 2)),
            ),
        )
    )


_DOC_SHINGLES_SQL = r"""
SELECT doc_id, list_distinct(list_transform(
         generate_series(1, greatest(len(w) - 2, 1)),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    """Portable MinHash-LSH: signature component s = lexicographic min
    of md5(s || '|' || shingle); band size 1 → candidate pair iff any
    component matches. md5 strings compare identically in Spark and
    DuckDB, so the whole LSH pipeline is oracle-checkable. Query side
    capped to doc_id < 100."""
    docs = load_table(spark, sf_dir, "documents")
    sig = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_SHINGLE_SEEDS - 1)),
                lambda s: F.array_min(
                    F.transform(
                        _doc_shingles_col(),
                        lambda x: F.md5(F.concat(s.cast("string"), F.lit("|"), x)),
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )
    a = sig.select("band", "band_hash", F.col("doc_id").alias("id_a")).filter(
        F.col("id_a") < 100
    )
    b = sig.select("band", "band_hash", F.col("doc_id").alias("id_b"))
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def q_ngram_jaccard_topk(spark, sf_dir):
    """Exact 3-gram Jaccard top-3 neighbors for doc_id < 10."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", _doc_shingles_col().alias("sh"))
    q = sh.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    c = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b")), 6
    )
    w = Window.partitionBy("id_a").orderBy(F.col("jaccard").desc(), F.col("id_b"))
    return (
        q.crossJoin(c)
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("jaccard", jac)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("id_a", "id_b", "jaccard", "rn")
    )


def q_doc_neardup_clusters(spark, sf_dir):
    """Near-duplicate document CLUSTERING — the C4/FineWeb training-set
    dedup workflow end-to-end: portable MinHash-LSH candidate pairs
    (band equi-join, never n²) → exact-Jaccard verification (≥ 0.5) →
    undirected connected components
    (operators/graph.py::connected_components, min-id canonical
    representative) → one keep per cluster. Output one row per doc:
    (doc_id, cluster_id, keep); docs in no verified pair are their own
    singleton cluster. The DuckDB twin reproduces the components with
    a WITH RECURSIVE min-label reachability (oracle-exact because the
    md5 minhash is engine-portable)."""
    from rdf_diff_store_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    # eager checkpoint: sh feeds the signature build AND both
    # verification joins (lazy localCheckpoints race when two branches
    # of one job materialize them)
    sh = docs.select("doc_id", _doc_shingles_col().alias("sh")).localCheckpoint()
    sig = sh.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_SHINGLE_SEEDS - 1)),
                lambda s: F.array_min(
                    F.transform(
                        F.col("sh"),
                        lambda x: F.md5(F.concat(s.cast("string"), F.lit("|"), x)),
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )
    a = sig.select("band", "band_hash", F.col("doc_id").alias("id_a"))
    b = sig.select("band", "band_hash", F.col("doc_id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    edges = (
        pairs.join(sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .filter(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b"))
            >= 0.5
        )
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    comp = connected_components(edges)
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            (cluster == F.col("doc_id")).alias("keep"),
        )
    )


def q_doc_token_count_bpe(spark, sf_dir):
    """BPE-ish pre-tokenization counts (letters/digits/punct runs) —
    the corpus-budget number; whitespace counting undercounts
    punctuation-heavy text."""
    from rdf_diff_store_spark.functions.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", bpe_token_count(F.col("text")).alias("n_bpe_tokens"))


def q_doc_winnow_fingerprints(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprint count per document
    (Schleimer/Wilkerson/Aiken): md5 of every k=5-char gram, the
    minimum of each w=4 window, distinct window mins = the fingerprint
    set. md5 keeps it engine-portable."""
    from rdf_diff_store_spark.operators.dedup import bind_once

    docs = load_table(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))

    def gram_hashes(s):
        n = F.greatest(F.length(s) - 4, F.lit(1))
        return F.transform(F.sequence(F.lit(1), n), lambda i: F.md5(s.substr(i, F.lit(5))))

    def window_mins(hs):
        n = F.greatest(F.size(hs) - 3, F.lit(1))
        return F.array_distinct(
            F.transform(F.sequence(F.lit(1), n), lambda i: F.array_min(F.slice(hs, i, 4)))
        )

    fps = bind_once(bind_once(t, gram_hashes), window_mins)
    return docs.select("doc_id", F.size(fps).alias("n_fingerprints"))


def q_doc_lang_id(spark, sf_dir):
    """Stopword-scoring language id (functions.text.lang_id_scores)."""
    from rdf_diff_store_spark.functions.text import lang_id_scores

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_scores(F.col("text")).alias("lang_guess"))


def q_doc_fingerprint(spark, sf_dir):
    """Content fingerprint (md5 of normalized text for portability;
    the library's hot path uses xxhash64)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    )


def _lang_id_oracle_sql() -> str:
    from rdf_diff_store_spark.functions.text import _STOPWORDS

    score_cols = []
    for lang, words in _STOPWORDS.items():
        parts = " + ".join(
            rf"(len(string_split_regex(padded, '\s{w}\s')) - 1)" for w in words
        )
        score_cols.append(f"({parts}) AS s_{lang}")
    lang_expr, score_expr = "'und'", "0"
    for lang in _STOPWORDS:
        s = f"s_{lang}"
        lang_expr = f"CASE WHEN {s} > ({score_expr}) THEN '{lang}' ELSE ({lang_expr}) END"
        score_expr = f"CASE WHEN {s} > ({score_expr}) THEN {s} ELSE ({score_expr}) END"
    return f"""
WITH padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS padded FROM documents),
scores AS (SELECT doc_id, {', '.join(score_cols)} FROM padded)
SELECT doc_id, {lang_expr} AS lang_guess FROM scores
"""


_ORACLE_DOCS_EXTRA = {
    "minhash_lsh_pairs": f"""
WITH sh AS ({_DOC_SHINGLES_SQL}),
sig AS (
  SELECT doc_id, s.b AS band,
         list_min(list_transform(shingles, x -> md5(s.b::VARCHAR || '|' || x))) AS band_hash
  FROM sh, generate_series(0, {_SHINGLE_SEEDS - 1}) s(b)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM sig a JOIN sig b ON a.band = b.band AND a.band_hash = b.band_hash
WHERE a.doc_id < 100 AND a.doc_id < b.doc_id
""",
    "ngram_jaccard_topk": f"""
WITH sh AS ({_DOC_SHINGLES_SQL})
SELECT id_a, id_b, jaccard, rn FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(len(list_intersect(a.shingles, b.shingles)) * 1.0
               / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard,
         row_number() OVER (
           PARTITION BY a.doc_id
           ORDER BY round(len(list_intersect(a.shingles, b.shingles)) * 1.0
               / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) DESC,
               b.doc_id) AS rn
  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
  WHERE a.doc_id < 10
) WHERE rn <= 3
""",
    "doc_neardup_clusters": f"""
WITH RECURSIVE sh AS ({_DOC_SHINGLES_SQL}),
sig AS (
  SELECT doc_id, s.b AS band,
         list_min(list_transform(shingles, x -> md5(s.b::VARCHAR || '|' || x))) AS band_hash
  FROM sh, generate_series(0, {_SHINGLE_SEEDS - 1}) s(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sh a ON a.doc_id = cand.id_a
  JOIN sh b ON b.doc_id = cand.id_b
  WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0
        / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
),
undirected AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL
  SELECT id_b, id_a FROM edges
),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM sh
  UNION
  SELECT e.v AS id, reach.r
  FROM reach JOIN undirected e ON e.u = reach.id
)
SELECT id AS doc_id, min(r) AS cluster_id, id = min(r) AS keep
FROM reach GROUP BY id
""",
    "doc_token_count_bpe": r"""
SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS n_bpe_tokens
FROM documents
""",
    "doc_winnow_fingerprints": """
WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
h AS (SELECT doc_id,
             list_transform(generate_series(1, greatest(length(s) - 4, 1)),
                            i -> md5(substr(s, i, 5))) AS hs
      FROM t),
m AS (SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
                                          i -> list_min(hs[i:i+3]))) AS fps
      FROM h)
SELECT doc_id, len(fps) AS n_fingerprints FROM m
""",
    "doc_lang_id": _lang_id_oracle_sql(),
    "doc_fingerprint": """
SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents
""",
}


def q_doc_paragraph_dedup(spark, sf_dir):
    """Paragraph-level exact dedup (CCNet/RefinedWeb-style): explode
    sentence-ish units, hash, keep the first (doc_id, position)
    occurrence corpus-wide; report per-doc kept/total counts. All
    JVM-side: split + posexplode + md5 + min_by hash-agg."""
    docs = load_table(spark, sf_dir, "documents")
    paras = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\. ")).alias("pos", "para"),
    ).filter(F.length(F.trim("para")) > 0)
    firsts = (
        paras.select(F.md5(F.trim("para")).alias("h"), "doc_id", "pos")
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "pos")).alias("keep"))
        .select("h", F.col("keep.doc_id").alias("doc_id"), F.col("keep.pos").alias("pos"))
    )
    kept = firsts.groupBy("doc_id").agg(F.count("*").alias("n_kept"))
    total = paras.groupBy("doc_id").agg(F.count("*").alias("n_paras"))
    return total.join(kept, "doc_id", "left_outer").select(
        "doc_id", "n_paras", F.coalesce("n_kept", F.lit(0)).alias("n_kept")
    )


def q_doc_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition signal: fraction of duplicate word
    bigrams per document (high → boilerplate/spam). Pure array
    expressions — no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.greatest(F.size(words) - 1, F.lit(1))
    bigrams = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(" ", F.element_at(words, i), F.element_at(words, i + 1)),
    )
    dup_frac = (F.size(bigrams) - F.size(F.array_distinct(bigrams))) / F.size(bigrams)
    return docs.select("doc_id", F.round(dup_frac, 6).alias("dup_bigram_frac"))


def q_graph_pagerank(spark, sf_dir):
    """PageRank (5 fixed iterations, d=0.85) over the nextNation chain
    graph — the iterative-join operator shape (SURVEY §2B property
    paths / GraphFrames-style). Fixed iteration count makes it exactly
    reproducible in recursive SQL."""
    t = triples_from_tpch(spark, sf_dir)
    edges = t.filter(F.col("pred") == "nextNation").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("n"))
        .unionByName(edges.select(F.col("dst").alias("n")))
        .distinct()
        .localCheckpoint()
    )
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ranks = nodes.select("n", F.lit(1.0).alias("rank"))
    for _ in range(5):
        contribs = (
            edges.join(ranks, edges.src == ranks.n)
            .join(out_deg, "src")
            .select(F.col("dst").alias("n"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("n")
            .agg(F.sum("c").alias("c"))
        )
        ranks = nodes.join(contribs, "n", "left_outer").select(
            "n",
            (F.lit(0.15) + F.lit(0.85) * F.coalesce(F.col("c"), F.lit(0.0))).alias("rank"),
        ).localCheckpoint()
    return ranks.select(F.col("n").alias("node"), F.round("rank", 6).alias("pagerank"))


def q_graph_triangles(spark, sf_dir):
    """Triangle counting on the nations-sharing-a-region clique graph —
    ordered-edge join-join (each triangle counted once)."""
    t = triples_from_tpch(spark, sf_dir)
    nr = t.filter(F.col("pred") == "inRegion").select(
        F.col("subj").alias("nation"), F.col("obj").alias("region")
    )
    e = (
        nr.alias("a")
        .join(nr.alias("b"), "region")
        .filter(F.col("a.nation") < F.col("b.nation"))
        .select(F.col("a.nation").alias("u"), F.col("b.nation").alias("v"))
        .distinct()
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            e.alias("e3"),
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
    )
    return tri.agg(F.count("*").alias("n_triangles"))


def q_window_ntile(spark, sf_dir):
    """NTILE quartiles of order value per order status + lead/lag
    deltas — the remaining ranked-window surface."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2
        ).alias("delta_prev"),
    )


def q_embedding_quantize_int8(spark, sf_dir):
    """Symmetric int8 quantization of embedding vectors (the storage
    path for billion-vector corpora: 4x smaller, dot products stay
    proportional). Per-vector scale = 127/max|x|; all array
    expressions, no UDF. Output: checksum + scale per vector."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    scale = F.lit(127.0) / absmax
    q = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * scale).cast("int")
    )
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.aggregate(q, F.lit(0), lambda acc, v: acc + v).alias("q_sum"),
        F.array_max(q).alias("q_max"),
        F.array_min(q).alias("q_min"),
    )


def q_corpus_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: top-20 lowercased tokens by document
    frequency — the explode-count-rank shape every corpus audit runs."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))).alias("w")
    ).filter(F.length("w") > 0)
    return (
        words.groupBy("w")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("w"))
        .limit(20)
    )


def q_sql_over_snapshot(spark, sf_dir):
    """O-14's SQL-string surface: an arbitrary SQL query text evaluated
    against the registered snapshot views (plans/sql_api.py) — the
    Spark-SQL sibling of the SPARQL text front-end."""
    from rdf_diff_store_spark.plans.sql_api import execute_sql

    changelog = changelog_from_events(spark, sf_dir)
    return execute_sql(
        spark,
        changelog,
        T_MID,
        """
        SELECT pred, count(*) AS n_triples, count(DISTINCT subj) AS n_subjects
        FROM snapshot_triples GROUP BY pred
        """,
    )


def _portable_simhash16(docs):
    """Portable 16-bit SimHash frame (doc_id, simhash16): bit k of a
    token = parity of hex digit k of md5(token) (md5 hex is
    byte-identical across engines — the same trick as the portable
    MinHash oracle); signature bit k = sign of the token-vote sum."""
    words = F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
    odd = F.lit("13579bdf")

    def vote(k):
        # +1 if hex digit k of md5(word) is odd, else -1
        return F.aggregate(
            words,
            F.lit(0),
            lambda acc, w: acc
            + F.when(odd.contains(F.substring(F.md5(w), k, 1)), 1).otherwise(-1),
        )

    bits = [F.when(vote(k + 1) > 0, F.lit(1 << k)).otherwise(F.lit(0)) for k in range(16)]
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return docs.select("doc_id", sig.cast("bigint").alias("simhash16"))


def q_doc_simhash_portable(spark, sf_dir):
    """Portable 16-bit SimHash signatures (see _portable_simhash16):
    md5 bit votes per word, so the DuckDB oracle reproduces every
    signature bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return _portable_simhash16(docs)


def q_doc_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS: band the 16-bit signature into 4
    nibbles, equi-join docs sharing any nibble band (never n²), then
    verify hamming distance ≤ 3 with bit_count(xor) — the classic
    hamming-LSH pattern (a signature within distance d must agree on
    ≥1 of d+1 bands). All JVM expressions; the band join shuffles on
    (band, nibble), exactly the bucket shape that survives 100 TB."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sigs = _portable_simhash16(docs)
    bands = sigs.select(
        "doc_id",
        "simhash16",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright("simhash16", 4 * b)
                        .bitwiseAND(F.lit(15))
                        .alias("nib"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bn"),
    ).select("doc_id", "simhash16", F.col("bn.b").alias("b"), F.col("bn.nib").alias("nib"))
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("simhash16").alias("sig_a"), "b", "nib"
    )
    bb = bands.select(
        F.col("doc_id").alias("id_b"), F.col("simhash16").alias("sig_b"), "b", "nib"
    )
    cand = (
        a.join(bb, ["b", "nib"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.filter(ham <= 3).select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    )


def q_doc_stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sampling — hash-gate on
    md5(doc_id) so the SAME subset falls out on every run and engine
    (seedless reproducibility; rand()-based sampling can't be
    replayed). en keeps 1/16, other languages 1/4."""
    docs = load_table(spark, sf_dir, "documents")
    h1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = F.when(F.col("lang") == "en", h1 == "0").otherwise(
        h1.isin("0", "1", "2", "3")
    )
    return docs.filter(keep).select("doc_id", "lang")


def q_doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    3-gram shingle with the held-out eval set (doc_id < 10) — shingle
    md5 semi join, the standard train/test-overlap sweep before a
    training run."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(_doc_shingles_col()).alias("shingle")
    ).select("doc_id", F.md5("shingle").alias("h"))
    eval_sh = sh.filter(F.col("doc_id") < 10).select("h").distinct()
    train = sh.filter(F.col("doc_id") >= 10)
    return (
        train.join(F.broadcast(eval_sh), "h", "left_semi")
        .select("doc_id")
        .distinct()
    )


def q_session_window_agg(spark, sf_dir):
    """Session windows (30-min inactivity gap) via F.session_window —
    the streaming stateful-window operator run over the bounded table
    (identical semantics, oracle-checkable). Complements `sessionize`
    (which pins the lag+cumsum formulation) by exercising Spark's
    native session-window operator."""
    ev = load_table(spark, sf_dir, "events")
    win = F.session_window(F.col("ts"), "30 minutes")
    return (
        ev.groupBy("user_id", win)
        .agg(
            F.count("*").alias("n_events"),
            # DECIMAL-exact sum: double sums are accumulation-order-
            # dependent and can straddle .xx5 across engines (CLAUDE.md
            # DuckDB-oracle rule; values are 2-decimal money doubles,
            # so the per-value DECIMAL(18,2) cast is lossless-portable)
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            _ntz_us(F.col("session_window.start")).alias("sess_start_us"),
            "n_events",
            "total_value",
        )
    )


_ORACLE_PIPELINE_EXTRA = {
    # session = maximal run of events per user with gaps < 30 min;
    # window end extends 30 min past the last event (Spark semantics),
    # but we only output the start, which both formulations agree on
    "session_window_agg": """
WITH lagged AS (
  SELECT user_id, ts, value,
         -- Spark session_window ends are EXCLUSIVE (last_ts + gap), so
         -- an event exactly gap later starts a new session: split >=
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM lagged
)
SELECT user_id, epoch_us(min(ts)) AS sess_start_us,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, sess_id
""",
    "doc_simhash_portable": r"""
WITH w AS (
  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS ws
  FROM documents WHERE doc_id < 200
),
bits AS (
  SELECT doc_id,
         list_transform(generate_series(1, 16), k ->
           CASE WHEN list_sum(list_transform(ws, t ->
                  CASE WHEN strpos('13579bdf', substr(md5(t), k, 1)) > 0
                       THEN 1 ELSE -1 END)) > 0
                THEN (2 ** (k - 1))::BIGINT ELSE 0 END) AS bs
  FROM w
)
SELECT doc_id, CAST(list_sum(bs) AS INT) AS simhash16 FROM bits
""",
    "embedding_quantize_int8": """
WITH q AS (
  SELECT vec_id,
         127.0 / list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS scale,
         list_transform(embedding,
                        x -> CAST(round(x::DOUBLE * 127.0 /
                             list_max(list_transform(embedding, y -> abs(y::DOUBLE)))) AS INT)) AS qv
  FROM embeddings WHERE vec_id < 50
)
SELECT vec_id, round(scale, 6) AS scale,
       CAST(list_sum(qv) AS INT) AS q_sum,
       list_max(qv) AS q_max, list_min(qv) AS q_min
FROM q
""",
    "corpus_vocab_topk": r"""
WITH words AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS w
  FROM documents
)
SELECT w, count(*) AS doc_freq FROM words WHERE length(w) > 0
GROUP BY w ORDER BY doc_freq DESC, w LIMIT 20
""",
    "sql_over_snapshot": f"""
WITH snap AS ({_snapshot_sql(T_MID)}),
triples AS (SELECT regexp_extract(payload, '^<([^>]*)>', 1) AS subj,
                   '> <' AS _sep,
                   regexp_extract(payload, '> <([^>]*)>', 1) AS pred
            FROM snap)
SELECT pred, count(*) AS n_triples, count(DISTINCT subj) AS n_subjects
FROM triples GROUP BY pred
""",
    "doc_stratified_sample": """
SELECT doc_id, lang FROM documents
WHERE CASE WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
           ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3') END
""",
    "doc_decontaminate": f"""
WITH sh AS ({_DOC_SHINGLES_SQL}),
ex AS (SELECT doc_id, md5(u.s) AS h
       FROM sh, unnest(shingles) AS u(s)),
eval_h AS (SELECT DISTINCT h FROM ex WHERE doc_id < 10)
SELECT DISTINCT doc_id FROM ex
WHERE doc_id >= 10 AND h IN (SELECT h FROM eval_h)
""",
    "doc_paragraph_dedup": r"""
WITH split AS (SELECT doc_id, string_split(text, '. ') AS parts FROM documents),
withpos AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(parts)),
                               i -> struct_pack(pos := i - 1, para := parts[i]))) AS u
  FROM split
),
paras AS (
  SELECT doc_id, u.pos AS pos, u.para AS para
  FROM withpos WHERE length(trim(u.para)) > 0
),
firsts AS (
  SELECT md5(trim(para)) AS h, min(struct_pack(doc_id := doc_id, pos := pos)) AS keep
  FROM paras GROUP BY 1
),
kept AS (SELECT keep.doc_id AS doc_id, count(*) AS n_kept FROM firsts GROUP BY 1),
total AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id)
SELECT t.doc_id, t.n_paras, coalesce(k.n_kept, 0) AS n_kept
FROM total t LEFT JOIN kept k ON t.doc_id = k.doc_id
""",
    "doc_repetition_ratio": r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
b AS (SELECT doc_id,
             list_transform(generate_series(1, greatest(len(ws) - 1, 1)),
                            i -> ws[i] || ' ' || ws[i + 1]) AS bg
      FROM w)
SELECT doc_id,
       round((len(bg) - len(list_distinct(bg))) * 1.0 / len(bg), 6) AS dup_bigram_frac
FROM b
""",
    # 5 unrolled PageRank iterations (recursive CTEs can't cleanly
    # re-reference the full previous rank vector); the chain graph has
    # in-degree <= 1 so float summation order is a non-issue
    "graph_pagerank": f"""
WITH triples AS ({_T}),
edges AS (SELECT subj AS src, obj AS dst FROM triples WHERE pred = 'nextNation'),
nodes AS (SELECT src AS n FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
pr0 AS (SELECT n, 1.0::DOUBLE AS rank FROM nodes)
"""
    + "".join(
        f""", pr{i + 1} AS (
  SELECT nodes.n, 0.15 + 0.85 * coalesce(s.c, 0.0) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS n, sum(p.rank / d.deg) AS c
    FROM edges e JOIN pr{i} p ON p.n = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst) s ON s.n = nodes.n)
"""
        for i in range(5)
    )
    + """
SELECT n AS node, round(rank, 6) AS pagerank FROM pr5
""",
    "graph_triangles": f"""
WITH triples AS ({_T}),
nr AS (SELECT subj AS nation, obj AS region FROM triples WHERE pred = 'inRegion'),
e AS (SELECT DISTINCT a.nation AS u, b.nation AS v
      FROM nr a JOIN nr b ON a.region = b.region AND a.nation < b.nation)
SELECT count(*) AS n_triangles
FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
""",
    "window_ntile": """
SELECT o_orderkey, o_orderstatus,
       ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS quartile,
       round(o_totalprice - lag(o_totalprice) OVER (
           PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 2) AS delta_prev
FROM orders WHERE o_orderkey < 1000
""",
}


# ---------------------------------------------------------------------------
# TPC-H breadth + remaining SPARQL builtin rows (SURVEY.md §2B)


def q_tpch_q4(spark, sf_dir):
    """Q4: order-priority count with EXISTS semi join."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_tpch_q10(spark, sf_dir):
    """Q10: top-20 customers by returned-item revenue."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # exact decimal arithmetic: a double sum lands on .xx5 rounding
    # boundaries differently per engine (observed at sf0.01)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_tpch_q12(spark, sf_dir):
    """Q12: CASE-conditional aggregation by priority class."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


def q_tpch_q14(spark, sf_dir):
    """Q14: promo revenue share (conditional agg ratio + broadcast dim)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(F.round(F.sum(promo) * 100.0 / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


def q_tpch_q18(spark, sf_dir):
    """Q18: large-volume customers (HAVING-subquery via semi join on
    an aggregated key set)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 180)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


def q_tpch_q16(spark, sf_dir):
    """Q16-style: supplier variety per part brand/type bucket —
    distinct agg + anti-join exclusion list."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 4, 7))
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(excluded, "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q19(spark, sf_dir):
    """Q19-style: OR-of-ANDs predicate (brand × size-range × quantity
    bands) — disjunctive filter pushdown + single agg."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 10)) & (F.col("l_quantity").between(1, 20)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(5, 20)) & (F.col("l_quantity").between(10, 30)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(10, 40)) & (F.col("l_quantity").between(20, 40)))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


def _dec(c):
    """Exact decimal money arithmetic (engines round .xx5 double sums
    differently — the q10 lesson)."""
    return F.col(c).cast("decimal(18,2)")


def q_tpch_q7(spark, sf_dir):
    """Q7-style volume shipping: revenue between supplier-nation and
    customer-nation pairs per ship year."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), sup.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))  # distinct ordered pair slice
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


def q_tpch_q9(spark, sf_dir):
    """Q9-style profit by nation/year; p_retailprice*quantity stands in
    for the absent ps_supplycost."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("1"))
    nation = load_table(spark, sf_dir, "nation")
    profit = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - _dec("l_discount")
    ) - _dec("p_retailprice") * _dec("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
    )


def q_tpch_q13(spark, sf_dir):
    """Q13: distribution of customers by order count (zero included) —
    left outer join + two-level aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 != 0)
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_tpch_q15(spark, sf_dir):
    """Q15: top supplier(s) by quarterly revenue — aggregate, then keep
    the max via a broadcast scalar join (no correlated subquery, no
    global window)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).alias("total_revenue")
    )
    best = revenue.agg(F.max("total_revenue").alias("_max"))
    sup = load_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("_max"))
        .join(sup, F.col("supplier_no") == sup.s_suppkey)
        .select(
            "supplier_no",
            "s_name",
            F.round("total_revenue", 2).cast("double").alias("total_revenue"),
        )
    )


def q_tpch_q17(spark, sf_dir):
    """Q17: small-quantity-order revenue — per-part average quantity as
    a broadcast agg join; division-free threshold (5*qty*cnt < sum)
    so both engines compare identical IEEE products."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    stats = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("cnt_qty")
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(stats, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") * 5 * F.col("cnt_qty") < F.col("sum_qty"))
    )
    return j.agg(
        F.round(F.sum(_dec("l_extendedprice")) / 7, 2).cast("double").alias("avg_yearly")
    )


def q_tpch_q22(spark, sf_dir):
    """Q22-style: wealthy inactive customers — balance above the
    average positive balance AND no orders (anti join), counted per
    nation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    avg_pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg")
    )
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(orders, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(_dec("c_acctbal")), 2).cast("double").alias("totacctbal"),
        )
    )


def q_sparql_count_distinct(spark, sf_dir):
    """COUNT(DISTINCT ?x) + exact vs HLL sketch side by side."""
    t = triples_from_tpch(spark, sf_dir)
    cn = t.filter((F.col("pred") == "inNation") & F.col("subj").startswith("customer:"))
    return cn.groupBy(F.col("obj").alias("nation")).agg(
        F.countDistinct("subj").alias("n_distinct_customers")
    )


def q_sparql_numeric_fns(spark, sf_dir):
    """ABS/ROUND/CEIL/FLOOR on typed numeric literals (acctbalCents).

    ROUND is computed in integer-cents arithmetic (half-away-from-zero
    on the exact integer, then one float division) so both engines
    derive the identical double — 65/612 rows sit on a .x5 boundary
    where engine-level double rounding may disagree (r03 verdict #1).
    CEIL/FLOOR stay Spark-native (LONG); the oracle CASTs its DOUBLE
    results to BIGINT so the driver's dtype-sensitive hash matches.
    """
    t = triples_from_tpch(spark, sf_dir)
    cents = t.filter(F.col("pred") == "acctbalCents").select(
        F.col("subj").alias("customer"), F.col("obj").cast("long").alias("cents")
    ).filter(F.col("customer") < "customer:2")  # string-prefix slice, deterministic
    bal = F.col("cents") / 100.0
    tenths = F.when(
        F.col("cents") >= 0, F.expr("(cents + 5) div 10")
    ).otherwise(-F.expr("(-cents + 5) div 10"))
    return cents.select(
        "customer",
        F.abs(bal - 1000).alias("abs_diff"),
        (tenths / 10.0).alias("rounded"),
        F.ceil(bal).alias("ceiled"),
        F.floor(bal).alias("floored"),
    )


def q_sparql_if_coalesce_in(spark, sf_dir):
    """IF / COALESCE / IN over the optional-supplier pattern."""
    t = triples_from_tpch(spark, sf_dir)
    nations = t.filter(F.col("pred") == "inRegion").select(
        F.col("subj").alias("nation"), F.col("obj").alias("region")
    )
    sup = t.filter(
        (F.col("pred") == "inNation") & F.col("subj").startswith("supplier:")
    ).select(F.col("subj").alias("supplier"), F.col("obj").alias("nation")).distinct()
    return (
        nations.join(sup, "nation", "left_outer")
        .select(
            "nation",
            F.when(F.col("supplier").isNotNull(), F.lit("has_supplier"))
            .otherwise(F.lit("no_supplier"))
            .alias("supplier_flag"),
            F.coalesce(F.col("supplier"), F.lit("none")).alias("supplier_or_none"),
            F.col("region").isin("region:0", "region:2").alias("in_r02"),
        )
    )


def q_sparql_describe(spark, sf_dir):
    """DESCRIBE <nation:0>: every triple with the resource as subject
    or object."""
    t = triples_from_tpch(spark, sf_dir)
    return t.filter((F.col("subj") == "nation:0") | (F.col("obj") == "nation:0")).select(
        "subj", "pred", "obj"
    )


def q_event_time_windows(spark, sf_dir):
    """Tumbling event-time windows (the streaming windowed-agg shape,
    run over the bounded table — identical semantics, oracle-checkable)."""
    ev = load_table(spark, sf_dir, "events")
    # window() directly on the NTZ column: wall-clock tumbling buckets
    # (matches DuckDB time_bucket regardless of session timezone)
    win = F.window(F.col("ts"), "6 hours")
    return (
        ev.groupBy(win, "event_type")
        .agg(
            F.count("*").alias("n"),
            # DECIMAL-exact portable sum (see session_window_agg note)
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            _ntz_us(F.col("window.start")).alias("win_start_us"),
            "event_type",
            "n",
            "total_value",
        )
    )


_ORACLE_BREADTH = {
    "tpch_q4": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderpriority
""",
    "tpch_q10": """
SELECT c_custkey, c_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
    "tpch_q12": """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
""",
    "tpch_q14": """
SELECT round(sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
       * 100.0 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
""",
    "tpch_q18": """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
""",
    "tpch_q16": """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size IN (1, 4, 7)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
""",
    "tpch_q19": """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 40)
""",
    "tpch_q7": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND n1.n_name < n2.n_name
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
""",
    "tpch_q9": """
SELECT n_name AS nation, year(l_shipdate) AS o_year,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                      - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))), 2)
            AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE contains(p_name, '1')
GROUP BY n_name, year(l_shipdate)
""",
    "tpch_q13": """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderkey % 3 <> 0
  GROUP BY c_custkey
) GROUP BY c_count
""",
    "tpch_q15": """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT supplier_no, s_name,
       CAST(round(total_revenue, 2) AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    "tpch_q17": """
WITH stats AS (
  SELECT l_partkey AS pk, sum(l_quantity) AS sum_qty, count(*) AS cnt_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))) / 7, 2) AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN stats ON l_partkey = pk
WHERE p_brand = 'Brand#2'
  AND l_quantity * 5 * cnt_qty < sum_qty
""",
    "tpch_q22": """
SELECT c_nationkey, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
""",
    "sparql_count_distinct": f"""
WITH triples AS ({_T})
SELECT obj AS nation, count(DISTINCT subj) AS n_distinct_customers
FROM triples WHERE pred = 'inNation' AND subj LIKE 'customer:%'
GROUP BY obj
""",
    "sparql_numeric_fns": f"""
WITH triples AS ({_T}),
cents AS (SELECT subj AS customer, CAST(obj AS BIGINT) AS c
          FROM triples WHERE pred = 'acctbalCents' AND subj < 'customer:2')
SELECT customer,
       abs(c / 100.0 - 1000) AS abs_diff,
       (CASE WHEN c >= 0 THEN (c + 5) // 10 ELSE -((-c + 5) // 10) END) / 10.0 AS rounded,
       CAST(ceil(c / 100.0) AS BIGINT) AS ceiled,
       CAST(floor(c / 100.0) AS BIGINT) AS floored
FROM cents
""",
    "sparql_if_coalesce_in": f"""
WITH triples AS ({_T}),
nations AS (SELECT subj AS nation, obj AS region FROM triples WHERE pred = 'inRegion'),
sup AS (SELECT DISTINCT subj AS supplier, obj AS nation FROM triples
        WHERE pred = 'inNation' AND subj LIKE 'supplier:%')
SELECT n.nation,
       CASE WHEN s.supplier IS NOT NULL THEN 'has_supplier' ELSE 'no_supplier' END AS supplier_flag,
       coalesce(s.supplier, 'none') AS supplier_or_none,
       n.region IN ('region:0', 'region:2') AS in_r02
FROM nations n LEFT JOIN sup s ON n.nation = s.nation
""",
    "sparql_describe": f"""
WITH triples AS ({_T})
SELECT subj, pred, obj FROM triples WHERE subj = 'nation:0' OR obj = 'nation:0'
""",
    "event_time_windows": """
SELECT epoch_us(time_bucket(INTERVAL '6 hours', ts)) AS win_start_us,
       event_type, count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""",
}


# ---------------------------------------------------------------------------
# rows-only operators (non-SQL-expressible: custom UDF signatures /
# iterative pipeline) — the driver records a weaker rows-only check


def q_ann_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH ANN (multi-probe, multi-table). md5-derived
    integer planes + quantized embeddings make bucket assignment
    EXACT integer arithmetic, so the DuckDB oracle reproduces the
    candidate set bit-for-bit (r03 verdict #3); round-4 re-rank is
    the driver-green ann_cosine_topk recipe. simhash_signatures
    (rows-only) is retired in favor of value-checked queries."""
    from rdf_diff_store_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb.filter(F.col("vec_id") < 20), emb, dim=64, k=5, round_to=4)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN with full-probe equivalence to exact
    search when n_probe == n_centroids (tested); here n_probe=4/8.
    Default centroids are md5-derived integers — cell assignment is
    exact int64 dot / sqrt-of-int norm, reproduced by the oracle."""
    from rdf_diff_store_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 20), emb, dim=64, k=5,
        n_centroids=8, n_probe=4, round_to=4,
    )


def q_kg_pipeline(spark, sf_dir):
    """Full KG-construction DAG on deterministic synthetic pages
    (sf-independent; the north_star flagship)."""
    from rdf_diff_store_spark.pipeline.kg import build_kg
    from rdf_diff_store_spark.sources.pages import generate_pages

    pages = generate_pages(spark, n_urls=300, n_crawls=3, n_entities=100).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    changelog, _ = build_kg(spark, pages)
    return changelog.select("graph_id", "ts", "op", "content_hash")


# ---------------------------------------------------------------------------
# registry


# ---------------------------------------------------------------------------
# round-3 additions: regression rows for the r02 ADVICE bugs, seeded
# property paths, and the SPARQL text-form builtin tail


def typed_triples_from_tpch(spark, sf_dir):
    """TPC-H triples with NULL obj_lang/obj_dt columns — the typed-view
    shape snapshot_triples produces for IRI objects. Exercises the
    hidden-typing-column join path (r02 ADVICE high)."""
    return (
        triples_from_tpch(spark, sf_dir)
        .withColumn("obj_lang", F.lit(None).cast("string"))
        .withColumn("obj_dt", F.lit(None).cast("string"))
    )


def _sparql_text_typed(spark, sf_dir, query: str):
    from rdf_diff_store_spark.plans.sparql_text import sparql_query

    return sparql_query(typed_triples_from_tpch(spark, sf_dir), query)


def q_sparql_text_shared_obj_var(spark, sf_dir):
    """Variable reused in OBJECT position of two patterns over a TYPED
    view (NULL typing on IRIs): the exact shape the r02 ADVICE high bug
    silently emptied. Joins must treat typing columns null-safely."""
    return _sparql_text_typed(
        spark,
        sf_dir,
        """
        SELECT ?c ?s WHERE {
          ?c <inNation> ?x . ?s <inNation> ?x .
          FILTER (STRSTARTS(?c, "customer:") && STRSTARTS(?s, "supplier:"))
        }
        """,
    )


def q_sparql_text_values_undef_first(spark, sf_dir):
    """VALUES with UNDEF placed BEFORE the triple patterns — position-
    independent per SPARQL (r02 ADVICE medium regression row)."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?n ?nm WHERE {
          VALUES (?n ?nm) { (<nation:1> UNDEF) (<nation:3> UNDEF) (UNDEF "ASIA") }
          ?n <name> ?nm
        }
        """,
    )


def q_sparql_text_path_seeded(spark, sf_dir):
    """Bound-endpoint property path `<s> p+ ?o`: frontier BFS from the
    seed (operators/graph.py::seeded_closure), NOT a filter over the
    graph's full transitive closure (r02 VERDICT what's-wrong #2)."""
    return _sparql_text(
        spark, sf_dir, "SELECT ?reach WHERE { <nation:0> <nextNation>+ ?reach }"
    )


def q_sparql_text_builtins_hash(spark, sf_dir):
    """Text-form MD5/SHA256 builtins (DataFrame twins were already
    green in `hash_fns`; this pins the PARSER plumbing)."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?n (MD5(?nm) AS ?h_md5) (SHA256(?nm) AS ?h_sha256) WHERE {
          ?n <name> ?nm . FILTER (STRSTARTS(?n, "nation:"))
        }
        """,
    )


def triples_from_events_dates(spark, sf_dir):
    """Events → (event, at, ISO-8601 dateTime literal) triples for the
    date-accessor builtins. NTZ end-to-end (no session-tz dependence)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.lit("events").alias("graph_id"),
        F.concat(F.lit("event:"), F.col("event_id").cast("string")).alias("subj"),
        F.lit("at").alias("pred"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("obj"),
    )


def q_sparql_text_builtins_datetime(spark, sf_dir):
    """Text-form YEAR/MONTH/DAY/HOURS accessors over xsd:dateTime
    lexical forms, grouped — tz-proof via timestamp_ntz casts."""
    from rdf_diff_store_spark.plans.sparql_text import sparql_query

    return sparql_query(
        triples_from_events_dates(spark, sf_dir),
        """
        SELECT ?y ?mo ?d ?h (COUNT(*) AS ?n) WHERE {
          ?e <at> ?w .
          BIND (YEAR(?w) AS ?y) BIND (MONTH(?w) AS ?mo)
          BIND (DAY(?w) AS ?d) BIND (HOURS(?w) AS ?h)
        } GROUP BY ?y ?mo ?d ?h
        """,
    )


def q_sparql_text_builtins_str(spark, sf_dir):
    """Text-form STRBEFORE/STRAFTER/ENCODE_FOR_URI."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?nm (STRBEFORE(?nm, "_") AS ?pre) (STRAFTER(?nm, "_") AS ?post)
               (ENCODE_FOR_URI(CONCAT(?nm, " x")) AS ?enc) WHERE {
          ?n <name> ?nm . FILTER (STRSTARTS(?n, "nation:"))
        }
        """,
    )


def q_sparql_text_order_expr(spark, sf_dir):
    """ORDER BY expression keys (DESC(STRLEN(?bal)) then ?c) — the r02
    parser accepted only plain variables here."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?c ?bal WHERE { ?c <acctbalCents> ?bal }
        ORDER BY DESC(STRLEN(?bal)) ASC(?c) LIMIT 10
        """,
    )


def q_sparql_text_blank_node(spark, sf_dir):
    """Blank-node term in a pattern = non-distinguished variable
    (W3C 18.3); `_:m` never appears in the projection."""
    return _sparql_text(
        spark,
        sf_dir,
        "SELECT ?n (COUNT(*) AS ?deg) WHERE { _:m <inNation> ?n } GROUP BY ?n",
    )


def q_sparql_text_isiri_sameterm(spark, sf_dir):
    """isIRI + sameTerm over the typed view."""
    return _sparql_text_typed(
        spark,
        sf_dir,
        """
        SELECT ?s ?o WHERE {
          ?s <inRegion> ?o . FILTER (ISIRI(?o) && SAMETERM(?o, <region:2>))
        }
        """,
    )


_TURTLE_BREADTH_DOC = (
    "@base <http://ex.org/dir/> .\n"
    "@prefix p: <vocab#> .\n"
    '<item1> p:name "caf\\u00e9" ;\n'
    "        p:note 'single' ;\n"
    "        p:long '''multi\\nline'''@en .\n"
    '<#frag> p:name "x" .\n'
    "</abs/path> a p:Thing .\n"
)


def q_turtle_base_escapes(spark, sf_dir):
    """@base / relative-IRI / unicode-escape / single-quote Turtle
    breadth through the distributed parse path (functions/turtle.py
    parse_triples, Arrow mapInPandas) — r02 VERDICT missing #3."""
    from rdf_diff_store_spark.functions.turtle import parse_triples

    docs = spark.createDataFrame(
        [("g", 0, _TURTLE_BREADTH_DOC)], "graph_id string, ts long, payload string"
    )
    return parse_triples(docs).select(
        "subj",
        "pred",
        "obj",
        F.coalesce("obj_dt", F.lit("")).alias("dt"),
        F.coalesce("obj_lang", F.lit("")).alias("lang"),
    )


# -- TPC-H completion (q2/q8/q11/q20/q21 adaptations) -----------------
# The testdata schema has no partsupp table and no l_commitdate /
# l_receiptdate columns; each adaptation preserves the ORIGINAL's plan
# shape (min-per-group join for q2, market-share conditional agg for
# q8, scalar-subquery HAVING for q11, correlated semi-join chain for
# q20, multi-supplier EXISTS/NOT-EXISTS for q21) over the columns that
# exist. Spark-side: dims broadcast, facts shuffle on join keys.


def q_tpch_q2(spark, sf_dir):
    """Q2-style: per small part, the EUROPE supplier with the minimum
    account balance among its lineitem-linked suppliers (stand-in for
    min ps_supplycost)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sn = (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("nation_name"))
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).join(
        sn, li.l_suppkey == sn.s_suppkey
    )
    best = j.groupBy("p_partkey").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        j.join(best, "p_partkey")
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .groupBy("p_partkey", "p_name")  # dedup suppliers tied on min
        .agg(
            F.min("s_name").alias("s_name"),
            F.min("nation_name").alias("nation_name"),
            F.round(F.min("s_acctbal"), 2).cast("double").alias("s_acctbal"),
        )
    )


def q_tpch_q8(spark, sf_dir):
    """Q8-style national market share: NATION_7 suppliers' revenue
    share within ASIA-customer orders per order year."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = cust.join(
        F.broadcast(
            nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        ),
        cust.c_nationkey == nation.n_nationkey,
    ).select("c_custkey")
    supn = sup.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_nk"), F.col("n_name").alias("supp_nation"))),
        sup.s_nationkey == F.col("sn_nk"),
    ).select("s_suppkey", "supp_nation")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cn, orders.o_custkey == cn.c_custkey, "left_semi")
        .join(supn, li.l_suppkey == supn.s_suppkey)
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(F.lit(0).cast("decimal(18,2)")))
                / F.sum(rev),
                6,
            )
            .cast("double")
            .alias("mkt_share")
        )
    )


def q_tpch_q11(spark, sf_dir):
    """Q11-style important stock: parts whose lineitem value exceeds
    0.1% of the corpus-wide total (scalar-subquery HAVING)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    val = _dec("p_retailprice") * _dec("l_quantity")
    per_part = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_partkey")
        .agg(F.sum(val).alias("value"))
    )
    total = per_part.agg(F.sum("value").alias("total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("total") * 0.001)
        .select("p_partkey", F.round("value", 2).cast("double").alias("value"))
    )


def q_tpch_q20(spark, sf_dir):
    """Q20-style: suppliers shipping more than half of any green
    part's total shipped quantity (correlated semi-join chain)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").startswith("part_1"))
    sup = load_table(spark, sf_dir, "supplier")
    li_p = li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
    per_sp = li_p.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("sq"))
    per_p = li_p.groupBy("l_partkey").agg(F.sum("l_quantity").alias("tq"))
    heavy = (
        per_sp.join(per_p, "l_partkey")
        .filter(F.col("sq") > F.col("tq") * 0.5)
        .select("l_suppkey")
        .distinct()
    )
    return sup.join(heavy, sup.s_suppkey == heavy.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


def q_tpch_q21(spark, sf_dir):
    """Q21-style waiting orders: in multi-supplier finalized orders,
    the UNIQUE supplier with the latest shipdate (EXISTS another
    supplier / NOT EXISTS another equally-late supplier)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    sup = load_table(spark, sf_dir, "supplier")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey, "left_semi")
    per_order = lo.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship"),
        F.count_distinct("l_suppkey").alias("n_sup"),
    )
    last = (
        lo.join(per_order.filter(F.col("n_sup") >= 2), "l_orderkey")
        .filter(F.col("l_shipdate") == F.col("max_ship"))
        .groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("n_last"), F.min("l_suppkey").alias("the_sup"))
        .filter(F.col("n_last") == 1)  # NOT EXISTS another equally-late supplier
    )
    return (
        last.join(sup, last.the_sup == sup.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
    )


def q_sparql_text_group_expr(spark, sf_dir):
    """GROUP BY (expr AS ?var) — SPARQL GroupCondition expression form
    (late r03)."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?l (COUNT(*) AS ?c) WHERE {
          ?n <name> ?nm . FILTER (STRSTARTS(?n, "nation:"))
        } GROUP BY (STRLEN(?nm) AS ?l)
        """,
    )


def q_sparql_text_order_hidden(spark, sf_dir):
    """ORDER BY a variable the SELECT drops — SPARQL sorts SOLUTIONS
    before projection (18.5); compiled as pre-projection sort."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?nm WHERE {
          ?n <name> ?nm . ?n <inRegion> ?r . FILTER (STRSTARTS(?n, "nation:"))
        } ORDER BY DESC(?r) ASC(?nm) LIMIT 5
        """,
    )


def q_sparql_text_order_agg(spark, sf_dir):
    """ORDER BY an aggregate (hidden sort-aggregate rewrite; late r03)."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        SELECT ?n (COUNT(?c) AS ?n_cust) WHERE {
          ?c <inNation> ?n . FILTER (STRSTARTS(?c, "customer:"))
        } GROUP BY ?n ORDER BY DESC(COUNT(?c)) ASC(?n) LIMIT 5
        """,
    )


def q_sparql_text_construct_where(spark, sf_dir):
    """CONSTRUCT WHERE shorthand (SPARQL 1.1 10.2.3; late r03)."""
    return _sparql_text(
        spark, sf_dir, "CONSTRUCT WHERE { ?n <inRegion> ?r }"
    )


def q_doc_unigram_logprob(spark, sf_dir):
    """Corpus-unigram log-probability quality score (LM-perplexity
    stand-in; functions/text.py::unigram_logprob). Two shuffles:
    corpus token counts, then the Zipf-skewed count join (AQE
    skew-split)."""
    from rdf_diff_store_spark.functions.text import unigram_logprob

    return unigram_logprob(load_table(spark, sf_dir, "documents"))


def q_sparql_text_describe_var(spark, sf_dir):
    """DESCRIBE ?v WHERE { ... } — resources from variable bindings,
    concise-bounded description via two broadcastable semi joins (no
    driver collect; late r03)."""
    return _sparql_text(
        spark, sf_dir, "DESCRIBE ?n WHERE { ?n <inRegion> <region:2> }"
    )


def q_rollup_agg(spark, sf_dir):
    """ROLLUP grouping-sets extension (SURVEY §2B window/grouping-set
    row): order counts at (status, priority), (status), and grand
    total in one pass — partial+final hash agg, no extra shuffle per
    level."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select("o_orderstatus", "o_orderpriority", "n")
    )


def q_url_normalize(spark, sf_dir):
    """Crawl-URL canonicalization (functions/text.py::normalize_url):
    fragment strip + case-fold scheme/authority + default-port drop,
    pure JVM. URLs are synthesized deterministically from doc columns
    (TESTDATA has no url column; the OPERATOR is the deliverable)."""
    from rdf_diff_store_spark.functions.text import normalize_url

    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTP://Example.COM:80/"),
        F.col("source"),
        F.lit("/d"),
        F.col("doc_id").cast("string"),
        F.lit("?q=1#frag"),
    )
    return docs.select(
        "doc_id", raw.alias("url"), normalize_url(raw).alias("url_norm")
    )


def q_sparql_text_graph_path(spark, sf_dir):
    """Property path inside GRAPH ?var — per-graph keyed closure
    (graph_id rides the doubling-join keys; late r03, closing the last
    raises-by-design case in the SPARQL surface). The nextNation edges
    are split into two named graphs by nation-key parity so each graph
    closes independently."""
    from rdf_diff_store_spark.plans.sparql_text import sparql_query

    t = triples_from_tpch(spark, sf_dir)
    t2 = t.withColumn(
        "graph_id",
        F.when(
            F.col("pred") == "nextNation",
            F.concat(
                F.lit("g"),
                (F.substring("subj", 8, 10).cast("int") % 2).cast("string"),
            ),
        ).otherwise(F.col("graph_id")),
    )
    return sparql_query(
        t2, "SELECT ?g ?s ?reach WHERE { GRAPH ?g { ?s <nextNation>+ ?reach } }"
    )


def q_doc_chunking(spark, sf_dir):
    """Token-bounded sliding-window chunking (50-token chunks, 10
    overlap) — functions/text.py::chunk_documents, pure JVM, no
    shuffle."""
    from rdf_diff_store_spark.functions.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=50, overlap=10)


_ORACLE_TPCH_TAIL = {
    "sparql_text_group_expr": f"""
WITH triples AS ({_T})
SELECT length(obj) AS l, CAST(count(*) AS BIGINT) AS c
FROM triples WHERE pred = 'name' AND subj LIKE 'nation:%' GROUP BY 1
""",
    "sparql_text_order_agg": f"""
WITH triples AS ({_T})
SELECT obj AS n, CAST(count(*) AS BIGINT) AS n_cust
FROM triples WHERE pred = 'inNation' AND subj LIKE 'customer:%'
GROUP BY obj ORDER BY count(*) DESC, obj ASC LIMIT 5
""",
    "sparql_text_construct_where": f"""
WITH triples AS ({_T})
SELECT DISTINCT subj, pred, obj FROM triples WHERE pred = 'inRegion'
""",
    "doc_simhash_pairs": """
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
words AS (
  SELECT DISTINCT doc_id, unnest(str_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM docs),
votes AS (
  SELECT doc_id, g.k,
         sum(CASE WHEN substr(md5(w), CAST(g.k AS INT), 1)
                  IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS v
  FROM words, generate_series(1, 16) AS g(k)
  GROUP BY doc_id, g.k),
sigs AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN 1 << CAST(k - 1 AS INT) ELSE 0 END) AS BIGINT) AS sig
  FROM votes GROUP BY doc_id),
bands AS (
  SELECT doc_id, sig, gb.b, (sig >> CAST(4 * gb.b AS INT)) & 15 AS nib
  FROM sigs, generate_series(0, 3) AS gb(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b, a.sig AS sig_a, b2.sig AS sig_b
  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.nib = b2.nib AND a.doc_id < b2.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
""",
    "doc_unigram_logprob": """
WITH toks AS (
  SELECT doc_id, unnest(str_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM counts)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(ln(c / t)), 4) AS avg_logprob
FROM toks JOIN counts USING (tok) CROSS JOIN total
GROUP BY doc_id
""",
    "sparql_text_describe_var": f"""
WITH triples AS ({_T}),
res AS (SELECT DISTINCT subj AS r FROM triples WHERE pred = 'inRegion' AND obj = 'region:2')
SELECT DISTINCT t.subj, t.pred, t.obj FROM triples t
WHERE t.subj IN (SELECT r FROM res) OR t.obj IN (SELECT r FROM res)
""",
    "rollup_agg": """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    "url_normalize": """
WITH raw AS (
  SELECT doc_id,
         'HTTP://Example.COM:80/' || source || '/d' || CAST(doc_id AS VARCHAR) || '?q=1#frag' AS url
  FROM documents),
step AS (
  SELECT doc_id, url,
         regexp_replace(url, '#.*$', '') AS u1
  FROM raw),
cased AS (
  SELECT doc_id, url,
         CASE WHEN regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)', 1) = ''
              THEN u1
              ELSE lower(regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)', 1))
                   || substr(u1, length(regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)', 1)) + 1)
         END AS u2
  FROM step)
SELECT doc_id, url,
       regexp_replace(
         regexp_replace(u2, '^(http://[^/?#:]*):80([/?#].*)?$', '\\1\\2'),
         '^(https://[^/?#:]*):443([/?#].*)?$', '\\1\\2') AS url_norm
FROM cased
""",
    "sparql_text_graph_path": f"""
WITH RECURSIVE triples AS ({_T}),
edges AS (
  SELECT 'g' || CAST(CAST(substr(subj, 8) AS INT) % 2 AS VARCHAR) AS g,
         subj AS src, obj AS dst
  FROM triples WHERE pred = 'nextNation'),
reach AS (
  SELECT g, src, dst FROM edges
  UNION
  SELECT r.g, r.src, e.dst FROM reach r JOIN edges e ON e.g = r.g AND e.src = r.dst
)
SELECT g, src AS s, dst AS reach FROM reach
""",
    "sparql_text_order_hidden": f"""
WITH triples AS ({_T}),
names AS (SELECT subj AS n, obj AS nm FROM triples WHERE pred = 'name' AND subj LIKE 'nation:%'),
regions AS (SELECT subj AS n, obj AS r FROM triples WHERE pred = 'inRegion')
SELECT nm FROM names JOIN regions USING (n) ORDER BY r DESC, nm ASC LIMIT 5
""",
    "doc_chunking": """
WITH t AS (SELECT doc_id, str_split_regex(trim(text), '\\s+') AS toks FROM documents),
c AS (SELECT doc_id, toks,
        greatest(CAST(ceil((len(toks) - 10) / 40.0) AS BIGINT), 1) AS n
      FROM t),
idx AS (SELECT doc_id, toks,
          unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i
        FROM c)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       array_to_string(toks[CAST(i * 40 + 1 AS BIGINT) : CAST(i * 40 + 50 AS BIGINT)], ' ') AS chunk_text
FROM idx
""",
    "tpch_q2": """
WITH lp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
sn AS (SELECT s_suppkey, s_name, s_acctbal, n.n_name AS nation_name
       FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey WHERE r.r_name = 'EUROPE'),
j AS (SELECT p.p_partkey, p.p_name, sn.* FROM lp
      JOIN part p ON lp.l_partkey = p.p_partkey AND p.p_size <= 5
      JOIN sn ON lp.l_suppkey = sn.s_suppkey),
best AS (SELECT p_partkey, min(s_acctbal) AS min_bal FROM j GROUP BY p_partkey)
SELECT j.p_partkey, j.p_name, min(j.s_name) AS s_name,
       min(j.nation_name) AS nation_name,
       CAST(round(min(j.s_acctbal), 2) AS DOUBLE) AS s_acctbal
FROM j JOIN best ON j.p_partkey = best.p_partkey AND j.s_acctbal = best.min_bal
GROUP BY j.p_partkey, j.p_name
""",
    "tpch_q8": """
WITH asia_cust AS (
  SELECT c_custkey FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey WHERE r.r_name = 'ASIA'),
j AS (
  SELECT year(o.o_orderdate) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS rev,
         n.n_name AS supp_nation
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE o.o_custkey IN (SELECT c_custkey FROM asia_cust))
SELECT o_year,
       CAST(round(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) / sum(rev), 6) AS DOUBLE) AS mkt_share
FROM j GROUP BY o_year
""",
    "tpch_q11": """
WITH per_part AS (
  SELECT l.l_partkey AS p_partkey,
         sum(CAST(p.p_retailprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(18,2))) AS value
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY l.l_partkey)
SELECT p_partkey, CAST(round(value, 2) AS DOUBLE) AS value FROM per_part
WHERE value > (SELECT sum(value) FROM per_part) * 0.001
""",
    "tpch_q20": """
WITH li_p AS (
  SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'part\\_1%' ESCAPE '\\')),
per_sp AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq FROM li_p GROUP BY 1, 2),
per_p AS (SELECT l_partkey, sum(l_quantity) AS tq FROM li_p GROUP BY 1)
SELECT s.s_suppkey, s.s_name FROM supplier s
WHERE s.s_suppkey IN (
  SELECT per_sp.l_suppkey FROM per_sp JOIN per_p ON per_sp.l_partkey = per_p.l_partkey
  WHERE per_sp.sq > per_p.tq * 0.5)
""",
    "tpch_q21": """
WITH lo AS (
  SELECT l.* FROM lineitem l
  WHERE l.l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')),
per_order AS (
  SELECT l_orderkey, max(l_shipdate) AS max_ship, count(DISTINCT l_suppkey) AS n_sup
  FROM lo GROUP BY l_orderkey),
last AS (
  SELECT lo.l_orderkey, count(DISTINCT lo.l_suppkey) AS n_last, min(lo.l_suppkey) AS the_sup
  FROM lo JOIN per_order p ON lo.l_orderkey = p.l_orderkey
  WHERE p.n_sup >= 2 AND lo.l_shipdate = p.max_ship
  GROUP BY lo.l_orderkey HAVING count(DISTINCT lo.l_suppkey) = 1)
SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM last JOIN supplier s ON last.the_sup = s.s_suppkey
GROUP BY s.s_suppkey, s.s_name
""",
}


_ORACLE_R3 = {
    "sparql_text_shared_obj_var": f"""
WITH triples AS ({_T})
SELECT c.subj AS c, s.subj AS s
FROM triples c JOIN triples s ON c.obj = s.obj
WHERE c.pred = 'inNation' AND s.pred = 'inNation'
  AND c.subj LIKE 'customer:%' AND s.subj LIKE 'supplier:%'
""",
    "sparql_text_values_undef_first": f"""
WITH triples AS ({_T})
SELECT subj AS n, obj AS nm FROM triples
WHERE pred = 'name' AND (subj IN ('nation:1', 'nation:3') OR obj = 'ASIA')
""",
    "sparql_text_path_seeded": f"""
WITH RECURSIVE triples AS ({_T}),
edges AS (SELECT subj AS src, obj AS dst FROM triples WHERE pred = 'nextNation'),
reach AS (
  SELECT dst FROM edges WHERE src = 'nation:0'
  UNION
  SELECT e.dst FROM reach r JOIN edges e ON e.src = r.dst
)
SELECT dst AS reach FROM reach
""",
    "sparql_text_builtins_hash": f"""
WITH triples AS ({_T})
SELECT subj AS n, md5(obj) AS h_md5, sha256(obj) AS h_sha256
FROM triples WHERE pred = 'name' AND subj LIKE 'nation:%'
""",
    "sparql_text_builtins_datetime": """
SELECT year(ts) AS y, month(ts) AS mo, day(ts) AS d, hour(ts) AS h,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2, 3, 4
""",
    "sparql_text_builtins_str": f"""
WITH triples AS ({_T})
SELECT obj AS nm,
  CASE WHEN strpos(obj, '_') > 0 THEN substr(obj, 1, strpos(obj, '_') - 1) ELSE '' END AS pre,
  CASE WHEN strpos(obj, '_') > 0 THEN substr(obj, strpos(obj, '_') + 1) ELSE '' END AS post,
  obj || '%20x' AS enc
FROM triples WHERE pred = 'name' AND subj LIKE 'nation:%'
""",
    "sparql_text_order_expr": f"""
WITH triples AS ({_T})
SELECT subj AS c, obj AS bal FROM triples WHERE pred = 'acctbalCents'
ORDER BY length(obj) DESC, subj ASC LIMIT 10
""",
    "sparql_text_blank_node": f"""
WITH triples AS ({_T})
SELECT obj AS n, CAST(count(*) AS BIGINT) AS deg
FROM triples WHERE pred = 'inNation' GROUP BY obj
""",
    "sparql_text_isiri_sameterm": f"""
WITH triples AS ({_T})
SELECT subj AS s, obj AS o FROM triples
WHERE pred = 'inRegion' AND obj = 'region:2'
""",
    "turtle_base_escapes": """
SELECT * FROM (VALUES
  ('http://ex.org/dir/item1', 'http://ex.org/dir/vocab#name', 'café',
   'http://www.w3.org/2001/XMLSchema#string', ''),
  ('http://ex.org/dir/item1', 'http://ex.org/dir/vocab#note', 'single',
   'http://www.w3.org/2001/XMLSchema#string', ''),
  ('http://ex.org/dir/item1', 'http://ex.org/dir/vocab#long', 'multi' || chr(10) || 'line', '', 'en'),
  ('http://ex.org/dir/#frag', 'http://ex.org/dir/vocab#name', 'x',
   'http://www.w3.org/2001/XMLSchema#string', ''),
  ('http://ex.org/abs/path', 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
   'http://ex.org/dir/vocab#Thing', '', '')
) AS t(subj, pred, obj, dt, lang)
""",
}


def q_entity_link_scores(spark, sf_dir):
    """Entity-link scoring (north_star stage 2b): corpus-derived alias
    dictionary (top-50 tokens, broadcast) × mentions under a JVM
    levenshtein<=2 band predicate; the score combination is the ONE
    Arrow pandas-UDF hop (numeric columns only), pure IEEE rational
    arithmetic so the DuckDB twin is bit-exact.
    pipeline/linking.py."""
    from rdf_diff_store_spark.pipeline.linking import (
        candidate_dictionary,
        entity_link_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    cands = candidate_dictionary(docs, top_n=50)
    return entity_link_scores(docs, cands, max_lev=2)


def q_entity_link_blocked(spark, sf_dir):
    """Entity linking WITHOUT the dictionary broadcast: candidate
    pairs minted by an equi-join on FastSS deletion-neighborhood
    variants (exact recall for the levenshtein<=2 band), scored once
    per distinct mention, winners fanned back to documents — the
    10^8-alias scale path. Output is bit-identical to
    entity_link_scores (same oracle SQL).
    pipeline/linking.py::entity_link_blocked."""
    from rdf_diff_store_spark.pipeline.linking import (
        candidate_dictionary,
        entity_link_blocked,
    )

    docs = load_table(spark, sf_dir, "documents")
    cands = candidate_dictionary(docs, top_n=50)
    return entity_link_blocked(docs, cands, max_lev=2)


T_UPDATE = "2024-06-01 00:00:00"


def q_sparql_update_roundtrip(spark, sf_dir):
    """SPARQL 1.1 UPDATE applied to the versioned store: a DELETE/
    INSERT WHERE predicate rename (new version per touched graph), an
    INSERT DATA named-graph create, and a DELETE WHERE that empties
    graphs (tombstones). Result = the store's triples after the
    update. plans/sparql_update.py::apply_update."""
    from rdf_diff_store_spark.operators.versioned import snapshot_triples
    from rdf_diff_store_spark.plans.sparql_update import apply_update

    log = changelog_from_events(spark, sf_dir)
    upd = """
PREFIX ex: <http://ex.org/>
DELETE { ?s ex:value ?v } INSERT { ?s ex:valueCents ?v } WHERE { ?s ex:value ?v } ;
INSERT DATA { GRAPH <urn:audit> { <urn:audit> ex:updatedBy "sparql-update" } } ;
DELETE WHERE { ?s ex:valueCents "0" }
"""
    new_log = apply_update(log, upd, T_UPDATE)
    return snapshot_triples(new_log, T_UPDATE).select(
        "graph_id", "subj", "pred", "obj", "obj_dt", "obj_lang"
    )


def q_image_features_png(spark, sf_dir):
    """Real image decode through the distributed feature path: the
    synthetic media table carries REAL PNG payloads (pure-stdlib
    encoder), image_features inflates + unfilters + CRC-checks them in
    Arrow batches, and the oracle recomputes dims/pixel means from the
    generator's closed form — decode errors or wrong pixels hash-fail.
    operators/multimodal.py::decode_png."""
    from rdf_diff_store_spark.operators.multimodal import (
        image_features,
        synthetic_png_media,
    )

    media = synthetic_png_media(spark, n=24)
    feats = image_features(media, batch_rows=8)
    return feats.select(
        "media_id",
        "dec_width",
        "dec_height",
        F.round(F.col("mean_byte"), 4).alias("mean_px"),
    )


def q_audio_features_wav(spark, sf_dir):
    """Real audio decode through the distributed feature path: RIFF/
    PCM16 WAV payloads (pure-stdlib codec), per-clip sample counts,
    durations and RMS over the DECODED samples; the oracle recomputes
    everything from the generator's closed form.
    operators/multimodal.py::decode_wav."""
    from rdf_diff_store_spark.operators.multimodal import (
        audio_features,
        synthetic_wav_media,
    )

    media = synthetic_wav_media(spark, n=24)
    return audio_features(media, batch_rows=8).select(
        "media_id",
        "sample_rate",
        "n_samples",
        "duration_ms",
        F.round(F.col("rms"), 4).alias("rms"),
    )


def q_expire_versions(spark, sf_dir):
    """Retention vacuum: expire history before T_MID, keeping every
    row at ts >= T_MID plus each graph's latest pre-cutoff ADD (the
    state entering the window; boundary tombstones drop). Snapshots at
    or after the cutoff are unchanged — the Iceberg expire_snapshots
    analog. operators/versioned.py::expire_versions."""
    from rdf_diff_store_spark.operators.versioned import expire_versions

    log = changelog_from_events(spark, sf_dir)
    return expire_versions(log, T_MID).select(
        "graph_id",
        _ntz_us(F.col("ts")).alias("ts_us"),
        "op",
        "content_hash",
    )


_BM25_TERMS = ["spark", "merge", "window"]


def q_doc_bm25_topk(spark, sf_dir):
    """BM25 retrieval scoring (log-free idf variant, so every op is
    exact IEEE and the oracle is bit-identical): per query term, the
    top-10 documents by saturated-tf × idf with k1=1.2, b=0.75 and
    document-length normalization. Two partial-agg shuffles (tf, dl) +
    broadcast scalars + a per-term window."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    )
    dl = tokens.groupBy("doc_id").agg(F.count("*").alias("dl"))
    avgdl = dl.agg(F.avg(F.col("dl").cast("double")).alias("avgdl"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    qt = tokens.filter(F.col("term").isin(_BM25_TERMS))
    tf = qt.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = qt.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    k1, b = F.lit(1.2), F.lit(0.75)
    idf = F.col("n_docs").cast("double") / (F.col("df").cast("double") + F.lit(0.5))
    sat = (F.col("tf").cast("double") * (k1 + F.lit(1.0))) / (
        F.col("tf").cast("double")
        + k1
        * (
            F.lit(1.0)
            - b
            + b * (F.col("dl").cast("double") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(avgdl))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", idf * sat)
    )
    w = Window.partitionBy("term").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            "term",
            "doc_id",
            "tf",
            F.round(F.col("score"), 4).alias("bm25"),
            F.col("rn").alias("rank"),
        )
    )


def q_version_deltas(spark, sf_dir):
    """Whole-history triple deltas: added/removed counts for every
    consecutive version transition of every graph (diff() generalized
    from one (t1,t2) pair to the full changelog).
    operators/versioned.py::version_deltas."""
    from rdf_diff_store_spark.operators.versioned import version_deltas

    return version_deltas(changelog_from_events(spark, sf_dir))


_TYPED_LIT_DOC = """
@prefix ex: <http://ex.org/> .
ex:d1 ex:label "hello"@en .
ex:d2 ex:label "hello"@de .
ex:d3 ex:label "hello" .
ex:d4 ex:size "5"^^<http://www.w3.org/2001/XMLSchema#integer> .
ex:d5 ex:size "5" .
""".strip()


def q_sparql_text_typed_literal(spark, sf_dir):
    """Typed-literal constants in triple patterns: `"hello"@en`
    matches only the en-tagged literal, `"5"^^xsd:integer` only the
    typed one; a bare `"hello"` keeps lexical identity (all three).
    plans/algebra.py TypedLit; tokenizer langtag/^^ support."""
    from rdf_diff_store_spark.functions.turtle import parse_triples
    from rdf_diff_store_spark.plans.sparql_text import sparql_query

    docs = spark.createDataFrame(
        [("g", 0, _TYPED_LIT_DOC)], "graph_id string, ts long, payload string"
    )
    triples = parse_triples(docs)
    en = sparql_query(
        triples, 'SELECT ?s WHERE { ?s <http://ex.org/label> "hello"@en }'
    ).withColumn("q", F.lit("lang_en"))
    typed = sparql_query(
        triples,
        "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
        'SELECT ?s WHERE { ?s <http://ex.org/size> "5"^^xsd:integer }',
    ).withColumn("q", F.lit("typed_int"))
    bare = sparql_query(
        triples, 'SELECT ?s WHERE { ?s <http://ex.org/label> "hello" }'
    ).withColumn("q", F.lit("bare"))
    return en.unionByName(typed).unionByName(bare)


def q_sparql_text_typed_compare(spark, sf_dir):
    """Ordering + arithmetic on NUMERIC typed literals:
    FILTER(?b > "500000"^^xsd:decimal && ?b / "100"^^xsd:integer <
    "9000"^^xsd:decimal) — SPARQL 1.1 §17.3 operand mapping maps
    numeric typed literals to numeric values (r03 verdict #8; was a
    documented loud raise limited to =/!=)."""
    return _sparql_text(
        spark,
        sf_dir,
        """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?c ?b WHERE {
          ?c <acctbalCents> ?b .
          FILTER(?b > "500000"^^xsd:decimal &&
                 ?b / "100"^^xsd:integer < "9000"^^xsd:decimal)
        }
        """,
    )


def q_sparql_text_typed_temporal(spark, sf_dir):
    """Temporal ordering on xsd:date typed literals:
    FILTER(?d >= "1998-06-15"^^xsd:date && ?d < "1998-07-01"^^xsd:date)
    — SPARQL 1.1 §17.3 op:date ordering (the non-numeric half of r03
    verdict #8; was a documented loud raise). Compiled as session-TZ-
    independent string→date casts (plans/sparql_text.py _temporal_dt);
    oxigraph parity: reference queries run date filters through
    src/bin/rdf-query-cache.rs:44-53."""
    from rdf_diff_store_spark.plans.sparql_text import sparql_query
    from rdf_diff_store_spark.sources.relational import load_table

    orders = load_table(spark, sf_dir, "orders")
    triples = orders.select(
        F.lit("g").alias("graph_id"),
        F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")).alias("subj"),
        F.lit("orderDate").alias("pred"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("obj"),
    )
    return sparql_query(
        triples,
        """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?o ?d WHERE {
          ?o <orderDate> ?d .
          FILTER(?d >= "1998-06-15"^^xsd:date && ?d < "1998-07-01"^^xsd:date)
        }
        """,
    )


def q_sparql_text_sameterm_ctor(spark, sf_dir):
    """Term-level sameTerm + constant STRLANG/STRDT constructors (r04
    deviation closures): sameTerm distinguishes lang/datatype tags
    (xsd:string ≡ simple literal per RDF 1.1), and STRLANG/STRDT with
    constant args fold to typed-literal constants usable in FILTER
    term-equality and numeric ordering. plans/sparql_text.py
    _fold_typed_ctor + SAMETERM term()."""
    from rdf_diff_store_spark.functions.turtle import parse_triples
    from rdf_diff_store_spark.plans.sparql_text import sparql_query

    docs = spark.createDataFrame(
        [("g", 0, _TYPED_LIT_DOC)], "graph_id string, ts long, payload string"
    )
    triples = parse_triples(docs)
    pfx = "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    same_en = sparql_query(
        triples,
        'SELECT ?s WHERE { ?s <http://ex.org/label> ?o . '
        'FILTER(sameTerm(?o, "hello"@en)) }',
    ).withColumn("q", F.lit("sameterm_en"))
    same_simple = sparql_query(
        triples,
        'SELECT ?s WHERE { ?s <http://ex.org/label> ?o . '
        'FILTER(sameTerm(?o, "hello")) }',
    ).withColumn("q", F.lit("sameterm_simple"))
    strlang_eq = sparql_query(
        triples,
        'SELECT ?s WHERE { ?s <http://ex.org/label> ?o . '
        'FILTER(?o = STRLANG("hello", "de")) }',
    ).withColumn("q", F.lit("strlang_eq"))
    strdt_ge = sparql_query(
        triples,
        pfx + 'SELECT ?s WHERE { ?s <http://ex.org/size> ?o . '
        'FILTER(?o >= STRDT("5", xsd:integer)) }',
    ).withColumn("q", F.lit("strdt_ge"))
    return (
        same_en.unionByName(same_simple)
        .unionByName(strlang_eq)
        .unionByName(strdt_ge)
    )


def q_sparql_text_strlang_dyn(spark, sf_dir):
    """DYNAMIC-arg STRLANG/STRDT in term comparisons (r04 deviation
    closure — was a loud raise outside BIND): `?o = STRLANG(STR(?o),
    "en")` keeps exactly the en-tagged terms, `?o = STRDT(STR(?o),
    xsd:integer)` the integer-typed ones, sameTerm accepts a
    constructed term, and != is the complement. plans/sparql_text.py
    _term_components (shared =/!=/sameTerm component view)."""
    from rdf_diff_store_spark.functions.turtle import parse_triples
    from rdf_diff_store_spark.plans.sparql_text import sparql_query

    docs = spark.createDataFrame(
        [("g", 0, _TYPED_LIT_DOC)], "graph_id string, ts long, payload string"
    )
    triples = parse_triples(docs)
    pfx = "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    lang_eq = sparql_query(
        triples,
        'SELECT ?s WHERE { ?s <http://ex.org/label> ?o . '
        'FILTER(?o = STRLANG(STR(?o), "en")) }',
    ).withColumn("q", F.lit("dyn_lang_eq"))
    dt_eq = sparql_query(
        triples,
        pfx + "SELECT ?s WHERE { ?s <http://ex.org/size> ?o . "
        "FILTER(?o = STRDT(STR(?o), xsd:integer)) }",
    ).withColumn("q", F.lit("dyn_dt_eq"))
    same_dyn = sparql_query(
        triples,
        'SELECT ?s WHERE { ?s <http://ex.org/label> ?o . '
        'FILTER(sameTerm(?o, STRLANG(LCASE("HELLO"), "de"))) }',
    ).withColumn("q", F.lit("sameterm_dyn"))
    neq = sparql_query(
        triples,
        'SELECT ?s WHERE { ?s <http://ex.org/label> ?o . '
        'FILTER(?o != STRLANG(STR(?o), "en")) }',
    ).withColumn("q", F.lit("dyn_neq"))
    return (
        lang_eq.unionByName(dt_eq).unionByName(same_dyn).unionByName(neq)
    )


def q_doc_tfidf_topk(spark, sf_dir):
    """Top-3 characteristic terms per document by rational tf-idf
    (tf × N/df — the log-free variant, so the score is exact IEEE
    arithmetic and the DuckDB twin matches bit-for-bit). Two partial-
    agg shuffles (term-frequency, document-frequency) + a window
    ranked per doc_id; all JVM expressions."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        tokens.distinct().groupBy("term").agg(F.count("*").alias("df"))
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf").cast("double")
                * (F.col("n_docs").cast("double") / F.col("df").cast("double")),
                4,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "tfidf", F.col("rn").alias("rank"))
    )


def q_corpus_pmi_bigrams(spark, sf_dir):
    """Corpus-level collocations: top-100 adjacent-token bigrams by
    rational PMI ((c_xy/N_bi) / ((c_x/N_uni)·(c_y/N_uni)), log-free =
    engine-exact), min count 5. Bigrams are arrays_zip of two slices
    (no self-join); unigram/bigram totals ride broadcast scalar
    frames; final top-k is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    arr = F.split(F.trim(F.col("text")), r"\s+")
    toks = docs.select(F.explode(arr).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n_uni = toks.agg(F.count("*").alias("n_uni"))
    pairs = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(arr, 1, F.size(arr) - 1).alias("x"),
                F.slice(arr, 2, F.size(arr) - 1).alias("y"),
            )
        ).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    bi = pairs.groupBy("x", "y").agg(F.count("*").alias("c_xy"))
    n_bi = pairs.agg(F.count("*").alias("n_bi"))
    cx = uni.select(F.col("tok").alias("x"), F.col("c").alias("c_x"))
    cy = uni.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))
    scored = (
        bi.filter(F.col("c_xy") >= 5)
        .join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .withColumn(
            "pmi_ratio",
            F.round(
                (F.col("c_xy").cast("double") / F.col("n_bi").cast("double"))
                / (
                    (F.col("c_x").cast("double") / F.col("n_uni").cast("double"))
                    * (F.col("c_y").cast("double") / F.col("n_uni").cast("double"))
                ),
                4,
            ),
        )
    )
    return (
        scored.select("x", "y", "c_xy", "pmi_ratio")
        .orderBy(F.col("pmi_ratio").desc(), F.col("x").asc(), F.col("y").asc())
        .limit(100)
    )


_ORACLE_R4 = {
    "image_features_png": """
WITH ids AS (SELECT unnest(generate_series(0, 23)) AS i),
dims AS (SELECT i, 4 + i % 5 AS w, 3 + i % 4 AS h FROM ids),
px AS (
  SELECT d.i, d.w, d.h,
         unnest(generate_series(0, d.w * d.h * 3 - 1)) AS k
  FROM dims d
)
SELECT i AS media_id, CAST(w AS INT) AS dec_width, CAST(h AS INT) AS dec_height,
       ROUND(AVG(CAST((i * 31 + k * 7) % 256 AS DOUBLE)), 4) AS mean_px
FROM px GROUP BY i, w, h
""",
    "expire_versions": f"""
WITH changelog AS ({CHANGELOG_FROM_EVENTS_SQL}),
older AS (SELECT * FROM changelog WHERE ts < TIMESTAMP '{T_MID}'),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY graph_id
      ORDER BY ts DESC, op DESC, coalesce(content_hash, '') DESC) AS rn
  FROM older
),
boundary AS (SELECT graph_id, ts, op, content_hash FROM ranked
             WHERE rn = 1 AND op <> 'delete')
SELECT graph_id, epoch_us(ts) AS ts_us, op, content_hash FROM boundary
UNION ALL
SELECT graph_id, epoch_us(ts) AS ts_us, op, content_hash
FROM changelog WHERE ts >= TIMESTAMP '{T_MID}'
""",
    "doc_bm25_topk": r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
), avgdl AS (SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
qt AS (SELECT * FROM tok WHERE term IN ('spark', 'merge', 'window')),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM qt GROUP BY 1, 2),
dfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM qt GROUP BY term
),
scored AS (
  SELECT tf.term, tf.doc_id, tf.tf,
    (CAST(n.n_docs AS DOUBLE) / (CAST(dfreq.df AS DOUBLE) + 0.5::DOUBLE))
    * ((CAST(tf.tf AS DOUBLE) * (1.2::DOUBLE + 1.0::DOUBLE))
       / (CAST(tf.tf AS DOUBLE)
          + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
             + 0.75::DOUBLE * (CAST(dl.dl AS DOUBLE) / avgdl.avgdl)))) AS score
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term)
  CROSS JOIN avgdl CROSS JOIN n
)
SELECT term, doc_id, tf, ROUND(score, 4) AS bm25, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY term
                               ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
""",
    "audio_features_wav": """
WITH ids AS (SELECT unnest(generate_series(0, 23)) AS i),
cfg AS (SELECT i, 80 + 8 * (i % 10) AS n FROM ids),
smp AS (
  SELECT c.i, c.n, unnest(generate_series(0, c.n - 1)) AS k FROM cfg c
),
s AS (
  SELECT i, n, ((i + 1) * (k * k + 7 * k)) % 65536 - 32768 AS v FROM smp
)
SELECT i AS media_id, CAST(8000 AS INT) AS sample_rate, CAST(n AS INT) AS n_samples,
       CAST((n * 1000) // 8000 AS BIGINT) AS duration_ms,
       ROUND(SQRT(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) / n), 4) AS rms
FROM s GROUP BY i, n
""",
    "version_deltas": f"""
WITH changelog AS ({CHANGELOG_FROM_EVENTS_SQL}),
v AS (
  SELECT graph_id, payload,
         row_number() OVER (PARTITION BY graph_id
             ORDER BY ts, op, coalesce(content_hash, '')) AS vn
  FROM changelog
),
lagged AS (
  SELECT graph_id, vn, payload,
         lag(payload) OVER (PARTITION BY graph_id ORDER BY vn) AS prev,
         CASE WHEN vn > 1 THEN TRUE ELSE FALSE END AS has_prev
  FROM v
)
SELECT graph_id, CAST(vn AS INT) AS vn,
  CAST(CASE WHEN payload IS NOT NULL AND (prev IS NULL OR prev <> payload)
       THEN 1 ELSE 0 END AS BIGINT) AS n_added,
  CAST(CASE WHEN has_prev AND prev IS NOT NULL
            AND (payload IS NULL OR prev <> payload)
       THEN 1 ELSE 0 END AS BIGINT) AS n_removed
FROM lagged
""",
    "sparql_text_typed_literal": """
SELECT * FROM (VALUES
  ('http://ex.org/d1', 'lang_en'),
  ('http://ex.org/d4', 'typed_int'),
  ('http://ex.org/d1', 'bare'),
  ('http://ex.org/d2', 'bare'),
  ('http://ex.org/d3', 'bare')
) AS t(s, q)
""",
    "doc_tfidf_topk": r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ROUND(CAST(tf.tf AS DOUBLE)
               * (CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 4) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3
""",
    "corpus_pmi_bigrams": r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents
), pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i])) AS x,
         unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i + 1])) AS y
  FROM t
), toks AS (
  SELECT unnest(l) AS tok FROM t
), uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok
), bi AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM pairs GROUP BY x, y
), nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM pairs),
nu AS (SELECT CAST(count(*) AS BIGINT) AS n_uni FROM toks)
SELECT bi.x, bi.y, bi.c_xy,
       ROUND((CAST(bi.c_xy AS DOUBLE) / CAST(nb.n_bi AS DOUBLE))
             / ((CAST(cx.c AS DOUBLE) / CAST(nu.n_uni AS DOUBLE))
                * (CAST(cy.c AS DOUBLE) / CAST(nu.n_uni AS DOUBLE))), 4) AS pmi_ratio
FROM bi JOIN uni cx ON bi.x = cx.tok JOIN uni cy ON bi.y = cy.tok
CROSS JOIN nb CROSS JOIN nu
WHERE bi.c_xy >= 5
ORDER BY pmi_ratio DESC, bi.x ASC, bi.y ASC LIMIT 100
""",
    "sparql_update_roundtrip": f"""
WITH changelog AS ({CHANGELOG_FROM_EVENTS_SQL}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY graph_id
      ORDER BY ts DESC, op DESC, coalesce(content_hash, '') DESC) AS rn
  FROM changelog
),
live AS (
  SELECT graph_id,
         regexp_extract(payload, '^<([^>]*)>', 1) AS subj,
         regexp_extract(payload, '"([^"]*)"', 1) AS cents
  FROM ranked WHERE rn = 1 AND op <> 'delete'
)
SELECT graph_id, subj, 'http://ex.org/valueCents' AS pred, cents AS obj,
       'http://www.w3.org/2001/XMLSchema#string' AS obj_dt,
       CAST(NULL AS VARCHAR) AS obj_lang
FROM live WHERE cents <> '0'
UNION ALL
SELECT 'urn:audit', 'urn:audit', 'http://ex.org/updatedBy', 'sparql-update',
       'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR)
""",
    "entity_link_scores": r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS alias
  FROM documents
), ftok AS (
  SELECT doc_id, alias FROM tok WHERE regexp_matches(alias, '^[A-Za-z]{5,}$')
), counts AS (
  SELECT alias, CAST(count(*) AS BIGINT) AS alias_freq FROM ftok GROUP BY alias
), top AS (
  SELECT alias, alias_freq FROM counts ORDER BY alias_freq DESC, alias ASC LIMIT 50
), cand AS (
  SELECT t.alias, t.alias_freq, m.max_freq
  FROM top t CROSS JOIN (SELECT MAX(alias_freq) AS max_freq FROM top) m
), mentions AS (
  SELECT DISTINCT doc_id, alias AS mention FROM ftok
), scored AS (
  SELECT m.doc_id, m.mention, c.alias,
    0.8::DOUBLE * (1.0::DOUBLE - CAST(levenshtein(m.mention, c.alias) AS DOUBLE)
                   / CAST(GREATEST(length(m.mention), length(c.alias)) AS DOUBLE))
    + 0.2::DOUBLE * (CAST(c.alias_freq AS DOUBLE) / CAST(c.max_freq AS DOUBLE)) AS score
  FROM mentions m JOIN cand c ON levenshtein(m.mention, c.alias) <= 2
)
SELECT doc_id, mention, alias AS entity, ROUND(score, 4) AS score, n_candidates
FROM (
  SELECT doc_id, mention, alias, score,
         CAST(COUNT(*) OVER (PARTITION BY doc_id, mention) AS BIGINT) AS n_candidates,
         ROW_NUMBER() OVER (PARTITION BY doc_id, mention
                            ORDER BY score DESC, alias DESC) AS rn
  FROM scored
) WHERE rn = 1
""",
}

# the blocked (non-broadcast) linking path must produce the IDENTICAL
# result frame — one oracle pins both implementations to each other
_ORACLE_R4["entity_link_blocked"] = _ORACLE_R4["entity_link_scores"]

_ORACLE_R4["sparql_text_typed_temporal"] = """
SELECT 'order:' || CAST(o_orderkey AS VARCHAR) AS o,
       strftime(o_orderdate, '%Y-%m-%d') AS d
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1998-06-15'
  AND CAST(o_orderdate AS DATE) < DATE '1998-07-01'
"""

_ORACLE_R4["sparql_text_sameterm_ctor"] = """
SELECT * FROM (VALUES
  ('http://ex.org/d1', 'sameterm_en'),
  ('http://ex.org/d3', 'sameterm_simple'),
  ('http://ex.org/d2', 'strlang_eq'),
  ('http://ex.org/d4', 'strdt_ge')
) AS t(s, q)
"""
# d5's size is the SIMPLE literal "5" (parsed dt = xsd:string): on a
# typed view, string >= integer is a SPARQL §17.3 type error → the
# row DROPS (r04 session-2 value-semantics rework; oxigraph agrees).

_ORACLE_R4["sparql_text_strlang_dyn"] = """
SELECT * FROM (VALUES
  ('http://ex.org/d1', 'dyn_lang_eq'),
  ('http://ex.org/d4', 'dyn_dt_eq'),
  ('http://ex.org/d2', 'sameterm_dyn'),
  ('http://ex.org/d2', 'dyn_neq'),
  ('http://ex.org/d3', 'dyn_neq')
) AS t(s, q)
"""
# dyn_neq: d2 ("hello"@de) and d3 (simple "hello") both fail the
# lang-tag component against the constructed "hello"@en, so != keeps
# them; d1 IS "hello"@en and drops.

_ORACLE_R4["sparql_text_typed_compare"] = f"""
WITH triples AS ({_T})
SELECT subj AS c, obj AS b FROM triples
WHERE pred = 'acctbalCents'
  AND CAST(obj AS DOUBLE) > 500000.0
  AND CAST(obj AS DOUBLE) / 100.0 < 9000.0
"""


def q_sparql_update_using(spark, sf_dir):
    """USING / USING NAMED dataset clauses on INSERT WHERE (SPARQL 1.1
    Update §3.1.4, compiled onto the query engine's FROM / FROM NAMED):
    op 1 evaluates WHERE only against user:1 ∪ user:2 while the WITH
    graph receives the template (USING overrides WITH for matching,
    §3.1.3); op 2 proves USING NAMED scopes GRAPH ?g.
    plans/sparql_update.py (reference write path
    /root/reference/src/bin/rdf-diff-writer.rs:45-91)."""
    from rdf_diff_store_spark.operators.versioned import snapshot_triples
    from rdf_diff_store_spark.plans.sparql_update import apply_update

    log = changelog_from_events(spark, sf_dir)
    upd = """
PREFIX ex: <http://ex.org/>
WITH <urn:flagged> INSERT { ?s ex:flaggedValue ?v }
USING <user:1> USING <user:2> WHERE { ?s ex:value ?v } ;
INSERT { GRAPH <urn:sources> { <urn:sources> ex:sawGraph ?g } }
USING NAMED <user:3> WHERE { GRAPH ?g { ?s ex:value ?v } }
"""
    new_log = apply_update(log, upd, T_UPDATE)
    return (
        snapshot_triples(new_log, T_UPDATE)
        .filter(F.col("graph_id").isin("urn:flagged", "urn:sources"))
        .select("graph_id", "subj", "pred", "obj", "obj_dt", "obj_lang")
    )


def q_sparql_text_ebv(spark, sf_dir):
    """Effective boolean value (SPARQL 1.1 §17.2.2) in FILTER / ! /
    && / IF over a TYPED view: xsd:boolean terms coerce by value,
    numeric terms by != 0, and !?v keeps the rows whose EBV is false
    (type errors drop plain and negated alike).
    plans/sparql_text.py::_compile_ebv."""
    from rdf_diff_store_spark.plans.sparql_text import sparql_query

    xsd = "http://www.w3.org/2001/XMLSchema#"
    cust = load_table(spark, sf_dir, "customer")
    subj = F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))
    vip = cust.select(
        F.lit("g").alias("graph_id"),
        subj.alias("subj"),
        F.lit("vip").alias("pred"),
        F.when(F.col("c_custkey") % 3 == 0, "true").otherwise("false").alias("obj"),
        F.lit(xsd + "boolean").alias("obj_dt"),
        F.lit(None).cast("string").alias("obj_lang"),
    )
    bal = cust.select(
        F.lit("g").alias("graph_id"),
        subj.alias("subj"),
        F.lit("bal").alias("pred"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").cast("string").alias("obj"),
        F.lit(xsd + "integer").alias("obj_dt"),
        F.lit(None).cast("string").alias("obj_lang"),
    )
    triples = vip.unionByName(bal)
    r1 = sparql_query(
        triples, "SELECT ?s WHERE { ?s <vip> ?v FILTER(?v) }"
    ).withColumn("q", F.lit("vip_true"))
    r2 = sparql_query(
        triples, "SELECT ?s WHERE { ?s <vip> ?v FILTER(!?v) }"
    ).withColumn("q", F.lit("vip_false"))
    r3 = sparql_query(
        triples,
        'SELECT ?s (IF(?b && ?b < 0, "y", "n") AS ?tag) '
        "WHERE { ?s <bal> ?b FILTER(?b) }",
    ).select("s", F.concat(F.lit("bal_"), F.col("tag")).alias("q"))
    return r1.unionByName(r2).unionByName(r3)


_ORACLE_R4["sparql_update_using"] = f"""
WITH changelog AS ({CHANGELOG_FROM_EVENTS_SQL}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY graph_id
      ORDER BY ts DESC, op DESC, coalesce(content_hash, '') DESC) AS rn
  FROM changelog
),
live AS (
  SELECT graph_id,
         regexp_extract(payload, '^<([^>]*)>', 1) AS subj,
         regexp_extract(payload, '"([^"]*)"', 1) AS cents
  FROM ranked WHERE rn = 1 AND op <> 'delete'
)
SELECT 'urn:flagged' AS graph_id, subj, 'http://ex.org/flaggedValue' AS pred,
       cents AS obj, 'http://www.w3.org/2001/XMLSchema#string' AS obj_dt,
       CAST(NULL AS VARCHAR) AS obj_lang
FROM live WHERE graph_id IN ('user:1', 'user:2')
UNION ALL
SELECT 'urn:sources', 'urn:sources', 'http://ex.org/sawGraph', graph_id,
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM live WHERE graph_id = 'user:3'
"""

_ORACLE_R4["sparql_text_ebv"] = """
SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS s, 'vip_true' AS q
FROM customer WHERE c_custkey % 3 = 0
UNION ALL
SELECT 'cust:' || CAST(c_custkey AS VARCHAR), 'vip_false'
FROM customer WHERE c_custkey % 3 <> 0
UNION ALL
SELECT 'cust:' || CAST(c_custkey AS VARCHAR),
       'bal_' || CASE WHEN CAST(ROUND(c_acctbal * 100) AS BIGINT) < 0
                      THEN 'y' ELSE 'n' END
FROM customer WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) <> 0
"""


def q_doc_sequence_pack(spark, sf_dir):
    """LLM sequence packing — concatenate the corpus token stream and
    cut fixed 512-token training sequences (the GPT-style pack-and-cut
    pipeline stage). Scale design: docs shard by doc_id % 8 (in
    production: a hash-partition count ~ cluster parallelism) so the
    cumulative-offset window runs per shard in parallel — no global
    order, no single-partition window. Output one row per (shard,
    sequence): how many docs START in it and their token mass."""
    from rdf_diff_store_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    seq_len = 512
    n_tok = token_count(F.col("text"))
    d = docs.select(
        "doc_id", (F.col("doc_id") % 8).alias("shard"), n_tok.alias("n_tokens")
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    packed = d.select(
        "shard",
        "doc_id",
        "n_tokens",
        F.floor(offset / seq_len).alias("seq_id"),
    )
    return packed.groupBy("shard", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


def q_doc_gopher_filter(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021 §A1.1) as one JVM-side
    pass — the rule battery a pretraining corpus filter applies before
    dedup: word-count bounds, mean-word-length band, symbol-to-word
    ratio, alphabetic-word ratio, stopword floor. Pure built-in
    expressions (split/aggregate/filter) — no UDF, whole-stage
    codegen, scan prunes to (doc_id, text). The stopword floor is 1
    here (Gopher uses 2) because the synthetic vocab carries only
    'the'; the rule battery and plumbing are what's under test."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    # Every ratio is emitted as a scaled-by-10^4 INTEGER (floor) and
    # every pass predicate is pure integer arithmetic: 5-6 docs at
    # sf0.01 land exactly on a round(., 4) half-boundary, where Spark
    # (BigDecimal shortest-repr HALF_UP) and DuckDB (double*1e4
    # std::round) can disagree by 1 ulp — integer div is bit-exact in
    # both engines (same class as the r01 HUGEINT lesson).
    n_words = F.size(words)
    # mean word length == non-whitespace chars / words (identical to
    # avg(length(word)) over a whitespace split)
    n_chars = F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", ""))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    hash_syms = F.length(F.col("text")) - F.length(F.regexp_replace("text", "#", ""))
    # each '...' occurrence removes exactly 3 chars -> exact count
    ellipses = (
        F.length(F.col("text"))
        - F.length(F.regexp_replace("text", r"\.\.\.", ""))
    ) / 3
    stop_hits = sum(
        F.array_contains(words, s).cast("int")
        for s in ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    d = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        alpha_words.alias("n_alpha"),
        (hash_syms + ellipses.cast("int")).alias("n_sym"),
        stop_hits.alias("stop_hits"),
    )
    e4 = lambda num: F.expr(f"CAST({num} AS BIGINT) * 10000 div n_words")  # noqa: E731
    passes = (
        F.col("n_words").between(50, 100000)
        # 3 <= n_chars/n_words <= 10, symbol < 0.1, alpha > 0.8 —
        # cross-multiplied to integers
        & (F.col("n_chars") >= 3 * F.col("n_words"))
        & (F.col("n_chars") <= 10 * F.col("n_words"))
        & (10 * F.col("n_sym") < F.col("n_words"))
        & (5 * F.col("n_alpha") > 4 * F.col("n_words"))
        & (F.col("stop_hits") >= 1)
    )
    return d.select(
        "doc_id",
        "n_words",
        e4("n_chars").alias("mean_word_len_e4"),
        e4("n_alpha").alias("alpha_word_ratio_e4"),
        e4("n_sym").alias("symbol_ratio_e4"),
        "stop_hits",
        passes.alias("passes"),
    )


def q_dataset_mixture_sample(spark, sf_dir):
    """Weighted dataset mixture — the pretraining-mix stage that
    downsamples each source to its target weight. Seedless and
    engine-portable: keep a doc iff the first hex digit of
    md5(doc_id) clears the source's weight threshold (src0 16/16,
    src1 8/16, src2 4/16, else 2/16), so the SAME mix falls out on
    every run, engine, and partitioning — rand()-based sampling can't
    be replayed or oracle-checked. One scan, one agg; the keep gate
    is a map-side filter at 100 TB."""
    from rdf_diff_store_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    h1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = (
        F.when(F.col("source") == "src0", F.lit(True))
        .when(F.col("source") == "src1", h1 < "8")
        .when(F.col("source") == "src2", h1 < "4")
        .otherwise(h1 < "2")
    )
    n_tok = token_count(F.col("text"))
    return (
        docs.select("source", keep.alias("keep"), n_tok.alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0)).alias(
                "kept_tokens"
            ),
        )
    )


_ORACLE_R4["doc_sequence_pack"] = """
WITH d AS (
  SELECT doc_id, doc_id % 8 AS shard,
         len(str_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents),
offs AS (
  SELECT shard, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens AS off
  FROM d)
SELECT shard, CAST(floor(off / 512) AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM offs GROUP BY 1, 2
"""

_ORACLE_R4["doc_gopher_filter"] = """
WITH base AS (
  SELECT doc_id, text,
         str_split_regex(trim(lower(text)), '\\s+') AS words,
         len(str_split_regex(trim(lower(text)), '\\s+')) AS n_words,
         length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_chars,
         length(text) - length(replace(text, '#', '')) AS hash_syms,
         (length(text) - length(replace(text, '...', ''))) // 3 AS ellipses
  FROM documents),
feat AS (
  SELECT doc_id, n_words, n_chars,
         len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
         hash_syms + ellipses AS n_sym,
         CAST(list_contains(words, 'the') AS INT) + CAST(list_contains(words, 'be') AS INT)
         + CAST(list_contains(words, 'to') AS INT) + CAST(list_contains(words, 'of') AS INT)
         + CAST(list_contains(words, 'and') AS INT) + CAST(list_contains(words, 'that') AS INT)
         + CAST(list_contains(words, 'have') AS INT) + CAST(list_contains(words, 'with') AS INT)
           AS stop_hits
  FROM base)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
       CAST(n_chars * 10000 // n_words AS BIGINT) AS mean_word_len_e4,
       CAST(n_alpha * 10000 // n_words AS BIGINT) AS alpha_word_ratio_e4,
       CAST(n_sym * 10000 // n_words AS BIGINT) AS symbol_ratio_e4,
       stop_hits,
       (n_words BETWEEN 50 AND 100000)
       AND n_chars >= 3 * n_words AND n_chars <= 10 * n_words
       AND 10 * n_sym < n_words AND 5 * n_alpha > 4 * n_words
       AND stop_hits >= 1 AS passes
FROM feat
"""

_ORACLE_R4["dataset_mixture_sample"] = """
WITH d AS (
  SELECT source,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h1,
         len(str_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents),
k AS (
  SELECT source, n_tokens,
         CASE WHEN source = 'src0' THEN TRUE
              WHEN source = 'src1' THEN h1 < '8'
              WHEN source = 'src2' THEN h1 < '4'
              ELSE h1 < '2' END AS keep
  FROM d)
SELECT source, CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
FROM k GROUP BY source
"""


def q_corpus_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch per language: estimated distinct
    token count from the k=64 smallest md5-52bit hashes vs the exact
    count (operators/sketch.py::kmv_distinct — Bar-Yossef et al.
    2002). The sketch state per group is 64 longs, merging shards is
    re-ranking, and the shuffle after the (lang, hash) distinct
    carries only |distinct| rows — the shape that replaces exact
    COUNT(DISTINCT) at 10^12 tokens. Values are 5-char shingles
    (~1.9k distinct per lang at sf0.001, so the ESTIMATOR branch is
    exercised, not just the exact-below-k one). Portable oracle: the
    hash is the first 13 md5 hex digits (exact-double 52-bit
    integer), so DuckDB reproduces the sketch bit-for-bit."""
    from rdf_diff_store_spark.operators.dedup import bind_once
    from rdf_diff_store_spark.operators.sketch import kmv_distinct

    docs = load_table(spark, sf_dir, "documents")

    def shingles_of(s):
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - 4, F.lit(1))),
            lambda i: s.substr(i, F.lit(5)),
        )

    toks = docs.select(
        "lang",
        F.explode(
            bind_once(F.trim(F.lower(F.col("text"))), shingles_of)
        ).alias("tok"),
    )
    sk = kmv_distinct(toks, ["lang"], "tok", k=64)
    exact = toks.groupBy("lang").agg(
        F.count_distinct("tok").alias("exact_distinct")
    )
    return sk.join(exact, "lang").select(
        "lang", "n_kept", "kth_hash", "est_distinct", "exact_distinct"
    )


def q_doc_priority_sample(spark, sf_dir):
    """Priority sampling (Duffield/Lund/Thorup JACM 2007): a k=100
    token-weighted document sample whose per-row est_weight sums give
    unbiased subset-sum estimates (operators/sketch.py::
    priority_sample). Priorities are exact-double md5 arithmetic —
    bit-identical in DuckDB — and the plan is TakeOrderedAndProject
    (bounded per-partition heaps), never a global sort: the same plan
    at 1e12 docs."""
    from rdf_diff_store_spark.functions.text import token_count
    from rdf_diff_store_spark.operators.sketch import priority_sample

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("weight"),
    )
    return priority_sample(d, "weight", k=100, id_col="doc_id", keep_cols=["source", "weight"])


def q_doc_pii_redact(spark, sf_dir):
    """PII scrub pass (functions/text.py::pii_redact): redact emails,
    international phone numbers, and IPv4s, counting each class. The
    corpus is synthetic, so deterministic PII is appended per doc
    (user<id>@example.com, +47 ..., 10.0.<id%256>.7) to exercise every
    pattern on both engines; the regexes stay inside the Java∩RE2
    common subset. Map-only JVM pass — at 100 TB the cost is the regex
    scan, no shuffle, no UDF."""
    from rdf_diff_store_spark.functions.text import pii_redact

    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +47 2234 55"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    from rdf_diff_store_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(PII_EMAIL_RE)).alias("n_email"),
        F.regexp_count(aug, F.lit(PII_PHONE_RE)).alias("n_phone"),
        F.regexp_count(aug, F.lit(PII_IPV4_RE)).alias("n_ipv4"),
        F.length(pii_redact(aug)).alias("redacted_len"),
    )


def q_doc_shared_spans(spark, sf_dir):
    """Cross-document duplicated-SPAN detection — the exact-substring
    dedup shape of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), reduced to Spark relational algebra:
    winnowing fingerprints per doc (k=12-char grams, w=8 — LONG grams,
    because span dedup wants multi-word matches, unlike the k=5
    doc-level fingerprints), an inverted index FREQUENCY-CAPPED to
    fingerprints shared by 2..20 docs, pair-count, top-50. The df cap
    is the 100-TB load-bearing piece: it bounds per-key self-join
    fanout the way stopword removal bounds a text index (a boilerplate
    gram in 10^9 docs would otherwise create 10^18 pairs); the pair
    shuffle carries only (doc_a, doc_b) ids. Portable md5 hashing, so
    the DuckDB twin reproduces fingerprints bit-for-bit."""
    from rdf_diff_store_spark.operators.dedup import bind_once

    docs = load_table(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))

    def gram_hashes(s):
        n = F.greatest(F.length(s) - 11, F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n), lambda i: F.md5(s.substr(i, F.lit(12)))
        )

    def window_mins(hs):
        n = F.greatest(F.size(hs) - 7, F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n), lambda i: F.array_min(F.slice(hs, i, 8))
            )
        )

    fps = bind_once(bind_once(t, gram_hashes), window_mins)
    ex = docs.select("doc_id", F.explode(fps).alias("fp"))
    keep = (
        ex.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 20))
        .select("fp")
    )
    cand = ex.join(keep, "fp")
    pairs = (
        cand.alias("a")
        .join(
            cand.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("shared_spans"))
        .orderBy(F.desc("shared_spans"), "doc_a", "doc_b")
        .limit(50)
    )


def q_doc_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): split
    each language's documents into head/middle/tail terciles of the
    corpus-unigram log-prob score (the LM-perplexity stand-in this
    repo already value-checks as doc_unigram_logprob) and report
    per-bucket counts and score ranges — the standard corpus
    partitioning step that feeds mixture sampling. ntile(3) over a
    per-lang window ordered by (rounded) score then doc_id: fully
    deterministic, engine-portable, partitioned windows only (never a
    global sort)."""
    from rdf_diff_store_spark.functions.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    scored = unigram_logprob(docs).join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(F.desc("avg_logprob"), "doc_id")
    b = scored.withColumn("bucket", F.ntile(3).over(w))
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("avg_logprob").alias("best_logprob"),
            F.min("avg_logprob").alias("worst_logprob"),
        )
        .withColumn(
            "tier",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("bucket"),
            ),
        )
        .select("lang", "bucket", "tier", "n_docs", "best_logprob", "worst_logprob")
    )


_ORACLE_R4["doc_shared_spans"] = """
WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
h AS (SELECT doc_id,
             list_transform(generate_series(1, greatest(length(s) - 11, 1)),
                            i -> md5(substr(s, i, 12))) AS hs
      FROM t),
m AS (SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(hs) - 7, 1)),
                                          i -> list_min(hs[i:i+7]))) AS fps
      FROM h),
ex AS (SELECT doc_id, unnest(fps) AS fp FROM m),
keep AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) BETWEEN 2 AND 20),
cand AS (SELECT doc_id, fp FROM ex JOIN keep USING (fp)),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM cand a JOIN cand b USING (fp)
          WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS shared_spans
FROM pairs GROUP BY doc_a, doc_b
ORDER BY shared_spans DESC, doc_a, doc_b LIMIT 50
"""

_ORACLE_R4["doc_ppl_buckets"] = """
WITH toks AS (
  SELECT doc_id, unnest(str_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM counts),
scored AS (
  SELECT doc_id, round(avg(ln(c / t)), 4) AS avg_logprob
  FROM toks JOIN counts USING (tok) CROSS JOIN total GROUP BY doc_id),
j AS (SELECT s.doc_id, d.lang, s.avg_logprob
      FROM scored s JOIN documents d USING (doc_id)),
nt AS (SELECT *, ntile(3) OVER (PARTITION BY lang
                                ORDER BY avg_logprob DESC, doc_id) AS bucket
       FROM j)
SELECT lang, CAST(bucket AS INT) AS bucket,
       CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier,
       CAST(count(*) AS BIGINT) AS n_docs,
       max(avg_logprob) AS best_logprob,
       min(avg_logprob) AS worst_logprob
FROM nt GROUP BY lang, bucket
"""

_ORACLE_R4["corpus_kmv_distinct"] = """
WITH toks AS (
  SELECT lang,
         unnest(list_transform(
           range(1, greatest(length(trim(lower(text))) - 4, 1) + 1),
           i -> substr(trim(lower(text)), CAST(i AS INT), 5))) AS tok
  FROM documents),
hashed AS (
  SELECT DISTINCT lang,
         ('0x' || substr(md5(tok), 1, 13))::BIGINT AS h
  FROM toks),
ranked AS (
  SELECT lang, h,
         row_number() OVER (PARTITION BY lang ORDER BY h) AS r
  FROM hashed),
sk AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
         max(h) AS kth_hash,
         CAST(CASE WHEN count(*) < 64 THEN count(*)
              ELSE floor(63 * (4503599627370496.0::DOUBLE) / max(h)) END AS BIGINT)
           AS est_distinct
  FROM ranked WHERE r <= 64 GROUP BY lang),
exact AS (
  SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
  FROM toks GROUP BY lang)
SELECT sk.lang, n_kept, kth_hash, est_distinct, exact_distinct
FROM sk JOIN exact USING (lang)
"""

_ORACLE_R4["doc_priority_sample"] = """
WITH d AS (
  SELECT doc_id, source,
         len(str_split_regex(trim(text), '\\s+')) AS weight,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS h
  FROM documents),
p AS (
  SELECT doc_id, source, weight,
         (CAST(weight AS DOUBLE) * (4503599627370496.0::DOUBLE)) / (h + 1) AS pri
  FROM d),
top AS (
  SELECT * FROM p ORDER BY pri DESC, doc_id DESC LIMIT 101),
tau AS (SELECT min(pri) AS tau FROM top)
SELECT doc_id, source, CAST(weight AS INT) AS weight,
       round(pri, 4) AS priority,
       round(greatest(CAST(weight AS DOUBLE), tau), 4) AS est_weight
FROM (SELECT * FROM top ORDER BY pri DESC, doc_id DESC LIMIT 100), tau
"""

_ORACLE_R4["doc_pii_redact"] = """
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +47 2234 55'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(t, '\\+\\d[\\d -]{7,}\\d')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4,
       CAST(length(
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\\+\\d[\\d -]{7,}\\d', '[PHONE]', 'g'),
           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g')
       ) AS INT) AS redacted_len
FROM aug
"""


def q_corpus_countmin_topk(spark, sf_dir):
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005;
    operators/sketch.py::countmin_topk): the d=3 × w=256 counter
    sketch over the corpus token stream, top-40 tokens by estimated
    count with the exact count alongside so the sketch's one-sided
    error (est ≥ exact, never under) is part of the checked values.
    Sketch state is 768 longs TOTAL — mergeable by addition across
    shards/micro-batches — and the counter build is one map-side-
    combinable pass; estimation broadcasts the 768-row counter table.
    Portable oracle: buckets are md5-52bit hashes mod w, bit-identical
    in DuckDB."""
    from rdf_diff_store_spark.operators.sketch import countmin_topk

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    return countmin_topk(toks, "tok", k=40, depth=3, width=256)


_ORACLE_R4["corpus_countmin_topk"] = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
rows_ AS (SELECT unnest([0, 1, 2]) AS r),
counters AS (
  SELECT r,
         (('0x' || substr(md5(r::VARCHAR || ':' || tok), 1, 13))::BIGINT) % 256 AS bucket,
         count(*) AS counter
  FROM toks CROSS JOIN rows_ GROUP BY 1, 2),
exact AS (SELECT tok, count(*) AS exact_count FROM toks GROUP BY tok),
cand AS (
  SELECT e.tok, e.exact_count, r.r,
         (('0x' || substr(md5(r.r::VARCHAR || ':' || e.tok), 1, 13))::BIGINT) % 256 AS bucket
  FROM exact e CROSS JOIN rows_ r)
SELECT c.tok,
       CAST(min(ct.counter) AS BIGINT) AS est_count,
       CAST(max(c.exact_count) AS BIGINT) AS exact_count
FROM cand c JOIN counters ct USING (r, bucket)
GROUP BY c.tok
ORDER BY est_count DESC, tok
LIMIT 40
"""


def q_doc_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. NeurIPS 2023;
    functions/text.py::dsir_weights): hashed-unigram importance of
    every document against the English-subset target distribution —
    the data-selection score that decides what a 100-TB crawl
    contributes to a training mix. Per-bucket log-ratios are rounded
    to integer micro-logs BEFORE the per-doc sum, so the score is an
    exact BIGINT in both engines (no float-summation-order hazard);
    buckets are md5-52bit mod 512. The 512-row log-ratio table is
    broadcast; the only big shuffle is the (doc, bucket) count."""
    from rdf_diff_store_spark.functions.text import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    scored = dsir_weights(docs, F.col("lang") == "en", n_buckets=512)
    return scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "n_tokens", "logw_micro"
    )


_ORACLE_R4["doc_dsir_weights"] = """
WITH words AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
toks AS (
  SELECT doc_id, is_t,
         (('0x' || substr(md5(tok), 1, 13))::BIGINT) % 512 AS bucket
  FROM words),
db AS (SELECT doc_id, bucket, count(*) AS c FROM toks GROUP BY doc_id, bucket),
bb AS (SELECT bucket, count(*) AS raw_c,
              sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tgt_c
       FROM toks GROUP BY bucket),
tot AS (SELECT sum(raw_c) AS raw_tot, sum(tgt_c) AS tgt_tot FROM bb),
lr AS (SELECT bucket,
              CAST(round((ln(tgt_c + 1) - ln(tgt_tot + 512)
                          - ln(raw_c + 1) + ln(raw_tot + 512)) * 1000000) AS BIGINT) AS lr_micro
       FROM bb CROSS JOIN tot),
sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
              CAST(sum(c * lr_micro) AS BIGINT) AS logw_micro
       FROM db JOIN lr USING (bucket) GROUP BY doc_id)
SELECT s.doc_id, d.lang, s.n_tokens, s.logw_micro
FROM sc s JOIN documents d USING (doc_id)
"""


def q_range_join_intervals(spark, sf_dir):
    """Point-in-interval range join (operators/ranges.py::
    bucketed_range_join): every event joined to every 30-minute
    post-signup window of the same user — the generalization of the
    reference's checkout-by-timestamp binary search
    (/root/reference/src/git.rs:131-162) to event×interval volume.
    Spark's native plan for a pure inequality join is
    BroadcastNestedLoopJoin (O(n·m) — dead at scale); the operator
    rewrites it as an EQUI-join on (user, 30-min time bucket) with
    intervals exploded into the ≤2 buckets they overlap and the exact
    start<=ts<end predicate re-filtering — hash-joinable, AQE-skew-
    splittable, the 100-TB shape. DuckDB's oracle runs the plain
    inequality join (its IEJoin handles it natively at small SF)."""
    from rdf_diff_store_spark.operators.ranges import bucketed_range_join

    HALF_HOUR_US = 1_800_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", _ntz_us(F.col("ts")).alias("ts_us"), "event_type"
    )
    iv = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts_us").alias("start_us"),
        (F.col("ts_us") + HALF_HOUR_US).alias("end_us"),
    )
    joined = bucketed_range_join(
        ev.drop("event_type"),
        iv,
        key="user_id",
        ts_col="ts_us",
        start_col="start_us",
        end_col="end_us",
        bucket_width=HALF_HOUR_US,
    )
    return joined.select(
        "signup_id",
        "event_id",
        (F.col("ts_us") - F.col("start_us")).cast("bigint").alias("gap_us"),
    )


_ORACLE_R4["range_join_intervals"] = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
iv AS (
  SELECT event_id AS signup_id, user_id, ts_us AS start_us,
         ts_us + 1800000000 AS end_us
  FROM ev WHERE event_type = 'signup')
SELECT i.signup_id, e.event_id,
       CAST(e.ts_us - i.start_us AS BIGINT) AS gap_us
FROM ev e
JOIN iv i ON e.user_id = i.user_id
         AND e.ts_us >= i.start_us AND e.ts_us < i.end_us
"""


def q_asof_join_purchase(spark, sf_dir):
    """As-of join (operators/ranges.py::asof_join): every click event
    picks the user's LATEST purchase at-or-before it — the temporal
    join the reference's checkout-by-timestamp binary search performs
    one graph at a time (/root/reference/src/git.rs:131-162), at
    full-table volume. Physically NOT a join: clicks and purchases
    are unioned with a side tag and ONE window carries the last
    purchase forward as a struct — one shuffle total, vs the naive
    join+max-per-event double shuffle or the inequality-predicate
    BroadcastNestedLoopJoin. Left-outer: clicks before any purchase
    keep NULLs. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from rdf_diff_store_spark.operators.ranges import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        _ntz_us(F.col("ts")).alias("ts_us"),
        "event_type",
        "value",
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts_us").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    joined = asof_join(
        clicks,
        purchases,
        key="user_id",
        ts_col="ts_us",
        quote_ts_col="p_ts",
        matched_ts_alias="p_ts_us",
    )
    return joined.select(
        "event_id",
        "user_id",
        "purchase_id",
        F.round("purchase_value", 2).alias("purchase_value"),
        (F.col("ts_us") - F.col("p_ts_us")).cast("bigint").alias("gap_us"),
    )


_ORACLE_R4["asof_join_purchase"] = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
  FROM events),
c AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
p AS (SELECT user_id, ts_us AS p_ts, event_id AS purchase_id,
             value AS purchase_value
      FROM ev WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, p.purchase_id,
       round(p.purchase_value, 2) AS purchase_value,
       CAST(c.ts_us - p.p_ts AS BIGINT) AS gap_us
FROM c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND c.ts_us >= p.p_ts
"""


def q_kg_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (operators/graph.py::pagerank) over
    the KG's entity edges (customer/supplier→nation, nation→region,
    nation→nation chains) — entity importance for the graph the
    reference stores as RDF (SURVEY.md §2B has only path queries;
    ranking is the batch complement). Integer micro-unit arithmetic
    (div, never float division) makes every rank a BIGINT sum of
    identical integers in both engines — the oracle unrolls the same
    5 iterations as chained CTEs and matches bit-exactly, with no
    convergence-threshold nondeterminism. One join + one combinable
    sum per iteration; lineage cut by eager checkpoints."""
    from rdf_diff_store_spark.operators.graph import pagerank

    t = triples_from_tpch(spark, sf_dir)
    edges = t.filter(
        F.col("pred").isin("inNation", "inRegion", "nextNation")
    ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return pagerank(edges, iterations=5)


def _pagerank_oracle(iterations: int = 5, damping: int = 85) -> str:
    base = (1_000_000 * (100 - damping)) // 100
    sql = [
        f"""
WITH triples AS ({_T}),
edges0 AS (
  SELECT DISTINCT subj AS src, obj AS dst FROM triples
  WHERE pred IN ('inNation', 'inRegion', 'nextNation')),
od AS (SELECT src, count(*) AS outdeg FROM edges0 GROUP BY src),
edges AS (SELECT e.src, e.dst, o.outdeg FROM edges0 e JOIN od o USING (src)),
nodes AS (SELECT src AS node FROM edges0 UNION SELECT dst FROM edges0),
pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes)"""
    ]
    for k in range(iterations):
        sql.append(
            f""",
pr{k + 1} AS (
  SELECT n.node,
         CAST({base} + COALESCE(c.in_micro, 0) AS BIGINT) AS rank_micro
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           SUM((p.rank_micro * {damping}) // (100 * e.outdeg)) AS in_micro
    FROM edges e JOIN pr{k} p ON p.node = e.src
    GROUP BY e.dst) c USING (node))"""
        )
    sql.append(f"\nSELECT node, rank_micro FROM pr{iterations}")
    return "".join(sql)


_ORACLE_R4["kg_pagerank"] = _pagerank_oracle()


def q_bucketed_snapshot(spark, sf_dir):
    """Snapshot over BUCKETED changelog storage (sources/
    bucketed_store.py): the changelog is persisted bucketed+sorted by
    graph_id, so the latest-wins snapshot aggregation — and every
    other graph_id-keyed read (as-of diff self-joins, compaction) —
    runs with ZERO Exchange nodes (asserted by explain_audit check 7
    and tests/test_bucketed_store.py). This is the Spark-native
    analogue of the reference keeping each graph's whole history
    inside one git repo (/root/reference/src/git.rs:60-162): storage
    layout = access path, so snapshot reads move no data. Results are
    identical to the unbucketed `snapshot_at` — same oracle SQL —
    only the physical plan differs."""
    import os as _os
    import re as _re

    from rdf_diff_store_spark.sources.bucketed_store import (
        read_bucketed_changelog,
        write_bucketed_changelog,
    )

    # pid in the path/table: two concurrent harnesses value-checking
    # the same sf_dir must not overwrite each other's live table files
    # (repeat calls within ONE process still reuse + overwrite cleanly)
    suffix = _re.sub(r"\W", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    suffix = f"{suffix}_{_os.getpid()}"
    write_bucketed_changelog(
        changelog_from_events(spark, sf_dir),
        f"changelog_bucketed_{suffix}",
        f"/tmp/spark_graft_bucketed_{suffix}",
        n_buckets=16,
    )
    t = read_bucketed_changelog(spark, f"changelog_bucketed_{suffix}")
    return snapshot_at(t, T_MID).select("graph_id", "payload", "content_hash")


_ORACLE_R4["bucketed_snapshot"] = _snapshot_sql(T_MID)


def q_corpus_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch per language (Flajolet et
    al. 2007; operators/sketch.py::hll_registers/hll_estimate):
    m=256 registers of max-leading-zero ranks, mergeable by
    register-wise max (idempotent — replay/shard-safe, unlike KMV's
    re-rank merge). Register index and rank come from disjoint md5
    hex spans, and the rank uses integer bit-length (bin() string
    length, identical unpadded semantics in Spark and DuckDB), so
    the register table is bit-identical in both engines; all
    cross-register state folds into ONE exact BIGINT (sum of powers
    of two), making the final float step a single shared-literal
    IEEE divide — est_distinct matches bit-for-bit. Exact count
    rides alongside so the ~6.5 % (1.04/√256) sketch error is part
    of the checked values. Plan: one groupBy (lang, reg) with
    map-side partial max — the shuffle carries ≤ 256 rows per lang
    at ANY corpus size."""
    from rdf_diff_store_spark.operators.dedup import bind_once
    from rdf_diff_store_spark.operators.sketch import hll_distinct

    docs = load_table(spark, sf_dir, "documents")

    def shingles_of(s):
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - 4, F.lit(1))),
            lambda i: s.substr(i, F.lit(5)),
        )

    toks = docs.select(
        "lang",
        F.explode(
            bind_once(F.trim(F.lower(F.col("text"))), shingles_of)
        ).alias("tok"),
    )
    sk = hll_distinct(toks, ["lang"], "tok", b=8)
    exact = toks.groupBy("lang").agg(
        F.count_distinct("tok").alias("exact_distinct")
    )
    return sk.join(exact, "lang").select(
        "lang", "n_regs", "sum_scaled", "est_distinct", "exact_distinct"
    )


_ORACLE_R4["corpus_hll_distinct"] = """
WITH toks AS (
  SELECT lang,
         unnest(list_transform(
           range(1, greatest(length(trim(lower(text))) - 4, 1) + 1),
           i -> substr(trim(lower(text)), CAST(i AS INT), 5))) AS tok
  FROM documents),
rr AS (
  SELECT lang,
         ('0x' || substr(md5(tok), 1, 2))::BIGINT AS reg,
         53 - length(ltrim(bin(('0x' || substr(md5(tok), 3, 13))::BIGINT), '0'))
           AS rank
  FROM toks),
regs AS (SELECT lang, reg, max(rank) AS maxrank FROM rr GROUP BY 1, 2),
agg AS (
  SELECT lang, CAST(count(*) AS INT) AS n_regs,
         CAST(sum(CAST(2 ** (53 - maxrank) AS BIGINT)) AS BIGINT) AS present_sum
  FROM regs GROUP BY lang),
est AS (
  SELECT lang, n_regs,
         present_sum + CAST(256 - n_regs AS BIGINT) * CAST(9007199254740992 AS BIGINT)
           AS sum_scaled
  FROM agg),
exact AS (
  SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
  FROM toks GROUP BY lang)
SELECT e.lang, n_regs, sum_scaled,
       CAST(floor(4.2399330249068963e+20 / sum_scaled) AS BIGINT) AS est_distinct,
       exact_distinct
FROM est e JOIN exact USING (lang)
"""


def q_doc_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter benchmark decontamination (operators/dedup.py::
    bloom_bits/bloom_decontaminate) — the broadcast-scan alternative
    to the exact semi-join sweep (`doc_decontaminate`): the eval
    set's 3-gram shingles fold into an 8192-position Bloom set
    (k=3 md5-portable hashes), broadcast once; the train side is a
    MAP-ONLY probe (nested JVM array expression), so NO shuffle
    touches the corpus — the exchange the semi-join pays on every
    train gram disappears, at the price of a sized-in-advance
    false-positive rate (~(1-e^(-kn/m))^k) and never a false
    negative. Output (doc_id, n_grams, n_hits, flagged) for every
    train doc; the DuckDB twin rebuilds the identical position set
    relationally, so false positives match bit-for-bit too."""
    from rdf_diff_store_spark.operators.dedup import (
        bloom_bits,
        bloom_decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", _doc_shingles_col().alias("grams"))
    eval_grams = sh.filter(F.col("doc_id") < 10).select(
        F.explode("grams").alias("g")
    )
    bits = bloom_bits(eval_grams, "g", k=3, m_bits=8192)
    train = sh.filter(F.col("doc_id") >= 10)
    return bloom_decontaminate(train, "grams", bits, k=3, m_bits=8192)


_ORACLE_R4["doc_bloom_decontaminate"] = f"""
WITH sh AS ({_DOC_SHINGLES_SQL}),
ex AS (SELECT doc_id, u.s AS g FROM sh, unnest(shingles) AS u(s)),
seeds AS (SELECT unnest([0, 1, 2]) AS s),
posset AS (
  SELECT DISTINCT
         (('0x' || substr(md5(s::VARCHAR || ':' || g), 1, 13))::BIGINT) % 8192 AS pos
  FROM ex, seeds WHERE doc_id < 10),
probe AS (
  SELECT doc_id, g, s,
         (('0x' || substr(md5(s::VARCHAR || ':' || g), 1, 13))::BIGINT) % 8192 AS pos
  FROM ex, seeds WHERE doc_id >= 10),
hits AS (
  SELECT doc_id, g, (count(p.pos) = 3) AS hit
  FROM probe pr LEFT JOIN posset p ON pr.pos = p.pos
  GROUP BY doc_id, g)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       (sum(CASE WHEN hit THEN 1 ELSE 0 END) > 0) AS flagged
FROM hits GROUP BY doc_id
"""


def q_corpus_bpe_pairs(spark, sf_dir):
    """BPE merge-pair counting (Sennrich et al. 2016; functions/
    text.py::bpe_pair_counts): the adjacent-symbol-pair frequency
    table a byte-pair-encoding tokenizer trainer computes once per
    merge round, at round zero (symbols = characters). Top-30 pairs
    with counts. The pair expansion is a nested JVM array expression
    and the only shuffle is a ≤1.3k-key groupBy with map-side
    partial agg — the same plan at 10^12 documents; top-k lowers to
    TakeOrderedAndProject."""
    from rdf_diff_store_spark.functions.text import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, "text", k=30)


_ORACLE_R4["corpus_bpe_pairs"] = """
WITH words AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
  FROM documents),
w2 AS (SELECT w FROM words WHERE length(w) >= 2),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substr(w, CAST(i AS INT), 2))) AS pair
  FROM w2)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 30
"""


def q_doc_len_quantiles(spark, sf_dir):
    """Corpus length-distribution quantiles from a mergeable
    fixed-grid histogram (operators/sketch.py::grid_histogram/
    histogram_quantiles) — the pass that picks length-filter cutoffs
    for a training mix. Per lang: token-count histogram on a 64-bin
    [0,2048) grid (exact integer DIV bucketing), then q25/q50/q75/q90
    as bucket lower bounds selected by the all-integer rule
    cum·den ≥ N·num (⌈qN⌉ without floats). Histogram state is ≤64
    longs per lang, mergeable by addition across shards/batches; the
    only data-sized step is the map-side-combined bucket count.
    Bit-identical in DuckDB — no float division anywhere."""
    from rdf_diff_store_spark.functions.text import token_count
    from rdf_diff_store_spark.operators.sketch import (
        grid_histogram,
        histogram_quantiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        token_count(F.col("text")).alias("ntok"),
    )
    hist = grid_histogram(d, ["lang"], "ntok", lo=0, hi=2048, n_bins=64)
    return histogram_quantiles(hist, ["lang"], lo=0, hi=2048, n_bins=64)


_ORACLE_R4["doc_len_quantiles"] = r"""
WITH d AS (
  SELECT lang,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
  FROM documents),
h AS (
  SELECT lang,
         CAST(least(greatest((v - 0) * 64 // (2048 - 0), 0), 63) AS INT) AS bucket,
         count(*) AS n
  FROM d GROUP BY 1, 2),
c AS (
  SELECT lang, bucket, n,
         sum(n) OVER (PARTITION BY lang ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n) OVER (PARTITION BY lang) AS total
  FROM h)
SELECT lang, CAST(max(total) AS BIGINT) AS n_rows,
       CAST(0 + min(CASE WHEN cum * 4  >= total * 1 THEN bucket END) * 2048 // 64 AS BIGINT) AS q25,
       CAST(0 + min(CASE WHEN cum * 2  >= total * 1 THEN bucket END) * 2048 // 64 AS BIGINT) AS q50,
       CAST(0 + min(CASE WHEN cum * 4  >= total * 3 THEN bucket END) * 2048 // 64 AS BIGINT) AS q75,
       CAST(0 + min(CASE WHEN cum * 10 >= total * 9 THEN bucket END) * 2048 // 64 AS BIGINT) AS q90
FROM c GROUP BY lang
"""



# -- session-9: BPE tokenizer APPLY (the encode side of BPE) ----------

# A trained tokenizer's merge table is a static artifact at apply time;
# chains are deliberately deep (windo+w needs 5 prior merges) so the
# rank-order semantics are exercised, not just single-step merges.
_BPE_APPLY_MERGES = [
    ("t", "h"), ("th", "e"),
    ("s", "o"), ("so", "r"), ("sor", "t"),
    ("m", "e"), ("me", "r"), ("mer", "g"), ("merg", "e"),
    ("j", "o"), ("jo", "i"), ("joi", "n"),
    ("a", "g"), ("a", "t"),
    ("w", "i"), ("wi", "n"), ("win", "d"), ("wind", "o"), ("windo", "w"),
]


def q_doc_bpe_encode(spark, sf_dir):
    """BPE tokenization with a trained merge table (functions/
    text.py::bpe_encode) — the apply side of BPE (Sennrich et al.
    2016 §2), i.e. what actually runs over all 10^12 documents
    when building a training mix. Map-only: the merge table is a
    static broadcast list compiled into a literal replace chain, so
    the whole tokenizer stays inside whole-stage codegen with ZERO
    shuffles over the corpus (the only exchange here is the final
    per-doc projection's pass-through). Per doc: token count, merged
    (multi-char) token count, and occurrences of the deepest merge
    chain's product ("window", 5 chained merges) — pinning that rank
    order composed. Oracle replays the identical replace chain in
    DuckDB (same left-to-right non-overlapping replace-all
    semantics), bit-identical."""
    from rdf_diff_store_spark.functions.text import bpe_encode
    from rdf_diff_store_spark.operators.dedup import bind_once

    docs = load_table(spark, sf_dir, "documents")
    toks = bpe_encode(F.coalesce(F.col("text"), F.lit("")), _BPE_APPLY_MERGES)
    return docs.select(
        "doc_id",
        bind_once(
            toks,
            lambda t: F.struct(
                F.size(t).cast("long").alias("n_tokens"),
                F.size(F.filter(t, lambda x: F.length(x) > 1))
                .cast("long")
                .alias("n_merged"),
                F.size(F.filter(t, lambda x: x == F.lit("window")))
                .cast("long")
                .alias("n_window"),
            ),
        ).alias("s"),
    ).select("doc_id", "s.n_tokens", "s.n_merged", "s.n_window")


def _bpe_oracle_chain() -> str:
    s = r"regexp_replace(w, '(.)', '<\1>', 'g')"
    for a, b in _BPE_APPLY_MERGES:
        s = f"replace({s}, '<{a}><{b}>', '<{a}{b}>')"
    return s


_ORACLE_R4["doc_bpe_encode"] = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
  FROM documents),
enc AS (
  SELECT doc_id, {_bpe_oracle_chain()} AS s
  FROM words WHERE length(w) >= 1),
toks AS (
  SELECT doc_id, string_split(substr(s, 2, length(s) - 2), '><') AS t
  FROM enc),
agg AS (
  SELECT doc_id,
         CAST(sum(len(t)) AS BIGINT) AS n_tokens,
         CAST(sum(len(list_filter(t, x -> length(x) > 1))) AS BIGINT) AS n_merged,
         CAST(sum(len(list_filter(t, x -> x = 'window'))) AS BIGINT) AS n_window
  FROM toks GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.n_tokens, 0) AS n_tokens,
       COALESCE(a.n_merged, 0) AS n_merged,
       COALESCE(a.n_window, 0) AS n_window
FROM documents d LEFT JOIN agg a USING (doc_id)
"""



def q_warc_roundtrip(spark, sf_dir):
    """WARC container roundtrip (sources/warc.py) — the Common-Crawl
    storage format upstream of the input_hint pages table. Documents
    are rendered as pages (deterministic url/warc_ts/html), encoded
    into WARC/1.0 response records by the map-only JVM expression
    `warc_record_str`, concatenated into multi-record buffers (one per
    hash bucket, the file-assembly shape), then parsed BACK through
    the same Arrow-batched record scanner (`parse_warc_column`) that
    reads real .warc.gz files behind a binaryFile scan. Output values
    (url, WARC-Date roundtrip, parsed body length, Content-Length frame
    from the actual record header) are all recomputed independently by
    the oracle from `documents` — any drift in either the encoder or
    the parser breaks the match.
    Scale shape: encode is whole-stage codegen; parse parallelism is
    the buffer/file count exactly as on a 10^12-page crawl."""
    from rdf_diff_store_spark.sources.warc import (
        parse_warc_column,
        warc_record_str,
    )

    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(
            F.lit("https://docs.example.org/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.timestamp_add(
            "HOUR",
            F.col("doc_id").cast("int"),
            F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
        ).alias("warc_ts"),
        F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")).cast("binary").alias(
            "html"
        ),
    )
    blobs = (
        pages.select(
            F.pmod(F.xxhash64("url"), F.lit(16)).alias("g"),
            warc_record_str(
                F.col("url"), F.col("warc_ts"), F.col("html")
            ).alias("rec"),
        )
        .groupBy("g")
        .agg(F.concat_ws("", F.collect_list("rec")).alias("buf"))
    )
    parsed = parse_warc_column(
        blobs.select(F.col("buf").cast("binary").alias("content")), "content"
    )
    return parsed.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_iso"),
        F.octet_length("html").cast("long").alias("html_len"),
        F.col("content_length").cast("long").alias("content_length"),
    )


# http envelope constant: "HTTP/1.1 200 OK\r\n" (17) +
# "Content-Type: text/html\r\n" (25) + "Content-Length: " (16) +
# digits + "\r\n\r\n" (4) => 62 + len(digits) + body
_ORACLE_R4["warc_roundtrip"] = """
WITH p AS (
  SELECT 'https://docs.example.org/' || CAST(doc_id AS VARCHAR) AS url,
         strftime(TIMESTAMP '2024-01-01 00:00:00'
                  + doc_id * INTERVAL 1 HOUR, '%Y-%m-%dT%H:%M:%SZ') AS ts_iso,
         CAST(length(text) + 7 AS BIGINT) AS html_len
  FROM documents)
SELECT url, ts_iso, html_len,
       CAST(62 + length(CAST(html_len AS VARCHAR)) + html_len AS BIGINT)
         AS content_length
FROM p
"""



def q_doc_quality_classifier(spark, sf_dir):
    """Hashed-n-gram linear classifier apply (functions/text.py::
    linear_text_classifier) — the fastText-architecture quality
    filter (Joulin et al. 2017; the CCNet/DCLM corpus-filter shape)
    run over every document. The weight table is the trained
    artifact; here its 4096 bucket weights are derived from md5 bits
    (micro-units in [-1000, 1000]) so the oracle can rebuild the
    identical table — the APPLY machinery (unigram+bigram feature
    expansion, bucket hashing, broadcast weight join, exact-BIGINT
    logit, integer cross-multiplied keep rule) is what is being
    value-checked. One corpus-sized shuffle total (the per-doc sum)."""
    from rdf_diff_store_spark.functions.text import linear_text_classifier
    from rdf_diff_store_spark.operators.sketch import hash52

    n_buckets = 4096
    weights = spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        (hash52(F.concat(F.lit("w"), F.col("id").cast("string"))) % 2001 - 1000)
        .cast("long")
        .alias("w_micro"),
    )
    docs = load_table(spark, sf_dir, "documents")
    return linear_text_classifier(
        docs, weights, n_buckets=n_buckets, threshold_micro=10
    )


_ORACLE_R4["doc_quality_classifier"] = r"""
WITH wt AS (
  SELECT range AS bucket,
         CAST(('0x' || substr(md5('w' || CAST(range AS VARCHAR)), 1, 13))::BIGINT
              % 2001 - 1000 AS BIGINT) AS w_micro
  FROM range(4096)),
w AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS ws
  FROM documents),
feats AS (
  SELECT doc_id,
         unnest(list_concat(
           ws,
           list_transform(range(1, len(ws)),
                          i -> list_extract(ws, CAST(i AS INT)) || ' ' ||
                               list_extract(ws, CAST(i AS INT) + 1)))) AS feat
  FROM w),
b AS (
  SELECT doc_id,
         ('0x' || substr(md5(feat), 1, 13))::BIGINT % 4096 AS bucket
  FROM feats)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_features,
       CAST(sum(w_micro) AS BIGINT) AS logit_micro,
       sum(w_micro) >= 10 * count(*) AS keep
FROM b JOIN wt USING (bucket)
GROUP BY doc_id
"""



def q_kg_communities(spark, sf_dir):
    """Community detection by synchronous label propagation
    (operators/graph.py::label_propagation, Raghavan et al. 2007) over
    the numeric-id entity graph (customers—nations—regions): the
    clustering complement of connected_components for entity
    canonicalization at crawl scale. Deterministic LPA variant
    (count DESC, label ASC ties; fixed 3 rounds) with the argmax
    lowered to one integer max() per round — the oracle unrolls the
    identical three rounds as chained CTEs, bit-exact. Output:
    community label → member count."""
    from rdf_diff_store_spark.operators.graph import label_propagation

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    edges = cust.select(
        (F.col("c_custkey") + 10000).cast("bigint").alias("src"),
        F.col("c_nationkey").cast("bigint").alias("dst"),
    ).unionByName(
        nation.select(
            F.col("n_nationkey").cast("bigint").alias("src"),
            (F.col("n_regionkey") + 100).cast("bigint").alias("dst"),
        )
    )
    labels = label_propagation(edges, iterations=3)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").cast("bigint").alias("n_members")
    )


_ORACLE_R4["kg_communities"] = """
WITH e0 AS (
  SELECT CAST(10000 + c_custkey AS BIGINT) AS src,
         CAST(c_nationkey AS BIGINT) AS dst FROM customer
  UNION ALL
  SELECT CAST(n_nationkey AS BIGINT), CAST(100 + n_regionkey AS BIGINT)
  FROM nation),
sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
nodes AS (SELECT DISTINCT src AS id FROM sym),
l0 AS (SELECT id, id AS label FROM nodes),
v1 AS (SELECT e.src AS id, l.label, count(*) AS n
       FROM sym e JOIN l0 l ON e.dst = l.id GROUP BY 1, 2),
m1 AS (SELECT id, max(n * 1099511627776 - (label + 1)) AS m FROM v1 GROUP BY id),
l1 AS (SELECT n.id,
              COALESCE(((m // 1099511627776) + 1) * 1099511627776 - m - 1, n.id) AS label
       FROM nodes n LEFT JOIN m1 USING (id)),
v2 AS (SELECT e.src AS id, l.label, count(*) AS n
       FROM sym e JOIN l1 l ON e.dst = l.id GROUP BY 1, 2),
m2 AS (SELECT id, max(n * 1099511627776 - (label + 1)) AS m FROM v2 GROUP BY id),
l2 AS (SELECT n.id,
              COALESCE(((m // 1099511627776) + 1) * 1099511627776 - m - 1, n.id) AS label
       FROM nodes n LEFT JOIN m2 USING (id)),
v3 AS (SELECT e.src AS id, l.label, count(*) AS n
       FROM sym e JOIN l2 l ON e.dst = l.id GROUP BY 1, 2),
m3 AS (SELECT id, max(n * 1099511627776 - (label + 1)) AS m FROM v3 GROUP BY id),
l3 AS (SELECT n.id,
              COALESCE(((m // 1099511627776) + 1) * 1099511627776 - m - 1, n.id) AS label
       FROM nodes n LEFT JOIN m3 USING (id))
SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
FROM l3 GROUP BY label
"""



def q_doc_source_cap(spark, sf_dir):
    """Domain frequency capping + blocklist (operators/skew.py::
    capped_topk_per_group) — the corpus-selection pass that drops
    blocklisted hosts and keeps at most k pages per host so no single
    domain dominates the training mix (the CC-pipeline "URL/domain
    filtering" stage). Selection order is the deterministic md5 of
    doc_id (tie-broken by doc_id — a TOTAL order, portable to the
    oracle). The operator itself is the skew story: two-level salted
    capping so a 10^8-page hub domain never lands in one window task;
    its result is provably identical to the naive single window the
    oracle runs."""
    from rdf_diff_store_spark.operators.skew import capped_topk_per_group

    docs = load_table(spark, sf_dir, "documents").filter(
        ~F.col("source").isin("src3", "src7")
    )
    keyed = docs.select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("_ord")
    )
    capped = capped_topk_per_group(
        keyed, "source", [F.col("_ord"), F.col("doc_id")], k=8
    )
    return capped.select("doc_id", "source", F.col("rk").cast("long").alias("rk"))


_ORACLE_R4["doc_source_cap"] = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
  WHERE source NOT IN ('src3', 'src7'))
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 8
"""



def q_web_link_graph(spark, sf_dir):
    """Web link-graph construction (functions/text.py::extract_links +
    url_host) — the edge-extraction pass that turns crawl html into
    the host-level graph PageRank/communities consume. Documents are
    rendered as pages whose html carries two absolute links (double-
    and single-quoted hrefs, targets closed-form in doc_id) plus a
    relative href that must NOT become an edge; extraction and host
    parsing run as pure JVM regexps, then one map-side-combinable
    (src_host, dst_host) count. The oracle never runs the extractor:
    it recomputes the edge multiset directly from the doc_id formulas,
    so any regex/host-parsing drift breaks the match."""
    from rdf_diff_store_spark.functions.text import extract_links, url_host

    docs = load_table(spark, sf_dir, "documents")

    def site_url(site_expr, page_expr):
        return F.concat(
            F.lit("https://site"),
            site_expr.cast("string"),
            F.lit(".example.org/d/"),
            page_expr.cast("string"),
        )

    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="'),
        site_url((d * 7 + 1) % 20, d + 1),
        F.lit('">x</a> <nav><a href=\''),
        site_url((d * 13 + 5) % 20, d + 2),
        F.lit("\'>y</a> <a href=\"/rel\">r</a></nav><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    pages = docs.select(site_url(d % 20, d).alias("url"), html.alias("html"))
    edges = pages.select(
        url_host(F.col("url")).alias("src_host"),
        F.explode(extract_links(F.col("html"))).alias("link"),
    ).select("src_host", url_host(F.col("link")).alias("dst_host"))
    return (
        edges.filter(F.col("dst_host") != "")
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("long").alias("n_links"))
    )


_ORACLE_R4["web_link_graph"] = """
WITH e AS (
  SELECT 'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org' AS src_host,
         'site' || CAST((doc_id * 7 + 1) % 20 AS VARCHAR) || '.example.org' AS dst_host
  FROM documents
  UNION ALL
  SELECT 'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org',
         'site' || CAST((doc_id * 13 + 5) % 20 AS VARCHAR) || '.example.org'
  FROM documents)
SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
FROM e GROUP BY src_host, dst_host
"""


# ---------------------------------------------------------------------------
# session-10: crawl-delta analytics, redirect resolution, retrieval
# index, anchor-text aggregation, HITS link analysis

_CRAWL_URL = "'https://crawl.example.org/p/' || CAST(doc_id AS VARCHAR)"


def _crawl_url(d):
    return F.concat(F.lit("https://crawl.example.org/p/"), d.cast("string"))


def q_crawl_batch_delta(spark, sf_dir):
    """Added/removed/changed urls between two crawl batches
    (operators/crawl.py::crawl_delta) — the reference's diff contract
    (/root/reference/src/git.rs:131-179, added/removed between two
    checkouts) lifted onto the page table itself. Documents are
    rendered as two deterministic crawl batches: crawl1 holds urls
    with doc_id%5≠0, crawl2 those with doc_id%7≠3, and content
    changes in crawl2 for doc_id%3=0 — so membership/change classes
    are closed-form and the oracle recomputes them without running
    the operator. Plan: single-scan dual-state — ONE aggregation
    shuffle on url folding both batch states, no join (the same
    shape as versioned diff; asserted by explain_audit)."""
    from rdf_diff_store_spark.operators.crawl import crawl_delta

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    c1, c2 = "2024-02-01 00:00:00", "2024-02-08 00:00:00"
    b1 = docs.filter(d % 5 != 0).select(
        _crawl_url(d).alias("url"),
        F.lit(c1).cast("timestamp_ntz").alias("warc_ts"),
        F.md5(F.col("text").cast("binary")).alias("content_hash"),
    )
    b2 = docs.filter(d % 7 != 3).select(
        _crawl_url(d).alias("url"),
        F.lit(c2).cast("timestamp_ntz").alias("warc_ts"),
        F.md5(
            F.when(d % 3 == 0, F.concat(F.col("text"), F.lit("v2")))
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("content_hash"),
    )
    pages = b1.unionByName(b2)
    return crawl_delta(
        pages,
        F.lit(c1).cast("timestamp_ntz"),
        F.lit(c2).cast("timestamp_ntz"),
    )


_ORACLE_R4["crawl_batch_delta"] = f"""
WITH c1 AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 0),
c2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN md5(text || 'v2') ELSE md5(text) END AS h
  FROM documents WHERE doc_id % 7 <> 3),
j AS (
  SELECT COALESCE(c1.doc_id, c2.doc_id) AS doc_id, c1.h AS hash1, c2.h AS hash2
  FROM c1 FULL OUTER JOIN c2 ON c1.doc_id = c2.doc_id)
SELECT {_CRAWL_URL} AS url, hash1, hash2,
       CASE WHEN hash1 IS NULL THEN 'added'
            WHEN hash2 IS NULL THEN 'removed'
            WHEN hash1 <> hash2 THEN 'changed' END AS change
FROM j
WHERE hash1 IS NULL OR hash2 IS NULL OR hash1 <> hash2
"""


def q_crawl_change_rate(spark, sf_dir):
    """Per-url content-churn estimation → recrawl priority buckets
    (operators/crawl.py::change_rate; Cho & Garcia-Molina 2003
    change-frequency scheduling). Four deterministic crawls per url
    (single-crawl urls where doc_id%11=7 exercise the 'new' bucket);
    content version bumps at crawl k per a closed-form rule
    ((doc_id+k)%4=0, and always for doc_id%8=5), so the oracle
    derives n_changes/priority arithmetically — the operator's
    lag-window change detection is verified against arithmetic that
    never saw the window. Plan: the lag window and the per-url agg
    share one hash partitioning — ONE Exchange total."""
    from rdf_diff_store_spark.operators.crawl import change_rate

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    iv = {k: ((d + k) % 4 == 0) | (d % 8 == 5) for k in (2, 3, 4)}
    crawls = []
    version = F.lit(0)
    for k in (1, 2, 3, 4):
        if k > 1:
            version = version + iv[k].cast("int")
        content = F.concat(F.col("text"), F.lit("#"), version.cast("string"))
        crawls.append(
            F.struct(
                F.lit(f"2024-03-0{k} 00:00:00").cast("timestamp_ntz").alias("warc_ts"),
                F.md5(content.cast("binary")).alias("content_hash"),
                F.lit(k).alias("k"),
            )
        )
    pages = (
        docs.select(_crawl_url(d).alias("url"), d.alias("doc_id"), F.explode(F.array(*crawls)).alias("c"))
        .filter((F.col("c.k") == 1) | (F.col("doc_id") % 11 != 7))
        .select("url", F.col("c.warc_ts").alias("warc_ts"), F.col("c.content_hash").alias("content_hash"))
    )
    return change_rate(pages)


_ORACLE_R4["crawl_change_rate"] = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 7 THEN 1 ELSE 4 END AS n_crawls,
         CASE WHEN doc_id % 11 = 7 THEN 0 ELSE
           (CASE WHEN (doc_id + 2) % 4 = 0 OR doc_id % 8 = 5 THEN 1 ELSE 0 END
          + CASE WHEN (doc_id + 3) % 4 = 0 OR doc_id % 8 = 5 THEN 1 ELSE 0 END
          + CASE WHEN (doc_id + 4) % 4 = 0 OR doc_id % 8 = 5 THEN 1 ELSE 0 END)
         END AS n_changes
  FROM documents)
SELECT {_CRAWL_URL} AS url,
       CAST(n_crawls AS BIGINT) AS n_crawls,
       CAST(n_changes AS BIGINT) AS n_changes,
       CAST(CASE WHEN n_crawls > 1 THEN (100 * n_changes) // (n_crawls - 1) ELSE 0 END AS BIGINT) AS change_pct,
       CASE WHEN n_crawls <= 1 THEN 'new'
            WHEN (100 * n_changes) // (n_crawls - 1) >= 50 THEN 'hot'
            WHEN (100 * n_changes) // (n_crawls - 1) >= 20 THEN 'warm'
            ELSE 'cold' END AS priority
FROM base
"""


def q_redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling
    (operators/crawl.py::resolve_redirects) — the canonical-node pass
    every link graph needs before PageRank/HITS. Documents become
    urls; redirects are closed-form: chain edges i→i+1 for
    doc_id%10∈{0,1,2} (chains of length ≤3) plus a 2-CYCLE between
    positions 8↔9 in every 7th group — the operator must terminate
    on cyclic redirect graphs, returning the deterministic 2^k-hop
    landing. The oracle reproduces the doubling ITSELF (three
    mapping self-composes as chained CTEs), so hop-budget semantics
    match bit-exactly, cycles included. Plan: k=3 broadcast
    self-joins of the small mapping + ONE broadcast apply join over
    the url universe (asserted by explain_audit: zero shuffle
    exchanges)."""
    from rdf_diff_store_spark.operators.crawl import resolve_redirects

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    urls = docs.select(_crawl_url(d).alias("url"))
    chain = docs.filter((d % 10).isin(0, 1, 2)).select(
        _crawl_url(d).alias("src"), _crawl_url(d + 1).alias("dst")
    )
    fwd = docs.filter((d % 10 == 8) & (F.expr("(doc_id div 10) % 7 = 0"))).select(
        _crawl_url(d).alias("src"), _crawl_url(d + 1).alias("dst")
    )
    back = docs.filter((d % 10 == 9) & (F.expr("(doc_id div 10) % 7 = 0"))).select(
        _crawl_url(d).alias("src"), _crawl_url(d - 1).alias("dst")
    )
    redirects = chain.unionByName(fwd).unionByName(back)
    return resolve_redirects(urls, redirects, max_hops_log2=3)


_ORACLE_R4["redirect_resolve"] = f"""
WITH u AS (SELECT {_CRAWL_URL} AS url FROM documents),
m0 AS (
  SELECT {_CRAWL_URL} AS src,
         'https://crawl.example.org/p/' || CAST(doc_id + 1 AS VARCHAR) AS dst
  FROM documents WHERE doc_id % 10 IN (0, 1, 2)
  UNION ALL
  SELECT {_CRAWL_URL},
         'https://crawl.example.org/p/' || CAST(doc_id + 1 AS VARCHAR)
  FROM documents WHERE doc_id % 10 = 8 AND (doc_id // 10) % 7 = 0
  UNION ALL
  SELECT {_CRAWL_URL},
         'https://crawl.example.org/p/' || CAST(doc_id - 1 AS VARCHAR)
  FROM documents WHERE doc_id % 10 = 9 AND (doc_id // 10) % 7 = 0),
m1 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst FROM m0 a LEFT JOIN m0 b ON a.dst = b.src),
m2 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst FROM m1 a LEFT JOIN m1 b ON a.dst = b.src),
m3 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst FROM m2 a LEFT JOIN m2 b ON a.dst = b.src)
SELECT u.url, COALESCE(m3.dst, u.url) AS final_url, m3.src IS NOT NULL AS redirected
FROM u LEFT JOIN m3 ON u.url = m3.src
"""


def q_inverted_postings(spark, sf_dir):
    """Inverted-index construction (operators/index.py::
    inverted_index): term → document frequency, collection frequency,
    and the first-10 postings (ascending doc ids, comma-joined) —
    the classic two-stage MapReduce index build as two partial-agg
    shuffles; the postings cap bounds reducer state so stop-word
    terms can't OOM at 10^12 docs. min_df=3 prunes hapax terms.
    Tokenization is the corpus-audit standard (lowercase, \\s+ split)
    already proven oracle-portable by corpus_vocab_topk."""
    from rdf_diff_store_spark.operators.index import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    return inverted_index(docs, postings_cap=10, min_df=3)


_ORACLE_R4["inverted_postings"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents),
tf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks WHERE term <> ''
  GROUP BY term, doc_id)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS cf,
       array_to_string((list(CAST(doc_id AS VARCHAR) ORDER BY doc_id))[1:10], ',') AS postings
FROM tf GROUP BY term HAVING count(*) >= 3
"""


def q_anchor_text_top(spark, sf_dir):
    """Anchor-text aggregation (functions/text.py::extract_anchors):
    the dominant anchor string per link-target host — the free
    entity-label signal a crawl carries (it seeds the surface-form
    dictionary pipeline/linking.py scores against). Documents render
    pages with two closed-form <a href>TEXT</a> elements; extraction
    is a pure JVM regexp zip (whole-stage codegen), then one
    map-side-combinable (host, anchor) count and a per-host top-1
    window with deterministic ties (count DESC, anchor ASC). The
    oracle recomputes the (host, anchor) multiset from the doc_id
    formulas — it never runs the extractor, so regex drift breaks
    the match."""
    from rdf_diff_store_spark.functions.text import extract_anchors, url_host

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def site_url(site_expr):
        return F.concat(
            F.lit("https://site"), site_expr.cast("string"), F.lit(".example.org/x")
        )

    html = F.concat(
        F.lit('<html><body><a class="l" href="'),
        site_url((d * 7 + 1) % 20),
        F.lit('">Label '),
        ((d * 3 + 1) % 40).cast("string"),
        F.lit('</a> <a href="'),
        site_url((d * 13 + 5) % 20),
        F.lit('">Label '),
        ((d * 5 + 2) % 40).cast("string"),
        F.lit("</a><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    pairs = docs.select(F.explode(extract_anchors(html)).alias("a")).select(
        url_host(F.col("a.href")).alias("dst_host"), F.col("a.anchor").alias("anchor")
    )
    counts = pairs.groupBy("dst_host", "anchor").agg(
        F.count("*").cast("bigint").alias("n_links")
    )
    w = Window.partitionBy("dst_host").orderBy(F.col("n_links").desc(), F.col("anchor"))
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("dst_host", F.col("anchor").alias("top_anchor"), "n_links")
    )


_ORACLE_R4["anchor_text_top"] = """
WITH a AS (
  SELECT 'site' || CAST((doc_id * 7 + 1) % 20 AS VARCHAR) || '.example.org' AS dst_host,
         'Label ' || CAST((doc_id * 3 + 1) % 40 AS VARCHAR) AS anchor
  FROM documents
  UNION ALL
  SELECT 'site' || CAST((doc_id * 13 + 5) % 20 AS VARCHAR) || '.example.org',
         'Label ' || CAST((doc_id * 5 + 2) % 40 AS VARCHAR)
  FROM documents),
c AS (SELECT dst_host, anchor, CAST(count(*) AS BIGINT) AS n_links
      FROM a GROUP BY dst_host, anchor),
r AS (SELECT *, row_number() OVER (PARTITION BY dst_host ORDER BY n_links DESC, anchor) AS rk
      FROM c)
SELECT dst_host, anchor AS top_anchor, n_links FROM r WHERE rk = 1
"""


def q_web_hits(spark, sf_dir):
    """Fixed-iteration HITS hubs/authorities (operators/graph.py::
    hits) over the closed-form host link graph web_link_graph builds
    — link analysis separating pages that point at good content from
    pages that are it (Kleinberg 1999). Integer micro-units with a
    div-by-max rescale instead of float L2 normalization make every
    score a BIGINT sum of identical integers in both engines; the
    oracle unrolls the same 3 rounds (6 half-steps with the same
    scalar rescale) as chained CTEs and matches bit-exactly. Each
    half-round: one join + one combinable sum; the rescale is a
    1-row broadcast, never a driver collect."""
    from rdf_diff_store_spark.operators.graph import hits

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def host(site_expr):
        return F.concat(
            F.lit("site"), site_expr.cast("string"), F.lit(".example.org")
        )

    e1 = docs.select(host(d % 20).alias("src"), host((d * 7 + 1) % 20).alias("dst"))
    e2 = docs.select(host(d % 20).alias("src"), host((d * 13 + 5) % 20).alias("dst"))
    return hits(e1.unionByName(e2), iterations=3)


def _hits_oracle(iterations: int = 3) -> str:
    sql = [
        """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org' AS src,
           'site' || CAST((doc_id * 7 + 1) % 20 AS VARCHAR) || '.example.org' AS dst
    FROM documents
    UNION ALL
    SELECT 'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org',
           'site' || CAST((doc_id * 13 + 5) % 20 AS VARCHAR) || '.example.org'
    FROM documents)),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes)"""
    ]
    for k in range(iterations):
        sql.append(
            f""",
a{k + 1}r AS (
  SELECT e.dst AS node, SUM(h.score) AS raw
  FROM e JOIN h{k} h ON h.node = e.src GROUP BY e.dst),
a{k + 1} AS (
  SELECT n.node, CAST(COALESCE(
    r.raw // (SELECT GREATEST(CAST(1 AS BIGINT), MAX(raw) // 1000000) FROM a{k + 1}r),
    0) AS BIGINT) AS score
  FROM nodes n LEFT JOIN a{k + 1}r r USING (node)),
h{k + 1}r AS (
  SELECT e.src AS node, SUM(a.score) AS raw
  FROM e JOIN a{k + 1} a ON a.node = e.dst GROUP BY e.src),
h{k + 1} AS (
  SELECT n.node, CAST(COALESCE(
    r.raw // (SELECT GREATEST(CAST(1 AS BIGINT), MAX(raw) // 1000000) FROM h{k + 1}r),
    0) AS BIGINT) AS score
  FROM nodes n LEFT JOIN h{k + 1}r r USING (node))"""
        )
    sql.append(
        f"""
SELECT h.node, h.score AS hub_micro, a.score AS auth_micro
FROM h{iterations} h JOIN a{iterations} a USING (node)"""
    )
    return "".join(sql)


_ORACLE_R4["web_hits"] = _hits_oracle()


def q_robots_url_filter(spark, sf_dir):
    """robots.txt policy filtering (operators/crawl.py::
    robots_disallow_prefixes + robots_filter) — the fetch-gate every
    crawler applies before a url enters the frontier. Each of the 20
    closed-form hosts carries a robots.txt exercising the RFC 9309
    group machine: a 'megabot' group whose 'Disallow: /' must NOT
    apply, a '*' group with a real prefix, an empty Disallow (no
    rule), and an extra '/x/' prefix on every third host. The policy
    parse is ONE JVM aggregate fold (no Python); the url table joins
    the tiny policy frame by broadcast and the prefix test runs
    map-side — the oracle derives allowed/denied arithmetically from
    the doc_id formulas, never parsing anything."""
    from rdf_diff_store_spark.operators.crawl import robots_filter

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("site"), (d % 20).cast("string"), F.lit(".example.org"))
    path = (
        F.when(d % 3 == 0, F.concat(F.lit("/d/"), d.cast("string")))
        .when(d % 3 == 1, F.concat(F.lit("/x/"), d.cast("string")))
        .otherwise(F.concat(F.lit("/p/"), d.cast("string")))
    )
    urls = docs.select(F.concat(F.lit("https://"), host, path).alias("url"))
    robots = (
        docs.select((d % 20).alias("h"))
        .distinct()
        .select(
            F.concat(F.lit("site"), F.col("h").cast("string"), F.lit(".example.org")).alias("host"),
            F.concat(
                F.lit(
                    "# crawl policy\n"
                    "User-agent: megabot\n"
                    "Disallow: /\n"
                    "\n"
                    "User-agent: *\n"
                    "Disallow: /d/  # keep drafts out\n"
                    "Disallow:\n"
                ),
                F.when(F.col("h") % 3 == 0, F.lit("Disallow: /x/\n")).otherwise(F.lit("")),
            ).alias("robots_txt"),
        )
    )
    return robots_filter(urls, robots)


_ORACLE_R4["robots_url_filter"] = """
WITH u AS (
  SELECT doc_id, doc_id % 20 AS h,
         CASE doc_id % 3
           WHEN 0 THEN '/d/' || CAST(doc_id AS VARCHAR)
           WHEN 1 THEN '/x/' || CAST(doc_id AS VARCHAR)
           ELSE '/p/' || CAST(doc_id AS VARCHAR) END AS path
  FROM documents)
SELECT 'https://site' || CAST(h AS VARCHAR) || '.example.org' || path AS url,
       'site' || CAST(h AS VARCHAR) || '.example.org' AS host,
       path,
       CASE doc_id % 3
         WHEN 0 THEN false
         WHEN 1 THEN h % 3 <> 0
         ELSE true END AS allowed
FROM u
"""


def q_crawl_frontier_schedule(spark, sf_dir):
    """Politeness-aware frontier scheduling (operators/crawl.py::
    frontier_schedule): urls rank within their host by (priority
    DESC, url), hosts hash into 64 md5-derived politeness lanes, and
    fetch_slot = rank·64 + lane guarantees same-host fetches are ≥ 64
    slots apart — the fetcher-queue sharding real crawlers use,
    with NO global host ordinal (that would need a 10^8-host global
    sort). ONE shuffle (the per-host window); the lane is map-side.
    The oracle reproduces rank and lane with the same md5 bits."""
    from rdf_diff_store_spark.operators.crawl import frontier_schedule

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    frontier = docs.select(
        _crawl_url(d).alias("url"),
        F.concat(F.lit("site"), (d % 20).cast("string"), F.lit(".example.org")).alias("host"),
        ((d * 37) % 100).cast("bigint").alias("priority"),
    )
    return frontier_schedule(frontier, n_lanes=64)


_ORACLE_R4["crawl_frontier_schedule"] = f"""
WITH f AS (
  SELECT {_CRAWL_URL} AS url,
         'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org' AS host,
         CAST((doc_id * 37) % 100 AS BIGINT) AS priority
  FROM documents),
l AS (
  SELECT *,
         ('0x' || substr(md5(host), 1, 13))::BIGINT % 64 AS lane,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rk
  FROM f)
SELECT url, host, priority, lane,
       CAST((rk - 1) * 64 + lane AS BIGINT) AS fetch_slot
FROM l
"""


def q_canonical_resolve(spark, sf_dir):
    """rel=canonical chain resolution (functions/text.py::
    extract_canonical + operators/crawl.py::resolve_redirects): pages
    declare their canonical url in <link rel=canonical>; the
    (url → canonical) mapping composes through the SAME pointer-
    doubling operator as redirects, collapsing canonical CHAINS
    (mirror → edition → master) to the final master url. Closed-form
    pages: doc_id%4==1 canonicalizes to doc_id-1 (chain tail) and
    %4==2 to doc_id-1 (so 2→1→0 chains exercise multi-hop); both
    attribute orders of the link element appear. The oracle never
    runs the extractor — it rebuilds the mapping from the doc_id
    rules and composes it in SQL."""
    from rdf_diff_store_spark.functions.text import extract_canonical
    from rdf_diff_store_spark.operators.crawl import resolve_redirects

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    link = (
        F.when(
            d % 4 == 1,
            F.concat(
                F.lit('<link rel="canonical" href="'),
                _crawl_url(d - 1),
                F.lit('">'),
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit('<link href="'), _crawl_url(d - 1), F.lit('" rel="canonical">')
            ),
        )
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"), link, F.lit("</head><body>"), F.col("text"), F.lit("</body></html>")
    )
    pages = docs.select(_crawl_url(d).alias("url"), html.alias("html"))
    mapping = pages.select(
        F.col("url").alias("src"), extract_canonical(F.col("html")).alias("dst")
    ).filter(F.col("dst").isNotNull())
    return resolve_redirects(pages.select("url"), mapping, max_hops_log2=3).select(
        "url",
        F.col("final_url").alias("canonical_url"),
        F.col("redirected").alias("canonicalized"),
    )


_ORACLE_R4["canonical_resolve"] = f"""
WITH u AS (SELECT {_CRAWL_URL} AS url FROM documents),
m0 AS (
  SELECT {_CRAWL_URL} AS src,
         'https://crawl.example.org/p/' || CAST(doc_id - 1 AS VARCHAR) AS dst
  FROM documents WHERE doc_id % 4 IN (1, 2)),
m1 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst FROM m0 a LEFT JOIN m0 b ON a.dst = b.src),
m2 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst FROM m1 a LEFT JOIN m1 b ON a.dst = b.src),
m3 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst FROM m2 a LEFT JOIN m2 b ON a.dst = b.src)
SELECT u.url, COALESCE(m3.dst, u.url) AS canonical_url,
       m3.src IS NOT NULL AS canonicalized
FROM u LEFT JOIN m3 ON u.url = m3.src
"""


def q_sitemap_discovery(spark, sf_dir):
    """Sitemap ingestion (functions/text.py::extract_sitemap_urls) —
    the discovery feed that seeds the frontier alongside extracted
    links. Each of the 20 closed-form hosts publishes a sitemap.xml
    listing its documents' urls (with spec-legal whitespace padding);
    extraction is one JVM regexp + trim, then explode and ONE
    map-side-combinable count per host. The oracle rebuilds the url
    multiset from the doc_id formulas."""
    from rdf_diff_store_spark.functions.text import extract_sitemap_urls

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    entry = F.concat(
        F.lit("<url><loc> https://site"),
        (d % 20).cast("string"),
        F.lit(".example.org/p/"),
        d.cast("string"),
        F.lit(" </loc></url>"),
    )
    sitemaps = (
        docs.select((d % 20).alias("h"), entry.alias("e"))
        .groupBy("h")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.concat_ws("", F.sort_array(F.collect_list("e"))),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    urls = sitemaps.select(
        F.col("h"), F.explode(extract_sitemap_urls(F.col("xml"))).alias("url")
    )
    return urls.groupBy(F.col("url")).agg(F.count("*").cast("bigint").alias("n_listed"))


_ORACLE_R4["sitemap_discovery"] = """
SELECT 'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org/p/'
         || CAST(doc_id AS VARCHAR) AS url,
       CAST(1 AS BIGINT) AS n_listed
FROM documents
"""


def q_doc_boilerplate_strip(spark, sf_dir):
    """Statistical boilerplate removal (operators/boilerplate.py::
    strip_boilerplate) — CCNet/RefinedWeb-style: a line appearing in
    >= 50% (and >= 2) of a host's pages is template and is stripped
    before the text reaches dedup/quality/KG stages. Pages carry a
    per-host NAV header and FOOTER (template by construction, 100%
    share) plus their unique body; the oracle recomputes the whole
    statistic in SQL — including any body lines that happen to repeat
    across a host's documents — so both engines must agree on the
    *derived* template set, not just the injected one. Output hashes
    the cleaned text (md5, portable) to keep compared values small."""
    from rdf_diff_store_spark.operators.boilerplate import strip_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    host = (F.col("doc_id") % 20).cast("string")
    page_text = F.concat(
        F.lit("NAV site "), host, F.lit("\n"),
        F.col("text"),
        F.lit("\nFOOTER site "), host,
    )
    pages = docs.select("doc_id", host.alias("host"), page_text.alias("text"))
    out = strip_boilerplate(pages)
    return out.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


_ORACLE_R4["doc_boilerplate_strip"] = """
WITH p AS (
  SELECT doc_id, CAST(doc_id % 20 AS VARCHAR) AS host,
         'NAV site ' || CAST(doc_id % 20 AS VARCHAR) || chr(10) || text
           || chr(10) || 'FOOTER site ' || CAST(doc_id % 20 AS VARCHAR) AS text
  FROM documents),
l AS (
  SELECT doc_id, host,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM p),
lh AS (
  SELECT *, CASE WHEN length(trim(line)) > 0 THEN md5(trim(line)) END AS h
  FROM l),
stats AS (
  SELECT host, h, count(DISTINCT doc_id) AS n_docs
  FROM lh WHERE h IS NOT NULL GROUP BY host, h),
hp AS (SELECT host, count(*) AS np FROM p GROUP BY host),
tpl AS (
  SELECT host, h FROM stats JOIN hp USING (host)
  WHERE n_docs * 100 >= 50 * np AND n_docs >= 2),
k AS (
  SELECT lh.doc_id, lh.pos, lh.line, (tpl.h IS NOT NULL) AS is_t
  FROM lh LEFT JOIN tpl ON lh.host = tpl.host AND lh.h = tpl.h)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(COALESCE(
         string_agg(CASE WHEN NOT is_t THEN line END, chr(10) ORDER BY pos),
         '')) AS clean_md5
FROM k GROUP BY doc_id
"""


def q_doc_phrase_search(spark, sf_dir):
    """Positional phrase search (operators/index.py::phrase_search) —
    the postings-intersection query of the index family (IIR §2.4):
    tokenize-with-position, filter to the phrase's words BEFORE the
    one shuffle, per-doc sorted position array per phrase slot, then
    a pure array-expression intersection (start p where slot i holds
    p+i). Two phrases in one result: a distinct-words 3-gram and a
    repeated-word 3-gram (overlapping occurrences count — a run of
    four 'batch' holds two starts). The oracle mirrors the position
    algebra with per-slot CTEs and +1/+2 equi-joins."""
    from rdf_diff_store_spark.operators.index import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    a = phrase_search(docs, "merge line table").withColumn(
        "phrase", F.lit("merge line table")
    )
    b = phrase_search(docs, "batch batch batch").withColumn(
        "phrase", F.lit("batch batch batch")
    )
    return a.unionByName(b).select("phrase", "doc_id", "n_matches", "first_pos")


_ORACLE_R4["doc_phrase_search"] = r"""
WITH t AS (
  SELECT doc_id,
         generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) - 1 AS pos,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents),
m0 AS (SELECT doc_id, pos FROM t WHERE term = 'merge'),
m1 AS (SELECT doc_id, pos FROM t WHERE term = 'line'),
m2 AS (SELECT doc_id, pos FROM t WHERE term = 'table'),
sm AS (
  SELECT m0.doc_id, m0.pos FROM m0
  JOIN m1 ON m1.doc_id = m0.doc_id AND m1.pos = m0.pos + 1
  JOIN m2 ON m2.doc_id = m0.doc_id AND m2.pos = m0.pos + 2),
bb AS (SELECT doc_id, pos FROM t WHERE term = 'batch'),
sb AS (
  SELECT b0.doc_id, b0.pos FROM bb b0
  JOIN bb b1 ON b1.doc_id = b0.doc_id AND b1.pos = b0.pos + 1
  JOIN bb b2 ON b2.doc_id = b0.doc_id AND b2.pos = b0.pos + 2)
SELECT 'merge line table' AS phrase, doc_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM sm GROUP BY doc_id
UNION ALL
SELECT 'batch batch batch' AS phrase, doc_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM sb GROUP BY doc_id
"""


def q_host_quality_rollup(spark, sf_dir):
    """Host-level curation rollup (RefinedWeb/C4 practice: corpora are
    admitted or blocked per SOURCE, not per page — a host whose pages
    are junk on average is cut wholesale). One map-side-combinable
    aggregation per host over pure-JVM per-doc signals; ratios are
    single divisions of EXACT integer sums (never averages of
    per-doc doubles — summation-order-proof across engines, the
    integer-arithmetic rule every portable oracle here follows)."""
    from rdf_diff_store_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    host = (F.col("doc_id") % 20).cast("string")
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    chars = F.length(F.col("text"))
    n_tok = token_count(F.col("text"))
    per_doc = docs.select(
        host.alias("host"),
        alpha_chars.alias("ac"),
        chars.alias("c"),
        n_tok.alias("t"),
        F.col("lang"),
    )
    agg = per_doc.groupBy("host").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("t").cast("bigint").alias("sum_tokens"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.sum("ac").cast("bigint").alias("_sa"),
        F.sum("c").cast("bigint").alias("_sc"),
    )
    alpha_pct = F.round(F.col("_sa") * 100.0 / F.col("_sc"), 4)
    return agg.select(
        "host",
        "n_docs",
        "sum_tokens",
        "n_langs",
        alpha_pct.alias("alpha_pct"),
        (alpha_pct < F.lit(70.0)).alias("blocked"),
    )


_ORACLE_R4["host_quality_rollup"] = r"""
WITH per_doc AS (
  SELECT CAST(doc_id % 20 AS VARCHAR) AS host,
         len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS ac,
         len(text) AS c,
         len(string_split_regex(trim(text), '\s+')) AS t,
         lang
  FROM documents),
agg AS (
  SELECT host,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(t) AS BIGINT) AS sum_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(ac) AS BIGINT) AS sa,
         CAST(sum(c) AS BIGINT) AS sc
  FROM per_doc GROUP BY host)
SELECT host, n_docs, sum_tokens, n_langs,
       round(sa * 100.0 / sc, 4) AS alpha_pct,
       round(sa * 100.0 / sc, 4) < 70.0 AS blocked
FROM agg
"""


def q_kg_rdfs_entail(spark, sf_dir):
    """RDFS entailment materialization (operators/entailment.py::
    rdfs_entailment) — the ρdf rule set (rdfs2/3/5/7/9/11) forward-
    chained over a triples frame so inherited types are visible to
    snapshot queries without per-query reasoning (the reference
    evaluates SPARQL over asserted triples only —
    /root/reference/src/query.rs:102). Schema: a three-level class
    hierarchy (nation-class ⊑ region-class ⊑ world) plus a
    subPropertyOf chain (in_nation ⊑ located ⊑ related) with
    domain/range on in_nation; instances: customers linked to nation
    individuals, nations typed with their own class. The T-box closes
    with the doubling transitive_closure and broadcasts into every
    rule join; the instance side never shuffles until the final
    distinct. The oracle derives the identical closure with recursive
    CTEs — bit-exact, all-string triples."""
    from rdf_diff_store_spark.operators.entailment import rdfs_entailment

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust = load_table(spark, sf_dir, "customer")
    sc = nation.select(
        F.concat(F.lit("class:n"), F.col("n_nationkey").cast("string")).alias("s"),
        F.lit("rdfs:subClassOf").alias("p"),
        F.concat(F.lit("class:r"), F.col("n_regionkey").cast("string")).alias("o"),
    ).unionByName(
        region.select(
            F.concat(F.lit("class:r"), F.col("r_regionkey").cast("string")).alias("s"),
            F.lit("rdfs:subClassOf").alias("p"),
            F.lit("class:world").alias("o"),
        )
    )
    schema_rows = spark.createDataFrame(
        [
            ("p:in_nation", "rdfs:subPropertyOf", "p:located"),
            ("p:located", "rdfs:subPropertyOf", "p:related"),
            ("p:in_nation", "rdfs:domain", "class:Customer"),
            ("p:in_nation", "rdfs:range", "class:Place"),
        ],
        ["s", "p", "o"],
    )
    abox = cust.select(
        F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")).alias("s"),
        F.lit("p:in_nation").alias("p"),
        F.concat(F.lit("nat:"), F.col("c_nationkey").cast("string")).alias("o"),
    ).unionByName(
        nation.select(
            F.concat(F.lit("nat:"), F.col("n_nationkey").cast("string")).alias("s"),
            F.lit("rdf:type").alias("p"),
            F.concat(F.lit("class:n"), F.col("n_nationkey").cast("string")).alias("o"),
        )
    )
    triples = sc.unionByName(schema_rows).unionByName(abox)
    return rdfs_entailment(triples)


_ORACLE_R4["kg_rdfs_entail"] = """
WITH RECURSIVE
sp_edges(src, dst) AS (
  VALUES ('p:in_nation', 'p:located'), ('p:located', 'p:related')),
sp_c(src, dst) AS (
  SELECT src, dst FROM sp_edges
  UNION
  SELECT s.src, e.dst FROM sp_c s JOIN sp_edges e ON s.dst = e.src),
sc_edges(src, dst) AS (
  SELECT 'class:n' || CAST(n_nationkey AS VARCHAR),
         'class:r' || CAST(n_regionkey AS VARCHAR) FROM nation
  UNION ALL
  SELECT 'class:r' || CAST(r_regionkey AS VARCHAR), 'class:world' FROM region),
sc_c(src, dst) AS (
  SELECT src, dst FROM sc_edges
  UNION
  SELECT s.src, e.dst FROM sc_c s JOIN sc_edges e ON s.dst = e.src),
doms(prop, cls) AS (VALUES ('p:in_nation', 'class:Customer')),
rngs(prop, cls) AS (VALUES ('p:in_nation', 'class:Place')),
asserted(s, p, o) AS (
  SELECT 'cust:' || CAST(c_custkey AS VARCHAR), 'p:in_nation',
         'nat:' || CAST(c_nationkey AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'nat:' || CAST(n_nationkey AS VARCHAR), 'rdf:type',
         'class:n' || CAST(n_nationkey AS VARCHAR) FROM nation
  UNION ALL SELECT src, 'rdfs:subClassOf', dst FROM sc_edges
  UNION ALL SELECT src, 'rdfs:subPropertyOf', dst FROM sp_edges
  UNION ALL SELECT prop, 'rdfs:domain', cls FROM doms
  UNION ALL SELECT prop, 'rdfs:range', cls FROM rngs),
widened(s, p, o) AS (
  SELECT s, p, o FROM asserted
  UNION ALL
  SELECT a.s, c.dst, a.o FROM asserted a JOIN sp_c c ON a.p = c.src),
dom_types(s, p, o) AS (
  SELECT w.s, 'rdf:type', d.cls FROM widened w JOIN doms d ON w.p = d.prop),
rng_types(s, p, o) AS (
  SELECT w.o, 'rdf:type', r.cls FROM widened w JOIN rngs r ON w.p = r.prop),
all_types(s, p, o) AS (
  SELECT s, p, o FROM widened WHERE p = 'rdf:type'
  UNION ALL SELECT s, p, o FROM dom_types
  UNION ALL SELECT s, p, o FROM rng_types),
inh_types(s, p, o) AS (
  SELECT t.s, t.p, c.dst FROM all_types t JOIN sc_c c ON t.o = c.src)
SELECT DISTINCT s, p, o FROM (
  SELECT s, p, o FROM widened
  UNION ALL SELECT src, 'rdfs:subPropertyOf', dst FROM sp_c
  UNION ALL SELECT s, p, o FROM dom_types
  UNION ALL SELECT s, p, o FROM rng_types
  UNION ALL SELECT src, 'rdfs:subClassOf', dst FROM sc_c
  UNION ALL SELECT s, p, o FROM inh_types)
"""


def q_kg_sameas_canonical(spark, sf_dir):
    """owl:sameAs entity canonicalization (operators/entailment.py::
    sameas_canonicalize) — the explicit-identity flavor of the KG
    pipeline's canonicalization stage (the reference stores alias
    entities verbatim and leaves identity to the query layer —
    /root/reference/src/query.rs:102). Deterministic alias topology
    from the customer table: every third customer has a surface-form
    alias (alias:aK sameAs cust:K) carrying its own p:email fact, every
    ninth adds a second-hop alias (alias:bK sameAs alias:aK) with a
    p:phone fact, every sixth also asserts the REVERSE edge
    (cust:K sameAs alias:aK — symmetry must not double-count), and
    friend:K → alias:aK facts force OBJECT-side rewriting. After
    smushing, each component's facts converge on the min-id
    representative (alias:aK) and no sameAs edge survives. The oracle
    recomputes the equivalence classes with a recursive min-label
    reachability CTE and the same coalesce-rewrite."""
    from rdf_diff_store_spark.operators.entailment import sameas_canonicalize

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cust_iri = F.concat(F.lit("cust:"), k.cast("string"))
    alias_a = F.concat(F.lit("alias:a"), k.cast("string"))
    alias_b = F.concat(F.lit("alias:b"), k.cast("string"))
    base = cust.select(
        cust_iri.alias("s"),
        F.lit("p:in_nation").alias("p"),
        F.concat(F.lit("nat:"), F.col("c_nationkey").cast("string")).alias("o"),
    )
    a_same = cust.filter(k % 3 == 0).select(
        alias_a.alias("s"), F.lit("owl:sameAs").alias("p"), cust_iri.alias("o")
    )
    a_fact = cust.filter(k % 3 == 0).select(
        alias_a.alias("s"),
        F.lit("p:email").alias("p"),
        F.concat(F.lit("mail:"), k.cast("string")).alias("o"),
    )
    b_same = cust.filter(k % 9 == 0).select(
        alias_b.alias("s"), F.lit("owl:sameAs").alias("p"), alias_a.alias("o")
    )
    b_fact = cust.filter(k % 9 == 0).select(
        alias_b.alias("s"),
        F.lit("p:phone").alias("p"),
        F.concat(F.lit("tel:"), k.cast("string")).alias("o"),
    )
    rev_same = cust.filter(k % 6 == 0).select(
        cust_iri.alias("s"), F.lit("owl:sameAs").alias("p"), alias_a.alias("o")
    )
    knows = cust.filter(k % 3 == 0).select(
        F.concat(F.lit("friend:"), k.cast("string")).alias("s"),
        F.lit("p:knows").alias("p"),
        alias_a.alias("o"),
    )
    triples = (
        base.unionByName(a_same).unionByName(a_fact).unionByName(b_same)
        .unionByName(b_fact).unionByName(rev_same).unionByName(knows)
    )
    return sameas_canonicalize(triples)


_ORACLE_R4["kg_sameas_canonical"] = """
WITH RECURSIVE
raw_edges(src, dst) AS (
  SELECT 'alias:a' || CAST(c_custkey AS VARCHAR),
         'cust:' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT 'alias:b' || CAST(c_custkey AS VARCHAR),
         'alias:a' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 9 = 0
  UNION ALL
  SELECT 'cust:' || CAST(c_custkey AS VARCHAR),
         'alias:a' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 6 = 0),
und(src, dst) AS (
  SELECT src, dst FROM raw_edges UNION SELECT dst, src FROM raw_edges),
reach(id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, r.r FROM und u JOIN reach r ON u.dst = r.id),
canon(id, rep) AS (
  SELECT id, MIN(r) FROM reach GROUP BY id),
base(s, p, o) AS (
  SELECT 'cust:' || CAST(c_custkey AS VARCHAR), 'p:in_nation',
         'nat:' || CAST(c_nationkey AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'alias:a' || CAST(c_custkey AS VARCHAR), 'p:email',
         'mail:' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT 'alias:b' || CAST(c_custkey AS VARCHAR), 'p:phone',
         'tel:' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 9 = 0
  UNION ALL
  SELECT 'friend:' || CAST(c_custkey AS VARCHAR), 'p:knows',
         'alias:a' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 3 = 0)
SELECT DISTINCT
  COALESCE(cs.rep, t.s) AS s,
  t.p AS p,
  COALESCE(co.rep, t.o) AS o
FROM base t
LEFT JOIN canon cs ON t.s = cs.id
LEFT JOIN canon co ON t.o = co.id
"""


def q_kg_ifp_resolution(spark, sf_dir):
    """Schema-driven entity resolution via inverse-functional
    properties (operators/entailment.py::ifp_resolve): accounts
    sharing an email or phone value are the same individual (OWL 2
    §9.2.8), the deterministic sibling of the KG pipeline's learned
    MinHash canonicalization. Deterministic account topology from the
    customer table: acct:aK always exists (email + owner facts);
    acct:bK (custkey % 4 == 0) shares aK's email and carries a label;
    at % 8 == 0, bK and a third account cK share a phone, so the
    identity chain a—b (email) — c (phone) must collapse all three
    onto the min id acct:aK across DIFFERENT properties. The oracle
    recomputes the star edges from the same grouping rule and closes
    them with a recursive min-label CTE."""
    from rdf_diff_store_spark.operators.entailment import ifp_resolve

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    a, b, c = (F.concat(F.lit(f"acct:{x}"), ks) for x in "abc")
    mail = F.concat(F.lit("mail:"), ks)
    tel = F.concat(F.lit("tel:"), ks)
    triples = (
        cust.select(a.alias("s"), F.lit("p:email").alias("p"), mail.alias("o"))
        .unionByName(
            cust.select(
                a.alias("s"),
                F.lit("p:owner").alias("p"),
                F.concat(F.lit("cust:"), ks).alias("o"),
            )
        )
        .unionByName(
            cust.filter(k % 4 == 0).select(
                b.alias("s"), F.lit("p:email").alias("p"), mail.alias("o")
            )
        )
        .unionByName(
            cust.filter(k % 4 == 0).select(
                b.alias("s"),
                F.lit("p:label").alias("p"),
                F.concat(F.lit("lbl:b"), ks).alias("o"),
            )
        )
        .unionByName(
            cust.filter(k % 8 == 0).select(
                b.alias("s"), F.lit("p:phone").alias("p"), tel.alias("o")
            )
        )
        .unionByName(
            cust.filter(k % 8 == 0).select(
                c.alias("s"), F.lit("p:phone").alias("p"), tel.alias("o")
            )
        )
        .unionByName(
            cust.filter(k % 8 == 0).select(
                c.alias("s"),
                F.lit("p:label").alias("p"),
                F.concat(F.lit("lbl:c"), ks).alias("o"),
            )
        )
    )
    return ifp_resolve(triples, ["p:email", "p:phone"])


_ORACLE_R4["kg_ifp_resolution"] = """
WITH RECURSIVE
facts(s, p, o) AS (
  SELECT 'acct:a' || CAST(c_custkey AS VARCHAR), 'p:email',
         'mail:' || CAST(c_custkey AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'acct:a' || CAST(c_custkey AS VARCHAR), 'p:owner',
         'cust:' || CAST(c_custkey AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'acct:b' || CAST(c_custkey AS VARCHAR), 'p:email',
         'mail:' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 4 = 0
  UNION ALL
  SELECT 'acct:b' || CAST(c_custkey AS VARCHAR), 'p:label',
         'lbl:b' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 4 = 0
  UNION ALL
  SELECT 'acct:b' || CAST(c_custkey AS VARCHAR), 'p:phone',
         'tel:' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 8 = 0
  UNION ALL
  SELECT 'acct:c' || CAST(c_custkey AS VARCHAR), 'p:phone',
         'tel:' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 8 = 0
  UNION ALL
  SELECT 'acct:c' || CAST(c_custkey AS VARCHAR), 'p:label',
         'lbl:c' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 8 = 0),
ifp(s, p, o) AS (SELECT s, p, o FROM facts WHERE p IN ('p:email', 'p:phone')),
grp(p, o, rep) AS (SELECT p, o, MIN(s) FROM ifp GROUP BY p, o),
star(src, dst) AS (
  SELECT DISTINCT f.s, g.rep FROM ifp f
  JOIN grp g ON f.p = g.p AND f.o = g.o WHERE f.s <> g.rep),
und(src, dst) AS (
  SELECT src, dst FROM star UNION SELECT dst, src FROM star),
reach(id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, r.r FROM und u JOIN reach r ON u.dst = r.id),
canon(id, rep) AS (SELECT id, MIN(r) FROM reach GROUP BY id)
SELECT DISTINCT
  COALESCE(cs.rep, t.s) AS s,
  t.p AS p,
  COALESCE(co.rep, t.o) AS o
FROM facts t
LEFT JOIN canon cs ON t.s = cs.id
LEFT JOIN canon co ON t.o = co.id
"""


def q_kg_shacl_validate(spark, sf_dir):
    """SHACL-lite shape validation (operators/shacl.py::shacl_validate)
    — the load-time quality gate the reference lacks (its only ingest
    check is the Turtle parser; the store round-trips content verbatim,
    /root/reference/src/rdf.rs:87-92). Deterministic entity graph from
    the customer table: every customer is a Person; emails exist only
    for custkey % 3 != 0 (the % 3 == 0 third violates minCount 1) and
    are upper-cased for % 7 == 0 (violating the '^mail:[0-9]+$'
    pattern); % 10 == 0 customers carry a second phone (violating
    maxCount 1); nations are rdf:type-d Nation only below key 20, so
    customers in nations 20-24 violate the class constraint. The
    shapes frame broadcasts into every check; the oracle derives the
    same violations straight from the generation rule."""
    from rdf_diff_store_spark.operators.shacl import shacl_validate

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cust_iri = F.concat(F.lit("cust:"), k.cast("string"))
    typed = cust.select(
        cust_iri.alias("s"), F.lit("rdf:type").alias("p"), F.lit("Person").alias("o")
    )
    email = cust.filter(k % 3 != 0).select(
        cust_iri.alias("s"),
        F.lit("p:email").alias("p"),
        F.concat(
            F.when(k % 7 == 0, F.lit("MAIL:")).otherwise(F.lit("mail:")),
            k.cast("string"),
        ).alias("o"),
    )
    phone1 = cust.filter(k % 2 == 0).select(
        cust_iri.alias("s"),
        F.lit("p:phone").alias("p"),
        F.concat(F.lit("tel:"), k.cast("string")).alias("o"),
    )
    phone2 = cust.filter(k % 10 == 0).select(
        cust_iri.alias("s"),
        F.lit("p:phone").alias("p"),
        F.concat(F.lit("tel2:"), k.cast("string")).alias("o"),
    )
    nation_fact = cust.select(
        cust_iri.alias("s"),
        F.lit("p:in_nation").alias("p"),
        F.concat(F.lit("nat:"), F.col("c_nationkey").cast("string")).alias("o"),
    )
    nation_typed = (
        cust.select(F.col("c_nationkey").alias("n")).distinct()
        .filter(F.col("n") < 20)
        .select(
            F.concat(F.lit("nat:"), F.col("n").cast("string")).alias("s"),
            F.lit("rdf:type").alias("p"),
            F.lit("Nation").alias("o"),
        )
    )
    triples = (
        typed.unionByName(email).unionByName(phone1).unionByName(phone2)
        .unionByName(nation_fact).unionByName(nation_typed)
    )
    shapes = spark.createDataFrame(
        [
            ("sh1", "Person", "p:email", "minCount", "1"),
            ("sh1", "Person", "p:phone", "maxCount", "1"),
            ("sh1", "Person", "p:in_nation", "class", "Nation"),
            ("sh1", "Person", "p:email", "pattern", "^mail:[0-9]+$"),
        ],
        ["shape_id", "target_class", "path", "constraint", "value"],
    )
    return shacl_validate(triples, shapes)


_ORACLE_R4["kg_shacl_validate"] = """
SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focus,
       'sh1' AS shape_id, 'p:email' AS path,
       'minCount' AS constraint, '1' AS expected, '0' AS actual
FROM customer WHERE c_custkey % 3 = 0
UNION ALL
SELECT 'cust:' || CAST(c_custkey AS VARCHAR),
       'sh1', 'p:phone', 'maxCount', '1', '2'
FROM customer WHERE c_custkey % 10 = 0
UNION ALL
SELECT 'cust:' || CAST(c_custkey AS VARCHAR),
       'sh1', 'p:in_nation', 'class', 'Nation',
       'nat:' || CAST(c_nationkey AS VARCHAR)
FROM customer WHERE c_nationkey >= 20
UNION ALL
SELECT 'cust:' || CAST(c_custkey AS VARCHAR),
       'sh1', 'p:email', 'pattern', '^mail:[0-9]+$',
       'MAIL:' || CAST(c_custkey AS VARCHAR)
FROM customer WHERE c_custkey % 3 <> 0 AND c_custkey % 7 = 0
"""


def q_doc_nfc_normalize(spark, sf_dir):
    """Unicode NFC canonicalization + control-char scrub
    (functions/text.py::nfc_normalize_udf, clean_text) — the first
    pass of every web-text pipeline: crawled pages mix composed and
    decomposed forms, and exact-dedup hashes / dictionary joins
    silently miss until the corpus is canonicalized (UAX #15). The
    corpus is synthetic ASCII, so a deterministic "dirty" suffix per
    doc exercises all four cases on both engines: combining acute
    (e+U+0301 -> é), combining diaeresis + the ANGSTROM SIGN
    singleton (U+212B -> U+00C5), stacked marks (A+ring+acute ->
    U+01FA), and an already-NFC string (ﬁ U+FB01 is compatibility-
    only, NFC keeps it). A BEL control and a tab ride along for the
    JVM-side clean_text scrub. ONE Arrow hop, zero shuffles — a
    map-only projection at any scale; DuckDB's nfc_normalize runs the
    same UAX #15 algorithm, giving a full value oracle."""
    from rdf_diff_store_spark.functions.text import clean_text, nfc_normalize_udf

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    suffix = (
        F.when(m == 0, F.lit("Café du monde"))
        .when(m == 1, F.lit("naïve Ångström"))
        .when(m == 2, F.lit("Ǻ ring-acute"))
        .otherwise(F.lit("déjà ﬁxé clean"))
    )
    raw = F.concat(F.substring("text", 1, 48), F.lit(" \x07bel\t "), suffix)
    cleaned = clean_text(raw)
    norm = nfc_normalize_udf(cleaned)
    return docs.select(
        "doc_id",
        F.length(raw).alias("raw_len"),
        F.length(norm).alias("norm_len"),
        (F.length(cleaned) > F.length(norm)).alias("composed"),
        F.md5(norm).alias("norm_md5"),
    )


_ORACLE_R4["doc_nfc_normalize"] = """
WITH raw AS (
  SELECT doc_id,
         substr(text, 1, 48) || ' ' || chr(7) || 'bel' || chr(9) || ' ' ||
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 'Cafe' || chr(769) || ' du monde'
           WHEN 1 THEN 'nai' || chr(776) || 've ' || chr(8491)
                       || 'ngstro' || chr(776) || 'm'
           WHEN 2 THEN 'A' || chr(778) || chr(769) || ' ring-acute'
           ELSE 'd' || chr(233) || 'j' || chr(224) || ' ' || chr(64257)
                || 'x' || chr(233) || ' clean'
         END AS raw
  FROM documents),
cleaned AS (
  SELECT doc_id, raw,
         trim(regexp_replace(
           regexp_replace(raw, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
           '\\s+', ' ', 'g')) AS c
  FROM raw)
SELECT doc_id,
       CAST(length(raw) AS INT) AS raw_len,
       CAST(length(nfc_normalize(c)) AS INT) AS norm_len,
       length(c) > length(nfc_normalize(c)) AS composed,
       md5(nfc_normalize(c)) AS norm_md5
FROM cleaned
"""


def q_kg_owl_entail(spark, sf_dir):
    """OWL 2 RL property-axiom materialization (operators/entailment.py
    ::owl_property_entailment) — prp-inv1/2 (inverseOf), prp-symp
    (SymmetricProperty), prp-trp (TransitiveProperty), the property-
    semantics complement of kg_rdfs_entail (the reference evaluates
    SPARQL over asserted triples only — /root/reference/src/
    query.rs:102 — so OWL semantics must materialize at load).
    Deterministic KG: a partOf binary-tree hierarchy over customers
    (k partOf k div 2) split between DIRECT partOf assertions
    (k%3<>0) and INVERSE hasPart assertions (k%3=0) — so the
    transitive closure only spans full chains if the inverse rule
    fired first (stratum order is part of what's checked) — plus a
    symmetric adjacentTo path over nations. The oracle re-derives the
    closure with a recursive CTE and mirrors it through the inverse
    axiom; bit-exact, all-string triples."""
    from rdf_diff_store_spark.operators.entailment import owl_property_entailment

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    axioms = spark.createDataFrame(
        [
            ("p:partOf", "rdf:type", "owl:TransitiveProperty"),
            ("p:hasPart", "owl:inverseOf", "p:partOf"),
            ("p:adjacentTo", "rdf:type", "owl:SymmetricProperty"),
        ],
        ["s", "p", "o"],
    )
    ek = F.concat(F.lit("e:"), F.col("c_custkey").cast("string"))
    parent = F.concat(F.lit("e:"), F.expr("c_custkey div 2").cast("string"))
    part = cust.filter(
        (F.col("c_custkey") > 1) & (F.col("c_custkey") % 3 != 0)
    ).select(ek.alias("s"), F.lit("p:partOf").alias("p"), parent.alias("o"))
    haspart = cust.filter(
        (F.col("c_custkey") > 1) & (F.col("c_custkey") % 3 == 0)
    ).select(parent.alias("s"), F.lit("p:hasPart").alias("p"), ek.alias("o"))
    adj = nation.filter(F.col("n_nationkey") < 24).select(
        F.concat(F.lit("nat:"), F.col("n_nationkey").cast("string")).alias("s"),
        F.lit("p:adjacentTo").alias("p"),
        F.concat(F.lit("nat:"), (F.col("n_nationkey") + 1).cast("string")).alias("o"),
    )
    triples = axioms.unionByName(part).unionByName(haspart).unionByName(adj)
    return owl_property_entailment(triples)


_ORACLE_R4["kg_owl_entail"] = """
WITH RECURSIVE
axioms(s, p, o) AS (
  VALUES ('p:partOf', 'rdf:type', 'owl:TransitiveProperty'),
         ('p:hasPart', 'owl:inverseOf', 'p:partOf'),
         ('p:adjacentTo', 'rdf:type', 'owl:SymmetricProperty')),
part_asserted(s, o) AS (
  SELECT 'e:' || CAST(c_custkey AS VARCHAR), 'e:' || CAST(c_custkey // 2 AS VARCHAR)
  FROM customer WHERE c_custkey > 1 AND c_custkey % 3 <> 0),
haspart_asserted(s, o) AS (
  SELECT 'e:' || CAST(c_custkey // 2 AS VARCHAR), 'e:' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey > 1 AND c_custkey % 3 = 0),
adj(s, o) AS (
  SELECT 'nat:' || CAST(n_nationkey AS VARCHAR), 'nat:' || CAST(n_nationkey + 1 AS VARCHAR)
  FROM nation WHERE n_nationkey < 24),
part_all(s, o) AS (
  SELECT s, o FROM part_asserted UNION SELECT o, s FROM haspart_asserted),
anc(s, o) AS (
  SELECT s, o FROM part_all
  UNION
  SELECT a.s, p.o FROM anc a JOIN part_all p ON a.o = p.s)
SELECT DISTINCT s, p, o FROM (
  SELECT s, p, o FROM axioms
  UNION ALL SELECT s, 'p:partOf', o FROM part_asserted
  UNION ALL SELECT s, 'p:hasPart', o FROM haspart_asserted
  UNION ALL SELECT s, 'p:adjacentTo', o FROM adj
  UNION ALL SELECT o, 'p:adjacentTo', s FROM adj
  UNION ALL SELECT s, 'p:partOf', o FROM anc
  UNION ALL SELECT o, 'p:hasPart', s FROM anc
)
"""


def q_web_triangles(spark, sf_dir):
    """Per-node triangle counting by degree orientation
    (operators/graph.py::triangle_count; Suri & Vassilvitskii WWW 2011)
    — the web-graph clustering primitive (spam-farm detection,
    community density) whose naive wedge join dies on hub nodes (the
    "last reducer"); orientation bounds wedge volume to O(m^1.5)
    regardless of skew. Deterministic dense-ish test graph: each
    customer key contributes the undirected edge (k mod 97, k mod 61)
    — a multigraph the operator must canonicalize; top-50 nodes by
    (triangles, node), total order. The oracle reruns the same
    orientation algebra as SQL joins — bit-exact BIGINT counts."""
    from rdf_diff_store_spark.operators.graph import triangle_count

    cust = load_table(spark, sf_dir, "customer")
    edges = cust.select(
        (F.col("c_custkey") % 97).alias("src"), (F.col("c_custkey") % 61).alias("dst")
    )
    return (
        triangle_count(edges)
        .orderBy(F.desc("n_triangles"), "node")
        .limit(50)
    )


_ORACLE_R4["web_triangles"] = """
WITH raw AS (SELECT c_custkey % 97 AS x, c_custkey % 61 AS y FROM customer),
e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw WHERE x <> y),
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
  GROUP BY n),
o AS (
  SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS v,
         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN db.deg ELSE da.deg END AS dv
  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
w AS (
  SELECT x.u AS wu, x.v AS wv, y.v AS ww
  FROM o x JOIN o y ON x.u = y.u AND (x.dv, x.v) < (y.dv, y.v)),
closed AS (
  SELECT wu, wv, ww FROM w JOIN o ON w.wv = o.u AND w.ww = o.v),
pn AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT wu AS n FROM closed
        UNION ALL SELECT wv FROM closed
        UNION ALL SELECT ww FROM closed)
  GROUP BY n)
SELECT deg.n AS node, deg.deg AS degree,
       CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles
FROM deg LEFT JOIN pn ON deg.n = pn.n
ORDER BY n_triangles DESC, node
LIMIT 50
"""


def q_kg_zorder_key(spark, sf_dir):
    """Z-order / Morton clustering keys (operators/layout.py::
    zorder_key; Morton 1966 — the multi-dimensional layout key behind
    Delta's OPTIMIZE ZORDER BY): order-date day number × customer
    bucket interleaved into one BIGINT, so a range-partitioned write
    clusters BOTH dimensions and parquet min/max stats prune 2-D
    range predicates. Pure codegen bit fold, variable-shift
    `shiftleft` (expression shift amounts verified in both engines);
    the query checks the key arithmetic — the write-side layout move
    is `repartitionByRange(zkey)`. First 50 keys of the distinct
    (day, bucket) grid."""
    from rdf_diff_store_spark.operators.layout import zorder_key

    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("bigint")
        .alias("x"),
        (F.col("o_custkey") % 1024).cast("bigint").alias("y"),
    ).distinct()
    return (
        b.select("x", "y", zorder_key("x", "y", bits=12).alias("zkey"))
        .orderBy("zkey", "x", "y")
        .limit(50)
    )


_ORACLE_R4["kg_zorder_key"] = """
WITH b AS (
  SELECT DISTINCT CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS x,
         CAST(o_custkey % 1024 AS BIGINT) AS y
  FROM orders)
SELECT x, y,
       CAST(list_sum(list_transform(range(0, 12), i ->
         ((x // (1::BIGINT << i)) % 2) * (1::BIGINT << (2 * i)) +
         ((y // (1::BIGINT << i)) % 2) * (1::BIGINT << (2 * i + 1))))
         AS BIGINT) AS zkey
FROM b ORDER BY zkey, x, y LIMIT 50
"""


def q_event_hopping_windows(spark, sf_dir):
    """HOPPING (sliding) event-time windows — F.window(ts, width=6h,
    slide=3h): every event lands in exactly width/slide = 2
    overlapping windows, the smoothing aggregation streaming
    dashboards run (tumbling = the degenerate slide=width case
    already covered by event_time_windows). Windows align to the
    epoch, so the oracle derives both window starts arithmetically —
    (epoch div hop)·hop − i·hop — with no engine time-bucket origin
    dependence; NTZ column in, epoch micros out (session-TZ-proof)."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "6 hours", "3 hours")
    return (
        ev.groupBy(win, "event_type")
        .agg(
            F.count("*").alias("n"),
            # DECIMAL-exact portable sum (see session_window_agg note)
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            _ntz_us(F.col("window.start")).alias("win_start_us"),
            "event_type",
            "n",
            "total_value",
        )
    )


_ORACLE_R4["event_hopping_windows"] = """
WITH e AS (
  SELECT epoch_us(ts) AS us, event_type, value FROM events),
hopped AS (
  SELECT (us // 10800000000) * 10800000000 - i * 10800000000 AS win_start_us,
         event_type, value
  FROM e, unnest(generate_series(0, 1)) AS g(i))
SELECT win_start_us, event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM hopped GROUP BY win_start_us, event_type
"""


def q_version_intervals(spark, sf_dir):
    """SCD-2 validity intervals (operators/versioned.py::
    version_intervals) — every stored version as (graph_id,
    valid_from, valid_to) with the next version's ts as the exclusive
    upper bound (NULL = currently live; tombstones close intervals
    and emit nothing). The materialized interval table that turns
    event-to-live-version lookups into one banded range join
    (ranges.py) instead of per-event as-of aggregations. ONE lead
    window on the graph_id partitioning every versioned operator
    already uses. Epoch micros via the TZ-proof NTZ diff."""
    from rdf_diff_store_spark.operators.versioned import version_intervals

    iv = version_intervals(changelog_from_events(spark, sf_dir))
    return iv.select(
        "graph_id",
        _ntz_us(F.col("valid_from")).alias("from_us"),
        F.when(
            F.col("valid_to").isNotNull(), _ntz_us(F.col("valid_to"))
        ).alias("to_us"),
        "content_hash",
    )


_ORACLE_R4["version_intervals"] = f"""
WITH changelog AS ({CHANGELOG_FROM_EVENTS_SQL}),
iv AS (
  SELECT graph_id, ts, op, content_hash,
         lead(ts) OVER (
           PARTITION BY graph_id
           ORDER BY ts, op, coalesce(content_hash, '')) AS valid_to
  FROM changelog)
SELECT graph_id, epoch_us(ts) AS from_us, epoch_us(valid_to) AS to_us,
       content_hash
FROM iv WHERE op <> 'delete'
"""


def _n2v_edges(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    contains = nation.select(
        F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")).alias("src"),
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("dst"),
    )
    return _ring_inreg_edges(spark, sf_dir).unionByName(contains)


_N2V_EDGES_SQL = f"""
e AS ({_RING_INREG_UNION}
  UNION
  SELECT 'region:' || CAST(n_regionkey AS VARCHAR),
         'nation:' || CAST(n_nationkey AS VARCHAR) FROM nation)
"""


def q_kg_node2vec_walks(spark, sf_dir):
    """node2vec second-order biased walks (operators/graph.py::
    node2vec_walks; Grover & Leskovec KDD 2016) — the BFS/DFS
    interpolating walk corpus over the nation⇄region graph, integer
    weights (return 1, distance-1 "stay" 4, outward 2), md5 draws.
    Per step: full neighbor fanout (the second-order distribution
    needs every neighbor's class) + edge-marker left join + per-walk
    cumulative-weight window; the oracle unrolls every step
    bit-exactly, cumsum included."""
    from rdf_diff_store_spark.operators.graph import node2vec_walks

    nation = load_table(spark, sf_dir, "nation")
    seeds = nation.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("seed")
    )
    return node2vec_walks(
        _n2v_edges(spark, sf_dir), seeds, length=5, w_return=1, w_stay=4, w_out=2
    )


def _n2v_oracle(
    length: int = 5, wr: int = 1, ws: int = 4, wo: int = 2, salt: str = "n2v"
) -> str:
    def draw(t: int) -> str:
        return (
            f"('0x' || substr(md5('{salt}' || {{w}}.walk_id || ':{t}'), 1, 15))::BIGINT"
        )

    sql = [
        f"""
WITH {_N2V_EDGES_SQL.strip()},
deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
adj AS (SELECT src, dst,
               CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT)
                 AS idx
        FROM e),
s0 AS (SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS walk_id,
              'nation:' || CAST(n_nationkey AS VARCHAR) AS node FROM nation),
s1 AS (
  SELECT w.walk_id, w.node AS prev, a.dst AS node
  FROM s0 w JOIN deg d ON d.src = w.node
  JOIN adj a ON a.src = w.node
   AND a.idx = {draw(1).format(w='w')} % d.outdeg)"""
    ]
    for t in range(2, length + 1):
        sql.append(
            f""",
c{t} AS (
  SELECT s.walk_id, s.node AS u, e.dst AS x,
         CASE WHEN e.dst = s.prev THEN {wr}
              WHEN m.src IS NOT NULL THEN {ws}
              ELSE {wo} END AS w
  FROM s{t - 1} s JOIN e ON e.src = s.node
  LEFT JOIN e m ON m.src = s.prev AND m.dst = e.dst),
w{t} AS (
  SELECT walk_id, u, x, w,
         SUM(w) OVER (PARTITION BY walk_id ORDER BY x) AS cum,
         SUM(w) OVER (PARTITION BY walk_id) AS total
  FROM c{t}),
s{t} AS (
  SELECT q.walk_id, q.u AS prev, q.x AS node FROM w{t} q
  WHERE q.cum - q.w <= {draw(t).format(w='q')} % q.total
    AND {draw(t).format(w='q')} % q.total < q.cum)"""
        )
    sel = " UNION ALL ".join(
        [f"SELECT walk_id, 0 AS step, node FROM s0"]
        + [f"SELECT walk_id, {t} AS step, node FROM s{t}" for t in range(1, length + 1)]
    )
    sql.append("\n" + sel)
    return "".join(sql)


_ORACLE_R4["kg_node2vec_walks"] = _n2v_oracle()


def q_web_degree_dist(spark, sf_dir):
    """Log2-bucketed degree distribution of the co-purchase leaf graph
    — the power-law census every web-graph study opens with (Broder
    WWW9 §3 plots exactly this). Degrees from the order→part
    adjacency; bucket = floor(log2(deg)) computed PORTABLY as
    length(bin(deg)) - 1 (the hll rank trick — no floating log2,
    which is not correctly-rounded-identical across engines near
    powers of two). One combinable agg over degrees; output is
    ~log2(max-degree) rows at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    deg = (
        li.select(
            F.concat(F.lit("order:"), F.col("l_orderkey").cast("string")).alias(
                "center"
            ),
            F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias("leaf"),
        )
        .distinct()
        .groupBy("leaf")
        .agg(F.count("*").alias("deg"))
    )
    return (
        deg.select((F.length(F.bin(F.col("deg"))) - 1).cast("int").alias("log2_deg"))
        .groupBy("log2_deg")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )


_ORACLE_R4["web_degree_dist"] = """
WITH adj AS (
  SELECT DISTINCT 'order:' || CAST(l_orderkey AS VARCHAR) AS center,
         'part:' || CAST(l_partkey AS VARCHAR) AS leaf FROM lineitem),
deg AS (SELECT leaf, COUNT(*) AS deg FROM adj GROUP BY leaf)
SELECT CAST(length(bin(deg)) - 1 AS INT) AS log2_deg,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1
"""


def q_web_neighborhood_fn(spark, sf_dir):
    """HyperANF neighborhood function (operators/graph.py::
    neighborhood_function; Boldi-Rosa-Vigna WWW 2011 — the "degrees
    of separation" curve): N(t) for t = 0..4 over the nation ring +
    inRegion graph, b=4. One register frame iterated in place with a
    radius-tagged estimate after each merge (the curve costs
    max_radius iterations, never O(r²) re-runs). The oracle unrolls
    every merge AND every per-radius estimate — the whole curve is
    BIGINT-exact."""
    from rdf_diff_store_spark.operators.graph import neighborhood_function

    return neighborhood_function(_ring_inreg_edges(spark, sf_dir), max_radius=4, b=4)


def _nf_oracle(max_radius: int = 4) -> str:
    est = """
  SELECT CAST({t} AS INT) AS radius, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(CAST(floor({c} / (present_sum +
           CAST(16 - n_regs AS BIGINT) * CAST(9007199254740992 AS BIGINT)))
           AS BIGINT)) AS BIGINT) AS pairs_est
  FROM (
    SELECT node, CAST(count(*) AS INT) AS n_regs,
           CAST(sum(CAST(2 ** (53 - maxrank) AS BIGINT)) AS BIGINT) AS present_sum
    FROM h{t} GROUP BY node)"""
    points = " UNION ALL ".join(
        est.format(t=t, c=_HLL_B4_C_LIT) for t in range(max_radius + 1)
    )
    return f"\nWITH __RING_E__,\n{_hll_ball_ctes(max_radius)}\n{points}"


_ORACLE_R4["web_neighborhood_fn"] = _nf_oracle()


def q_web_harmonic_centrality(spark, sf_dir):
    """Approximate harmonic centrality by HyperBall deltas
    (operators/graph.py::harmonic_centrality; Boldi-Vigna ICDMW 2013
    — their Facebook-scale headline) over the nation ring + inRegion
    graph, radius 4, b=4: H(v) ≈ Σ (1e6 div t)·(ball growth at t),
    integer micro-units. The geometric-centrality complement of
    kg_pagerank's spectral rank. Oracle unrolls every merge AND every
    per-radius estimate difference."""
    from rdf_diff_store_spark.operators.graph import harmonic_centrality

    return harmonic_centrality(_ring_inreg_edges(spark, sf_dir), max_radius=4, b=4)


def _harmonic_oracle(max_radius: int = 4) -> str:
    est = """
est{t} AS (
  SELECT node, CAST(floor({c} / (present_sum +
    CAST(16 - n_regs AS BIGINT) * CAST(9007199254740992 AS BIGINT)))
    AS BIGINT) AS est
  FROM (
    SELECT node, CAST(count(*) AS INT) AS n_regs,
           CAST(sum(CAST(2 ** (53 - maxrank) AS BIGINT)) AS BIGINT) AS present_sum
    FROM h{t} GROUP BY node))"""
    ests = "".join(
        "," + est.format(t=t, c=_HLL_B4_C_LIT) for t in range(max_radius + 1)
    )
    terms = " + ".join(
        f"{1_000_000 // t} * (est{t}.est - est{t - 1}.est)"
        for t in range(1, max_radius + 1)
    )
    joins = " ".join(
        f"JOIN est{t} ON est{t}.node = est0.node" for t in range(1, max_radius + 1)
    )
    return (
        f"\nWITH __RING_E__,\n{_hll_ball_ctes(max_radius)}{ests}\n"
        f"SELECT est0.node, CAST({terms} AS BIGINT) AS h_micro\nFROM est0 {joins}"
    )


_ORACLE_R4["web_harmonic_centrality"] = _harmonic_oracle()


def q_web_effective_diameter(spark, sf_dir):
    """Effective diameter (the '90 % of reachable pairs' statistic of
    Leskovec-Kleinberg-Faloutsos "Graphs over Time", KDD 2005, read
    off the HyperANF curve): the smallest radius t whose N(t) reaches
    90 % of N(max) — integer cross-multiplication (pairs·10 ≥ 9·max),
    no float thresholds. One row: (effective_diameter, n_nodes,
    pairs_at_d, pairs_max). Derived entirely from
    neighborhood_function's curve — no extra graph pass."""
    from rdf_diff_store_spark.operators.graph import neighborhood_function

    # checkpoint: nf feeds both the max aggregate and the probe side —
    # without the barrier the estimate layer evaluates twice
    nf = neighborhood_function(
        _ring_inreg_edges(spark, sf_dir), max_radius=4, b=4
    ).localCheckpoint()
    mx = nf.agg(F.max("pairs_est").alias("pairs_max"))
    return (
        nf.crossJoin(mx)
        .filter(F.col("pairs_est") * 10 >= F.col("pairs_max") * 9)
        .orderBy("radius")
        .limit(1)
        .select(
            F.col("radius").alias("effective_diameter"),
            "n_nodes",
            F.col("pairs_est").alias("pairs_at_d"),
            "pairs_max",
        )
    )


_ORACLE_R4["web_effective_diameter"] = (
    "WITH nf AS ("
    + _nf_oracle()
    + """),
mx AS (SELECT MAX(pairs_est) AS pairs_max FROM nf)
SELECT CAST(radius AS INT) AS effective_diameter, n_nodes,
       CAST(pairs_est AS BIGINT) AS pairs_at_d, CAST(pairs_max AS BIGINT) AS pairs_max
FROM nf CROSS JOIN mx
WHERE pairs_est * 10 >= pairs_max * 9
ORDER BY radius LIMIT 1
"""
)


def q_snapshot_triple_prov(spark, sf_dir):
    """Triple-level why-provenance: every triple of the T_MID snapshot
    tagged with the timestamp of the VERSION that asserted it — the
    row-granular complement of kg_prov_lineage's version-level PROV-O
    (a consumer asking "where did this fact come from" joins neither
    git history nor changelog; the ts rides the snapshot parse for
    free: operators/versioned.py::snapshot_triples keeps the
    changelog ts on every emitted triple). Epoch micros via the
    session-TZ-proof NTZ diff."""
    from rdf_diff_store_spark.operators.versioned import snapshot_triples

    snap = snapshot_triples(changelog_from_events(spark, sf_dir), T_MID)
    return snap.select(
        "graph_id", "subj", "pred", "obj", _ntz_us(F.col("ts")).alias("asserted_us")
    )


_ORACLE_R4["snapshot_triple_prov"] = f"""
WITH changelog AS ({CHANGELOG_FROM_EVENTS_SQL}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY graph_id
      ORDER BY ts DESC, op DESC, coalesce(content_hash, '') DESC) AS rn
  FROM changelog WHERE ts <= TIMESTAMP '{T_MID}'
),
snap AS (SELECT graph_id, ts, payload FROM ranked WHERE rn = 1 AND op <> 'delete')
SELECT graph_id,
       regexp_extract(payload, '^<([^>]*)>', 1) AS subj,
       regexp_extract(payload, '> <([^>]*)>', 1) AS pred,
       regexp_extract(payload, '"([^"]*)"', 1) AS obj,
       epoch_us(ts) AS asserted_us
FROM snap
"""


def q_web_clustering_coeff(spark, sf_dir):
    """Local clustering coefficients (operators/graph.py::
    clustering_coefficient; Watts-Strogatz) — the per-node
    normalization of the web_triangles census in exact integer
    micro-units: the link-farm / community-nucleus density signal
    (farms are near-cliques: cc ≈ 1e6 at high degree). Same
    orientation-bounded plan plus one map-side expression. Top-50 by
    (cc DESC, node)."""
    from rdf_diff_store_spark.operators.graph import clustering_coefficient

    cust = load_table(spark, sf_dir, "customer")
    edges = cust.select(
        (F.col("c_custkey") % 97).alias("src"), (F.col("c_custkey") % 61).alias("dst")
    )
    return (
        clustering_coefficient(edges)
        .orderBy(F.desc("cc_micro"), "node")
        .limit(50)
    )


_ORACLE_R4["web_clustering_coeff"] = """
WITH raw AS (SELECT c_custkey % 97 AS x, c_custkey % 61 AS y FROM customer),
e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw WHERE x <> y),
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
  GROUP BY n),
o AS (
  SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS v,
         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN db.deg ELSE da.deg END AS dv
  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
w AS (
  SELECT x.u AS wu, x.v AS wv, y.v AS ww
  FROM o x JOIN o y ON x.u = y.u AND (x.dv, x.v) < (y.dv, y.v)),
closed AS (
  SELECT wu, wv, ww FROM w JOIN o ON w.wv = o.u AND w.ww = o.v),
pn AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT wu AS n FROM closed
        UNION ALL SELECT wv FROM closed
        UNION ALL SELECT ww FROM closed)
  GROUP BY n),
census AS (
  SELECT deg.n AS node, deg.deg AS degree,
         CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles
  FROM deg LEFT JOIN pn ON deg.n = pn.n)
SELECT node, degree, n_triangles,
       CAST(CASE WHEN degree >= 2
                 THEN (2 * n_triangles * 1000000) // (degree * (degree - 1))
                 ELSE 0 END AS BIGINT) AS cc_micro
FROM census
ORDER BY cc_micro DESC, node
LIMIT 50
"""


def q_nquads_roundtrip(spark, sf_dir):
    """N-Quads dataset source/sink roundtrip (sources/nquads.py) — the
    line-oriented RDF dump format web-scale KG corpora ship in (Web
    Data Commons publishes its Common-Crawl extraction as N-Quads);
    the whole-dataset export whose graph term the reference encodes in
    per-graph FILENAMES instead (src/git.rs:24-41). Deterministic
    statements from the customer table exercise every term class: IRI
    objects, plain literals stuffed with the full escape alphabet
    (quote, backslash, newline, tab), @lang literals, typed literals,
    blank-node subjects, and default-graph rows (NULL graph → graph
    term omitted). The query serializes (pure JVM expression), parses
    back (ONE Arrow hop), and re-serializes for the md5 — so the
    checked values pin BOTH codec directions; the oracle rebuilds the
    parsed fields AND the exact line bytes closed-form, never running
    either codec."""
    from rdf_diff_store_spark.sources.nquads import (
        nquad_line,
        parse_nquads,
        serialize_nquads,
    )

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m4, m5, m7 = (k % 4).cast("int"), (k % 5).cast("int"), (k % 7).cast("int")
    xsd_s = "http://www.w3.org/2001/XMLSchema#string"
    t = cust.select(
        F.when(m5 == 4, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("g:"), m5.cast("string")))
        .alias("graph_id"),
        F.when(m7 == 0, F.concat(F.lit("_:b"), ks))
        .otherwise(F.concat(F.lit("http://ex.org/e/"), ks))
        .alias("subj"),
        F.lit("http://ex.org/p/name").alias("pred"),
        F.when(m4 == 0, F.concat(F.lit("http://ex.org/o/"), ks))
        .when(m4 == 1, F.concat(F.lit('va"l\\'), ks, F.lit("\nx\ty")))
        .when(m4 == 2, F.concat(F.lit("hei "), ks))
        .otherwise(ks)
        .alias("obj"),
        F.when(m4 == 1, F.lit(xsd_s))
        .when(m4 == 3, F.lit("http://www.w3.org/2001/XMLSchema#integer"))
        .alias("obj_dt"),
        F.when(m4 == 2, F.lit("nb")).alias("obj_lang"),
    )
    parsed = parse_nquads(serialize_nquads(t), line_col="line")
    re_line = nquad_line(
        F.col("subj"),
        F.col("pred"),
        F.col("obj"),
        F.col("obj_dt"),
        F.col("obj_lang"),
        F.col("graph_id"),
    )
    return parsed.select(
        "graph_id", "subj", "pred", "obj", "obj_dt", "obj_lang",
        F.md5(re_line).alias("line_md5"),
    )


_ORACLE_R4["nquads_roundtrip"] = """
WITH base AS (
  SELECT CAST(c_custkey AS VARCHAR) AS ks,
         CAST(c_custkey % 4 AS INT) AS m4,
         CAST(c_custkey % 5 AS INT) AS m5,
         CAST(c_custkey % 7 AS INT) AS m7
  FROM customer)
SELECT
  CASE WHEN m5 = 4 THEN NULL ELSE 'g:' || CAST(m5 AS VARCHAR) END AS graph_id,
  CASE WHEN m7 = 0 THEN '_:b' || ks ELSE 'http://ex.org/e/' || ks END AS subj,
  'http://ex.org/p/name' AS pred,
  CASE m4 WHEN 0 THEN 'http://ex.org/o/' || ks
          WHEN 1 THEN 'va"l\\' || ks || chr(10) || 'x' || chr(9) || 'y'
          WHEN 2 THEN 'hei ' || ks
          ELSE ks END AS obj,
  CASE WHEN m4 = 1 THEN 'http://www.w3.org/2001/XMLSchema#string'
       WHEN m4 = 3 THEN 'http://www.w3.org/2001/XMLSchema#integer' END AS obj_dt,
  CASE WHEN m4 = 2 THEN 'nb' END AS obj_lang,
  md5(
    (CASE WHEN m7 = 0 THEN '_:b' || ks ELSE '<http://ex.org/e/' || ks || '>' END)
    || ' <http://ex.org/p/name> '
    || CASE m4 WHEN 0 THEN '<http://ex.org/o/' || ks || '>'
               WHEN 1 THEN '"va\\"l\\\\' || ks || '\\nx\\ty"'
               WHEN 2 THEN '"hei ' || ks || '"@nb'
               ELSE '"' || ks || '"^^<http://www.w3.org/2001/XMLSchema#integer>' END
    || CASE WHEN m5 = 4 THEN '' ELSE ' <g:' || CAST(m5 AS VARCHAR) || '>' END
    || ' .'
  ) AS line_md5
FROM base
"""


def q_kg_property_table(spark, sf_dir):
    """Property-table pivot (operators/layout.py::property_table;
    Wilkinson SSWS 2006) — the wide-row storage layout that turns
    star-shaped SPARQL (all attributes of an entity) into a single
    columnar scan with zero self-joins; the reference keeps graphs as
    Turtle documents (src/rdf.rs:87-92) and has no layout story.
    Deterministic entity facts from the customer table: every entity
    has in_nation, emails exist for even keys, k%5==0 entities carry
    TWO phone values (the multi-value determinism case — sorted
    comma-join), and the predicate vocabulary is passed explicitly so
    the plan is ONE subject-hash aggregation with no discovery pass.
    The oracle mirrors the pivot with FILTERed ordered string_agg."""
    from rdf_diff_store_spark.operators.layout import property_table

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    ent = F.concat(F.lit("cust:"), ks)
    nat = cust.select(
        ent.alias("s"),
        F.lit("p:in_nation").alias("p"),
        F.concat(F.lit("nat:"), F.col("c_nationkey").cast("string")).alias("o"),
    )
    email = cust.filter(k % 2 == 0).select(
        ent.alias("s"),
        F.lit("p:email").alias("p"),
        F.concat(F.lit("mail:"), ks).alias("o"),
    )
    ph1 = cust.filter(k % 3 == 0).select(
        ent.alias("s"),
        F.lit("p:phone").alias("p"),
        F.concat(F.lit("tel:a"), ks).alias("o"),
    )
    ph2 = cust.filter(k % 5 == 0).select(
        ent.alias("s"),
        F.lit("p:phone").alias("p"),
        F.concat(F.lit("tel:b"), ks).alias("o"),
    )
    triples = nat.unionByName(email).unionByName(ph1).unionByName(ph2)
    wide = property_table(
        triples, predicates=["p:email", "p:in_nation", "p:phone"]
    )
    return wide.select(
        "s",
        F.col("p:email").alias("email"),
        F.col("p:in_nation").alias("in_nation"),
        F.col("p:phone").alias("phone"),
    )


_ORACLE_R4["kg_property_table"] = """
WITH facts AS (
  SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS s, 'p:in_nation' AS p,
         'nat:' || CAST(c_nationkey AS VARCHAR) AS o
  FROM customer
  UNION ALL
  SELECT 'cust:' || CAST(c_custkey AS VARCHAR), 'p:email',
         'mail:' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 2 = 0
  UNION ALL
  SELECT 'cust:' || CAST(c_custkey AS VARCHAR), 'p:phone',
         'tel:a' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT 'cust:' || CAST(c_custkey AS VARCHAR), 'p:phone',
         'tel:b' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey % 5 = 0)
SELECT s,
       string_agg(o, ',' ORDER BY o) FILTER (WHERE p = 'p:email') AS email,
       string_agg(o, ',' ORDER BY o) FILTER (WHERE p = 'p:in_nation') AS in_nation,
       string_agg(o, ',' ORDER BY o) FILTER (WHERE p = 'p:phone') AS phone
FROM facts
GROUP BY s
"""


def q_web_kcore(spark, sf_dir):
    """k-core decomposition by iterative peeling (operators/graph.py::
    kcore_peel; Seidman 1983) — the web-graph density filter (link-farm
    cores, community nuclei). Deterministic 3-layer test graph from the
    customer table: a ring+chord core on 40 nodes (in-core degree 4),
    mid nodes of degree EXACTLY k=3 hanging off it, and two leaves per
    mid — so round 1 peels the leaves, round 2 peels the mids (their
    degree only drops below k AFTER round 1: the iteration itself is
    what's checked), and round 3 is a no-op; 3 fixed rounds ≡ the
    converged 3-core at every scale factor by construction. The oracle
    unrolls the identical 3 rounds as anti-join CTEs — bit-exact."""
    from rdf_diff_store_spark.operators.graph import kcore_peel

    cust = load_table(spark, sf_dir, "customer")
    x = (F.col("c_custkey") % 200).alias("x")
    base = cust.select(x, (F.col("c_custkey") % 200 % 40).alias("c"))
    c, xn = F.col("c"), F.col("x")
    parts = [
        base.select(c.alias("src"), ((c + 1) % 40).alias("dst")),
        base.select(c.alias("src"), ((c + 2) % 40).alias("dst")),
        base.select((xn + 1000).alias("src"), c.alias("dst")),
        base.select((xn + 2000).alias("src"), (xn + 1000).alias("dst")),
        base.select((xn + 3000).alias("src"), (xn + 1000).alias("dst")),
    ]
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    return kcore_peel(edges, k=3, rounds=3)


_ORACLE_R4["web_kcore"] = """
WITH base AS (
  SELECT c_custkey % 200 AS x, c_custkey % 200 % 40 AS c FROM customer),
raw(s, d) AS (
  SELECT c, (c + 1) % 40 FROM base
  UNION ALL SELECT c, (c + 2) % 40 FROM base
  UNION ALL SELECT x + 1000, c FROM base
  UNION ALL SELECT x + 2000, x + 1000 FROM base
  UNION ALL SELECT x + 3000, x + 1000 FROM base),
e0 AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM raw WHERE s <> d),
d0 AS (SELECT n, COUNT(*) AS c FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
w0 AS (SELECT n FROM d0 WHERE c < 3),
e1 AS (SELECT e.a, e.b FROM e0 e
       LEFT JOIN w0 p ON e.a = p.n LEFT JOIN w0 q ON e.b = q.n
       WHERE p.n IS NULL AND q.n IS NULL),
d1 AS (SELECT n, COUNT(*) AS c FROM (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY n),
w1 AS (SELECT n FROM d1 WHERE c < 3),
e2 AS (SELECT e.a, e.b FROM e1 e
       LEFT JOIN w1 p ON e.a = p.n LEFT JOIN w1 q ON e.b = q.n
       WHERE p.n IS NULL AND q.n IS NULL),
d2 AS (SELECT n, COUNT(*) AS c FROM (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY n),
w2 AS (SELECT n FROM d2 WHERE c < 3),
e3 AS (SELECT e.a, e.b FROM e2 e
       LEFT JOIN w2 p ON e.a = p.n LEFT JOIN w2 q ON e.b = q.n
       WHERE p.n IS NULL AND q.n IS NULL)
SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS degree
FROM (SELECT a AS n FROM e3 UNION ALL SELECT b AS n FROM e3)
GROUP BY n
"""


def q_kg_datatype_validate(spark, sf_dir):
    """XSD datatype validation + lexical canonicalization at load
    (operators/shacl.py::validate_literals) — the datatype half of the
    ingest gate (shapes are kg_shacl_validate): non-canonical lexical
    forms ("007", "+13", "5.10", "1"-for-true) break downstream
    exact-match joins the way un-NFC'd Unicode breaks text dedup.
    Deterministic typed literals from the customer table: each of
    integer/decimal/boolean/date gets five lexical variants including
    invalid ones (letters in digits, double dots, month 13, and
    2023-02-29 — valid REGEX but an impossible calendar date, the
    cast-verified case). Map-only JVM regex algebra, shared Java∩RE2
    patterns; the oracle mirrors the same regexes, replace chains, and
    TRY_CAST."""
    from rdf_diff_store_spark.operators.shacl import validate_literals

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    m4, m5 = (k % 4).cast("int"), (k % 5).cast("int")
    xsd = "http://www.w3.org/2001/XMLSchema#"
    dt = (
        F.when(m4 == 0, F.lit(xsd + "integer"))
        .when(m4 == 1, F.lit(xsd + "decimal"))
        .when(m4 == 2, F.lit(xsd + "boolean"))
        .otherwise(F.lit(xsd + "date"))
    )
    lex = (
        F.when(m4 == 0,
               F.when(m5 == 0, F.lit("42")).when(m5 == 1, F.lit("007"))
               .when(m5 == 2, F.lit("+13")).when(m5 == 3, F.lit("-0"))
               .otherwise(F.lit("4a")))
        .when(m4 == 1,
              F.when(m5 == 0, F.lit("5.10")).when(m5 == 1, F.lit("00.50"))
              .when(m5 == 2, F.lit(".5")).when(m5 == 3, F.lit("5."))
              .otherwise(F.lit("1..2")))
        .when(m4 == 2,
              F.when(m5 == 0, F.lit("true")).when(m5 == 1, F.lit("false"))
              .when(m5 == 2, F.lit("1")).when(m5 == 3, F.lit("0"))
              .otherwise(F.lit("maybe")))
        .otherwise(
            F.when(m5 == 0, F.lit("2024-02-29")).when(m5 == 1, F.lit("2023-02-29"))
            .when(m5 == 2, F.lit("2024-13-01")).when(m5 == 3, F.lit("2024-01-02"))
            .otherwise(F.lit("24-1-2")))
    )
    t = cust.select(
        F.concat(F.lit("e:"), k.cast("string")).alias("s"),
        F.lit("p:val").alias("p"),
        lex.alias("obj"),
        dt.alias("obj_dt"),
    )
    return validate_literals(t).select(
        "s", "obj", "obj_dt", "dt_valid", "canonical"
    )


_ORACLE_R4["kg_datatype_validate"] = """
WITH base AS (
  SELECT c_custkey AS k, CAST(c_custkey % 4 AS INT) AS m4,
         CAST(c_custkey % 5 AS INT) AS m5
  FROM customer),
lex AS (
  SELECT 'e:' || CAST(k AS VARCHAR) AS s, 'p:val' AS p,
    CASE m4
      WHEN 0 THEN 'http://www.w3.org/2001/XMLSchema#integer'
      WHEN 1 THEN 'http://www.w3.org/2001/XMLSchema#decimal'
      WHEN 2 THEN 'http://www.w3.org/2001/XMLSchema#boolean'
      ELSE 'http://www.w3.org/2001/XMLSchema#date' END AS obj_dt,
    CASE m4
      WHEN 0 THEN CASE m5 WHEN 0 THEN '42' WHEN 1 THEN '007'
                          WHEN 2 THEN '+13' WHEN 3 THEN '-0' ELSE '4a' END
      WHEN 1 THEN CASE m5 WHEN 0 THEN '5.10' WHEN 1 THEN '00.50'
                          WHEN 2 THEN '.5' WHEN 3 THEN '5.' ELSE '1..2' END
      WHEN 2 THEN CASE m5 WHEN 0 THEN 'true' WHEN 1 THEN 'false'
                          WHEN 2 THEN '1' WHEN 3 THEN '0' ELSE 'maybe' END
      ELSE CASE m5 WHEN 0 THEN '2024-02-29' WHEN 1 THEN '2023-02-29'
                   WHEN 2 THEN '2024-13-01' WHEN 3 THEN '2024-01-02'
                   ELSE '24-1-2' END END AS obj,
    m4 FROM base),
checked AS (
  SELECT s, obj, obj_dt, m4,
    CASE m4
      WHEN 0 THEN regexp_matches(obj, '^[+-]?[0-9]+$')
      WHEN 1 THEN regexp_matches(obj, '^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)$')
      WHEN 2 THEN regexp_matches(obj, '^(true|false|1|0)$')
      ELSE regexp_matches(obj, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
           AND TRY_CAST(obj AS DATE) IS NOT NULL END AS dt_valid
  FROM lex),
canon AS (
  SELECT s, obj, obj_dt, dt_valid, m4,
    CASE m4
      WHEN 0 THEN
        CASE WHEN regexp_replace(regexp_replace(obj, '^\\+', ''),
                                 '^(-?)0+([0-9])', '\\1\\2') = '-0' THEN '0'
             ELSE regexp_replace(regexp_replace(obj, '^\\+', ''),
                                 '^(-?)0+([0-9])', '\\1\\2') END
      WHEN 1 THEN
        CASE WHEN c2.step4 = '-0' THEN '0' ELSE c2.step4 END
      WHEN 2 THEN CASE WHEN obj IN ('true', '1') THEN 'true' ELSE 'false' END
      ELSE obj END AS canonical
  FROM checked,
  LATERAL (
    SELECT regexp_replace(
             CASE WHEN contains(step2, '.')
                  THEN regexp_replace(step2, '(\\.[0-9]*?)0+$', '\\1')
                  ELSE step2 END,
             '\\.$', '') AS step4
    FROM (
      SELECT regexp_replace(
               regexp_replace(
                 regexp_replace(regexp_replace(obj, '^\\+', ''), '^\\.', '0.'),
                 '^-\\.', '-0.'),
               '^(-?)0+([0-9])', '\\1\\2') AS step2)
  ) c2)
SELECT s, obj, obj_dt, dt_valid,
       CASE WHEN dt_valid THEN canonical END AS canonical
FROM canon
"""


def q_web_mirror_hosts(spark, sf_dir):
    """Mirror-site detection (operators/crawl.py::mirror_hosts) — host
    pairs whose content-hash sets overlap above a Jaccard threshold,
    the crawl-budget lever per-document dedup can't be (a mirror is
    waste BEFORE you fetch it). Deterministic mirror structure from
    the documents table: host h(doc_id%10) holds shared contents
    {c : c ≡ h (mod 5)} (so h and h+5 are exact content twins — the
    mod-10/mod-25 residue construction guarantees it at every SF)
    plus 3 host-unique contents, giving the twins Jaccard
    100·5/(8+8−5) = 45% and every other pair 0; threshold 40 keeps
    exactly the five (h, h+5) pairs. Pair generation goes through the
    df-capped inverted hash index (never hosts²); the oracle rebuilds
    the same sets and algebra in SQL."""
    from rdf_diff_store_spark.operators.crawl import mirror_hosts

    docs = load_table(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 10).cast("string"))
    shared = F.concat(F.lit("c:"), (F.col("doc_id") % 25).cast("string"))
    uniq = F.concat(
        F.lit("u:"), host, F.lit(":"), (F.col("doc_id") % 3).cast("string")
    )
    pages = docs.select(host.alias("host"), F.md5(shared).alias("content_hash")).unionByName(
        docs.select(host.alias("host"), F.md5(uniq).alias("content_hash"))
    )
    return mirror_hosts(pages, min_jaccard_pct=40)


_ORACLE_R4["web_mirror_hosts"] = """
WITH hh AS (
  SELECT DISTINCT 'h' || CAST(doc_id % 10 AS VARCHAR) AS h,
         md5('c:' || CAST(doc_id % 25 AS VARCHAR)) AS x
  FROM documents
  UNION
  SELECT DISTINCT 'h' || CAST(doc_id % 10 AS VARCHAR),
         md5('u:h' || CAST(doc_id % 10 AS VARCHAR) || ':'
             || CAST(doc_id % 3 AS VARCHAR))
  FROM documents),
sizes AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n FROM hh GROUP BY h),
pairs AS (
  SELECT a.h AS host_a, b.h AS host_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM hh a JOIN hh b ON a.x = b.x AND a.h < b.h
  GROUP BY a.h, b.h)
SELECT host_a, host_b, shared, sa.n AS size_a, sb.n AS size_b,
       CAST(floor(100.0 * shared / (sa.n + sb.n - shared)) AS INT) AS jaccard_pct
FROM pairs
JOIN sizes sa ON sa.h = host_a
JOIN sizes sb ON sb.h = host_b
WHERE floor(100.0 * shared / (sa.n + sb.n - shared)) >= 40
"""


def q_kg_entail_delta(spark, sf_dir):
    """Incremental (semi-naive) entailment maintenance
    (operators/entailment.py::rdfs_entail_delta) — derive ONLY the new
    inferences when a batch of triples lands on an already-materialized
    closure, never re-deriving the corpus (the reference's 60 s push
    cycle, src/bin/rdf-diff-writer.rs:45-91, made viable for a
    materialized store). Schema: works_at has domain Person, Person ⊑
    Agent; A-box: every customer works_at an org, customers split into
    the OLD store (k%3≠0, closed up front) and the DELTA batch (k%3=0).
    The delta derivation runs over delta+schema only; the anti-join
    against the old closure removes the re-derived schema rows, so the
    result is exactly three rows per delta entity (the fact, the
    domain-minted type, the inherited supertype) — which the oracle
    states in closed form. Pytest pins closure(old)∪delta-result ≡
    closure(all)."""
    from rdf_diff_store_spark.operators.entailment import (
        rdfs_entail_delta,
        rdfs_entailment,
    )

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    schema_rows = spark.createDataFrame(
        [
            ("p:works_at", "rdfs:domain", "class:Person"),
            ("class:Person", "rdfs:subClassOf", "class:Agent"),
        ],
        ["s", "p", "o"],
    )
    fact = lambda df: df.select(  # noqa: E731
        F.concat(F.lit("cust:"), k.cast("string")).alias("s"),
        F.lit("p:works_at").alias("p"),
        F.concat(F.lit("org:"), (k % 50).cast("string")).alias("o"),
    )
    old = fact(cust.filter(k % 3 != 0)).unionByName(schema_rows)
    delta = fact(cust.filter(k % 3 == 0))
    closure = rdfs_entailment(old)
    return rdfs_entail_delta(closure, delta)


_ORACLE_R4["kg_entail_delta"] = """
WITH delta_k AS (
  SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0)
SELECT 'cust:' || CAST(k AS VARCHAR) AS s, 'p:works_at' AS p,
       'org:' || CAST(k % 50 AS VARCHAR) AS o
FROM delta_k
UNION ALL
SELECT 'cust:' || CAST(k AS VARCHAR), 'rdf:type', 'class:Person' FROM delta_k
UNION ALL
SELECT 'cust:' || CAST(k AS VARCHAR), 'rdf:type', 'class:Agent' FROM delta_k
"""


def q_kg_jsonld_extract(spark, sf_dir):
    """Embedded schema.org JSON-LD extraction (operators/structured.py::
    extract_jsonld) — the Web Data Commons triple-extraction stage over
    Common-Crawl-style pages, UPSTREAM of the reference's entire store
    path (src/graphs.rs:30-61 ingests already-materialized RDF; on the
    open web that RDF comes out of exactly these script blocks). Pages
    are rendered from `documents` with a REAL JSON-LD block inside real
    markup plus the body text; extraction then runs the production
    path end-to-end: JVM contains-prefilter + regexp block slicing,
    ONE Arrow mapInPandas hop (stdlib json), depth-first flattening
    with @context vocabulary expansion and deterministic per-page
    blank labels (the nested author node → _:b0). The oracle rebuilds
    every expected triple closed-form from the same document columns,
    so drift anywhere — slicing regex, JSON parse, term expansion,
    @type handling, literal lexical forms, blank allocation — breaks
    the hash. Map-only, zero shuffles: embarrassingly parallel at
    10^12 pages, with no-markup pages filtered JVM-side."""
    from rdf_diff_store_spark.operators.structured import extract_jsonld

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    block = F.format_string(
        '{"@context":"https://schema.org",'
        '"@id":"https://docs.example.org/%s","@type":"Article",'
        '"name":"doc %s","inLanguage":"%s","wordCount":%s,'
        '"author":{"@type":"Person","name":"author %s"},'
        '"keywords":["k%s","k%s"]}',
        d,
        d,
        F.col("lang"),
        F.col("n_chars").cast("string"),
        F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
        F.pmod(F.col("doc_id"), F.lit(5)).cast("string"),
    )
    pages = docs.select(
        F.concat(F.lit("https://docs.example.org/"), d).alias("url"),
        F.concat(
            F.lit(
                "<html><head><title>d</title>"
                '<script type="application/ld+json">'
            ),
            block,
            F.lit("</script></head><body><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    return extract_jsonld(pages)


_ORACLE_R4["kg_jsonld_extract"] = """
WITH p AS (
  SELECT 'https://docs.example.org/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, lang, n_chars
  FROM documents)
SELECT url, url AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       'https://schema.org/Article' AS obj,
       CAST(NULL AS VARCHAR) AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang FROM p
UNION ALL SELECT url, url, 'https://schema.org/name',
       'doc ' || CAST(doc_id AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, url, 'https://schema.org/inLanguage', lang,
       'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, url, 'https://schema.org/wordCount',
       CAST(n_chars AS VARCHAR),
       'http://www.w3.org/2001/XMLSchema#integer', CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, url, 'https://schema.org/author', '_:b0',
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, '_:b0',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'https://schema.org/Person', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, '_:b0', 'https://schema.org/name',
       'author ' || CAST(doc_id % 7 AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, url, 'https://schema.org/keywords',
       'k' || CAST(doc_id % 3 AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, url, 'https://schema.org/keywords',
       'k' || CAST(doc_id % 5 AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM p
"""


def q_kg_skolemize(spark, sf_dir):
    """Skolemization of extractor output (operators/structured.py::
    skolemize) — RDF 1.1 Concepts §3.5: the per-page blank labels the
    extractors mint (`_:b0` on EVERY page with a nested author node)
    are document-scoped, so unioning two pages' triples into one store
    (the WDC dump / the reference's changelog, src/graphs.rs:30-61)
    would silently merge distinct resources. Skolemizing to
    `/.well-known/genid/md5(url || ' ' || label)` gives every blank
    node a globally unique, deterministic IRI with NO coordination —
    pure JVM md5/concat/when column math appended to the map-only
    extraction plan (still ZERO shuffles end-to-end). The oracle
    recomputes the same md5 over the closed-form triple set, so a
    drift in scoping, the gate (literals whose lexical form is `_:…`
    must pass through), or the hash input breaks value parity."""
    from rdf_diff_store_spark.operators.structured import skolemize

    return skolemize(q_kg_jsonld_extract(spark, sf_dir))


_ORACLE_R4["kg_skolemize"] = """
WITH p AS (
  SELECT 'https://docs.example.org/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, lang, n_chars
  FROM documents),
sk AS (
  SELECT url,
         'https://w3id.org/.well-known/genid/' || md5(url || ' _:b0') AS b0,
         doc_id, lang, n_chars
  FROM p)
SELECT url, url AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       'https://schema.org/Article' AS obj,
       CAST(NULL AS VARCHAR) AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang FROM sk
UNION ALL SELECT url, url, 'https://schema.org/name',
       'doc ' || CAST(doc_id AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, url, 'https://schema.org/inLanguage', lang,
       'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, url, 'https://schema.org/wordCount',
       CAST(n_chars AS VARCHAR),
       'http://www.w3.org/2001/XMLSchema#integer', CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, url, 'https://schema.org/author', b0,
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, b0,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'https://schema.org/Person', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, b0, 'https://schema.org/name',
       'author ' || CAST(doc_id % 7 AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, url, 'https://schema.org/keywords',
       'k' || CAST(doc_id % 3 AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, url, 'https://schema.org/keywords',
       'k' || CAST(doc_id % 5 AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM sk
"""


def q_kg_table_extract(spark, sf_dir):
    """WebTables relation extraction (operators/tables.py) — HTML
    ``<table>`` markup lifted into typed triples, the third
    structured-data channel after JSON-LD/microdata/RDFa (Cafarella
    et al. VLDB 2008; the WDC Web Table Corpus path feeding KG
    construction upstream of the reference's store,
    src/graphs.rs:30-61). Pages are rendered from `documents` with a
    REAL table (th header row incl. a colspan-2 group header, an
    empty cell, an integer column); the production chain then runs
    end-to-end: JVM ``<table`` prefilter → ONE Arrow mapInPandas parse
    (stdlib html.parser: first-row-all-th header detection, colspan
    expansion, whitespace collapse) → pure-JVM lift (header slugging,
    xsd:integer lexical sniff, empty-cell drop, per-page ``_:tTrR``
    row entities ready for skolemize). The oracle rebuilds every
    triple closed-form from the same document columns, so drift in
    header detection, colspan math, slugging, typing, or the
    empty-cell rule breaks the hash. Map-only, zero extra shuffles."""
    from rdf_diff_store_spark.operators.tables import (
        extract_table_cells,
        table_cells_to_triples,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    table = F.format_string(
        "<table><tr><th>Name</th><th colspan=\"2\">Stats Group</th>"
        "<th>Lang Tag</th></tr>"
        "<tr><td>doc %s</td><td>%s</td><td>%s</td><td>%s</td></tr>"
        "<tr><td>alt %s</td><td></td><td>x%s</td><td>en</td></tr></table>",
        d,
        F.col("n_chars").cast("string"),
        F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
        F.col("lang"),
        F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.pmod(F.col("doc_id"), F.lit(13)).cast("string"),
    )
    pages = docs.select(
        F.concat(F.lit("https://docs.example.org/"), d).alias("url"),
        F.concat(
            F.lit("<html><body><h1>t</h1>"),
            table,
            F.lit("<p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    return table_cells_to_triples(extract_table_cells(pages))


_ORACLE_R4["kg_table_extract"] = """
WITH p AS (
  SELECT 'https://docs.example.org/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, lang, n_chars
  FROM documents),
xsd AS (
  SELECT 'http://www.w3.org/2001/XMLSchema#string' AS s,
         'http://www.w3.org/2001/XMLSchema#integer' AS i)
-- row 0: (Name, Stats Group, Stats Group, Lang Tag) = (doc N, n_chars, N%97, lang)
SELECT url, '_:t0r0' AS subj, 'https://schema.org/name' AS pred,
       'doc ' || CAST(doc_id AS VARCHAR) AS obj,
       (SELECT s FROM xsd) AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang FROM p
UNION ALL SELECT url, '_:t0r0', 'https://schema.org/stats_group',
       CAST(n_chars AS VARCHAR), (SELECT i FROM xsd), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, '_:t0r0', 'https://schema.org/stats_group',
       CAST(doc_id % 97 AS VARCHAR), (SELECT i FROM xsd), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, '_:t0r0', 'https://schema.org/lang_tag', lang,
       (SELECT s FROM xsd), CAST(NULL AS VARCHAR) FROM p
-- row 1: empty Stats cell drops; 'alt N%7' is a string; 'xN%13' string; 'en' string
UNION ALL SELECT url, '_:t0r1', 'https://schema.org/name',
       'alt ' || CAST(doc_id % 7 AS VARCHAR), (SELECT s FROM xsd), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, '_:t0r1', 'https://schema.org/stats_group',
       'x' || CAST(doc_id % 13 AS VARCHAR), (SELECT s FROM xsd), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, '_:t0r1', 'https://schema.org/lang_tag', 'en',
       (SELECT s FROM xsd), CAST(NULL AS VARCHAR) FROM p
"""


def _fusion_claims(spark, sf_dir):
    """Synthetic multi-source claim table: 17 sources × 29 entities
    asserting schema.org/name with 3 conflicting values determined by
    (source + entity) mod 3 — every entity is contested, every source
    both right and wrong somewhere (the Knowledge Vault input shape)."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    return docs.select(
        F.concat(F.lit("s"), (d % 17).cast("string")).alias("source"),
        F.concat(F.lit("e"), (d % 29).cast("string")).alias("subj"),
        F.lit("https://schema.org/name").alias("pred"),
        F.concat(F.lit("v"), ((d % 17 + d % 29) % 3).cast("string")).alias("obj"),
    )


_FUSION_CLAIMS_CTE = """
c AS (
  SELECT DISTINCT 's' || CAST(doc_id % 17 AS VARCHAR) AS source,
         'e' || CAST(doc_id % 29 AS VARCHAR) AS subj,
         'https://schema.org/name' AS pred,
         'v' || CAST((doc_id % 17 + doc_id % 29) % 3 AS VARCHAR) AS obj
  FROM documents)"""


def q_kg_web_ingest(spark, sf_dir):
    """THE kg_construct composition, end-to-end under one oracle:
    Common-Crawl-style pages carrying BOTH an embedded schema.org
    JSON-LD block and OpenGraph head metas → multi-format extraction
    (`structured.extract_jsonld` ∪ `extract_rdfa`) → vocabulary
    alignment (`vocab.align_predicates`, og:→schema.org) →
    skolemization (`structured.skolemize`, the per-page `_:b0` author
    nodes become genid IRIs) → per-page Turtle serialization
    (`turtle.serialize_graph`) → versioned-store ingest
    (`versioned.canonical_changelog_row` — the reference's whole write
    path, src/graphs.rs:35-79) → `snapshot_triples` as-of a later
    timestamp. The oracle rebuilds the final snapshot closed-form, so
    drift ANYWHERE in the chain — extraction, mapping, skolem hashing,
    Turtle escape/canonicalize/parse roundtrip, changelog semantics,
    as-of resolution — breaks the hash. Every stage is the production
    operator, not a test double; plan: two map-only Arrow extraction
    hops, broadcast mapping join, one serialize aggregation, one
    latest-wins aggregation, one parse hop."""
    from rdf_diff_store_spark.functions.turtle import serialize_graph
    from rdf_diff_store_spark.operators.structured import (
        extract_jsonld,
        extract_rdfa,
        skolemize,
    )
    from rdf_diff_store_spark.operators.versioned import (
        canonical_changelog_row,
        snapshot_triples,
    )
    from rdf_diff_store_spark.operators.vocab import align_predicates, og_mapping

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    url = F.concat(F.lit("https://docs.example.org/"), d)
    block = F.format_string(
        '{"@context":"https://schema.org",'
        '"@id":"https://docs.example.org/%s#it","@type":"Article",'
        '"name":"doc %s","wordCount":%s,'
        '"author":{"@type":"Person","name":"author %s"}}',
        d,
        d,
        F.col("n_chars").cast("string"),
        F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
    )
    pages = docs.select(
        url.alias("url"),
        F.concat(
            # html-level lang: the og: metas' literals must come out
            # language-tagged and SURVIVE the Turtle roundtrip as @lang
            F.format_string('<html lang="%s"><head>', F.col("lang")),
            F.format_string(
                '<meta property="og:title" content="doc %s">'
                '<meta property="og:locale" content="%s">',
                d,
                F.col("lang"),
            ),
            F.lit('<script type="application/ld+json">'),
            block,
            F.lit("</script></head><body><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    triples = skolemize(
        align_predicates(
            extract_jsonld(pages).unionByName(extract_rdfa(pages)),
            og_mapping(spark),
        )
    )
    updates = serialize_graph(
        triples.withColumnRenamed("url", "graph_id")
    ).select(
        "graph_id",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit("store").alias("op"),
        F.col("doc").alias("payload"),
    )
    changelog = canonical_changelog_row(updates)
    return snapshot_triples(changelog, "2024-06-01 00:00:00").select(
        "graph_id", "subj", "pred", "obj", "obj_dt", "obj_lang"
    )


_ORACLE_R4["kg_web_ingest"] = """
WITH p AS (
  SELECT 'https://docs.example.org/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, lang, n_chars
  FROM documents),
sk AS (
  SELECT url, url || '#it' AS it,
         'https://w3id.org/.well-known/genid/' || md5(url || ' _:b0') AS b0,
         doc_id, lang, n_chars
  FROM p),
xsd AS (SELECT 'http://www.w3.org/2001/XMLSchema#string' AS s,
               'http://www.w3.org/2001/XMLSchema#integer' AS i)
SELECT url AS graph_id, it AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       'https://schema.org/Article' AS obj,
       CAST(NULL AS VARCHAR) AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang FROM sk
UNION ALL SELECT url, it, 'https://schema.org/name',
       'doc ' || CAST(doc_id AS VARCHAR), (SELECT s FROM xsd), CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, it, 'https://schema.org/wordCount',
       CAST(n_chars AS VARCHAR), (SELECT i FROM xsd), CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, it, 'https://schema.org/author', b0,
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, b0, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'https://schema.org/Person', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, b0, 'https://schema.org/name',
       'author ' || CAST(doc_id % 7 AS VARCHAR), (SELECT s FROM xsd), CAST(NULL AS VARCHAR) FROM sk
UNION ALL SELECT url, url, 'https://schema.org/name',
       'doc ' || CAST(doc_id AS VARCHAR), CAST(NULL AS VARCHAR), lang FROM sk
UNION ALL SELECT url, url, 'https://schema.org/inLanguage', lang,
       CAST(NULL AS VARCHAR), lang FROM sk
"""


def q_kg_recrawl_diff(spark, sf_dir):
    """Re-crawl RDF diff — the reference's reason to exist
    (rdf-diff-store tracks how published RDF changes over time;
    src/graphs.rs:35-93 store/delete + the git diff contract) run over
    the WEB path end-to-end: crawl 1 extracts JSON-LD from every page;
    crawl 2 re-extracts a month later with every third page's
    wordCount bumped and every seventh page GONE (tombstoned); both
    crawls serialize through the production Turtle writer into one
    changelog, and `versioned.diff` computes the triple-level
    added/removed set between the two crawl instants. Exercises the
    full dual-state machinery: unchanged pages prune on content-hash
    equality (never parsed), changed pages parse BOTH sides in ONE
    mapInPandas pass, tombstones remove whole graphs. The oracle
    derives every added/removed row arithmetically from the doc_id
    formulas."""
    from rdf_diff_store_spark.functions.turtle import serialize_graph
    from rdf_diff_store_spark.operators.structured import extract_jsonld
    from rdf_diff_store_spark.operators.versioned import (
        canonical_changelog_row,
        diff,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    url = F.concat(F.lit("https://docs.example.org/"), d)

    def render(wc):
        block = F.format_string(
            '{"@context":"https://schema.org",'
            '"@id":"https://docs.example.org/%s#it","@type":"Article",'
            '"name":"doc %s","wordCount":%s}',
            d,
            d,
            wc.cast("string"),
        )
        return F.concat(
            F.lit('<html><head><script type="application/ld+json">'),
            block,
            F.lit("</script></head><body></body></html>"),
        )

    def to_updates(pages, ts):
        return serialize_graph(
            extract_jsonld(pages).withColumnRenamed("url", "graph_id")
        ).select(
            "graph_id",
            F.lit(ts).cast("timestamp").alias("ts"),
            F.lit("store").alias("op"),
            F.col("doc").alias("payload"),
        )

    crawl1 = docs.select(url.alias("url"), render(F.col("n_chars")).alias("html"))
    wc2 = F.col("n_chars") + F.when(F.col("doc_id") % 3 == 0, 1).otherwise(0)
    crawl2 = docs.filter(F.col("doc_id") % 7 != 0).select(
        url.alias("url"), render(wc2).alias("html")
    )
    gone = docs.filter(F.col("doc_id") % 7 == 0).select(
        url.alias("graph_id"),
        F.lit("2024-02-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("payload"),
    )
    changelog = canonical_changelog_row(
        to_updates(crawl1, "2024-01-01 00:00:00")
        .unionByName(to_updates(crawl2, "2024-02-01 00:00:00"))
        .unionByName(gone)
    )
    return diff(changelog, "2024-01-15 00:00:00", "2024-02-15 00:00:00")


_ORACLE_R4["kg_recrawl_diff"] = """
WITH p AS (
  SELECT 'https://docs.example.org/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, n_chars
  FROM documents),
xsd AS (SELECT 'http://www.w3.org/2001/XMLSchema#string' AS s,
               'http://www.w3.org/2001/XMLSchema#integer' AS i)
-- tombstoned pages (doc_id % 7 = 0): every triple removed
SELECT url AS graph_id, url || '#it' AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       'https://schema.org/Article' AS obj,
       CAST(NULL AS VARCHAR) AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang,
       'removed' AS change
FROM p WHERE doc_id % 7 = 0
UNION ALL SELECT url, url || '#it', 'https://schema.org/name',
       'doc ' || CAST(doc_id AS VARCHAR), (SELECT s FROM xsd),
       CAST(NULL AS VARCHAR), 'removed'
FROM p WHERE doc_id % 7 = 0
UNION ALL SELECT url, url || '#it', 'https://schema.org/wordCount',
       CAST(n_chars AS VARCHAR), (SELECT i FROM xsd),
       CAST(NULL AS VARCHAR), 'removed'
FROM p WHERE doc_id % 7 = 0
-- changed pages (doc_id % 3 = 0, still alive): wordCount swaps
UNION ALL SELECT url, url || '#it', 'https://schema.org/wordCount',
       CAST(n_chars AS VARCHAR), (SELECT i FROM xsd),
       CAST(NULL AS VARCHAR), 'removed'
FROM p WHERE doc_id % 7 <> 0 AND doc_id % 3 = 0
UNION ALL SELECT url, url || '#it', 'https://schema.org/wordCount',
       CAST(n_chars + 1 AS VARCHAR), (SELECT i FROM xsd),
       CAST(NULL AS VARCHAR), 'added'
FROM p WHERE doc_id % 7 <> 0 AND doc_id % 3 = 0
"""


def q_kg_vocab_align(spark, sf_dir):
    """Vocabulary alignment (operators/vocab.py) — the WDC
    normalization pass between extraction and fusion: schema.org
    scheme/host variants (http, https, www) fold onto the canonical
    https://schema.org/ spelling in predicates AND rdf:type objects
    (literals untouched even when their text is a schema.org URL),
    then the curated OpenGraph→schema.org correspondence rewrites og:
    predicates by BROADCAST join with unmapped predicates passing
    through. The synthesized triple frame exercises every branch:
    og:title/og:locale (mapped), http:// and http://www. variants
    (folded), an rdf:type class IRI (folded), a literal that LOOKS
    like a schema.org URL (must not fold), and an unmapped og:
    predicate (passthrough). Triple side never shuffles — the only
    exchanges are the 6-row mapping's defensive distinct inside the
    broadcast build."""
    from rdf_diff_store_spark.operators.structured import RDF_TYPE
    from rdf_diff_store_spark.operators.vocab import (
        align_predicates,
        canonicalize_schema_org,
        og_mapping,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    url = F.concat(F.lit("https://docs.example.org/"), d)
    xs = "http://www.w3.org/2001/XMLSchema#string"
    xi = "http://www.w3.org/2001/XMLSchema#integer"

    def row(pred, obj, dt):
        return docs.select(
            url.alias("url"),
            url.alias("subj"),
            pred.alias("pred"),
            obj.alias("obj"),
            F.lit(dt).cast("string").alias("obj_dt"),
            F.lit(None).cast("string").alias("obj_lang"),
        )

    triples = (
        row(F.lit("http://ogp.me/ns#title"), F.concat(F.lit("doc "), d), xs)
        .unionByName(row(F.lit("http://ogp.me/ns#locale"), F.col("lang"), xs))
        .unionByName(
            row(F.lit(RDF_TYPE), F.lit("http://schema.org/Article"), None)
        )
        .unionByName(
            row(
                F.lit("http://www.schema.org/wordCount"),
                F.col("n_chars").cast("string"),
                xi,
            )
        )
        .unionByName(
            # literal whose TEXT is a schema.org URL: must NOT fold
            row(F.lit("https://schema.org/disambiguatingDescription"),
                F.lit("http://schema.org/Person"), xs)
        )
        .unionByName(row(F.lit("http://ogp.me/ns#determiner"), F.lit("the"), xs))
    )
    return align_predicates(
        canonicalize_schema_org(triples), og_mapping(spark)
    )


_ORACLE_R4["kg_vocab_align"] = """
WITH p AS (
  SELECT 'https://docs.example.org/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, lang, n_chars
  FROM documents),
xsd AS (SELECT 'http://www.w3.org/2001/XMLSchema#string' AS s,
               'http://www.w3.org/2001/XMLSchema#integer' AS i)
SELECT url, url AS subj, 'https://schema.org/name' AS pred,
       'doc ' || CAST(doc_id AS VARCHAR) AS obj,
       (SELECT s FROM xsd) AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang FROM p
UNION ALL SELECT url, url, 'https://schema.org/inLanguage', lang,
       (SELECT s FROM xsd), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, url, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'https://schema.org/Article', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, url, 'https://schema.org/wordCount',
       CAST(n_chars AS VARCHAR), (SELECT i FROM xsd), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, url, 'https://schema.org/disambiguatingDescription',
       'http://schema.org/Person', (SELECT s FROM xsd), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, url, 'http://ogp.me/ns#determiner', 'the',
       (SELECT s FROM xsd), CAST(NULL AS VARCHAR) FROM p
"""


def _void_triples(spark, sf_dir):
    """Closed-form triple set: 29 entities, 4 classes, a contested
    name value and a knows ring — duplicates on purpose (a graph is a
    SET; the operators must dedupe)."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    e = F.concat(F.lit("e"), (d % 29).cast("string"))
    rt = F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
    types = docs.select(
        e.alias("subj"),
        rt.alias("pred"),
        F.concat(F.lit("https://schema.org/C"), (d % 29 % 4).cast("string")).alias("obj"),
    )
    names = docs.select(
        e.alias("subj"),
        F.lit("https://schema.org/name").alias("pred"),
        F.concat(F.lit("v"), ((d % 17 + d % 29) % 3).cast("string")).alias("obj"),
    )
    knows = docs.select(
        e.alias("subj"),
        F.lit("https://schema.org/knows").alias("pred"),
        F.concat(F.lit("e"), ((d % 29 + 1) % 29).cast("string")).alias("obj"),
    )
    return types.unionByName(names).unionByName(knows)


_VOID_TRIPLES_CTE = """
t AS (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT 'e' || CAST(doc_id % 29 AS VARCHAR) AS subj,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
           'https://schema.org/C' || CAST(doc_id % 29 % 4 AS VARCHAR) AS obj
    FROM documents
    UNION ALL
    SELECT 'e' || CAST(doc_id % 29 AS VARCHAR),
           'https://schema.org/name',
           'v' || CAST((doc_id % 17 + doc_id % 29) % 3 AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'e' || CAST(doc_id % 29 AS VARCHAR),
           'https://schema.org/knows',
           'e' || CAST((doc_id % 29 + 1) % 29 AS VARCHAR)
    FROM documents))"""


def q_web_feed_entries(spark, sf_dir):
    """RSS/Atom feed extraction (functions/text.py::feed_entries) —
    the crawl-discovery channel next to sitemaps: feeds announce new
    urls WITH timestamps, so the recrawl scheduler reads them first.
    Every third feed is Atom (title + link@href + updated), the rest
    RSS 2.0 (title element text + pubDate) with CDATA-wrapped titles;
    entirely whole-stage codegen (nested regexp transform over the
    block array), zero Python, zero shuffles. The oracle rebuilds
    every entry arithmetically."""
    from rdf_diff_store_spark.functions.text import feed_entries

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    rss = F.format_string(
        "<rss><channel><title>chan</title>"
        "<item><title><![CDATA[post %s]]></title>"
        "<link>https://x.org/%s/1</link>"
        "<pubDate>day %s</pubDate></item>"
        "<item><title>second %s</title><link>https://x.org/%s/2</link></item>"
        "</channel></rss>",
        ds,
        ds,
        F.pmod(d, F.lit(28)).cast("string"),
        ds,
        ds,
    )
    atom = F.format_string(
        '<feed><title>chan</title><entry><title>a %s</title>'
        '<link rel="alternate" href="https://y.org/%s"/>'
        "<updated>2024-02-%s</updated></entry></feed>",
        ds,
        ds,
        F.lpad((F.pmod(d, F.lit(28)) + 1).cast("string"), 2, "0"),
    )
    feeds = docs.select(
        F.concat(F.lit("https://feeds.example.org/"), ds).alias("feed_url"),
        F.when(d % 3 == 0, atom).otherwise(rss).alias("xml"),
    )
    return feed_entries(feeds)


_ORACLE_R4["web_feed_entries"] = """
WITH p AS (
  SELECT 'https://feeds.example.org/' || CAST(doc_id AS VARCHAR) AS feed_url,
         doc_id FROM documents)
SELECT feed_url, 'a ' || CAST(doc_id AS VARCHAR) AS title,
       'https://y.org/' || CAST(doc_id AS VARCHAR) AS link,
       '2024-02-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS published
FROM p WHERE doc_id % 3 = 0
UNION ALL
SELECT feed_url, 'post ' || CAST(doc_id AS VARCHAR),
       'https://x.org/' || CAST(doc_id AS VARCHAR) || '/1',
       'day ' || CAST(doc_id % 28 AS VARCHAR)
FROM p WHERE doc_id % 3 <> 0
UNION ALL
SELECT feed_url, 'second ' || CAST(doc_id AS VARCHAR),
       'https://x.org/' || CAST(doc_id AS VARCHAR) || '/2',
       CAST(NULL AS VARCHAR)
FROM p WHERE doc_id % 3 <> 0
"""


def q_web_page_metadata(spark, sf_dir):
    """Head-metadata extraction (functions/text.py::page_metadata) —
    title, meta description (BOTH attribute orders rendered), and the
    robots noindex admission gate, entirely whole-stage codegen: zero
    Python, zero shuffles, the cheapest extraction pass at 10^12
    pages. Every third page writes content-before-name order, every
    fourth page is noindex (one of them 'none'), every fifth omits the
    description; the oracle derives all four columns arithmetically."""
    from rdf_diff_store_spark.functions.text import page_metadata

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    desc = (
        F.when(d % 5 == 0, F.lit(""))
        .when(
            d % 3 == 0,
            F.format_string('<meta content="summary %s" name="description">', ds),
        )
        .otherwise(
            F.format_string('<meta name="description" content="summary %s">', ds)
        )
    )
    robots = (
        F.when(d % 12 == 0, F.lit('<meta name="robots" content="none">'))
        .when(d % 4 == 0, F.lit('<meta name="ROBOTS" content="noindex, follow">'))
        .otherwise(F.lit('<meta name="robots" content="index, follow">'))
    )
    pages = docs.select(
        F.concat(F.lit("https://docs.example.org/"), ds).alias("url"),
        F.concat(
            F.lit("<html><head><title>  Doc\n"),
            ds,
            F.lit(" </title>"),
            desc,
            robots,
            F.lit("</head><body><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    return page_metadata(pages)


_ORACLE_R4["web_page_metadata"] = """
SELECT 'https://docs.example.org/' || CAST(doc_id AS VARCHAR) AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       CASE WHEN doc_id % 5 = 0 THEN NULL
            ELSE 'summary ' || CAST(doc_id AS VARCHAR) END AS description,
       doc_id % 4 = 0 AS noindex
FROM documents
"""


def q_kg_void_summary(spark, sf_dir):
    """VoID dataset summary (operators/void_stats.py::void_summary;
    W3C VoID note §4.3) — the one-row statistical self-description a
    published dataset carries (the reference serves datasets,
    src/graphs.rs:30-61; VoID is how the web describes them) and the
    cardinality source a SPARQL planner estimates selectivity from.
    Input carries duplicates on purpose: a graph is a SET, the operator
    dedupes first. Multi-distinct compiles to ONE Expand +
    partial-aggregation pass, never per-count rescans."""
    from rdf_diff_store_spark.operators.void_stats import void_summary

    return void_summary(_void_triples(spark, sf_dir))


_ORACLE_R4["kg_void_summary"] = (
    "WITH "
    + _VOID_TRIPLES_CTE.strip()
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_distinct_subjects,
       CAST(COUNT(DISTINCT pred) AS BIGINT) AS n_properties,
       CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_distinct_objects,
       CAST(COUNT(DISTINCT CASE WHEN pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' THEN obj END) AS BIGINT) AS n_classes,
       CAST(COUNT(DISTINCT CASE WHEN pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' THEN subj END) AS BIGINT) AS n_entities
FROM t"""
)


def q_kg_void_props(spark, sf_dir):
    """void:propertyPartition (operators/void_stats.py::
    property_partitions) — per-predicate triple / distinct-subject /
    distinct-object counts, the predicate-selectivity table. Hot
    predicates (rdf:type) are absorbed by partial aggregation."""
    from rdf_diff_store_spark.operators.void_stats import property_partitions

    return property_partitions(_void_triples(spark, sf_dir))


_ORACLE_R4["kg_void_props"] = (
    "WITH "
    + _VOID_TRIPLES_CTE.strip()
    + """
SELECT pred,
       CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_distinct_subjects,
       CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_distinct_objects
FROM t GROUP BY pred"""
)


def q_kg_transe_round(spark, sf_dir):
    """KG-embedding training (operators/embed.py — full-batch integer
    TransE, Bordes et al. 2013): one training round over a 29-entity /
    2-relation closed-form KG (a knows-ring and a likes-ring), dim 4,
    md5 init, md5-picked corrupt tails, margin hinge, division-free
    multiply-add updates, sign-safe div-by-max renorm. Output = BOTH
    parameter tables ((kind, id, d, v) exploded rows — the parameter-
    server sharding made relational). The oracle unrolls the entire
    round in scalar SQL: init, negative pick, per-dim difference,
    hinge activation, gradient sums, update, renorm — drift in any
    stage breaks bit-exactness. The same update rule is additionally
    pinned against an independent pure-Python reference for TWO rounds
    in tests/test_embed.py."""
    from rdf_diff_store_spark.operators.embed import transe_train

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    e = lambda expr: F.concat(F.lit("e"), expr.cast("string"))  # noqa: E731
    knows = docs.select(
        e(d % 29).alias("h"), F.lit("knows").alias("r"), e((d % 29 + 1) % 29).alias("t")
    )
    likes = docs.select(
        e(d % 29).alias("h"),
        F.lit("likes").alias("r"),
        e(((d % 29) * 7 + 3) % 29).alias("t"),
    )
    ent, rel = transe_train(
        knows.unionByName(likes),
        dim=4,
        iterations=1,
        margin=1_000_000,
        step=1,
        n_neg_candidates=8,
    )
    out = ent.select(F.lit("ent").alias("kind"), "id", "d", "v").unionByName(
        rel.select(F.lit("rel").alias("kind"), "id", "d", "v")
    )
    return out.select("kind", "id", F.col("d").cast("long").alias("d"), "v")


_TRANSE_CTE = """
WITH tri AS (
  SELECT DISTINCT 'e' || CAST(doc_id % 29 AS VARCHAR) AS h, 'knows' AS r,
         'e' || CAST((doc_id % 29 + 1) % 29 AS VARCHAR) AS t
  FROM documents
  UNION ALL
  SELECT DISTINCT 'e' || CAST(doc_id % 29 AS VARCHAR), 'likes',
         'e' || CAST(((doc_id % 29) * 7 + 3) % 29 AS VARCHAR)
  FROM documents),
ents AS (SELECT h AS id FROM tri UNION SELECT t FROM tri),
rels AS (SELECT DISTINCT r AS id FROM tri),
e0 AS (
  SELECT id, CAST(r4.range AS BIGINT) AS d,
         (('0x' || substr(md5('ent:' || id || ':' || CAST(r4.range AS VARCHAR)), 1, 13))::BIGINT % 2001) - 1000 AS v
  FROM ents, range(4) r4),
r0 AS (
  SELECT id, CAST(r4.range AS BIGINT) AS d,
         (('0x' || substr(md5('rel:' || id || ':' || CAST(r4.range AS VARCHAR)), 1, 13))::BIGINT % 2001) - 1000 AS v
  FROM rels, range(4) r4),
cand AS (
  SELECT id, ROW_NUMBER() OVER (ORDER BY id) - 1 AS idx
  FROM (SELECT id FROM ents ORDER BY id LIMIT 8)),
trin AS (
  SELECT tri.h, tri.r, tri.t, c.id AS t_neg
  FROM tri JOIN cand c
    ON c.idx = ('0x' || substr(md5('neg|' || h || '|' || r || '|' || t), 1, 13))::BIGINT % 8),
g AS (
  SELECT trin.h, trin.r, trin.t, trin.t_neg, eh.d,
         eh.v + er.v - et.v  AS g,
         eh.v + er.v - etn.v AS g2
  FROM trin
  JOIN e0 eh  ON eh.id  = trin.h
  JOIN r0 er  ON er.id  = trin.r     AND er.d  = eh.d
  JOIN e0 et  ON et.id  = trin.t     AND et.d  = eh.d
  JOIN e0 etn ON etn.id = trin.t_neg AND etn.d = eh.d),
act AS (
  SELECT h, r, t, t_neg FROM g GROUP BY h, r, t, t_neg
  HAVING SUM(g*g) - SUM(g2*g2) + 1000000 > 0),
ga AS (SELECT g.* FROM g JOIN act USING (h, r, t, t_neg)),
egr AS (
  SELECT id, d, CAST(SUM(gr) AS BIGINT) AS grad FROM (
    SELECT h AS id, d, g - g2 AS gr FROM ga
    UNION ALL SELECT t, d, -g FROM ga
    UNION ALL SELECT t_neg, d, g2 FROM ga)
  GROUP BY id, d),
rgr AS (
  SELECT r AS id, d, CAST(SUM(g - g2) AS BIGINT) AS grad FROM ga GROUP BY r, d),
eupd AS (
  SELECT e0.id, e0.d, e0.v - 2 * COALESCE(grad, 0) AS v
  FROM e0 LEFT JOIN egr USING (id, d)),
rupd AS (
  SELECT r0.id, r0.d, r0.v - 2 * COALESCE(grad, 0) AS v
  FROM r0 LEFT JOIN rgr USING (id, d)),
es AS (SELECT GREATEST(CAST(1 AS BIGINT), MAX(ABS(v)) // 1000000) AS s FROM eupd),
rs AS (SELECT GREATEST(CAST(1 AS BIGINT), MAX(ABS(v)) // 1000000) AS s FROM rupd),
efin AS (
  SELECT id, d, CAST(CASE WHEN v < 0 THEN -((-v) // (SELECT s FROM es))
                          ELSE v // (SELECT s FROM es) END AS BIGINT) AS v
  FROM eupd),
rfin AS (
  SELECT id, d, CAST(CASE WHEN v < 0 THEN -((-v) // (SELECT s FROM rs))
                          ELSE v // (SELECT s FROM rs) END AS BIGINT) AS v
  FROM rupd)"""

_ORACLE_R4["kg_transe_round"] = (
    _TRANSE_CTE
    + """
SELECT 'ent' AS kind, id, d, v FROM efin
UNION ALL
SELECT 'rel', id, d, v FROM rfin
"""
)


def q_kg_link_prediction(spark, sf_dir):
    """Tail prediction over the trained embeddings (operators/
    embed.py::link_prediction) — the thing KG embeddings are FOR:
    for every distinct (h, r) of the knows/likes KG, rank the 8
    candidate tails by ‖h+r−t‖² after one training round and keep the
    top 3 (ties to the lexicographically smallest tail). Candidates
    ride a broadcast; the ranking window partitions by (h, r). The
    oracle extends the unrolled training-round CTE with the same
    cross-score + ROW_NUMBER ranking, so the ENTIRE chain — training
    round included — must match bit-for-bit."""
    from rdf_diff_store_spark.operators.embed import (
        link_prediction,
        transe_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    e = lambda expr: F.concat(F.lit("e"), expr.cast("string"))  # noqa: E731
    tri = docs.select(
        e(d % 29).alias("h"), F.lit("knows").alias("r"), e((d % 29 + 1) % 29).alias("t")
    ).unionByName(
        docs.select(
            e(d % 29).alias("h"),
            F.lit("likes").alias("r"),
            e(((d % 29) * 7 + 3) % 29).alias("t"),
        )
    )
    ent, rel = transe_train(
        tri, dim=4, iterations=1, margin=1_000_000, step=1, n_neg_candidates=8
    )
    ents = tri.select(F.col("h").alias("id")).unionByName(
        tri.select(F.col("t").alias("id"))
    )
    cands = ents.distinct().orderBy("id").limit(8)
    return link_prediction(tri.select("h", "r"), cands, ent, rel, k=3)


_ORACLE_R4["kg_link_prediction"] = (
    _TRANSE_CTE
    + """,
pairs AS (SELECT DISTINCT h, r FROM tri),
candt AS (SELECT p.h, p.r, c.id AS t FROM pairs p, cand c),
sc AS (
  SELECT c.h, c.r, c.t,
         CAST(SUM((eh.v + er.v - et.v) * (eh.v + er.v - et.v)) AS BIGINT) AS score
  FROM candt c
  JOIN efin eh ON eh.id = c.h
  JOIN rfin er ON er.id = c.r AND er.d = eh.d
  JOIN efin et ON et.id = c.t AND et.d = eh.d
  GROUP BY c.h, c.r, c.t),
rk AS (
  SELECT h, r, t, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY h, r
                                 ORDER BY score ASC, t ASC) AS INT) AS rank
  FROM sc)
SELECT h, r, t, score, rank FROM rk WHERE rank <= 3
"""
)


def q_kg_void_classes(spark, sf_dir):
    """void:classPartition (operators/void_stats.py::class_partitions)
    — per-class distinct-instance counts, the class-cardinality side
    of the VoID self-description (multi-typed entities count once per
    class)."""
    from rdf_diff_store_spark.operators.void_stats import class_partitions

    return class_partitions(_void_triples(spark, sf_dir))


_ORACLE_R4["kg_void_classes"] = (
    "WITH "
    + _VOID_TRIPLES_CTE.strip()
    + """
SELECT obj AS class_iri, CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_entities
FROM t WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
GROUP BY obj"""
)


def q_kg_fact_intervals(spark, sf_dir):
    """Temporal fact validity (operators/fusion.py::fact_intervals) —
    the temporal-KG reading of recrawl observations: maximal sighting
    runs with ≤3-day gaps become validity intervals, longer silences
    close them (session-gap algebra on facts). Observations derive
    from `events` as (user, did, event_type) sightings; timestamps
    leave as epoch-seconds BIGINT via the timezone-proof NTZ
    timestamp_diff (never a session-TZ cast). One window + one agg
    SHARING a single fact-key hash partitioning."""
    from rdf_diff_store_spark.operators.fusion import fact_intervals

    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("subj"),
        F.lit("did").alias("pred"),
        F.col("event_type").alias("obj"),
        F.col("ts"),
    )
    return fact_intervals(obs, gap_seconds=3 * 86400)


_ORACLE_R4["kg_fact_intervals"] = """
WITH o AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS subj, 'did' AS pred,
         event_type AS obj, epoch_us(ts) // 1000000 AS s
  FROM events),
f AS (
  SELECT subj, pred, obj, s,
         CASE WHEN s - LAG(s) OVER (PARTITION BY subj, pred, obj ORDER BY s)
                   > 259200 THEN 1 ELSE 0 END AS new_run
  FROM o),
r AS (
  SELECT subj, pred, obj, s,
         SUM(new_run) OVER (PARTITION BY subj, pred, obj ORDER BY s
                            ROWS UNBOUNDED PRECEDING) AS run
  FROM f)
SELECT subj, pred, obj,
       CAST(MIN(s) AS BIGINT) AS valid_from_s,
       CAST(MAX(s) AS BIGINT) AS valid_to_s,
       CAST(COUNT(*) AS BIGINT) AS n_obs
FROM r GROUP BY subj, pred, obj, run
"""


def q_kg_type_inference(spark, sf_dir):
    """SDType type inference (operators/type_inference.py; Paulheim &
    Bizer ISWC 2013) — weighted-vote typing of the untyped long tail:
    integer confidence weights (micro-units, non-negative div — the
    one division regime Spark and DuckDB agree on) learned from the
    typed population, broadcast to the scoring join, deterministic
    per-entity argmax. 29 typed entities over 4 classes and 5
    predicates, 11 untyped entities; the oracle re-runs the whole
    pipeline — weight learning included — in SQL."""
    from rdf_diff_store_spark.operators.type_inference import infer_types

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    e = F.concat(F.lit("e"), (d % 29).cast("string"))
    u = F.concat(F.lit("u"), (d % 11).cast("string"))
    p = F.concat(F.lit("p"), (d % 5).cast("string"))
    rt = F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
    tri = (
        docs.select(
            e.alias("subj"),
            rt.alias("pred"),
            F.concat(F.lit("C"), (d % 29 % 4).cast("string")).alias("obj"),
        )
        .unionByName(docs.select(e.alias("subj"), p.alias("pred"), F.lit("x").alias("obj")))
        .unionByName(docs.select(u.alias("subj"), p.alias("pred"), F.lit("y").alias("obj")))
    )
    return infer_types(tri)


_ORACLE_R4["kg_type_inference"] = """
WITH tri AS (
  SELECT DISTINCT 'e' || CAST(doc_id % 29 AS VARCHAR) AS subj,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
         'C' || CAST(doc_id % 29 % 4 AS VARCHAR) AS obj
  FROM documents
  UNION
  SELECT DISTINCT 'e' || CAST(doc_id % 29 AS VARCHAR),
         'p' || CAST(doc_id % 5 AS VARCHAR), 'x'
  FROM documents
  UNION
  SELECT DISTINCT 'u' || CAST(doc_id % 11 AS VARCHAR),
         'p' || CAST(doc_id % 5 AS VARCHAR), 'y'
  FROM documents),
typed AS (
  SELECT DISTINCT subj, obj AS cls FROM tri
  WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
pr AS (
  SELECT DISTINCT subj, pred FROM tri
  WHERE pred <> 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
n_p AS (SELECT pred, COUNT(DISTINCT subj) AS n_p FROM pr GROUP BY pred),
n_pc AS (
  SELECT pred, cls, COUNT(DISTINCT pr.subj) AS n_support
  FROM pr JOIN typed USING (subj) GROUP BY pred, cls),
w AS (
  SELECT pred, cls, CAST((1000000 * n_support) // n_p AS BIGINT) AS w_micro
  FROM n_pc JOIN n_p USING (pred)),
untyped AS (
  SELECT pr.subj, pr.pred FROM pr
  WHERE pr.subj NOT IN (SELECT subj FROM typed)),
scores AS (
  SELECT subj, cls,
         CAST(SUM(w_micro) AS BIGINT) AS score_micro,
         CAST(COUNT(*) AS BIGINT) AS n_evidence
  FROM untyped JOIN w USING (pred) GROUP BY subj, cls),
rk AS (
  SELECT subj, cls, score_micro, n_evidence,
         ROW_NUMBER() OVER (PARTITION BY subj
                            ORDER BY score_micro DESC, cls ASC) AS rn
  FROM scores)
SELECT subj, cls AS inferred_type, score_micro, n_evidence
FROM rk WHERE rn = 1
"""


def q_kg_fact_support(spark, sf_dir):
    """Provenance rollup (operators/fusion.py::fact_support) — distinct
    sources and claim occurrences per asserted fact, the weight input
    to fusion (Dong et al. KDD 2014 §3; the reference ingests fused
    RDF, src/graphs.rs:30-61 — this operator family produces it). ONE
    map-side-combinable aggregation shuffle at 10^11 claims."""
    from rdf_diff_store_spark.operators.fusion import fact_support

    return fact_support(_fusion_claims(spark, sf_dir))


_ORACLE_R4["kg_fact_support"] = (
    """
WITH raw AS (
  SELECT 's' || CAST(doc_id % 17 AS VARCHAR) AS source,
         'e' || CAST(doc_id % 29 AS VARCHAR) AS subj,
         'https://schema.org/name' AS pred,
         'v' || CAST((doc_id % 17 + doc_id % 29) % 3 AS VARCHAR) AS obj
  FROM documents)
SELECT subj, pred, obj,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(*) AS BIGINT) AS n_claims
FROM raw GROUP BY subj, pred, obj"""
)


def _sums_trust_cte(iterations: int) -> str:
    """Unrolled Sums/HITS trust loop over the bipartite source→fact
    graph — the same integer micro-unit model as _hits_oracle (div-by-
    max rescale, BIGINT everywhere), node names unprefixed because the
    two namespaces ('sN' vs 'eJ|vK') are disjoint by construction."""
    sql = [
        "WITH "
        + _FUSION_CLAIMS_CTE.strip()
        + """,
e AS (SELECT DISTINCT source AS src, subj || '|' || obj AS dst FROM c),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes)"""
    ]
    for k in range(iterations):
        sql.append(
            f""",
a{k + 1}r AS (
  SELECT e.dst AS node, SUM(h.score) AS raw
  FROM e JOIN h{k} h ON h.node = e.src GROUP BY e.dst),
a{k + 1} AS (
  SELECT n.node, CAST(COALESCE(
    r.raw // (SELECT GREATEST(CAST(1 AS BIGINT), MAX(raw) // 1000000) FROM a{k + 1}r),
    0) AS BIGINT) AS score
  FROM nodes n LEFT JOIN a{k + 1}r r USING (node)),
h{k + 1}r AS (
  SELECT e.src AS node, SUM(a.score) AS raw
  FROM e JOIN a{k + 1} a ON a.node = e.dst GROUP BY e.src),
h{k + 1} AS (
  SELECT n.node, CAST(COALESCE(
    r.raw // (SELECT GREATEST(CAST(1 AS BIGINT), MAX(raw) // 1000000) FROM h{k + 1}r),
    0) AS BIGINT) AS score
  FROM nodes n LEFT JOIN h{k + 1}r r USING (node))"""
        )
    sql.append(
        f""",
trust AS (
  SELECT s.source, h.score AS trust_micro
  FROM (SELECT DISTINCT source FROM c) s
  JOIN h{iterations} h ON h.node = s.source)"""
    )
    return "".join(sql)


def q_kg_source_trust(spark, sf_dir):
    """Sums truth discovery (operators/fusion.py::source_trust;
    Pasternack & Roth COLING 2010) — source trust ⇆ fact belief
    fixpoint on the bipartite claim graph, which IS integer-HITS
    (trust = hub): the operator delegates to operators/graph.py::hits,
    so the oracle is the same unrolled-CTE bit-exact construction as
    web_hits. 2 iterations; every score an exact BIGINT in both
    engines."""
    from rdf_diff_store_spark.operators.fusion import source_trust

    trust, _ = source_trust(_fusion_claims(spark, sf_dir), iterations=2)
    return trust


_ORACLE_R4["kg_source_trust"] = (
    _sums_trust_cte(2) + "\nSELECT source, trust_micro FROM trust"
)


def q_kg_fact_resolution(spark, sf_dir):
    """Trust-weighted conflict resolution (operators/fusion.py::
    resolve_conflicts) — one fused object per (subj, pred): the value
    whose distinct supporting sources carry the most total Sums trust,
    ties to the lexicographically smallest object (deterministic in
    any engine). Full chain under the oracle: claims → 2-round trust
    loop → support sum → per-(subj,pred) top-1 window — drift in any
    stage breaks the hash. Plan: broadcastable trust join + one
    combinable sum + a PARTITIONED row_number (never a global sort)."""
    from rdf_diff_store_spark.operators.fusion import (
        resolve_conflicts,
        source_trust,
    )

    claims = _fusion_claims(spark, sf_dir)
    trust, _ = source_trust(claims, iterations=2)
    return resolve_conflicts(claims, trust)


_ORACLE_R4["kg_fact_resolution"] = (
    _sums_trust_cte(2)
    + """,
support AS (
  SELECT subj, pred, obj,
         CAST(SUM(t.trust_micro) AS BIGINT) AS support_micro,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM c JOIN trust t USING (source)
  GROUP BY subj, pred, obj),
picked AS (
  SELECT subj, pred, obj, support_micro, n_sources,
         ROW_NUMBER() OVER (PARTITION BY subj, pred
                            ORDER BY support_micro DESC, obj ASC) AS rk
  FROM support)
SELECT subj, pred, obj, support_micro, n_sources FROM picked WHERE rk = 1"""
)


def q_kg_rdfa_extract(spark, sf_dir):
    """RDFa Lite extraction (operators/structured.py::extract_rdfa) —
    the third WDC embedding format, which also covers the OpenGraph
    meta-tag convention (<meta property="og:…" content="…">, the most
    widely deployed structured data on the web). The rendered page
    exercises the whole Lite attribute set: a `prefix`-declared og:
    CURIE on head metas (document-url subject), `vocab` + `typeof` +
    `resource` on body (explicit subject IRI), text-content and
    href-valued properties, and property+typeof chaining into a
    blank-labeled nested Person. Same scale shape as the other two
    extractors: JVM prefilter, ONE Arrow hop, map-only; closed-form
    oracle."""
    from rdf_diff_store_spark.operators.structured import extract_rdfa

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.format_string(
        '<html prefix="og: http://ogp.me/ns#"><head>'
        '<meta property="og:title" content="doc %s">'
        '<meta property="og:locale" content="%s"></head>'
        '<body vocab="https://schema.org/" typeof="Article"'
        ' resource="https://docs.example.org/%s#it">'
        '<span property="name">doc %s</span>'
        '<a property="url" href="https://docs.example.org/%s">x</a>'
        '<div property="author" typeof="Person">'
        '<span property="name">author %s</span></div>'
        "<p>%s</p></body></html>",
        d,
        F.col("lang"),
        d,
        d,
        d,
        F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.col("text"),
    )
    pages = docs.select(
        F.concat(F.lit("https://docs.example.org/"), d).alias("url"),
        html.alias("html"),
    )
    return extract_rdfa(pages)


_ORACLE_R4["kg_rdfa_extract"] = """
WITH p AS (
  SELECT 'https://docs.example.org/' || CAST(doc_id AS VARCHAR) AS url,
         'https://docs.example.org/' || CAST(doc_id AS VARCHAR) || '#it' AS it,
         doc_id, lang
  FROM documents)
SELECT url, url AS subj, 'http://ogp.me/ns#title' AS pred,
       'doc ' || CAST(doc_id AS VARCHAR) AS obj,
       'http://www.w3.org/2001/XMLSchema#string' AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang FROM p
UNION ALL SELECT url, url, 'http://ogp.me/ns#locale', lang,
       'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, it,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'https://schema.org/Article', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, it, 'https://schema.org/name',
       'doc ' || CAST(doc_id AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, it, 'https://schema.org/url',
       'https://docs.example.org/' || CAST(doc_id AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, it, 'https://schema.org/author', '_:r0',
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, '_:r0',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'https://schema.org/Person', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, '_:r0', 'https://schema.org/name',
       'author ' || CAST(doc_id % 7 AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM p
"""


def q_kg_microdata_extract(spark, sf_dir):
    """HTML microdata extraction (operators/structured.py::
    extract_microdata) — the second WDC embedding format: one-pass
    itemscope/itemtype/itemprop walk via stdlib html.parser in ONE
    Arrow hop. The rendered page nests an Offer item inside a Product
    (itemid subject), exercising every value rule the HTML spec
    defines: text-content props with nested markup, meta/@content,
    a/@href (IRI-valued), link/@href on a void element, parent→child
    item linking, rdf:type from itemtype, vocabulary derived from the
    itemtype IRI, and deterministic blank labels (_:md0 for the
    itemid-less Offer). Closed-form oracle; map-only at crawl scale
    with an `itemscope` JVM prefilter."""
    from rdf_diff_store_spark.operators.structured import extract_microdata

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.format_string(
        '<html><body><div itemscope itemtype="https://schema.org/Product"'
        ' itemid="https://docs.example.org/prod/%s">'
        '<span itemprop="name">item <b>%s</b></span>'
        '<meta itemprop="sku" content="SKU-%s">'
        '<a itemprop="url" href="https://docs.example.org/%s">link</a>'
        '<div itemprop="offers" itemscope'
        ' itemtype="https://schema.org/Offer">'
        '<span itemprop="price">%s.00</span>'
        '<link itemprop="availability" href="https://schema.org/InStock">'
        "</div></div><p>%s</p></body></html>",
        d,
        d,
        F.pmod(F.col("doc_id"), F.lit(100)).cast("string"),
        d,
        F.pmod(F.col("doc_id"), F.lit(50)).cast("string"),
        F.col("text"),
    )
    pages = docs.select(
        F.concat(F.lit("https://docs.example.org/"), d).alias("url"),
        html.alias("html"),
    )
    return extract_microdata(pages)


_ORACLE_R4["kg_microdata_extract"] = """
WITH p AS (
  SELECT 'https://docs.example.org/' || CAST(doc_id AS VARCHAR) AS url,
         'https://docs.example.org/prod/' || CAST(doc_id AS VARCHAR) AS subj,
         doc_id
  FROM documents)
SELECT url, subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       'https://schema.org/Product' AS obj,
       CAST(NULL AS VARCHAR) AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang FROM p
UNION ALL SELECT url, subj, 'https://schema.org/name',
       'item ' || CAST(doc_id AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, subj, 'https://schema.org/sku',
       'SKU-' || CAST(doc_id % 100 AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, subj, 'https://schema.org/url',
       'https://docs.example.org/' || CAST(doc_id AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, subj, 'https://schema.org/offers', '_:md0',
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, '_:md0',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'https://schema.org/Offer', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, '_:md0', 'https://schema.org/price',
       CAST(doc_id % 50 AS VARCHAR) || '.00', 'http://www.w3.org/2001/XMLSchema#string', CAST(NULL AS VARCHAR) FROM p
UNION ALL SELECT url, '_:md0', 'https://schema.org/availability',
       'https://schema.org/InStock', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM p
"""


def _cs_triples(spark, sf_dir):
    """Closed-form triple set with VARIED per-subject predicate sets
    (37 entities; name/knows/url presence keyed off the SUBJECT id so
    characteristic sets differ between subjects): the star-shape
    statistics fixture."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = d % 37
    e = F.concat(F.lit("e"), s.cast("string"))
    types = docs.select(
        e.alias("subj"),
        F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").alias("pred"),
        F.concat(F.lit("https://schema.org/C"), (s % 4).cast("string")).alias("obj"),
    )
    names = docs.filter(s % 3 != 0).select(
        e.alias("subj"),
        F.lit("https://schema.org/name").alias("pred"),
        F.concat(F.lit("v"), (d % 5).cast("string")).alias("obj"),
    )
    knows = docs.filter(s % 2 == 0).select(
        e.alias("subj"),
        F.lit("https://schema.org/knows").alias("pred"),
        F.concat(F.lit("e"), ((s + 1) % 37).cast("string")).alias("obj"),
    )
    home = docs.filter(s % 5 == 0).select(
        e.alias("subj"),
        F.lit("https://schema.org/url").alias("pred"),
        F.concat(F.lit("https://h/"), s.cast("string")).alias("obj"),
    )
    return types.unionByName(names).unionByName(knows).unionByName(home)


_CS_TRIPLES_CTE = """
t AS (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT 'e' || CAST(doc_id % 37 AS VARCHAR) AS subj,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
           'https://schema.org/C' || CAST(doc_id % 37 % 4 AS VARCHAR) AS obj
    FROM documents
    UNION ALL
    SELECT 'e' || CAST(doc_id % 37 AS VARCHAR),
           'https://schema.org/name',
           'v' || CAST(doc_id % 5 AS VARCHAR)
    FROM documents WHERE doc_id % 37 % 3 <> 0
    UNION ALL
    SELECT 'e' || CAST(doc_id % 37 AS VARCHAR),
           'https://schema.org/knows',
           'e' || CAST((doc_id % 37 + 1) % 37 AS VARCHAR)
    FROM documents WHERE doc_id % 37 % 2 = 0
    UNION ALL
    SELECT 'e' || CAST(doc_id % 37 AS VARCHAR),
           'https://schema.org/url',
           'https://h/' || CAST(doc_id % 37 AS VARCHAR)
    FROM documents WHERE doc_id % 37 % 5 = 0
  )
)"""


def q_kg_char_sets(spark, sf_dir):
    """Characteristic sets (operators/void_stats.py::
    characteristic_sets; Neumann & Moerkotte ICDE 2011) — subjects
    partitioned by the exact predicate SET they carry, with subject
    and triple counts per set: the star-join cardinality statistic a
    SPARQL planner multiplies BGP estimates from (the one-predicate
    VoID marginals can't capture predicate co-occurrence). ONE
    subject-hash shuffle builds per-subject sets; the rollup is tiny
    by the paper's empirical law (10^9 triples → ~10^3 distinct sets).
    Fixture varies presence of name/knows/url by subject id, so 37
    subjects spread over several distinct sets; multiple docs per
    subject contribute distinct name values (multiplicity > 1)."""
    from rdf_diff_store_spark.operators.void_stats import characteristic_sets

    return characteristic_sets(_cs_triples(spark, sf_dir))


_ORACLE_R4["kg_char_sets"] = (
    "WITH "
    + _CS_TRIPLES_CTE.strip()
    + """,
sp AS (SELECT subj, pred FROM t GROUP BY subj, pred),
cs AS (SELECT subj, string_agg(pred, ' ' ORDER BY pred) AS cs_props
       FROM sp GROUP BY subj),
nt AS (SELECT subj, COUNT(*) AS n FROM t GROUP BY subj)
SELECT cs.cs_props,
       CAST(COUNT(*) AS BIGINT) AS n_subjects,
       CAST(SUM(nt.n) AS BIGINT) AS n_triples
FROM cs JOIN nt USING (subj)
GROUP BY cs.cs_props"""
)


def q_kg_summary_graph(spark, sf_dir):
    """Class-quotient summary graph (operators/void_stats.py::
    summary_graph; DataGuides / ABSTAT lineage) — every entity
    collapses into its rdf:type class; output = (src_class, pred,
    dst_class) edges with edge / distinct-entity counts. The
    schema-shaped exploration map of an instance-shaped KG and the
    path-selectivity planner statistic. Type map is |entities|-sized →
    plain hash-shuffle joins at web scale (AQE may broadcast at small
    SF); output is |classes|²-bounded per predicate. Literal objects
    (untyped) drop by the inner join — VoID partition material, not
    class-graph material."""
    from rdf_diff_store_spark.operators.void_stats import summary_graph

    return summary_graph(_void_triples(spark, sf_dir))


_ORACLE_R4["kg_summary_graph"] = (
    "WITH "
    + _VOID_TRIPLES_CTE.strip()
    + """,
ty AS (SELECT subj AS node, obj AS cls FROM t
       WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
e AS (SELECT * FROM t
      WHERE pred <> 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type')
SELECT s.cls AS src_class, e.pred, o.cls AS dst_class,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(COUNT(DISTINCT e.subj) AS BIGINT) AS n_src_entities,
       CAST(COUNT(DISTINCT e.obj) AS BIGINT) AS n_dst_entities
FROM e JOIN ty s ON e.subj = s.node JOIN ty o ON e.obj = o.node
GROUP BY s.cls, e.pred, o.cls"""
)


def q_kg_dict_encode(spark, sf_dir):
    """HDT-style dictionary encoding (operators/layout.py::
    dict_encode; Fernández et al. JWS 2013) — the term dictionary with
    md5-hash-assigned 60-bit BIGINT ids and subject/predicate/object
    role flags. Hash ids need zero coordination: the 10^12-row fact
    table never joins the dictionary to encode (each row hashes its
    own terms — pytest pins the encode plan join- and shuffle-free),
    and independently-encoded datasets union without re-mapping; the
    birthday-bound cost shows as a term_id claimed twice. The encoded
    (s_id, p_id, o_id) frame shrinks every downstream join/sort
    shuffle ~5× vs IRI strings. Roundtrip decode ≡ input is
    pytest-pinned; this query value-checks the id assignment and the
    role algebra against DuckDB's identical md5 arithmetic."""
    from rdf_diff_store_spark.operators.layout import dict_encode

    dictionary, _ = dict_encode(_void_triples(spark, sf_dir))
    return dictionary


_ORACLE_R4["kg_dict_encode"] = (
    "WITH "
    + _VOID_TRIPLES_CTE.strip()
    + """,
roles AS (
  SELECT subj AS term, 1 AS r FROM t
  UNION ALL SELECT pred, 2 FROM t
  UNION ALL SELECT obj, 4 FROM t)
SELECT term,
       ('0x' || substr(md5(term), 1, 15))::BIGINT AS term_id,
       bool_or(r = 1) AS is_subj,
       bool_or(r = 2) AS is_pred,
       bool_or(r = 4) AS is_obj
FROM roles GROUP BY term"""
)


def q_kg_graph_hash(spark, sf_dir):
    """Blank-node-robust graph content hash (operators/graph.py::
    wl_graph_hash; 1-WL color refinement, the scheme behind Hogan's
    RDF iso-canonicalisation TWEB 2017) — the reference's content-hash
    versioning (src/rdf.rs:60-92) is blank-LABEL-sensitive, so a
    re-crawl that re-extracts identical markup with fresh `_:b0`
    labels registers as a new version; this hash is invariant under
    blank relabeling (pytest pins the isomorphism classes). Fixture:
    12 graphs in 3 structural classes — blank labels differ per graph,
    structure only per class, so 4 graphs share each hash. Oracle
    unrolls both refinement rounds (init / resolve / signature / fold,
    twice) plus the edge-multiset rollup in md5-portable SQL — any
    drift in the color algebra breaks all 12 hashes."""
    from rdf_diff_store_spark.operators.graph import wl_graph_hash

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    k = (d % 12).cast("string")
    cls = (d % 12 % 3).cast("string")
    g = F.concat(F.lit("g"), k)
    blank = F.concat(F.lit("_:x"), k)
    t1 = docs.select(
        g.alias("graph_id"),
        F.concat(F.lit("https://ex.org/s"), cls).alias("subj"),
        F.lit("https://ex.org/p").alias("pred"),
        blank.alias("obj"),
    )
    t2 = docs.select(
        g.alias("graph_id"),
        blank.alias("subj"),
        F.lit("https://ex.org/q").alias("pred"),
        F.concat(F.lit("lit"), cls).alias("obj"),
    )
    t3 = docs.filter(d % 12 % 3 == 2).select(
        g.alias("graph_id"),
        blank.alias("subj"),
        F.lit("https://ex.org/q").alias("pred"),
        F.lit("lit2").alias("obj"),
    )
    return wl_graph_hash(t1.unionByName(t2).unionByName(t3), rounds=2)


_ORACLE_R4["kg_graph_hash"] = """
WITH raw AS (
  SELECT 'g' || CAST(doc_id % 12 AS VARCHAR) AS graph_id,
         'https://ex.org/s' || CAST(doc_id % 12 % 3 AS VARCHAR) AS subj,
         'https://ex.org/p' AS pred,
         '_:x' || CAST(doc_id % 12 AS VARCHAR) AS obj
  FROM documents
  UNION ALL
  SELECT 'g' || CAST(doc_id % 12 AS VARCHAR),
         '_:x' || CAST(doc_id % 12 AS VARCHAR),
         'https://ex.org/q',
         'lit' || CAST(doc_id % 12 % 3 AS VARCHAR)
  FROM documents
  UNION ALL
  SELECT 'g' || CAST(doc_id % 12 AS VARCHAR),
         '_:x' || CAST(doc_id % 12 AS VARCHAR),
         'https://ex.org/q', 'lit2'
  FROM documents WHERE doc_id % 12 % 3 = 2
),
q AS (SELECT DISTINCT graph_id AS g, subj AS s, pred AS p, obj AS o FROM raw),
b0 AS (
  SELECT DISTINCT g, node, md5('_:') AS color FROM (
    SELECT g, s AS node FROM q WHERE substr(s, 1, 2) = '_:'
    UNION ALL SELECT g, o FROM q WHERE substr(o, 1, 2) = '_:')),
e0 AS (
  SELECT q.g, q.s, q.p, q.o,
         COALESCE(bs.color, md5(q.s)) AS s_color,
         COALESCE(bo.color, md5(q.o)) AS o_color
  FROM q LEFT JOIN b0 bs ON q.g = bs.g AND q.s = bs.node
         LEFT JOIN b0 bo ON q.g = bo.g AND q.o = bo.node),
s0 AS (
  SELECT g, s AS node, 'o:' || p || ':' || o_color AS sig
  FROM e0 WHERE substr(s, 1, 2) = '_:'
  UNION ALL
  SELECT g, o, 'i:' || p || ':' || s_color
  FROM e0 WHERE substr(o, 1, 2) = '_:'),
b1 AS (
  SELECT x.g, x.node,
         md5(MAX(b.color) || '|' || string_agg(x.sig, ' ' ORDER BY x.sig)) AS color
  FROM s0 x JOIN b0 b ON x.g = b.g AND x.node = b.node
  GROUP BY x.g, x.node),
e1 AS (
  SELECT q.g, q.s, q.p, q.o,
         COALESCE(bs.color, md5(q.s)) AS s_color,
         COALESCE(bo.color, md5(q.o)) AS o_color
  FROM q LEFT JOIN b1 bs ON q.g = bs.g AND q.s = bs.node
         LEFT JOIN b1 bo ON q.g = bo.g AND q.o = bo.node),
s1 AS (
  SELECT g, s AS node, 'o:' || p || ':' || o_color AS sig
  FROM e1 WHERE substr(s, 1, 2) = '_:'
  UNION ALL
  SELECT g, o, 'i:' || p || ':' || s_color
  FROM e1 WHERE substr(o, 1, 2) = '_:'),
b2 AS (
  SELECT x.g, x.node,
         md5(MAX(b.color) || '|' || string_agg(x.sig, ' ' ORDER BY x.sig)) AS color
  FROM s1 x JOIN b1 b ON x.g = b.g AND x.node = b.node
  GROUP BY x.g, x.node),
ef AS (
  SELECT q.g, q.p,
         COALESCE(bs.color, md5(q.s)) AS s_color,
         COALESCE(bo.color, md5(q.o)) AS o_color
  FROM q LEFT JOIN b2 bs ON q.g = bs.g AND q.s = bs.node
         LEFT JOIN b2 bo ON q.g = bo.g AND q.o = bo.node),
es AS (SELECT g, md5(s_color || ' ' || p || ' ' || o_color) AS esig FROM ef)
SELECT g AS graph_id,
       md5(string_agg(esig, ' ' ORDER BY esig)) AS graph_hash
FROM es GROUP BY g
"""


def q_kg_hearst_hypernyms(spark, sf_dir):
    """Hearst-pattern hypernym extraction (functions/text.py::
    hearst_pairs; Hearst COLING 1992, run at Common-Crawl scale by
    WebIsADB LREC 2016) — is-a taxonomy edges from plain prose, the
    extraction channel for the long tail of pages without structured
    markup. Pure JVM regexp zip per pattern (whole-stage codegen; the
    connective-guarded 1-2-word NP chunker is the documented
    approximation). Fixture renders all three patterns — 'such as'
    with an and-tail, 'or other', 'including' — from doc_id formulas;
    the oracle derives the 7 (hyponym, hypernym, pattern) rows per doc
    arithmetically, so any drift in NP bounds, list splitting, or
    pattern order breaks the match."""
    from rdf_diff_store_spark.functions.text import hearst_pairs

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def c(pre, m):
        return F.concat(F.lit(pre), (d % m).cast("string"))

    sent = F.concat(
        F.lit("Animals such as "), c("cat", 5), F.lit(", "), c("dog", 7),
        F.lit(" and "), c("fox", 3), F.lit(". Filler here. "),
        c("gadget", 4), F.lit(", "), c("widget", 6),
        F.lit(" or other tools. Cities including "), c("rome", 2),
        F.lit(", "), c("oslo", 9), F.lit("."),
    )
    return docs.select(
        "doc_id", F.explode(hearst_pairs(sent)).alias("p")
    ).select("doc_id", "p.hyponym", "p.hypernym", "p.pattern")


_ORACLE_R4["kg_hearst_hypernyms"] = """
SELECT doc_id, 'cat' || CAST(doc_id % 5 AS VARCHAR) AS hyponym,
       'Animals' AS hypernym, 'such_as' AS pattern FROM documents
UNION ALL
SELECT doc_id, 'dog' || CAST(doc_id % 7 AS VARCHAR), 'Animals', 'such_as' FROM documents
UNION ALL
SELECT doc_id, 'fox' || CAST(doc_id % 3 AS VARCHAR), 'Animals', 'such_as' FROM documents
UNION ALL
SELECT doc_id, 'gadget' || CAST(doc_id % 4 AS VARCHAR), 'tools', 'other' FROM documents
UNION ALL
SELECT doc_id, 'widget' || CAST(doc_id % 6 AS VARCHAR), 'tools', 'other' FROM documents
UNION ALL
SELECT doc_id, 'rome' || CAST(doc_id % 2 AS VARCHAR), 'Cities', 'including' FROM documents
UNION ALL
SELECT doc_id, 'oslo' || CAST(doc_id % 9 AS VARCHAR), 'Cities', 'including' FROM documents
"""


def q_kg_ppr_relatedness(spark, sf_dir):
    """Personalized PageRank / TrustRank (operators/graph.py::
    personalized_pagerank; Haveliwala WWW 2002, Gyöngyi VLDB 2004) —
    seed-restart rank over the TPC-H KG edges, seeded at nation:0 and
    nation:5. The entity-RELATEDNESS signal entity disambiguation
    coheres candidates with, and the trusted-seed spam demotion rank;
    unlike global `pagerank` the rank frame holds ONLY reached nodes
    (work ∝ seed neighborhood, the seeded_closure frontier
    discipline). Same integer micro-unit discipline as kg_pagerank —
    the oracle unrolls all 4 iterations (sparse frontier via FULL
    OUTER join against the teleport vector) bit-exactly."""
    from rdf_diff_store_spark.operators.graph import personalized_pagerank

    t = triples_from_tpch(spark, sf_dir)
    edges = t.filter(
        F.col("pred").isin("inNation", "inRegion", "nextNation")
    ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    seeds = spark.createDataFrame([("nation:0",), ("nation:5",)], ["node"])
    return personalized_pagerank(edges, seeds, iterations=4)


def _ppr_oracle(iterations: int = 4, damping: int = 85) -> str:
    base = (1_000_000 * (100 - damping)) // 100
    sql = [
        f"""
WITH triples AS ({_T}),
edges0 AS (
  SELECT DISTINCT subj AS src, obj AS dst FROM triples
  WHERE pred IN ('inNation', 'inRegion', 'nextNation')),
od AS (SELECT src, count(*) AS outdeg FROM edges0 GROUP BY src),
edges AS (SELECT e.src, e.dst, o.outdeg FROM edges0 e JOIN od o USING (src)),
seeds AS (SELECT 'nation:0' AS node UNION ALL SELECT 'nation:5'),
tele AS (SELECT node, CAST({base} AS BIGINT) AS t FROM seeds),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM seeds)"""
    ]
    for k in range(iterations):
        sql.append(
            f""",
c{k + 1} AS (
  SELECT e.dst AS node,
         SUM((p.rank_micro * {damping}) // (100 * e.outdeg)) AS in_micro
  FROM edges e JOIN r{k} p ON p.node = e.src
  GROUP BY e.dst),
r{k + 1} AS (
  SELECT COALESCE(t.node, c.node) AS node,
         CAST(COALESCE(t.t, 0) + COALESCE(c.in_micro, 0) AS BIGINT) AS rank_micro
  FROM tele t FULL OUTER JOIN c{k + 1} c ON t.node = c.node
  WHERE COALESCE(t.t, 0) + COALESCE(c.in_micro, 0) > 0)"""
        )
    sql.append(f"\nSELECT node, rank_micro FROM r{iterations}")
    return "".join(sql)


_ORACLE_R4["kg_ppr_relatedness"] = _ppr_oracle()


def q_kg_entity_summary(spark, sf_dir):
    """Entity summarization (operators/void_stats.py::
    entity_facts_topk; RELIN, Cheng et al. ISWC 2011) — the k=3 most
    informative facts per subject, ranked by integer predicate rarity
    (n_total div n_pred — monotone in -log freq with no libm float in
    sight) with a (rarity DESC, pred, obj) total order. The "entity
    card" query every KG front-end serves. Vocabulary-sized rarity
    table broadcasts; ONE subject-hash window shuffle."""
    from rdf_diff_store_spark.operators.void_stats import entity_facts_topk

    return entity_facts_topk(_cs_triples(spark, sf_dir), k=3)


_ORACLE_R4["kg_entity_summary"] = (
    "WITH "
    + _CS_TRIPLES_CTE.strip()
    + """,
df AS (SELECT pred, COUNT(*) AS d FROM t GROUP BY pred),
n AS (SELECT COUNT(*) AS total FROM t),
r AS (
  SELECT t.subj, t.pred, t.obj, CAST(n.total // df.d AS BIGINT) AS rarity
  FROM t JOIN df ON t.pred = df.pred CROSS JOIN n),
ranked AS (
  SELECT subj, pred, obj, rarity,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY subj ORDER BY rarity DESC, pred, obj) AS INT) AS rank
  FROM r)
SELECT subj, pred, obj, rarity, rank FROM ranked WHERE rank <= 3"""
)


def q_web_pld_rollup(spark, sf_dir):
    """Pay-level-domain rollup (functions/text.py::pld_of_hosts —
    Public Suffix List longest-match, broadcast rule join, candidate
    suffixes generated JVM-side from a bounded label sequence). The
    per-SOURCE aggregation the C4/RefinedWeb curation recipes actually
    mean by 'source' (www./cdn. subdomains collapse into one
    registrable domain; WDC reports per-PLD). Fixture exercises the
    three rule paths — multi-label rule (co.uk), single-label rule
    (com), implicit-* fallback (unknowntld) — plus the host-IS-a-rule
    NULL case (excluded here, pytest-pinned). PLD resolution runs on
    the DISTINCT host frame (10^9 hosts, not 10^12 pages), then one
    broadcastable map-back join and one combinable rollup."""
    from rdf_diff_store_spark.functions.text import pld_of_hosts

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    k = (d % 10).cast("string")
    host = (
        F.when(d % 4 == 0, F.concat(F.lit("www.site"), k, F.lit(".co.uk")))
        .when(d % 4 == 1, F.concat(F.lit("cdn.site"), k, F.lit(".com")))
        .when(d % 4 == 2, F.concat(F.lit("site"), k, F.lit(".unknowntld")))
        .otherwise(F.lit("co.uk"))
    )
    pages = docs.select("doc_id", host.alias("host"))
    mapping = pld_of_hosts(pages.select("host").distinct())
    return (
        pages.join(mapping, "host")
        .filter(F.col("pld").isNotNull())
        .groupBy("pld")
        .agg(
            F.countDistinct("host").alias("n_hosts"),
            F.count(F.lit(1)).alias("n_pages"),
        )
    )


_ORACLE_R4["web_pld_rollup"] = """
WITH p AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 'www.site' || CAST(doc_id % 10 AS VARCHAR) || '.co.uk'
           WHEN 1 THEN 'cdn.site' || CAST(doc_id % 10 AS VARCHAR) || '.com'
           WHEN 2 THEN 'site' || CAST(doc_id % 10 AS VARCHAR) || '.unknowntld'
           ELSE 'co.uk' END AS host,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 'site' || CAST(doc_id % 10 AS VARCHAR) || '.co.uk'
           WHEN 1 THEN 'site' || CAST(doc_id % 10 AS VARCHAR) || '.com'
           WHEN 2 THEN 'site' || CAST(doc_id % 10 AS VARCHAR) || '.unknowntld'
           ELSE NULL END AS pld
  FROM documents)
SELECT pld,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(COUNT(*) AS BIGINT) AS n_pages
FROM p WHERE pld IS NOT NULL GROUP BY pld
"""


def q_kg_table_schema_align(spark, sf_dir):
    """WebTables schema alignment (operators/tables.py::align_headers;
    Cafarella VLDB 2008 schema statistics, Ritze T2K attribute
    correspondence) — rendered tables carry headers 'name' plus a
    per-doc variant of 'price' (exact / 1-deletion typo 'prce' /
    out-of-band 'pricing'); the real html parser extracts them
    (`extract_table_cells`), then the FastSS deletion-variant
    equi-join aligns the distinct header slugs to the curated
    (label → predicate) dictionary — never a broadcast nested loop.
    'pricing' (distance 3) must be absent; any parser or band-recall
    drift breaks the 3-row result."""
    from rdf_diff_store_spark.operators.tables import align_headers, extract_table_cells

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    hdr = (
        F.when(d % 3 == 0, F.lit("price"))
        .when(d % 3 == 1, F.lit("prce"))
        .otherwise(F.lit("pricing"))
    )
    pages = docs.select(
        F.concat(F.lit("https://t.example.org/"), d.cast("string")).alias("url"),
        F.concat(
            F.lit("<table><tr><th>name</th><th>"), hdr,
            F.lit("</th></tr><tr><td>Alice</td><td>5</td></tr></table>"),
        ).alias("html"),
    )
    cells = extract_table_cells(pages)
    headers = cells.select("header").distinct()
    labels = spark.createDataFrame(
        [
            ("price", "https://schema.org/price"),
            ("name", "https://schema.org/name"),
            ("quantity", "https://schema.org/quantity"),
        ],
        ["label", "pred"],
    )
    return align_headers(headers, labels, max_lev=1)


_ORACLE_R4["kg_table_schema_align"] = """
SELECT 'name' AS header, 'https://schema.org/name' AS pred, CAST(0 AS INT) AS distance
UNION ALL
SELECT 'price', 'https://schema.org/price', CAST(0 AS INT)
UNION ALL
SELECT 'prce', 'https://schema.org/price', CAST(1 AS INT)
"""


def q_kg_star_count_from_stats(spark, sf_dir):
    """Star-query answering from characteristic-set statistics ALONE
    (operators/void_stats.py::star_subject_count; Neumann & Moerkotte
    ICDE 2011 §4.2) — COUNT(DISTINCT ?s) for the star {name, knows}
    computed two ways: from the ~10-row statistics frame (sum of
    n_subjects over sets containing both predicates — the fact table
    is never scanned) and from the data. The ICDE exactness claim IS
    the check: both columns must be equal, and the oracle recomputes
    both paths independently."""
    from rdf_diff_store_spark.operators.void_stats import (
        characteristic_sets,
        star_subject_count,
    )

    t = _cs_triples(spark, sf_dir)
    star = ["https://schema.org/knows", "https://schema.org/name"]
    from_stats = star_subject_count(characteristic_sets(t), star).withColumnRenamed(
        "n_subjects", "n_subjects_stats"
    )
    truth = (
        t.select("subj", "pred")
        .distinct()
        .filter(F.col("pred").isin(star))
        .groupBy("subj")
        .agg(F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_k") == 2)
        .agg(F.count(F.lit(1)).alias("n_subjects_true"))
    )
    return from_stats.crossJoin(truth)


_ORACLE_R4["kg_star_count_from_stats"] = (
    "WITH "
    + _CS_TRIPLES_CTE.strip()
    + """,
sp AS (SELECT subj, pred FROM t GROUP BY subj, pred),
cs AS (SELECT subj, string_agg(pred, ' ' ORDER BY pred) AS cs_props
       FROM sp GROUP BY subj),
stats AS (SELECT cs_props, COUNT(*) AS n FROM cs GROUP BY cs_props),
s1 AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_subjects_stats
       FROM stats
       WHERE ' ' || cs_props || ' ' LIKE '% https://schema.org/knows %'
         AND ' ' || cs_props || ' ' LIKE '% https://schema.org/name %'),
s2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects_true FROM (
         SELECT subj FROM sp
         WHERE pred IN ('https://schema.org/knows', 'https://schema.org/name')
         GROUP BY subj HAVING COUNT(DISTINCT pred) = 2))
SELECT s1.n_subjects_stats, s2.n_subjects_true FROM s1, s2"""
)


def q_rdf_patch_roundtrip(spark, sf_dir):
    """RDF Patch interchange (sources/nquads.py::serialize_rdf_patch /
    parse_rdf_patch; Seaborne's RDF Patch draft) — the reference's
    core diff contract (src/git.rs:162-194) serialized so a downstream
    replica can replay it: the T_MID→T_LATE triple diff renders to
    ``A/D <s> <p> <o> <g> .`` lines (pure-JVM sink sharing nquad_line's
    escaping) and parses BACK through the strict one-Arrow-hop parser;
    the query returns the parsed rows, so the oracle (the diff twin
    with change→op) pins BOTH directions byte-for-byte. That the
    parsed patch replays snapshot(t1) into snapshot(t2) is
    pytest-pinned."""
    from rdf_diff_store_spark.operators.versioned import diff
    from rdf_diff_store_spark.sources.nquads import parse_rdf_patch, serialize_rdf_patch

    d = diff(changelog_from_events(spark, sf_dir), T_MID, T_LATE)
    patch = serialize_rdf_patch(d)
    return parse_rdf_patch(patch, "line").select("op", "graph_id", "subj", "pred", "obj")


_ORACLE_R4["rdf_patch_roundtrip"] = """
WITH s1r AS ({s1}), s2r AS ({s2}),
s1 AS (SELECT graph_id,
              regexp_extract(payload, '^<([^>]*)>', 1) AS subj,
              regexp_extract(payload, '> <([^>]*)>', 1) AS pred,
              regexp_extract(payload, '"([^"]*)"', 1) AS obj
       FROM s1r),
s2 AS (SELECT graph_id,
              regexp_extract(payload, '^<([^>]*)>', 1) AS subj,
              regexp_extract(payload, '> <([^>]*)>', 1) AS pred,
              regexp_extract(payload, '"([^"]*)"', 1) AS obj
       FROM s2r)
SELECT 'A' AS op, graph_id, subj, pred, obj FROM s2
WHERE NOT EXISTS (SELECT 1 FROM s1 WHERE s1.graph_id = s2.graph_id
                  AND s1.subj = s2.subj AND s1.pred = s2.pred AND s1.obj = s2.obj)
UNION ALL
SELECT 'D', graph_id, subj, pred, obj FROM s1
WHERE NOT EXISTS (SELECT 1 FROM s2 WHERE s2.graph_id = s1.graph_id
                  AND s2.subj = s1.subj AND s2.pred = s1.pred AND s2.obj = s1.obj)
""".format(s1=_snapshot_sql(T_MID), s2=_snapshot_sql(T_LATE))


def q_snapshots_multi(spark, sf_dir):
    """Multi-timestamp snapshot reconstruction (operators/versioned.py
    ::snapshots_at) — the reference's checkout_timestamp loops one ts
    per call (src/git.rs:154-160); this fuses k probes into ONE
    changelog scan + ONE shuffle (k condition-gated max_by aggregates,
    the diff trick generalized; pytest pins ≡ per-probe snapshot_at
    incl. pre-history and tombstone windows). Probes here: pre-history
    (contributes nothing), T_MID, T_LATE. query_ts is emitted as its
    formatted string — raw timestamps in driver outputs are the
    session-TZ trap (CLAUDE.md)."""
    from rdf_diff_store_spark.operators.versioned import snapshots_at

    probes = ["1990-01-01 00:00:00", T_MID, T_LATE]
    snaps = snapshots_at(changelog_from_events(spark, sf_dir), probes)
    return snaps.select(
        F.date_format("query_ts", "yyyy-MM-dd HH:mm:ss").alias("query_label"),
        "graph_id",
        "payload",
        "content_hash",
    )


_ORACLE_R4["snapshots_multi"] = """
SELECT '{tm}' AS query_label, graph_id, payload, content_hash FROM ({s1})
UNION ALL
SELECT '{tl}', graph_id, payload, content_hash FROM ({s2})
""".format(tm=T_MID, tl=T_LATE, s1=_snapshot_sql(T_MID), s2=_snapshot_sql(T_LATE))


def q_kg_prov_lineage(spark, sf_dir):
    """PROV-O lineage materialization (operators/versioned.py::
    prov_lineage; W3C PROV-O) — the north rule's per-partition lineage
    published INTO the KG: every changelog version mints
    specializationOf / generatedAtTime^^xsd:dateTime / wasGeneratedBy
    triples, tombstones mint invalidatedAtTime, in the shared term
    convention (composes with the nquads sink and append_updates —
    provenance is just another graph). Map-only, zero shuffle
    (pytest-pinned plan); timestamps format from the NTZ value
    (session-TZ-proof)."""
    from rdf_diff_store_spark.operators.versioned import prov_lineage

    return prov_lineage(changelog_from_events(spark, sf_dir))


_ORACLE_R4["kg_prov_lineage"] = f"""
WITH changelog AS ({CHANGELOG_FROM_EVENTS_SQL}),
base AS (
  SELECT graph_id, op,
         strftime(ts, '%Y-%m-%dT%H:%M:%S') AS lex
  FROM changelog),
v AS (SELECT 'urn:version:' || graph_id || '@' || lex AS version, * FROM base)
SELECT version AS subj, 'http://www.w3.org/ns/prov#specializationOf' AS pred,
       'urn:graph:' || graph_id AS obj,
       CAST(NULL AS VARCHAR) AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang FROM v
UNION ALL
SELECT version, 'http://www.w3.org/ns/prov#generatedAtTime', lex,
       'http://www.w3.org/2001/XMLSchema#dateTime', CAST(NULL AS VARCHAR)
FROM v WHERE op <> 'delete'
UNION ALL
SELECT version, 'http://www.w3.org/ns/prov#wasGeneratedBy',
       'urn:rdf-diff-store:ingest', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM v WHERE op <> 'delete'
UNION ALL
SELECT version, 'http://www.w3.org/ns/prov#invalidatedAtTime', lex,
       'http://www.w3.org/2001/XMLSchema#dateTime', CAST(NULL AS VARCHAR)
FROM v WHERE op = 'delete'
"""


# ---- session-19: web-graph structure + embedding corpus prep --------

# The directed host/redirect-style graph for SCC: each region's
# nextNation chain closed into a ring (max -> min nation), plus
# customer -> nation pointers. Rings = the redirect/mirror CYCLES a
# crawler must collapse; customers = the acyclic fringe.
_SCC_EDGES_SQL = """
nn AS (
  SELECT src, dst FROM (
    SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS src,
           'nation:' || CAST(lead(n_nationkey) OVER (
             PARTITION BY n_regionkey ORDER BY n_nationkey) AS VARCHAR) AS dst
    FROM nation) WHERE dst IS NOT NULL),
ring AS (
  SELECT 'nation:' || CAST(MAX(n_nationkey) AS VARCHAR) AS src,
         'nation:' || CAST(MIN(n_nationkey) AS VARCHAR) AS dst
  FROM nation GROUP BY n_regionkey),
cust AS (
  SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS src,
         'nation:' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer),
edges AS (
  SELECT src, dst FROM nn UNION
  SELECT src, dst FROM ring UNION
  SELECT src, dst FROM cust)
"""


def _scc_edges(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    nn = nation.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(
            F.lit("nation:"),
            F.lead("n_nationkey")
            .over(Window.partitionBy("n_regionkey").orderBy("n_nationkey"))
            .cast("string"),
        ).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    ring = (
        nation.groupBy("n_regionkey")
        .agg(F.max("n_nationkey").alias("mx"), F.min("n_nationkey").alias("mn"))
        .select(
            F.concat(F.lit("nation:"), F.col("mx").cast("string")).alias("src"),
            F.concat(F.lit("nation:"), F.col("mn").cast("string")).alias("dst"),
        )
    )
    cust = customer.select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    return nn.unionByName(ring).unionByName(cust)


def q_web_scc(spark, sf_dir):
    """Strongly connected components (operators/graph.py::scc) over a
    redirect-style directed graph — per-region nation rings (the
    cycles: mirror/canonical-URL loops a crawler must collapse before
    pointer-chasing terminates) plus the acyclic customer fringe.
    Broder et al.'s WWW9 bowtie decomposition at host granularity.
    scc_id = min member id over mutual reachability of the doubling
    transitive closure — exact, deterministic representative. Output:
    top-200 components by (size DESC, scc_id) — the rings surface
    first, the singleton fringe fills the deterministic tail."""
    from rdf_diff_store_spark.operators.graph import scc

    comp = scc(_scc_edges(spark, sf_dir))
    return (
        comp.groupBy("scc_id")
        .agg(F.count("*").cast("bigint").alias("size"))
        .orderBy(F.desc("size"), "scc_id")
        .limit(200)
    )


_ORACLE_R4["web_scc"] = f"""
WITH RECURSIVE {_SCC_EDGES_SQL.strip()},
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
mutual AS (
  SELECT f.src AS id, f.dst AS peer
  FROM reach f JOIN reach b ON f.src = b.dst AND f.dst = b.src),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
comp AS (
  SELECT n.id, LEAST(n.id, COALESCE(MIN(m.peer), n.id)) AS scc_id
  FROM nodes n LEFT JOIN mutual m ON n.id = m.id
  GROUP BY n.id)
SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS size
FROM comp GROUP BY scc_id
ORDER BY size DESC, scc_id LIMIT 200
"""


def q_web_bowtie(spark, sf_dir):
    """Bowtie decomposition (operators/graph.py::bowtie_classes;
    Broder et al. WWW9 "Graph structure in the Web") — the canonical
    web-graph census: every node classified core / in / out / disc
    against the largest SCC. Fixture = the SCC ring graph plus
    nation→region edges, so all four classes are non-empty (core =
    the min-id nation ring, in = its customers, out = its region,
    disc = the other rings' neighborhoods). Composes scc + two
    set-frontier reachability sweeps (work ∝ painted regions)."""
    from rdf_diff_store_spark.operators.graph import bowtie_classes

    nation = load_table(spark, sf_dir, "nation")
    inreg = nation.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    edges = _scc_edges(spark, sf_dir).unionByName(inreg)
    return (
        bowtie_classes(edges)
        .groupBy("bowtie_class")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )


_ORACLE_R4["web_bowtie"] = f"""
WITH RECURSIVE {_SCC_EDGES_SQL.strip()},
inreg AS (
  SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS src,
         'region:' || CAST(n_regionkey AS VARCHAR) AS dst FROM nation),
e2 AS (SELECT src, dst FROM edges UNION SELECT src, dst FROM inreg),
reach AS (
  SELECT src, dst FROM e2
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e2 e ON r.dst = e.src),
mutual AS (
  SELECT f.src AS id, f.dst AS peer
  FROM reach f JOIN reach b ON f.src = b.dst AND f.dst = b.src),
nodes AS (SELECT src AS id FROM e2 UNION SELECT dst FROM e2),
comp AS (
  SELECT n.id, LEAST(n.id, COALESCE(MIN(m.peer), n.id)) AS scc_id
  FROM nodes n LEFT JOIN mutual m ON n.id = m.id
  GROUP BY n.id),
core AS (
  SELECT scc_id FROM comp GROUP BY scc_id
  ORDER BY COUNT(*) DESC, scc_id LIMIT 1),
corem AS (SELECT id FROM comp JOIN core USING (scc_id)),
fwd AS (SELECT DISTINCT r.dst AS id FROM reach r JOIN corem c ON r.src = c.id),
bwd AS (SELECT DISTINCT r.src AS id FROM reach r JOIN corem c ON r.dst = c.id),
cls AS (
  -- classify over comp (one row per id): inside WITH RECURSIVE,
  -- DuckDB evaluates the plain UNION in `nodes` as a bag union, so
  -- counting nodes directly would double-count
  SELECT n.id,
         CASE WHEN cm.id IS NOT NULL THEN 'core'
              WHEN b.id IS NOT NULL THEN 'in'
              WHEN f.id IS NOT NULL THEN 'out'
              ELSE 'disc' END AS bowtie_class
  FROM comp n
  LEFT JOIN corem cm ON cm.id = n.id
  LEFT JOIN bwd b ON b.id = n.id
  LEFT JOIN fwd f ON f.id = n.id)
SELECT bowtie_class, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM cls GROUP BY bowtie_class
"""


def q_kg_ra_linkpred(spark, sf_dir):
    """Neighborhood-overlap link prediction (operators/graph.py::
    wedge_overlap; Liben-Nowell & Kleinberg CIKM 2003, Resource
    Allocation index Zhou et al. 2009) over the order->part
    co-purchase bipartite graph: part pairs sharing orders, scored by
    common-neighbor count, RA (rare shared orders count more,
    1e6 div deg in exact integer micro-units), and Jaccard. The
    non-parametric KG-completion baseline next to kg_link_prediction's
    trained TransE ranker. Candidate pairs are minted only by the
    center wedge join, hub centers capped (max_center_degree) like
    every inverted-index df-cap in the repo. Top-100 by the total
    order (ra DESC, cn DESC, pair)."""
    from rdf_diff_store_spark.operators.graph import wedge_overlap

    li = load_table(spark, sf_dir, "lineitem")
    adj = li.select(
        F.concat(F.lit("order:"), F.col("l_orderkey").cast("string")).alias("center"),
        F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias("leaf"),
    )
    return (
        wedge_overlap(adj, max_center_degree=1000)
        .orderBy(F.desc("ra_micro"), F.desc("cn"), "leaf_a", "leaf_b")
        .limit(100)
    )


_ORACLE_R4["kg_ra_linkpred"] = """
WITH adj AS (
  SELECT DISTINCT 'order:' || CAST(l_orderkey AS VARCHAR) AS center,
         'part:' || CAST(l_partkey AS VARCHAR) AS leaf FROM lineitem),
cdeg AS (SELECT center, COUNT(*) AS cdeg FROM adj GROUP BY center),
ldeg AS (SELECT leaf, COUNT(*) AS ldeg FROM adj GROUP BY leaf),
small AS (
  SELECT a.center, a.leaf, c.cdeg FROM adj a JOIN cdeg c USING (center)
  WHERE c.cdeg <= 1000),
pairs AS (
  SELECT a.leaf AS leaf_a, b.leaf AS leaf_b,
         COUNT(*) AS cn, SUM(1000000 // a.cdeg) AS ra
  FROM small a JOIN small b ON a.center = b.center AND a.leaf < b.leaf
  GROUP BY 1, 2)
SELECT p.leaf_a, p.leaf_b, CAST(p.cn AS BIGINT) AS cn,
       CAST(p.ra AS BIGINT) AS ra_micro,
       CAST((p.cn * 1000000) // (da.ldeg + db.ldeg - p.cn) AS BIGINT)
         AS jaccard_micro
FROM pairs p JOIN ldeg da ON da.leaf = p.leaf_a
             JOIN ldeg db ON db.leaf = p.leaf_b
ORDER BY ra_micro DESC, cn DESC, leaf_a, leaf_b LIMIT 100
"""


def q_kg_random_walks(spark, sf_dir):
    """Deterministic DeepWalk corpus (operators/graph.py::
    random_walks; Perozzi et al. KDD 2014) — the random-walk
    sentence generator node2vec/DeepWalk embeddings train on,
    md5-drawn so the corpus replays bit-identically (the
    transe_train portable-randomness discipline). Two walks of
    length 6 per nation seed over the ring + inRegion graph; region
    sinks end walks early (truncation is part of the contract).
    Every step is one (src, idx) composite-key lookup join — no
    neighbor fanout."""
    from rdf_diff_store_spark.operators.graph import random_walks

    nation = load_table(spark, sf_dir, "nation")
    edges = _ring_inreg_edges(spark, sf_dir)
    seeds = nation.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("seed")
    )
    return random_walks(edges, seeds, length=6, n_walks=2)


def _walks_oracle(
    length: int = 6, n_walks: int = 2, salt: str = "walk", final: str | None = None
) -> str:
    sql = [
        """
WITH __RING_E__,
adj AS (
  SELECT src, dst,
         CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx
  FROM e),
deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
seeds AS (SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS seed FROM nation),
s0 AS ("""
        + " UNION ALL ".join(
            f"SELECT seed || '#{k}' AS walk_id, seed AS node FROM seeds"
            for k in range(n_walks)
        )
        + ")"
    ]
    for t in range(1, length + 1):
        sql.append(
            f""",
s{t} AS (
  SELECT w.walk_id, a.dst AS node
  FROM s{t - 1} w JOIN deg d ON d.src = w.node
  JOIN adj a ON a.src = w.node
   AND a.idx = ('0x' || substr(md5('{salt}' || w.walk_id || ':{t}'), 1, 15))::BIGINT
                % d.outdeg)"""
        )
    sel = " UNION ALL ".join(
        f"SELECT walk_id, {t} AS step, node FROM s{t}" for t in range(length + 1)
    )
    if final is None:
        sql.append("\n" + sel)
    else:
        sql.append(f",\nwalks AS ({sel})\n" + final)
    return "".join(sql)


_ORACLE_R4["kg_random_walks"] = _walks_oracle()


def q_web_host_graph(spark, sf_dir):
    """Host-graph condensation — the page-level link graph quotiented
    by host (the Common Crawl "host-level web graph" product, and the
    input granularity for web_scc/web_bowtie per Broder's analysis):
    per (src_host, dst_host) edge weights = distinct linking pages,
    self-loops dropped. Deterministic links derived from doc ids
    (page d on site d%20 links to sites (7d+3)%20 and (3d+11)%20);
    one combinable count over host pairs — the condensation is
    hosts²-bounded however many pages exist. Top-100 by
    (n_links DESC, pair)."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def host(expr):
        return F.concat(F.lit("site"), expr.cast("string"), F.lit(".example.org"))

    links = docs.select(
        d.alias("page"), host(d % 20).alias("src_host"), host((d * 7 + 3) % 20).alias("dst_host")
    ).unionByName(
        docs.select(
            d.alias("page"), host(d % 20).alias("src_host"), host((d * 3 + 11) % 20).alias("dst_host")
        )
    )
    return (
        links.filter(F.col("src_host") != F.col("dst_host"))
        .select("src_host", "dst_host", "page")
        .distinct()
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("bigint").alias("n_links"))
        .orderBy(F.desc("n_links"), "src_host", "dst_host")
        .limit(100)
    )


_ORACLE_R4["web_host_graph"] = """
WITH links AS (
  SELECT doc_id AS page,
         'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org' AS src_host,
         'site' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) || '.example.org' AS dst_host
  FROM documents
  UNION ALL
  SELECT doc_id,
         'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org',
         'site' || CAST((doc_id * 3 + 11) % 20 AS VARCHAR) || '.example.org'
  FROM documents),
d AS (SELECT DISTINCT src_host, dst_host, page FROM links
      WHERE src_host <> dst_host)
SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
FROM d GROUP BY 1, 2
ORDER BY n_links DESC, src_host, dst_host LIMIT 100
"""


def q_web_dust_rules(spark, sf_dir):
    """DUST rule discovery (operators/crawl.py::dust_rules;
    Bar-Yossef et al. WWW 2007) — learn single-token URL rewrite
    rules from same-content URL pairs: every second doc also serves
    under /print/ (the discoverable rule), every third under a
    per-doc ?session= suffix (support-1 noise the min_support floor
    drops). df-capped hash index, one zip_with token alignment per
    pair, canonicalized rules. Top-50 by (support DESC, rule)."""
    from rdf_diff_store_spark.operators.crawl import dust_rules

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("https://site"), (d % 20).cast("string"), F.lit(".example.org"))
    ch = F.md5(F.col("text")).alias("content_hash")
    base = docs.select(
        F.concat(host, F.lit("/p/"), d.cast("string")).alias("url"), ch
    )
    printed = docs.filter(d % 2 == 0).select(
        F.concat(host, F.lit("/print/"), d.cast("string")).alias("url"), ch
    )
    sessioned = docs.filter(d % 3 == 0).select(
        F.concat(host, F.lit("/p/"), d.cast("string"), F.lit("?session=x")).alias(
            "url"
        ),
        ch,
    )
    pages = base.unionByName(printed).unionByName(sessioned)
    return (
        dust_rules(pages, max_hash_df=10, min_support=2)
        .orderBy(F.desc("support"), "tok_a", "tok_b")
        .limit(50)
    )


_ORACLE_R4["web_dust_rules"] = """
WITH d2 AS (
  SELECT doc_id % 20 AS h, doc_id, md5(text) AS ch FROM documents),
pages AS (
  SELECT 'https://site' || h || '.example.org/p/' || doc_id AS url, ch FROM d2
  UNION ALL
  SELECT 'https://site' || h || '.example.org/print/' || doc_id, ch
  FROM d2 WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 'https://site' || h || '.example.org/p/' || doc_id || '?session=x', ch
  FROM d2 WHERE doc_id % 3 = 0),
p AS (SELECT DISTINCT url, ch AS content_hash FROM pages),
keep AS (SELECT content_hash FROM p GROUP BY 1 HAVING COUNT(*) BETWEEN 2 AND 10),
sized AS (SELECT p.url, p.content_hash FROM p JOIN keep USING (content_hash)),
pairs AS (
  SELECT DISTINCT a.url AS ua, b.url AS ub
  FROM sized a JOIN sized b
    ON a.content_hash = b.content_hash AND a.url < b.url),
tok AS (
  SELECT len(string_split(ua, '/')) = len(string_split(ub, '/')) AS same_len,
         list_filter(list_zip(string_split(ua, '/'), string_split(ub, '/')),
                     x -> x[1] <> x[2]) AS d
  FROM pairs),
cand AS (
  SELECT LEAST(d[1][1], d[1][2]) AS tok_a,
         GREATEST(d[1][1], d[1][2]) AS tok_b
  FROM tok WHERE same_len AND len(d) = 1)
SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS support
FROM cand GROUP BY 1, 2 HAVING COUNT(*) >= 2
ORDER BY support DESC, tok_a, tok_b LIMIT 50
"""


def q_web_anf(spark, sf_dir):
    """HyperBall / approximate neighborhood function (operators/
    graph.py::hyperball; Palmer ANF KDD 2002, Boldi-Vigna 2013) —
    per-node HLL estimates of the 3-hop out-ball over the nation
    ring + inRegion graph, b=4 (16 registers). The sketch-state
    alternative to exact reachability (constant memory per node at
    10^10 nodes; merge = register max absorbs hub in-degree
    map-side). The oracle unrolls all 3 merge iterations over the
    md5-positional registers and matches the raw estimator
    BIGINT-exactly."""
    from rdf_diff_store_spark.operators.graph import hyperball

    return hyperball(_ring_inreg_edges(spark, sf_dir), radius=3, b=4)


def _anf_oracle(radius: int = 3) -> str:
    # b=4: 1 hex register digit, 13-digit (52-bit) rank tail; m=16,
    # alpha_16=0.673 -> C literal must equal Spark's F.lit(c) double
    return f"""
WITH __RING_E__,
{_hll_ball_ctes(radius)},
agg AS (
  SELECT node, CAST(count(*) AS INT) AS n_regs,
         CAST(sum(CAST(2 ** (53 - maxrank) AS BIGINT)) AS BIGINT) AS present_sum
  FROM h{radius} GROUP BY node),
est AS (
  SELECT node, n_regs,
         present_sum + CAST(16 - n_regs AS BIGINT) *
           CAST(9007199254740992 AS BIGINT) AS sum_scaled
  FROM agg)
SELECT node, n_regs, sum_scaled,
       CAST(floor({_HLL_B4_C_LIT} / sum_scaled) AS BIGINT) AS est_distinct
FROM est"""


_ORACLE_R4["web_anf"] = _anf_oracle()


def q_doc_containment_topk(spark, sf_dir):
    """Asymmetric containment dedup (operators/dedup.py::
    containment_scores; Broder SEQUENCES 1997 §2) — near-SUBSET copy
    detection over the same winnowing fingerprints as
    doc_shared_spans: quoted pages, boilerplate-wrapped syndication,
    snippet farms that Jaccard misses when the host page dwarfs the
    copy. Max-direction containment in exact integer percent;
    df-capped inverted index (intersection is a conservative
    undercount, set sizes exact). Top-50 by (containment_pct, pair)."""
    from rdf_diff_store_spark.operators.dedup import bind_once, containment_scores

    docs = load_table(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))

    def gram_hashes(s):
        n = F.greatest(F.length(s) - 11, F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n), lambda i: F.md5(s.substr(i, F.lit(12)))
        )

    def window_mins(hs):
        n = F.greatest(F.size(hs) - 7, F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n), lambda i: F.array_min(F.slice(hs, i, 8))
            )
        )

    fps = bind_once(bind_once(t, gram_hashes), window_mins)
    ex = docs.select("doc_id", F.explode(fps).alias("fp"))
    return (
        containment_scores(ex, max_df=20)
        .orderBy(F.desc("containment_pct"), "doc_a", "doc_b")
        .limit(50)
    )


_ORACLE_R4["doc_containment_topk"] = """
WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
h AS (SELECT doc_id,
             list_transform(generate_series(1, greatest(length(s) - 11, 1)),
                            i -> md5(substr(s, i, 12))) AS hs
      FROM t),
m AS (SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(hs) - 7, 1)),
                                          i -> list_min(hs[i:i+7]))) AS fps
      FROM h),
ex AS (SELECT doc_id, unnest(fps) AS fp FROM m),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY doc_id),
keep AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) BETWEEN 2 AND 20),
cand AS (SELECT doc_id, fp FROM ex JOIN keep USING (fp)),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS inter
          FROM cand a JOIN cand b USING (fp)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b, i.inter, sa.n AS size_a, sb.n AS size_b,
       CAST((i.inter * 100) // LEAST(sa.n, sb.n) AS BIGINT) AS containment_pct
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
             JOIN sizes sb ON sb.doc_id = i.doc_b
ORDER BY containment_pct DESC, doc_a, doc_b LIMIT 50
"""


def q_kg_hop_distance(spark, sf_dir):
    """Seeded BFS hop distances (operators/graph.py::
    seeded_distances) — min hop count from nation:0 and nation:7 over
    the ring + inRegion graph: the crawl-depth / KG-relatedness
    distance feature next to personalized_pagerank's mass-based one.
    First-discovery BFS = min distance with no aggregation pass; the
    oracle is a bounded recursive CTE with MIN(dist), cross-checking
    that claim."""
    from rdf_diff_store_spark.operators.graph import seeded_distances

    edges = _ring_inreg_edges(spark, sf_dir)
    seeds = spark.createDataFrame([("nation:0",), ("nation:7",)], ["seed"])
    return seeded_distances(edges, seeds)


_ORACLE_R4["kg_hop_distance"] = """
WITH RECURSIVE __RING_E__,
seeds AS (SELECT 'nation:0' AS seed UNION ALL SELECT 'nation:7'),
walkr AS (
  SELECT s.seed, e.dst AS node, 1 AS dist FROM seeds s JOIN e ON e.src = s.seed
  UNION
  SELECT r.seed, e.dst, r.dist + 1 FROM walkr r JOIN e ON e.src = r.node
  WHERE r.dist < 15)
SELECT seed, node, MIN(dist) AS dist FROM walkr GROUP BY seed, node
"""


def q_er_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (operators/blocking.py::
    sorted_neighborhood; Hernández & Stolfo SIGMOD 1995) — window-2
    candidate pairs over the (segment, zero-padded balance) blocking
    key: records with near-identical balances inside a segment sort
    adjacent and pair, however their hash keys differ. The Spark plan
    builds the global order TWO-LEVEL (per-prefix-bucket windows +
    metadata-sized offset sum — no global-sort funnel); the oracle is
    the DEFINITIONAL single ROW_NUMBER + band join, so the
    decomposition is checked against the straight definition."""
    from rdf_diff_store_spark.operators.blocking import sorted_neighborhood

    cust = load_table(spark, sf_dir, "customer")
    prof = cust.select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("id"),
        F.concat(
            F.col("c_mktsegment"),
            F.lit(":"),
            F.lpad(
                F.expr("cast(round(c_acctbal * 100) as bigint) + 100000").cast(
                    "string"
                ),
                7,
                "0",
            ),
        ).alias("key"),
    )
    return (
        sorted_neighborhood(prof, window=2, prefix_len=12)
        .orderBy("id_a", "id_b")
        .limit(200)
    )


_ORACLE_R4["er_sorted_neighborhood"] = """
WITH rows AS (
  SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS id,
         c_mktsegment || ':' ||
         lpad(CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000 AS VARCHAR),
              7, '0') AS key
  FROM customer),
g AS (SELECT id, key, ROW_NUMBER() OVER (ORDER BY key, id) AS gpos FROM rows)
SELECT a.id AS id_a, b.id AS id_b
FROM g a JOIN g b ON b.gpos > a.gpos AND b.gpos <= a.gpos + 2
ORDER BY id_a, id_b LIMIT 200
"""


def q_er_blocking_recall(spark, sf_dir):
    """Blocking-quality evaluation (the pair-completeness metric of
    the ER blocking literature — Papadakis et al.'s PC): plant a twin
    for every customer (same attributes, balance one cent off — the
    near-duplicate a matcher must see) and measure how many truth
    pairs SURVIVE meta_blocking's purge-and-prune. Twins share the
    nation×segment key always and each balance bucket unless the +1
    cent crosses a bucket boundary, so recall is high but honestly
    < 100% — the query reports (n_truth, n_found, recall_pct) in
    exact integer percent. The evaluation harness every blocking
    deployment runs before trusting its candidate generator."""
    from rdf_diff_store_spark.operators.blocking import meta_blocking

    cust = load_table(spark, sf_dir, "customer")
    # twin balance = cents + 1; every other attribute identical
    cid = F.concat(F.lit("customer:"), F.col("c_custkey").cast("string"))
    tid = F.concat(F.lit("twin:"), F.col("c_custkey").cast("string"))
    arms = []
    for idc, off in ((cid, 0), (tid, 1)):
        arms += [
            cust.select(
                idc.alias("id"),
                F.concat(
                    F.lit("ns:"),
                    F.col("c_nationkey").cast("string"),
                    F.lit(":"),
                    F.col("c_mktsegment"),
                ).alias("block_key"),
            ),
            cust.select(
                idc.alias("id"),
                F.concat(F.lit("b1k:"), F.expr(
                    f"(cast(round(c_acctbal * 100) as bigint) + {100000 + off}) div 1000"
                ).cast("string")).alias("block_key"),
            ),
            cust.select(
                idc.alias("id"),
                F.concat(F.lit("b10k:"), F.expr(
                    f"(cast(round(c_acctbal * 100) as bigint) + {100000 + off}) div 10000"
                ).cast("string")).alias("block_key"),
            ),
        ]
    keys = arms[0]
    for a in arms[1:]:
        keys = keys.unionByName(a)
    cand = meta_blocking(keys, max_block_size=500)
    truth = cust.select(cid.alias("id_a"), tid.alias("id_b"))
    n_truth = truth.count()
    found = cand.join(truth, ["id_a", "id_b"], "left_semi")
    return found.agg(
        F.lit(n_truth).cast("bigint").alias("n_truth"),
        F.count("*").cast("bigint").alias("n_found"),
        F.expr(f"(count(*) * 100) div {n_truth}").cast("bigint").alias("recall_pct"),
    )


_ORACLE_R4["er_blocking_recall"] = """
WITH k AS (
  SELECT DISTINCT id, block_key FROM (
    SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS id,
           'ns:' || CAST(c_nationkey AS VARCHAR) || ':' || c_mktsegment AS block_key
    FROM customer
    UNION ALL
    SELECT 'twin:' || CAST(c_custkey AS VARCHAR),
           'ns:' || CAST(c_nationkey AS VARCHAR) || ':' || c_mktsegment
    FROM customer
    UNION ALL
    SELECT 'customer:' || CAST(c_custkey AS VARCHAR),
           'b1k:' || CAST((CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) // 1000 AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'twin:' || CAST(c_custkey AS VARCHAR),
           'b1k:' || CAST((CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100001) // 1000 AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'customer:' || CAST(c_custkey AS VARCHAR),
           'b10k:' || CAST((CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) // 10000 AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'twin:' || CAST(c_custkey AS VARCHAR),
           'b10k:' || CAST((CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100001) // 10000 AS VARCHAR)
    FROM customer)),
bsize AS (SELECT block_key, COUNT(*) AS bs FROM k GROUP BY block_key),
kept AS (
  SELECT k.id, k.block_key FROM k JOIN bsize USING (block_key)
  WHERE bs >= 2 AND bs <= 500),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS cbs
  FROM kept a JOIN kept b ON a.block_key = b.block_key AND a.id < b.id
  GROUP BY 1, 2),
node_stat AS (
  SELECT id, CAST((SUM(cbs) * 1000000) // COUNT(*) AS BIGINT) AS thr_micro
  FROM (SELECT id_a AS id, cbs FROM pairs
        UNION ALL SELECT id_b, cbs FROM pairs)
  GROUP BY id),
cand AS (
  SELECT p.id_a, p.id_b FROM pairs p
  JOIN node_stat na ON na.id = p.id_a
  JOIN node_stat nb ON nb.id = p.id_b
  WHERE p.cbs * 1000000 >= na.thr_micro OR p.cbs * 1000000 >= nb.thr_micro),
truth AS (
  SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS id_a,
         'twin:' || CAST(c_custkey AS VARCHAR) AS id_b
  FROM customer),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found
       FROM truth t JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b)
SELECT nt.n_truth, nf.n_found,
       CAST((nf.n_found * 100) // nt.n_truth AS BIGINT) AS recall_pct
FROM nt CROSS JOIN nf
"""


def q_kg_walk_cooc(spark, sf_dir):
    """Skip-gram co-occurrence corpus (operators/graph.py::
    walk_cooccurrence over random_walks) — the (center, context)
    pair-count table DeepWalk/node2vec trainers consume, window 2,
    over the same md5-deterministic nation-ring walks as
    kg_random_walks. The whole chain (walk draws included) must
    replay bit-identically for the oracle to match."""
    from rdf_diff_store_spark.operators.graph import walk_cooccurrence

    walks = q_kg_random_walks(spark, sf_dir)
    return walk_cooccurrence(walks, window=2)


def q_doc_textrank_keywords(spark, sf_dir):
    """Corpus TextRank keywords (functions/text.py::textrank_keywords;
    Mihalcea & Tarau EMNLP 2004) — top-30 words by integer PageRank
    over the adjacent-token co-occurrence graph of the documents
    table. The graph-based keyword ranker next to the frequency family
    (tf-idf/PMI/BM25); the word graph is vocabulary-sized however big
    the corpus, so the PageRank loop never sees corpus-scale rows."""
    from rdf_diff_store_spark.functions.text import textrank_keywords

    docs = load_table(spark, sf_dir, "documents")
    return (
        textrank_keywords(docs, iterations=4)
        .orderBy(F.desc("rank_micro"), "word")
        .limit(30)
    )


def _textrank_oracle(iterations: int = 4, damping: int = 85) -> str:
    base = (1_000_000 * (100 - damping)) // 100
    sql = [
        r"""
WITH t AS (
  SELECT doc_id,
         generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) - 1 AS pos,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents),
tt AS (SELECT doc_id, pos, w FROM t WHERE length(w) > 0),
big AS (
  SELECT DISTINCT LEAST(a.w, b.w) AS a, GREATEST(a.w, b.w) AS b
  FROM tt a JOIN tt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.w <> b.w),
edges0 AS (SELECT a AS src, b AS dst FROM big UNION SELECT b, a FROM big),
od AS (SELECT src, count(*) AS outdeg FROM edges0 GROUP BY src),
edges AS (SELECT e.src, e.dst, o.outdeg FROM edges0 e JOIN od o USING (src)),
nodes AS (SELECT src AS node FROM edges0 UNION SELECT dst FROM edges0),
pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes)"""
    ]
    for k in range(iterations):
        sql.append(
            f""",
pr{k + 1} AS (
  SELECT n.node,
         CAST({base} + COALESCE(c.in_micro, 0) AS BIGINT) AS rank_micro
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           SUM((p.rank_micro * {damping}) // (100 * e.outdeg)) AS in_micro
    FROM edges e JOIN pr{k} p ON p.node = e.src
    GROUP BY e.dst) c USING (node))"""
        )
    sql.append(
        f"""
SELECT node AS word, rank_micro FROM pr{iterations}
ORDER BY rank_micro DESC, word LIMIT 30"""
    )
    return "".join(sql)


_ORACLE_R4["doc_textrank_keywords"] = _textrank_oracle()


_ORACLE_R4["kg_walk_cooc"] = _walks_oracle(
    final="""
SELECT LEAST(x.node, y.node) AS node_a,
       GREATEST(x.node, y.node) AS node_b,
       CAST(COUNT(*) AS BIGINT) AS n_cooc
FROM walks x JOIN walks y
  ON x.walk_id = y.walk_id AND y.step > x.step AND y.step <= x.step + 2
GROUP BY 1, 2"""
)


def q_er_meta_blocking(spark, sf_dir):
    """Meta-blocking candidate generation (operators/blocking.py::
    meta_blocking; Papadakis et al. TKDE 2014) — the schema-agnostic
    web-scale ER front-end upstream of pipeline/linking.py's matcher:
    attribute-value blocking keys over customer profiles
    (nation×segment plus two balance-bucket granularities, offset
    non-negative so integer div agrees across engines), block purging
    at 200, CBS edge weights, WNP pruning in integer micro-units.
    Top-100 pairs by (cbs DESC, pair)."""
    from rdf_diff_store_spark.operators.blocking import meta_blocking

    cust = load_table(spark, sf_dir, "customer")
    cid = F.concat(F.lit("customer:"), F.col("c_custkey").cast("string"))
    keys = (
        cust.select(
            cid.alias("id"),
            F.concat(
                F.lit("ns:"),
                F.col("c_nationkey").cast("string"),
                F.lit(":"),
                F.col("c_mktsegment"),
            ).alias("block_key"),
        )
        .unionByName(
            cust.select(
                cid.alias("id"),
                F.concat(F.lit("b1k:"), F.expr(
                    "(cast(round(c_acctbal * 100) as bigint) + 100000) div 1000"
                ).cast("string")).alias("block_key"),
            )
        )
        .unionByName(
            cust.select(
                cid.alias("id"),
                F.concat(F.lit("b10k:"), F.expr(
                    "(cast(round(c_acctbal * 100) as bigint) + 100000) div 10000"
                ).cast("string")).alias("block_key"),
            )
        )
    )
    return (
        meta_blocking(keys, max_block_size=200)
        .orderBy(F.desc("cbs"), "id_a", "id_b")
        .limit(100)
    )


_ORACLE_R4["er_meta_blocking"] = """
WITH k AS (
  SELECT DISTINCT id, block_key FROM (
    SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS id,
           'ns:' || CAST(c_nationkey AS VARCHAR) || ':' || c_mktsegment AS block_key
    FROM customer
    UNION ALL
    SELECT 'customer:' || CAST(c_custkey AS VARCHAR),
           'b1k:' || CAST((CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) // 1000 AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'customer:' || CAST(c_custkey AS VARCHAR),
           'b10k:' || CAST((CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) // 10000 AS VARCHAR)
    FROM customer)),
bsize AS (SELECT block_key, COUNT(*) AS bs FROM k GROUP BY block_key),
kept AS (
  SELECT k.id, k.block_key FROM k JOIN bsize USING (block_key)
  WHERE bs >= 2 AND bs <= 200),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS cbs
  FROM kept a JOIN kept b ON a.block_key = b.block_key AND a.id < b.id
  GROUP BY 1, 2),
node_stat AS (
  SELECT id, CAST((SUM(cbs) * 1000000) // COUNT(*) AS BIGINT) AS thr_micro
  FROM (SELECT id_a AS id, cbs FROM pairs
        UNION ALL SELECT id_b, cbs FROM pairs)
  GROUP BY id)
SELECT p.id_a, p.id_b, p.cbs
FROM pairs p JOIN node_stat na ON na.id = p.id_a
             JOIN node_stat nb ON nb.id = p.id_b
WHERE p.cbs * 1000000 >= na.thr_micro OR p.cbs * 1000000 >= nb.thr_micro
ORDER BY p.cbs DESC, p.id_a, p.id_b LIMIT 100
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is LOAD-BEARING: the driver value-checks only the
    FIRST 50 entries. The r05 window (the FINAL rotation) executes the
    COVERAGE.md triage plan verbatim: (a) there were no r04 red rows,
    (b) ONE representative per operator family that had never seen a
    driver sheet — storage/interchange (rdf_patch_roundtrip,
    snapshots_multi, kg_dict_encode, nquads_roundtrip,
    kg_property_table), entailment (kg_rdfs_entail, kg_owl_entail,
    kg_sameas_canonical), validation (kg_shacl_validate,
    kg_datatype_validate), extraction (kg_jsonld_extract,
    kg_table_extract), fusion (kg_fact_resolution), embeddings
    (kg_transe_round, kg_link_prediction), sketches
    (corpus_hll_distinct, doc_len_quantiles), crawl ops
    (redirect_resolve, robots_url_filter, crawl_batch_delta), graph
    structure (web_scc, web_triangles, web_anf), blocking
    (er_meta_blocking, er_sorted_neighborhood), walks
    (kg_random_walks) — (c) the four queries whose code or oracle
    changed in r05 (web_bowtie → FW-BW SCC, web_harmonic_centrality →
    packed HyperBall registers, event_hopping_windows → DECIMAL-exact
    sums, kg_node2vec_walks → hub-cap-bearing operator), then (d) the
    oldest never-checked rows in registry order. 44 registry entries
    end the project without a driver row (more never-checked rows
    than final-round slots — COVERAGE.md documents the list); every
    one of them is value-checked at two scale factors by
    scripts/check_oracle.py each round and the window replayed
    hostile-TZ by scripts/driver_sim.py."""
    return {
        # ===== r05 first-50 window (the FINAL rotation) =============
        # COVERAGE.md triage executed: no r04 reds existed, so the
        # window holds (a) one representative per operator family that
        # had NEVER seen a driver sheet (storage/interchange,
        # entailment, validation, extraction, fusion, embeddings,
        # sketches, crawl ops, graph structure, blocking, walks,
        # layout - the VERDICT r04 brief-#2 list), (b) the queries
        # whose code or oracle CHANGED this round (FW-BW bowtie,
        # packed-register HyperBall centrality, DECIMAL-exact event
        # sums, node2vec hub cap), and (c) the oldest never-checked
        # rows in registry order. Everything displaced stays value-
        # checked at two scale factors by scripts/check_oracle.py.
        "rdf_patch_roundtrip": q_rdf_patch_roundtrip,
        "snapshots_multi": q_snapshots_multi,
        "kg_dict_encode": q_kg_dict_encode,
        "nquads_roundtrip": q_nquads_roundtrip,
        "kg_property_table": q_kg_property_table,
        "kg_rdfs_entail": q_kg_rdfs_entail,
        "kg_owl_entail": q_kg_owl_entail,
        "kg_sameas_canonical": q_kg_sameas_canonical,
        "kg_shacl_validate": q_kg_shacl_validate,
        "kg_datatype_validate": q_kg_datatype_validate,
        "kg_jsonld_extract": q_kg_jsonld_extract,
        "kg_table_extract": q_kg_table_extract,
        "kg_fact_resolution": q_kg_fact_resolution,
        "kg_transe_round": q_kg_transe_round,
        "kg_link_prediction": q_kg_link_prediction,
        "corpus_hll_distinct": q_corpus_hll_distinct,
        "doc_len_quantiles": q_doc_len_quantiles,
        "redirect_resolve": q_redirect_resolve,
        "robots_url_filter": q_robots_url_filter,
        "crawl_batch_delta": q_crawl_batch_delta,
        "web_scc": q_web_scc,
        "web_triangles": q_web_triangles,
        "web_anf": q_web_anf,
        "er_meta_blocking": q_er_meta_blocking,
        "er_sorted_neighborhood": q_er_sorted_neighborhood,
        "kg_random_walks": q_kg_random_walks,
        "web_bowtie": q_web_bowtie,
        "web_harmonic_centrality": q_web_harmonic_centrality,
        "event_hopping_windows": q_event_hopping_windows,
        "kg_node2vec_walks": q_kg_node2vec_walks,
        "doc_bloom_decontaminate": q_doc_bloom_decontaminate,
        "corpus_bpe_pairs": q_corpus_bpe_pairs,
        "doc_bpe_encode": q_doc_bpe_encode,
        "warc_roundtrip": q_warc_roundtrip,
        "doc_quality_classifier": q_doc_quality_classifier,
        "kg_communities": q_kg_communities,
        "doc_source_cap": q_doc_source_cap,
        "web_link_graph": q_web_link_graph,
        "crawl_change_rate": q_crawl_change_rate,
        "inverted_postings": q_inverted_postings,
        "anchor_text_top": q_anchor_text_top,
        "web_hits": q_web_hits,
        "crawl_frontier_schedule": q_crawl_frontier_schedule,
        "canonical_resolve": q_canonical_resolve,
        "sitemap_discovery": q_sitemap_discovery,
        "doc_boilerplate_strip": q_doc_boilerplate_strip,
        "doc_phrase_search": q_doc_phrase_search,
        "host_quality_rollup": q_host_quality_rollup,
        "kg_ifp_resolution": q_kg_ifp_resolution,
        "doc_nfc_normalize": q_doc_nfc_normalize,
        # ================= end of the 50-row driver window ===========
        # every entry below has a driver-green row in r01-r04 or is
        # listed in COVERAGE.md as local-oracle-only (44 rows; more
        # never-checked entries than final-round slots - documented)
        "tpch_q2": q_tpch_q2,
        "tpch_q8": q_tpch_q8,
        "tpch_q11": q_tpch_q11,
        "tpch_q20": q_tpch_q20,
        "tpch_q21": q_tpch_q21,
        "doc_chunking": q_doc_chunking,
        "sparql_text_group_expr": q_sparql_text_group_expr,
        "sparql_text_order_hidden": q_sparql_text_order_hidden,
        "sparql_text_graph_path": q_sparql_text_graph_path,
        "rollup_agg": q_rollup_agg,
        "url_normalize": q_url_normalize,
        "sparql_text_describe_var": q_sparql_text_describe_var,
        "doc_unigram_logprob": q_doc_unigram_logprob,
        "doc_simhash_pairs": q_doc_simhash_pairs,
        "sparql_text_order_agg": q_sparql_text_order_agg,
        "sparql_text_construct_where": q_sparql_text_construct_where,
        "entity_link_scores": q_entity_link_scores,
        "sparql_update_roundtrip": q_sparql_update_roundtrip,
        "doc_tfidf_topk": q_doc_tfidf_topk,
        "corpus_pmi_bigrams": q_corpus_pmi_bigrams,
        "sparql_text_typed_literal": q_sparql_text_typed_literal,
        "version_deltas": q_version_deltas,
        "image_features_png": q_image_features_png,
        "audio_features_wav": q_audio_features_wav,
        "doc_bm25_topk": q_doc_bm25_topk,
        "expire_versions": q_expire_versions,
        "sparql_numeric_fns": q_sparql_numeric_fns,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "sparql_text_typed_compare": q_sparql_text_typed_compare,
        "sparql_text_sameterm_ctor": q_sparql_text_sameterm_ctor,
        "sparql_text_typed_temporal": q_sparql_text_typed_temporal,
        "sparql_update_using": q_sparql_update_using,
        "sparql_text_ebv": q_sparql_text_ebv,
        "doc_neardup_clusters": q_doc_neardup_clusters,
        "doc_sequence_pack": q_doc_sequence_pack,
        "doc_gopher_filter": q_doc_gopher_filter,
        "dataset_mixture_sample": q_dataset_mixture_sample,
        "corpus_kmv_distinct": q_corpus_kmv_distinct,
        "doc_priority_sample": q_doc_priority_sample,
        "doc_pii_redact": q_doc_pii_redact,
        "sparql_text_strlang_dyn": q_sparql_text_strlang_dyn,
        "doc_shared_spans": q_doc_shared_spans,
        "doc_ppl_buckets": q_doc_ppl_buckets,
        "corpus_countmin_topk": q_corpus_countmin_topk,
        "doc_dsir_weights": q_doc_dsir_weights,
        "range_join_intervals": q_range_join_intervals,
        "asof_join_purchase": q_asof_join_purchase,
        "kg_pagerank": q_kg_pagerank,
        "bucketed_snapshot": q_bucketed_snapshot,
        "web_kcore": q_web_kcore,
        "web_mirror_hosts": q_web_mirror_hosts,
        "kg_entail_delta": q_kg_entail_delta,
        "kg_microdata_extract": q_kg_microdata_extract,
        "kg_rdfa_extract": q_kg_rdfa_extract,
        "kg_skolemize": q_kg_skolemize,
        "kg_fact_support": q_kg_fact_support,
        "kg_source_trust": q_kg_source_trust,
        "kg_vocab_align": q_kg_vocab_align,
        "kg_web_ingest": q_kg_web_ingest,
        "kg_recrawl_diff": q_kg_recrawl_diff,
        "web_page_metadata": q_web_page_metadata,
        "web_feed_entries": q_web_feed_entries,
        "kg_void_summary": q_kg_void_summary,
        "kg_fact_intervals": q_kg_fact_intervals,
        "kg_type_inference": q_kg_type_inference,
        "kg_void_props": q_kg_void_props,
        "kg_void_classes": q_kg_void_classes,
        "entity_link_blocked": q_entity_link_blocked,
        "kg_char_sets": q_kg_char_sets,
        "kg_summary_graph": q_kg_summary_graph,
        "kg_graph_hash": q_kg_graph_hash,
        "kg_hearst_hypernyms": q_kg_hearst_hypernyms,
        "kg_ppr_relatedness": q_kg_ppr_relatedness,
        "kg_entity_summary": q_kg_entity_summary,
        "web_pld_rollup": q_web_pld_rollup,
        "kg_table_schema_align": q_kg_table_schema_align,
        "kg_star_count_from_stats": q_kg_star_count_from_stats,
        "kg_prov_lineage": q_kg_prov_lineage,
        "kg_ra_linkpred": q_kg_ra_linkpred,
        "kg_hop_distance": q_kg_hop_distance,
        "doc_containment_topk": q_doc_containment_topk,
        "web_dust_rules": q_web_dust_rules,
        "web_host_graph": q_web_host_graph,
        "web_clustering_coeff": q_web_clustering_coeff,
        "snapshot_triple_prov": q_snapshot_triple_prov,
        "web_neighborhood_fn": q_web_neighborhood_fn,
        "web_degree_dist": q_web_degree_dist,
        "version_intervals": q_version_intervals,
        "kg_zorder_key": q_kg_zorder_key,
        "web_effective_diameter": q_web_effective_diameter,
        "kg_walk_cooc": q_kg_walk_cooc,
        "er_blocking_recall": q_er_blocking_recall,
        "doc_textrank_keywords": q_doc_textrank_keywords,
        "sparql_text_bind_values": q_sparql_text_bind_values,
        "sparql_text_exists": q_sparql_text_exists,
        "embedding_near_dup": q_embedding_near_dup,
        "kg_pipeline": q_kg_pipeline,
        "diff_triples": q_diff_triples,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "snapshot_at": q_snapshot_at,
        "sparql_path_plus": q_sparql_path_plus,
        "sparql_text_group_agg": q_sparql_text_group_agg,
        "sparql_text_select": q_sparql_text_select,
        "sparql_text_minus": q_sparql_text_minus,
        "sparql_text_path": q_sparql_text_path,
        "sparql_text_ask": q_sparql_text_ask,
        "sparql_text_subselect": q_sparql_text_subselect,
        "sparql_text_graph": q_sparql_text_graph,
        "ann_cosine_topk": q_ann_cosine_topk,
        "sessionize": q_sessionize,
        "sparql_text_shared_obj_var": q_sparql_text_shared_obj_var,
        "sparql_text_values_undef_first": q_sparql_text_values_undef_first,
        "sparql_text_path_seeded": q_sparql_text_path_seeded,
        "sparql_text_builtins_hash": q_sparql_text_builtins_hash,
        "sparql_text_builtins_datetime": q_sparql_text_builtins_datetime,
        "sparql_text_builtins_str": q_sparql_text_builtins_str,
        "sparql_text_order_expr": q_sparql_text_order_expr,
        "sparql_text_blank_node": q_sparql_text_blank_node,
        "sparql_text_isiri_sameterm": q_sparql_text_isiri_sameterm,
        "turtle_base_escapes": q_turtle_base_escapes,
        "ngram_jaccard_topk": q_ngram_jaccard_topk,
        "doc_token_count_bpe": q_doc_token_count_bpe,
        "doc_winnow_fingerprints": q_doc_winnow_fingerprints,
        "doc_lang_id": q_doc_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_paragraph_dedup": q_doc_paragraph_dedup,
        "doc_repetition_ratio": q_doc_repetition_ratio,
        "graph_pagerank": q_graph_pagerank,
        "graph_triangles": q_graph_triangles,
        "window_ntile": q_window_ntile,
        "session_window_agg": q_session_window_agg,
        "doc_stratified_sample": q_doc_stratified_sample,
        "doc_decontaminate": q_doc_decontaminate,
        "doc_simhash_portable": q_doc_simhash_portable,
        "embedding_quantize_int8": q_embedding_quantize_int8,
        "corpus_vocab_topk": q_corpus_vocab_topk,
        "sql_over_snapshot": q_sql_over_snapshot,
        "tpch_q4": q_tpch_q4,
        "tpch_q16": q_tpch_q16,
        "tpch_q19": q_tpch_q19,
        "tpch_q10": q_tpch_q10,
        "tpch_q12": q_tpch_q12,
        "tpch_q14": q_tpch_q14,
        "tpch_q18": q_tpch_q18,
        "tpch_q7": q_tpch_q7,
        "tpch_q9": q_tpch_q9,
        "tpch_q13": q_tpch_q13,
        "tpch_q15": q_tpch_q15,
        "tpch_q17": q_tpch_q17,
        "tpch_q22": q_tpch_q22,
        "sparql_count_distinct": q_sparql_count_distinct,
        "sparql_if_coalesce_in": q_sparql_if_coalesce_in,
        "sparql_describe": q_sparql_describe,
        "event_time_windows": q_event_time_windows,
        "snapshot_pre_history": q_snapshot_pre_history,
        "diff_versions": q_diff_versions,
        "metadata": q_metadata,
        "compact_versions": q_compact_versions,
        "sparql_bgp_join": q_sparql_bgp_join,
        "sparql_optional": q_sparql_optional,
        "sparql_union": q_sparql_union,
        "sparql_minus": q_sparql_minus,
        "sparql_exists": q_sparql_exists,
        "sparql_group_agg": q_sparql_group_agg,
        "sparql_group_concat": q_sparql_group_concat,
        "sparql_distinct_order_limit": q_sparql_distinct_order_limit,
        "sparql_values_bind": q_sparql_values_bind,
        "sparql_filter_regex": q_sparql_filter_regex,
        "sparql_ask": q_sparql_ask,
        "sparql_construct": q_sparql_construct,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "tpch_q6": q_tpch_q6,
        "window_topk_per_group": q_window_topk_per_group,
        "doc_token_count": q_doc_token_count,
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_lang_stats": q_doc_lang_stats,
        "doc_quality_score": q_doc_quality_score,
        "training_set_selection": q_training_set_selection,
        "version_history": q_version_history,
        "snapshot_as_turtle": q_snapshot_as_turtle,
        "ntriples_ingest": q_ntriples_ingest,
        "sparql_path_alt_inverse": q_sparql_path_alt_inverse,
        "sparql_path_star": q_sparql_path_star,
        "sparql_optional_filter": q_sparql_optional_filter,
        "sparql_sample_min": q_sparql_sample_min,
        "cube_agg": q_cube_agg,
        "asof_join": q_asof_join,
        "string_date_fns": q_string_date_fns,
        "hash_fns": q_hash_fns,
        "subquery_avg": q_subquery_avg,
        "set_ops": q_set_ops,
        "events_json": q_events_json,
        "window_running_sum": q_window_running_sum,
        "percentile": q_percentile,
        "pivot_status": q_pivot_status,
        "sparql_text_construct": q_sparql_text_construct,
        "sparql_text_offset": q_sparql_text_offset,
        "sparql_text_describe": q_sparql_text_describe,
        "sparql_over_snapshot": q_sparql_over_snapshot,
    }


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(_ORACLE_VERSIONED)
    out.update(_ORACLE_SPARQL)
    out.update(_ORACLE_SPARQL_TEXT)
    out.update(_ORACLE_RELATIONAL)
    out.update(_ORACLE_DOCS)
    out.update(_ORACLE_EMB)
    out.update(_ORACLE_VERSIONED_EXTRA)
    out.update(_ORACLE_SPARQL_EXTRA)
    out.update(_ORACLE_RELATIONAL_EXTRA)
    out.update(_ORACLE_DOCS_EXTRA)
    out.update(_ORACLE_BREADTH)
    out.update(_ORACLE_PIPELINE_EXTRA)
    out.update(_ORACLE_R3)
    out.update(_ORACLE_TPCH_TAIL)
    out.update(_ORACLE_R4)
    # the session-19 ring-graph oracles share one edge fixture; the
    # builders emit a placeholder so the SQL lives in exactly one place
    return {k: v.replace("__RING_E__", _RING_INREG_SQL) for k, v in out.items()}
