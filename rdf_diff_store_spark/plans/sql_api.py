"""SQL-text query surface over snapshots — O-14 parity.

The reference's /api/sparql/{ts} accepts an arbitrary query STRING and
evaluates it against the snapshot store (src/query.rs:102-114,
src/bin/rdf-query-cache.rs:44-53). The Spark-native equivalent: given
a changelog and a timestamp, register the snapshot (graph-level and
triple-level) as temp views and run any Spark SQL text against them —
Catalyst compiles the text to the same plans the DataFrame API builds.

    result_df = execute_sql(spark, changelog, "2024-01-15 00:00:00",
        "SELECT pred, count(*) AS n FROM snapshot_triples GROUP BY pred")
    json_text = to_sparql_json(result_df)  # functions/results.py
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def register_snapshot_views(
    spark: SparkSession, changelog: DataFrame, ts: str, prefix: str = "snapshot"
) -> None:
    """Create `{prefix}` (graph_id, ts, payload, content_hash) and
    `{prefix}_triples` (graph_id, ts, subj, pred, obj, obj_dt,
    obj_lang) temp views for the as-of state."""
    from rdf_diff_store_spark.operators.versioned import snapshot_at, snapshot_triples

    snapshot_at(changelog, ts).createOrReplaceTempView(prefix)
    snapshot_triples(changelog, ts).createOrReplaceTempView(f"{prefix}_triples")


def execute_sql(
    spark: SparkSession, changelog: DataFrame, ts: str, sql: str
) -> DataFrame:
    """Evaluate a SQL query string against the snapshot at `ts`."""
    register_snapshot_views(spark, changelog, ts)
    return spark.sql(sql)
