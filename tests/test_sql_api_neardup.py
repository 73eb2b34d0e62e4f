"""SQL-text query surface (O-14 parity) and embedding near-dup tests."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F

from rdf_diff_store_spark.functions.results import to_sparql_json
from rdf_diff_store_spark.operators.dedup import embedding_near_dup
from rdf_diff_store_spark.operators.versioned import append_updates
from rdf_diff_store_spark.plans.sql_api import execute_sql
from rdf_diff_store_spark.schemas import CHANGELOG, GRAPH_UPDATES

TTL = '@prefix ex: <http://ex.org/> .\nex:s ex:author "A" ; ex:title "T" .'


def _changelog(spark):
    ups = spark.createDataFrame(
        [
            ("g1", dt.datetime(2024, 1, 1), "add", TTL, "text/turtle"),
            ("g2", dt.datetime(2024, 1, 5), "add", TTL, "text/turtle"),
        ],
        GRAPH_UPDATES,
    )
    return append_updates(spark.createDataFrame([], CHANGELOG), ups)


def test_execute_sql_text_over_snapshot(spark):
    log = _changelog(spark)
    # query string against the as-of views, like /api/sparql/{ts}
    df = execute_sql(
        spark, log, "2024-01-03 00:00:00",
        "SELECT pred, count(*) AS n FROM snapshot_triples GROUP BY pred ORDER BY pred",
    )
    rows = df.collect()
    assert [(r.pred, r.n) for r in rows] == [
        ("http://ex.org/author", 1),
        ("http://ex.org/title", 1),
    ]
    # later ts sees both graphs
    df2 = execute_sql(
        spark, log, "2024-02-01 00:00:00", "SELECT count(*) AS n FROM snapshot"
    )
    assert df2.first().n == 2


def test_execute_sql_json_envelope(spark):
    log = _changelog(spark)
    doc = json.loads(
        to_sparql_json(
            execute_sql(
                spark, log, "2024-02-01 00:00:00",
                "SELECT subj, obj FROM snapshot_triples WHERE pred LIKE '%author' LIMIT 1",
            )
        )
    )
    b = doc["results"]["bindings"][0]
    assert b["subj"]["type"] == "uri"
    assert b["obj"] == {"type": "literal", "value": "A"}


def test_embedding_near_dup_bucketed_catches_true_dups(spark):
    """IVF-bucketed near-dup must find genuinely duplicated vectors
    (cos = 1) — they always share the argmax cell."""
    base = [float(i % 7) - 3.0 for i in range(16)]
    rows = [(1, base, 0), (2, base, 0), (3, [v * 2 for v in base], 0), (4, [-v for v in base], 0)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = embedding_near_dup(emb, threshold=0.99, dim=16, n_centroids=4).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # 1~2 identical, 3 is a scaled copy (cos=1); 4 is the negation (cos=-1, excluded)
    assert {(1, 2), (1, 3), (2, 3)} <= found
    assert all(b != 4 and a != 4 for a, b in found)
    # exact path agrees
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(emb, threshold=0.99, exact=True).collect()
    }
    assert found == exact
