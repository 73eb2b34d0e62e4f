"""Record the tiny event log that test_eventlog.py reads.

Runs two job groups on local[2] — `turtle.parse#0` (the package's
mapInPandas N-Triples parse, then an aggregation) and `plain#0` (a
JVM-only range count) — and keeps only the events and keys the reader
uses, so the fixture carries no host paths or settings.

    python3 perfbench/record_fixture.py
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixtures", "tiny_eventlog.jsonl")

KEEP_PROPERTIES = ("spark.jobGroup.id", "spark.sql.execution.id")


def trim(ev: dict) -> dict | None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        return {
            "Event": kind,
            "Job ID": ev["Job ID"],
            "Submission Time": ev["Submission Time"],
            "Stage IDs": ev["Stage IDs"],
            "Properties": {k: props[k] for k in KEEP_PROPERTIES if k in props},
        }
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": ev["Job ID"], "Completion Time": ev["Completion Time"]}
    if kind == "SparkListenerTaskEnd":
        info = ev["Task Info"]
        return {
            "Event": kind,
            "Stage ID": ev["Stage ID"],
            "Task Info": {k: info[k] for k in ("Task ID", "Launch Time", "Finish Time")},
            "Task Metrics": ev["Task Metrics"],
        }
    if kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        return {
            "Event": kind,
            "Stage Info": {
                **{k: info[k] for k in ("Stage ID", "Number of Tasks", "Submission Time", "Completion Time")},
                "Accumulables": [
                    {k: a[k] for k in ("ID", "Name", "Value", "Metadata")}
                    for a in info["Accumulables"]
                    if a.get("Metadata") == "sql"
                ],
            },
        }
    return None


def main() -> None:
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from pyspark.sql import functions as F

    from rdf_diff_store_spark.functions.turtle import parse_triples
    from rdf_diff_store_spark.session import get_spark

    log_dir = tempfile.mkdtemp(dir=HERE)
    try:
        spark = get_spark(
            "tiny",
            cpus=2,
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            },
        )
        sc = spark.sparkContext
        docs = spark.range(20).select(
            F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("graph_id"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.concat(
                F.lit("<http://ex.org/s"), F.col("id").cast("string"), F.lit('> <http://ex.org/p> "v" .')
            ).alias("payload"),
        )
        sc.setJobGroup("turtle.parse#0", "turtle.parse#0")
        parse_triples(docs.repartition(2)).groupBy("graph_id").count().collect()
        sc.setJobGroup("plain#0", "plain#0")
        spark.range(100).repartition(2).count()
        spark.stop()
        (src,) = glob.glob(os.path.join(log_dir, "*"))
        os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
        with open(src, encoding="utf-8") as fin, open(FIXTURE, "w", encoding="utf-8") as fout:
            for line in fin:
                kept = trim(json.loads(line))
                if kept is not None:
                    fout.write(json.dumps(kept) + "\n")
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
