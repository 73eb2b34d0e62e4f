"""The benchmark workloads: one per kind of user of the store —
asof_read (query service), ingest_stream (writer), kg_build (KG
construction) — and store, one client issuing the first two's requests in
turn.

Each is a closed loop with one client. A workload object is built once
per run from the seed and a work directory, then driven by run.py:

    setup(spark)        make the inputs, run one discarded warm-up op
                        per op kind
    next_request()      client side: draw the next request (untimed)
    op(req)             the timed operation; returns its wall seconds
    decompose(req)      traced runs only: force each layer's prefix of
                        the same request under its own job group
    verify()            after the window: check every recorded result
                        against an oracle; returns (attempted, failed)

Layer calls run inside `self.span(label)`, a no-op unless run.py
installs its tracer. The program only ever sees the generated inputs;
the seed stays in this file.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import statistics
import time

import numpy as np
from proc import machine_busy_s

DAY_US = 86_400 * 10**6


def force(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def no_span(label: str):
    return contextlib.nullcontext()


def span_walls(calls: dict, label: str) -> list[float]:
    return [c["wall_s"] for c in calls.get(label, [])]


def row_digest(rows) -> tuple[int, int]:
    """(row count, order-independent hash) of a result's rows."""
    h = 0
    for r in rows:
        key = "\x1f".join("\\N" if v is None else str(v) for v in r)
        h += int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "little")
    return len(rows), h % 2**64


class Workload:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.span = no_span
        self._reset_samples()

    def _reset_samples(self) -> None:
        self.samples: dict[str, list[float]] = {}  # wall of each step, by kind
        self.cpu: dict[str, list[float]] = {}  # CPU seconds of each step, by kind

    def _step(self, kind: str, fn):
        """Run one step of an op and record its wall and CPU time;
        returns (fn's result, wall)."""
        c0 = machine_busy_s()
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        self.cpu.setdefault(kind, []).append(machine_busy_s() - c0)
        self.samples.setdefault(kind, []).append(wall)
        return out, wall

    def extra(self) -> list[tuple]:
        """Workload-specific (name, value, unit, samples) report rows."""
        return []

    def cpu_samples(self) -> dict[str, list[float]]:
        return self.cpu

    def op_cpu(self) -> float:
        """CPU seconds of the median op: the sum of each step kind's
        median, so that one step's outlier in one op does not move it."""
        return sum(statistics.median(xs) for xs in self.cpu_samples().values())

    def _fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


# ---------------------------------------------------------------------------
# asof_read: the rdf-query-cache request lifecycle


N_VERSIONS = 100_000  # sf0.1 events
N_USERS = 1_500
SPAN_DAYS = 30
DIFF_SPAN_S = 86_400
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])

_SNAPSHOT_SQL = """
WITH ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY graph_id
      ORDER BY ts DESC, op DESC, coalesce(content_hash, '') DESC) AS rn
  FROM changelog WHERE ts <= TIMESTAMP '{t}'
)
SELECT graph_id, payload, content_hash FROM ranked WHERE rn = 1 AND op <> 'delete'
"""
_SUBJ = "regexp_extract(payload, '^<([^>]*)>', 1)"
_OBJ = "regexp_extract(payload, '\"([^\"]*)\"', 1)"

# (SPARQL text, DuckDB twin over the snapshot `snap`), same column order
SHAPES = (
    (
        "SELECT ?s ?v WHERE { ?s <http://ex.org/value> ?v . FILTER (?v >= 30000) }",
        f"SELECT {_SUBJ} AS s, {_OBJ} AS v FROM snap WHERE CAST({_OBJ} AS DOUBLE) >= 30000",
    ),
    (
        "SELECT ?pred (COUNT(?s) AS ?n_triples) (COUNT(DISTINCT ?s) AS ?n_subjects) "
        "WHERE { ?s ?pred ?o } GROUP BY ?pred",
        f"SELECT 'http://ex.org/value' AS pred, count(*) AS n_triples, "
        f"count(DISTINCT {_SUBJ}) AS n_subjects FROM snap HAVING count(*) > 0",
    ),
    (
        "SELECT ?g ?v WHERE { GRAPH ?g { ?s <http://ex.org/value> ?v . FILTER (?v < 5000) } }",
        f"SELECT graph_id AS g, {_OBJ} AS v FROM snap WHERE CAST({_OBJ} AS DOUBLE) < 5000",
    ),
)
DIFF_COLS = ("graph_id", "subj", "pred", "obj", "change")
_DIFF_SQL = f"""
WITH s1 AS (SELECT graph_id, {_SUBJ} AS subj,
                   regexp_extract(payload, '> <([^>]*)>', 1) AS pred, {_OBJ} AS obj
            FROM ({{s1}})),
     s2 AS (SELECT graph_id, {_SUBJ} AS subj,
                   regexp_extract(payload, '> <([^>]*)>', 1) AS pred, {_OBJ} AS obj
            FROM ({{s2}}))
SELECT graph_id, subj, pred, obj, 'added' AS change FROM s2
WHERE NOT EXISTS (SELECT 1 FROM s1 WHERE s1.graph_id = s2.graph_id
                  AND s1.subj = s2.subj AND s1.pred = s2.pred AND s1.obj = s2.obj)
UNION ALL
SELECT graph_id, subj, pred, obj, 'removed' AS change FROM s1
WHERE NOT EXISTS (SELECT 1 FROM s2 WHERE s2.graph_id = s1.graph_id
                  AND s2.subj = s1.subj AND s2.pred = s1.pred AND s2.obj = s1.obj)
"""


def write_events(path: str, seed: int) -> tuple[int, int]:
    """Seeded events table in the shape of TESTDATA.md's `events`;
    returns its (min, max) ts in epoch seconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 0])
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, SPAN_DAYS * DAY_US, N_VERSIONS))
    table = pa.table(
        {
            "event_id": np.arange(N_VERSIONS, dtype=np.int64),
            "ts": pa.array(base + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, N_VERSIONS),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), N_VERSIONS)],
            "value": rng.integers(0, 56_022, N_VERSIONS) / 100.0,
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "events.parquet"))
    epoch = int((base - np.datetime64("1970-01-01T00:00:00", "us")) // np.timedelta64(1, "s"))
    return epoch + int(offs[0] // 10**6), epoch + int(offs[-1] // 10**6) + 1


def _ts_str(epoch_s: int) -> str:
    return str(np.datetime64(epoch_s, "s")).replace("T", " ")


class AsofRead(Workload):
    """Alternating SPARQL-over-snapshot and triple-level diff requests at
    seeded, distinct probe times over the whole changelog span."""

    def setup(self, spark) -> None:
        self.spark = spark
        self.sf_dir = os.path.join(self.work, "asof")
        self.lo, self.hi = write_events(self.sf_dir, self.seed)
        self.rng = np.random.default_rng([self.seed, 1])
        self.shape_order = self.rng.permutation(len(SHAPES))
        self.used: set[int] = set()
        self.records: list[tuple] = []
        self._reset_samples()
        self.diff_share: list[float] = []
        mid = (self.lo + self.hi) // 2  # warm-up: one query, one diff
        self._query(_ts_str(mid), int(self.shape_order[0]))
        self._diff(_ts_str(mid - DIFF_SPAN_S), _ts_str(mid))

    def _probe(self, hi: int) -> int:
        while True:
            t = int(self.rng.integers(self.lo, hi))
            if t not in self.used:
                self.used.add(t)
                return t

    def next_request(self):
        shape = int(self.shape_order[len(self.records) // 2 % len(SHAPES)])
        # a diff spans one day, so every diff parses a similar share of
        # the graphs whatever the seed
        t1 = self._probe(self.hi - DIFF_SPAN_S)
        return _ts_str(self._probe(self.hi)), shape, _ts_str(t1), _ts_str(t1 + DIFF_SPAN_S)

    def _load(self):
        from rdf_diff_store_spark.sources.relational import changelog_from_events

        with self.span("relational.load"):
            return changelog_from_events(self.spark, self.sf_dir)

    def _query(self, t: str, shape: int):
        from rdf_diff_store_spark.operators.versioned import snapshot_triples
        from rdf_diff_store_spark.plans.sparql_text import sparql_query

        cl = self._load()
        with self.span("versioned.plan"):
            triples = snapshot_triples(cl, t)
        with self.span("sparql_text.compile"):
            result = sparql_query(triples, SHAPES[shape][0])
        with self.span("sparql_text.exec"):
            return result.collect()

    def _diff(self, t1: str, t2: str):
        from rdf_diff_store_spark.operators.versioned import diff

        cl = self._load()
        with self.span("versioned.diff"):
            return diff(cl, t1, t2).select(*DIFF_COLS).collect()

    def op(self, req) -> float:
        t, shape, t1, t2 = req
        rows, query_wall = self._step("query", lambda: self._query(t, shape))
        drows, diff_wall = self._step("diff", lambda: self._diff(t1, t2))
        self.records.append(("query", shape, t, row_digest(rows)))
        self.records.append(("diff", None, (t1, t2), row_digest(drows)))
        return query_wall + diff_wall

    def decompose(self, req) -> None:
        """Forced prefixes of the query chain changelog → snapshot_at →
        parse (each built before its span, as the op builds its plan
        before running it), then the graphs the diff has to parse."""
        from rdf_diff_store_spark.operators.versioned import diff, snapshot_at, snapshot_triples

        t, _, t1, t2 = req
        cl = self._load()
        with self.span("versioned.plan"):
            triples = snapshot_triples(cl, t)
        snap = snapshot_at(cl, t)
        with self.span("relational.changelog"):
            force(cl)
        with self.span("versioned.snapshot"):
            force(snap)
        with self.span("turtle.parse"):
            force(triples)
        with self.span("versioned.diff_share"):
            changed = diff(cl, t1, t2, on_triples=False).select("graph_id").distinct().count()
            live = (
                snapshot_at(cl, t1).select("graph_id")
                .union(snapshot_at(cl, t2).select("graph_id"))
                .distinct()
                .count()
            )
        self.diff_share.append(changed / max(live, 1))

    def verify(self) -> tuple[int, int]:
        """Every request's digest against DuckDB over
        CHANGELOG_FROM_EVENTS_SQL, in the shape of
        `__spark_entry__._snapshot_sql`."""
        import duckdb

        from rdf_diff_store_spark.sources.relational import CHANGELOG_FROM_EVENTS_SQL

        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "events.parquet")
            con.execute(f"CREATE TABLE events AS SELECT * FROM read_parquet('{path}')")
            con.execute(f"CREATE TABLE changelog AS {CHANGELOG_FROM_EVENTS_SQL}")
            failed = 0
            for kind, shape, probe, got in self.records:
                if kind == "query":
                    sql = f"WITH snap AS ({_SNAPSHOT_SQL.format(t=probe)}) {SHAPES[shape][1]}"
                else:
                    sql = _DIFF_SQL.format(
                        s1=_SNAPSHOT_SQL.format(t=probe[0]), s2=_SNAPSHOT_SQL.format(t=probe[1])
                    )
                failed += row_digest(con.execute(sql).fetchall()) != got
        finally:
            con.close()
        return len(self.records), failed

    def layer_metrics(self, calls: dict) -> dict:
        def walls(label):
            return span_walls(calls, label)

        cl, snap, parse = walls("relational.changelog"), walls("versioned.snapshot"), walls("turtle.parse")
        exec_, diff_ = walls("sparql_text.exec"), walls("versioned.diff")
        # the op's exec/diff calls pair with the decomposition of the
        # same request; warm-up calls were made before tracing started
        py = [
            a.get("python_worker_s", 0.0) + b.get("python_worker_s", 0.0)
            for a, b in zip(calls.get("turtle.parse", []), calls.get("versioned.diff", []))
        ]
        sent = [
            a.get("python_bytes_sent", 0.0) + b.get("python_bytes_sent", 0.0)
            for a, b in zip(calls.get("turtle.parse", []), calls.get("versioned.diff", []))
        ]
        return {
            "relational.load_s": statistics.median(walls("relational.load")),
            "versioned.plan_s": statistics.median(walls("versioned.plan")),
            "relational.changelog_s": statistics.median(cl),
            "versioned.snapshot_s": statistics.median(s - c for s, c in zip(snap, cl)),
            "turtle.parse_s": statistics.median(p - s for p, s in zip(parse, snap)),
            "sparql_text.compile_s": statistics.median(walls("sparql_text.compile")),
            "sparql_text.exec_s": statistics.median(e - p for e, p in zip(exec_, parse)),
            "versioned.diff_s": statistics.median(d - c for d, c in zip(diff_, cl)),
            "versioned.diff_changed_share": statistics.median(self.diff_share),
            "turtle.python_worker_s": statistics.median(py),
            "turtle.python_bytes_sent": statistics.median(sent),
        }

    def table(self) -> list[tuple]:
        return [
            ("query_p50_s", "s", self.samples["query"], "p50"),
            ("query_tail_s", "s", self.samples["query"], "tail"),
            ("diff_p50_s", "s", self.samples["diff"], "p50"),
            ("diff_tail_s", "s", self.samples["diff"], "tail"),
        ]


# ---------------------------------------------------------------------------
# ingest_stream: the rdf-diff-writer analog


N_GRAPHS = 4_000
BATCH_ROWS = 4_000


def turtle_doc(g: int, v: int, resend: bool) -> str:
    """Non-canonical Turtle for version v of graph g. The re-send form
    uses other prefix names and term order; both canonicalize to the
    same N-Triples."""
    a = (g * 7 + v * 13) % 997
    if resend:
        return (
            "@prefix e: <http://ex.org/> .\n"
            "@prefix x: <http://www.w3.org/2001/XMLSchema#> .\n"
            f"e:g{g} e:links e:n{a + 2}, e:n{a + 1}, e:n{a} ;\n"
            f'    e:version "{v}"^^x:integer ;\n'
            f'    e:label "graph {g} v{v}"@en .\n'
        )
    return (
        "@prefix ex: <http://ex.org/> .\n"
        "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
        f'ex:g{g} ex:label "graph {g} v{v}"@en ;\n'
        f'    ex:version "{v}"^^xsd:integer ;\n'
        f"    ex:links ex:n{a}, ex:n{a + 1}, ex:n{a + 2} .\n"
    )


class BatchStream:
    """Seeded client of the writer: micro-batches of distinct graphs,
    each row a new version, a content re-send or a tombstone. Shares
    are drawn from the seed; timestamps rise within and across batches
    (the reference's in-order contract)."""

    def __init__(self, seed_seq):
        self.rng = np.random.default_rng(seed_seq)
        self.resend_share = float(self.rng.uniform(0.15, 0.25))
        self.tombstone_share = float(self.rng.uniform(0.08, 0.12))
        self.version = np.zeros(N_GRAPHS, dtype=np.int64)
        self.live = np.zeros(N_GRAPHS, dtype=bool)
        self.n = 0

    def next_pandas(self):
        import pandas as pd

        ids = self.rng.choice(N_GRAPHS, BATCH_ROWS, replace=False)
        u = self.rng.random(BATCH_ROWS)
        base = np.datetime64("2024-01-01T00:00:00", "ms") + np.timedelta64(60_000 * self.n, "ms")
        ops, payloads = [], []
        for g, x in zip(ids.tolist(), u.tolist()):
            if self.live[g] and x < self.tombstone_share:
                self.live[g] = False
                ops.append("delete")
                payloads.append(None)
            elif self.live[g] and x < self.tombstone_share + self.resend_share:
                ops.append("add")
                payloads.append(turtle_doc(g, int(self.version[g]), resend=True))
            else:
                self.version[g] += 1
                self.live[g] = True
                ops.append("add")
                payloads.append(turtle_doc(g, int(self.version[g]), resend=False))
        self.n += 1
        return pd.DataFrame(
            {
                "graph_id": [f"g{g}" for g in ids.tolist()],
                "ts": base + np.arange(BATCH_ROWS).astype("timedelta64[ms]"),
                "op": ops,
                "payload": payloads,
                "format": "text/turtle",
            }
        )


def table_digest(df) -> tuple[int, int]:
    """(rows, sum of row hashes) of a changelog — multiset equality."""
    from pyspark.sql import functions as F

    h = F.xxhash64(
        "graph_id",
        F.col("ts").cast("string"),
        "op",
        F.coalesce("payload", F.lit("")),
        F.coalesce("content_hash", F.lit("")),
    )
    r = df.agg(F.count("*").alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")).first()
    return r.n, int(r.h or 0)


class IngestStream(Workload):
    """StreamingChangelogWriter.process_batch on seeded micro-batches of
    non-canonical Turtle, into a fresh on-disk table that the warm-up
    batch creates."""

    def _batch_df(self, stream: BatchStream):
        from rdf_diff_store_spark.schemas import GRAPH_UPDATES

        return self.spark.createDataFrame(stream.next_pandas(), GRAPH_UPDATES).localCheckpoint()

    def setup(self, spark) -> None:
        from rdf_diff_store_spark.streaming.ingest import StreamingChangelogWriter

        self.spark = spark
        self._reset_samples()
        self.survivors: list[int] = []
        self.stream = BatchStream([self.seed, 2])
        self.table_dir = self._fresh_dir("ingest_table")
        self._fresh_dir("ingest_table__state")
        self.writer = StreamingChangelogWriter(spark, self.table_dir)
        # warm-up: the stream's first batch, which creates the table
        self.offered = [self._batch_df(self.stream)]
        self.writer.process_batch(self.offered[0], 0)

    def next_request(self):
        with self.span("client"):
            return len(self.offered), self._batch_df(self.stream)

    def _process(self, df, batch_id: int) -> None:
        with self.span("ingest.process_batch"):
            self.writer.process_batch(df, batch_id)

    def op(self, req) -> float:
        batch_id, df = req
        _, wall = self._step("batch", lambda: self._process(df, batch_id))
        self.offered.append(df)
        return wall

    def decompose(self, req) -> None:
        from rdf_diff_store_spark.operators.versioned import canonical_changelog_row

        batch_id, df = req
        with self.span("turtle.canonicalize"):
            force(canonical_changelog_row(df))
        with self.span("ingest.survivors"):
            # process_batch commits batch N's surviving rows to batch-sN
            path = os.path.join(self.table_dir, f"batch-s{batch_id}")
            self.survivors.append(self.spark.read.parquet(path).count())

    def verify(self) -> tuple[int, int]:
        """The table must equal one append_updates over every offered
        batch (append_updates is batch-split invariant, so this is the
        fold of all batches), and replaying the last batch must leave
        it unchanged. Attempted: every timed batch plus the replay."""
        from functools import reduce

        from rdf_diff_store_spark.operators.versioned import append_updates
        from rdf_diff_store_spark.schemas import CHANGELOG

        table = table_digest(self.writer.read_changelog())
        t0 = time.perf_counter()
        with self.span("ingest.replay"):
            self.writer.process_batch(self.offered[-1], len(self.offered) - 1)
        self.replay_s = time.perf_counter() - t0
        replayed = table_digest(self.writer.read_changelog())
        offered = reduce(lambda a, b: a.unionByName(b), self.offered)
        oracle = table_digest(append_updates(self.spark.createDataFrame([], CHANGELOG), offered))
        timed = len(self.samples["batch"])
        failed = (timed if table != oracle else 0) + (replayed != table)
        return timed + 1, failed

    def work_per_s(self) -> float:
        """Rows per second of median batch wall."""
        return BATCH_ROWS / statistics.median(self.samples["batch"])

    def layer_metrics(self, calls: dict) -> dict:
        return {
            "turtle.canonicalize_s": statistics.median(span_walls(calls, "turtle.canonicalize")),
            "ingest.process_batch_s": statistics.median(span_walls(calls, "ingest.process_batch")),
            "ingest.survivor_share": sum(self.survivors) / (BATCH_ROWS * len(self.survivors)),
            "ingest.replay_skip_s": self.replay_s,
        }

    def table(self) -> list[tuple]:
        return [
            ("ingest_batch_p50_s", "s", self.samples["batch"], "p50"),
            ("ingest_batch_tail_s", "s", self.samples["batch"], "tail"),
        ]

    def extra(self) -> list[tuple]:
        return [("ingest_rows_per_s", self.work_per_s(), "1/s", len(self.samples["batch"]))]


# ---------------------------------------------------------------------------
# store: both reference services' requests from one client


class Store(Workload):
    """One client issuing the two services' requests in turn: a writer
    micro-batch (ingest_stream's op), then an as-of query and a diff
    (asof_read's op). The parts keep their own inputs, oracles and
    per-kind samples."""

    def __init__(self, seed: int, work: str):
        self.parts = (IngestStream(seed, work), AsofRead(seed, work))
        super().__init__(seed, work)

    @property
    def span(self):
        return self.parts[0].span

    @span.setter
    def span(self, fn) -> None:
        for p in self.parts:
            p.span = fn

    def setup(self, spark) -> None:
        for p in self.parts:
            p.setup(spark)

    def next_request(self):
        return tuple(p.next_request() for p in self.parts)

    def op(self, req) -> float:
        return sum(p.op(r) for p, r in zip(self.parts, req))

    def decompose(self, req) -> None:
        for p, r in zip(self.parts, req):
            p.decompose(r)

    def verify(self) -> tuple[int, int]:
        done = [p.verify() for p in self.parts]
        return sum(a for a, _ in done), sum(f for _, f in done)

    def cpu_samples(self) -> dict[str, list[float]]:
        return {k: v for p in self.parts for k, v in p.cpu_samples().items()}

    def layer_metrics(self, calls: dict) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_metrics(calls).items()}

    def table(self) -> list[tuple]:
        return [row for p in self.parts for row in p.table()]

    def extra(self) -> list[tuple]:
        return [row for p in self.parts for row in p.extra()]


# ---------------------------------------------------------------------------
# kg_build: the north-star KG construction DAG


KG_URLS = 1_000
KG_CRAWLS = 4
KG_ENTITIES = max(KG_URLS // 10, 50)
KG_STAGES = (
    "text.extract",
    "kg.mentions",
    "kg.first_capture",
    "dedup.alias_edges",
    "graph.entity_map",
    "kg.quads",
    "kg.changelog",
)


class KgBuild(Workload):
    """build_kg over generate_pages. generate_pages takes no seed, so
    the input is the same for every seed."""

    def setup(self, spark) -> None:
        from rdf_diff_store_spark.pipeline.kg import build_kg
        from rdf_diff_store_spark.sources.pages import generate_pages

        self.spark = spark
        self._reset_samples()
        self.counts: list[tuple[int, int]] = []
        self.unattributed: list[float] = []
        self.pr: tuple[float, float] | None = None
        self.pages = (
            generate_pages(spark, n_urls=KG_URLS, n_crawls=KG_CRAWLS, n_entities=KG_ENTITIES, partitions=8)
            .select("url", "warc_ts", "html", "text", "lang")
            .localCheckpoint()
        )
        changelog, rec = build_kg(spark, self.pages)
        self.expected = self._counts(rec)
        changelog.unpersist()

    @staticmethod
    def _counts(rec) -> tuple[int, int]:
        rows = {m["stage"]: m["rows"] for m in rec.metrics}
        return rows["quads"], rows["changelog"]

    def next_request(self):
        return None

    def _build(self):
        from rdf_diff_store_spark.pipeline.kg import build_kg

        with self.span("kg.build"):
            return build_kg(self.spark, self.pages)

    def op(self, req) -> float:
        (changelog, rec), wall = self._step("build", self._build)
        changelog.unpersist()
        self.counts.append(self._counts(rec))
        self.unattributed.append(wall - sum(m["wall_sec"] for m in rec.metrics))
        return wall

    def decompose(self, req=None) -> None:
        """build_kg's stage functions, each on persisted inputs — the
        pipeline's own stage boundaries — then alias P/R."""
        from rdf_diff_store_spark.pipeline import kg

        held = []

        def stage(label, make):
            with self.span(label):
                df = make().persist()
                df.count()
            held.append(df)
            return df

        ext = stage("text.extract", lambda: kg.extract_pages(self.pages))
        mentions = stage("kg.mentions", lambda: kg.mentions_of(ext))
        firsts = stage("kg.first_capture", lambda: kg.first_capture(ext))
        edges = stage("dedup.alias_edges", lambda: kg.alias_edges(firsts, kg.mentions_of(firsts)))
        emap = stage("graph.entity_map", lambda: kg.canonical_entity_map(edges))
        quads = stage("kg.quads", lambda: kg.quads_of(mentions, ext, emap))
        stage("kg.changelog", lambda: kg.changelog_of(quads, self.pages))
        with self.span("kg.alias_pr"):
            self.pr = self._alias_pr(emap)
        for df in held:
            df.unpersist()

    def _alias_pr(self, emap) -> tuple[float, float]:
        """(precision, recall) of the merged alias pairs against
        expected_alias_pairs."""
        from pyspark.sql import functions as F

        from rdf_diff_store_spark.sources.pages import expected_alias_pairs

        found = emap.filter(F.col("token") != F.col("canonical")).select(
            F.least("token", "canonical").alias("token_a"),
            F.greatest("token", "canonical").alias("token_b"),
        )
        truth = expected_alias_pairs(self.spark, KG_URLS, KG_ENTITIES)
        tp = found.join(truth, ["token_a", "token_b"]).count()
        return tp / max(found.count(), 1), tp / max(truth.count(), 1)

    def verify(self) -> tuple[int, int]:
        """Every build must emit the warm-up build's quad and changelog
        row counts, and alias P/R must be >= 0.95 (otherwise every build
        counts as wrong)."""
        if self.pr is None:
            from rdf_diff_store_spark.pipeline import kg

            firsts = kg.first_capture(kg.extract_pages(self.pages))
            emap = kg.canonical_entity_map(kg.alias_edges(firsts, kg.mentions_of(firsts))).persist()
            self.pr = self._alias_pr(emap)
            emap.unpersist()
        bad = sum(c != self.expected for c in self.counts)
        if min(self.pr) < 0.95:
            bad = len(self.counts)
        return len(self.counts), bad

    def work_per_s(self) -> float:
        """Quads per second of median build wall."""
        return self.expected[0] / statistics.median(self.samples["build"])

    def layer_metrics(self, calls: dict) -> dict:
        out = {f"{label}_s": statistics.median(span_walls(calls, label)) for label in KG_STAGES}
        out["kg.unattributed_s"] = statistics.median(self.unattributed)
        return out

    def table(self) -> list[tuple]:
        return [("kg_build_p50_s", "s", self.samples["build"], "p50")]

    def extra(self) -> list[tuple]:
        return [
            ("kg_triples_per_s", self.work_per_s(), "1/s", len(self.samples["build"])),
            ("kg_alias_precision", self.pr[0], "ratio", 1),
            ("kg_alias_recall", self.pr[1], "ratio", 1),
        ]


WORKLOADS = {
    "store": Store,
    "kg_build": KgBuild,
    "asof_read": AsofRead,
    "ingest_stream": IngestStream,
}
