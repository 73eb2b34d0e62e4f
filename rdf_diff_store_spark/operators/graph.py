"""Iterative graph operators: transitive closure (SPARQL property
paths `p+`/`p*`) and connected components (entity canonicalization).

Reference context: the reference exposes SPARQL 1.1 property paths via
oxigraph (SURVEY.md §2B); connected components is required by the
north_star's entity-canonicalization stage (MinHash-LSH candidate
pairs → components = canonical entity ids).

Scale design: both are join-to-fixpoint loops — the classic
GraphFrames-style pattern. Each iteration `localCheckpoint()`s to
truncate lineage (otherwise the plan tree doubles per iteration and
the driver OOMs planning it long before data is a problem).

* `transitive_closure` uses **doubling** (path length 1,2,4,8,...):
  O(log diameter) shuffles instead of O(diameter) for the naive
  edge-at-a-time expansion — at web scale diameter can be large but
  log2(diameter) rarely exceeds ~6 joins.
* `connected_components` is large-star/small-star-ish label
  propagation to the minimum member id: O(log n) iterations expected;
  every iteration is one self-join + one min-aggregation, both
  hash-partitioned on the same key so AQE reuses the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _collect_if_small(
    e: DataFrame, max_rows: int, max_bytes: int
) -> tuple[int, float, list | None]:
    """Driver-side size gate of `transitive_closure` and
    `connected_components` over a distinct, checkpointed (src, dst)
    frame: ONE stats job (row count + average id length; two actions
    would double the per-job latency the driver paths exist to avoid,
    r06), then the row and byte budgets. Returns (row count, estimated
    driver bytes per row, the collected rows or None if over budget)."""
    n, avg_len = e.agg(
        F.count("*"),
        F.avg(F.length(F.col("src").cast("string")) + F.length(F.col("dst").cast("string"))),
    ).first()
    row_bytes = (avg_len or 16.0) + 96.0  # python tuple/str overhead
    if n <= max_rows and n * row_bytes <= max_bytes:
        return n, row_bytes, e.collect()
    return n, row_bytes, None


def _frontier_bfs(
    edges: DataFrame,
    start: DataFrame,
    keys: tuple[str, ...],
    max_iterations: int,
    name: str,
    hop_col: str | None = None,
) -> DataFrame:
    """The frontier BFS behind `seeded_closure`, `reachable_set`,
    `seeded_distances` and `_labeled_reach`: distinct (*keys, node)
    rows reachable (path length >= 1) from `start`'s (*keys, node)
    rows over a distinct, checkpointed (src, dst) `edges` frame; extra
    edge columns (a subset of `keys`) confine expansion to the row's
    own scope. Per iteration one hash join frontier⋈edges plus one
    anti-join against the reached set; eager checkpoints cut lineage.
    `hop_col` carries each row's discovery depth (= min distance).
    Raises rather than return a partial reach."""
    # edge columns renamed apart: duplicate attribute names inside the
    # join trip LogicalRDD's constraint rewrite on localCheckpoint
    # (NoSuchElementException: key not found) in Spark 4
    er = edges.select(*[F.col(c).alias(f"_e_{c}") for c in edges.columns])
    on = F.col("node") == F.col("_e_src")
    for k in edges.columns:
        if k not in ("src", "dst"):
            on = on & (F.col(k) == F.col(f"_e_{k}"))

    def expand(frontier: DataFrame, hop: int) -> DataFrame:
        nxt = frontier.join(er, on).select(*keys, F.col("_e_dst").alias("node")).distinct()
        return nxt if hop_col is None else nxt.withColumn(hop_col, F.lit(hop))

    frontier = expand(start.select(*keys, "node").distinct(), 1).localCheckpoint()
    reached = frontier
    for hop in range(2, max_iterations + 2):
        if frontier.count() == 0:
            return reached
        frontier = (
            expand(frontier, hop)
            .join(reached, [*keys, "node"], "left_anti")
            .localCheckpoint()
        )
        reached = reached.unionByName(frontier).localCheckpoint()
    if frontier.count() == 0:
        # converged exactly on the last allowed expansion
        return reached
    raise RuntimeError(f"{name} did not converge in {max_iterations} iterations")


def transitive_closure(
    edges: DataFrame, max_iterations: int = 20, key_cols: tuple[str, ...] = (),
    driver_threshold: int = 200_000, driver_max_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """All pairs (src, dst) connected by a directed path (p+ semantics).

    `edges` has columns (src, dst) plus any `key_cols`. Result is
    distinct (key..., src, dst) reachability pairs, path length >= 1.
    `key_cols` scope the closure per key — e.g. a graph_id column for
    SPARQL paths inside GRAPH ?var, where each named graph closes
    independently. The keys ride the same doubling joins (they're part
    of the shuffle key, so per-graph closure co-locates for free).

    Small-edge-set fast path (r06): the doubling loop costs ~2 driver
    actions per round (checkpoint + convergence count) — pure job-
    scheduling latency when the edge set is a few hundred rows (the
    SPARQL p+ queries over dimension-table chains). Below the size/
    byte gate it shares with `connected_components`, the distinct edge
    set is collected once and closed with a driver BFS; the result SET
    is identical (NULL endpoints included) and the output schema is
    preserved. The BFS gives up once its pair set outgrows
    `driver_max_bytes` (r06 ADVICE #2: a chain's closure is quadratic
    in its edges), so the doubling loop stays the path for closures
    that don't fit on the driver. Keyed closures (`key_cols`) keep
    the distributed path — the keyed callers are exactly the
    per-graph web-scale shapes."""
    keys = list(key_cols)
    closure = edges.select(*keys, "src", "dst").distinct().localCheckpoint()
    # a -1 row budget keeps keyed closures distributed
    prev_count, row_bytes, rows = _collect_if_small(
        closure, -1 if keys else driver_threshold, driver_max_bytes
    )
    if rows is not None:
        adj: dict = {}
        for r in rows:
            adj.setdefault(r.src, set()).add(r.dst)
        out: set = set()
        for s, first in adj.items():
            seen: set = set()
            stack = list(first)
            while stack:
                d = stack.pop()
                if d not in seen:
                    seen.add(d)
                    # NULL never satisfies the doubling join's a.dst =
                    # b.src: a path ends at NULL, never passes through it
                    if d is not None:
                        stack.extend(adj.get(d, ()))
            out.update((s, d) for d in seen)
            # the pair set can be quadratic in the gated input edges
            if len(out) * row_bytes > driver_max_bytes:
                break
        else:
            return edges.sparkSession.createDataFrame(
                sorted(out, key=lambda p: (p[0] is None, p[0], p[1] is None, p[1])),
                closure.schema,
            )
    for _ in range(max_iterations):
        # doubling: paths = closure ∪ (closure ⋈ closure)
        cond = F.col("a.dst") == F.col("b.src")
        for k in keys:
            cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        hops = (
            closure.alias("a")
            .join(closure.alias("b"), cond)
            .select(
                *[F.col(f"a.{k}").alias(k) for k in keys],
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
            )
        )
        new_closure = closure.unionByName(hops).distinct().localCheckpoint()
        # carry the previous count forward — recounting `closure` would
        # double the job count of every iteration
        new_count = new_closure.count()
        if new_count == prev_count:
            return new_closure
        closure, prev_count = new_closure, new_count
    raise RuntimeError(
        f"transitive_closure did not converge in {max_iterations} doubling "
        f"iterations (paths up to 2^{max_iterations} hops explored) — a "
        "partial closure would silently under-report reachability"
    )


def seeded_closure(
    edges: DataFrame, seeds: DataFrame, max_iterations: int = 60
) -> DataFrame:
    """Reachability (path length >= 1) from a BOUNDED seed set: plain
    frontier BFS, O(depth) small joins over frontier-sized working
    sets.

    For `<s> p+ ?o` shapes, `transitive_closure` would materialize
    ALL-PAIRS reachability of the predicate's edge set and then filter
    one seed out of it — potentially quadratic rows shuffled for a
    one-seed BFS (r02 VERDICT "what's wrong" #2). Here the per-
    iteration join input is the current frontier only, so the work is
    proportional to the answer, not the graph. Doubling is the wrong
    trade here: it squares the frontier against itself; with a
    bounded seed set, edge-at-a-time BFS touches strictly fewer rows.

    `edges`: (src, dst). `seeds`: one column named `seed`.
    Returns (seed, node) pairs — every node reachable from each seed.
    """
    return _frontier_bfs(
        edges.select("src", "dst").distinct().localCheckpoint(),
        seeds.select("seed", F.col("seed").alias("node")),
        ("seed",),
        max_iterations,
        "seeded_closure",
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 30,
    driver_threshold: int = 2_000_000,
    driver_max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Undirected connected components: min-id label propagation with
    per-iteration pointer jumping (path compression), so convergence is
    O(log diameter) — a 10^9-diameter chain needs ~30 iterations, not
    10^9. Raises RuntimeError if max_iterations is hit before the
    fixpoint: silently returning unconverged labels would corrupt
    entity canonicalization with no error.

    `edges` has columns (src, dst); vertex ids must be orderable
    (strings or longs). Returns (id, component) where component is the
    minimum vertex id in the component — a deterministic canonical
    representative, which is exactly what entity canonicalization
    needs (same cluster → same canonical id on every run).

    Scale-aware: when the edge set fits comfortably on the driver
    (< driver_threshold edges AND estimated < driver_max_bytes) a
    local union-find answers in one collect instead of O(log n)
    distributed join jobs — the iterative path exists for the
    web-scale case where edges don't fit. Results are identical
    (min-id representative) either way.
    """
    # ONE distributed evaluation of the (possibly expensive) edges
    # plan, shared by both paths: the driver union-find collects it,
    # the iterative path builds its symmetric edge list from it. No
    # driver-side limit() — a multi-million-row global limit funnels
    # everything through one task (measured 3× pipeline regression).
    e = edges.select("src", "dst").distinct().localCheckpoint()
    _, _, rows = _collect_if_small(e, driver_threshold, driver_max_bytes)
    if rows is not None:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = r.src, r.dst
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min so the representative is the min id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(v, find(v)) for v in parent]
        out.sort()
        spark = edges.sparkSession
        schema_type = edges.schema["src"].dataType.simpleString()
        return spark.createDataFrame(out, f"id {schema_type}, component {schema_type}")
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # neighbor lists stay fixed; only labels iterate
    sym = sym.distinct().localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        # candidate label for each vertex = min(own, neighbors' labels);
        # carrying the old label through the aggregation lets one job
        # produce both the new labels and the changed-count (half the
        # driver-bound job latency per iteration vs a separate join)
        neighbor_labels = sym.join(
            labels.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "component", F.lit(None).cast(labels.schema["component"].dataType).alias("old"))
        own = labels.select("id", "component", F.col("component").alias("old"))
        prop = (
            own.unionByName(neighbor_labels)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.min("old").alias("old"),
            )
            .localCheckpoint()  # eager: prop is read twice below
        )
        # pointer jumping (path compression): follow each label one
        # more hop to ITS label — plain propagation converges in
        # O(diameter); with per-iteration compression label distances
        # halve, giving O(log diameter) overall (large-star/small-star
        # behavior without the star bookkeeping)
        comp_map = prop.select(
            F.col("id").alias("component"), F.col("component").alias("_cc")
        )
        new_labels = (
            prop.join(comp_map, "component", "left")
            .select(
                "id",
                F.coalesce(F.col("_cc"), F.col("component")).alias("component"),
                "old",
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("component") != F.col("old")).count()
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — raise max_iterations (labels would be WRONG, "
            "not approximate, if returned unconverged)"
        )
    return labels


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank in exact integer micro-units.

    Entity importance over the KG the reference stores as RDF graphs
    (SURVEY.md §2B exposes only path queries; ranking the entities a
    100-TB crawl links most is the batch-analytics complement). The
    node set is every id appearing as ``src`` or ``dst``; each node
    starts at 1,000,000 micro-units and iterates

        r'(v) = base + Σ_{u→v} (r(u) · damping_pct) div (100 · outdeg(u))

    with ``base = 1e6·(100−damping_pct) div 100`` and *integer* (div)
    arithmetic throughout — every rank is a BIGINT sum of identical
    integers in any engine, so a DuckDB oracle unrolling the same
    ``iterations`` steps is bit-exact (no float summation order, no
    convergence-threshold nondeterminism). Dangling-node mass is
    dropped (the standard sink-truncation variant); ranks then need
    no global normalization pass.

    Plan shape at 10^10 edges: outdeg is computed ONCE and joined
    onto the edge list before the loop; each iteration is exactly one
    shuffle-hash join (ranks ⋈ edges on src) plus one map-side-
    combinable sum on dst — hot dst nodes (celebrity entities) are
    absorbed by partial aggregation, hot src fan-out splits under AQE
    skew handling. `localCheckpoint` per iteration truncates lineage
    (module docstring); the loop is a fixed, data-independent
    constant, never a driver-side convergence poll.
    """
    base = (1_000_000 * (100 - damping_pct)) // 100
    e = edges.select("src", "dst").distinct()
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    e = e.join(outdeg, "src").localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    ranks = nodes.withColumn("rank_micro", F.lit(1_000_000).cast("bigint"))
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"(rank_micro * {damping_pct}) div (100 * outdeg)"
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_micro"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("in_micro"), F.lit(0)))
                .cast("bigint")
                .alias("rank_micro"),
            )
            .localCheckpoint()
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) — community
    detection over the entity graph, the clustering complement of
    `connected_components` (which finds *reachability* classes; LPA
    finds *densely linked* ones, e.g. topic clusters among the entities
    a crawl links most).

    Semantics, fixed and engine-portable: every node starts labeled
    with its own id; each of the ``iterations`` synchronous rounds
    relabels every node with its neighbors' most frequent label, ties
    broken toward the SMALLEST label (count DESC, label ASC —
    deterministic across partitionings and engines; no random visit
    order, which is the nondeterministic part of classic LPA).
    Isolated nodes keep their label. Fixed iteration count, not a
    convergence poll — same discipline as `pagerank`, and what makes
    an unrolled-CTE oracle possible.

    Node ids must be NUMERIC and < 2^40 — at 10^10 nodes that is the
    right call anyway (8-byte ids ride every shuffle; map strings to
    ids once, upstream). Numeric labels let the argmax lower to ONE
    plain max() per round via integer encoding
    ``m = n·2^40 − (label+1)`` (decode: n = m div 2^40 + 1,
    label = n·2^40 − m − 1) instead of a sorted window — so a round is
    exactly: one shuffle-hash join (labels ⋈ edges), one map-side-
    combinable (node, label) count, one map-side-combinable max.
    Hot hub nodes are absorbed by the partial aggregations; AQE skew
    handling splits the join side. localCheckpoint truncates lineage
    per round.
    """
    K = 1 << 40
    e = edges.select("src", "dst").distinct()
    sym = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    nodes = sym.select(F.col("src").alias("id")).distinct().localCheckpoint()
    labels = nodes.select("id", F.col("id").cast("bigint").alias("label"))
    for _ in range(iterations):
        votes = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.count("*").alias("n"))
        )
        enc = votes.groupBy("id").agg(
            F.max(F.col("n") * K - (F.col("label") + 1)).alias("m")
        )
        new = enc.select(
            "id",
            F.expr(f"(((m div {K}) + 1) * {K}) - m - 1").cast("bigint").alias("label"),
        )
        labels = (
            nodes.join(new, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("label"), F.col("id").cast("bigint")).alias("label"),
            )
            .localCheckpoint()
        )
    return labels


def hits(
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) in exact integer
    micro-units — hubs and authorities over the web link graph, the
    link-analysis complement of `pagerank` (PageRank ranks global
    importance; HITS separates pages that *point at* good content from
    pages that *are* good content, the classic crawl-seeding signal).

    Semantics, fixed and engine-portable: every node starts with
    hub = 1,000,000 micro-units; each of the ``iterations`` rounds
    computes

        auth_raw(v) = Σ_{u→v} hub(u)
        auth(v)     = auth_raw(v) div s_a,
            s_a = greatest(1, max(auth_raw) div 1,000,000)
        hub_raw(u)  = Σ_{u→v} auth(v)
        hub(u)      = hub_raw(u) div s_h,   s_h analogous

    over the DISTINCT edge set. The div-by-max rescale replaces the
    float L2 normalization of textbook HITS: it keeps every score an
    exact BIGINT (a sum of identical integers in any engine, so an
    unrolled-CTE DuckDB oracle matches bit-for-bit) while bounding
    magnitudes so ``iterations`` rounds can never overflow — the same
    discipline as `pagerank`'s micro-units and `label_propagation`'s
    integer argmax encoding. Nodes without in-edges get auth = 0,
    without out-edges hub = 0; fixed iteration count, never a
    convergence poll.

    Plan shape at 10^10 edges: each half-round is one shuffle-hash
    join (scores ⋈ edges) plus one map-side-combinable sum — hub/hot
    authority nodes are absorbed by partial aggregation, AQE splits
    skewed join sides. The rescale factor is a 1-row aggregate joined
    back by broadcast (never a driver collect). localCheckpoint per
    round truncates lineage.
    """
    e = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    hub = nodes.select("node", F.lit(1_000_000).cast("bigint").alias("score"))

    def _half(scores: DataFrame, join_on: str, emit: str) -> DataFrame:
        raw = (
            e.join(scores, e[join_on] == scores["node"])
            .groupBy(F.col(emit).alias("node"))
            .agg(F.sum("score").alias("raw"))
        )
        scale = raw.agg(
            F.greatest(F.lit(1).cast("bigint"), F.expr("max(raw) div 1000000")).alias("_s")
        )
        rescaled = raw.crossJoin(F.broadcast(scale)).select(
            "node", F.expr("raw div _s").cast("bigint").alias("score")
        )
        return (
            nodes.join(rescaled, "node", "left")
            .select("node", F.coalesce(F.col("score"), F.lit(0).cast("bigint")).alias("score"))
            .localCheckpoint()
        )

    auth = None
    for _ in range(iterations):
        auth = _half(hub, "src", "dst")  # authorities gather hub mass
        hub = _half(auth, "dst", "src")  # hubs gather authority mass
    return hub.select(
        "node", F.col("score").alias("hub_micro")
    ).join(
        auth.select("node", F.col("score").alias("auth_micro")), "node"
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph, by
    degree orientation (Suri & Vassilvitskii, "Counting Triangles and
    the Curse of the Last Reducer", WWW 2011; Chiba-Nishizeki edge
    orientation). Input: (src, dst) pairs in any direction/multiplicity
    — canonicalized to a simple undirected edge set first. Output:
    (node, degree, n_triangles), one row per node with degree >= 1.

    Why orientation is THE 100-TB design: the naive wedge join groups
    by node and explodes d² wedges per node — a 10^7-degree hub in a
    web graph yields 10^14 wedges in one reducer (the "last reducer"
    curse). Orienting every edge from its lower-(degree, id) endpoint
    to the higher one makes each node's OUT-degree at most O(sqrt(m)):
    hubs become wedge *targets*, never wedge *generators*, and total
    wedge volume is bounded by O(m^1.5) regardless of skew. Triangles
    close with one equi-join of wedges against oriented edges.

    Shuffle ledger: one distinct (canonicalize), one degree agg, two
    degree-attach joins, the wedge self-join on src, the closing
    equi-join, one per-node count — all hash joins on ids only; no
    adjacency list is ever materialized as a single row (no collect_list
    hot key). The (degree, id) tiebreak makes orientation — and the
    per-triangle (v, w) ordering — total, so each triangle is generated
    and counted exactly once."""
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        e.join(deg.select(F.col("n").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("deg").alias("db")), "b")
    )
    lower_first = F.struct("da", "a") < F.struct("db", "b")
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(y, F.col("x.u") == F.col("y.u")).filter(
        F.struct(F.col("x.dv"), F.col("x.v")) < F.struct(F.col("y.dv"), F.col("y.v"))
    ).select(
        F.col("x.u").alias("wu"), F.col("x.v").alias("wv"), F.col("y.v").alias("ww")
    )
    # the (v, w) edge, if present, is oriented v -> w (rank_v < rank_w)
    closed = wedges.join(
        oriented.select(F.col("u").alias("wv"), F.col("v").alias("ww")),
        ["wv", "ww"],
    )
    per_node = (
        closed.select(F.explode(F.array("wu", "wv", "ww")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        deg.join(per_node, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("deg").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
    )


def kcore_peel(
    edges: DataFrame, k: int, rounds: int | None = None, max_rounds: int = 30
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983;
    Batagelj-Zaversnik): repeatedly delete nodes of degree < k until
    none remain; what survives is the k-core — the standard web-graph
    density filter (link-farm cores, community nuclei) and the
    dual of the triangle census above. Input: (src, dst) in any
    direction/multiplicity. Output: (node, degree) of the surviving
    subgraph, degree measured WITHIN the core.

    Two modes, same discipline as `pagerank`/`hits`:

    * ``rounds=r`` — EXACTLY r peel rounds, engine-portable (an oracle
      unrolls the identical r rounds as CTEs; on a graph whose peel
      converges in < r rounds the extra rounds are no-ops, which the
      tests pin).
    * ``rounds=None`` — peel to the true fixpoint with an early-exit
      emptiness probe per round, bounded by ``max_rounds``.

    Scale shape per round: one degree aggregation (map-side
    combinable) + two anti-joins of the edge frame against the
    weak-node set. The weak set shrinks geometrically on real
    degree-skewed graphs (most mass peels in the first rounds), and
    AQE turns the late-round anti-joins into broadcasts as it
    collapses. localCheckpoint between rounds cuts the iterative
    lineage exactly like `transitive_closure`."""
    live = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("n"))
            .unionByName(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("degree"))
        )

    n_rounds = rounds if rounds is not None else max_rounds
    for _ in range(n_rounds):
        weak = degrees(live).filter(F.col("degree") < k).select("n")
        if rounds is None and weak.isEmpty():
            break
        live = (
            live.join(weak.withColumnRenamed("n", "a"), "a", "left_anti")
            .join(weak.withColumnRenamed("n", "b"), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint()
        )
    return degrees(live).select(F.col("n").alias("node"), "degree")


def wl_graph_hash(
    quads: DataFrame,
    rounds: int = 2,
    graph_col: str = "graph_id",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Blank-node-robust per-graph content hash via 1-WL color
    refinement (Weisfeiler-Leman; the scheme behind Hogan's RDF
    iso-canonicalisation, "Canonical Forms for Isomorphic and
    Equivalent RDF Graphs", ACM TWEB 2017). Two graphs that differ
    only in blank-node LABELS hash identically; any ground-term or
    structural difference changes the hash.

    Why it matters here: the reference's canonicalization contract
    (prettify + content hash over serialized Turtle,
    /root/reference/src/rdf.rs:60-92) is label-sensitive — a re-crawl
    that re-extracts the same markup with fresh blank labels looks
    like a new version. `skolemize` solves that with page-scoped md5
    labels when a page url exists; this operator solves it for
    arbitrary graphs: hash(graph) is invariant under blank relabeling,
    so version dedup can run on structure.

    Algebra (engine-portable — md5 hex strings only, mirrored by the
    DuckDB oracle): ground terms have the FIXED color md5(term);
    blank nodes start at the constant md5('_:') and refine for
    `rounds` iterations as md5(old_color || '|' || sorted multiset of
    'o:'/'i:'-tagged (pred, neighbor color) signatures). The final
    hash is md5 of the sorted edge-signature multiset. 1-WL
    distinguishes everything except automorphic blank structures
    (e.g. indistinguishable parallel blanks) — those agree in color,
    which keeps the hash CORRECT (isomorphic ⇒ equal); the converse
    holds for every graph whose blanks 1-WL separates, the practical
    entirety of web-extracted markup (tree-shaped blank structure).

    Scale shape: per round, TWO (graph, node)-hash joins resolve
    endpoint colors (blank-color table is |blank nodes|-sized) and ONE
    aggregation folds signatures; the signature list per blank is its
    degree — web-markup blanks have degree ≤ ~10². Rounds ≥ 3 eagerly
    localCheckpoint the color table (the colors plan otherwise doubles
    per round — the lazy-checkpoint race documented in CLAUDE.md).
    Final rollup groups by graph: one shuffle, |graphs| rows out.
    """
    g, s, p, o = (F.col(c) for c in (graph_col, subj_col, pred_col, obj_col))
    q = quads.select(
        g.alias("g"), s.alias("s"), p.alias("p"), o.alias("o")
    ).distinct()
    is_blank = lambda c: F.col(c).startswith("_:")  # noqa: E731

    blanks = (
        q.filter(is_blank("s")).select("g", F.col("s").alias("node"))
        .unionByName(q.filter(is_blank("o")).select("g", F.col("o").alias("node")))
        .distinct()
    )
    colors = blanks.select("g", "node", F.md5(F.lit("_:")).alias("color"))

    def _resolve(cols: DataFrame) -> DataFrame:
        bs = cols.select(F.col("g").alias("_bg"), F.col("node").alias("_bn"), F.col("color").alias("_sc"))
        bo = cols.select(F.col("g").alias("_cg"), F.col("node").alias("_cn"), F.col("color").alias("_oc"))
        return (
            q.join(bs, (q["g"] == bs["_bg"]) & (q["s"] == bs["_bn"]), "left")
            .join(bo, (q["g"] == bo["_cg"]) & (q["o"] == bo["_cn"]), "left")
            .select(
                "g", "s", "p", "o",
                F.coalesce(F.col("_sc"), F.md5(q["s"])).alias("s_color"),
                F.coalesce(F.col("_oc"), F.md5(q["o"])).alias("o_color"),
            )
        )

    for r in range(rounds):
        e = _resolve(colors)
        sigs = (
            e.filter(is_blank("s")).select(
                "g", F.col("s").alias("node"),
                F.concat(F.lit("o:"), F.col("p"), F.lit(":"), F.col("o_color")).alias("sig"),
            )
            .unionByName(
                e.filter(is_blank("o")).select(
                    "g", F.col("o").alias("node"),
                    F.concat(F.lit("i:"), F.col("p"), F.lit(":"), F.col("s_color")).alias("sig"),
                )
            )
        )
        prev = colors.select(F.col("g").alias("_pg"), F.col("node").alias("_pn"), F.col("color").alias("_pc"))
        colors = (
            sigs.join(prev, (sigs["g"] == prev["_pg"]) & (sigs["node"] == prev["_pn"]))
            .groupBy("g", "node")
            .agg(
                F.md5(
                    F.concat(
                        F.max("_pc"), F.lit("|"),
                        F.array_join(F.array_sort(F.collect_list("sig")), " "),
                    )
                ).alias("color")
            )
        )
        if rounds >= 3:
            colors = colors.localCheckpoint(eager=True)

    final = _resolve(colors).select(
        "g",
        F.md5(F.concat_ws(" ", "s_color", "p", "o_color")).alias("esig"),
    )
    return final.groupBy(F.col("g").alias(graph_col)).agg(
        F.md5(F.array_join(F.array_sort(F.collect_list("esig")), " ")).alias("graph_hash")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 4,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized PageRank / TrustRank in exact integer micro-units
    (Haveliwala WWW 2002 topic-sensitive PageRank; Gyöngyi et al. VLDB
    2004 TrustRank — the identical recursion with trusted-seed
    restart). The teleport vector concentrates on `seeds` (a frame
    with a ``node`` column) instead of spreading uniformly:

        r'(v) = s(v)·(100−d) div 100 + Σ_{u→v} (r(u)·d) div (100·outdeg(u))

    with s(v) = 1,000,000 for seeds else 0, r₀ = s. Uses: entity
    RELATEDNESS for disambiguation (seed = a mention's unambiguous
    context entities; rank = how related each candidate is — the
    graph-coherence signal `pipeline/linking.py`'s string scorer
    lacks) and crawl spam demotion (seed = curated trusted hosts;
    pages unreachable from trust keep rank 0).

    Scale shape — this is the whole point vs global `pagerank`: the
    rank frame holds ONLY nodes with nonzero mass, so work per
    iteration is ∝ the k-hop neighborhood of the seed set (frontier
    discipline shared with `seeded_closure`), never the 10^10-node
    corpus. Each iteration = one shuffle join (ranks ⋈ edges) + one
    combinable sum + one |seeds|-sized outer join; eager
    localCheckpoint cuts lineage. Integer div keeps every rank a
    BIGINT sum reproducible bit-for-bit by the unrolled DuckDB twin;
    dangling mass is sink-truncated exactly as in `pagerank`.
    """
    base = (1_000_000 * (100 - damping_pct)) // 100
    e = edges.select("src", "dst").distinct()
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    e = e.join(outdeg, "src").localCheckpoint()
    seed_nodes = seeds.select("node").distinct().localCheckpoint()
    teleport = seed_nodes.select("node", F.lit(base).cast("bigint").alias("t_micro"))
    ranks = seed_nodes.select("node", F.lit(1_000_000).cast("bigint").alias("rank_micro"))
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"(rank_micro * {damping_pct}) div (100 * outdeg)"
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_micro"))
        )
        ranks = (
            teleport.join(contribs, "node", "full_outer")
            .select(
                "node",
                (F.coalesce(F.col("t_micro"), F.lit(0)) + F.coalesce(F.col("in_micro"), F.lit(0)))
                .cast("bigint")
                .alias("rank_micro"),
            )
            .filter(F.col("rank_micro") > 0)
            .localCheckpoint()
        )
    return ranks


def _labeled_reach(
    e: DataFrame, seeds: DataFrame, max_iterations: int = 60
) -> DataFrame:
    """Multi-source per-partition frontier BFS: `e` = (_part, src, dst)
    part-scoped edges, `seeds` = (_part, node) one source per part.
    Returns distinct (_part, node) reachable with path length >= 1,
    expansion confined to the seed's own part — the simultaneous-
    partitions primitive `scc_fwbw` sweeps with (every recursion branch
    of FW-BW advances in the SAME Spark job, so the round count is the
    DEPTH of the recursion tree, not the number of branches)."""
    return _frontier_bfs(e, seeds, ("_part",), max_iterations, "_labeled_reach")


def scc_fwbw(
    edges: DataFrame,
    max_rounds: int = 30,
    trim_rounds_per_round: int = 5,
    sweep_depth: int = 300,
) -> DataFrame:
    """Strongly connected components by parallel Forward-Backward with
    trimming (Fleischer/Hendrickson/Pinar 2000; Hong/Rodia/Olukotun
    SC'13 parallel formulation) — the scale path `scc` delegates to:
    work is proportional to the regions the pivot sweeps PAINT, never
    the all-pairs closure, so a Broder-style giant core (~28% of a
    10^7-host graph, VERDICT r04 wrong #2) costs two linear
    `reachable_set`-shaped sweeps instead of a quadratic Σ|reach|
    materialization.

    Per round, every still-active partition simultaneously:
    1. TRIM — nodes lacking an in-edge or an out-edge within their
       partition are singleton SCCs; removed iteratively (bounded by
       `trim_rounds_per_round` per outer round — deep chains re-trim
       next round) so DAG regions collapse without pivot sweeps;
    2. PIVOT — the max-min(in,out)-degree node (ties: min id), the
       node likeliest inside the partition's big SCC;
    3. SWEEP — one forward and one backward `_labeled_reach` from ALL
       pivots at once; SCC(pivot) = {pivot} ∪ (FWD ∩ BWD), assigned
       scc_id = min member id (same canonical-representative
       convention as `scc`/`connected_components`);
    4. SPLIT — survivors move to sub-partitions FWD\\SCC / BWD\\SCC /
       REST (SCCs never span these, the classic FW-BW invariant), so
       the recursion tree advances one level per round across ALL
       branches.

    Returns (id, scc_id) for every node incident to an edge — bit-
    identical to the closure-based `scc` (pytest-pinned on hand and
    seeded-random graphs). Raises on non-convergence within
    `max_rounds` rather than returning a partial assignment.

    Reference context: same as `scc` — the reference has no graph
    analytics (SURVEY §2); this is the web-scale census engine behind
    `bowtie_classes`.
    """
    e0 = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        e0.select(F.col("src").alias("id"))
        .unionByName(e0.select(F.col("dst").alias("id")))
        .distinct()
    )
    active = nodes.select("id", F.lit("r").alias("_part")).localCheckpoint()
    assigned: DataFrame | None = None

    def _acc(a: DataFrame | None, new: DataFrame) -> DataFrame:
        return new if a is None else a.unionByName(new)

    for _ in range(max_rounds):
        if active.count() == 0:
            break
        # part-scoped edge set: both endpoints active AND in the same part
        e_act = (
            e0.join(active.select(F.col("id").alias("src"), "_part"), "src")
            .join(
                active.select(F.col("id").alias("dst"), F.col("_part").alias("_pd")),
                "dst",
            )
            .filter(F.col("_part") == F.col("_pd"))
            .select("_part", "src", "dst")
            .localCheckpoint()
        )
        # 1. trim: no in-edge or no out-edge within the part → singleton
        trim_converged = False
        for _t in range(trim_rounds_per_round):
            has_out = e_act.select("_part", F.col("src").alias("id")).distinct()
            has_in = e_act.select("_part", F.col("dst").alias("id")).distinct()
            keep = (
                active.join(has_out, ["_part", "id"])
                .join(has_in, ["_part", "id"])
                .select("id", "_part")
                .localCheckpoint()
            )
            # ONE action per trim round (r06): the trimmed set's count
            # answers convergence directly (keep ⊆ active, so
            # |trimmed| = 0 ⟺ |keep| = |active|), replacing the old
            # pair of counts; when non-empty the same frame feeds the
            # singleton-SCC assignment (cheap anti-join of two
            # checkpointed frames on re-evaluation)
            trimmed = active.join(keep, ["_part", "id"], "left_anti")
            if trimmed.count() == 0:
                trim_converged = True
                break
            assigned = _acc(assigned, trimmed.select("id", F.col("id").alias("scc_id")))
            active = keep
            e_act = (
                e_act.join(keep.select(F.col("id").alias("src"), "_part"), ["_part", "src"])
                .join(keep.select(F.col("id").alias("dst"), "_part"), ["_part", "dst"])
                .select("_part", "src", "dst")
                .localCheckpoint()
            )
        if not trim_converged:
            # the FINAL trim refilter can strip a survivor of ALL its
            # part-local edges (both neighbors trimmed in that same
            # iteration — e.g. the middle of an 11-node path at the
            # default 5 trim rounds). Such a node is a singleton SCC,
            # but the WCC relabel below only sees EDGE-INCIDENT nodes,
            # so without this sweep it would silently vanish from the
            # output instead of being assigned.
            incident = (
                e_act.select("_part", F.col("src").alias("id"))
                .unionByName(e_act.select("_part", F.col("dst").alias("id")))
                .distinct()
            )
            orphans = active.join(incident, ["_part", "id"], "left_anti")
            assigned = _acc(
                assigned, orphans.select("id", F.col("id").alias("scc_id"))
            )
            active = active.join(incident, ["_part", "id"], "left_semi").localCheckpoint()
        if active.count() == 0:
            break
        # 1b. WCC refinement (the "coloring" step of Slota/Rajamanickam/
        # Madduri's Multistep SCC, IPDPS 2014): disconnected regions of
        # a part can never share an SCC, and without this a part
        # holding K disconnected cycles would peel ONE SCC per round
        # (K rounds for K mirror rings). Weak components of the
        # part-scoped edge graph become the new parts, so every
        # isolated cycle gets its own pivot THIS round. Node ids are
        # part-qualified with a \\x1f separator (ids must not contain
        # it); `connected_components` picks its own driver-union-find
        # vs distributed path by size.
        sep = "\x1f"

        # a node id CONTAINING the separator would be silently
        # mis-split by substring_index below, producing wrong ids with
        # no error (r05 ADVICE #1) — web ids are attacker-shaped, so
        # raise loudly instead; the check is a per-row expression
        # inside the existing job, not an extra action
        def _qualify(col: str) -> F.Column:
            checked = F.when(
                F.col(col).contains(sep),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "scc_fwbw: node id contains the reserved U+001F "
                            "part separator: "
                        ),
                        F.col(col),
                    )
                ),
            ).otherwise(F.col(col))
            return F.concat("_part", F.lit(sep), checked)

        qual = connected_components(
            e_act.select(
                _qualify("src").alias("src"),
                _qualify("dst").alias("dst"),
            )
        )
        relab = qual.select(
            F.substring_index(F.col("id"), sep, -1).alias("id"),
            F.col("component").alias("_part"),
        )
        active = relab.localCheckpoint()
        # an e_act edge's endpoints share a weak component by
        # construction — relabel via the src side only
        e_act = (
            e_act.select("src", "dst")
            .join(relab.select(F.col("id").alias("src"), "_part"), "src")
            .select("_part", "src", "dst")
            .localCheckpoint()
        )
        # 2. one pivot per part: max min(in,out) degree, ties min id
        outd = e_act.groupBy("_part", F.col("src").alias("id")).agg(
            F.count("*").alias("_od")
        )
        ind = e_act.groupBy("_part", F.col("dst").alias("id")).agg(
            F.count("*").alias("_in")
        )
        from pyspark.sql import Window as W

        scored = (
            active.join(outd, ["_part", "id"], "left")
            .join(ind, ["_part", "id"], "left")
            .select(
                "_part",
                "id",
                F.least(F.coalesce("_od", F.lit(0)), F.coalesce("_in", F.lit(0))).alias(
                    "_score"
                ),
            )
        )
        rn = F.row_number().over(W.partitionBy("_part").orderBy(F.desc("_score"), "id"))
        pivots = (
            scored.withColumn("_rn", rn)
            .filter(F.col("_rn") == 1)
            .select("_part", F.col("id").alias("node"))
            .localCheckpoint()
        )
        # 3. simultaneous forward/backward sweeps from all pivots.
        # sweep_depth bounds BFS depth, i.e. the longest shortest-path
        # from a pivot inside one part — a >sweep_depth-diameter part
        # (e.g. a 300+-node redirect ring reaching this path via scc's
        # auto mode) raises loudly in _labeled_reach rather than
        # returning a partial sweep. The cap is cheap to keep generous:
        # the loop exits as soon as the frontier empties, so shallow
        # graphs never pay for it.
        fwd = _labeled_reach(e_act, pivots, max_iterations=sweep_depth)
        bwd = _labeled_reach(
            e_act.select("_part", F.col("dst").alias("src"), F.col("src").alias("dst")),
            pivots,
            max_iterations=sweep_depth,
        )
        sccset = (
            pivots.unionByName(fwd.join(bwd, ["_part", "node"]))
            .distinct()
            .localCheckpoint()
        )
        rep = sccset.groupBy("_part").agg(F.min("node").alias("scc_id"))
        assigned = _acc(
            assigned,
            sccset.join(rep, "_part").select(F.col("node").alias("id"), "scc_id"),
        )
        # 4. split survivors into FWD\SCC / BWD\SCC / REST sub-partitions
        rem = active.join(
            sccset.select("_part", F.col("node").alias("id")), ["_part", "id"], "left_anti"
        )
        rem = rem.join(
            fwd.select("_part", F.col("node").alias("id"), F.lit(1).alias("_f")),
            ["_part", "id"],
            "left",
        ).join(
            bwd.select("_part", F.col("node").alias("id"), F.lit(1).alias("_b")),
            ["_part", "id"],
            "left",
        )
        active = rem.select(
            "id",
            F.concat(
                F.col("_part"),
                F.when(F.col("_f") == 1, F.lit("f"))
                .when(F.col("_b") == 1, F.lit("b"))
                .otherwise(F.lit("x")),
            ).alias("_part"),
        ).localCheckpoint()
    if active.count() > 0:
        raise RuntimeError(f"scc_fwbw did not converge in {max_rounds} rounds")
    if assigned is None:
        return nodes.select("id", F.col("id").alias("scc_id"))
    return assigned.select("id", "scc_id")


def scc(
    edges: DataFrame,
    max_iterations: int = 20,
    fwbw_threshold_nodes: int = 100_000,
    algorithm: str = "auto",
) -> DataFrame:
    """Strongly connected components: scc_id(u) = min({u} ∪ {v : u→+v
    and v→+u}) over the doubling transitive closure — exact Tarjan
    semantics expressed as two relational steps (closure, then a
    mutual-reachability self-join on the reversed key pair). Returns
    (id, scc_id) for every node incident to an edge; the min-id
    representative is the same deterministic canonical-id convention
    as `connected_components`.

    Why a KG/crawl engine needs it: redirect and alias chains form
    CYCLES (a↔b mirrors, canonical-URL loops), and `redirect_resolve`
    / `kg_sameas_canonical`-style pointer chasing never terminates
    inside one unless the cycle is first collapsed to a single
    representative. Broder et al.'s bowtie analysis (WWW9) — the
    canonical web-graph SCC workload — runs at HOST granularity
    (10^7 nodes): there the closure's Σ_u |reach(u)| pair
    materialization is quadratic inside the giant core, so above
    `fwbw_threshold_nodes` distinct nodes this function DELEGATES to
    `scc_fwbw`, whose pivot sweeps cost only the painted regions
    (VERDICT r04 wrong #2; `bowtie_classes` uses `scc_fwbw`
    unconditionally). Below the threshold the closure path does
    O(log diameter) doubling shuffles; the mutual join is ONE
    composite-key hash self-join (the probe side is the same frame
    reversed — AQE reuses the exchange); the final min is a
    combinable aggregate.

    `algorithm` pins the path explicitly: "closure" for graphs the
    CALLER knows are bounded-reach (redirect rings, mirror cycles —
    there the closure is linear and measured ~1.7× faster than
    FW-BW's sweep machinery, BENCH.md graph-scale rows), "fwbw" to
    force the safe path, "auto" (default) = the node-count
    threshold. Auto errs toward FW-BW because its worst case is a
    constant-factor slowdown while the closure's is quadratic
    blow-up.

    Reference context: the reference has no graph analytics at all
    (SURVEY §2 — oxigraph answers paths only); this extends the
    `transitive_closure` family the same way `kcore_peel` and
    `triangle_count` do, for the crawl-curation side of the north
    star.
    """
    if algorithm not in ("auto", "closure", "fwbw"):
        raise ValueError(f"unknown scc algorithm {algorithm!r}")
    if algorithm == "fwbw":
        return scc_fwbw(edges)
    if algorithm == "auto":
        # materialize the (possibly expensive) upstream edges plan
        # ONCE: the old shape evaluated it for the node count and then
        # AGAIN inside scc_fwbw/closure (r05 ADVICE #4)
        edges = edges.select("src", "dst").distinct().localCheckpoint()
        n_nodes = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
            .count()
        )
        if n_nodes > fwbw_threshold_nodes:
            return scc_fwbw(edges)
    tc = transitive_closure(edges, max_iterations)
    mutual = (
        tc.alias("f")
        .join(
            tc.alias("b"),
            (F.col("f.src") == F.col("b.dst")) & (F.col("f.dst") == F.col("b.src")),
        )
        .select(F.col("f.src").alias("id"), F.col("f.dst").alias("peer"))
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return (
        nodes.join(mutual, "id", "left")
        .groupBy("id")
        .agg(F.min("peer").alias("_mp"))
        .select("id", F.least(F.col("id"), F.coalesce("_mp", F.col("id"))).alias("scc_id"))
    )


def wedge_overlap(
    edges: DataFrame, max_center_degree: int = 1000
) -> DataFrame:
    """Neighborhood-overlap link prediction (Liben-Nowell & Kleinberg
    CIKM 2003; Zhou/Lü/Zhang's Resource Allocation index, EPJ B 2009):
    for every leaf pair (a, b) sharing at least one center, emit

        cn                 — common-neighbor count,
        ra_micro           — Σ_centers 1_000_000 div deg(center)
                             (RA: rare shared neighbors count more),
        jaccard_micro      — cn·1_000_000 div (deg(a)+deg(b)−cn).

    Input is (center, leaf) adjacency — bipartite co-occurrence
    (order→part co-purchase, host→entity mentions) directly, or a
    symmetrized undirected graph for classic common-neighbor scoring.
    All divisions are non-negative integer `div`, the one regime
    Spark and DuckDB share bit-for-bit — the same micro-unit
    discipline as `pagerank`/`hits`.

    Scale shape: candidate pairs are minted ONLY by the wedge
    self-join on center, so a center of degree d contributes d² pairs
    — `max_center_degree` caps that fanout exactly like the inverted-
    index df-cap in `mirror_hosts` and `doc_shared_spans` (a 10^6-
    degree boilerplate hub would otherwise mint 10^12 pairs that RA
    then scores ≈ 0 anyway: each contributes 1e6 div 10^6 = 1).
    Dropping saturated centers is the standard stopword move of the
    link-prediction literature, loudly parameterized. The pair
    shuffle carries ids + one BIGINT only; leaf degrees (for Jaccard)
    attach AFTER pair aggregation, on the already-collapsed pair set.
    """
    adj = edges.select("center", "leaf").distinct()
    cdeg = adj.groupBy("center").agg(F.count("*").alias("cdeg"))
    ldeg = adj.groupBy("leaf").agg(F.count("*").alias("ldeg"))
    small = adj.join(
        cdeg.filter(F.col("cdeg") <= max_center_degree), "center"
    )
    a, b = small.alias("a"), small.alias("b")
    pairs = (
        a.join(b, F.col("a.center") == F.col("b.center"))
        .filter(F.col("a.leaf") < F.col("b.leaf"))
        .select(
            F.col("a.leaf").alias("leaf_a"),
            F.col("b.leaf").alias("leaf_b"),
            F.expr("1000000 div a.cdeg").alias("ra_part"),
        )
        .groupBy("leaf_a", "leaf_b")
        .agg(F.count("*").alias("cn"), F.sum("ra_part").alias("ra_micro"))
    )
    return (
        pairs.join(ldeg.select(F.col("leaf").alias("leaf_a"), F.col("ldeg").alias("da")), "leaf_a")
        .join(ldeg.select(F.col("leaf").alias("leaf_b"), F.col("ldeg").alias("db")), "leaf_b")
        .select(
            "leaf_a",
            "leaf_b",
            "cn",
            F.col("ra_micro").cast("bigint").alias("ra_micro"),
            F.expr("(cn * 1000000) div (da + db - cn)").cast("bigint").alias("jaccard_micro"),
        )
    )


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    length: int = 8,
    n_walks: int = 1,
    salt: str = "walk",
) -> DataFrame:
    """Deterministic DeepWalk corpus (Perozzi et al. KDD 2014): fixed-
    length truncated random walks whose every step is an md5 draw, so
    the whole corpus replays bit-identically on any engine — the same
    portable-randomness discipline as `transe_train`'s md5-picked
    corrupt tails (Date.now-free, seed-free, coordination-free).

    Step t of walk w at node u moves to the neighbor with index

        md5_60bit(salt ⧺ w ⧺ ':' ⧺ t) mod outdeg(u)

    over the per-source neighbor list ranked by `row_number()` on dst
    (ONE window shuffle builds the indexed adjacency, amortized over
    all walks and steps). Walks stop early at sinks. Returns
    (walk_id, step, node) with step 0 = the seed; `n_walks` walks per
    seed get distinct walk_ids (seed ⧺ '#' ⧺ k).

    Scale shape: the state frame holds exactly one row per LIVE walk
    and carries the current node's out-degree, so each of the
    `length` iterations is ONE composite-key equi-join on (src, idx)
    — the pick is a lookup, and the landed row already contains the
    NEXT node's out-degree (`dst_outdeg`, denormalized onto the
    adjacency once at build time), so no per-step degree join exists
    at all. NO neighbor fanout ever materializes (joining on src
    alone and filtering idx would explode a 10^6-degree hub into
    10^6 rows per resident walk). localCheckpoint each round cuts the
    lineage like every iterative operator here. 10^9 walks × length
    40 is 4·10^10 join-lookup rows total — embarrassingly
    shuffle-parallel on the walk_id side; on a cluster the adjacency
    side would live in a bucketed table on (src) so only the
    walk-state side exchanges per step.
    """
    adj = edges.select("src", "dst").distinct()
    from pyspark.sql import Window

    idx = F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1
    adj_idx = adj.select("src", "dst", idx.alias("idx"))
    deg = adj_idx.groupBy("src").agg(F.count("*").alias("outdeg"))
    # denormalize the DESTINATION's out-degree onto each adjacency row:
    # a walk that lands on dst then knows its own degree for the next
    # draw without a second join per step (sinks carry 0)
    adj_full = (
        adj_idx.join(
            deg.select(F.col("src").alias("dst"), F.col("outdeg").alias("dst_outdeg")),
            "dst",
            "left",
        )
        .select(
            "src",
            "idx",
            "dst",
            F.coalesce("dst_outdeg", F.lit(0)).alias("dst_outdeg"),
        )
        .localCheckpoint()
    )
    starts = seeds.select("seed").distinct()
    if n_walks > 1:
        walks0 = starts.select(
            F.explode(
                F.array(*[F.concat(F.col("seed"), F.lit(f"#{k}")) for k in range(n_walks)])
            ).alias("walk_id"),
            F.col("seed").alias("node"),
        )
    else:
        walks0 = starts.select(F.col("seed").alias("walk_id"), F.col("seed").alias("node"))
    # seeds pay the degree join ONCE; steps never do
    state = (
        walks0.join(deg, walks0["node"] == deg["src"], "left")
        .select(
            "walk_id",
            F.lit(0).alias("step"),
            "node",
            F.coalesce("outdeg", F.lit(0)).alias("odeg"),
        )
        .localCheckpoint()
    )
    out = [state]
    for t in range(1, length + 1):
        draw = F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("walk_id"), F.lit(f":{t}"))), 1, 15),
            16,
            10,
        ).cast("long")
        picked = state.filter(F.col("odeg") > 0).select(
            "walk_id", (draw % F.col("odeg")).alias("pick"), "node"
        )
        state = (
            picked.join(
                adj_full,
                (picked["node"] == adj_full["src"]) & (picked["pick"] == adj_full["idx"]),
            )
            .select(
                "walk_id",
                F.lit(t).alias("step"),
                F.col("dst").alias("node"),
                F.col("dst_outdeg").alias("odeg"),
            )
            .localCheckpoint()
        )
        out.append(state)
    res = out[0]
    for s in out[1:]:
        res = res.unionByName(s)
    return res.select("walk_id", "step", "node")


def walk_cooccurrence(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram co-occurrence counts over a random-walk corpus — the
    (center, context) pair table word2vec-style node embedding
    trainers (DeepWalk KDD 2014 §4.2, node2vec KDD 2016) consume, and
    the input LINE/PTE-style edge-sampling trainers factorize. Pairs
    are canonicalized (least, greatest) — skip-gram windows are
    symmetric — and counted per unordered pair.

    `walks`: (walk_id, step, node) from `random_walks`. One self-join
    per corpus keyed on walk_id with a step-distance band predicate
    (0 < Δstep ≤ window): walk rows are (length+1)-bounded, so the
    per-key fanout is ≤ length·window — never a hub-degree blowup,
    because the walk corpus has already linearized the graph (that is
    the entire point of DeepWalk: co-occurrence statistics of bounded
    walks stand in for the intractable adjacency power series).
    """
    x, y = walks.alias("x"), walks.alias("y")
    return (
        x.join(
            y,
            (F.col("x.walk_id") == F.col("y.walk_id"))
            & (F.col("y.step") > F.col("x.step"))
            & (F.col("y.step") <= F.col("x.step") + window),
        )
        .select(
            F.least(F.col("x.node"), F.col("y.node")).alias("node_a"),
            F.greatest(F.col("x.node"), F.col("y.node")).alias("node_b"),
        )
        .groupBy("node_a", "node_b")
        .agg(F.count("*").cast("bigint").alias("n_cooc"))
    )


def reachable_set(
    edges: DataFrame, sources: DataFrame, max_iterations: int = 60
) -> DataFrame:
    """Distinct nodes reachable (path length >= 1) from a source SET —
    the set-valued sibling of `seeded_closure`: no per-seed tracking,
    so the working frame is one row per REACHED NODE even when the
    source set is a constant fraction of the graph (seeded_closure's
    (seed, node) pairs would go quadratic for Broder-core-sized seed
    sets — the web bowtie's core is ~28% of all nodes).

    `sources`: one column named `node`. Returns distinct (node) rows.
    """
    return _frontier_bfs(
        edges.select("src", "dst").distinct().localCheckpoint(),
        sources, (), max_iterations, "reachable_set",
    )


def bowtie_classes(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Broder et al.'s bowtie decomposition of a directed graph
    ("Graph structure in the Web", WWW9 / Computer Networks 33, 2000):
    every node classified against the largest strongly connected
    component —

        core — member of the largest SCC (ties: min scc_id),
        in   — reaches the core but is not reached from it,
        out  — reached from the core but does not reach it,
        disc — neither (tendrils/tubes/islands, collapsed: telling
               them apart needs tendril-of-IN bookkeeping the
               headline census doesn't).

    A node both reaching and reached by the core is mutually
    reachable with it, hence IN the core — so the four classes
    partition the node set and the CASE order below is exhaustive.

    Composition of the session's primitives: `scc_fwbw` finds the
    components — ALWAYS the Forward-Backward path, never the doubling
    closure, because the closure is quadratic inside the very giant
    core this census exists to find (VERDICT r04 wrong #2; the
    no-closure property is spy-pinned in tests/test_graph_structure.py)
    — one aggregate + 1-row cross-joinable argmax picks the largest,
    and TWO `reachable_set` frontier sweeps (forward edges, reversed
    edges) paint IN and OUT — work proportional to the painted
    regions, never all-pairs from the fringe. Returns
    (id, bowtie_class).
    """
    e = edges.select("src", "dst").distinct().localCheckpoint()
    comp = scc_fwbw(e, max_rounds=max(30, max_iterations)).localCheckpoint()
    core_row = (
        comp.groupBy("scc_id")
        .agg(F.count("*").alias("sz"))
        .orderBy(F.desc("sz"), "scc_id")
        .limit(1)
        .select(F.col("scc_id").alias("_core_id"))
    )
    core = comp.join(
        core_row, comp["scc_id"] == core_row["_core_id"]
    ).select("id")
    fwd = reachable_set(e, core.select(F.col("id").alias("node")))
    bwd = reachable_set(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        core.select(F.col("id").alias("node")),
    )
    return (
        comp.select("id")
        .join(core.withColumn("_c", F.lit(1)), "id", "left")
        .join(
            fwd.select(F.col("node").alias("id"), F.lit(1).alias("_f")), "id", "left"
        )
        .join(
            bwd.select(F.col("node").alias("id"), F.lit(1).alias("_b")), "id", "left"
        )
        .select(
            "id",
            F.when(F.col("_c") == 1, F.lit("core"))
            .when(F.col("_b") == 1, F.lit("in"))
            .when(F.col("_f") == 1, F.lit("out"))
            .otherwise(F.lit("disc"))
            .alias("bowtie_class"),
        )
    )


def seeded_distances(
    edges: DataFrame, seeds: DataFrame, max_iterations: int = 60
) -> DataFrame:
    """Minimum hop distance from each seed (frontier BFS with a step
    counter) — `seeded_closure` upgraded from reachability to
    distance. Returns (seed, node, dist) with dist >= 1; a node is
    emitted at its FIRST discovery, which under BFS is provably its
    minimum distance, so no min-aggregation pass is needed.

    The hop-distance feature the crawl-curation and entity-linking
    sides both consume: URL frontier depth from seed hosts
    (politeness/priority tiers), KG hop distance from unambiguous
    context entities (the relatedness signal next to
    `personalized_pagerank`'s mass-based one). Work ∝ the answer
    (frontier-sized joins), never all-pairs.
    """
    return _frontier_bfs(
        edges.select("src", "dst").distinct().localCheckpoint(),
        seeds.select("seed", F.col("seed").alias("node")),
        ("seed",),
        max_iterations,
        "seeded_distances",
        hop_col="dist",
    )


def hyperball(edges: DataFrame, radius: int = 3, b: int = 8) -> DataFrame:
    """HyperBall / approximate neighborhood function (Palmer et al.
    "ANF", KDD 2002; Boldi & Vigna "HyperBall", 2013): for every node,
    a HyperLogLog estimate of |ball(v, radius)| — how many nodes are
    reachable from v in ≤ radius hops (v itself included). THE
    web-graph distance tool at 10^10 nodes: exact per-node
    reachability is Σ|reach| rows (`scc`'s closure regime), while
    HyperBall's whole state is m registers per node, FOREVER, and one
    iteration is

        H_t(v) = merge(H_{t-1}(v), ⋃_{v→u} H_{t-1}(u))

    = one edge join + one (node, reg) max-aggregation — the register
    union is MAX, so partial aggregation absorbs hub in-degrees
    map-side exactly like `pagerank`'s contribution sums. Composes
    the repo's portable md5-positional HLL (`operators/sketch.py`):
    registers are bit-identical in DuckDB, so the oracle unrolls the
    whole iteration and the raw estimator matches BIGINT-exactly.

    Returns `hll_estimate` output per node: (node, n_regs,
    sum_scaled, est_distinct) for the radius-ball. Neighborhood
    function N(t) = Σ_v |ball(v, t)| follows by summing est_distinct;
    effective-diameter curves by running with increasing radius.
    """
    for _, regs in _ball_registers(edges, radius, b):
        last = regs
    return _packed_estimate(last, b)


def _ball_registers(edges: DataFrame, max_radius: int, b: int):
    """Shared HyperBall register iteration, PACKED: yields (t, state)
    for t = 0..max_radius, where state is ONE row per node holding all
    m = 2^b registers as columns (_r0.._r{m-1}) — HyperBall's packed
    counter arrays (Boldi & Vigna 2013 §4), closing the 16× row-per-
    register state blowup BENCH.md measured on the unpacked variant
    (r04 VERDICT weak #3b). Registers-as-columns instead of one
    BINARY + zip_with because Spark has no COMBINABLE pairwise-array
    aggregate (zip_with over collect_list would buffer a hub's whole
    in-neighborhood unreduced); per-column max IS the register-wise
    max merge and keeps map-side partial aggregation, so hub
    in-degree still collapses before the shuffle, now into ONE row
    per node instead of m. t=0 is the singleton sketch (seeded via
    the md5-positional `hll_registers`, so DuckDB oracles replay the
    registers bit-for-bit); each step is one edge join + one
    node-keyed max-aggregation, eager-checkpointed. `hyperball`,
    `neighborhood_function`, and `harmonic_centrality` all consume
    this one loop. Column fan-out bounds the practical register
    count at b ≤ 8 (256 columns — Janino-compile-sized); HyperBall's
    accuracy at b=8 is ~6.5 % which is the regime these census
    queries run in.
    """
    from rdf_diff_store_spark.operators.sketch import hll_registers

    if b > 8:
        raise ValueError(
            "packed HyperBall supports b <= 8 (2^b register COLUMNS; "
            f"b={b} would generate {1 << b} aggregate columns and fail "
            "deep inside Janino codegen with an obscure error)"
        )
    m = 1 << b
    rcols = [f"_r{i}" for i in range(m)]
    e = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    rows = hll_registers(
        nodes.select("node", F.col("node").alias("val")), ["node"], "val", b
    )
    packed = (
        rows.groupBy("node")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("reg") == i, F.col("maxrank"))), F.lit(0)
                )
                .cast("int")
                .alias(f"_r{i}")
                for i in range(m)
            ]
        )
        .localCheckpoint()
    )
    yield 0, packed
    for t in range(1, max_radius + 1):
        contrib = e.join(packed, e["dst"] == packed["node"]).select(
            e["src"].alias("node"), *rcols
        )
        packed = (
            packed.unionByName(contrib)
            .groupBy("node")
            .agg(*[F.max(c).alias(c) for c in rcols])
            .localCheckpoint()
        )
        yield t, packed


def _packed_estimate(packed: DataFrame, b: int) -> DataFrame:
    """`hll_estimate` over packed register columns — the identical
    integer-exact arithmetic (absent register = rank 0 contributes
    2^53, present ones 2^(53-rank); one shared float C literal from
    `sketch._hll_alpha_c`; one correctly-rounded divide), so the
    packed path is BIGINT-bit-identical to the row-register oracle.
    Returns (node, n_regs, sum_scaled, est_distinct)."""
    from rdf_diff_store_spark.operators.sketch import _hll_alpha_c

    m = 1 << b
    n_regs = None
    sum_scaled = None
    for i in range(m):
        present = F.when(F.col(f"_r{i}") > 0, 1).otherwise(0)
        term = F.expr(f"CAST(power(2, 53 - _r{i}) AS BIGINT)")
        n_regs = present if n_regs is None else n_regs + present
        sum_scaled = term if sum_scaled is None else sum_scaled + term
    c = _hll_alpha_c(b)
    return packed.select(
        "node",
        n_regs.cast("int").alias("n_regs"),
        sum_scaled.alias("sum_scaled"),
        F.floor(F.lit(c) / sum_scaled).cast("long").alias("est_distinct"),
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz 1998)
    in exact integer micro-units over `triangle_count`'s census:

        cc_micro = 2·T(v)·1_000_000 div (d(v)·(d(v)−1)),   d(v) ≥ 2

    (degree-1 nodes have no wedge and score 0). The density signal
    behind link-farm detection (farms are near-cliques: cc ≈ 1 at
    high degree) and community-nucleus ranking — the per-node
    normalization of the same census `web_triangles` reports raw.
    Inherits the degree-orientation bound, adds one map-side
    expression: no extra shuffle.
    """
    t = triangle_count(edges)
    return t.select(
        "node",
        "degree",
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            F.expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("cc_micro"),
    )


def neighborhood_function(
    edges: DataFrame, max_radius: int = 4, b: int = 8
) -> DataFrame:
    """The neighborhood function N(t) = Σ_v |ball(v, t)| estimated per
    radius t = 0..max_radius — HyperANF's headline output (Boldi,
    Rosa & Vigna WWW 2011; Backstrom et al.'s "Four Degrees of
    Separation" ran exactly this over the Facebook graph): the curve
    whose normalized CDF gives the distance distribution and the
    effective diameter (min t with N(t) ≥ 0.9·N(∞)).

    One register frame iterated in place — the same loop as
    `hyperball`, with a radius-tagged estimate emitted after every
    merge, so the whole curve costs max_radius iterations, not
    O(radius²) re-runs. Returns (radius, n_nodes, pairs_est) where
    pairs_est = Σ_v est|ball(v, radius)| as one BIGINT (each per-node
    term is the bit-portable raw HLL estimator, so the sum is
    engine-exact).
    """
    def _point(t: int, r: DataFrame) -> DataFrame:
        return (
            _packed_estimate(r, b)
            .agg(
                F.count("*").cast("bigint").alias("n_nodes"),
                F.sum("est_distinct").cast("bigint").alias("pairs_est"),
            )
            .select(F.lit(t).alias("radius"), "n_nodes", "pairs_est")
        )

    out = [_point(t, regs) for t, regs in _ball_registers(edges, max_radius, b)]
    res = out[0]
    for p in out[1:]:
        res = res.unionByName(p)
    return res


def node2vec_walks(
    edges: DataFrame,
    seeds: DataFrame,
    length: int = 8,
    w_return: int = 1,
    w_stay: int = 4,
    w_out: int = 2,
    salt: str = "n2v",
    max_degree: int | None = None,
) -> DataFrame:
    """Second-order biased walks (node2vec, Grover & Leskovec KDD
    2016): the step distribution depends on the PREVIOUS node — a
    neighbor x of the current node u is weighted

        w_return  if x = prev              (1/p, return bias)
        w_stay    if (prev, x) is an edge  (distance-1: BFS-ish)
        w_out     otherwise                (1/q, DFS-ish)

    with integer weights (callers map node2vec's 1/p, 1/q onto any
    common denominator — exact portable arithmetic, no float
    sampling). The draw is the same md5 discipline as
    `random_walks`: r = md5_60bit(salt ⧺ walk ⧺ ':' ⧺ t) mod
    total_weight picks the unique neighbor whose cumulative-weight
    interval contains r, so the corpus replays bit-identically and a
    SQL twin can unroll it.

    Scale shape — honest about the node2vec cost: a second-order step
    NEEDS the full neighbor list of the current node (every neighbor's
    class depends on prev), so each step fans out deg(node) rows per
    live walk, then one (prev, x) edge-marker anti-probe (left join),
    one per-walk cumulative-sum window, and a filter keep exactly one
    row. This is the price of the biased distribution — first-order
    `random_walks` stays O(1) per step and is the default; use
    node2vec where the BFS/DFS interpolation earns it. `max_degree`
    caps hub fan-out IN the operator (r04 VERDICT #3a): nodes with
    more than `max_degree` out-neighbors walk over a DETERMINISTIC
    md5-ranked subsample of exactly `max_degree` of them — replays
    stay bit-identical, and a 10^6-degree hub on a walk path fans
    out `max_degree` candidate rows instead of 10^6. The (prev, x)
    edge classification still consults the FULL edge set (the marker
    probe is an equi-join, not a fan-out), so w_stay/w_out labels are
    unaffected by the cap; only the hub's reachable-neighbor menu
    shrinks — the standard degree-capping trade.
    Step 1 has no prev and draws uniformly (standard convention).
    """
    from pyspark.sql import Window

    e = edges.select("src", "dst").distinct().localCheckpoint()
    marker = e.select(
        F.col("src").alias("_ms"), F.col("dst").alias("_md"), F.lit(1).alias("_edge")
    ).localCheckpoint()
    if max_degree is not None:
        cap_rank = F.row_number().over(
            Window.partitionBy("src").orderBy(
                F.md5(
                    F.concat(
                        F.lit(salt), F.lit(":cap:"), F.col("src"), F.lit("→"),
                        F.col("dst"),
                    )
                ),
                "dst",
            )
        )
        e = (
            e.select("src", "dst", cap_rank.alias("_rk"))
            .filter(F.col("_rk") <= max_degree)
            .select("src", "dst")
            .localCheckpoint()
        )
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    idx = F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1
    adj_idx = e.select("src", "dst", idx.alias("idx")).localCheckpoint()

    starts = seeds.select("seed").distinct()
    # step 1: uniform first-order pick (no prev yet) — same as random_walks
    draw1 = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col("walk_id"), F.lit(":1"))), 1, 15),
        16,
        10,
    ).cast("long")
    s0 = starts.select(F.col("seed").alias("walk_id"), F.col("seed").alias("node"))
    picked1 = (
        s0.join(deg, s0["node"] == deg["src"])
        .select("walk_id", (draw1 % F.col("outdeg")).alias("pick"), "node")
    )
    state = (
        picked1.join(
            adj_idx,
            (picked1["node"] == adj_idx["src"]) & (picked1["pick"] == adj_idx["idx"]),
        )
        .select(
            "walk_id",
            F.lit(1).alias("step"),
            F.col("node").alias("prev"),
            F.col("dst").alias("node"),
        )
        .localCheckpoint()
    )
    out = [
        s0.select("walk_id", F.lit(0).alias("step"), F.col("node")),
        state.select("walk_id", "step", "node"),
    ]
    for t in range(2, length + 1):
        draw = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("walk_id"), F.lit(f":{t}"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        cand = (
            state.join(e, state["node"] == e["src"])
            .select("walk_id", "prev", "node", F.col("dst").alias("x"))
            .join(
                marker,
                (F.col("prev") == F.col("_ms")) & (F.col("x") == F.col("_md")),
                "left",
            )
            .select(
                "walk_id",
                "node",
                "x",
                F.when(F.col("x") == F.col("prev"), F.lit(w_return))
                .when(F.col("_edge") == 1, F.lit(w_stay))
                .otherwise(F.lit(w_out))
                .cast("long")
                .alias("w"),
            )
        )
        wwin = Window.partitionBy("walk_id").orderBy("x")
        scored = cand.select(
            "walk_id",
            "node",
            "x",
            "w",
            F.sum("w").over(wwin).alias("cum"),
            F.sum("w").over(
                Window.partitionBy("walk_id").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("total"),
        )
        state = (
            scored.filter(
                ((F.col("cum") - F.col("w")) <= (draw % F.col("total")))
                & ((draw % F.col("total")) < F.col("cum"))
            )
            .select(
                "walk_id",
                F.lit(t).alias("step"),
                F.col("node").alias("prev"),
                F.col("x").alias("node"),
            )
            .localCheckpoint()
        )
        out.append(state.select("walk_id", "step", "node"))
    res = out[0]
    for s in out[1:]:
        res = res.unionByName(s)
    return res


def harmonic_centrality(
    edges: DataFrame, max_radius: int = 4, b: int = 8
) -> DataFrame:
    """Approximate harmonic centrality via HyperBall deltas (Boldi &
    Vigna, "In-core computation of geometric centralities with
    HyperBall", ICDMW 2013 — the paper's headline application; they
    ran it on the whole 10^9-node Facebook graph):

        H(v) = Σ_{u reachable, u≠v} 1/d(v,u)
             ≈ Σ_{t=1..R} (1_000_000 div t) · (|ball(v,t)| − |ball(v,t−1)|)

    in integer micro-units over the per-radius HLL estimates. Raw-HLL
    ball estimates are NON-DECREASING in t (registers only grow, so
    sum_scaled only shrinks), hence every delta is ≥ 0 and the sum is
    a BIGINT of portable terms — the oracle unrolls radius-by-radius
    bit-exactly. Truncation at max_radius is the standard HyperBall
    regime (contributions decay as 1/t; run to the effective diameter
    from `neighborhood_function`).

    Uses OUT-ball distances d(v, u); pass reversed edges for the
    classic in-direction ("how easily is v reached") centrality.
    Same per-iteration cost as `hyperball` plus one node-keyed join
    per radius to difference the estimates.
    """
    acc = None
    for t, regs in _ball_registers(edges, max_radius, b):
        if t == 0:
            acc = _packed_estimate(regs, b).select(
                "node",
                F.col("est_distinct").alias("_prev"),
                F.lit(0).cast("bigint").alias("h_micro"),
            )
            continue
        est = _packed_estimate(regs, b).select(
            "node", F.col("est_distinct").alias("_cur")
        )
        acc = (
            acc.join(est, "node")
            .select(
                "node",
                F.col("_cur").alias("_prev"),
                (
                    F.col("h_micro")
                    + F.lit(1_000_000 // t) * (F.col("_cur") - F.col("_prev"))
                )
                .cast("bigint")
                .alias("h_micro"),
            )
            .localCheckpoint()
        )
    return acc.select("node", "h_micro")
