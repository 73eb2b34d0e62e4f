"""Knowledge-graph embedding training — full-batch integer TransE
(Bordes et al., NeurIPS 2013) re-derived for engine-portable exact
arithmetic, the KG-side representation learner that pairs with the
document-side embedding operators (operators/similarity.py) in a
training-data pipeline: score triples, propose missing links, feed
entity vectors to ANN retrieval.

Why this shape (and not a faithful float SGD port):

* **Exploded parameters.** Embeddings live as (id, d, v) rows — one
  row per (entity|relation, dimension), BIGINT v. That is the
  parameter-server sharding made relational: every training step is
  joins + aggregations on (id, d), so Catalyst/AQE distribute the
  parameter state exactly like any other table at 10^9 entities. It
  is also what makes a DuckDB oracle possible — scalar SQL, no
  vector types.
* **Full-batch, not SGD.** Per-example sequential updates are order-
  dependent (non-deterministic under any parallelism); the full-batch
  margin-loss gradient is a SUM over triples — associative, so the
  result is bit-identical at any partitioning in any engine.
* **Integer micro-units, division-free updates.** Squared-L2 scoring
  (‖h+r−t‖²) has LINEAR gradients (±2(h+r−t)) — no sqrt, no float.
  The update is v − 2·step·Σgrad (multiply-add only); magnitude is
  bounded per round by a div-by-max renormalization — the integer
  analog of TransE's per-round L2 normalization — computed
  sign-safely (sign·(abs div s)) because Spark's `div` truncates
  toward zero while DuckDB's `//` floors: on NON-NEGATIVE operands
  they agree, on negatives they don't (the hits/pagerank micro-unit
  discipline, extended to signed values).
* **Deterministic everything.** Init vectors are md5-derived
  (the doc_simhash_portable trick), negatives are md5-picked from a
  bounded candidate list (collected once, broadcast), so the whole
  training run replays bit-identically and the oracle can unroll it
  in SQL.

Scale notes: each round is four (id, d) equi-joins + one per-triple
aggregation + one per-(id, d) gradient sum + the 1-row rescale
broadcast; hub entities (appearing in millions of triples) are
absorbed by map-side partial aggregation; localCheckpoint cuts
lineage per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMB_SCALE = 1000  # init range [-EMB_SCALE, +EMB_SCALE]
RENORM = 1_000_000  # post-round magnitude target (hits-style)


def _md5_int(key: F.Column) -> F.Column:
    """Portable 52-bit non-negative int from md5(key) — the shared
    engine-independent hash basis."""
    return F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("long")


def md5_embedding(
    ids: DataFrame,
    dim: int,
    prefix: str,
    id_col: str = "id",
    scale: int = EMB_SCALE,
) -> DataFrame:
    """(id, d, v) init rows: v = md5(prefix:id:d) % (2·scale+1) − scale,
    reproducible in any engine that has md5."""
    return ids.select(F.col(id_col).alias("id")).distinct().select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("d"),
    ).select(
        "id",
        "d",
        (
            _md5_int(F.concat_ws(":", F.lit(prefix), F.col("id"), F.col("d")))
            % (2 * scale + 1)
            - scale
        ).alias("v"),
    )


def _renorm(emb: DataFrame) -> DataFrame:
    """Sign-safe div-by-max renormalization to ~RENORM magnitude."""
    s = emb.agg(
        F.greatest(
            F.lit(1).cast("long"), F.expr(f"max(abs(v)) div {RENORM}")
        ).alias("_s")
    )
    return emb.crossJoin(F.broadcast(s)).select(
        "id",
        "d",
        F.when(
            F.col("v") < 0, -F.expr("(-v) div _s")
        ).otherwise(F.expr("v div _s")).cast("long").alias("v"),
    )


def transe_train(
    triples: DataFrame,
    dim: int = 8,
    iterations: int = 1,
    margin: int = 1_000_000,
    step: int = 1,
    n_neg_candidates: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Train TransE over (h, r, t) string triples; returns
    ``(entity_emb, relation_emb)`` as (id, d, v) frames.

    Per round, over the DISTINCT triple set with its md5-picked
    corrupt tail t′ (from the first ``n_neg_candidates`` entities in
    lexicographic order — a bounded, collected-once list):

        g  = h + r − t        g′ = h + r − t′        (per dimension)
        active ⟺ Σg² − Σg′² + margin > 0              (hinge)
        Δh = Δr = g − g′      Δt = −g      Δt′ = +g′  (active only)
        v ← renorm(v − 2·step·ΣΔ)
    """
    tri = triples.select("h", "r", "t").distinct().localCheckpoint()
    ents = (
        tri.select(F.col("h").alias("id"))
        .unionByName(tri.select(F.col("t").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    cand = [
        r["id"]
        for r in ents.orderBy("id").limit(n_neg_candidates).collect()
    ]
    cand_arr = F.array(*[F.lit(c) for c in cand])
    tri = tri.withColumn(
        "t_neg",
        F.element_at(
            cand_arr,
            (
                _md5_int(F.concat_ws("|", F.lit("neg"), "h", "r", "t"))
                % len(cand)
            ).cast("int")
            + 1,
        ),
    ).withColumn("tk", F.concat_ws("|", "h", "r", "t")).localCheckpoint()

    ent = md5_embedding(ents, dim, "ent")
    rel = md5_embedding(tri.select(F.col("r").alias("id")), dim, "rel")

    for _ in range(iterations):
        def side(e: DataFrame, role: str, key: str) -> DataFrame:
            return e.select(
                F.col("id").alias(key), "d", F.col("v").alias(f"v_{role}")
            )

        g = (
            tri.join(side(ent, "h", "h"), "h")
            .join(side(rel, "r", "r"), ["r", "d"])
            .join(side(ent, "t", "t"), ["t", "d"])
            .join(side(ent, "tn", "t_neg"), ["t_neg", "d"])
            .select(
                "tk",
                "h",
                "r",
                "t",
                "t_neg",
                "d",
                (F.col("v_h") + F.col("v_r") - F.col("v_t")).alias("g"),
                (F.col("v_h") + F.col("v_r") - F.col("v_tn")).alias("g2"),
            )
            .localCheckpoint()  # barrier: scored once, graded once
        )
        active = (
            g.groupBy("tk")
            .agg(
                F.sum(F.col("g") * F.col("g")).alias("sp"),
                F.sum(F.col("g2") * F.col("g2")).alias("sn"),
            )
            .filter(F.col("sp") - F.col("sn") + F.lit(margin) > 0)
            .select("tk")
        )
        ga = g.join(active, "tk")
        ent_grads = (
            ga.select(F.col("h").alias("id"), "d", (F.col("g") - F.col("g2")).alias("gr"))
            .unionByName(ga.select(F.col("t").alias("id"), "d", (-F.col("g")).alias("gr")))
            .unionByName(ga.select(F.col("t_neg").alias("id"), "d", F.col("g2").alias("gr")))
            .groupBy("id", "d")
            .agg(F.sum("gr").alias("G"))
        )
        rel_grads = (
            ga.select(F.col("r").alias("id"), "d", (F.col("g") - F.col("g2")).alias("gr"))
            .groupBy("id", "d")
            .agg(F.sum("gr").alias("G"))
        )

        def apply(e: DataFrame, grads: DataFrame) -> DataFrame:
            return _renorm(
                e.join(grads, ["id", "d"], "left").select(
                    "id",
                    "d",
                    (
                        F.col("v")
                        - 2 * step * F.coalesce(F.col("G"), F.lit(0).cast("long"))
                    ).alias("v"),
                )
            ).localCheckpoint()

        ent, rel = apply(ent, ent_grads), apply(rel, rel_grads)
    return ent, rel


def transe_scores(
    triples: DataFrame, ent: DataFrame, rel: DataFrame
) -> DataFrame:
    """(h, r, t, score) with score = Σ_d (h+r−t)² — smaller is more
    plausible. Exact BIGINT."""
    tri = triples.select("h", "r", "t").distinct()
    return (
        tri.join(ent.select(F.col("id").alias("h"), "d", F.col("v").alias("v_h")), "h")
        .join(rel.select(F.col("id").alias("r"), "d", F.col("v").alias("v_r")), ["r", "d"])
        .join(ent.select(F.col("id").alias("t"), "d", F.col("v").alias("v_t")), ["t", "d"])
        .groupBy("h", "r", "t")
        .agg(
            F.sum(
                (F.col("v_h") + F.col("v_r") - F.col("v_t"))
                * (F.col("v_h") + F.col("v_r") - F.col("v_t"))
            ).alias("score")
        )
    )


def link_prediction(
    pairs: DataFrame,
    candidates: DataFrame,
    ent: DataFrame,
    rel: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Tail prediction (h, r, ?) — the thing the embeddings are FOR:
    score every candidate tail for each query pair, keep the k most
    plausible (smallest ‖h+r−t‖², ties to the lexicographically
    smallest tail — deterministic in any engine).

    ``candidates`` is a (id) frame of PERMITTED tails, broadcast — at
    web scale nobody scores 10^9 entities per query; the candidate set
    comes from a type filter (void class partitions) or an ANN
    preselection over the entity vectors (operators/similarity.py),
    both already in the repo. The ranking window partitions by (h, r)
    — top-k per query, never a global sort."""
    from pyspark.sql import Window

    cand = pairs.select("h", "r").distinct().join(
        F.broadcast(candidates.select(F.col("id").alias("t")).distinct())
    )
    scored = transe_scores(cand, ent, rel)
    w = Window.partitionBy("h", "r").orderBy(F.col("score").asc(), F.col("t").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .withColumnRenamed("_rk", "rank")
    )
