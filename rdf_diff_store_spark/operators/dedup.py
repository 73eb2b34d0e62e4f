"""Deduplication operators for web-scale corpora: MinHash+LSH, n-gram
Jaccard, containment and embedding near-dups.

Design for 100 TB:
* Shingling and MinHash signatures are pure JVM expression trees
  (transform + xxhash64 + array_min) — no Python worker in the
  signature path, whole-stage codegen end to end.
* LSH banding turns the O(n²) similarity problem into a groupBy on
  (band_id, band_hash): only documents sharing a band bucket are
  paired. The self-join is an equi-join on the bucket key, so AQE can
  split skewed buckets (boilerplate-heavy shingle sets are the classic
  hub keys).
* Candidate pairs are emitted once (id_a < id_b) and can be verified
  with exact Jaccard (`jaccard_on_pairs`) before clustering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bind_once(col: Column, fn) -> Column:
    """Evaluate `col` exactly once and expose it to `fn` as a
    higher-order-function lambda variable.

    Catalyst's ProjectCollapse inlines intermediate projections, so an
    expression referenced k times is *evaluated* k times per row. For
    an expensive subexpression (a regex split referenced inside a
    transform lambda: k ≈ 3·n_shingles) that is a 100× slowdown —
    binding it as a lambda variable makes every reference a variable
    read. Measured: shingling 22k docs 5.4s → 0.2s."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string> — JVM-side."""
    words = F.split(F.trim(text), r"\s+")

    def build(w: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0)))
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(w, (i + k + 1).cast("int")) for k in range(n)]
        )
        return F.array_distinct(F.transform(idx, gram))

    return bind_once(words, build)


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature array<long>: component i = min over shingles
    of an i-seeded 64-bit hash. All built-in expressions.

    NB: `shingles` should be a *materialized column reference* (not an
    inline expression) — the expression is referenced num_hashes
    times, and Catalyst inlines collapsed projections, so an inline
    shingle expression would be recomputed per component.

    Built as ONE nested higher-order transform (2 lambdas total)
    rather than num_hashes separate array_min expressions: the
    expanded form made Janino compile ~40 s of generated code on
    first use; this form compiles in well under a second with the
    same evaluation cost.

    Allocation-free inner loop (r04): each shingle STRING is hashed
    exactly once (xxhash64 over the existing UTF8String bytes, no
    copy), and the i-th permutation is xxhash64(h, i) — Spark's hash
    codegen chains hashLong() per field with zero allocation. The
    previous form, xxhash64(concat(i, '|', s)), built a fresh string
    per (shingle × seed): at 1.78M pages × ~30 shingles × 32 seeds
    that is ~1.7e9 short-lived UTF8Strings per run, and GC on those
    was the measured scaling bottleneck of the alias_edges stage
    (BENCH.md r04 per-stage profile)."""
    hashed = F.transform(shingles, lambda s: F.xxhash64(s))
    return bind_once(
        hashed,
        lambda hs: F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.array_min(F.transform(hs, lambda h: F.xxhash64(h, i))),
        ),
    )


def shingle_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """Materialized (_id, _sh) shingle-set frame, shareable between
    LSH banding and exact-Jaccard verification so the shingling work
    happens once.

    Explicit repartition first: AQE coalesces upstream shuffles of
    compact text rows into a couple of partitions, which would pin
    the downstream MinHash compute (the CPU-heaviest expression in
    the pipeline) to a couple of cores. Partition count is decoupled
    from byte size on purpose: one partition per core."""
    return (
        # keyed repartition (ids are unique → even spread): a keyless
        # repartition(n) pays sortBeforeRepartition's local sort of the
        # input first (guide §2.5)
        df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        .select(
            F.col(id_col).alias("_id"),
            word_shingles(F.col(text_col), shingle_n).alias("_sh"),
        )
        .localCheckpoint()  # eager: a lazy checkpoint would be racily
        # double-computed by the two sides of the LSH self-join
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash-LSH banding.

    Returns distinct (id_a, id_b) with id_a < id_b. rows = bands
    partition the signature; two docs collide if any band matches
    exactly. With num_hashes=16, bands=8 (r=2), the collision curve
    catches Jaccard >= ~0.5 with high probability.

    The shingle arrays and signatures are materialized (lazy
    localCheckpoint) before the band explosion: ProjectCollapse would
    otherwise inline the whole shingle+minhash tree into every band
    expression — measured 130× slowdown at 22k docs. At cluster scale
    the equivalent is writing the signature table once, which real
    LSH pipelines do anyway.
    """
    sh = shingles if shingles is not None else shingle_frame(df, id_col, text_col, shingle_n)
    band_rows = band_rows_frame(sh, num_hashes=num_hashes, bands=bands)
    a = band_rows.select(F.col("band"), F.col("band_hash"), F.col("_id").alias("id_a"))
    b = band_rows.select(F.col("band"), F.col("band_hash"), F.col("_id").alias("id_b"))
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def band_rows_frame(
    shingles: DataFrame, num_hashes: int = 16, bands: int = 8
) -> DataFrame:
    """(_id, band, band_hash) LSH band rows from a materialized
    shingle frame — the shared building block of batch candidate-pair
    banding (lsh_candidate_pairs) and streaming near-dup suppression
    (streaming/neardup.py). Signatures are materialized first (eager
    localCheckpoint) so ProjectCollapse can't inline the MinHash tree
    into every band expression."""
    sig = shingles.select(
        "_id", minhash_signature(F.col("_sh"), num_hashes).alias("_sig")
    ).localCheckpoint()
    rows_per_band = num_hashes // bands
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band)),
    )
    return sig.select("_id", F.posexplode(band_keys).alias("band", "band_hash"))


def jaccard_on_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word-shingle Jaccard for candidate pairs (verification
    stage after LSH). Join-twice + array set ops, JVM-side."""
    sh = shingles if shingles is not None else shingle_frame(docs, id_col, text_col, shingle_n)
    out = (
        pairs.join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
    )
    return out.select("id_a", "id_b", "jaccard")


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    dim: int | None = None,
    exact: bool = False,
    two_level: bool = False,
    band_bits: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim)
    with cos >= threshold and id_a < id_b.

    exact=True does the all-pairs join (the oracle-checkable baseline;
    O(n²), fine for verification scale). The default routes both sides
    through the IVF coarse quantizer first — near-dups at cos>=0.95
    land in the same cell with high probability, so the join touches
    ~1/n_centroids of the pair space. n_centroids defaults to √n (one
    count job): (n/k)² pairs per cell × k cells = O(n^1.5) total at
    k=√n — a √n factor better than any FIXED k's O(n²/k), though not
    linear. Boundary pairs split across neighboring cells are the
    recall cost — raise the threshold margin or use exact=True at
    verification scale.

    two_level=True composes the cell id with a hyperplane-LSH band
    key (the r03-verdict near-linear path, SCALE.md §IVF): candidate
    pairs must share (cell, band) in at least one of ``n_tables``
    sign-bit tables of ``band_bits`` planes each. Within-cell pair
    work drops from (n/k)² to the per-(cell, band) bucket sizes —
    near-linear for high thresholds. Pair recall per table ≈
    p^band_bits with p = 1 − θ/π (θ the pair angle); OR-ed across
    tables: at cos ≥ 0.95 (θ≈18°, p≈0.90) the 8-bit × 4-table default
    keeps ≈ 0.89 of within-cell pairs. The multi-table pair union
    dedups on IDS ONLY (vectors rejoin once for the cosine verify) —
    the lsh_topk shuffle lesson."""
    from rdf_diff_store_spark.operators.similarity import (
        _centroid_assign_udf,
        _cosine,
        default_n_centroids,
        md5_centroids,
    )

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if exact:
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            raise ValueError("dim required for the IVF-bucketed path")
        if n_centroids is None:
            n_centroids = default_n_centroids(df)
        assign = _centroid_assign_udf(md5_centroids(n_centroids, dim), top=1)
        cell = lambda v: F.element_at(assign(v), 1)  # noqa: E731
        a = a.withColumn("_cell", cell(F.col("va")))
        b = b.withColumn("_cell", cell(F.col("vb")))
        if two_level:
            from rdf_diff_store_spark.operators.similarity import _bucket_udf

            # id+keys only per table — the vectors must NOT ride the
            # multi-table union/distinct exchange
            id_pairs = None
            for t in range(n_tables):
                band = _bucket_udf(dim, band_bits, table=t)
                at = a.select("id_a", "_cell", band(F.col("va")).alias("_band"))
                bt = b.select("id_b", "_cell", band(F.col("vb")).alias("_band"))
                pt = (
                    at.join(bt, ["_cell", "_band"])
                    .filter(F.col("id_a") < F.col("id_b"))
                    .select("id_a", "id_b")
                )
                id_pairs = pt if id_pairs is None else id_pairs.unionByName(pt)
            pairs = (
                id_pairs.distinct()
                .join(a.select("id_a", "va"), "id_a")
                .join(b.select("id_b", "vb"), "id_b")
            )
        else:
            pairs = (
                a.join(b, "_cell").filter(F.col("id_a") < F.col("id_b")).drop("_cell")
            )
    return (
        pairs.withColumn("cos_sim", F.round(_cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _bloom_pos(seed_col: Column, gram: Column, m_bits: int) -> Column:
    """Bit position for (seed, gram): md5-52bit of 's:gram' mod m —
    the same portable recipe as the count-min buckets, so a DuckDB
    oracle reproduces the filter bit-for-bit."""
    from rdf_diff_store_spark.operators.sketch import hash52

    return hash52(F.concat(seed_col.cast("string"), F.lit(":"), gram)) % m_bits


def bloom_bits(
    ngrams: DataFrame, gram_col: str = "g", k: int = 3, m_bits: int = 8192
) -> DataFrame:
    """Build the Bloom set-membership state from a frame of n-grams:
    ONE row holding the sorted array of set bit positions.

    Scale shape: the per-gram explode is ×k (a constant); distinct
    positions collapse map-side, the shuffle carries ≤ m_bits longs,
    and the result is a single ≤ m_bits-element array — broadcast
    state, like the reference's in-memory store index
    (/root/reference/src/rdf.rs:1-60) shrunk to bits. Sizing rule:
    false-positive rate ≈ (1 - e^(-k·n/m))^k; m = 10·n bits with k=3
    gives ~3 %. The array-of-longs representation is the ORACLE-
    portable form; a production deployment at 10^10 eval grams would
    pack the same positions into a long[] bitset UDF-side — the plan
    (agg → broadcast → map-only probe) is unchanged.
    """
    seeds = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("s")
    pos = (
        ngrams.select(F.col(gram_col), seeds)
        .select(_bloom_pos(F.col("s"), F.col(gram_col), m_bits).alias("pos"))
        .distinct()
    )
    return pos.agg(F.sort_array(F.collect_set("pos")).alias("bits"))


def bloom_decontaminate(
    docs: DataFrame,
    grams_col: str,
    bits: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    m_bits: int = 8192,
) -> DataFrame:
    """Flag documents whose n-gram set hits the Bloom filter — the
    broadcast-scan alternative to the semi-join decontamination sweep.

    Why this exists next to the exact join (`q_doc_decontaminate`):
    the join shuffles EVERY train-side gram on its hash; at 10^12
    documents that is the dominant exchange of the whole sweep. Here
    the eval side is folded into ≤ m_bits longs, broadcast once, and
    the train side is a MAP-ONLY pass — no shuffle touches the corpus
    — at the price of a bounded, sizable-in-advance false-positive
    rate (never false negatives: contaminated docs are always
    flagged). Per doc, the gram→k-position→membership test runs as a
    nested JVM array expression (size/filter/forall/array_contains) —
    whole-stage codegen, no Python.

    Returns (id, n_grams, n_hits, flagged) for every input doc.
    """
    probe = docs.crossJoin(F.broadcast(bits))
    hit_grams = F.filter(
        F.col(grams_col),
        lambda g: F.forall(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda s: _bloom_pos(s, g, m_bits),
            ),
            lambda p: F.array_contains(F.col("bits"), p),
        ),
    )
    n_hits = F.size(hit_grams)
    return probe.select(
        id_col,
        F.size(F.col(grams_col)).cast("long").alias("n_grams"),
        n_hits.cast("long").alias("n_hits"),
        (n_hits > 0).alias("flagged"),
    )


def containment_scores(fps: DataFrame, max_df: int = 20) -> DataFrame:
    """ASYMMETRIC containment scoring over document fingerprint sets
    (Broder, "On the resemblance and containment of documents", SEQUENCES
    1997 §2 — containment c(A,B) = |A∩B| / |A|, the quantity resemblance/
    Jaccard deliberately symmetrizes away): detects near-SUBSET copies —
    a page quoted inside a larger page, boilerplate-wrapped syndication,
    snippet farms — which Jaccard misses whenever the host document is
    much larger than the copied one (|A∩B|/|A∪B| → 0 as |B| grows, while
    c(A,B) stays ≈ 1).

    `fps`: (doc_id, fp) fingerprint assignments (winnowing fingerprints,
    shingle hashes — any set-valued signature). Returns one row per
    co-fingerprinted pair (doc_a < doc_b): intersection size, both set
    sizes, and `containment_pct` = the max-direction containment
    |A∩B|·100 div min(|A|,|B|) — exact integer math, engine-portable.

    Scale shape: the inverted index is df-capped ([2, max_df]) exactly
    like `doc_shared_spans`/`mirror_hosts` — a boilerplate fingerprint
    in 10^9 docs would mint 10^18 pairs; capped fingerprints make the
    intersection an UNDERCOUNT, so thresholds are on a conservative
    lower bound (the standard stopword-removal semantics of every
    inverted-index dedup here). Set sizes count ALL fingerprints
    (one combinable agg before the cap), so the denominator is exact;
    the pair shuffle carries ids + one count only."""
    ex = fps.select("doc_id", "fp").distinct()
    sizes = ex.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    keep = (
        ex.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("fp")
    )
    cand = ex.join(keep, "fp")
    inter = (
        cand.alias("a")
        .join(
            cand.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("size_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("size_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "size_a",
            "size_b",
            F.expr("(inter * 100) div least(size_a, size_b)")
            .cast("bigint")
            .alias("containment_pct"),
        )
    )
