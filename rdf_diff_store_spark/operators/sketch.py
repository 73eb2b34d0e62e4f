"""Engine-portable sketch + weighted-sampling operators for corpus
statistics at 100 TB.

The reference exposes repo/graph statistics through its metadata API
(/root/reference/src/metrics/mod.rs:1-40 counts stores and graphs
exactly); at web scale exact distinct counts and uniform samples stop
being computable in one pass, so this module adds the two standard
sub-linear substitutes a training-data pipeline runs instead:

* KMV (k-minimum-values) distinct-count sketch — Bar-Yossef et al.
  2002: keep the k smallest hash values per group; the kth smallest
  order statistic u_(k) estimates cardinality as (k-1)/u_(k).
* Priority sampling — Duffield, Lund, Thorup (JACM 2007): weight-aware
  fixed-size sample with unbiased subset-sum estimates; priority
  q_i = w_i / u_i, keep the k largest, and every kept item's weight
  estimate is max(w_i, tau) where tau is the (k+1)th priority.

Portability design (the md5 trick that made MinHash/SimHash/ANN
oracle-checkable): the uniform u_i is derived from the first 13 hex
digits of md5(value) — a 52-bit integer, EXACTLY representable as an
IEEE double — so Spark and DuckDB compute bit-identical priorities
from `(w * 2^52) / (h + 1)` with no transcendental functions and no
RNG. rand()-based sketches can't be replayed across engines,
partitionings, or runs; md5-based ones can.

Design for 100 TB:
* KMV dedups (group, hash) first — map-side partial aggregation
  shrinks the shuffle to |distinct| rows — then ranks within group
  (sort-based aggregation, spillable). The sketch state per group is
  k longs; merging shards is re-ranking, the same plan shape.
* Priority sampling is a global top-(k+1) — Spark executes
  `ORDER BY priority DESC LIMIT k+1` as TakeOrderedAndProject:
  per-partition bounded heaps + a single k-row merge at the driver,
  never a global sort shuffle.
* 52-bit hashes collide (birthday) around 2^26 distinct values per
  group; that is inherent sketch error territory (KMV's own relative
  error is ~1/sqrt(k-1)) and documented here rather than hidden.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 2^52 — the largest power of two for which every smaller non-negative
# integer is exactly representable as an IEEE-754 double, so the
# 13-hex-digit hash and this scale factor round-trip exactly in BOTH
# engines and `w * 2^52 / (h+1)` is a correctly-rounded identical
# double on each.
_TWO_52 = 4503599627370496.0
_HEX_DIGITS = 13


def hash52(col) -> Column:
    """First 13 hex digits of md5(col) as a 52-bit non-negative long.

    DuckDB twin: ``('0x' || substr(md5(v), 1, 13))::BIGINT``.
    """
    return F.conv(
        F.substring(F.md5(F.col(col) if isinstance(col, str) else col), 1, _HEX_DIGITS),
        16,
        10,
    ).cast("long")


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group KMV distinct-count sketch (Bar-Yossef et al. 2002).

    Returns one row per group: ``n_kept`` (min(k, exact distinct)),
    ``kth_hash`` (the kth smallest 52-bit hash, the sketch's whole
    state boundary), and ``est_distinct`` — exact when the group has
    fewer than k distinct values, else floor((k-1) * 2^52 / kth_hash).

    Plan shape: distinct on (group, hash) — map-side partial agg, the
    shuffle carries |distinct| rows, not |input| — then a per-group
    row_number window keeps k rows per group. At 1e12 input rows with
    1e6 groups the post-distinct frame is the only shuffled state and
    each group's sort is k·log(k)-ish after AQE coalescing.
    """
    hashed = (
        df.select(*group_cols, hash52(F.col(value_col).cast("string")).alias("_h"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("_h")
    ranked = hashed.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") <= k)
    kth = F.max("_h")
    n_kept = F.count("*")
    return ranked.groupBy(*group_cols).agg(
        n_kept.alias("n_kept"),
        kth.alias("kth_hash"),
        F.when(n_kept < k, n_kept)
        .otherwise(F.floor(F.lit((k - 1) * _TWO_52) / kth))
        .cast("long")
        .alias("est_distinct"),
    )


def _cm_rows_bucket(token_col: str, depth: int, width: int):
    """THE count-min hash recipe — row r's bucket for token t is
    hash52(r || ':' || t) % width. Single definition on purpose:
    countmin_topk and its DuckDB oracle twin agree only while they
    hash identically. Returns (row-explode col, bucket col)."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")
    bucket = (
        hash52(F.concat(F.col("r").cast("string"), F.lit(":"), F.col(token_col)))
        % width
    ).alias("bucket")
    return rows, bucket


def countmin_topk(
    tokens: DataFrame,
    token_col: str = "tok",
    k: int = 40,
    depth: int = 3,
    width: int = 256,
) -> DataFrame:
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005).

    The reference reports exact per-store counts through its metadata
    API (/root/reference/src/metrics/mod.rs:1-40); at 10^12 tokens the
    frequent-item question ("which tokens dominate the corpus?") is
    answered with a d×w counter sketch instead, whose one-sided error
    bound est ≥ exact (never under) and est ≤ exact + 2N/w w.h.p.

    Portability: row r's bucket for token t is
    ``hash52(r || ':' || t) % width`` — the md5-52bit trick, so DuckDB
    rebuilds the identical sketch and the oracle checks values, not
    just shapes.

    Plan shape, and why it scales:
    * ONE pass over the token stream (the per-token counts), from
      which the counters derive by a |vocab|-row aggregation —
      the corpus is never scanned twice. In a sketch-only deployment
      (exact column dropped), build the counters straight from the
      stream: explode ×depth, groupBy (row, bucket), map-side partial
      agg collapses to depth×width rows before the shuffle. Either
      way sketch state is depth×width longs TOTAL.
    * Estimation: candidate tokens (distinct) join the counter table
      — depth×width rows, broadcast — and take min over rows. No
      shuffle touches per-token counters.
    * Output: top-k by estimated count with a deterministic (est
      DESC, token) tiebreak, exact count joined alongside so the
      sketch error is visible in the checked values.
    """
    rows, bucket = _cm_rows_bucket(token_col, depth, width)
    # ONE scan of the token stream: the counter table derives from the
    # per-token counts (sum of counts landing in a bucket ≡ counting
    # the raw rows there), so the second aggregation runs over |vocab|
    # rows, never re-reading the corpus.
    exact = tokens.groupBy(token_col).agg(
        F.count("*").alias("exact_count")
    )
    counters = (
        exact.select(token_col, "exact_count", rows)
        .select("exact_count", "r", bucket)
        .groupBy("r", "bucket")
        .agg(F.sum("exact_count").alias("counter"))
    )
    est = (
        exact.select(token_col, "exact_count", rows)
        .select(token_col, "exact_count", "r", bucket)
        .join(F.broadcast(counters), ["r", "bucket"])
        .groupBy(token_col)
        .agg(
            F.min("counter").cast("bigint").alias("est_count"),
            F.max("exact_count").cast("bigint").alias("exact_count"),
        )
    )
    return est.orderBy(F.desc("est_count"), token_col).limit(k)


def _hll_reg_rank(value_col, b: int):
    """Register index + rank for one value, engine-portably.

    md5 hex digits are split positionally: the first b/4 digits are
    the register index (b bits), the NEXT 13 digits (52 bits) feed the
    rank = number of leading zero bits in that 52-bit field plus one.
    The rank is computed with pure string/integer ops — ``53 -
    bit_length`` where bit_length is ``length(bin(h))`` with leading
    zeros stripped — because log2/floating-point leading-zero tricks
    are NOT correctly-rounded-identical across engines near powers of
    two, while ``bin()`` is the same unpadded binary string in both
    Spark and DuckDB (verified: bin(0)='0', bin(5)='101' in each).
    """
    if b % 4 != 0:
        raise ValueError("b must be a multiple of 4 (whole hex digits)")
    n_hex = b // 4
    h = F.md5(F.col(value_col) if isinstance(value_col, str) else value_col)
    reg = F.conv(F.substring(h, 1, n_hex), 16, 10).cast("int")
    tail = F.conv(F.substring(h, n_hex + 1, _HEX_DIGITS), 16, 10).cast("long")
    bitlen = F.when(tail == 0, F.lit(0)).otherwise(F.length(F.bin(tail)))
    rank = (F.lit(53) - bitlen).cast("int")
    return reg.alias("reg"), rank.alias("rank")


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    b: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog register table (Flajolet et al. 2007).

    The reference answers "how many distinct graphs/triples" exactly
    from its in-memory store (/root/reference/src/metrics/mod.rs:1-40);
    at 10^12 values the constant-memory substitute is HLL: m = 2^b
    registers per group, each holding the max leading-zero rank seen.

    Plan shape: ONE groupBy (group, reg) with max(rank) — map-side
    partial max collapses every partition to ≤ m rows per group before
    the shuffle, so the shuffled state is m longs per group regardless
    of input size. The register table IS the sketch; estimate with
    ``hll_estimate``. All hashing is md5-positional, so a DuckDB oracle
    rebuilds registers bit-for-bit.
    """
    reg, rank = _hll_reg_rank(F.col(value_col).cast("string"), b)
    return (
        df.select(*group_cols, reg, rank)
        .groupBy(*group_cols, "reg")
        .agg(F.max("rank").alias("maxrank"))
    )


def _hll_alpha_c(b: int) -> float:
    """The shared HLL estimator constant C = α_m·m²·2^53 — ONE float
    literal used identically by the row-register `hll_estimate` and
    the packed-register HyperBall path (`operators/graph.py`), so both
    emit bit-identical BIGINT estimates from the same registers."""
    m = 1 << b
    if m >= 128:
        alpha = 0.7213 / (1 + 1.079 / m)
    else:
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    return alpha * m * m * (2.0 ** 53)


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str],
    b: int = 8,
) -> DataFrame:
    """Raw HLL cardinality estimate per group from a register table.

    All cross-register state is folded into ONE exact integer:
    ``sum_scaled = Σ 2^(53-maxrank) + (m - p)·2^53`` (absent registers
    contribute rank 0). Each term is a power of two ≤ 2^53 — exact in
    BIGINT — so the only floating-point step is the final
    ``floor(C / sum_scaled)`` with C = α_m·m²·2^53 a shared literal:
    one correctly-rounded IEEE divide on identical operands in Spark
    and DuckDB, hence a bit-identical BIGINT estimate.

    Returns (group, n_regs, sum_scaled, est_distinct). The raw
    estimator is emitted WITHOUT the small-range linear-counting
    correction (it needs ln(), which is not correctly-rounded-portable
    across engines); n_regs makes the "correction would apply" zone
    (p < m with est ≤ 2.5m) visible to callers. Standard error is
    ~1.04/√m ≈ 6.5 % at b=8.
    """
    m = 1 << b
    c = _hll_alpha_c(b)
    term = F.expr("CAST(power(2, 53 - maxrank) AS BIGINT)")
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").cast("int").alias("n_regs"),
        F.sum(term).alias("present_sum"),
    )
    sum_scaled = (
        F.col("present_sum")
        + (F.lit(m) - F.col("n_regs")).cast("long") * F.lit(1 << 53).cast("long")
    )
    return agg.select(
        *group_cols,
        "n_regs",
        sum_scaled.alias("sum_scaled"),
        F.floor(F.lit(c) / sum_scaled).cast("long").alias("est_distinct"),
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    b: int = 8,
) -> DataFrame:
    """registers → estimate in one call (the non-incremental path)."""
    return hll_estimate(hll_registers(df, group_cols, value_col, b), group_cols, b)


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int = 100,
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Priority sampling (Duffield/Lund/Thorup JACM 2007): a k-row
    weight-aware sample with per-row unbiased subset-sum weights.

    priority q_i = w_i * 2^52 / (h_i + 1) with h_i the 52-bit md5
    hash of the id — all exact-double IEEE ops, bit-identical across
    engines. The k largest priorities are kept; tau = the (k+1)th
    priority; each kept row carries ``est_weight`` = max(w_i, tau),
    whose sum is an unbiased estimator of total weight over ANY
    subset predicate on the sample.

    Plan shape: ORDER BY priority LIMIT (k+1) lowers to
    TakeOrderedAndProject (bounded per-partition heaps, single small
    merge) — there is no global sort and no k-dependent shuffle, so
    the same plan runs at 1e12 rows. tau is a 1-row broadcast.
    """
    keep_cols = keep_cols if keep_cols is not None else [weight_col]
    pri = (F.col(weight_col).cast("double") * F.lit(_TWO_52)) / (
        hash52(F.col(id_col).cast("string")) + F.lit(1)
    )
    scored = df.select(id_col, *keep_cols, pri.alias("priority"))
    top = scored.orderBy(F.col("priority").desc(), F.col(id_col).desc()).limit(k + 1)
    tau = top.agg(F.min("priority").alias("tau"))
    return (
        top.orderBy(F.col("priority").desc(), F.col(id_col).desc())
        .limit(k)
        .crossJoin(F.broadcast(tau))
        .select(
            id_col,
            *keep_cols,
            F.round("priority", 4).alias("priority"),
            F.round(
                F.greatest(F.col(weight_col).cast("double"), F.col("tau")), 4
            ).alias("est_weight"),
        )
    )


def grid_histogram(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: int,
    hi: int,
    n_bins: int = 64,
) -> DataFrame:
    """Fixed-grid histogram of an integer-valued column — the
    mergeable distribution sketch behind corpus-statistics dashboards
    and cutoff selection (length filters, quality thresholds).

    Bucketing is EXACT integer arithmetic — ``(v - lo) * n_bins DIV
    (hi - lo)`` clamped to [0, n_bins-1] — so Spark and DuckDB agree
    bit-for-bit (no float division, no rounding mode). State is ≤
    n_bins longs per group, mergeable by ADDITION (shard/stream like
    count-min). Plan: one groupBy with map-side partial agg; the
    shuffle carries ≤ n_bins rows per partition per group.
    """
    v = F.col(value_col).cast("long")
    raw = F.expr(
        f"(CAST({value_col} AS BIGINT) - {lo}) * {n_bins} DIV ({hi} - {lo})"
    )
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int")
    return (
        df.select(*group_cols, v.alias(value_col))
        .groupBy(*group_cols, bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


def histogram_quantiles(
    hist: DataFrame,
    group_cols: list[str],
    lo: int,
    hi: int,
    n_bins: int = 64,
    quantiles: list[tuple[int, int]] = ((1, 4), (1, 2), (3, 4), (9, 10)),
) -> DataFrame:
    """Grid-resolution quantiles from a `grid_histogram` table.

    Quantiles are RATIONAL (num, den) pairs and the selection rule is
    pure integers — bucket b is the q-quantile iff it is the first
    with cum·den ≥ N·num (cum ≥ ⌈qN⌉ without ever computing a float
    ceil) — so results are bit-identical across engines. The reported
    value is the bucket's LOWER BOUND (lo + b·(hi-lo) DIV n_bins):
    grid resolution is the sketch's honest precision, interpolation
    would manufacture digits. Window + final agg run over ≤ n_bins
    rows per group — negligible at any corpus size; resolution is
    chosen up front by n_bins, the 100-TB knob.
    """
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # explicit full-frame spec (not a bare partitionBy): the audit's
    # partitionless-Window sweep keys on the two-clause plan text
    w_full = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cum = hist.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(w_full)
    )
    aggs = [F.max("total").cast("long").alias("n_rows")]
    for num, den in quantiles:
        b = F.min(
            F.when(
                F.col("cum") * den >= F.col("total") * num, F.col("bucket")
            )
        ).cast("long")
        # exact integer floor-division for ANY n_bins: subtract the
        # pmod remainder so the final divide is an exact integer in
        # double (< 2^53), never a rounding-sensitive float quotient
        num_ = b * F.lit(hi - lo)
        lower = F.lit(lo) + (num_ - F.pmod(num_, F.lit(n_bins))) / F.lit(n_bins)
        aggs.append(lower.cast("long").alias(f"q{100 * num // den}"))
    return cum.groupBy(*group_cols).agg(*aggs)
