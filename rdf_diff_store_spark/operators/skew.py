"""Skew-handling operators (north_star: "skew from hub entities is
handled with salted repartitioning and AQE skew-join splitting").

AQE skew-join splitting is ON session-wide
(spark.sql.adaptive.skewJoin.enabled, session.py) — Spark splits
oversized sort-merge partitions at runtime. `capped_topk_per_group`
salts the one shape AQE cannot split: a per-group window whose hub
group would otherwise sort in a single task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def capped_topk_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    k: int,
    n_salts: int = 16,
    rank_col: str = "rk",
) -> DataFrame:
    """Keep the first ``k`` rows per group under a TOTAL order — the
    corpus-selection "domain frequency cap" (at most k pages per host
    survive into the training mix) and every other bounded-quota
    selection, built to survive hub groups.

    The naive plan — one window over ``partitionBy(group)`` — puts a
    hot host's ENTIRE row set into a single task (a 10^8-page domain
    = one straggler sorting 10^8 rows). Instead: two-level capping.

    1. Pre-cap: rows get a deterministic salt (xxhash64 of the order
       key mod ``n_salts``); a window over (group, salt) keeps each
       bucket's top-k. Any row in the group's global top-k is in its
       bucket's top-k, so this discards only rows that cannot win —
       and the hot group's sort is spread over ``n_salts`` tasks.
    2. Final: the real window over (group) runs on ≤ n_salts·k rows
       per group — bounded, skew-free by construction.

    ``order_cols`` must be a TOTAL order (tie-break with a unique id)
    or ranks are nondeterministic. Results are provably identical to
    the single-window plan (pytest pins this), so the DuckDB oracle
    can stay naive.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    salt = F.pmod(F.xxhash64(*order_cols), F.lit(n_salts))
    w1 = (
        Window.partitionBy(F.col(group_col), F.col("_salt"))
        .orderBy(*order_cols)
    )
    pre = (
        df.withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_salt", "_r1")
    )
    w2 = Window.partitionBy(group_col).orderBy(*order_cols)
    return pre.withColumn(rank_col, F.row_number().over(w2)).filter(
        F.col(rank_col) <= k
    )
