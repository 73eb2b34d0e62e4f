"""Crawl-batch analytics: snapshot deltas between crawls, per-URL
change-rate estimation (recrawl scheduling), and redirect-chain
resolution — the web-corpus incarnation of the reference's versioned
diff contract.

The reference diffs *RDF graph* versions (added/removed triples
between two timestamps, /root/reference/src/git.rs:131-179 checkout
walk + git diff); a Common-Crawl-style pipeline needs the SAME
semantics one level up, on the page table itself: which URLs appeared,
vanished, or changed content between two crawl batches, how often each
URL's content churns (the input to recrawl prioritization), and where
each URL actually lands once its redirect chain is followed (the
canonical node id for the link graph and the KG's page→entity
evidence).

Scale design, per operator:

* ``crawl_delta`` — ONE aggregation shuffle on url with map-side
  partial agg (the same single-scan dual-state shape as
  ``operators/versioned.py::diff``): both crawl states are folded in
  one groupBy, never a self-join of two snapshot scans. At 10^12 pages
  the scan is the cost; the shuffle carries one row per touched url.
* ``change_rate`` — one shuffle on url; the lag-window and the
  per-url aggregation share the same hash partitioning, so Catalyst
  plans a single Exchange (asserted by scripts/explain_audit.py).
* ``resolve_redirects`` — pointer-doubling over the redirect MAPPING
  (src→dst), not the page table: k composes of the mapping give
  2^k-hop resolution, then ONE join applies the folded mapping to the
  url universe. The mapping is ~1-5% of a crawl's urls, so every
  compose (and usually the final apply) broadcasts; cycles are safe
  because composition is total (f(u)=u off-domain) and the hop budget
  is a fixed constant — no driver-side convergence poll, bit-exact in
  any engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def crawl_delta(
    pages: DataFrame, crawl1: str | Column, crawl2: str | Column
) -> DataFrame:
    """Added / removed / changed urls between two crawl batches.

    ``pages`` needs (url, warc_ts, content_hash). A url is
    * ``added``    — fetched in crawl2, absent from crawl1,
    * ``removed``  — fetched in crawl1, absent from crawl2,
    * ``changed``  — in both with different content hashes;
    unchanged urls are dropped (at web scale they are ~90% of the
    table and downstream wants the delta, exactly like the
    reference's diff endpoint returns only added/removed triples).

    Single-scan dual-state: one filter to the two batches, one
    groupBy(url) folding both states with conditional max — no join,
    no second scan. Output: (url, change, hash1, hash2).
    """
    c1 = F.lit(crawl1).cast("timestamp") if isinstance(crawl1, str) else crawl1
    c2 = F.lit(crawl2).cast("timestamp") if isinstance(crawl2, str) else crawl2
    dual = (
        pages.filter(F.col("warc_ts").isin(c1, c2))
        .groupBy("url")
        .agg(
            F.max(F.when(F.col("warc_ts") == c1, F.col("content_hash"))).alias("hash1"),
            F.max(F.when(F.col("warc_ts") == c2, F.col("content_hash"))).alias("hash2"),
        )
    )
    h1, h2 = F.col("hash1"), F.col("hash2")
    return dual.withColumn(
        "change",
        F.when(h1.isNull() & h2.isNotNull(), "added")
        .when(h1.isNotNull() & h2.isNull(), "removed")
        .when(h1 != h2, "changed"),
    ).filter(F.col("change").isNotNull())


def change_rate(pages: DataFrame, bucket_thresholds: tuple[int, int] = (50, 20)) -> DataFrame:
    """Per-url content churn across all crawls → recrawl priority.

    For each url: ``n_crawls``, ``n_changes`` (fetches whose content
    hash differs from the previous fetch of the same url),
    ``change_pct`` = 100·n_changes div (n_crawls−1) (integer percent —
    engine-portable, no float division), and a ``priority`` bucket:
    'hot' (≥ ``bucket_thresholds[0]``), 'warm' (≥ ``[1]``), else
    'cold'; single-fetch urls are 'new'. This is the classic
    change-frequency estimator behind crawl scheduling (Cho &
    Garcia-Molina 2003): revisit hot urls every cycle, cold ones
    rarely.

    Plan: lag() over (url ORDER BY warc_ts) then groupBy(url) — the
    window and the aggregation hash-partition on the same key, so the
    whole operator is ONE Exchange; the per-url sort is bounded by
    crawl count (dozens), never corpus size.
    """
    from pyspark.sql import Window

    hot, warm = bucket_thresholds
    w = Window.partitionBy("url").orderBy("warc_ts")
    flagged = pages.select(
        "url",
        "warc_ts",
        (
            F.lag("content_hash").over(w).isNotNull()
            & (F.col("content_hash") != F.lag("content_hash").over(w))
        )
        .cast("int")
        .alias("is_change"),
    )
    per_url = flagged.groupBy("url").agg(
        F.count("*").alias("n_crawls"),
        F.sum("is_change").cast("bigint").alias("n_changes"),
    )
    return per_url.select(
        "url",
        "n_crawls",
        "n_changes",
        F.expr("CAST(CASE WHEN n_crawls > 1 THEN (100 * n_changes) div (n_crawls - 1) ELSE 0 END AS BIGINT)").alias(
            "change_pct"
        ),
        F.when(F.col("n_crawls") <= 1, "new")
        .when(F.expr(f"(100 * n_changes) div (n_crawls - 1) >= {hot}"), "hot")
        .when(F.expr(f"(100 * n_changes) div (n_crawls - 1) >= {warm}"), "warm")
        .otherwise("cold")
        .alias("priority"),
    )


def resolve_redirects(
    urls: DataFrame,
    redirects: DataFrame,
    max_hops_log2: int = 3,
    broadcast_mapping: bool = True,
) -> DataFrame:
    """Final landing url for every row of ``urls`` after following up
    to ``2**max_hops_log2`` redirect hops.

    ``urls`` has a single column ``url``; ``redirects`` has
    (src, dst) — one outgoing redirect per src (HTTP gives at most
    one Location per url; callers should dedup upstream, last-fetch
    wins). Set ``broadcast_mapping=False`` when the redirect table
    outgrows the broadcast threshold (the joins fall back to Spark's
    planner choice — shuffled hash with AQE). Chains longer than the
    hop budget — including cycles —
    deterministically return the 2^k-th hop, so the operator never
    loops on cyclic redirect graphs (a real crawl artifact) and an
    unrolled fixed-hop oracle reproduces it bit-exactly.

    Pointer doubling: compose the mapping with itself k times
    (m₂(u)=m(m(u)), m₄=m₂∘m₂, …) — each compose is one left join of
    the MAPPING with itself (redirect table ≈ small % of the crawl →
    broadcast), then ONE join applies m_{2^k} to the url universe.
    O(k) joins total instead of O(chain length), and the big table is
    touched once. Output: (url, final_url, redirected).
    """
    bcast = F.broadcast if broadcast_mapping else (lambda df: df)
    m = redirects.select(F.col("src"), F.col("dst")).localCheckpoint()
    for _ in range(max_hops_log2):
        nxt = m.select(F.col("src").alias("_s2"), F.col("dst").alias("_d2"))
        m = (
            m.join(bcast(nxt), m["dst"] == nxt["_s2"], "left")
            .select(F.col("src"), F.coalesce(F.col("_d2"), F.col("dst")).alias("dst"))
            .localCheckpoint()
        )
    folded = m.select(F.col("src").alias("_src"), F.col("dst").alias("_final"))
    return urls.join(
        bcast(folded), urls["url"] == folded["_src"], "left"
    ).select(
        "url",
        F.coalesce(F.col("_final"), F.col("url")).alias("final_url"),
        F.col("_final").isNotNull().alias("redirected"),
    )


def robots_disallow_prefixes(robots_txt: Column) -> Column:
    """Disallow path prefixes that apply to a generic crawler ('*'
    user-agent groups) from a robots.txt document, as array<string> —
    RFC 9309 subset, parsed entirely JVM-side.

    One ``F.aggregate`` fold over the line array keeps the group
    state machine (consecutive ``User-agent:`` lines form ONE group,
    RFC 9309 §2.2.1; rules bind to the current group) inside
    whole-stage codegen — at 10^8 hosts the policy parse is a
    map-only pass, no Python, no shuffle. Scope, documented and
    loud: ``Disallow`` prefixes only (empty Disallow = no rule;
    ``Allow`` precedence and ``$``/``*`` wildcards are NOT
    implemented — a match here means "some * group disallows this
    prefix"), comments stripped at ``#``.
    """
    lines = F.split(robots_txt, r"\r?\n")
    # keyword matching is case-insensitive; the path VALUE is not
    ua_re = r"(?i)^\s*user-agent\s*:\s*(\S+)\s*$"
    dis_val_re = r"(?i)^\s*disallow\s*:\s*(\S*)\s*$"
    dis_key_re = r"(?i)^\s*disallow\s*:"
    init = F.struct(
        F.lit(False).alias("in_star"),
        F.lit(False).alias("prev_ua"),
        F.array().cast("array<string>").alias("prefixes"),
    )

    def merge(acc, raw):
        line = F.substring_index(raw, "#", 1)
        ua = F.regexp_extract(line, ua_re, 1)
        is_ua = ua != ""
        is_dis = line.rlike(dis_key_re)
        dis = F.regexp_extract(line, dis_val_re, 1)
        star = ua == "*"
        return F.struct(
            F.when(is_ua, F.when(acc.prev_ua, acc.in_star | star).otherwise(star))
            .otherwise(acc.in_star)
            .alias("in_star"),
            is_ua.alias("prev_ua"),
            F.when(
                ~is_ua & acc.in_star & is_dis & (dis != ""),
                F.array_append(acc.prefixes, dis),
            )
            .otherwise(acc.prefixes)
            .alias("prefixes"),
        )

    return F.aggregate(lines, init, merge, lambda acc: acc.prefixes)


def robots_filter(urls: DataFrame, robots: DataFrame, url_col: str = "url") -> DataFrame:
    """Tag every url allowed/denied under its host's robots policy.

    ``robots`` carries (host, robots_txt); the policy table is tiny
    relative to the crawl (one row per host), so the join broadcasts
    and the prefix test (``F.exists`` over the parsed array) runs
    map-side — the 10^12-row url table is never shuffled. Hosts with
    no robots row are allowed (the crawl default). Output adds
    (host, path, allowed)."""
    from rdf_diff_store_spark.functions.text import url_host

    rules = robots.select(
        F.col("host").alias("_host"),
        robots_disallow_prefixes(F.col("robots_txt")).alias("_prefixes"),
    )
    u = urls.withColumn("host", url_host(F.col(url_col))).withColumn(
        "path",
        F.coalesce(
            F.nullif(
                F.regexp_extract(F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1),
                F.lit(""),
            ),
            F.lit("/"),
        ),
    )
    path = F.col("path")
    return u.join(F.broadcast(rules), u["host"] == rules["_host"], "left").select(
        *[c for c in u.columns],
        F.when(
            F.col("_prefixes").isNull(), F.lit(True)
        ).otherwise(~F.exists("_prefixes", lambda p: path.startswith(p))).alias("allowed"),
    )


def frontier_schedule(
    frontier: DataFrame,
    n_lanes: int = 64,
    host_col: str = "host",
    priority_col: str = "priority",
    url_col: str = "url",
) -> DataFrame:
    """Politeness-aware fetch ordering for a crawl frontier.

    Every host hashes to one of ``n_lanes`` politeness lanes (the
    fetcher-queue sharding real crawlers use: lane = worker); within
    its host, urls rank by (priority DESC, url ASC); the fetch slot is

        slot = rank_within_host · n_lanes + lane(host)

    so two fetches of the SAME host are always ≥ n_lanes slots apart
    (politeness by construction), while different hosts fill the
    lanes in parallel. The lane hash is md5-derived (engine-portable,
    seedless) rather than a global host ordinal: a dense host index
    would need a global sort over 10^8 hosts, and collisions between
    hosts in one lane are exactly what a shared fetcher queue means.
    Plan: ONE shuffle (the per-host window); the lane is a map-side
    expression. Output adds (lane, fetch_slot)."""
    from pyspark.sql import Window

    lane = F.conv(F.substring(F.md5(F.col(host_col)), 1, 13), 16, 10).cast(
        "long"
    ) % n_lanes
    w = Window.partitionBy(host_col).orderBy(
        F.col(priority_col).desc(), F.col(url_col)
    )
    return frontier.select(
        "*",
        lane.alias("lane"),
        (
            (F.row_number().over(w) - F.lit(1)).cast("bigint") * n_lanes
            + lane
        ).alias("fetch_slot"),
    )


def mirror_hosts(
    pages: DataFrame,
    host_col: str = "host",
    hash_col: str = "content_hash",
    min_jaccard_pct: int = 50,
    max_hash_df: int = 50,
) -> DataFrame:
    """Mirror-site detection: host pairs whose page-content-hash SETS
    overlap above a Jaccard threshold — the host-granularity dual of
    document near-dup, and the crawl-budget lever every large crawl
    pulls (Common Crawl's mirror/farm suppression): fetching a mirror
    is pure waste, and mirrors are invisible to per-document dedup
    until both copies are already downloaded.

    Set-similarity join done the skew-safe way (the doc_shared_spans
    discipline): one distinct (host, hash) projection, per-host set
    sizes, then pair generation ONLY through the inverted hash index,
    FREQUENCY-CAPPED at `max_hash_df` hosts per hash — a boilerplate
    hash present on 10^5 hosts would otherwise mint 10^10 pairs; a
    true mirror hash lives on a handful. Shared counts aggregate from
    (host_a, host_b) id pairs only (no hash rides the pair shuffle);
    Jaccard is exact integer math: 100·|∩| / (|A|+|B|−|∩|).

    Output: (host_a, host_b, shared, size_a, size_b, jaccard_pct)
    with host_a < host_b, filtered to ≥ min_jaccard_pct."""
    hh = pages.select(F.col(host_col).alias("h"), F.col(hash_col).alias("x")).distinct()
    sizes = hh.groupBy("h").agg(F.count("*").alias("n"))
    capped = (
        hh.groupBy("x")
        .agg(F.collect_list("h").alias("hosts"), F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_hash_df))
    )
    a = F.explode("hosts").alias("host_a")
    pairs = (
        capped.select(F.col("hosts").alias("hs"), a)
        .select("host_a", F.explode("hs").alias("host_b"))
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("h").alias("host_a"), F.col("n").alias("size_a"))
    sb = sizes.select(F.col("h").alias("host_b"), F.col("n").alias("size_b"))
    # integer floor-division (DuckDB CAST(double AS INT) ROUNDS while
    # Spark truncates — floor() is the portable spelling)
    jac = F.floor(
        (F.lit(100) * F.col("shared"))
        / (F.col("size_a") + F.col("size_b") - F.col("shared"))
    )
    return (
        pairs.join(sa, "host_a")
        .join(sb, "host_b")
        .withColumn("jaccard_pct", jac.cast("int"))
        .filter(F.col("jaccard_pct") >= min_jaccard_pct)
        .select("host_a", "host_b", "shared", "size_a", "size_b", "jaccard_pct")
    )


def dust_rules(
    pages: DataFrame,
    max_hash_df: int = 10,
    min_support: int = 2,
) -> DataFrame:
    """DUST rule discovery (Bar-Yossef, Keidar, Schonfeld — "Do Not
    Crawl in the DUST: Different URLs with Similar Text", WWW 2007),
    restricted to single-token path substitutions: from pairs of URLs
    serving the SAME content, learn rewrite rules tok_a → tok_b
    ("print" ≡ "p", "index.html" ≡ "", session-id slots) whose
    support clears `min_support` distinct url pairs. Applying learned
    rules BEFORE fetch is how crawlers avoid re-downloading mirrored
    spellings of pages they already hold — upstream of
    `normalize_url`'s static rules and complementary to
    `mirror_hosts`' whole-host detection.

    `pages`: (url, content_hash). Candidate pairs are minted through
    the df-capped content-hash inverted index (the `mirror_hosts`
    discipline — a 10^5-url empty-page hash would otherwise mint
    10^10 pairs), then each pair aligns its '/'-token vectors with
    ONE zip_with array expression (pure JVM, no Python): pairs whose
    vectors have equal length and differ in EXACTLY one position
    yield that position's (tok_a, tok_b) as a rule candidate; one
    combinable count per rule finishes. Rules are canonicalized
    (tok_a < tok_b) so both substitution directions accumulate into
    one support count.
    """
    p = pages.select("url", "content_hash").distinct()
    sized = p.join(
        p.groupBy("content_hash")
        .agg(F.count("*").alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_hash_df))
        .select("content_hash"),
        "content_hash",
    )
    from rdf_diff_store_spark.operators.dedup import bind_once

    a, b = sized.alias("a"), sized.alias("b")
    # distinct: the same URL pair can share SEVERAL content hashes
    # (both urls re-crawled across content changes) — support must
    # count DISTINCT pairs, not shared hashes, or one pair clears
    # min_support alone
    pairs = (
        a.join(
            b,
            (F.col("a.content_hash") == F.col("b.content_hash"))
            & (F.col("a.url") < F.col("b.url")),
        )
        .select(F.col("a.url").alias("ua"), F.col("b.url").alias("ub"))
        .distinct()
    )

    # bind_once: ProjectCollapse would re-split/re-zip the token
    # vectors per reference otherwise (CLAUDE.md dedup rule)
    def _align(ta):
        def inner(tb):
            zipped = F.zip_with(
                ta,
                tb,
                lambda x, y: F.struct((x != y).alias("d"), x.alias("x"), y.alias("y")),
            )
            return bind_once(
                F.filter(zipped, lambda s: s["d"]),
                lambda diffs: F.struct(
                    (F.size(ta) == F.size(tb)).alias("same_len"),
                    F.size(diffs).alias("n_diff"),
                    # guarded: the struct evaluates BEFORE the n_diff
                    # filter can prune empty-diff rows (ANSI element_at
                    # raises on them)
                    F.when(F.size(diffs) >= 1, F.element_at(diffs, 1)).alias("sub"),
                ),
            )

        return bind_once(F.split(F.col("ub"), "/"), inner)

    cand = (
        pairs.select(bind_once(F.split(F.col("ua"), "/"), _align).alias("al"))
        .filter(F.col("al.same_len") & (F.col("al.n_diff") == 1))
        .select(
            F.least(F.col("al.sub.x"), F.col("al.sub.y")).alias("tok_a"),
            F.greatest(F.col("al.sub.x"), F.col("al.sub.y")).alias("tok_b"),
        )
    )
    return (
        cand.groupBy("tok_a", "tok_b")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= min_support)
    )
