"""Automated physical-plan audit: asserts the plan properties the
engine's scale story depends on (pushdown, pruning, broadcast,
partition pruning on a days(ts)-partitioned changelog).

Usage: python scripts/explain_audit.py [sf_dir]
Exit 0 = all plan assertions hold.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

    import __spark_entry__ as e
    from pyspark.sql import functions as F

    from rdf_diff_store_spark.session import get_spark
    from rdf_diff_store_spark.sources.relational import changelog_from_events

    spark = get_spark("plan-audit")
    qs = e.queries()
    checks: list[tuple[str, bool, str]] = []

    # 1. as-of filter pushdown reaches the parquet scan
    p = plan_of(qs["snapshot_at"](spark, sf_dir))
    checks.append(("snapshot_at ts<=t pushed to scan", "LessThanOrEqual(ts" in p, "PushedFilters"))
    checks.append(("snapshot_at column pruning", "props" not in p, "ReadSchema excludes props"))

    # 2. broadcast joins on dimension sides
    p3 = plan_of(qs["tpch_q3"](spark, sf_dir))
    checks.append(("tpch_q3 broadcasts dims", p3.count("BroadcastHashJoin") >= 2, "join strategy"))

    # 3. projection pruning on documents
    pd_ = plan_of(qs["doc_token_count"](spark, sf_dir))
    checks.append(
        ("doc_token_count reads 2 columns", "struct<doc_id:bigint,text:string>" in pd_, "ReadSchema")
    )

    # 4. partition pruning on a days(ts)-partitioned changelog:
    # snapshot_at adds the derived day<=date(t) predicate, so the scan
    # must touch only the qualifying partitions
    from rdf_diff_store_spark.operators.versioned import snapshot_at, with_day_partition

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "changelog_by_day")
        with_day_partition(changelog_from_events(spark, sf_dir)).write.partitionBy(
            "day"
        ).mode("overwrite").parquet(path)
        from rdf_diff_store_spark.operators.versioned import _as_of_filter

        part = spark.read.parquet(path)
        full = part.select(F.input_file_name().alias("f")).distinct().count()
        read = (
            _as_of_filter(part, F.lit("2024-01-05 00:00:00").cast("timestamp"))
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )
        checks.append(
            (
                "days(ts) partition pruning skips files",
                0 < read < full / 2,
                f"{read}/{full} files actually read for a day-5 as-of filter",
            )
        )
        # and snapshot_at over the partitioned table stays correct
        n = snapshot_at(part, "2024-01-05 00:00:00").count()
        checks.append(("partitioned snapshot_at answers", n > 0, f"{n} graphs"))

    # 5. no single-partition (partitionless) Window in ANY driver query
    # plan: Window without PARTITION BY moves every row to one
    # partition — the scale-killer VERDICT r01 flagged in the old
    # OFFSET implementation. A partitioned Window prints
    # `Window [fns], [part], [order]` (two "], [" separators); a
    # partitionless one prints `Window [fns], [order]` (one).
    import re as _re

    offenders: list[str] = []
    skip = {"kg_pipeline"}  # executes the full pipeline to build its plan
    for name, fn in qs.items():
        if name in skip:
            continue
        try:
            plan_str = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            offenders.append(f"{name}: ERROR {type(ex).__name__}")
            continue
        for line in plan_str.splitlines():
            m = _re.search(r"\bWindow \[.*$", line)
            if m and m.group(0).count("], [") == 1:
                offenders.append(name)
                break
    checks.append(
        (
            "no partitionless Window in any queries() plan",
            not offenders,
            f"offenders={offenders[:6]}" if offenders else "all plans partition their windows",
        )
    )

    # 6b. the session carries the scale-critical runtime configuration
    for conf, want in [
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ]:
        got = spark.conf.get(conf, "unset")
        checks.append((f"session conf {conf}={want}", got == want, f"got {got}"))

    # 7. bound-endpoint property paths must run the seeded frontier
    # BFS, never the global transitive closure (r02 VERDICT wrong #2).
    # Structural spy: the seeded query must not call transitive_closure
    # (its result plan is checkpoint scans, so plan text can't show
    # this — the call graph can).
    import rdf_diff_store_spark.operators.graph as _g

    _orig_tc = _g.transitive_closure
    _tc_calls: list[int] = []

    def _spy_tc(*a, **k):
        _tc_calls.append(1)
        return _orig_tc(*a, **k)

    _g.transitive_closure = _spy_tc
    try:
        qs["sparql_text_path_seeded"](spark, sf_dir).collect()
    finally:
        _g.transitive_closure = _orig_tc
    checks.append(
        (
            "seeded path never computes the global closure",
            not _tc_calls,
            f"transitive_closure called {len(_tc_calls)}x" if _tc_calls else "frontier BFS only",
        )
    )

    # 8. SPARQL ORDER BY ... LIMIT k compiles to TakeOrderedAndProject
    # (top-k per partition + merge), not a global sort (r02 VERDICT
    # next #9)
    p_ord = plan_of(qs["sparql_text_order_expr"](spark, sf_dir))
    checks.append(
        (
            "ORDER BY+LIMIT is TakeOrderedAndProject",
            "TakeOrderedAndProject" in p_ord,
            "top-k plan",
        )
    )

    # 9. entity-link scoring: the mention×candidate band match must be
    # a broadcast nested-loop join (dictionary side broadcast), with
    # exactly ONE Arrow pandas-UDF hop — the corpus never shuffles for
    # the match itself
    p_link = plan_of(qs["entity_link_scores"](spark, sf_dir))
    checks.append(
        (
            "entity linking broadcasts the dictionary",
            "BroadcastNestedLoopJoin" in p_link,
            "band join strategy",
        )
    )
    # formatted explain prints each node in the tree AND as a "(n) ..."
    # detail header — count the headers to count actual plan nodes
    n_arrow = len(_re.findall(r"\(\d+\) ArrowEvalPython", p_link))
    checks.append(
        (
            "entity linking has one Arrow UDF hop",
            n_arrow == 1,
            f"{n_arrow} ArrowEvalPython nodes",
        )
    )

    # 10. corpus PMI top-k is TakeOrderedAndProject (tf-idf's window is
    # covered by the global partitionless-Window sweep above)
    p_pmi = plan_of(qs["corpus_pmi_bigrams"](spark, sf_dir))
    checks.append(
        (
            "PMI top-100 is TakeOrderedAndProject",
            "TakeOrderedAndProject" in p_pmi,
            "top-k plan",
        )
    )

    # 11. LSH pair dedup must shuffle IDS ONLY: the cross-table
    # dropDuplicates exchange carries two scalar ids per candidate
    # pair, never the dim-sized qv/cv embedding arrays — vectors are
    # re-joined once after dedup for the re-rank (r03 VERDICT weak #2)
    p_lsh = plan_of(qs["ann_lsh_topk"](spark, sf_dir))
    dedup_inputs = _re.findall(
        r"\(\d+\) Exchange[^\n]*\nInput \[\d+\]: \[([^\]]*)\]\s*\n"
        r"Arguments: hashpartitioning\(query_id#\d+L?, neighbor_id",
        p_lsh,
    )
    checks.append(
        (
            "LSH pair-dedup exchange ships ids only",
            bool(dedup_inputs)
            and all("qv" not in c and "cv" not in c for c in dedup_inputs),
            f"dedup exchange inputs: {dedup_inputs[:2]}",
        )
    )

    # 12. priority sampling lowers to TakeOrderedAndProject (bounded
    # per-partition heaps + one k-row merge) — a global Sort before
    # the limit would be the 100-TB failure mode
    p_ps = plan_of(qs["doc_priority_sample"](spark, sf_dir))
    checks.append(
        (
            "priority_sample top-k is TakeOrderedAndProject",
            "TakeOrderedAndProject" in p_ps,
            "no global sort",
        )
    )

    # 13. KMV sketch: the (group, hash) distinct compiles to
    # partial+final HashAggregate pairs (map-side combine shrinks the
    # dedup shuffle to |distinct| rows) feeding the per-group rank
    # Window — a plan that shipped raw rows to the window would sort
    # |input| instead
    p_kmv = plan_of(qs["corpus_kmv_distinct"](spark, sf_dir))
    n_hashagg = len(_re.findall(r"\(\d+\) HashAggregate", p_kmv))
    checks.append(
        (
            "kmv distinct is partial+final agg feeding Window rank",
            n_hashagg >= 2 and "Window" in p_kmv,
            f"{n_hashagg} HashAggregate nodes",
        )
    )

    # 14. duplicated-span detection: the pair join must be an
    # equi-join on the fingerprint key (hash/sort-merge — a
    # BroadcastNestedLoopJoin would mean the a.doc_id < b.doc_id
    # predicate leaked into the join condition as the ONLY key), and
    # the top-50 lowers to TakeOrderedAndProject
    p_ss = plan_of(qs["doc_shared_spans"](spark, sf_dir))
    checks.append(
        (
            "shared_spans pair join is fp equi-join + top-k",
            "BroadcastNestedLoopJoin" not in p_ss
            and "TakeOrderedAndProject" in p_ss,
            "equi-join, no cartesian",
        )
    )

    # 6. anti-join diff reuses the dual-state exchange at runtime
    # (static explain duplicates the subtree; AQE dedups it). That is
    # the derivation branch, which a source's first request takes: the
    # query loop above already built the sf changelog's as-of index,
    # so drop it first.
    from rdf_diff_store_spark.operators.versioned import _ASOF

    _ASOF.clear()
    diff_df = qs["diff_versions"](spark, sf_dir)
    diff_df.collect()
    executed = diff_df._jdf.queryExecution().executedPlan().toString()
    checks.append(
        ("diff reuses dual-state exchange", "ReusedExchange" in executed, "executed plan")
    )
    # 6c. the source's later requests are filters over its as-of index:
    # no window, no max_by, no Python on the request side of the plan
    for name in ("diff_triples", "snapshot_at"):
        for _ in range(2):  # the half's second request builds it
            qs[name](spark, sf_dir)
        hit = qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        request_side = hit.split("InMemoryRelation")[0]
        checks.append(
            (
                f"{name} from the as-of index is a filter over it",
                spark.sparkContext.getLocalProperty("graft.branch") == "asof_hit"
                and "InMemoryTableScan" in request_side
                and not any(op in request_side for op in ("MapInPandas", "Window", "max_by")),
                "request-side plan above the cached index",
            )
        )

    # 7. bucketed changelog storage: the graph_id-keyed reads are
    # EXCHANGE-FREE — the whole point of paying the bucketed write
    # (sources/bucketed_store.py). Broadcast is disabled for the
    # self-join leg to force the merge path a 100-TB side would take.
    from rdf_diff_store_spark.sources.bucketed_store import (
        read_bucketed_changelog,
        write_bucketed_changelog,
    )

    bdir = tempfile.mkdtemp(prefix="audit_bucketed_")
    write_bucketed_changelog(
        changelog_from_events(spark, sf_dir), "audit_chg_b", bdir + "/tbl", 8
    )
    tb = read_bucketed_changelog(spark, "audit_chg_b")
    p_bsnap = (
        snapshot_at(tb, "2024-01-10 00:00:00")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    checks.append(
        (
            "bucketed snapshot is exchange-free",
            "Exchange" not in p_bsnap and "Bucketed: true" in p_bsnap,
            "bucket-aligned aggregation",
        )
    )
    # save/RESTORE, never unset — session.py pins a builder-level
    # 64 MiB threshold that unset() would drop to the 10 MB default
    prev_abj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def bucketed_join(fresh: bool) -> str:
        """Plan of a join of two as-of states of `tb`, both derived
        (`fresh`: the index is dropped before each request, so each is
        its source's first) or both served from `tb`'s as-of index."""
        states = []
        for t, h in (("2024-01-10 00:00:00", "content_hash"), ("2024-01-20 00:00:00", "h2")):
            if fresh:
                _ASOF.clear()
            states.append(
                snapshot_at(tb, t).select("graph_id", F.col("content_hash").alias(h))
            )
        return states[0].join(states[1], "graph_id")._jdf.queryExecution().executedPlan().toString()

    try:
        p_bjoin = bucketed_join(fresh=True)
        snapshot_at(tb, "2024-01-15 00:00:00")  # the second request builds the index
        p_bjoin_index = bucketed_join(fresh=False)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_abj)
    checks.append(
        (
            "bucketed as-of self-join is exchange-free",
            "Exchange" not in p_bjoin,
            "diff of two as-of states, merge path, zero shuffles",
        )
    )
    checks.append(
        (
            "bucketed as-of self-join from the index is exchange-free",
            "Exchange" not in p_bjoin_index and "InMemoryTableScan" in p_bjoin_index,
            "both states filters over the materialized index",
        )
    )

    # 15. Bloom decontamination: the PROBE is map-only — its plan has
    # zero shuffle exchanges (one BroadcastExchange for the 1-row bits
    # frame) — the whole point vs the semi-join sweep, whose train
    # grams all cross an Exchange (r04 s8)
    from rdf_diff_store_spark.operators.dedup import (
        bloom_bits,
        bloom_decontaminate,
    )

    docs_a = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grams_a = docs_a.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("grams")
    )
    bits_a = bloom_bits(
        grams_a.filter(F.col("doc_id") < 10).select(
            F.explode("grams").alias("g")
        )
    ).localCheckpoint()
    p_bloom = plan_of(
        bloom_decontaminate(
            grams_a.filter(F.col("doc_id") >= 10), "grams", bits_a
        )
    )
    n_shuffle = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_bloom))
    checks.append(
        (
            "bloom probe is map-only (broadcast bits, zero shuffles)",
            n_shuffle == 0 and "BroadcastExchange" in p_bloom,
            f"{n_shuffle} shuffle exchanges on the probe side",
        )
    )

    # 16. HLL register build is ONE partial+final aggregate pair over
    # (group, reg) — the shuffle carries <= m rows per partition per
    # group, the property that makes the sketch constant-state
    from rdf_diff_store_spark.operators.sketch import (
        grid_histogram,
        hll_registers,
    )

    toks_a = docs_a.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    p_hll = plan_of(hll_registers(toks_a, ["lang"], "tok"))
    n_agg = len(_re.findall(r"\(\d+\) HashAggregate", p_hll))
    n_ex = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_hll))
    checks.append(
        (
            "hll registers = partial+final agg, one shuffle",
            n_agg == 2 and n_ex == 1,
            f"{n_agg} HashAggregate, {n_ex} Exchange",
        )
    )

    # 17. grid histogram: same map-side-combine shape — the bucket
    # count shuffle is <= n_bins rows per partition per group
    d_len = docs_a.select(
        "lang", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ntok")
    )
    p_gh = plan_of(grid_histogram(d_len, ["lang"], "ntok", 0, 2048, 64))
    n_agg_g = len(_re.findall(r"\(\d+\) HashAggregate", p_gh))
    n_ex_g = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_gh))
    checks.append(
        (
            "grid histogram = partial+final agg, one shuffle",
            n_agg_g == 2 and n_ex_g == 1,
            f"{n_agg_g} HashAggregate, {n_ex_g} Exchange",
        )
    )

    # 18. classifier apply: weight table broadcast, ONE corpus-sized
    # shuffle (the per-doc sum), scan pruned to (doc_id, text)
    p_clf = plan_of(qs["doc_quality_classifier"](spark, sf_dir))
    n_ex_c = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_clf))
    checks.append(
        (
            "classifier = broadcast weights + one shuffle",
            "BroadcastHashJoin" in p_clf
            and n_ex_c == 1
            and "struct<doc_id:bigint,text:string>" in p_clf,
            f"{n_ex_c} shuffle Exchange, broadcast join, pruned scan",
        )
    )

    # 19. BPE encode is map-only: zero shuffles over the corpus, the
    # whole replace chain inside one projection (no Python)
    p_bpe = plan_of(qs["doc_bpe_encode"](spark, sf_dir))
    n_ex_b = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_bpe))
    checks.append(
        (
            "bpe_encode is map-only JVM (0 shuffles, no Arrow)",
            n_ex_b == 0 and "ArrowEvalPython" not in p_bpe and "MapInPandas" not in p_bpe,
            f"{n_ex_b} Exchange",
        )
    )

    # 20. WARC roundtrip: exactly ONE Arrow hop (the record parser);
    # the encode side stays JVM
    p_wr = plan_of(qs["warc_roundtrip"](spark, sf_dir))
    n_mip = len(_re.findall(r"\(\d+\) MapInPandas", p_wr))
    checks.append(
        (
            "warc parse is one Arrow hop (encode JVM-side)",
            n_mip == 1 and "ArrowEvalPython" not in p_wr,
            f"{n_mip} MapInPandas",
        )
    )

    # 21. crawl delta: single-scan dual state — ONE aggregation
    # shuffle folding both batch states, no join anywhere
    p_cd = plan_of(qs["crawl_batch_delta"](spark, sf_dir))
    n_ex_cd = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_cd))
    checks.append(
        (
            "crawl delta = single-scan dual state (1 shuffle, no join)",
            n_ex_cd == 1 and "Join" not in p_cd,
            f"{n_ex_cd} Exchange, join-free",
        )
    )

    # 22. change rate: the lag window and the per-url aggregation
    # share one hash partitioning — ONE Exchange total
    p_cr = plan_of(qs["crawl_change_rate"](spark, sf_dir))
    n_ex_cr = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_cr))
    checks.append(
        (
            "change rate: window + agg share one Exchange",
            n_ex_cr == 1,
            f"{n_ex_cr} Exchange",
        )
    )

    # 23. redirect resolution: every mapping compose AND the final
    # apply are broadcast joins — the url universe is never shuffled
    p_rr = plan_of(qs["redirect_resolve"](spark, sf_dir))
    n_ex_rr = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_rr))
    checks.append(
        (
            "redirect resolve applies by broadcast (0 shuffles)",
            n_ex_rr == 0 and "BroadcastHashJoin" in p_rr,
            f"{n_ex_rr} Exchange, broadcast apply",
        )
    )

    # 24. inverted index: the two-stage build is exactly two shuffles
    # (term,doc) then (term), both with map-side partial agg
    p_ii = plan_of(qs["inverted_postings"](spark, sf_dir))
    n_ex_ii = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_ii))
    n_agg_ii = len(_re.findall(r"\(\d+\) (?:Hash|ObjectHash|Sort)Aggregate", p_ii))
    checks.append(
        (
            "inverted index = two-stage build (2 shuffles, partial aggs)",
            n_ex_ii == 2 and n_agg_ii == 4,
            f"{n_ex_ii} Exchange, {n_agg_ii} aggregate nodes",
        )
    )

    # 25. anchor extraction stays JVM: no Arrow/Python in the plan
    p_at = plan_of(qs["anchor_text_top"](spark, sf_dir))
    checks.append(
        (
            "anchor extraction is pure JVM (no Arrow hop)",
            "ArrowEvalPython" not in p_at and "MapInPandas" not in p_at
            and "BatchEvalPython" not in p_at,
            "regexp zip in codegen",
        )
    )

    # 26. robots filter: policy broadcast, prefix test map-side — the
    # url table is never shuffled, and the parse fold is pure JVM
    p_rb = plan_of(qs["robots_url_filter"](spark, sf_dir))
    n_ex_rb = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_rb))
    checks.append(
        (
            "robots filter: broadcast policy, url side unshuffled",
            "BroadcastHashJoin" in p_rb
            and "ArrowEvalPython" not in p_rb
            and "MapInPandas" not in p_rb,
            f"{n_ex_rb} shuffle Exchange (policy-side dedup only), JVM parse",
        )
    )

    # 27. frontier schedule: exactly ONE shuffle (the per-host window);
    # the lane hash is a map-side expression
    p_fs = plan_of(qs["crawl_frontier_schedule"](spark, sf_dir))
    n_ex_fs = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_fs))
    checks.append(
        (
            "frontier schedule = one per-host window shuffle",
            n_ex_fs == 1,
            f"{n_ex_fs} Exchange",
        )
    )

    # 28. boilerplate strip: every per-row step is codegen (no Python,
    # no global Sort — reassembly sorts inside the array), the
    # template set and host counts apply by broadcast, and the big
    # exploded frame crosses exactly 4 Exchanges (distinct, stats,
    # host counts, reassemble)
    p_bp = plan_of(qs["doc_boilerplate_strip"](spark, sf_dir))
    n_ex_bp = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_bp))
    n_bc_bp = len(_re.findall(r"\(\d+\) BroadcastHashJoin", p_bp))
    checks.append(
        (
            "boilerplate strip: broadcast template apply, no sort, JVM-only",
            n_ex_bp <= 4
            and n_bc_bp == 2
            and "SortMergeJoin" not in p_bp
            and _re.search(r"\(\d+\) Sort[ \n]", p_bp) is None
            and "ArrowEvalPython" not in p_bp
            and "MapInPandas" not in p_bp,
            f"{n_ex_bp} Exchange, {n_bc_bp} broadcast joins, sort-free",
        )
    )

    # 29. phrase search: the word filter sits UNDER the one shuffle
    # (only queried terms' postings move), the intersection is array
    # expressions (no join per phrase slot), JVM end to end
    p_ps = plan_of(qs["doc_phrase_search"](spark, sf_dir))
    n_join_ps = len(_re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", p_ps))
    checks.append(
        (
            "phrase search: filtered postings, join-free intersection",
            n_join_ps == 0
            and "ArrowEvalPython" not in p_ps
            and "MapInPandas" not in p_ps
            and _re.search(r"term#\d+ IN \(", p_ps) is not None,
            f"{n_join_ps} joins, pushdown term filter present",
        )
    )

    # 30. NFC normalization: exactly ONE Arrow hop (the unicodedata
    # walk), zero shuffles — a pure map-only projection
    p_nfc = plan_of(qs["doc_nfc_normalize"](spark, sf_dir))
    n_arrow_nfc = len(_re.findall(r"\(\d+\) ArrowEvalPython", p_nfc))
    n_ex_nfc = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_nfc))
    checks.append(
        (
            "nfc normalize: one Arrow hop, zero shuffles",
            n_arrow_nfc == 1 and n_ex_nfc == 0,
            f"{n_arrow_nfc} ArrowEvalPython, {n_ex_nfc} Exchange",
        )
    )

    # 31. triangles: never a cartesian pair explosion, never an
    # adjacency-list hot key (no collect_list), ids-only hash joins
    p_tri = plan_of(qs["web_triangles"](spark, sf_dir))
    checks.append(
        (
            "triangles: no cartesian, no adjacency hot-key",
            "CartesianProduct" not in p_tri and "collect_list" not in p_tri,
            "oriented wedge join only",
        )
    )

    # 32. property table: exactly ONE shuffle (the subject pivot agg),
    # JVM end to end
    p_pt = plan_of(qs["kg_property_table"](spark, sf_dir))
    n_ex_pt = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_pt))
    checks.append(
        (
            "property table = one subject-hash aggregation",
            n_ex_pt == 1 and "ArrowEvalPython" not in p_pt,
            f"{n_ex_pt} Exchange",
        )
    )

    # 33. mirror hosts: pair generation via the capped index, never a
    # cartesian host product
    p_mh = plan_of(qs["web_mirror_hosts"](spark, sf_dir))
    checks.append(
        (
            "mirror hosts: df-capped index pairs, no cartesian",
            "CartesianProduct" not in p_mh,
            "inverted-index pair gen",
        )
    )

    # 34. structured-data extraction: ONE Arrow hop each, map-only —
    # the only Exchange is the explicit parse-parallelism repartition
    for qname in (
        "kg_jsonld_extract",
        "kg_microdata_extract",
        "kg_rdfa_extract",
        # skolemize must ADD no Arrow hop / shuffle: JVM md5 on top of
        # the extraction plan (structured.py::skolemize)
        "kg_skolemize",
        # parse + JVM lift (tables.py) share the same shape contract
        "kg_table_extract",
    ):
        p_sd = plan_of(qs[qname](spark, sf_dir))
        n_arrow = len(_re.findall(r"\(\d+\) MapInPandas", p_sd))
        n_ex_sd = len(_re.findall(r"\(\d+\) Exchange[ \n]", p_sd))
        checks.append(
            (
                f"{qname}: one Arrow hop, map-only",
                n_arrow == 1 and n_ex_sd <= 1,
                f"{n_arrow} MapInPandas, {n_ex_sd} Exchange",
            )
        )

    # 35. blocked entity linking never nested-loops or broadcasts the
    # dictionary: pair minting is an equi-join on deletion variants.
    # A literal candidates frame isolates the LINKING plan (the
    # dictionary builder's 1-row max crossJoin is a legitimate NLJ).
    from rdf_diff_store_spark.pipeline.linking import (
        entity_link_blocked,
        entity_link_scores,
    )

    docs_lit = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands_lit = spark.createDataFrame(
        [("alpha", 5, 5), ("bravo", 3, 5)], "alias string, alias_freq long, max_freq long"
    )
    p_bl = plan_of(entity_link_blocked(docs_lit, cands_lit))
    p_br = plan_of(entity_link_scores(docs_lit, cands_lit))
    checks.append(
        (
            "blocked linking: equi-join pair minting, no nested loop",
            "BroadcastNestedLoopJoin" not in p_bl
            and "CartesianProduct" not in p_bl
            and "BroadcastNestedLoopJoin" in p_br,  # the contrast: broadcast variant IS the NLJ
            "deletion-variant equi-join vs broadcast NLJ",
        )
    )

    # 36. planner-statistics family (r04 s18): entity summary
    # broadcasts the vocabulary-sized rarity table (never shuffles the
    # fact scan twice for it) and sorts only inside the single
    # subject-hash window partitioning; PLD rollup broadcasts the
    # public-suffix rule set.
    p_es = plan_of(qs["kg_entity_summary"](spark, sf_dir))
    # formatted explain splits "Exchange" and its hashpartitioning
    # argument across lines — match them separately; WindowGroupLimit
    # is Spark's top-k-window pushdown (rank <= k never materializes
    # full per-subject orderings)
    checks.append(
        (
            "kg_entity_summary: broadcast rarity + subject-hash window w/ group-limit pushdown",
            len(_re.findall(r"\(\d+\) BroadcastHashJoin", p_es)) >= 1
            and len(_re.findall(r"hashpartitioning\(subj", p_es)) >= 1
            and len(_re.findall(r"\(\d+\) WindowGroupLimit", p_es)) >= 1,
            f"{len(_re.findall(r'(d+) BroadcastHashJoin', p_es))} bcast, "
            f"{len(_re.findall(r'WindowGroupLimit', p_es))} WindowGroupLimit",
        )
    )
    p_pld = plan_of(qs["web_pld_rollup"](spark, sf_dir))
    checks.append(
        (
            "web_pld_rollup: suffix rules broadcast, no nested loop",
            "BroadcastNestedLoopJoin" not in p_pld
            and len(_re.findall(r"\(\d+\) BroadcastHashJoin", p_pld)) >= 1,
            "PSL rule join is a BroadcastHashJoin",
        )
    )

    # -- session-19: wedge-join candidate generation plans ------------
    p_ra = plan_of(qs["kg_ra_linkpred"](spark, sf_dir))
    checks.append(
        (
            "kg_ra_linkpred: equi-join wedge minting, map-side-combined pair agg",
            "BroadcastNestedLoopJoin" not in p_ra
            and "partial_count" in p_ra
            and len(_re.findall(r"hashpartitioning\(leaf_a", p_ra)) >= 1,
            "pairs aggregate with partial_count on (leaf_a, leaf_b) keys",
        )
    )
    p_mb = plan_of(qs["er_meta_blocking"](spark, sf_dir))
    checks.append(
        (
            "er_meta_blocking: block purging below the pair self-join",
            "BroadcastNestedLoopJoin" not in p_mb
            and "<= 200" in p_mb
            and ">= 2" in p_mb,
            "bs in [2, 200] filter present, equi-join pairing only",
        )
    )

    failed = [c for c in checks if not c[1]]
    for name, ok, detail in checks:
        print(f"{'PASS' if ok else 'FAIL'}  {name} ({detail})")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
