"""Sketch + weighted-sampling operators (operators/sketch.py) and the
PII scrub (functions/text.py::pii_redact).

Reference context: the reference reports exact store/graph counts
through its metadata surface (/root/reference/src/metrics/mod.rs:1-40);
at web scale these operators are the sub-linear substitutes. All
randomness is md5-derived, so every assertion here is deterministic —
reruns must produce byte-identical results (pinned below).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rdf_diff_store_spark.functions.text import pii_redact
from rdf_diff_store_spark.operators.sketch import (
    countmin_topk,
    hash52,
    kmv_distinct,
    priority_sample,
)


class TestKmvDistinct:
    def test_exact_below_k(self, spark):
        # 40 distinct values < k=64 -> the sketch IS the exact count
        df = spark.range(400).select(
            F.lit("g").alias("g"), (F.col("id") % 40).alias("v")
        )
        row = kmv_distinct(df, ["g"], "v", k=64).collect()[0]
        assert row.n_kept == 40
        assert row.est_distinct == 40

    def test_estimate_within_kmv_error(self, spark):
        # 5000 distinct values, k=64: KMV relative error ~ 1/sqrt(63)
        # ~ 12.6%; allow 3 sigma. Deterministic (md5), so this either
        # always passes or always fails.
        df = spark.range(5000).select(
            F.lit("g").alias("g"), F.col("id").alias("v")
        )
        row = kmv_distinct(df, ["g"], "v", k=64).collect()[0]
        assert row.n_kept == 64
        assert abs(row.est_distinct - 5000) / 5000 < 0.38

    def test_duplicates_do_not_move_estimate(self, spark):
        # the sketch sees DISTINCT hashes: replicating every value 7x
        # must leave the sketch state bit-identical
        base = spark.range(1000).select(
            F.lit("g").alias("g"), F.col("id").alias("v")
        )
        dup = spark.range(7000).select(
            F.lit("g").alias("g"), (F.col("id") % 1000).alias("v")
        )
        a = kmv_distinct(base, ["g"], "v", k=32).collect()[0]
        b = kmv_distinct(dup, ["g"], "v", k=32).collect()[0]
        assert (a.kth_hash, a.est_distinct) == (b.kth_hash, b.est_distinct)

    def test_per_group_independence(self, spark):
        df = spark.range(600).select(
            F.when(F.col("id") < 40, "small").otherwise("big").alias("g"),
            F.col("id").alias("v"),
        )
        rows = {r.g: r for r in kmv_distinct(df, ["g"], "v", k=64).collect()}
        assert rows["small"].est_distinct == 40  # exact below k
        assert rows["big"].n_kept == 64  # 560 distinct: estimator branch


class TestPrioritySample:
    def test_size_and_determinism(self, spark):
        df = spark.range(2000).select(
            F.col("id").alias("doc_id"), (1 + F.col("id") % 10).alias("w")
        )
        a = priority_sample(df, "w", k=50, id_col="doc_id").collect()
        b = priority_sample(df, "w", k=50, id_col="doc_id").collect()
        assert len(a) == 50
        assert a == b  # md5-derived priorities: fully replayable

    def test_subset_sum_estimator(self, spark):
        # Duffield/Lund/Thorup: sum over the sample of est_weight is an
        # unbiased estimator of total weight; for k=100 of 2000 near-
        # uniform weights the single-draw relative error is ~1/sqrt(k).
        df = spark.range(2000).select(
            F.col("id").alias("doc_id"), (1 + F.col("id") % 10).alias("w")
        )
        total = 2000 * (1 + (0 + 9) / 2.0)  # weights 1..10 uniform
        est = (
            priority_sample(df, "w", k=100, id_col="doc_id")
            .agg(F.sum("est_weight"))
            .collect()[0][0]
        )
        assert abs(est - total) / total < 0.3

    def test_weight_bias(self, spark):
        # one row with weight 10_000 among 1000 weight-1 rows must be
        # sampled (its priority is ~10^4 x the median)
        df = spark.range(1000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") == 77, 10_000).otherwise(1).alias("w"),
        )
        ids = {
            r.doc_id
            for r in priority_sample(df, "w", k=20, id_col="doc_id").collect()
        }
        assert 77 in ids

    def test_hash52_range(self, spark):
        mx = (
            spark.range(500)
            .select(hash52(F.col("id").cast("string")).alias("h"))
            .agg(F.max("h"), F.min("h"))
            .collect()[0]
        )
        assert 0 <= mx[1] and mx[0] < 2**52


class TestPiiRedact:
    def test_patterns(self, spark):
        cases = [
            ("mail bob.smith+x@corp.example.org now", "mail [EMAIL] now"),
            ("call +47 22 34 55 66 today", "call [PHONE] today"),
            ("host 192.168.0.1 up", "host [IP] up"),
            ("none here", "none here"),
            # email first: the phone pattern must not eat digits the
            # email redaction already replaced
            ("a1234567890@x.io +1 234 567 8901", "[EMAIL] [PHONE]"),
        ]
        df = spark.createDataFrame([(t,) for t, _ in cases], ["t"])
        got = [r[0] for r in df.select(pii_redact(F.col("t"))).collect()]
        assert got == [want for _, want in cases]

    def test_plain_digits_not_redacted(self, spark):
        df = spark.createDataFrame([("version 2 of 10 items",)], ["t"])
        assert (
            df.select(pii_redact(F.col("t"))).collect()[0][0]
            == "version 2 of 10 items"
        )


class TestCountMinTopk:
    def test_never_underestimates_and_orders(self, spark):
        # 200 distinct tokens with zipf-ish exact counts; the CM bound
        # is one-sided: est >= exact for EVERY token, and the output
        # is (est DESC, token) ordered, k rows.
        toks = spark.range(200).select(
            F.explode(
                F.array_repeat(
                    F.concat(F.lit("t"), F.col("id")),
                    (F.lit(201) - F.col("id")).cast("int"),
                )
            ).alias("tok")
        )
        rows = countmin_topk(toks, "tok", k=25, depth=3, width=256).collect()
        assert len(rows) == 25
        assert all(r.est_count >= r.exact_count for r in rows)
        keys = [(-r.est_count, r.tok) for r in rows]
        assert keys == sorted(keys)

    def test_exact_when_sparse(self, spark):
        # 5 tokens in a 3x256 sketch: collisions essentially impossible
        # (deterministic md5 buckets — this either always holds or the
        # bucket layout changed).
        toks = spark.createDataFrame(
            [("a",)] * 7 + [("b",)] * 5 + [("c",)] * 3 + [("d",)] * 2 + [("e",)],
            ["tok"],
        )
        rows = countmin_topk(toks, "tok", k=5).collect()
        assert [(r.tok, r.est_count, r.exact_count) for r in rows] == [
            ("a", 7, 7),
            ("b", 5, 5),
            ("c", 3, 3),
            ("d", 2, 2),
            ("e", 1, 1),
        ]

    def test_heavy_hitter_survives_collisions(self, spark):
        # one token with half the mass in a deliberately tight w=16
        # sketch: overestimation happens, but the heavy hitter still
        # ranks first and its estimate stays within est <= exact + N/w
        # summed over colliders (loose sanity: est - exact < N).
        n_noise = 400
        heavy = spark.range(n_noise).select(F.lit("HEAVY").alias("tok"))
        noise = spark.range(n_noise).select(
            F.concat(F.lit("n"), F.col("id")).alias("tok")
        )
        rows = countmin_topk(
            heavy.unionAll(noise), "tok", k=1, depth=3, width=16
        ).collect()
        assert rows[0].tok == "HEAVY"
        assert rows[0].exact_count == n_noise
        assert n_noise <= rows[0].est_count < 2 * n_noise


class TestHllDistinct:
    def test_estimate_within_hll_error(self, spark):
        # m=256 -> sigma ~ 1.04/16 = 6.5%; allow 4 sigma, deterministic
        from rdf_diff_store_spark.operators.sketch import hll_distinct

        df = spark.range(20000).select(F.lit("g").alias("g"), F.col("id").alias("v"))
        row = hll_distinct(df, ["g"], "v", b=8).collect()[0]
        assert abs(row.est_distinct - 20000) / 20000 < 0.26

    def test_duplicates_do_not_move_registers(self, spark):
        from rdf_diff_store_spark.operators.sketch import hll_distinct

        base = spark.range(500).select(F.lit("g").alias("g"), F.col("id").alias("v"))
        dup = spark.range(4000).select(
            F.lit("g").alias("g"), (F.col("id") % 500).alias("v")
        )
        a = hll_distinct(base, ["g"], "v", b=8).collect()[0]
        b = hll_distinct(dup, ["g"], "v", b=8).collect()[0]
        assert (a.n_regs, a.sum_scaled, a.est_distinct) == (
            b.n_regs,
            b.sum_scaled,
            b.est_distinct,
        )


class TestBloomDecontaminate:
    def _frames(self, spark):
        rows = [
            (1, ["alpha beta gamma", "delta epsilon zeta"]),   # eval
            (10, ["alpha beta gamma", "eta theta iota"]),      # overlap
            (11, ["kappa lambda mu", "nu xi omicron"]),        # clean
            (12, ["delta epsilon zeta", "kappa lambda mu"]),   # overlap
        ]
        return spark.createDataFrame(rows, "doc_id long, grams array<string>")

    def test_no_false_negatives(self, spark):
        # every doc sharing a gram with the eval set MUST be flagged
        from rdf_diff_store_spark.operators.dedup import (
            bloom_bits,
            bloom_decontaminate,
        )

        df = self._frames(spark)
        bits = bloom_bits(
            df.filter(F.col("doc_id") < 10).select(F.explode("grams").alias("g")),
            "g",
            k=3,
            m_bits=4096,
        )
        out = {
            r.doc_id: r
            for r in bloom_decontaminate(
                df.filter(F.col("doc_id") >= 10), "grams", bits, k=3, m_bits=4096
            ).collect()
        }
        assert out[10].flagged and out[10].n_hits >= 1
        assert out[12].flagged and out[12].n_hits >= 1
        assert out[10].n_grams == 2 and out[12].n_grams == 2

    def test_tiny_filter_forces_false_positives_never_negatives(self, spark):
        # m=8 bits saturates -> everything collides to flagged; the
        # one-sided-error contract is exactly this
        from rdf_diff_store_spark.operators.dedup import (
            bloom_bits,
            bloom_decontaminate,
        )

        df = self._frames(spark)
        bits = bloom_bits(
            df.filter(F.col("doc_id") < 10).select(F.explode("grams").alias("g")),
            "g",
            k=3,
            m_bits=8,
        )
        out = bloom_decontaminate(
            df.filter(F.col("doc_id") >= 10), "grams", bits, k=3, m_bits=8
        ).collect()
        assert all(r.flagged for r in out if r.doc_id in (10, 12))


class TestBpePairCounts:
    def test_hand_counted_example(self, spark):
        from rdf_diff_store_spark.functions.text import bpe_pair_counts

        docs = spark.createDataFrame(
            [(1, "aa ab! AAB"), (2, "x")], "doc_id long, text string"
        )
        # words >=2 chars after lower/[^a-z0-9]+ split: aa, ab, aab
        # pairs: aa->aa ; ab->ab ; aab->aa,ab  => aa:2 ab:2
        out = {r.pair: r.n for r in bpe_pair_counts(docs, "text", k=10).collect()}
        assert out == {"aa": 2, "ab": 2}

    def test_topk_order_deterministic(self, spark):
        from rdf_diff_store_spark.functions.text import bpe_pair_counts

        docs = spark.createDataFrame(
            [(i, "the quick brown fox " * 3) for i in range(5)],
            "doc_id long, text string",
        )
        a = [tuple(r) for r in bpe_pair_counts(docs, "text", k=5).collect()]
        b = [tuple(r) for r in bpe_pair_counts(docs, "text", k=5).collect()]
        assert a == b and len(a) == 5
        assert a == sorted(a, key=lambda t: (-t[1], t[0]))


class TestGridHistogramQuantiles:
    def test_hand_computed_quantiles(self, spark):
        from rdf_diff_store_spark.operators.sketch import (
            grid_histogram,
            histogram_quantiles,
        )

        # 100 values 0..99 on a [0,100) 10-bin grid: bucket = v DIV 10;
        # q25 rank 25 -> cum hits 25 at bucket 2 (cum 30) -> lower 20
        df = spark.range(100).select(F.lit("g").alias("g"), F.col("id").alias("v"))
        hist = grid_histogram(df, ["g"], "v", lo=0, hi=100, n_bins=10)
        row = histogram_quantiles(hist, ["g"], lo=0, hi=100, n_bins=10).collect()[0]
        assert row.n_rows == 100
        assert (row.q25, row.q50, row.q75, row.q90) == (20, 40, 70, 80)

    def test_merge_by_addition_equals_whole(self, spark):
        from rdf_diff_store_spark.operators.sketch import grid_histogram

        a = spark.range(0, 500).select(F.lit("g").alias("g"), F.col("id").alias("v"))
        b = spark.range(500, 800).select(F.lit("g").alias("g"), F.col("id").alias("v"))
        ha = grid_histogram(a, ["g"], "v", 0, 1000, 16)
        hb = grid_histogram(b, ["g"], "v", 0, 1000, 16)
        merged = (
            ha.unionByName(hb)
            .groupBy("g", "bucket")
            .agg(F.sum("n").alias("n"))
        )
        whole = grid_histogram(a.unionByName(b), ["g"], "v", 0, 1000, 16)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, whole.collect())
        )

    def test_out_of_range_clamps_to_edge_bins(self, spark):
        from rdf_diff_store_spark.operators.sketch import grid_histogram

        df = spark.createDataFrame(
            [("g", -50), ("g", 5), ("g", 99999)], "g string, v long"
        )
        rows = {r.bucket: r.n for r in grid_histogram(df, ["g"], "v", 0, 100, 10).collect()}
        assert rows == {0: 2, 9: 1}  # -50 clamps low, 99999 clamps high
