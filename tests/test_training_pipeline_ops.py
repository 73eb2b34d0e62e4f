"""Training-data pipeline operators added in round 4 session 3+:
sequence packing, Gopher quality rules, weighted mixture sampling.

Each has a DuckDB twin in __spark_entry__.py (value-checked by
scripts/check_oracle.py at two SFs); these tests pin the invariants
the hash compare can't express — conservation laws, determinism, and
the rule semantics on crafted rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


class TestSequencePack:
    def test_token_conservation_per_shard(self, spark, sf_dir):
        """Every token lands in exactly one (shard, seq): the packed
        sums re-add to each shard's total token count."""
        from __spark_entry__ import q_doc_sequence_pack, load_table

        packed = q_doc_sequence_pack(spark, sf_dir)
        by_shard = (
            packed.groupBy("shard")
            .agg(F.sum("pack_tokens").alias("t"), F.sum("n_docs").alias("d"))
            .collect()
        )
        docs = load_table(spark, sf_dir, "documents")
        truth = {
            r["shard"]: (r["t"], r["d"])
            for r in docs.select(
                (F.col("doc_id") % 8).alias("shard"),
                F.size(F.split(F.trim("text"), r"\s+")).alias("n"),
            )
            .groupBy("shard")
            .agg(F.sum("n").alias("t"), F.count("*").alias("d"))
            .collect()
        }
        assert {r["shard"]: (r["t"], r["d"]) for r in by_shard} == truth

    def test_seq_ids_are_contiguous_from_zero(self, spark, sf_dir):
        """Cut points walk the concatenated stream: per shard the seq
        ids are 0..max with no holes (every 512-token window holds at
        least the doc that straddles into it)."""
        from __spark_entry__ import q_doc_sequence_pack

        packed = q_doc_sequence_pack(spark, sf_dir)
        for r in (
            packed.groupBy("shard")
            .agg(F.min("seq_id"), F.max("seq_id"), F.countDistinct("seq_id"))
            .collect()
        ):
            lo, hi, n = r[1], r[2], r[3]
            assert lo == 0 and n == hi + 1

    def test_offsets_deterministic(self, spark):
        """Crafted shard: docs of 200/200/200 tokens pack as
        seq0={d0,d8 (offsets 0,200)}, seq1={d16 (offset 400 crosses
        512? no: floor(400/512)=0)} — all three start in seq 0."""
        from __spark_entry__ import q_doc_sequence_pack  # noqa: F401

        rows = [
            (0, " ".join(["w"] * 200), "en", "src0", 0),
            (8, " ".join(["w"] * 200), "en", "src0", 0),
            (16, " ".join(["w"] * 200), "en", "src0", 0),
            (24, " ".join(["w"] * 200), "en", "src0", 0),
        ]
        docs = _docs(spark, rows)
        # same formula as the query, inlined over the crafted frame
        from pyspark.sql import Window

        n_tok = F.size(F.split(F.trim("text"), r"\s+"))
        d = docs.select(
            "doc_id", (F.col("doc_id") % 8).alias("shard"), n_tok.alias("n")
        )
        w = Window.partitionBy("shard").orderBy("doc_id")
        off = F.sum("n").over(w) - F.col("n")
        got = {
            r["doc_id"]: r["seq"]
            for r in d.select(
                "doc_id", F.floor(off / 512).alias("seq")
            ).collect()
        }
        # offsets 0, 200, 400, 600 -> seqs 0, 0, 0, 1
        assert got == {0: 0, 8: 0, 16: 0, 24: 1}


class TestGopherFilter:
    def test_rule_semantics_on_crafted_docs(self, spark, sf_dir, monkeypatch):
        """A long stopword-bearing doc passes; a 5-word doc fails the
        word-count floor; a symbol-soup doc fails the symbol ratio."""
        import __spark_entry__ as entry

        good = "the quick brown fox jumps over and over with glee " * 10  # 100 words
        short = "too short to pass filter"
        symbols = ("the and of to # " * 30).strip()  # '#' every 5th word
        rows = [
            (1, good.strip(), "en", "src0", 0),
            (2, short, "en", "src0", 0),
            (3, symbols, "en", "src0", 0),
        ]
        docs = _docs(spark, rows)
        monkeypatch.setattr(entry, "load_table", lambda s, d, t: docs)
        out = {
            r["doc_id"]: r.asDict()
            for r in entry.q_doc_gopher_filter(spark, sf_dir).collect()
        }
        assert out[1]["passes"] is True
        assert out[2]["passes"] is False and out[2]["n_words"] == 5
        assert out[3]["passes"] is False and out[3]["symbol_ratio_e4"] >= 1000

    def test_all_columns_bounded(self, spark, sf_dir):
        from __spark_entry__ import q_doc_gopher_filter

        df = q_doc_gopher_filter(spark, sf_dir)
        bad = df.filter(
            (F.col("alpha_word_ratio_e4") < 0) | (F.col("alpha_word_ratio_e4") > 10000)
            | (F.col("symbol_ratio_e4") < 0)
            | (F.col("stop_hits") < 0) | (F.col("stop_hits") > 8)
        )
        assert bad.count() == 0


class TestMixtureSample:
    def test_src0_keeps_everything(self, spark, sf_dir):
        from __spark_entry__ import q_dataset_mixture_sample

        rows = {r["source"]: r.asDict() for r in q_dataset_mixture_sample(spark, sf_dir).collect()}
        assert rows["src0"]["n_kept"] == rows["src0"]["n_total"]
        for src, r in rows.items():
            assert 0 <= r["n_kept"] <= r["n_total"]
            assert r["kept_tokens"] >= r["n_kept"]  # every doc has >= 1 token

    def test_weights_order(self, spark, sf_dir):
        """Expected keep-rates are monotone in the configured weights
        (1, 1/2, 1/4, 1/8) — with md5 uniformity the realized rates
        sit near them; assert the coarse ordering, not the exact
        binomial draw."""
        from __spark_entry__ import q_dataset_mixture_sample

        rows = {r["source"]: r for r in q_dataset_mixture_sample(spark, sf_dir).collect()}
        rate = {s: r["n_kept"] / r["n_total"] for s, r in rows.items()}
        assert rate["src0"] == 1.0
        if "src1" in rate and "src2" in rate:
            assert rate["src1"] > rate["src2"] > 0

    def test_deterministic_replay(self, spark, sf_dir):
        from __spark_entry__ import q_dataset_mixture_sample

        a = sorted(map(tuple, q_dataset_mixture_sample(spark, sf_dir).collect()))
        b = sorted(map(tuple, q_dataset_mixture_sample(spark, sf_dir).collect()))
        assert a == b


class TestSharedSpans:
    """Cross-doc duplicated-span detection (Lee et al. 2022 shape):
    df-capped inverted index over long-gram winnowing fingerprints."""

    def test_pairs_ordered_and_bounded(self, spark, sf_dir):
        from __spark_entry__ import q_doc_shared_spans

        rows = q_doc_shared_spans(spark, sf_dir).collect()
        assert 0 < len(rows) <= 50
        # doc_a < doc_b canonical orientation, counts descending
        assert all(r.doc_a < r.doc_b for r in rows)
        counts = [r.shared_spans for r in rows]
        assert counts == sorted(counts, reverse=True)

    def test_identical_docs_dominate(self, spark):
        from __spark_entry__ import q_doc_shared_spans
        import tempfile, os

        # two identical long docs + unrelated filler: the clone pair
        # must surface with the highest shared-span count
        body = " ".join(f"tok{i % 97} word{i % 31}" for i in range(300))
        rows = [(1, "src", "en", body), (2, "src", "en", body)] + [
            (i, "src", "en", f"unique text number {i} " + " ".join(
                f"w{i}x{j}" for j in range(50)))
            for i in range(3, 23)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, lang string, text string"
        )
        with tempfile.TemporaryDirectory() as d:
            df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
            out = q_doc_shared_spans(spark, d).collect()
        assert (out[0].doc_a, out[0].doc_b) == (1, 2)


class TestPplBuckets:
    def test_terciles_partition_each_lang(self, spark, sf_dir):
        from __spark_entry__ import q_doc_ppl_buckets

        rows = q_doc_ppl_buckets(spark, sf_dir).collect()
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r.lang, []).append(r)
        for lang, rs in by_lang.items():
            assert sorted(r.bucket for r in rs) == [1, 2, 3]
            tiers = {r.bucket: r.tier for r in rs}
            assert tiers == {1: "head", 2: "middle", 3: "tail"}
            # ntile sizes differ by at most one
            ns = [r.n_docs for r in rs]
            assert max(ns) - min(ns) <= 1
            # head scores >= tail scores
            head = next(r for r in rs if r.bucket == 1)
            tail = next(r for r in rs if r.bucket == 3)
            assert head.worst_logprob >= tail.best_logprob


class TestBpeEncode:
    def test_encode_matches_train_segmentation(self, spark):
        """bpe_encode with the merges BPE training learns on Sennrich
        et al. 2016's running example reproduces the trainer's final
        word segmentation exactly. Merges and segmentation are
        hand-computed: six rounds of (count DESC, pair ASC) argmax,
        each re-segmenting greedily left to right."""
        from rdf_diff_store_spark.functions.text import bpe_encode

        # corpus: low×5 lower×2 newest×6 widest×3
        merges = [
            ("e", "s"),   # e-s 9 ties s-t 9, pair ASC
            ("es", "t"),  # 9
            ("l", "o"),   # 7 ties o-w, pair ASC
            ("lo", "w"),  # 7
            ("e", "w"),   # 6 three-way tie, "e w" smallest
            ("ew", "est"),
        ]
        trained = {
            "low": ["low"],
            "lower": ["low", "e", "r"],
            "newest": ["n", "ewest"],
            "widest": ["w", "i", "d", "est"],
        }
        enc = spark.createDataFrame(
            [(w,) for w in trained], "w string"
        ).select("w", bpe_encode(F.col("w"), merges).alias("toks"))
        for r in enc.collect():
            assert r.toks == trained[r.w], r.w

    def test_run_semantics_and_chained_merges(self, spark):
        from rdf_diff_store_spark.functions.text import bpe_encode

        df = spark.createDataFrame(
            [("aaa aa a",), ("window win dow",)], "t string"
        )
        runs = df.select(bpe_encode(F.col("t"), [("a", "a")]).alias("x")).collect()
        # greedy left-to-right: "aaa" -> [aa, a]
        assert runs[0].x == ["aa", "a", "aa", "a"]
        chain = [("w", "i"), ("wi", "n"), ("win", "d"), ("wind", "o"), ("windo", "w")]
        got = df.select(bpe_encode(F.col("t"), chain)).collect()[1][0]
        # deepest chain composes; "dow" only reaches [d, o, w] (no d-merges)
        assert got == ["window", "win", "d", "o", "w"]

    def test_null_and_empty_text(self, spark):
        from rdf_diff_store_spark.functions.text import bpe_encode

        df = spark.createDataFrame([("",), (" .. ",)], "t string")
        rows = df.select(bpe_encode(F.col("t"), [("a", "b")]).alias("x")).collect()
        assert rows[0].x == [] and rows[1].x == []


class TestLinearTextClassifier:
    def _weights(self, spark, pairs, n_buckets=64):
        """Dense bucket weights: 0 everywhere except the given
        feature->weight pairs (hashed with the operator's own hash)."""
        from rdf_diff_store_spark.operators.sketch import hash52

        feats = spark.createDataFrame(pairs, "feat string, w_micro long").select(
            (hash52(F.col("feat")) % n_buckets).alias("bucket"), "w_micro"
        )
        base = spark.range(n_buckets).select(F.col("id").alias("bucket"))
        return (
            base.join(feats, "bucket", "left")
            .groupBy("bucket")
            .agg(F.coalesce(F.sum("w_micro"), F.lit(0)).alias("w_micro"))
        )

    def test_known_features_drive_keep(self, spark):
        from rdf_diff_store_spark.functions.text import linear_text_classifier

        docs = spark.createDataFrame(
            [(1, "good good good junk"), (2, "junk junk junk good")],
            "doc_id long, text string",
        )
        w = self._weights(spark, [("good", 500), ("junk", -500)])
        out = {
            r.doc_id: r
            for r in linear_text_classifier(
                docs, w, n_buckets=64, bigrams=False, threshold_micro=0
            ).collect()
        }
        assert out[1].logit_micro == 1000 and out[1].keep
        assert out[2].logit_micro == -1000 and not out[2].keep
        assert out[1].n_features == 4

    def test_bigram_features_contribute(self, spark):
        from rdf_diff_store_spark.functions.text import linear_text_classifier

        docs = spark.createDataFrame([(1, "new york")], "doc_id long, text string")
        w = self._weights(spark, [("new york", 700)])
        row = linear_text_classifier(docs, w, n_buckets=64).first()
        # 2 unigrams (weight 0) + 1 bigram (700)
        assert row.n_features == 3 and row.logit_micro == 700

    def test_threshold_is_length_normalized(self, spark):
        from rdf_diff_store_spark.functions.text import linear_text_classifier

        # same positive evidence diluted by padding: long doc drops
        docs = spark.createDataFrame(
            [(1, "good"), (2, "good " + "pad " * 20)], "doc_id long, text string"
        )
        w = self._weights(spark, [("good", 100)])
        out = {
            r.doc_id: r.keep
            for r in linear_text_classifier(
                docs, w, n_buckets=64, bigrams=False, threshold_micro=10
            ).collect()
        }
        # doc1: 100 >= 10*1; doc2: 100 < 10*21 — same evidence, diluted
        assert out[1] and not out[2]
