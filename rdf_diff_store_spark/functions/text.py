"""Deterministic text functions for the KG pipeline: boilerplate-
stripping extraction (the input_hint per-row invariant: byte-identical
extracted text per url — the transplant of the reference's prettify-
equality idempotence contract, src/graphs.rs:52-61), language id,
quality scoring, token counting, and fingerprinting.

Extraction runs as an Arrow-batched pandas UDF (binary html in, string
out); everything else is built-in JVM expressions exposed as Column
helpers so the hot path stays inside whole-stage codegen.

EXTRACTOR_VERSION must be bumped on any behavior change — the version
is stamped into lineage metrics so a resumed run never mixes two
extractor versions in one table.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXTRACTOR_VERSION = "1"

_HEAD_RE = re.compile(r"<head[^>]*>.*?</head>", re.DOTALL | re.IGNORECASE)
_DROP_RE = re.compile(
    r"<(nav|script|style|header|footer|aside)[^>]*>.*?</\1>", re.DOTALL | re.IGNORECASE
)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")


def extract_text_py(html: bytes | None) -> str | None:
    """Pure extraction: drop head/nav/script/style/header/footer/aside
    blocks, strip remaining tags, collapse whitespace. Locale-free,
    version-pinned, byte-deterministic."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace")
    s = _HEAD_RE.sub(" ", s)
    s = _DROP_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    return _WS_RE.sub(" ", s).strip()


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


# --- JVM-side text analysis helpers (no Python) -------------------------

# tiny per-language stopword fingerprints for the n-gram/stopword
# language-id heuristic
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "und", "die", "das", "nicht"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "los", "una"],
    "nb": ["og", "det", "som", "av", "ikke"],
}


def token_count(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"\s+"))


# BPE-ish pre-tokenization: letter runs, digit runs, punctuation runs —
# the GPT-2-style split shape without the merges table. Engine-portable
# regex (no lookarounds).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count(text: Column) -> Column:
    """Token count under BPE-ish pre-tokenization — the corpus-sizing
    number a training pipeline actually budgets with (whitespace
    counts undercount punctuation-heavy text)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def lang_id_scores(text: Column) -> Column:
    """Stopword-hit score per language; returns the argmax language
    ('und' when nothing matches). Pure JVM expression tree."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    best_lang, best_score = F.lit("und"), F.lit(0)
    for lang, words in _STOPWORDS.items():
        score = sum(
            (
                F.size(F.split(padded, rf"\s{re.escape(w)}\s")) - 1
                for w in words
            ),
            start=F.lit(0),
        )
        better = score > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, score).otherwise(best_score)
    return best_lang


def quality_features(text: Column) -> dict[str, Column]:
    """Heuristic quality features (length / alpha ratio / mean token
    length / digit ratio) as named JVM expressions. The ratios over
    the character count are NULL on an empty text (SQL's x / 0), not
    an ANSI divide-by-zero error."""
    total = F.length(text)
    alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    digits = F.length(F.regexp_replace(text, "[^0-9]", ""))
    n_tok = token_count(text)
    return {
        "n_chars": total,
        "n_tokens": n_tok,
        "alpha_ratio": F.when(total > 0, F.round(alpha / total, 4)),
        "digit_ratio": F.when(total > 0, F.round(digits / total, 4)),
        "mean_tok_len": F.round(total / n_tok, 4),
    }


def fingerprint(text: Column) -> Column:
    """64-bit content fingerprint (xxhash64 of the normalized text) —
    the rolling-hash document fingerprint analog, JVM-side."""
    return F.xxhash64(F.lower(F.trim(text)))


def chunk_documents(
    docs: "DataFrame",
    chunk_tokens: int = 100,
    overlap: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Token-bounded sliding-window chunking — the standard
    training-data preprocessing step that turns long documents into
    model-context-sized pieces (chunk i covers whitespace tokens
    [i*(chunk_tokens-overlap), +chunk_tokens)).

    Entirely JVM expressions: split → one transform over a chunk-index
    sequence → posexplode. The token array is bound ONCE as a lambda
    variable (operators.dedup.bind_once) — referenced naively inside
    the transform lambda, ProjectCollapse would re-split the text per
    chunk (CLAUDE.md). At 100 TB this runs embarrassingly parallel:
    no shuffle at all, output partitioning follows the input.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from rdf_diff_store_spark.operators.dedup import bind_once

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap

    def chunks_of(toks):
        n_chunks = F.greatest(
            F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(float(step))),
            F.lit(1),
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(toks, i * step + 1, chunk_tokens), " "
            ),
        )

    # trim first: leading/trailing whitespace would otherwise produce
    # empty boundary tokens (and engines disagree on keeping them)
    toks_expr = F.split(F.trim(F.col(text_col)), r"\s+")
    return docs.select(
        F.col(id_col),
        F.posexplode(bind_once(toks_expr, chunks_of)).alias(
            "chunk_idx", "chunk_text"
        ),
    )


def normalize_url(url: "Column") -> "Column":
    """Crawl-frontier URL canonicalization, all JVM expressions:
    1. strip the fragment (never sent to servers),
    2. lowercase the scheme://authority prefix (case-insensitive per
       RFC 3986 §6.2.2.1; path/query stay case-SENSITIVE),
    3. drop the default port (:80 for http, :443 for https).
    Dedup on the normalized form collapses trivially-distinct crawl
    URLs without touching path semantics. No Python, no shuffle —
    composes into any frontier/dedup pipeline for free."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    u = F.regexp_replace(url, "#.*$", "")
    prefix = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)", 1)
    rest = F.substring(u, F.length(prefix) + 1, F.lit(2_147_483_647))
    u = F.when(prefix == "", u).otherwise(F.concat(F.lower(prefix), rest))
    u = F.regexp_replace(u, r"^(http://[^/?#:]*):80([/?#].*)?$", "$1$2")
    return F.regexp_replace(u, r"^(https://[^/?#:]*):443([/?#].*)?$", "$1$2")


def unigram_logprob(
    docs: "DataFrame", id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":
    """Corpus-level unigram log-probability quality score — the
    lightweight stand-in for LM-perplexity filtering: documents whose
    tokens are corpus-typical score high, gibberish scores low.

    Two passes: (1) corpus-wide token counts (one shuffle with map-side
    partial agg), (2) tokens joined back to counts and averaged per
    doc. The count join shuffles on the token key, which is Zipf-skewed
    ("the" dominates) — AQE skew-join splitting handles the hot keys
    (session.py enables it); at 100 TB, broadcast the head of the
    vocabulary and shuffle only the tail.

    Output: (id_col, n_tokens, avg_logprob), avg_logprob = mean over
    tokens of ln(count(token) / total_tokens), rounded to 4.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    return (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") / F.col("t"))), 4).alias("avg_logprob"),
        )
    )


def dsir_weights(
    docs: "DataFrame",
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 512,
) -> "DataFrame":
    """DSIR importance weights (Xie et al., NeurIPS 2023 — "Data
    Selection for Language Models via Importance Resampling"): score
    every document by how target-like its hashed-unigram profile is,
    log w(x) = Σ_features c(f) · [ln p_target(f) − ln p_raw(f)],
    with add-1-smoothed bucket distributions over ``n_buckets`` hashed
    word buckets. Documents matching ``target_filter`` (a boolean
    Column over the docs frame) define the target distribution; the
    whole corpus is the raw distribution.

    Engine portability: buckets are md5-52bit hashes mod n_buckets
    (bit-identical in DuckDB), and the per-bucket log-ratio is rounded
    to an INTEGER micro-log (×1e6) before the per-doc sum — so the doc
    score is an exact BIGINT sum of identical integers in both
    engines, immune to float summation order.

    Plan shape at 10^12 docs: ONE token explode feeding ONE
    per-(doc,bucket) count — map-side combinable, the only big
    shuffle; the two bucket distributions then derive from those
    counts (an n_buckets-row aggregate — the corpus is never scanned
    twice). The log-ratio table is n_buckets rows and BROADCAST onto
    the doc-bucket counts; nothing else is joined. Scoring is one
    more map-side-combinable aggregation on id_col.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from rdf_diff_store_spark.operators.sketch import hash52  # noqa: PLC0415

    toks = docs.select(
        F.col(id_col),
        target_filter.alias("_is_target"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    ).select(id_col, "_is_target", (hash52(F.col("tok")) % n_buckets).alias("bucket"))

    # _is_target is functionally dependent on id_col, so grouping by
    # both keeps (doc, bucket) grain while letting the distribution
    # aggregates derive from these counts instead of a second scan
    doc_buckets = toks.groupBy(id_col, "_is_target", "bucket").agg(
        F.count("*").alias("c")
    )

    by_bucket = doc_buckets.groupBy("bucket").agg(
        F.sum("c").alias("raw_c"),
        F.sum(F.when(F.col("_is_target"), F.col("c")).otherwise(0)).alias("tgt_c"),
    )
    totals = by_bucket.agg(
        F.sum("raw_c").alias("raw_tot"), F.sum("tgt_c").alias("tgt_tot")
    )
    logratio = by_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            (
                F.log(F.col("tgt_c") + 1)
                - F.log(F.col("tgt_tot") + n_buckets)
                - F.log(F.col("raw_c") + 1)
                + F.log(F.col("raw_tot") + n_buckets)
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("lr_micro"),
    )
    return (
        doc_buckets.join(F.broadcast(logratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lr_micro")).cast("bigint").alias("logw_micro"),
        )
    )


# PII patterns kept to the regex subset Java (Spark) and RE2 (DuckDB,
# the oracle engine) interpret identically: character classes, bounded
# repetition, \b, \d — no backrefs, no lookaround. Order matters:
# emails are redacted before phones/IPs so the digits inside a
# redacted token can't double-match.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+\d[\d -]{7,}\d"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redact(text: "Column") -> "Column":
    """Redact emails, international-format phone numbers, and IPv4
    addresses — the standard pre-training privacy scrub (the C4 /
    FineWeb pipelines run exactly this class of regex pass before
    publishing a corpus).

    Pure JVM `regexp_replace` chain: no UDF, no shuffle, runs inside
    whole-stage codegen and scales embarrassingly parallel — at
    100 TB this is a map-only pass whose cost is the regex scan
    itself. Counting is left to the caller (`F.regexp_count` on the
    ORIGINAL column) so the plan stays one projection."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    out = F.regexp_replace(text, PII_EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, PII_PHONE_RE, "[PHONE]")
    return F.regexp_replace(out, PII_IPV4_RE, "[IP]")


def bpe_pair_counts(
    docs: "DataFrame",
    text_col: str = "text",
    k: int = 30,
) -> "DataFrame":
    """Top-k adjacent symbol-pair frequencies — the inner counting
    step of byte-pair-encoding tokenizer training (Sennrich et al.
    2016), the pass a BPE trainer repeats once per merge.

    The corpus is normalized to lowercase [a-z0-9]+ words; within
    each word every adjacent character pair contributes one count
    (at merge-round zero symbols are single characters, so pairs are
    2-char substrings). The most frequent pair is the next merge
    rule; here the top-k table is returned so the caller sees the
    whole candidate front.

    Plan shape for a 100-TB corpus: word split + the per-word pair
    expansion are nested JVM array expressions (split → explode →
    transform(sequence) → explode) — whole-stage codegen, no Python;
    the only shuffle is the (pair) count groupBy with map-side
    partial aggregation (≤ 36² ≈ 1.3k distinct keys at round zero,
    so the exchange is trivially small no matter the corpus); top-k
    lowers to TakeOrderedAndProject. A full BPE train loops this
    with a growing symbol alphabet — each round is this same job
    over re-segmented words.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    words = docs.select(
        F.explode(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")
        ).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(k)
    )


def bpe_encode(text: "Column", merges: list) -> "Column":
    """Tokenize with a TRAINED byte-pair-encoding merge table — the
    apply side of BPE (Sennrich et al. 2016 §2: "we apply the learned
    operations"); `bpe_pair_counts` is the counting pass of training.
    Returns array<string> tokens.

    Production shape: the merge table is a static artifact of a
    one-time training run (a broadcast list, never data), so apply is
    a MAP-ONLY expression — zero shuffles over a 10^12-doc corpus.

    Encoding trick that keeps the whole thing inside whole-stage
    codegen AND oracle-portable: each symbol is wrapped in angle
    brackets (characters that cannot occur inside [a-z0-9]+ words),
    so a word becomes "<c><h><a><r><s>" and merge rank r, (a, b)→ab,
    is one literal `replace("<a><b>", "<ab>")`. Left-to-right
    non-overlapping replace-all per merge, merges in rank order, is
    EXACTLY the greedy left-to-right segmentation BPE training
    produces for the same merge sequence (pytest-pinned on a
    hand-verified corpus: test_training_pipeline_ops), and DuckDB's
    `replace` has identical semantics, so the oracle replays the same
    chain bit-identically.

    Reference context: rdf-diff-store outsources tokenization
    entirely (no tokenizer in src/); this is a north_star
    training-data-pipeline operator.
    """
    words = F.filter(
        F.split(F.lower(text), r"[^a-z0-9]+"), lambda w: F.length(w) >= 1
    )

    def encode_word(w):
        s = F.regexp_replace(w, "(.)", "<$1>")
        for a, b in merges:
            s = F.replace(s, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
        return F.split(F.substring(s, 2, F.length(s) - 2), "><")

    return F.flatten(F.transform(words, encode_word))


def linear_text_classifier(
    docs: "DataFrame",
    weights: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    bigrams: bool = True,
    threshold_micro: int = 0,
) -> "DataFrame":
    """Apply a trained hashed-n-gram linear classifier — the fastText
    architecture (Joulin et al. 2017, "Bag of Tricks for Efficient
    Text Classification") that production corpus-quality filters
    (CCNet, DCLM-style fastText quality models) run over every
    document of a crawl. Training happens once, offline; APPLY is the
    10^12-doc pass, and that is what this operator optimizes.

    ``weights`` is the trained artifact: ``(bucket long, w_micro
    long)`` — one weight per hashed feature bucket in INTEGER
    micro-units, so every document logit is an exact BIGINT
    Σ count(f)·w[h(f)] with no float-summation-order sensitivity
    (same discipline as `dsir_weights`). Features are unigrams plus
    (optionally) adjacent word bigrams, fastText's wordNgrams=2;
    buckets are portable md5-52bit hashes mod ``n_buckets``.

    keep = logit ≥ threshold·n_features — the length-normalized
    decision without any division (integer cross-multiply).

    Plan shape at corpus scale: feature expansion is a nested JVM
    array expression (no UDF), the weight table (|buckets| rows) is
    BROADCAST onto the exploded features (map-only), and the ONLY
    corpus-sized shuffle is the final per-doc sum with map-side
    partial aggregation.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from rdf_diff_store_spark.operators.sketch import hash52  # noqa: PLC0415

    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")

    def feats(w):
        uni = w
        if not bigrams:
            return uni
        bi = F.when(
            F.size(w) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 1),
                lambda i: F.concat(
                    F.element_at(w, i), F.lit(" "), F.element_at(w, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(uni, bi)

    from rdf_diff_store_spark.operators.dedup import bind_once  # noqa: PLC0415

    exploded = docs.select(
        F.col(id_col), F.explode(bind_once(words, feats)).alias("feat")
    ).select(id_col, (hash52(F.col("feat")) % n_buckets).alias("bucket"))

    return (
        exploded.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_features"),
            F.sum("w_micro").cast("bigint").alias("logit_micro"),
        )
        .select(
            id_col,
            "n_features",
            "logit_micro",
            (
                F.col("logit_micro")
                >= F.lit(int(threshold_micro)) * F.col("n_features")
            ).alias("keep"),
        )
    )


def extract_links(html: "Column") -> "Column":
    """All hyperlink targets in an html document as array<string> —
    the edge-extraction pass that turns a crawl into the web link
    graph (the input to host-level PageRank / community detection and
    the KG's page→page evidence edges).

    Pure JVM ``regexp_extract_all`` over the href attribute — the
    pattern (``href="…"`` / ``href='…'``) is in the Java∩RE2 subset
    so the DuckDB oracle extracts identically; no Python, no shuffle,
    composes with `normalize_url`/`url_host` map-side. Deliberately
    attribute-level (not a DOM parse): at 10^12 pages link extraction
    must stay inside whole-stage codegen; the extractor UDF
    (`extract_text_py`) owns the content path, this owns the edges.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    s = html.cast("string")
    dq = F.regexp_extract_all(s, F.lit('href="([^"]*)"'), F.lit(1))
    sq = F.regexp_extract_all(s, F.lit("href='([^']*)'"), F.lit(1))
    return F.concat(dq, sq)


def url_host(url: "Column") -> "Column":
    """Lowercased authority (host[:port]) of an absolute URL, '' for
    relative references — the grouping key for host-level graph
    aggregation and per-domain capping. JVM regexp, RFC 3986 §3.2."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    return F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    )


def extract_anchors(html: "Column") -> "Column":
    """(href, anchor text) pairs from an html document as
    array<struct<href:string, anchor:string>> — the anchor-text signal
    that names link targets (the strongest free entity-label evidence
    a crawl carries; aggregated per target it seeds the KG's surface-
    form dictionary that `pipeline/linking.py` scores against).

    Same design rule as `extract_links`: a pure JVM
    ``regexp_extract_all`` pass (attribute-level, not a DOM parse) so
    extraction stays inside whole-stage codegen at 10^12 pages. The
    pattern takes double-quoted hrefs whose element body is plain text
    (``<a ... href="…" ...>text</a>``); two extractions with different
    group indexes over the SAME pattern zip positionally — Spark
    guarantees both scans see identical matches, so the zip can never
    misalign.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    s = html.cast("string")
    pat = F.lit('<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>')
    hrefs = F.regexp_extract_all(s, pat, 1)
    texts = F.regexp_extract_all(s, pat, 2)
    return F.zip_with(
        hrefs, texts, lambda h, t: F.struct(h.alias("href"), F.trim(t).alias("anchor"))
    )


def extract_canonical(html: "Column") -> "Column":
    """The rel=canonical link target of an html document (NULL when
    absent) — the page's OWN statement of its canonical url, the
    third deduplication signal a crawl carries besides content hashes
    and redirects. Feeding the (url → canonical) mapping through
    `operators/crawl.py::resolve_redirects` collapses canonical
    CHAINS (a → b, b → c) exactly like redirect chains.

    Attribute order is free in html, so two JVM regexps cover
    rel-then-href and href-then-rel; first match wins (documents are
    expected to carry at most one). Pure whole-stage codegen, same
    design rule as `extract_links`."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    s = html.cast("string")
    a = F.regexp_extract(s, '<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1)
    b = F.regexp_extract(s, '<link[^>]*href="([^"]*)"[^>]*rel="canonical"', 1)
    return F.coalesce(F.nullif(a, F.lit("")), F.nullif(b, F.lit("")))


# C0 controls except \t \n \r, plus DEL — the byte class every web-text
# cleanup pass (C4 §2.2, CCNet) strips before anything else looks at the
# text. Kept in the Java∩RE2∩DuckDB common regex subset.
CONTROL_CHARS_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


@F.pandas_udf(T.StringType())
def nfc_normalize_udf(text: pd.Series) -> pd.Series:
    """Unicode NFC normalization (UAX #15 canonical composition) —
    the first step of every web-text cleaning pipeline: crawled pages
    mix composed and decomposed forms ("é" vs "e"+U+0301), and every
    downstream exact/near-dup hash, token count, and dictionary join
    silently misses unless the corpus is canonicalized first.

    Spark has no built-in normalizer, so this is the one legitimate
    Python hop: an Arrow-batched pandas UDF over the stdlib
    `unicodedata.normalize` table (version-pinned by the Python
    runtime, locale-free, byte-deterministic). Map-only — at 100 TB
    it's an embarrassingly parallel projection with zero shuffle; the
    cost is the per-codepoint table walk, amortized by Arrow batches.
    DuckDB's `nfc_normalize` implements the same UAX #15 algorithm,
    which is what makes a full value oracle possible."""
    import unicodedata  # noqa: PLC0415

    return text.map(
        lambda t: unicodedata.normalize("NFC", t) if t is not None else None
    )


def clean_text(text: "Column") -> "Column":
    """The standard pre-NFC byte scrub: strip C0 control characters
    (except tab/newline/CR) and DEL, then collapse whitespace runs and
    trim. Pure JVM `regexp_replace` chain — whole-stage codegen,
    map-only; compose as `nfc_normalize_udf(clean_text(col))` for the
    full C4-style cleanup."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    out = F.regexp_replace(text, CONTROL_CHARS_RE, "")
    return F.trim(F.regexp_replace(out, "\\s+", " "))


def extract_sitemap_urls(xml: "Column") -> "Column":
    """All <loc> entries of a sitemap.xml document as array<string> —
    the crawl-discovery feed that seeds the frontier alongside
    extracted links. Whitespace around the url is trimmed (the spec
    allows it); JVM regexp, map-only."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    locs = F.regexp_extract_all(xml.cast("string"), F.lit("<loc>([^<]*)</loc>"), 1)
    # NOT F.transform(locs, F.trim): trim's optional second parameter
    # (the trim-character set) would receive transform's index argument.
    return F.transform(locs, lambda c: F.trim(c))


def extract_title(html: "Column") -> "Column":
    """The document ``<title>`` text, whitespace-collapsed (NULL when
    absent or empty) — the head-metadata channel every search/curation
    pipeline reads first. Pure whole-stage codegen (same design rule
    as `extract_links`): dotall regexp + collapse, no Python."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    raw = F.regexp_extract(
        html.cast("string"), r"(?is)<title[^>]*>(.*?)</title>", 1
    )
    return F.nullif(F.trim(F.regexp_replace(raw, r"\s+", " ")), F.lit(""))


def extract_meta_content(html: "Column", name: str) -> "Column":
    """content of ``<meta name="NAME" content="...">`` (NULL when
    absent) — description, keywords, robots, generator… Attribute
    order is free in html, so two JVM regexps cover name-then-content
    and content-then-name, case-insensitive on the name (publishers
    write Description/ROBOTS freely); first match wins."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    s = html.cast("string")
    # the content capture must exclude only ITS OWN delimiter — a
    # [^"']* class would truncate "John's homepage" at the apostrophe —
    # so each attribute order gets a double- and a single-quoted form
    pats = [
        f'(?is)<meta[^>]*name\\s*=\\s*["\']{name}["\'][^>]*content\\s*=\\s*"([^"]*)"',
        f"(?is)<meta[^>]*name\\s*=\\s*[\"']{name}[\"'][^>]*content\\s*=\\s*'([^']*)'",
        f'(?is)<meta[^>]*content\\s*=\\s*"([^"]*)"[^>]*name\\s*=\\s*["\']{name}["\']',
        f"(?is)<meta[^>]*content\\s*=\\s*'([^']*)'[^>]*name\\s*=\\s*[\"']{name}[\"']",
    ]
    return F.coalesce(
        *[F.nullif(F.regexp_extract(s, pat, 1), F.lit("")) for pat in pats]
    )


def robots_noindex(html: "Column") -> "Column":
    """TRUE when a robots meta directive contains ``noindex`` or
    ``none`` — the page-level exclusion gate a curation pipeline must
    honor before a page's content enters any corpus (the in-page
    counterpart of `operators/crawl.py::robots_filter`'s fetch gate).
    Missing/other directives → FALSE, never NULL (a gate column)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    directive = F.lower(F.coalesce(extract_meta_content(html, "robots"), F.lit("")))
    return directive.rlike(r"(^|[\s,])(noindex|none)([\s,]|$)")


def page_metadata(
    pages: "DataFrame",
    url_col: str = "url",
    html_col: str = "html",
) -> "DataFrame":
    """(url, title, description, noindex) per page — the head-metadata
    record feeding search indexing and corpus admission. ENTIRELY
    whole-stage codegen: zero Python, zero shuffles, column-pruned to
    (url, html) at the scan; at 10^12 pages this is the cheapest
    extraction pass in the repo."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    h = F.col(html_col)
    return pages.select(
        F.col(url_col).alias("url"),
        extract_title(h).alias("title"),
        extract_meta_content(h, "description").alias("description"),
        robots_noindex(h).alias("noindex"),
    )


def _xml_tag_text(block: "Column", tag: str) -> "Column":
    """Text of the first <tag>…</tag> inside an XML block, CDATA
    wrapper stripped, whitespace-collapsed; NULL when absent/empty.
    Engine-portable dotall regexps, no XML parser needed for the
    line-of-business feed fields."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    raw = F.regexp_extract(block, f"(?is)<{tag}[^>]*>(.*?)</{tag}>", 1)
    raw = F.regexp_replace(raw, r"(?s)^\s*<!\[CDATA\[(.*)\]\]>\s*$", "$1")
    return F.nullif(F.trim(F.regexp_replace(raw, r"\s+", " ")), F.lit(""))


def feed_entries(
    feeds: "DataFrame",
    url_col: str = "feed_url",
    xml_col: str = "xml",
) -> "DataFrame":
    """(feed_url, title, link, published) per entry of an RSS 2.0 or
    Atom feed — the crawl-discovery channel next to sitemaps
    (`extract_sitemap_urls`): feeds announce NEW urls with timestamps,
    so a recrawl scheduler reads them before anything else.

    RSS ``<item>`` blocks yield title / link (element text) / pubDate;
    Atom ``<entry>`` blocks yield title / link@href (the attribute
    form) / updated. Both formats handled in one pass, CDATA unwrapped,
    document order preserved. ENTIRELY whole-stage codegen — block
    slicing and field extraction are nested JVM regexps over a
    transform lambda; zero Python, zero shuffles."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    spark = feeds.sparkSession
    n_parts = spark.sparkContext.defaultParallelism * 2
    feeds = feeds.repartition(n_parts)  # AQE over-coalesces text frames
    xml = F.col(xml_col).cast("string")
    blocks = F.concat(
        F.regexp_extract_all(xml, F.lit(r"(?is)<item[\s>].*?</item>"), 0),
        F.regexp_extract_all(xml, F.lit(r"(?is)<entry[\s>].*?</entry>"), 0),
    )

    def entry_of(b: "Column") -> "Column":
        # Atom entries carry several <link> forms (self / enclosure /
        # alternate); the ANNOUNCED page is rel="alternate" — prefer it
        # in both attribute orders, fall back to the first link href
        def _x(pat):
            return F.nullif(F.regexp_extract(b, pat, 1), F.lit(""))

        atom_href = F.coalesce(
            _x(r'(?is)<link[^>]*rel\s*=\s*["\']alternate["\'][^>]*href\s*=\s*["\']([^"\']*)'),
            _x(r'(?is)<link[^>]*href\s*=\s*["\']([^"\']*)["\'][^>]*rel\s*=\s*["\']alternate["\']'),
            _x(r'(?is)<link[^>]*href\s*=\s*["\']([^"\']*)'),
        )
        return F.struct(
            _xml_tag_text(b, "title").alias("title"),
            # RSS link element text wins; Atom link@href as fallback
            F.coalesce(_xml_tag_text(b, "link"), atom_href).alias("link"),
            F.coalesce(
                _xml_tag_text(b, "pubDate"), _xml_tag_text(b, "updated")
            ).alias("published"),
        )

    return feeds.select(
        F.col(url_col).alias("feed_url"),
        F.explode(F.transform(blocks, entry_of)).alias("e"),
    ).select("feed_url", "e.title", "e.link", "e.published")


def hearst_pairs(text: "Column") -> "Column":
    """Hearst-pattern hypernym pairs (Hearst, "Automatic Acquisition
    of Hyponyms from Large Text Corpora", COLING 1992) as
    array<struct<hyponym, hypernym, pattern>> — the lexico-syntactic
    is-a extraction channel that complements the structured-markup
    extractors (`operators/structured.py`): pages without JSON-LD /
    microdata still yield (x, skos:broader-ish, y) taxonomy edges from
    plain prose. WebIsADB (Seitner et al. LREC 2016) ran exactly this
    over Common Crawl for 400M is-a pairs.

    Three classic patterns, each a pure JVM ``regexp_extract_all``
    zip (extraction stays inside whole-stage codegen at 10^12 pages;
    the two group scans over ONE pattern are positionally aligned by
    construction, the `extract_anchors` design rule):

    * ``H such as X, Y and Z``      (hypernym first)
    * ``X, Y or other H``           (hypernym last)
    * ``H including X, Y``          (hypernym first)

    NP approximation = 1-2 word tokens (``[A-Za-z]\\w*``), the
    deterministic shallow-chunk stand-in every pattern-based system
    documents; noun-phrase boundaries beyond that are a tagger's job,
    not a regex's. Lists split on ``", "`` / ``",? and "`` /
    ``",? or "``; hyponyms/hypernyms come back trimmed, in document
    order, duplicates preserved (corpus-level confidence counting
    wants the multiset).
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    s = text.cast("string")
    # the 2nd NP word must not be a pattern connective — otherwise
    # "dogs and" parses as one NP and eats the list's and-clause
    NP = r"[A-Za-z]\w*(?: (?!(?:and|or|other|such|including)\b)[A-Za-z]\w*)?"
    LIST = rf"{NP}(?:, {NP})*(?:,? (?:and|or) {NP})?"
    SPLIT = r"(?:,? (?:and|or) )|(?:, )"

    def _pairs(pat: str, hyper_group: int, list_group: int, tag: str) -> "Column":
        lp = F.lit(pat)
        hypers = F.regexp_extract_all(s, lp, hyper_group)
        lists = F.regexp_extract_all(s, lp, list_group)
        return F.flatten(
            F.zip_with(
                hypers,
                lists,
                lambda h, l: F.transform(
                    F.split(l, SPLIT),
                    lambda x: F.struct(
                        F.trim(x).alias("hyponym"),
                        F.trim(h).alias("hypernym"),
                        F.lit(tag).alias("pattern"),
                    ),
                ),
            )
        )

    such_as = _pairs(rf"({NP}),? such as ({LIST})", 1, 2, "such_as")
    other = _pairs(rf"({NP}(?:, {NP})*?),? (?:and|or) other ({NP})", 2, 1, "other")
    including = _pairs(rf"({NP}),? including ({LIST})", 1, 2, "including")
    return F.concat(such_as, other, including)


# Curated public-suffix subset shipped as the default for `pld_of_hosts`
# (the Mozilla Public Suffix List is ~9k rules; production loads the
# full list into the same broadcast frame — the operator is rule-count
# agnostic). Multi-label entries are what make PLD extraction a JOIN
# problem rather than a "last two labels" regex.
DEFAULT_PUBLIC_SUFFIXES = [
    "com", "org", "net", "edu", "gov", "int", "mil", "io", "ai", "dev",
    "de", "fr", "no", "se", "nl", "it", "es", "eu", "ch", "at",
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "ac.jp",
    "com.br", "com.cn", "co.in", "co.kr", "co.nz",
]


def pld_of_hosts(
    hosts: "DataFrame", suffixes: "DataFrame | None" = None, host_col: str = "host"
) -> "DataFrame":
    """Pay-level domain (registrable domain) per host: the label
    immediately below the LONGEST matching public suffix — the
    aggregation key web-corpus curation actually groups by ("one
    source" in C4/RefinedWeb source-capping means a PLD, not a
    hostname: www.example.co.uk, cdn.example.co.uk and example.co.uk
    are all example.co.uk). The Web Data Commons extraction reports
    per-PLD for the same reason.

    Suffix matching is the Public Suffix List algorithm
    (publicsuffix.org/list): try every suffix of the host against the
    rule set, longest match wins, PLD = one label more; a host with
    NO matching rule falls back to the implicit ``*`` rule (last
    label is the suffix ⇒ PLD = last two labels); a host that IS a
    public suffix, or a single label, has no PLD (NULL).

    Scale shape: per host, the candidate suffixes are generated
    JVM-side (transform over a bounded label sequence — hosts have
    ≤ ~6 labels) and the rule set joins by BROADCAST (9k rules ≪
    anything); longest-match is a combinable max_by per host. The
    10^9-host frame is scanned once, shuffled once (the host groupBy
    — collapsible into any downstream per-host rollup that shares the
    key). Returns (host…, pld).
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    if suffixes is None:
        suffixes = hosts.sparkSession.createDataFrame(
            [(s,) for s in DEFAULT_PUBLIC_SUFFIXES], ["suffix"]
        )
    # rename FIRST in its own select — computing derived expressions in
    # the same projection that re-aliases `host` makes the analyzer
    # resolve them as lateral column aliases (internal error w/ explode)
    hosts = hosts.select(F.col(host_col).alias("host"))
    labels = F.split(F.col("host"), r"\.")
    n = F.size(labels)
    # candidate suffixes i = 1..n INCLUDING the whole host (i = n):
    # a host that IS a rule ("co.uk") must be recognized as its own
    # suffix, not fall back; prev is NULL there (guarded — ANSI mode
    # rejects element_at index 0)
    cands = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            F.array_join(F.slice(labels, n - i + 1, i), ".").alias("cand"),
            F.when(i < n, F.element_at(labels, n - i)).alias("prev"),
            i.alias("k"),
        ),
    )
    base = hosts.select(
        F.col("host"),
        n.alias("_n"),
        F.element_at(labels, -1).alias("_last1"),
        F.when(n >= 2, F.concat(F.element_at(labels, -2), F.lit("."), F.element_at(labels, -1))).alias("_last2"),
        F.explode_outer(cands).alias("c"),
    )
    matched = (
        base.join(F.broadcast(suffixes), base["c.cand"] == suffixes["suffix"], "left")
        .groupBy("host")
        .agg(
            F.max_by(
                F.when(F.col("suffix").isNotNull(), F.concat(F.col("c.prev"), F.lit("."), F.col("c.cand"))),
                F.when(F.col("suffix").isNotNull(), F.col("c.k")),
            ).alias("_matched"),
            # a host that IS a public suffix must yield NULL, not the
            # fallback: detect whole-host rule membership separately
            F.max(F.col("suffix").isNotNull() & (F.col("c.k") == F.col("_n"))).alias("_whole"),
            F.first("_n").alias("_n"),
            F.first("_last2").alias("_last2"),
        )
    )
    is_own_suffix = F.col("_matched").isNull() & F.col("_whole")
    return matched.select(
        "host",
        F.when(is_own_suffix | (F.col("_n") < 2), F.lit(None))
        .otherwise(F.coalesce(F.col("_matched"), F.col("_last2")))
        .alias("pld"),
    )


def textrank_keywords(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    iterations: int = 4,
    damping_pct: int = 85,
):
    """Corpus-level TextRank keyword extraction (Mihalcea & Tarau,
    EMNLP 2004): rank words by integer-micro-unit PageRank over the
    undirected word co-occurrence graph of ADJACENT tokens. The
    graph-based complement of the frequency statistics in this module
    (tf-idf weighs terms per doc, PMI scores pairs; TextRank scores a
    word by the importance of its neighborhood — hub words of the
    corpus's phrase structure). Returns (word, rank_micro).

    Shape at 10^12 pages: the token stream is corpus-sized but the
    WORD GRAPH is vocabulary-sized (distinct adjacent pairs), so the
    expensive part is one lead-window pass per doc partition + one
    distinct — everything after (the PageRank loop) runs on a frame
    ~10^6 rows regardless of corpus size. Same bit-exact integer
    `pagerank` as `kg_pagerank` (div micro-units, fixed iterations,
    sink truncation), so the DuckDB twin unrolls it exactly.
    """
    from pyspark.sql import Window

    from rdf_diff_store_spark.operators.graph import pagerank

    toks = docs.select(
        F.col(id_col).alias("_d"),
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "pos", "w"
        ),
    ).filter(F.length("w") > 0)
    nxt = F.lead("w").over(Window.partitionBy("_d").orderBy("pos"))
    bigrams = (
        toks.select("w", nxt.alias("x"))
        .filter(F.col("x").isNotNull() & (F.col("w") != F.col("x")))
        .select(F.least("w", "x").alias("a"), F.greatest("w", "x").alias("b"))
        .distinct()
    )
    edges = bigrams.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        bigrams.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    return pagerank(edges, iterations=iterations, damping_pct=damping_pct).select(
        F.col("node").alias("word"), "rank_micro"
    )
