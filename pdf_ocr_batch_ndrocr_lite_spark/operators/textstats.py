"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

Everything is built from pyspark.sql.functions (JVM-side, whole-stage
codegen) so each operator has an exact ANSI-SQL twin for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_frame, word_array

# Marker-word lists for the n-gram/stopword language heuristic.  Tiny by
# design: they broadcast as literals inside the regex, no dimension table.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein"],
    "es": ["el", "la", "de", "que", "y", "los", "para"],
}


def _sql_pat(pat: str) -> str:
    """Escape a regex for embedding in a Spark SQL string literal (Spark
    unescapes backslashes in '...' literals; DuckDB does not)."""
    return pat.replace("\\", "\\\\")


def _marker_count(words):
    pat = _sql_pat(r"\b(" + "|".join(words) + r")\b")
    # size(regexp_extract_all(...)) — supported by Spark and DuckDB alike;
    # explicit group 0 (Spark defaults to 1, DuckDB to 0).
    return F.size(F.expr(f"regexp_extract_all(lower(text), '{pat}', 0)"))


def lang_pred_col():
    """Language-ID prediction as a pure COLUMN expression (composable into
    a fused signal projection — see `curation.curation_verdict`)."""
    cjk_hits = F.size(F.expr(
        "regexp_extract_all(text, "
        "'[\\\\x{3040}-\\\\x{30FF}\\\\x{4E00}-\\\\x{9FFF}]', 0)"))
    counts = {lang: _marker_count(words)
              for lang, words in _LANG_MARKERS.items()}
    best = F.lit("unknown")
    best_n = F.lit(0)
    for lang in ["es", "de", "en"]:  # reverse priority; later wins ties
        n = counts[lang]
        best = F.when(n >= best_n, F.lit(lang)).otherwise(best)
        best_n = F.greatest(n, best_n)
    return F.when(cjk_hits * 4 >= F.length(F.col("text")), F.lit("cjk")) \
        .otherwise(F.when(best_n > 0, best).otherwise(F.lit("unknown")))


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: CJK script ratio first, else the marker-word
    class with the highest hit count (ties resolve by fixed order en>de>es;
    no hits → 'unknown')."""
    return docs.select(F.col("doc_id"), lang_pred_col().alias("lang_pred"))


def _quality(n_chars, n_words, n_stop):
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    mean_word_len = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    return (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.4
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), F.lit(0.2))
        .otherwise(F.lit(0.0))
    )


def quality_col(words):
    """Composite quality score as a pure COLUMN expression over the
    ``text`` column and ``words``, its word array staged in an earlier
    projection: every word-count reference is then ``size`` of a column,
    where an inline `word_array` would re-split the text per reference
    (an expression holding a lambda is never CSE'd)."""
    return _quality(F.length(F.col("text")), F.size(words),
                    _marker_count(_LANG_MARKERS["en"]))


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + composite
    score in [0,1].  Pure column arithmetic over a staged word array."""
    t = F.col("text")
    n_chars = F.length(t)
    n_words = F.size("words")
    n_punct = F.size(F.expr("regexp_extract_all(text, '[.,;:!?]', 0)"))
    n_stop = _marker_count(_LANG_MARKERS["en"])
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    return docs.select("doc_id", "text", word_array().alias("words")).select(
        F.col("doc_id"),
        n_chars.alias("n_chars_obs"),
        n_words.alias("n_words"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        # raw double, no round(): every term is the same IEEE op sequence in
        # the SQL oracle, so the unrounded value is bitwise-identical across
        # engines — round(double) is not (HALF_UP BigDecimal vs libm)
        _quality(n_chars, n_words, n_stop).alias("quality"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count plus a BPE-ish subword count (runs of letters,
    digits, or single non-space symbols — an upper-bound proxy for tokenizer
    load, computable engine-side at full scan speed)."""
    ws = F.size(word_array())
    bpe = F.size(F.expr(
        "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
    return docs.select(F.col("doc_id"), ws.alias("ws_tokens"),
                       bpe.alias("bpe_tokens"))


# Rolling-hash modulus: < 2^58 so acc*31 stays inside int64.
ROLLING_MOD = 288230376151711717
ROLLING_BASE = 31
ROLLING_INIT = 7


def rolling_hash(docs: DataFrame, prefix_chars: int = 256) -> DataFrame:
    """Polynomial rolling-hash document fingerprint over the first
    `prefix_chars` characters: h = fold((acc*31 + codepoint) % M, init=7).

    Left fold via F.aggregate — fixed op order, exact int64 arithmetic,
    bit-identical in any engine (DuckDB oracle uses list_reduce).

    The prefix is cut with ``substring`` BEFORE the per-char split: a
    split-then-slice formulation materializes a per-char array of the FULL
    text per row and keeps 256 — same result at ~1/1000th the allocation
    on book-length documents (the oracle's ``substring(text, 1, 256)`` is
    the same cut)."""
    chars = F.split(F.substring(F.col("text"), 1, prefix_chars), "")
    cps = F.transform(chars, lambda c: F.ascii(c).cast("bigint"))
    h = F.aggregate(
        cps, F.lit(ROLLING_INIT).cast("bigint"),
        lambda acc, c: (acc * ROLLING_BASE + c) % F.lit(ROLLING_MOD))
    return docs.select(F.col("doc_id"), h.alias("rhash"))


def fingerprint(docs: DataFrame, window: int = 5) -> DataFrame:
    """Winnowing-style document fingerprint (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — min-hash-of-shingles variant): the minimum hash over all
    `window`-word shingles — stable under content reordering at the margins
    and usable as a near-dup blocking key.

    The md5 hash is the engine-portable form with an exact DuckDB oracle
    twin.  Shingles come from `dedup.shingle_frame`'s staged word
    array, so building them is linear in the document's words; per
    shingle the cost is one join of `window` words plus one md5.  The
    scale lever is scan parallelism
    (at 100 TB the parquet scan has thousands of splits; a single-rowgroup
    local fixture must be repartitioned to see the same parallelism, see
    q20 in __spark_entry__)."""
    fp = F.array_min(F.transform("shingles", lambda s: F.md5(s)))
    return shingle_frame(docs, window, "doc_id").select(
        F.col("doc_id"), fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# Repetition quality filters (the Gopher rules family — Rae et al.,
# "Scaling Language Models: Methods, Analysis & Insights from Training
# Gopher", 2021, §A1.1: fraction of characters/tokens in the most common
# n-gram, fraction of duplicate n-grams/lines).  Boilerplate-heavy and
# spam pages score high and get filtered before training.
#
# Scale shape: ZERO shuffle.  All three counts are per-document facts, so
# they are computed inside one projection with array functions — sort the
# gram array and take the longest equal-run for the top count (equal
# elements are adjacent after any sort, so the run length IS the
# frequency).  The explode→groupBy(doc, gram) formulation this replaces
# shuffled one row per (doc, gram) — tens of millions of rows at sf0.1
# and a full-corpus shuffle at 100 TB, for values that never leave their
# row.
# ---------------------------------------------------------------------------


def _top_run_col(grams):
    """Longest run of equal adjacent grams in an already-SORTED gram
    array column = max frequency.  Fold state: (previous gram, current
    run length, best run length)."""
    return F.aggregate(
        grams,
        F.struct(F.lit("").alias("prev"), F.lit(0).cast("bigint").alias("run"),
                 F.lit(0).cast("bigint").alias("best")),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("bigint")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1).cast("bigint"))).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def top_gram_frac_col(grams_col):
    """Most-frequent-k-gram share over a STAGED sorted-gram column."""
    return _top_run_col(grams_col) / F.size(grams_col).cast("double")


def repetition_stats(docs: DataFrame, k: int = 2) -> DataFrame:
    """Per-document n-gram repetition signals: total/most-frequent/distinct
    k-gram counts plus the two standard fractions (single IEEE division
    each, so the DuckDB oracle reproduces them bit-exactly).

    top_gram_frac  = count(most frequent k-gram) / count(all k-grams)
    dup_gram_frac  = (n_grams - distinct_grams) / n_grams

    Docs with no grams yield no row, so the fractions are never NULL
    downstream (the curation cascade thresholds on them).  The guard is
    expressed as the EQUIVALENT cheap predicate ``text IS NOT NULL``
    applied BEFORE the gram projection: non-null text always yields ≥ 1
    gram (a short text collapses to one joined shingle), and a
    post-projection
    ``n_grams > 0`` filter would be predicate-pushed through the staged
    select, re-evaluating the whole HOF gram chain per row (lambdas are
    never CSE'd, SPARK-35410 — measured 4x on the q49 bench).
    """
    staged = shingle_frame(docs.filter(F.col("text").isNotNull()), k,
                           "doc_id").select(
        F.col("doc_id"), F.array_sort("shingles").alias("_g"))
    g = F.col("_g")
    return staged.select(
        F.col("doc_id"),
        F.size(g).cast("bigint").alias("n_grams"),
        _top_run_col(g).alias("top_gram_count"),
        F.size(F.array_distinct(g)).cast("bigint").alias("distinct_grams"),
    ).select(
        F.col("doc_id"), "n_grams", "top_gram_count", "distinct_grams",
        (F.col("top_gram_count") / F.col("n_grams").cast("double"))
        .alias("top_gram_frac"),
        ((F.col("n_grams") - F.col("distinct_grams"))
         / F.col("n_grams").cast("double")).alias("dup_gram_frac"),
    )


# ---------------------------------------------------------------------------
# Hashed bag-of-words linear classifier scoring — the INFERENCE step of the
# quality classifiers every large pretraining corpus pass runs (the
# GPT-3-style logistic-regression quality filter, Brown et al. 2020
# appendix A; the fastText-based DCLM/FineWeb-Edu filters): features are
# words hashed into D buckets, the model is a weight per bucket plus a
# bias, the verdict is a logit threshold.  Scoring a frozen model is pure
# arithmetic — one fused projection, zero shuffle, zero Python — so a
# 100 TB corpus scores at scan speed.
#
# Exactness discipline: weights are INTEGER TENTHS (the model is frozen
# at 0.1 resolution) and the logit is an exact BIGINT fold, so the oracle
# compares integers — no float summation order, no libm sigmoid drift
# (sigmoid is monotone: thresholding the logit IS thresholding the
# probability; callers that want the probability apply it downstream).
# ---------------------------------------------------------------------------


def hashed_bow_logit(docs: DataFrame, weights_tenths, bias_tenths: int = 0,
                     threshold_tenths: int = 0) -> DataFrame:
    """(id, logit_tenths, keep): logit_tenths = bias + Σ over words of
    weights[md5hash60(word) % D] (all integer tenths, exact BIGINT math);
    keep = logit_tenths > threshold_tenths.

    The weight vector is embedded as a Catalyst literal array (a frozen
    model of a few thousand buckets broadcasts inside the expression —
    no dimension-table join).  Word hashing reuses the engine-portable
    md5-15-hex trick (`sketches._hash60` semantics on the word string),
    so the exact same bucket assignment is reproducible in ANSI SQL."""
    from .sketches import _hash60  # the ONE engine-portable hash

    D = len(weights_tenths)
    if D == 0:
        # pmod-by-zero would surface as an opaque executor error deep in
        # the job; fail at the caller with intent, like the capacity /
        # chunk_tokens guards elsewhere
        raise ValueError("hashed_bow_logit needs a non-empty weight "
                         "vector (bucket count = len(weights_tenths))")
    w_lit = F.array(*[F.lit(int(v)).cast("bigint") for v in weights_tenths])
    # stage the word array in its own projection (SPARK-35410: HOF
    # expressions are never CSE'd); NULL text coalesces to "" so a
    # NULL-text doc scores the bare bias with a REAL keep verdict
    # (split(NULL) would otherwise propagate NULL logit/keep, silently
    # vanishing from any filter(keep) and diverging from the oracle's
    # COALESCE)
    staged = docs.select(
        F.col("doc_id"),
        word_array(F.coalesce(F.col("text"), F.lit(""))).alias("_ws"),
        w_lit.alias("_w"))
    bucket = lambda w: F.pmod(_hash60(w), F.lit(D))  # noqa: E731
    logit = (F.lit(int(bias_tenths)).cast("bigint")
             + F.aggregate(
                 F.transform(F.col("_ws"),
                             lambda w: F.element_at(F.col("_w"),
                                                    (bucket(w) + 1)
                                                    .cast("int"))),
                 F.lit(0).cast("bigint"), lambda acc, v: acc + v))
    return staged.select(
        F.col("doc_id"),
        logit.alias("logit_tenths"),
    ).withColumn("keep", F.col("logit_tenths")
                 > F.lit(int(threshold_tenths)).cast("bigint"))


def top_k_words(docs: DataFrame, k: int = 100) -> DataFrame:
    """(word, count, doc_freq): the corpus's k most frequent whitespace
    words with total occurrence count and document frequency — the
    vocabulary profile tokenizer training (BPE corpus prep), stopword
    derivation, and corpus QA start from.

    Scale shape: explode → one groupBy(word) computing BOTH aggregates
    in a single shuffle (the doc-frequency side pre-dedups (word, doc)
    pairs map-side via the partial distinct aggregate), then top-k as
    sort+limit — Spark plans TakeOrdered, keeping k rows per partition
    instead of a full corpus-vocabulary sort.  Ties order by word, so
    the cut is deterministic.  Counts are exact BIGINTs — no sketch, no
    float."""
    if k <= 0:
        raise ValueError(f"k must be positive: got {k}")
    words = docs.select(
        F.col("doc_id"),
        F.explode(word_array(F.coalesce(F.col("text"), F.lit(""))))
        .alias("word"))
    counts = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("count"),
        F.countDistinct(F.col("doc_id")).alias("doc_freq"))
    return counts.orderBy(F.col("count").desc(), F.col("word")).limit(k)
