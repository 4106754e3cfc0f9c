"""Training-data assembly operators: benchmark decontamination, sequence
packing, and deterministic stratified sampling (data mixing).

These are the steps BETWEEN curation and the dataloader in an LLM
pretraining pipeline (cf. Brown et al. 2020 appendix C decontamination;
Raffel et al. 2020 C4; the Dolma/FineWeb pipeline writeups): drop
documents that leak evaluation-benchmark content, assign documents to
fixed-token-budget training sequences, and hit per-stratum mixing ratios
reproducibly.  All-declarative (JVM-side) with exact integer outputs so
every operator has a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingle_frame, word_array

# ---------------------------------------------------------------------------
# Benchmark decontamination.  The benchmark side (eval suites) is SMALL —
# a few hundred thousand distinct shingles — so it broadcasts; the corpus
# side never shuffles its text: explode → broadcast-semi-join → combining
# per-doc count.  At 100 TB the only exchange is the per-doc hit count
# (map-side combinable, one int per (doc, map partition)).
# ---------------------------------------------------------------------------


def contamination_hits(docs: DataFrame, bench: DataFrame, k: int = 3,
                       min_overlap: int = 2) -> DataFrame:
    """(id, matched_shingles) for documents sharing at least
    ``min_overlap`` DISTINCT k-word shingles with any benchmark document.

    Per-doc shingle dedup is ROW-LOCAL (array_distinct before the
    explode — same shape as `shingle_document_frequency`); the benchmark
    shingle set is distinct-ed once and broadcast."""
    bsh = (shingle_frame(bench, k).select(
        F.explode(F.array_distinct("shingles")).alias("shingle"))
        .distinct())
    dsh = shingle_frame(docs, k, "doc_id").select(
        F.col("doc_id"),
        F.explode(F.array_distinct("shingles")).alias("shingle"))
    return (dsh.join(F.broadcast(bsh), "shingle", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("matched_shingles"))
            .filter(F.col("matched_shingles") >= min_overlap))


def benchmark_decontaminate(docs: DataFrame, bench: DataFrame, k: int = 3,
                            min_overlap: int = 2) -> DataFrame:
    """Corpus minus contaminated documents (anti-join on the hit frame)."""
    hits = contamination_hits(docs, bench, k, min_overlap)
    return docs.join(hits, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# FUZZY decontamination.  Exact whole-set overlap under-removes: benchmark
# items circulate partially quoted, re-tokenized, embedded in larger pages
# (the reason GPT-3's appendix C used 13-gram collision and FineWeb/Dolma
# ship fuzzy passes).  The metric is per-(doc, bench-item) CONTAINMENT:
#
#     containment(doc, bench) = |shingles(doc) ∩ shingles(bench)|
#                               / |shingles(bench)|
#
# Containment, not Jaccard, is the decontamination direction: a 200-word
# benchmark item quoted inside a 5,000-word web page has tiny Jaccard but
# containment ≈ 1 — exactly the leak to drop.  For the same reason,
# minhash-LSH candidate generation is provably the WRONG filter here:
# minhash bands approximate JACCARD, so the embedded-leak case almost
# never band-collides (measured: an item embedded in 8× filler produced
# zero band collisions at 4 hashes × 2 bands while its containment was
# 1.0).  Candidate generation is therefore the GPT-3 shape — exact
# k-gram collision against the benchmark shingle set — which cannot miss
# any pair with containment > 0.
#
# 100-TB shape: the bench side (an eval suite) is small by construction
# → its distinct (bench_id, shingle) set broadcasts, so the corpus scan
# never shuffles its text; per-pair hit counting is one map-side-
# combinable groupBy on (doc, bench) ids.  The skew guard is
# ``max_bench_df``: a shingle present in more than that many bench items
# (ubiquitous phrasing — "which of the following") carries no signal and
# would fan every corpus row out across the whole suite; it is dropped
# from BOTH the numerator and the denominator (containment is then over
# informative shingles, the same kept-set discipline as
# ngram_jaccard_pairs' DF cap).
# ---------------------------------------------------------------------------


def bench_shingle_index(bench: DataFrame, k: int = 5,
                        max_bench_df: int | None = None) -> DataFrame:
    """Distinct (bench_id, shingle) index for a benchmark suite, with
    the ubiquity cap applied."""
    bsh = shingle_frame(bench, k, F.col("doc_id").alias("bench_id")).select(
        F.col("bench_id"),
        F.explode(F.array_distinct("shingles")).alias("shingle")).distinct()
    if max_bench_df is not None:
        keep = (bsh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_bench_df)
                .select("shingle"))
        bsh = bsh.join(F.broadcast(keep), "shingle", "left_semi")
    return bsh


def fuzzy_contamination_pairs(docs: DataFrame, bench: DataFrame,
                              k: int = 5,
                              containment_threshold: float = 0.5,
                              max_bench_df: int | None = None
                              ) -> DataFrame:
    """(doc_id, bench_id, containment) for corpus docs containing at
    least ``containment_threshold`` of some benchmark item's k-gram
    shingles.  The containment division is a single IEEE op (oracle
    contract)."""
    bsh = bench_shingle_index(bench, k, max_bench_df)
    dsh = shingle_frame(docs, k, "doc_id").select(
        F.col("doc_id"),
        F.explode(F.array_distinct("shingles")).alias("shingle"))
    bsizes = bsh.groupBy("bench_id").agg(F.count(F.lit(1)).alias("_bn"))
    inter = (dsh.join(F.broadcast(bsh), "shingle")
             .groupBy("doc_id", "bench_id")
             .agg(F.count(F.lit(1)).alias("_c")))
    return (inter.join(F.broadcast(bsizes), "bench_id")
            .select(F.col("doc_id"), F.col("bench_id"),
                    (F.col("_c").cast("double") / F.col("_bn"))
                    .alias("containment"))
            .filter(F.col("containment") >= containment_threshold))


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chunk assignment of documents to
# fixed-token-budget training sequences, per shard.  The window is
# PARTITIONED (by the shard key) — packing is per-shard in every real
# dataloader, which is exactly what keeps the cumulative sum parallel: one
# exchange on the shard key, never a global single-partition sort.
#
# PARALLELISM CONTRACT: the window gives one task chain per distinct shard
# value, so parallelism == shard-key cardinality.  A coarse key like a bare
# language column would sort half the corpus in ONE task at 100 TB; the
# default therefore composites the caller's shard_col with an md5(id)
# bucket (engine-portable hash, same trick as stratified_sample), giving
# shard_col-cardinality × shard_buckets window partitions.  Pass
# shard_buckets=None only when shard_col is already file/shard-grained
# (thousands of values).
# ---------------------------------------------------------------------------


def pack_sequences(docs: DataFrame, capacity: int,
                   shard_col: str = "lang",
                   shard_buckets: int | None = 64) -> DataFrame:
    """(id, shard, n_tokens, bin_id, bin_offset): each document starts at
    the running-token offset of its shard's concat stream; ``bin_id`` is
    the training sequence its FIRST token lands in (greedy
    concat-then-chunk — documents may straddle bins, like a pretraining
    packer that splits documents across context windows).

    ``shard_buckets`` (default 64) composites the shard key to
    ``<shard_col>#<md5(id) % shard_buckets>`` — see the parallelism
    contract in the module comment; ``None`` uses `shard_col` alone.

    BEHAVIOR-CHANGE NOTE (round 5): the default moved from ``None`` to
    64 as a deliberate parallelism fix — a bare per-lang shard sorts a
    whole language in ONE task.  Under the default, ``shard`` values and
    bin assignments differ from the old per-lang packing (packing is
    per-(lang, bucket)); downstream consumers that depended on the old
    shard semantics must pin ``shard_buckets=None`` explicitly."""
    if capacity <= 0:
        raise ValueError(f"capacity must be positive: got {capacity}")
    tokens = F.size(word_array()).cast("bigint")
    if shard_buckets is None:
        shard = F.col(shard_col).cast("string")
    else:
        from .sketches import _hash60  # the ONE engine-portable hash
        bucket = F.pmod(_hash60(F.col("doc_id")), F.lit(shard_buckets))
        shard = F.concat(F.col(shard_col).cast("string"), F.lit("#"),
                         bucket.cast("string"))
    toked = docs.select(F.col("doc_id"), shard.alias("shard"),
                        tokens.alias("n_tokens"))
    cum_before = F.coalesce(
        F.sum("n_tokens").over(
            Window.partitionBy("shard").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("bigint"))
    return toked.select(
        F.col("doc_id"), F.col("shard"), F.col("n_tokens"),
        F.floor(cum_before / F.lit(capacity)).alias("bin_id"),
        F.pmod(cum_before, F.lit(capacity)).alias("bin_offset"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (data mixing).  Mixing ratios per
# stratum (lang/source/quality band) are hit REPRODUCIBLY by hashing the
# document id into 10,000 buckets and keeping the first `rate * 10000` —
# no RNG, no sampleBy non-determinism, re-runs and backfills select the
# exact same documents.  Pure map stage: zero shuffle.
# ---------------------------------------------------------------------------

_MIX_BUCKETS = 10_000


def stratified_sample(docs: DataFrame, rates: dict,
                      stratum_col: str = "lang",
                      default_rate: float = 0.0) -> DataFrame:
    """Keep ``rates[stratum]`` of each stratum (permille-exact), chosen by
    md5(id) bucket — engine-portable (the DuckDB oracle reproduces the
    exact member set, not just the rate)."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
               16, 10).cast("bigint"),
        F.lit(_MIX_BUCKETS))
    threshold = F.lit(int(default_rate * _MIX_BUCKETS))
    for stratum, rate in sorted(rates.items()):
        threshold = F.when(F.col(stratum_col) == stratum,
                           F.lit(int(rate * _MIX_BUCKETS))) \
            .otherwise(threshold)
    return docs.filter(bucket < threshold)


def temperature_rates(docs: DataFrame, alpha: float = 0.5,
                      target_frac: float = 0.5) -> dict:
    """Per-stratum keep rates for temperature-resampled mixing — the
    multilingual alpha-sampling of XLM-R/mT5: a stratum with corpus
    share p_l gets target mass q_l ∝ p_l^alpha (alpha < 1 upsamples the
    tail languages relative to their share), scaled so the expected
    kept volume is ``target_frac`` of the corpus, capped at keeping a
    stratum wholesale.

    Driver-side arithmetic over the exact integer stratum counts (one
    combining count agg — the only job), in a FIXED order so the rates
    are engine-reproducible: powers via math.sqrt when alpha == 0.5
    (sqrt is correctly-rounded IEEE everywhere; a general libm pow()
    is not), the normalizer accumulated left-to-right over strata
    sorted by value, and the rate expression evaluated as
    ``((target_frac * q_l) * N) / n_l``.  The q73 oracle replays every
    one of those ops in the same order.

    Feed the result straight to :func:`stratified_sample` (or use
    :func:`temperature_sample`)."""
    import math

    counts = {r["lang"]: r["n"] for r in
              docs.groupBy("lang")
              .agg(F.count(F.lit(1)).alias("n")).collect()
              if r["lang"] is not None}
    total = sum(counts.values())
    if not total:
        return {}
    powered = {}
    for stratum in sorted(counts):
        p = counts[stratum] / total
        powered[stratum] = math.sqrt(p) if alpha == 0.5 else p ** alpha
    denom = 0.0
    for stratum in sorted(powered):
        denom = denom + powered[stratum]
    rates = {}
    for stratum in sorted(counts):
        q = powered[stratum] / denom
        r = ((target_frac * q) * total) / counts[stratum]
        rates[stratum] = min(1.0, r)
    return rates


def temperature_sample(docs: DataFrame, alpha: float = 0.5,
                       target_frac: float = 0.5) -> DataFrame:
    """Temperature-resampled corpus: compute the alpha-sampling rates
    from this corpus's own stratum counts, then draw the deterministic
    md5-bucket sample.  Two jobs total: the count agg + the zero-shuffle
    filter scan."""
    rates = temperature_rates(docs, alpha, target_frac)
    return stratified_sample(docs, rates, default_rate=0.0)


def stratified_exact_k(docs: DataFrame, k: int,
                       salt_partitions: int = 32,
                       candidate_factor: int = 8) -> DataFrame:
    """Exactly min(k, |stratum|) documents per stratum, chosen by
    md5(id) hash order — a deterministic uniform draw (held-out eval-set
    carving, per-stratum spot-check samples) reproducible across engines
    and runs, unlike rate-based `stratified_sample` which cannot promise
    an exact count.  Returns (stratum, id).

    Aggregation state is BOUNDED by a candidate prefilter, not by
    stratum size: `collect_list` buffers a whole cell before the
    sort+slice, so feeding it raw (stratum, salt) cells would hold
    O(|stratum| / salt_partitions) structs in one aggregation state — a
    1B-doc stratum ≈ 30M structs per task at the default salt.  Instead:

    1. per-stratum row counts n (combining agg, broadcast back);
    2. keep rows with hash below T = (candidate_factor·k + 64) / n of
       the hash space — the k-th order statistic of n uniform hashes
       falls below T except with exp(-Θ(candidate_factor·k))
       probability, so the expected candidate set is O(candidate_factor
       · k) per stratum, independent of |stratum|;
    3. exactness guard (NOT probabilistic): strata whose surviving
       candidate count fell below min(k, n) — possible only in that
       vanishing tail — are re-included wholesale, so the result is
       always exactly the global min(k, n) smallest hashes;
    4. the surviving candidates run the original two-phase salted min-k
       (the KMV shape, `sketches.kmv_distinct`), never a stratum-wide
       window sort.

    Cost: the narrow (stratum, id) projection is scanned up to five
    times (the per-stratum count feeds two broadcast sides, plus the
    survivor count and the candidate passes) — column-pruned two-column
    reads, all joins broadcast (plan-audited: 0 sort-merge joins, 0
    windows) — in exchange for per-task state that no longer scales
    with the largest stratum."""
    from .sketches import _HASH_SPACE, _hash60

    m = candidate_factor * k + 64
    # joins below run on eqNullSafe: a NULL stratum (undetected language)
    # is a legitimate stratum — plain equality would silently drop every
    # NULL-stratum row from the sample (groupBy already treats NULL as a
    # key; the joins must agree)
    hashed = docs.select(
        F.col("lang"), F.col("doc_id"),
        _hash60(F.col("doc_id")).alias("_h"))
    thr = (hashed.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("_n"))
           .select(
               F.col("lang").alias("_ts"), "_n",
               F.when(F.col("_n") <= F.lit(m),
                      F.lit(int(_HASH_SPACE)).cast("bigint"))
               .otherwise((F.lit(float(m)) / F.col("_n")
                           * F.lit(_HASH_SPACE)).cast("bigint"))
               .alias("_t")))
    surv = (hashed.join(F.broadcast(thr),
                        F.col("lang").eqNullSafe(F.col("_ts")))
            .filter(F.col("_h") < F.col("_t"))
            .groupBy("lang").agg(F.count(F.lit(1)).alias("_sn")))
    under = (thr.join(surv,
                      F.col("_ts").eqNullSafe(F.col("lang")), "left")
             .filter(F.coalesce(F.col("_sn"), F.lit(0))
                     < F.least(F.lit(k).cast("bigint"), F.col("_n")))
             .select(F.col("_ts").alias("_us"),
                     F.lit(True).alias("_all")))
    cand = (hashed.join(F.broadcast(thr),
                        F.col("lang").eqNullSafe(F.col("_ts")))
            .join(F.broadcast(under),
                  F.col("lang").eqNullSafe(F.col("_us")), "left")
            .filter((F.col("_h") < F.col("_t"))
                    | F.col("_all").isNotNull())
            .select("lang", "doc_id", "_h"))
    salt = F.pmod(F.col("_h"), F.lit(salt_partitions)).alias("_salt")
    partial = cand.groupBy("lang", salt).agg(
        F.slice(F.sort_array(F.collect_list(
            F.struct(F.col("_h"), F.col("doc_id")))), 1, k).alias("_cell"))
    merged = partial.groupBy("lang").agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("_cell"))), 1, k)
        .alias("_top"))
    return (merged.select(F.col("lang"),
                          F.explode("_top").alias("_s"))
            .select("lang", F.col("_s.doc_id").alias("doc_id")))


# ---------------------------------------------------------------------------
# Document chunking: fixed-token windows with overlap — the splitter that
# feeds RAG indexes and long-document pretraining (cf. the context-window
# chunkers in retrieval pipelines; `pack_sequences` ASSIGNS whole docs to
# bins, this SPLITS a doc's token stream).  Entirely row-local: one word
# split + one windows transform + one posexplode, zero shuffle — a 100 TB
# corpus chunks at scan speed, parallelism = input splits.
# ---------------------------------------------------------------------------


def chunk_documents(docs: DataFrame, chunk_tokens: int = 512,
                    overlap_tokens: int = 0) -> DataFrame:
    """(id, chunk_id, chunk_text, n_tokens): consecutive token windows of
    `chunk_tokens` words at stride `chunk_tokens - overlap_tokens`; the
    final window may be shorter (it keeps the tail, never pads).  Docs
    with zero words (empty or NULL text) yield no chunks — the chunker
    feeds an index/dataloader, and an empty chunk row is never wanted
    there (unlike the curation verdict, where every doc needs a row).

    Integer arithmetic only (window count via ceil-division in BIGINT),
    so the DuckDB oracle reproduces the exact chunk set."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive: {chunk_tokens}")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            f"overlap_tokens must be in [0, chunk_tokens): {overlap_tokens}")
    stride = chunk_tokens - overlap_tokens
    staged = docs.select(
        F.col("doc_id"),
        word_array(F.coalesce(F.col("text"), F.lit(""))).alias("_ws"))
    n = F.size("_ws")
    # ceil((n - chunk) / stride) + 1 via integer floor-div; 1 when n <= chunk
    n_chunks = F.when(
        n <= F.lit(chunk_tokens), F.lit(1).cast("bigint")).otherwise(
        F.floor((n - F.lit(chunk_tokens) + F.lit(stride - 1))
                / F.lit(stride)).cast("bigint") + F.lit(1))
    windows = F.transform(
        F.sequence(F.lit(0).cast("bigint"), n_chunks - 1),
        lambda i: F.struct(
            F.slice(F.col("_ws"), (i * stride + 1).cast("int"),
                    chunk_tokens).alias("w")))
    return (staged.filter(n > 0)
            .select(F.col("doc_id"), F.posexplode(windows)
                    .alias("chunk_id", "_c"))
            .select(F.col("doc_id"), F.col("chunk_id").cast("int"),
                    F.array_join(F.col("_c.w"), " ").alias("chunk_text"),
                    F.size(F.col("_c.w")).cast("bigint").alias("n_tokens")))


def training_shards(docs: DataFrame, n_shards: int,
                    seed: str = "0") -> DataFrame:
    """(id, shard, pos): deterministic seeded training order — the final
    pre-training step that shuffles the curated corpus and splits it
    into shard files.  shard = hash(seed:id) mod n_shards (size-balanced
    in expectation, NO global sort or range partitioner needed); pos =
    rank within the shard by (hash, id) — so concatenating shards in
    pos order is a uniform seeded permutation of the corpus.  Changing
    ``seed`` produces an independent reshuffle; re-runs and backfills
    reproduce the exact same order.

    Scale shape: one window per shard key — parallelism = n_shards (pick
    shards ≫ cores, as training sharding already does), each shard sorts
    |corpus|/n_shards rows; nothing ever sorts globally.  The
    engine-portable md5 hash keeps the permutation reproducible in ANSI
    SQL (the q75 oracle replays it exactly)."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive: got {n_shards}")
    from .sketches import _hash60  # the ONE engine-portable hash

    h = _hash60(F.concat(F.lit(f"{seed}:"),
                         F.col("doc_id").cast("string")))
    keyed = docs.select(F.col("doc_id"), h.alias("_h"),
                        F.pmod(h, F.lit(n_shards)).cast("int")
                        .alias("shard"))
    w = Window.partitionBy("shard").orderBy("_h", "doc_id")
    return (keyed.withColumn("pos", F.row_number().over(w) - 1)
            .select("doc_id", "shard", "pos"))


# ---------------------------------------------------------------------------
# Span-level decontamination (the GPT-3 appendix-C "remove a window around
# the collision" shape): instead of DROPPING a lightly-contaminated
# document, locate the leaked word ranges.  A 5,000-word page quoting one
# benchmark item leaks ~200 words, not the whole page — at corpus scale
# cutting the span instead of the page is real yield.
#
# Mechanics (all JVM-side): positional shingles (posexplode) collide
# against the capped bench shingle set; colliding shingle p covers words
# [p, p+k-1] (± `pad` context words); covered indices merge into maximal
# spans by gaps-and-islands (widx − row_number constant within an
# island).
# ---------------------------------------------------------------------------


def contaminated_spans(docs: DataFrame, bench: DataFrame, k: int = 5,
                       pad: int = 0,
                       max_bench_df: int | None = None) -> DataFrame:
    """(doc_id, span_start, span_end, span_words): maximal 0-based word
    ranges (inclusive) covered by benchmark-colliding k-gram shingles,
    each expanded by ``pad`` context words and clamped to the document."""
    bsh = bench_shingle_index(bench, k, max_bench_df) \
        .select("shingle").distinct()
    # positional shingles: pos p covers words [p, p+k-1]
    psh = shingle_frame(docs, k, "doc_id").select(
        F.col("doc_id"), F.size("words").alias("_nw"),
        F.posexplode_outer("shingles").alias("_p", "shingle"))
    hits = psh.join(F.broadcast(bsh), "shingle", "left_semi")
    # clamp-then-guard: on a zero-word document (whitespace-only text
    # yields _nw=0 with one degenerate '' shingle) the clamped end is
    # -1 and F.sequence(0, -1) would generate a DESCENDING [0, -1] —
    # bogus negative spans; the SQL oracle's range() is simply empty
    # there, so an empty clamped range must drop the row entirely
    _start = F.greatest(F.col("_p") - pad, F.lit(0))
    _end = F.least(F.col("_p") + k - 1 + pad, F.col("_nw") - 1)
    covered = (hits.filter(_start <= _end)
               .select(F.col("doc_id"),
                       F.explode(F.sequence(_start, _end)).alias("widx"))
               .distinct())
    w = Window.partitionBy("doc_id").orderBy("widx")
    grouped = covered.withColumn(
        "_grp", F.col("widx") - F.row_number().over(w))
    return (grouped.groupBy("doc_id", "_grp")
            .agg(F.min("widx").alias("span_start"),
                 F.max("widx").alias("span_end"))
            .select(F.col("doc_id"), "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + 1)
                    .alias("span_words")))
