"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline over sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data-pipeline operators (dedup, similarity,
text analysis, multimodal plumbing); oracles are ANSI SQL for DuckDB over
the same parquet tables.

Float discipline for value-hash parity: double sums go through
DECIMAL(18,2) (exact, order-independent) in BOTH engines; single IEEE
divisions are bitwise-identical across engines; ANN queries emit integer
(id, rank) pairs only.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the engine package lives next to this file; make the import robust to the
# caller's cwd / import mechanism
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# q24's oracle: committed expected-output fixture for the flagship
# extraction at sf0.01 (absolute path so the DuckDB side is cwd-independent;
# regenerated by tests/tools/gen_extraction_fixture.py only after the full
# reference-parity suite is green)
_EXTRACTION_FIXTURE = os.path.join(
    _REPO, "tests", "fixtures", "extraction_expected_sf001.parquet")

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.operators import (
    asof as ao,
    curation as cu,
    dedup as dd,
    multimodal as mm,
    rangejoin as rj,
    similarity as sim,
    sketches as sk,
    textstats as ts,
)
from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as ex
from pdf_ocr_batch_ndrocr_lite_spark.operators.barrier import materialize


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# entry: flagship query (smoke check at sf0.001)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Wrap sf0.001 documents as Common-Crawl-style pages and run the full
    extraction pipeline (name-rule filter → salted repartition → vectorized
    dispatcher)."""
    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    pages = docs.select(
        F.concat(F.lit("https://example.org/doc/"), F.col("doc_id"))
        .alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body><nav><a href='/x'>nav</a></nav>"
                           "<div id='main'><p>"),
                     F.col("text"), F.lit("</p></div></body></html>")),
            "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    return ex.run_extraction(pages)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def _q01_pricing_rollup(spark, sf_dir):
    """A1 conditional-aggregation counters (TPC-H Q1 shape)."""
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2).cast("double")
            .alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double")
            .alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .alias("n_returned"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q02_name_rule_filter(spark, sf_dir):
    """F2 name-rule RLike skip filter (app.py:87,1306-1313) over a corpus
    column: negative regex filter + per-lang counts."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.filter(~F.col("source").rlike(r"_ocr(_\d{3,})?$"))
        .filter(F.col("text").rlike(r"\bspark\b"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


def _q03_threshold_filter(spark, sf_dir):
    """F3 text-layer threshold predicate analogue (cumulative chars>=10)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(F.col("n_chars") >= 100, 1).otherwise(0))
            .alias("has_text"),
            F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0))
            .alias("needs_ocr"),
        )
        .orderBy("lang")
    )


def _q04_first_wins_dedup(spark, sf_dir):
    """A3 first-wins dedup via row_number window (app.py:1705-1725)."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    )


def _q05_anti_join_resume(spark, sf_dir):
    """Checkpoint-resume left-anti join shape (S10/idempotency)."""
    cust = _read(spark, sf_dir, "customer")
    big = _read(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


def _q06_broadcast_dim_join(spark, sf_dir):
    """Broadcast dimension join (J2 page-zip analogue): lineitem ⋈ part."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("revenue"),
        )
        .orderBy("p_brand")
    )


def _q07_corpus_sort(spark, sf_dir):
    """O1 deterministic corpus ordering: lower(key) sort + limit."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "source", F.lower(F.col("source")).alias("lsrc"))
        .orderBy("lsrc", "doc_id")
        .limit(20)
    )


def _q08_regex_extract(spark, sf_dir):
    """T9 regex field extraction (page-number pattern analogue) on JSON-ish
    props."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("int")
        .alias("k_val"),
    ).orderBy("event_id")


def _q09_split_stats(spark, sf_dir):
    """A8 whitespace split stats: word count, first/last word."""
    docs = _read(spark, sf_dir, "documents")
    words = dd.word_array()
    return docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
    ).orderBy("doc_id")


def _q10_rollup_lineage(spark, sf_dir):
    """S9 lineage metrics rollup: 2-level hierarchy via ROLLUP."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.rollup("lang")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.sum("n_chars").alias("chars"))
        .orderBy(F.col("lang").asc_nulls_first())
    )


def _q11_dedup_exact(spark, sf_dir):
    """Exact dedup by content digest (hash-groupBy) on a 40-char prefix."""
    docs = _read(spark, sf_dir, "documents")
    pref = docs.select("doc_id",
                       F.substring(F.col("text"), 1, 40).alias("text"))
    return dd.exact_duplicates(pref).orderBy("text_md5")


def _q12_minhash_signatures(spark, sf_dir):
    """MinHash signatures (4 hashes, 3-word shingles) for doc_id < 200."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dd.minhash_signatures(docs, num_hashes=4, k=3).orderBy("doc_id")


def _q13_jaccard_pairs(spark, sf_dir):
    """N-gram Jaccard near-dup pairs over doc_id < 120."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    # raw double: single IEEE division of the same ints is bitwise-identical
    # across engines, unlike round(double) whose algorithm differs
    return (
        dd.ngram_jaccard_pairs(docs, k=2, threshold=0.05, max_df=60)
        .select("a_id", "b_id", "n_common", "jaccard")
        .orderBy("a_id", "b_id")
    )


def _q14_simhash(spark, sf_dir):
    """SimHash 60-bit fingerprints (md5-derived word hash — exact DuckDB
    oracle twin)."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dd.simhash(docs).orderBy("doc_id")


def _query_vec(spark, sf_dir):
    row = (_read(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") == 0).select("embedding").collect())
    return [float(v) for v in row[0][0]]


def _q15_ann_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs vec 0 (integer id/rank output)."""
    emb = _read(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    top = sim.brute_force_topk(emb, q, k=10)
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)) \
        .select("vec_id", "rank").orderBy("rank")


def _q16_ann_topk_bucket(spark, sf_dir):
    """Bucketed (IVF-style) top-3 per label vs vec 0."""
    emb = _read(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    return sim.topk_per_bucket(emb, q, k=3, bucket_col="label") \
        .select("label", "vec_id", "rank").orderBy("label", "rank")


def _q17_lang_id(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return (
        ts.lang_id(docs)
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_pred")
    )


def _q18_quality_score(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return ts.quality_score(docs).orderBy("doc_id")


def _q19_token_counts(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return ts.token_counts(docs).orderBy("doc_id")


def _q20_fingerprint(spark, sf_dir):
    # The sf fixture is a single parquet rowgroup → one scan split; at real
    # scale the scan itself is parallel, so restore that parallelism
    # explicitly before the shingle-heavy projection (values unchanged —
    # round-1 bench ran this query 20x slower on one core).
    docs = _read(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    return ts.fingerprint(docs, window=5).orderBy("doc_id")


def _q21_media_summary(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return mm.media_summary(mm.attach_media(docs)).orderBy("kind")


def _q22_media_features(spark, sf_dir):
    """Multimodal decode plumbing: the stub derives everything from md5 of
    the payload, so the whole Python stage has an exact DuckDB twin."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    feats = mm.media_features(mm.attach_media(docs))
    return feats.select("media_id", "kind", "n_bytes", "digest", "n_frames") \
        .orderBy("media_id")


def _q23_events_window(spark, sf_dir):
    """Tumbling-hour windowed aggregation (streaming-shape over batch)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                   "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double").alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


def _q24_extraction_pipeline(spark, sf_dir):
    """Flagship extraction over documents-as-pages (non-SQL; rows check)."""
    docs = _read(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://example.org/doc/"), F.col("doc_id"))
        .alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body><nav><a href='/x'>n</a></nav>"
                           "<div id='main'><p>"),
                     F.col("text"), F.lit("</p></div></body></html>")),
            "utf-8").alias("html"),
        F.col("text"), F.col("lang"),
    )
    res = ex.run_extraction(pages)
    return res.select("url", "action", "extracted_text").orderBy("url")


def _q25_priority_merge(spark, sf_dir):
    """A7 format-priority merge shape: first non-empty wins via COALESCE
    (JSON > XML > TXT analogue, app.py:1662-1687)."""
    docs = _read(spark, sf_dir, "documents")
    a = F.when(F.col("n_chars") >= 300, F.col("source"))  # "structured" hit
    b = F.when(F.col("n_chars") >= 150, F.concat(F.lit("xml:"),
                                                 F.col("lang")))
    c = F.lit("txt:fallback")
    return docs.select(
        "doc_id",
        F.coalesce(a, b, c).alias("merged_source"),
    ).orderBy("doc_id")


def _q26_posexplode(spark, sf_dir):
    """A8 TXT page-splitting shape: split + posexplode with positions
    (app.py:1790-1823)."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    words = dd.word_array()
    return (
        docs.select("doc_id", F.posexplode(words).alias("pos", "word"))
        .filter(F.col("pos") < 5)
        .orderBy("doc_id", "pos")
    )


def _q27_sessionization(spark, sf_dir):
    """Streaming-shaped sessionization over batch: 30-min-gap sessions per
    user via lag window + running sum."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    with_new = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = with_new.withColumn(
        "session_id", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"),
             F.max("n_events").alias("max_session_events"))
        .orderBy("user_id")
    )


def _q28_cube_metrics(spark, sf_dir):
    """Metrics reporting over CUBE(lang, source) — grouping-set rollups for
    the lineage dashboard (SURVEY §2.4 'rollup available')."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.sum("n_chars").alias("chars"))
        .orderBy(F.col("lang").asc_nulls_first(),
                 F.col("source").asc_nulls_first())
    )


def _q29_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs within coarse (label) buckets —
    the IVF-style scale path; integer pair output for exact hashing."""
    emb = _read(spark, sf_dir, "embeddings")
    emb = emb.withColumn(
        "embedding", F.transform(F.col("embedding"),
                                 lambda x: x.cast("double")))
    pairs = dd.embedding_near_dup_pairs(emb, threshold=0.35)
    return pairs.select("a_id", "b_id").orderBy("a_id", "b_id")


def _q30_lsh_candidates(spark, sf_dir):
    """MinHash banded-LSH candidate pairs (2 bands x 2 rows, 3-shingles)."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dd.minhash_lsh_candidates(docs, num_hashes=4, bands=2, k=3) \
        .orderBy("a_id", "b_id")


def _synth_urls(spark, sf_dir):
    """Deterministic messy urls over documents (the table has no url col);
    built identically in the SQL oracle."""
    docs = _read(spark, sf_dir, "documents")
    suffix = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("?utm_source=feed&id="), F.col("doc_id")))
        .when(F.col("doc_id") % 5 == 1, F.lit("?id=1&utm_campaign=x"))
        .when(F.col("doc_id") % 5 == 2, F.lit("#section-2"))
        .when(F.col("doc_id") % 5 == 3, F.lit("/"))
        .otherwise(F.lit(""))
    )
    url = F.concat(F.lit("HTTPS://WWW."), F.col("source"),
                   F.lit(".Example.ORG/p/"), F.col("doc_id"), suffix)
    return docs.select("doc_id", url.alias("url"))


def _q31_url_canonicalize(spark, sf_dir):
    """URL canonicalization: scheme/host case-fold, fragment + tracking-param
    strip, trailing cleanup — the dedup pre-key for crawl corpora."""
    urls = _synth_urls(spark, sf_dir)
    return urls.select(
        "doc_id",
        cu.canonicalize_url(F.col("url")).alias("canon_url"),
        cu.extract_domain(F.col("url")).alias("domain"),
    ).orderBy("doc_id")


def _q32_domain_cap(spark, sf_dir):
    """Per-domain document cap (source-diversity curation)."""
    urls = _synth_urls(spark, sf_dir)
    # spread over 10 synthetic domains so the cap actually filters
    urls = urls.withColumn(
        "url",
        F.concat(F.lit("https://d"), (F.col("doc_id") % 10),
                 F.lit(".example.org/p/"), F.col("doc_id")))
    capped = cu.per_domain_cap(urls, cap=3, order_col="doc_id")
    return capped.select("doc_id", "domain").orderBy("doc_id")


def _q53_psl_domain_cap(spark, sf_dir):
    """PSL-aware per-domain cap: hosts under a ccTLD second-level
    registry (w{i}.d{j}.co.jp) cap per REGISTRABLE domain d{j}.co.jp —
    distinct registrants stay distinct — while ordinary subdomains
    (w{i}.d{j}.example.org) roll up to the one registrable example.org.
    A bare-host cap under-caps the former; a last-2-labels cap merges
    every .co.jp registrant into one mega-key.  The oracle recomputes the
    suffix rule in SQL over the same full published rule list (the
    module constant now carries the complete packaged dataset)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.when(
        d % 2 == 0,
        F.concat(F.lit("https://w"), d % 7, F.lit(".d"), d % 3,
                 F.lit(".co.jp/p/"), d)
    ).otherwise(
        F.concat(F.lit("https://w"), d % 7, F.lit(".d"), d % 3,
                 F.lit(".example.org/p/"), d))
    urls = docs.select("doc_id", url.alias("url"))
    capped = cu.per_domain_cap(urls, cap=3, order_col="doc_id", psl=True)
    return capped.select("doc_id", "domain").orderBy("doc_id")


def _q68_psl_registrable(spark, sf_dir):
    """Full publicsuffix.org ALGORITHM over the FULL published dataset
    (resources/public_suffix_list.dat), with synthetic hosts covering
    all three PSL rule classes: normal rules at every depth the data has
    (co.jp; co.ke — a registry the pre-round-6 frozen subset lacked;
    s3.amazonaws.com at 3 labels; pvt.k12.ma.us at 4;
    s3.dualstack.ap-south-1.amazonaws.com at 5), wildcard rules
    (*.kawasaki.jp, *.ck, *.compute.amazonaws.com — the direct child of
    the base is itself a public suffix), and exception carve-outs
    (!city.kawasaki.jp, !www.ck — registrable despite the wildcard).
    Pure map stage, zero shuffle.  The oracle states the EXPECTED
    registrable domain per generation class directly (derived from the
    published PSL semantics, not from this implementation)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu

    d = F.col("doc_id")
    url = (
        F.when(d % 11 == 0, F.concat(
            F.lit("https://w"), d % 7, F.lit(".d"), d % 3,
            F.lit(".co.jp/p/"), d))
        .when(d % 11 == 1, F.concat(
            F.lit("https://w"), d % 7, F.lit(".d"), d % 3,
            F.lit(".example.org/p/"), d))
        .when(d % 11 == 2, F.concat(
            F.lit("https://x"), d % 5, F.lit(".a"), d % 3,
            F.lit(".kawasaki.jp/"), d))
        .when(d % 11 == 3, F.concat(
            F.lit("https://sub"), d % 5, F.lit(".city.kawasaki.jp/"), d))
        .when(d % 11 == 4, F.concat(
            F.lit("https://shop"), d % 5, F.lit(".foo"), d % 3,
            F.lit(".ck/"), d))
        .when(d % 11 == 5, F.concat(F.lit("https://a"), d % 5,
                                    F.lit(".www.ck/"), d))
        .when(d % 11 == 6, F.concat(
            F.lit("https://ec2-"), d,
            F.lit(".us-east-1.compute.amazonaws.com/"), d))
        .when(d % 11 == 7, F.concat(F.lit("https://b"), d % 9,
                                    F.lit(".s3.amazonaws.com/"), d))
        .when(d % 11 == 8, F.concat(
            F.lit("https://w"), d % 7, F.lit(".d"), d % 3,
            F.lit(".co.ke/p/"), d))
        .when(d % 11 == 9, F.concat(
            F.lit("https://sch"), d % 5, F.lit(".pvt.k12.ma.us/"), d))
        .otherwise(F.concat(
            F.lit("https://bkt"), d % 9,
            F.lit(".s3.dualstack.ap-south-1.amazonaws.com/"), d))
    )
    # projection-only: parallelism comes from input splits alone, and
    # the single-file sf parquet is one split (CLAUDE.md gotcha)
    docs = _read(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism) \
        .select("doc_id", url.alias("url"))
    return cu.with_registrable_domain(docs, "url", "domain") \
        .select("doc_id", "domain").orderBy("doc_id")


# Frozen synthetic quality-classifier model for q69: 64 hash buckets,
# integer-tenth weights in [-10, 10], bias +3 — the same literals are
# embedded in the DuckDB oracle.
_BOW_D = 64
_BOW_W = [((i * 37) % 21) - 10 for i in range(_BOW_D)]


def _q69_classifier_logit(spark, sf_dir):
    """Hashed bag-of-words linear-classifier scoring (the GPT-3/DCLM
    quality-filter inference step as a relational operator): words hash
    into 64 buckets via the engine-portable md5 trick, the logit is an
    exact BIGINT fold over integer-tenth weights — one fused projection,
    zero shuffle, zero Python; thresholding the logit IS thresholding
    the (monotone) sigmoid probability."""
    docs = _read(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    return ts.hashed_bow_logit(docs, _BOW_W, bias_tenths=3,
                               threshold_tenths=0).orderBy("doc_id")


def _q70_chunk_documents(spark, sf_dir):
    """Fixed-token document chunking with overlap (the RAG/pretraining
    splitter): 40-token windows at stride 32 (8-token overlap), final
    window keeps the tail.  Row-local transform + posexplode, zero
    shuffle — integer window arithmetic so the chunk set is exact on
    both engines."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx

    docs = _read(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    return mx.chunk_documents(docs, chunk_tokens=40, overlap_tokens=8) \
        .orderBy("doc_id", "chunk_id")


def _q33_salted_counts(spark, sf_dir):
    """Two-phase salted aggregation for skewed keys — identical result to a
    plain GROUP BY (the oracle), different physical shape."""
    ev = _read(spark, sf_dir, "events")
    return dd.salted_groupby_counts(ev, "event_type", "value", salt_n=16) \
        .orderBy("event_type")


def _q34_minhash_dedup(spark, sf_dir):
    """Composed near-dup removal: LSH candidates → Jaccard verify → drop
    losers (lower id survives)."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    kept = dd.minhash_dedup(docs, num_hashes=4, bands=2, k=2,
                            jaccard_threshold=0.08, max_df=60)
    return kept.select("doc_id").orderBy("doc_id")


def _q61_transitive_dedup(spark, sf_dir):
    """q34's minhash pipeline with the FineWeb-grade survivor rule:
    verified pairs → connected components → keep the LONGEST text per
    cluster (ties → lowest id).  Pairwise lower-id-wins over-keeps on
    chains; this cannot."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    kept = dd.minhash_dedup(docs, num_hashes=4, bands=2, k=2,
                            jaccard_threshold=0.08, max_df=60,
                            transitive=True)
    return kept.select("doc_id").orderBy("doc_id")


def _q62_incremental_dedup(spark, sf_dir):
    """Recrawl-snapshot dedup: documents 300-419 are the NEW batch,
    documents < 300 the already-deduped corpus; a new doc is dropped iff
    it LSH-candidates AND Jaccard-verifies against a CORPUS doc.  The
    candidate join is strictly new×corpus (the corpus never self-joins —
    the property that makes snapshot ingestion O(|new|), not
    O(|corpus|²))."""
    docs = _read(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 300)
    new = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 420))
    kept = dd.incremental_minhash_dedup(
        new, corpus, num_hashes=4, bands=2, k=2,
        jaccard_threshold=0.08, max_df=60)
    return kept.select("doc_id").orderBy("doc_id")


def _q71_stream_batch_dedup(spark, sf_dir):
    """The streaming ingest's per-micro-batch dedup stage as a batch
    query (streaming/dedup_stream.dedup_batch_against_corpus — the exact
    function the foreachBatch sink runs): documents 300-419 are the
    arriving micro-batch, documents < 300 the admitted corpus.  Stage 1
    removes within-batch near-dups (q34's pairwise minhash rule over the
    batch alone), stage 2 drops survivors that near-dup a CORPUS doc
    (q62's strictly new×corpus join).  The oracle replays both stages
    as two chained CTE pipelines with their own candidate-subset DF
    caps — the composition is what the continuous-crawl sink admits."""
    from pdf_ocr_batch_ndrocr_lite_spark.streaming import (
        dedup_stream as ds2,
    )

    docs = _read(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 300)
    batch = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 420))
    kept = ds2.dedup_batch_against_corpus(
        batch, corpus, num_hashes=4, bands=2, k=2,
        jaccard_threshold=0.08, max_df=60)
    return kept.select("doc_id").orderBy("doc_id")


def _q72_kmeans_ivf(spark, sf_dir):
    """IVF index TRAINING: Lloyd's k-means (k=3, 2 rounds,
    deterministic lowest-id init) over the embeddings table, then the
    final cell assignment with the trained centroids — the step that
    turns `ivf_topk` from 'bring your own centroids' into a complete
    ANN path.  Centroids ride the driver between rounds as literals
    (flat plans, no iterative lineage); per-dimension means accumulate
    in DECIMAL(38,12) so the trained index is bit-stable under any
    partitioning.  The oracle replays both rounds in SQL: the same
    left-to-right squared-L2 term order, the same decimal sums, the
    same first-minimum tie rule (ROW_NUMBER over (dist, cell))."""
    # projection-heavy (k × 64-dim distance folds per row): parallelism
    # comes from input splits alone and the single-file sf parquet is
    # one split (CLAUDE.md gotcha) — repartition first
    emb = _read(spark, sf_dir, "embeddings")         .repartition(spark.sparkContext.defaultParallelism)
    cents = sim.kmeans_fit(emb, k=3, iters=2)
    return sim.ivf_assign(emb, cents).orderBy("vec_id")


def _q72_oracle() -> str:
    return _kmeans_oracle(dim=64, k=3, rounds=2)


def _q77_ivf_broadcast_assign(spark, sf_dir):
    """The BROADCAST-codebook IVF path at real cell count: one Lloyd
    round at k=64 (≥ BROADCAST_K_THRESHOLD, so both the training
    round's assignment and the final `ivf_assign` ride the one-row
    broadcast codebook — ZERO plan literals in k, the r6-flagged
    scale fix) then the trained assignment per vector.  Distances are
    the same left-fold arithmetic as the literal path, the struct-min
    tie rule equals the literal first-minimum rule, and empty cells
    carry their previous centroid forward — all of which this oracle
    replays exactly (64 seed cells over 500 vectors leaves many cells
    empty after round 1, so the carry-forward is genuinely exercised).
    """
    emb = _read(spark, sf_dir, "embeddings") \
        .repartition(spark.sparkContext.defaultParallelism)
    cents = sim.kmeans_fit(emb, k=64, iters=1)
    return sim.ivf_assign(emb, cents).orderBy("vec_id")


def _q77_oracle() -> str:
    return _kmeans_oracle(dim=64, k=64, rounds=1)


def _kmeans_oracle(dim: int, k: int, rounds: int) -> str:
    def dist_sql(e: str, c: str) -> str:
        terms = " ".join(
            f"+ ({e}.v[{i + 1}] - {c}.v[{i + 1}]) "
            f"* ({e}.v[{i + 1}] - {c}.v[{i + 1}])"
            for i in range(dim))
        return f"(0.0 {terms})"

    def assign_cte(name: str, cents: str) -> str:
        # NULL embeddings never assign (Spark yields cell NULL): without
        # the filter their all-NULL distances sort NULLS-LAST equally,
        # handing them cell 0 via the tie-break — the assignment-side
        # twin of the c0 seed filter (r6 review; r7 review follow-up)
        return f"""
        {name} AS MATERIALIZED (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {dist_sql('e', 'c')}, c.cell) AS rn
                FROM e CROSS JOIN {cents} c
                WHERE e.v IS NOT NULL
            ) WHERE rn = 1
        )"""

    def mean_cte(name: str, assign: str, prev: str) -> str:
        # LEFT JOIN onto the PREVIOUS centroid set + COALESCE: an empty
        # cell keeps its prior centroid, mirroring kmeans_fit's
        # carry-forward (an inner-join mean CTE would silently DROP the
        # cell, so the next assignment round competes over fewer cells
        # — a latent divergence flagged in the r6 review)
        means = ", ".join(
            f"CAST(SUM(CAST(e.v[{i + 1}] AS DECIMAL(38,12))) AS DOUBLE)"
            f" / COUNT(*)"
            for i in range(dim))
        return f"""
        {name} AS MATERIALIZED (
            SELECT p.cell AS cell, COALESCE(m.v, p.v) AS v
            FROM {prev} p LEFT JOIN (
                SELECT a.cell AS cell, [{means}] AS v
                FROM e JOIN {assign} a USING (vec_id)
                GROUP BY a.cell
            ) m USING (cell)
        )"""

    ctes = []
    prev = "c0"
    for r in range(1, rounds + 1):
        ctes.append(assign_cte(f"a{r}", prev))
        ctes.append(mean_cte(f"c{r}", f"a{r}", prev))
        prev = f"c{r}"
    final = f"a{rounds + 1}"
    ctes.append(assign_cte(final, prev))
    return f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        c0 AS MATERIALIZED (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                       AS cell, v
            FROM (SELECT vec_id, v FROM e WHERE v IS NOT NULL
                  ORDER BY vec_id LIMIT {k})
        ),{",".join(ctes)}
        SELECT e.vec_id, CAST(a.cell AS INTEGER) AS cell
        FROM e LEFT JOIN {final} a USING (vec_id) ORDER BY e.vec_id
    """


def _q78_media_image_meta(spark, sf_dir):
    """REAL image metadata through the multimodal path (r6 'What's
    missing' #1 closed): media payloads are genuine image header bytes
    for image-kind rows — one of jpeg/png/bmp/tiff/webp per the doc_id
    rule, including a corrupt class — and `media_features` parses
    fmt/width/height/dpi straight from those bytes via the stdlib
    parsers in functions/image_meta.py (Pillow-parity density
    round-trips, app.py:1470-1520 semantics).  Audio/video rows and the
    corrupt image class come back all-NULL (metadata absence is data;
    the stage never raises).  The oracle replays the generation rule
    with the same IEEE density arithmetic."""
    from pdf_ocr_batch_ndrocr_lite_spark.functions import image_meta as _im

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text") \
        .repartition(spark.sparkContext.defaultParallelism)

    def media_row(did, text):
        did = int(did)
        kind = ["image", "audio", "video"][did % 3]
        if kind != "image":
            payload = (text or "").encode("utf-8")
        else:
            w = 200 + did % 800
            h = 150 + did % 600
            v = (did // 3) % 6
            if v == 0:
                payload = _im.make_fake_jpeg(w, h, dpi=96)
            elif v == 1:
                payload = _im.make_fake_png(w, h, dpi=300.0)
            elif v == 2:
                payload = _im.make_fake_bmp(w, h, dpi=96)
            elif v == 3:
                payload = _im.make_fake_tiff(w, h, dpi=200, unit=2)
            elif v == 4:
                # webp rows are did = 18m+12, so did % 9 == 3 ALWAYS (r7
                # review finding: only vp8l was ever exercised);
                # (did // 18) % 3 cycles the class
                payload = _im.make_fake_webp(
                    w, h, variant=["vp8", "vp8l", "vp8x"][did // 18 % 3])
            else:   # sniffs as JPEG, no SOF -> unparseable
                payload = b"\xff\xd8truncated"
        return {"media_id": did, "kind": kind, "payload": payload}

    media = ex.map_rows(docs, media_row, ("doc_id", "text"),
                        "media_id bigint, kind string, payload binary")
    return mm.media_features(media) \
        .select("media_id", "kind", "fmt", "width", "height", "dpi") \
        .orderBy("media_id")


def _q78_oracle() -> str:
    # density round trips mirror the writers exactly: png stores
    # round(300/.0254)=11811 ppm -> back *0.0254; bmp stores
    # round(96*39.3701)=3780 ppm -> back /39.3701; webp carries no
    # density -> 150 default; jpeg/tiff(unit=2) store dpi directly.
    return """
        WITH m AS (
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   CASE WHEN doc_id % 3 = 0
                        THEN CAST((doc_id // 3) % 6 AS INTEGER) END AS v,
                   CAST(200 + doc_id % 800 AS INTEGER) AS w,
                   CAST(150 + doc_id % 600 AS INTEGER) AS h
            FROM documents
        )
        SELECT media_id, kind,
               CASE v WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                      WHEN 2 THEN 'bmp' WHEN 3 THEN 'tiff'
                      WHEN 4 THEN 'webp' END AS fmt,
               CASE WHEN v IN (0, 1, 2, 3, 4) THEN w END AS width,
               CASE WHEN v IN (0, 1, 2, 3, 4) THEN h END AS height,
               CASE v WHEN 0 THEN CAST(96.0 AS DOUBLE)
                      WHEN 1 THEN 11811 * CAST(0.0254 AS DOUBLE)
                      WHEN 2 THEN 3780 / CAST(39.3701 AS DOUBLE)
                      WHEN 3 THEN CAST(200.0 AS DOUBLE)
                      WHEN 4 THEN CAST(150.0 AS DOUBLE) END AS dpi
        FROM m ORDER BY media_id
    """


def _q79_engine(payload, name, page_count):
    """Deterministic engine harness for q79: the doc_id embedded in the
    url selects the engine behavior class — nonzero-exit (raise),
    no-output-files (empty list), TXT-only engine, or the JSON engine —
    so every reference failure path (app.py:1635-1644) is a corpus
    class."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import ocr_engine as oe

    did = int(name[3:])
    m = did % 7
    if m == 1:
        raise RuntimeError("NDLOCR-Lite failed (code=1)")
    if m == 3:
        return []
    if m == 5:
        return oe.text_only_fake_engine(payload, name, page_count)
    return oe.deterministic_fake_engine(payload, name, page_count)


def _q79_ocr_engine(spark, sf_dir):
    """The OCR-engine adapter seam (r6 'What's missing' #2 closed):
    route → engine → parse → serialize as ONE vectorized stage
    (operators/ocr_engine.py).  The deterministic fake engine emits
    NDLOCR-shaped JSON (token bboxes, real line grouping + space-rule
    serialization + format-priority merge with a decoy TXT the priority
    rule must skip) or a TXT-only form-feed envelope, and two failure
    classes replay the reference's nonzero-exit and no-output-files
    paths as parse_failure action rows.  The oracle replays the
    engine's md5-derived emissions and the serialization joins in
    SQL."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import ocr_engine as oe

    docs = _read(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc"), F.col("doc_id")).alias("url"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")
        .alias("payload"),
        (F.lit(1) + F.col("doc_id") % 4).cast("int").alias("page_count"),
    )
    out = oe.run_ocr(docs, engine=_q79_engine,
                     num_partitions=spark.sparkContext.defaultParallelism)
    return out.select("url", "action", "page_count", "token_count",
                      "block_count", "parse_warnings", "extracted_text") \
        .orderBy("url")


def _q79_oracle() -> str:
    return r"""
        WITH base AS (
            SELECT 'doc' || doc_id AS url,
                   CAST(doc_id % 7 AS INTEGER) AS m,
                   CAST(1 + doc_id % 4 AS INTEGER) AS pc,
                   md5(COALESCE(text, '')) AS d
            FROM documents
        ),
        pg AS (
            SELECT url, m, pc, d, unnest(range(1, pc + 1)) AS p
            FROM base WHERE m NOT IN (1, 3)
        ),
        txt AS (
            SELECT url,
                   string_agg(
                       CASE WHEN m = 5
                            THEN 'x' || substring(d, 1, 8) || 'x t' || p
                            ELSE 'x' || substring(d, 1, 8) || 'x x'
                                 || substring(d, 9, 8) || 'x pg' || p
                       END, e'\n\n' ORDER BY p) AS body
            FROM pg GROUP BY url, m
        )
        SELECT b.url,
               CASE WHEN b.m IN (1, 3) THEN 'parse_failure'
                    ELSE 'extracted' END AS action,
               b.pc AS page_count,
               CASE WHEN b.m IN (1, 3, 5) THEN 0
                    ELSE 3 * b.pc END AS token_count,
               CASE WHEN b.m = 5 THEN b.pc ELSE 0 END AS block_count,
               CASE WHEN b.m IN (1, 3) THEN 1 ELSE 0 END AS parse_warnings,
               CASE WHEN b.m IN (1, 3) THEN ''
                    ELSE t.body END AS extracted_text
        FROM base b LEFT JOIN txt t USING (url)
        ORDER BY url
    """


def _q80_fuzzy_decontam(spark, sf_dir):
    """Fuzzy benchmark decontamination (r6 task 4): documents < 40 play
    the eval suite, 40-399 the training corpus; the GPT-3-shaped k-gram
    collision against the broadcast bench shingle set generates the
    pairs (no doc×bench cross join — the corpus text never shuffles),
    scored by per-(doc, bench-item) CONTAINMENT |doc∩bench| / |bench|
    >= 0.1 with the bench-ubiquity cap exercised at max_bench_df=20.
    Containment, not Jaccard: a benchmark item quoted inside a much
    larger page is exactly the leak to catch (a minhash-LSH candidate
    filter provably misses it — see the mixing.py module note).  The
    oracle replays the kept-shingle set and the single-division
    containment in SQL."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx

    docs_all = _read(spark, sf_dir, "documents")
    bench = docs_all.filter(F.col("doc_id") < 40)
    docs = docs_all.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 400))
    pairs = mx.fuzzy_contamination_pairs(
        docs, bench, k=2, containment_threshold=0.1, max_bench_df=20)
    return pairs.select("doc_id", "bench_id", "containment") \
        .orderBy("doc_id", "bench_id")


def _q80_oracle() -> str:
    return "WITH " + _shingle_cte("WHERE doc_id < 400", 2) + """,
        bsh0 AS (
            SELECT DISTINCT doc_id AS bench_id, shingle FROM sh
            WHERE doc_id < 40
        ),
        bsh AS (
            SELECT bench_id, shingle FROM bsh0
            WHERE shingle IN (SELECT shingle FROM bsh0
                              GROUP BY shingle HAVING COUNT(*) <= 20)
        ),
        dsh AS (
            SELECT DISTINCT doc_id, shingle FROM sh
            WHERE doc_id >= 40
        ),
        bsizes AS (
            SELECT bench_id, COUNT(*) AS bn FROM bsh GROUP BY bench_id
        ),
        inter AS (
            SELECT d.doc_id, b.bench_id, COUNT(*) AS c
            FROM dsh d JOIN bsh b ON d.shingle = b.shingle
            GROUP BY d.doc_id, b.bench_id
        )
        SELECT i.doc_id, i.bench_id,
               CAST(i.c AS DOUBLE) / s.bn AS containment
        FROM inter i JOIN bsizes s USING (bench_id)
        WHERE CAST(i.c AS DOUBLE) / s.bn >= CAST(0.1 AS DOUBLE)
        ORDER BY doc_id, bench_id
    """


def _q81_knn_join(spark, sf_dir):
    """Batched k-NN join (similarity.knn_join): top-5 nearest corpus
    vectors per query row — queries are vec_id < 30, corpus the rest,
    the codebook the 8 lowest-id corpus vectors (deterministic, no
    Lloyd replay needed), entering as a (cell, cvec) DataFrame so the
    broadcast-codebook path carries BOTH sides' cell work.  Never a
    queries × corpus cross join: candidates are bounded by the nprobe=3
    probe cells.  The oracle replays assignment argmin, the (dist,
    cell) probe ordering, and the (cosine desc, id) ranking; the hash
    covers (query_id, vec_id, rank) — ids and ranks, not floats."""
    emb = _read(spark, sf_dir, "embeddings") \
        .repartition(spark.sparkContext.defaultParallelism)
    queries = emb.filter(F.col("vec_id") < 30) \
        .withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 30)
    seed_rows = (corpus.select("vec_id", "embedding")
                 .filter(F.col("embedding").isNotNull())
                 .orderBy("vec_id").limit(8).collect())
    cents = sim.centroids_df(
        spark, [list(r["embedding"]) for r in seed_rows])
    out = sim.knn_join(queries, corpus, cents, k=5, nprobe=3)
    return out.select("query_id", "vec_id", "rank") \
        .orderBy("query_id", "rank")


def _q81_oracle() -> str:
    dim = 64

    def dist_sql(e: str, c: str) -> str:
        terms = " ".join(
            f"+ ({e}.v[{i + 1}] - {c}.v[{i + 1}]) "
            f"* ({e}.v[{i + 1}] - {c}.v[{i + 1}])"
            for i in range(dim))
        return f"(0.0 {terms})"

    return f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        c AS MATERIALIZED (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                       AS cell, v
            FROM (SELECT vec_id, v FROM e
                  WHERE vec_id >= 30 AND v IS NOT NULL
                  ORDER BY vec_id LIMIT 8)
        ),
        ca AS MATERIALIZED (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {dist_sql('e', 'c')}, c.cell) AS rn
                FROM e CROSS JOIN c
                WHERE e.vec_id >= 30
            ) WHERE rn = 1
        ),
        qp AS MATERIALIZED (
            SELECT vec_id AS query_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {dist_sql('e', 'c')}, c.cell) AS rn
                FROM e CROSS JOIN c
                WHERE e.vec_id < 30
            ) WHERE rn <= 3
        ),
        scored AS (
            SELECT q.query_id, s.vec_id,
                   list_cosine_similarity(eq.v, ec.v) AS cosine
            FROM qp q
            JOIN ca s USING (cell)
            JOIN e eq ON eq.vec_id = q.query_id
            JOIN e ec ON ec.vec_id = s.vec_id
        )
        SELECT query_id, vec_id, rank FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rank
            FROM scored WHERE cosine IS NOT NULL
        ) WHERE rank <= 5
        ORDER BY query_id, rank
    """


def _q82_contaminated_spans(spark, sf_dir):
    """Span-level decontamination (the GPT-3 'window around the
    collision' shape): maximal word ranges covered by bench-colliding
    k-gram shingles ± 1 pad word, clamped to the document — strip the
    leak, keep the page.  Same corpus split and bench-ubiquity cap as
    q80.  The oracle replays positional shingles, the covered-index
    expansion, and the gaps-and-islands merge."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx

    docs_all = _read(spark, sf_dir, "documents")
    bench = docs_all.filter(F.col("doc_id") < 40)
    docs = docs_all.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 400))
    spans = mx.contaminated_spans(docs, bench, k=2, pad=1,
                                  max_bench_df=20)
    return spans.select("doc_id", "span_start", "span_end", "span_words") \
        .orderBy("doc_id", "span_start")


def _q83_url_dedup(spark, sf_dir):
    """Canonical-url dedup (first-wins): five crawl variants of each page
    — case-folded host, tracking params, fragment link, trailing-slash
    twin, plain — collapse onto one row keyed on the canonical url,
    lowest doc_id winning.  The cheapest dedup stage of a crawl
    pipeline: the key is a pure projection, no document text ever ships
    through the shuffle.  The oracle replays the variant synthesis, the
    q31 canonicalization chain, and the first-wins window."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    page = F.floor(d / 5)
    base = F.concat(F.lit("https://www.s"), page % 3,
                    F.lit(".example.org/p/"), page)
    url = (
        F.when(d % 5 == 0,
               F.concat(F.lit("HTTPS://WWW.S"), page % 3,
                        F.lit(".Example.ORG/p/"), page))
        .when(d % 5 == 1, F.concat(base, F.lit("?utm_source=feed&gclid=x")))
        .when(d % 5 == 2, F.concat(base, F.lit("#nav")))
        .when(d % 5 == 3, F.concat(base, F.lit("/")))
        .otherwise(base)
    )
    urls = docs.select("doc_id", url.alias("url"))
    return (cu.url_dedup(urls)
            .select("doc_id", "canon_url")
            .orderBy("doc_id"))


def _q84_outlink_indegree(spark, sf_dir):
    """Anchor-graph extraction + in-degree: absolute http(s) hrefs pulled
    from synthetic HTML (relative links correctly ignored), exploded,
    in-links counted per target — the cheapest URL-level quality prior a
    crawl ranker has.  JVM regexp_extract_all + one partial-agg groupBy."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lg

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="https://s'), (d * 7 + 1) % 20,
        F.lit('.example.org/">a</a>'),
        F.when(d % 3 == 0,
               F.concat(F.lit('<a href="https://s'), (d * 7 + 5) % 20,
                        F.lit('.example.org/page/'), d, F.lit('">b</a>'))
               ).otherwise(F.lit("")),
        F.lit('<a href="/local">c</a></body></html>'))
    pages = docs.select("doc_id", d.cast("string").alias("url"),
                        html.alias("html"))
    links = lg.extract_outlinks(pages)
    return lg.inlink_counts(links).orderBy("target")


def _q85_pagerank(spark, sf_dir):
    """Damped PageRank (3 rounds, d=0.85) over a deterministic 200-node
    link graph in BIGINT fixed point (scale 1e12) — bit-identical under
    any partitioning; the oracle unrolls all three rounds with the same
    truncating integer ops."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lg

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    withk = docs.select(
        "doc_id", F.explode(F.array(F.lit(1), F.lit(2),
                                    F.lit(3))).alias("k"))
    # outdegree varies 1-3 by src so in-degree (and the fixed point) is
    # genuinely non-uniform — a regular graph would let symmetric bugs
    # pass on the uniform solution
    withk = withk.filter(F.col("k") <= 1 + F.col("doc_id") % 3)
    edges = withk.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 17 + F.col("k")) % 200).alias("dst")).distinct()
    ranks = lg.pagerank(edges, num_nodes=200, iterations=3)
    return ranks.select("id", F.col("rank").alias("pr")).orderBy("id")


def _q86_trustrank(spark, sf_dir):
    """TrustRank: personalized PageRank whose restart mass teleports
    ONLY to a trusted seed set (every 10th node) — rank must arrive
    through a link path from the seeds, the classic webspam-demotion
    signal.  Same irregular graph, arithmetic, and truncating ops as
    q85; the oracle unrolls all three rounds with the seed-conditional
    base/init."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lg

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    withk = docs.select(
        "doc_id", F.explode(F.array(F.lit(1), F.lit(2),
                                    F.lit(3))).alias("k"))
    withk = withk.filter(F.col("k") <= 1 + F.col("doc_id") % 3)
    edges = withk.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 17 + F.col("k")) % 200).alias("dst")).distinct()
    seeds = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    ranks = lg.pagerank(edges, iterations=3, seeds=seeds, num_seeds=20)
    return ranks.select("id", F.col("rank").alias("tr")).orderBy("id")


def _q87_anchor_text(spark, sf_dir):
    """Anchor-text corpus: absolute ``<a>`` anchors extracted WITH their
    link text in a SINGLE regex pass (whole matches once, groups split
    per element), aggregated to (target, anchor, n) — the classic
    relevance/title signal for the linked-to page.  Relative links
    drop; the second anchor class and the markup-truncation rule are
    both corpus classes.  The oracle mirrors the match-then-split."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lg

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    d = F.col("doc_id")
    html = F.concat(
        F.lit('<p><a href="https://t'), d % 20,
        F.lit('.example.org/">w'), d % 5, F.lit(' site</a>'),
        F.when(d % 4 == 0,
               F.concat(F.lit('<a href="https://t'), (d * 3 + 1) % 20,
                        F.lit('.example.org/" rel=nofollow>w'), d % 3,
                        F.lit(' <b>page</b></a>'))
               ).otherwise(F.lit('<a href="/rel">skip</a>')),
        F.lit('</p>'))
    pages = docs.select(d.cast("string").alias("url"), html.alias("html"))
    anchors = lg.extract_anchors(pages)
    return (anchors.groupBy("target", "anchor")
            .agg(F.count("*").alias("n"))
            .orderBy("target", "anchor"))


def _q88_pagerank_dangling(spark, sf_dir):
    """PageRank with dangling-mass redistribution: only nodes with
    doc_id % 3 != 2 emit edges, so a third of the id space receives
    rank it can never ship — the default variant leaks that mass, the
    redistribute_dangling variant returns it through the teleport set
    each round in the same truncating BIGINT discipline.  The oracle
    unrolls all three rounds including the per-round dangling sum."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lg

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    withk = docs.select(
        "doc_id", F.explode(F.array(F.lit(1), F.lit(2))).alias("k"))
    withk = withk.filter((F.col("k") <= 1 + F.col("doc_id") % 2)
                         & (F.col("doc_id") % 3 != 2))
    edges = withk.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 13 + F.col("k")) % 150).alias("dst")).distinct()
    ranks = lg.pagerank(edges, iterations=3, redistribute_dangling=True)
    return ranks.select("id", F.col("rank").alias("pr")).orderBy("id")


def _linkres_pages(spark, sf_dir):
    """Synthetic relative-link HTML: page urls live on DISTINCT
    registrable domains (site<N>.example<N>.org so eTLD+1 varies);
    every page carries one link per resolution class — path-relative,
    root-relative, parent ('..'), protocol-relative, absolute (with
    fragment+query), mailto (dropped) — and every 6th page overrides
    the resolution base with an absolute <base href> on its own
    domain.  Shared by q89 (page-level resolution) and q90 (host-level
    PageRank over the same graph)."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 240)
    d = F.col("doc_id")
    n = d % 12
    m = (d + 1) % 12
    url = F.concat(F.lit("https://site"), n, F.lit(".example"), n,
                   F.lit(".org/a/b/page"), d, F.lit(".html"))
    base_tag = F.when(
        d % 6 == 0,
        F.concat(F.lit('<base href="https://base'), d % 4,
                 F.lit('.net/dir/">'))).otherwise(F.lit(""))
    html = F.concat(
        base_tag,
        F.lit('<a href="img/x'), d % 7, F.lit('.html">r</a>'),
        F.lit('<a href="/top/t'), d % 5, F.lit('">o</a>'),
        F.lit('<a href="../up.html">u</a>'),
        F.lit('<a href="//site'), m, F.lit(".example"), m,
        F.lit('.org/pr">p</a>'),
        F.lit('<a href="https://example'), (d * 5) % 12,
        F.lit('.org/abs?q=1#f">a</a>'),
        F.lit('<a href="mailto:x@y.z">m</a>'))
    return docs.select(url.alias("url"), html.alias("html"))


def _q89_resolve_links(spark, sf_dir):
    """RFC-3986 link resolution over relative-link HTML, all JVM-side
    (regex dispatch + dot-segment aggregate fold): real crawl pages are
    mostly relative links, which extract_outlinks (absolute-only)
    undercounts.  The oracle states each class's expected absolute url
    analytically from the generation rule — an independent statement
    of resolution semantics, not a re-derivation of the expression."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lg

    return (lg.resolve_links(_linkres_pages(spark, sf_dir))
            .orderBy("url", "target"))


def _q90_host_pagerank(spark, sf_dir):
    """Host-level webgraph rank — the granularity Common-Crawl
    publishes: resolve relative links, aggregate the edge list to
    registrable domains (full-PSL eTLD+1, intra-domain chrome edges
    dropped), then BIGINT fixed-point PageRank keyed on the DOMAIN
    STRING (key_type=None).  Two rounds unrolled in the oracle with
    N = |nodes| as a scalar subquery."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lg

    # barrier discipline (q71 precedent): the resolver + DOUBLE PSL
    # cascade fused into one codegen stage exceeds janino's 64KB method
    # limit (compile fails, interpreted fallback + repeated compile
    # attempts dominate), and pagerank would additionally inline that
    # tree into nodes/outdeg/cedges and every round — _host_graph_edges
    # cuts the lineage at the two natural materialization points
    edges = _host_graph_edges(spark, sf_dir)
    ranks = lg.pagerank(edges, iterations=2, src_col="src_host",
                        dst_col="dst_host", key_type=None)
    return (ranks.select(F.col("id").alias("host"),
                         F.col("rank").alias("pr"))
            .orderBy("host"))


def _q91_media_encoder_seam(spark, sf_dir):
    """Pluggable media-feature encoder (the run_ocr(engine=...) pattern
    applied to the one remaining decode stub): media_features accepts
    an injected (payload, kind) -> (feature, n_frames) callable; the
    default stays the md5 stub (q22/q78 unchanged).  The fake encoder
    here is kind-salted md5 with DYADIC-RATIONAL features (byte/256*2-1
    is exact in float32 and float64), so the DuckDB double oracle
    matches bitwise through the array<float> schema."""
    import pdf_ocr_batch_ndrocr_lite_spark.operators.multimodal as mm

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    feats = mm.media_features(mm.attach_media(docs),
                              encoder=mm.demo_encoder)
    return (feats.select(
        "media_id", "n_frames",
        F.element_at("feature", 1).cast("double").alias("f0"),
        F.element_at("feature", 8).cast("double").alias("f7"))
        .orderBy("media_id"))


def _host_graph_edges(spark, sf_dir):
    """Shared by q90/q92/q93: resolved + eTLD+1-aggregated edges over
    the relative-link fixture, lineage-cut at both seams (codegen note
    in BASELINE.md r8)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lg

    links = materialize(lg.resolve_links(_linkres_pages(spark, sf_dir)),
                        "links")
    return materialize(lg.host_edges(links), "edges")


def _q92_host_trustrank(spark, sf_dir):
    """Host-level TrustRank: the webgraph composition with the restart
    mass pinned to two trusted domains (string node keys) — the webspam
    demotion signal at the granularity curation actually applies it."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lg

    edges = _host_graph_edges(spark, sf_dir)
    seeds = spark.createDataFrame([("example0.org",), ("example5.org",)],
                                  "host string")
    ranks = lg.pagerank(edges, iterations=2, src_col="src_host",
                        dst_col="dst_host", key_type=None,
                        seeds=seeds, num_seeds=2)
    return (ranks.select(F.col("id").alias("host"),
                         F.col("rank").alias("tr"))
            .orderBy("host"))


def _q93_host_rank_signal(spark, sf_dir):
    """Source-quality join-back (with_host_rank): every document gets
    its registrable domain's webgraph rank — the keep-list/weighting
    signal a curation cascade consumes.  Join strategy left to AQE
    (the rank table is host-bounded but NOT forced-broadcast: ~10^8
    registrable domains at web scale)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lg

    edges = _host_graph_edges(spark, sf_dir)
    ranks = lg.pagerank(edges, iterations=2, src_col="src_host",
                        dst_col="dst_host", key_type=None)
    rtab = materialize(ranks.select(F.col("id").alias("host"), "rank"),
                       "ranks")
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 240)
    d = F.col("doc_id")
    n = d % 12
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://site"), n, F.lit(".example"), n,
                 F.lit(".org/a/b/page"), d, F.lit(".html")).alias("url"))
    out = lg.with_host_rank(urls, rtab)
    return (out.select("doc_id", "host", F.col("host_rank").alias("pr"))
            .orderBy("doc_id"))


def _q94_canonical_dedup(spark, sf_dir):
    """rel=canonical dedup: mirror pages declaring one canonical target
    collapse to a single survivor even though every mirror URL is
    distinct (url_dedup would keep them all); pages without a canonical
    fall back to their own canonicalized url.  Both attribute orders
    occur; every 5th page carries a rel=stylesheet decoy whose href
    must NOT match.  Winner is the combining min-agg + semi-join (no
    digest window).  Fixture urls are already canonical-form, so the
    oracle's fallback key is the url itself."""
    import pdf_ocr_batch_ndrocr_lite_spark.operators.curation as cu

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    d = F.col("doc_id")
    canon_url = F.concat(F.lit("https://canon.example.org/a"), d % 40)
    link = (
        F.when(d % 5 == 4,
               F.lit('<link rel="stylesheet" '
                     'href="https://cdn.example.org/s.css">'))
        .when(d % 2 == 0,
              F.concat(F.lit('<link rel=canonical href="'), canon_url,
                       F.lit('">')))
        .otherwise(
            F.concat(F.lit('<link href="'), canon_url,
                     F.lit('" rel=\'canonical\'>'))))
    html = F.concat(F.lit("<html><head>"), link,
                    F.lit("</head><body>x</body></html>"))
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://m"), d % 3, F.lit(".example.org/p"), d)
        .alias("url"),
        html.alias("html"))
    out = cu.canonical_dedup(pages)
    return out.select("doc_id", "url", "canon_key").orderBy("doc_id")


def _q88_oracle() -> str:
    """Three unrolled dangling-redistribution PageRank rounds: per
    round, the dangling total (rank held by nodes absent from e.src)
    ships through the teleport set as `D // N` added to every node's
    link mass BEFORE the damping multiply — operation order identical
    to linkgraph.pagerank(redistribute_dangling=True)."""
    head = r"""
        WITH n AS (SELECT doc_id AS id FROM documents WHERE doc_id < 150),
        e AS (
            SELECT DISTINCT id AS src, (id * 13 + k) % 150 AS dst
            FROM n, (SELECT unnest([1, 2]) AS k)
            WHERE k <= 1 + id % 2 AND id % 3 <> 2
        ),
        od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        nn AS (SELECT COUNT(*) AS c FROM nodes),
        r0 AS (SELECT id, 1000000000000 // (SELECT c FROM nn) AS r
               FROM nodes)"""
    rounds, prev = [], "r0"
    for i in (1, 2, 3):
        cur = f"i{i}"
        rounds.append(f""",
        {cur} AS (
            SELECT nd.id,
                   CAST(((1000000000000 * 15) // 100) // (SELECT c FROM nn)
                        + (85 * (COALESCE(s.m, 0)
                                 + (SELECT CAST(COALESCE(SUM(p.r), 0)
                                                AS BIGINT)
                                    FROM {prev} p
                                    WHERE p.id NOT IN (SELECT src FROM e))
                                   // (SELECT c FROM nn))) // 100
                        AS BIGINT) AS r
            FROM nodes nd LEFT JOIN (
                SELECT e.dst AS id,
                       CAST(SUM({prev}.r // od.outdeg) AS BIGINT) AS m
                FROM e JOIN {prev} ON {prev}.id = e.src
                       JOIN od ON od.src = e.src
                GROUP BY e.dst) s ON s.id = nd.id
        )""")
        prev = cur
    return head + "".join(rounds) + \
        "\n        SELECT id, r AS pr FROM i3 ORDER BY id"


_LINKRES_P_CTE = r"""
        p AS (
            SELECT doc_id AS d, doc_id % 12 AS n, (doc_id + 1) % 12 AS m,
                   (doc_id * 5) % 12 AS ab, doc_id % 4 AS b4,
                   doc_id % 7 AS k7, doc_id % 5 AS k5,
                   (doc_id % 6 = 0) AS has_base
            FROM documents WHERE doc_id < 240
        )"""


def _host_graph_cte(rounds: int, seeds: tuple = ()) -> str:
    """WITH-chain shared by the host-graph oracles (q90/q92/q93):
    analytically stated registrable-domain edges
    (site<N>.example<N>.org -> eTLD+1 example<N>.org; base<B>.net is
    its own registrable domain; intra-domain edges drop), then
    `rounds` unrolled fixed-point rounds ending at i{rounds} — classic
    PageRank (N = |nodes| scalar subquery) or, with ``seeds``,
    TrustRank (init/base only on the seed hosts)."""
    head = "\n        WITH" + _LINKRES_P_CTE + r""",
        cls AS (
            SELECT 'example' || n || '.org' AS src,
                   CASE WHEN has_base THEN 'base' || b4 || '.net'
                        ELSE 'example' || n || '.org' END AS reldst,
                   'example' || m || '.org' AS protodst,
                   'example' || ab || '.org' AS absdst
            FROM p
        ),
        hedges AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, reldst AS dst FROM cls WHERE reldst <> src
                UNION ALL
                SELECT src, protodst FROM cls WHERE protodst <> src
                UNION ALL
                SELECT src, absdst FROM cls WHERE absdst <> src
            )
        ),
        od AS (SELECT src, COUNT(*) AS outdeg FROM hedges GROUP BY src),
        nodes AS (SELECT src AS id FROM hedges
                  UNION SELECT dst AS id FROM hedges),
        nn AS (SELECT COUNT(*) AS c FROM nodes),"""
    if seeds:
        seed_list = ", ".join(f"'{s}'" for s in seeds)
        init = (f"CASE WHEN id IN ({seed_list}) "
                f"THEN 1000000000000 // {len(seeds)} ELSE 0 END")
        base = (f"CASE WHEN nd.id IN ({seed_list}) "
                f"THEN ((1000000000000 * 15) // 100) // {len(seeds)} "
                f"ELSE 0 END")
    else:
        init = "1000000000000 // (SELECT c FROM nn)"
        base = "((1000000000000 * 15) // 100) // (SELECT c FROM nn)"
    head += f"""
        r0 AS (SELECT id, {init} AS r
               FROM nodes)"""
    parts, prev = [], "r0"
    for i in range(1, rounds + 1):
        cur = f"i{i}"
        parts.append(f""",
        {cur} AS (
            SELECT nd.id,
                   CAST({base}
                        + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS r
            FROM nodes nd LEFT JOIN (
                SELECT e.dst AS id,
                       CAST(SUM({prev}.r // od.outdeg) AS BIGINT) AS m
                FROM hedges e JOIN {prev} ON {prev}.id = e.src
                       JOIN od ON od.src = e.src
                GROUP BY e.dst) s ON s.id = nd.id
        )""")
        prev = cur
    return head + "".join(parts)


def _q90_oracle() -> str:
    """Host-graph PageRank, 2 unrolled rounds — default leak variant,
    string node ids, truncating integer ops (see _host_graph_cte)."""
    return _host_graph_cte(2) + \
        "\n        SELECT id AS host, r AS pr FROM i2 ORDER BY host"


def _q92_oracle() -> str:
    """Host-level TrustRank: restart mass only on the two seed domains
    (string keys); same edges and truncating ops as q90."""
    return _host_graph_cte(2, seeds=("example0.org", "example5.org")) + \
        "\n        SELECT id AS host, r AS tr FROM i2 ORDER BY host"


def _q93_oracle() -> str:
    """Source-quality join-back: each document's registrable domain
    (analytic: site<N>.example<N>.org -> example<N>.org) joined to the
    q90 rank table; every fixture domain is ranked, so pr is non-null."""
    return _host_graph_cte(2) + r""",
        docs2 AS (
            SELECT doc_id, 'example' || (doc_id % 12) || '.org' AS host
            FROM documents WHERE doc_id < 240
        )
        SELECT d.doc_id, d.host, i2.r AS pr
        FROM docs2 d LEFT JOIN i2 ON i2.id = d.host
        ORDER BY d.doc_id"""


def _q82_oracle() -> str:
    # k=2, pad=1; psh positions are 0-based (starts.i is 1-based)
    return r"""
        WITH words AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               w -> w <> '') AS ws
            FROM documents WHERE doc_id < 400
        ),
        starts AS (
            SELECT doc_id, ws,
                   unnest(range(1, greatest(len(ws) - 1, 1) + 1)) AS i
            FROM words
        ),
        psh AS (
            SELECT doc_id, len(ws) AS nw, i - 1 AS p,
                   array_to_string(ws[i : i + 1], ' ') AS shingle
            FROM starts
        ),
        bdf AS (
            SELECT shingle FROM (
                SELECT doc_id, shingle FROM psh WHERE doc_id < 40
                GROUP BY doc_id, shingle
            ) GROUP BY shingle HAVING COUNT(*) <= 20
        ),
        hits AS (
            SELECT DISTINCT d.doc_id, d.nw, d.p
            FROM psh d
            WHERE d.doc_id >= 40
              AND d.shingle IN (SELECT shingle FROM bdf)
        ),
        covered AS (
            SELECT DISTINCT doc_id,
                   unnest(range(greatest(p - 1, 0),
                                least(p + 2, nw - 1) + 1)) AS widx
            FROM hits
        ),
        grp AS (
            SELECT doc_id, widx,
                   widx - ROW_NUMBER() OVER (PARTITION BY doc_id
                                             ORDER BY widx) AS g
            FROM covered
        )
        SELECT doc_id,
               CAST(MIN(widx) AS INTEGER) AS span_start,
               CAST(MAX(widx) AS INTEGER) AS span_end,
               CAST(MAX(widx) - MIN(widx) + 1 AS INTEGER) AS span_words
        FROM grp GROUP BY doc_id, g
        ORDER BY doc_id, span_start
    """


def _q73_temperature_sample(spark, sf_dir):
    """Multilingual temperature resampling (XLM-R/mT5 alpha-sampling,
    alpha=0.5): per-stratum keep rates ∝ sqrt(corpus share), scaled to
    half the corpus, applied as the deterministic md5-bucket draw.
    Rates are computed driver-side from exact integer counts in a FIXED
    op order (sqrt — correctly-rounded IEEE, unlike a general libm
    pow — then a left-fold normalizer over lang-sorted strata), so the
    oracle reproduces the exact member set, not just the rates.  Two
    jobs: one combining count agg + one zero-shuffle filter scan."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx

    docs = _read(spark, sf_dir, "documents")
    return mx.temperature_sample(docs, alpha=0.5, target_frac=0.5) \
        .select("doc_id", "lang").orderBy("doc_id")


def _q74_vocab_topk(spark, sf_dir):
    """Corpus vocabulary profile (BPE/tokenizer corpus prep): the 20
    most frequent words with total count + document frequency, both
    exact BIGINTs (k=20 — the sf corpus vocabulary is ~31 words, so the
    cut and its word-order tie-break are genuinely exercised).  One
    shuffle (the word groupBy computes both
    aggregates; doc-frequency pre-dedups map-side), then TakeOrdered —
    k rows per partition, never a full vocabulary sort.  Ties cut by
    word, so the boundary is deterministic on both engines."""
    docs = _read(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    return ts.top_k_words(docs, k=20)


def _q75_training_shards(spark, sf_dir):
    """Deterministic seeded training order + shard split (the final
    pre-training step): shard = md5(seed:id) mod 8 — size-balanced with
    NO global sort — and pos = within-shard rank by (hash, id), so
    shards concatenated in pos order are a uniform seeded permutation.
    One window per shard key; parallelism = shard count.  The oracle
    replays the identical hash, mod, and rank."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx

    docs = _read(spark, sf_dir, "documents")
    return mx.training_shards(docs, n_shards=8, seed="r6") \
        .orderBy("doc_id")


def _q76_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (Manku et al. WWW'07): fingerprints split
    into 4×15-bit bands, candidates = equality self-join on any shared
    band (pigeonhole-exact for hamming ≤ 3), verify =
    bit_count(xor) ≤ 3 in one projection.  Texts are synthesized per a
    doc_id rule: 25 classes of identical 20-word documents (in-class
    pairs at hamming 0) plus a one-word variant every 5th doc (small
    but nonzero hamming — whether a variant pair passes the threshold
    is decided by the same exact bit arithmetic on both engines)."""
    d = F.col("doc_id")
    words = F.transform(
        F.sequence(F.lit(1), F.lit(20)),
        lambda i: F.concat(F.lit("c"), (d % 25).cast("string"),
                           F.lit("_"), i.cast("string")))
    text = F.concat_ws(" ", F.concat_ws(" ", words),
                       F.when(d % 5 == 4,
                              F.concat(F.lit("extra"),
                                       (d % 7).cast("string"))))
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 150) \
        .select("doc_id", text.alias("text"))
    return dd.simhash_near_dup_pairs(docs, bits=60, bands=4,
                                     max_hamming=3) \
        .orderBy("a_id", "b_id")


def _q63_quality_percentile_cut(spark, sf_dir):
    """Per-language dynamic quality thresholding: drop each lang's bottom
    decile (percentile_disc cut from q43's exact-quantile machinery over
    q18's quality expression — both already oracle-pinned); the cut table
    (one row per lang) broadcasts back, so the corpus shuffles once."""
    docs = _read(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    return cu.quality_percentile_cut(docs, q=0.1).orderBy("doc_id")


def _q64_clean_text(spark, sf_dir):
    """Hygiene pass: control chars stripped, space/tab runs collapsed,
    newline runs capped, ends trimmed — over documents deterministically
    dirtied (the sf corpus is clean, so both engines inject the same
    control bytes / runs before cleaning; the op must fix exactly what
    was injected and count the removals)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import cleaning as cl

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("\x01  "), F.col("text"),
                 F.lit("\t\tx\x07\n\n\n\nend  ")).alias("text"))
    return cl.clean_text(docs).orderBy("doc_id")


def _q65_pii_scrub(spark, sf_dir):
    """Dolma-style PII scrub (emails / IPv4 / US phones → typed
    placeholders + per-doc counts) over documents with deterministic PII
    injected on both engines (every 5th doc an email, every 7th an IP and
    a phone)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import cleaning as cl

    d = F.col("doc_id")
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 5 == 0,
                   F.concat(F.lit(" contact u"), d.cast("string"),
                            F.lit("@example.com now"))).otherwise(F.lit("")),
            F.when(d % 7 == 0,
                   F.concat(F.lit(" from 10.0."),
                            (d % 200).cast("string"),
                            F.lit(".25 call 555-867-5309 ok")))
            .otherwise(F.lit("")),
        ).alias("text"))
    return cl.pii_scrub(docs).orderBy("doc_id")


def _q66_stratified_exact_k(spark, sf_dir):
    """Exact-k per-lang deterministic sample (eval-set carving): the 25
    docs with the smallest md5(id) hash per lang — two-phase min-k
    aggregation (never a stratum-wide sort), reproducible on both
    engines."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx

    docs = _read(spark, sf_dir, "documents")
    return mx.stratified_exact_k(docs, k=25).orderBy("lang", "doc_id")


def _q35_asof_join(spark, sf_dir):
    """As-of join (custom operator: Spark built-ins composition, DuckDB
    native ASOF JOIN as the oracle): for each click, the latest preceding
    error by the same user."""
    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error") \
        .select(F.col("event_id").alias("err_id"), "user_id", "ts")
    joined = ao.asof_join(clicks, errors, ["user_id"], "ts", "ts",
                          ["err_id"])
    return joined.select("event_id", "user_id",
                         F.col("asof_err_id").alias("last_err_id")) \
        .orderBy("event_id")


_PRICE_BANDS = [(0, 0.0, 5_000.0), (1, 5_000.0, 20_000.0),
                (2, 20_000.0, 60_000.0), (3, 60_000.0, 120_000.0)]


def _q36_range_join(spark, sf_dir):
    """Bucketized range join (custom operator): lineitem prices into
    variable-width bands; oracle is the plain theta join."""
    li = _read(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    bands = spark.createDataFrame(_PRICE_BANDS, "band_id int, lo double, hi double")
    joined = rj.range_join_bucketed(li, bands, "l_extendedprice",
                                    "lo", "hi", bucket_width=5_000.0)
    return (
        joined.groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .orderBy("band_id")
    )


def _q37_hypertable_rollup(spark, sf_dir):
    """Hypertable-style multi-resolution time rollup: one pass producing
    (type, day, hour), (type, day), (type), () aggregation levels."""
    ev = _read(spark, sf_dir, "events")
    ev = ev.withColumn("day", F.date_trunc("day", F.col("ts"))) \
        .withColumn("hour", F.date_trunc("hour", F.col("ts")))
    return (
        ev.rollup("event_type", "day", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("event_type").asc_nulls_first(),
                 F.col("day").asc_nulls_first(),
                 F.col("hour").asc_nulls_first())
    )


def _q38_kmv_sketch(spark, sf_dir):
    """Deterministic KMV distinct-count sketch (engine-portable, unlike
    HLL): distinct users per event type."""
    ev = _read(spark, sf_dir, "events")
    return sk.kmv_distinct(ev, ["event_type"], "user_id", k=64) \
        .orderBy("event_type")


def _q39_rolling_hash(spark, sf_dir):
    """Polynomial rolling-hash fingerprint (exact int64 fold, portable)."""
    docs = _read(spark, sf_dir, "documents")
    return ts.rolling_hash(docs, prefix_chars=256).orderBy("doc_id")


def _bytes_corpus_cached(spark, sf_dir, tag, build_df):
    """Build-once parquet cache for deterministic synthesized byte corpora.

    The raw-PDF queries spend most of their wall-clock SYNTHESIZING their
    fixture PDFs (thousands of multi-page documents), not running the
    operator under test — so the bytes are written to a parquet cache
    keyed by (tag, sf_dir) on first use and read back afterwards.  The
    bench's best-of-2 then measures the operator stage against a parquet
    scan, which is also the shape the operator sees in production (bytes
    come from the lake, not from a generator)."""
    import glob as _glob
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    # fingerprint the GENERATOR, not just the input: any edit to this
    # entry file or to the PDF writer invalidates the cache, so a changed
    # fixture rule or writer can never be tested against stale bytes
    from pdf_ocr_batch_ndrocr_lite_spark.functions import pdf_make as _pmk
    h = _hl.md5(sf_dir.encode())
    for src_file in (__file__, _pmk.__file__):
        with open(src_file, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:12]
    # per-user cache root: a world-writable fixed /tmp path would let
    # another user of the shared VM pre-plant bytes the oracle gate then
    # trusts; uid-scoping keeps the trust boundary at the OS
    root = _os.path.join(_tf.gettempdir(),
                         f"spark_graft_cache_{_os.getuid()}")
    path = _os.path.join(root, f"{tag}_{key}")
    if not _os.path.isdir(path):
        # sweep orphaned .tmp.* siblings from aborted writers (theirs or
        # ours) so a half-written directory can never be renamed over
        for stale in _glob.glob(f"{path}.tmp.*"):
            _sh.rmtree(stale, ignore_errors=True)
        tmp = f"{path}.tmp.{_os.getpid()}"
        build_df().write.mode("overwrite").parquet(tmp)
        try:
            _os.rename(tmp, path)
        except OSError:  # concurrent builder won the race
            _sh.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


_RAWPDF_TAG = "rawpdf16"


def warm_fixture_caches(spark, sf_dir: str) -> None:
    """Materialize every build-once fixture cache OUTSIDE a timed
    window (bench hygiene, r6 task 5): a driver run on a fresh /tmp
    otherwise pays the q40/q41 corpus synthesis inside the first timed
    repeat, which printed as a phantom 2.9× q41 'regression' in
    BENCH_r06 (repo runs were in-band; see VERDICT r6 watch item).
    One untimed count per cache tag makes the cold-cache cost visible
    nowhere."""
    _bytes_corpus_cached(spark, sf_dir, _RAWPDF_TAG,
                         lambda: _rawpdf_corpus(spark, sf_dir)).count()


def _rawpdf_corpus(spark, sf_dir):
    """The q40 fixture corpus: one REAL minimal PDF per document covering
    every routing class — image-only, searchable, text beyond the 20-page
    window, RC4-encrypted (empty/real password), truncated, the round-3
    stream-filter/layout variants (LZW, ASCII85, RunLength, undecodable
    JPX, compressed object streams), and the round-4 AES classes: V4/R4
    AESV2 and V5/R6 AESV3, each with an empty user password (readable —
    the reference reads these via pypdf decrypt(''), app.py:1180-1189)
    and a real password (parse_failure)."""
    from pdf_ocr_batch_ndrocr_lite_spark.functions import pdf_make as _pm

    docs = _read(spark, sf_dir, "documents").select("doc_id") \
        .repartition(spark.sparkContext.defaultParallelism)

    def rawpdf_row(did):
        did = int(did)
        v = did % 16
        if v == 0:     # scanned-image profile
            data = _pm.build_pdf([None, None])
        elif v == 1:   # searchable text layer
            data = _pm.build_pdf([f"text layer {did}"])
        elif v == 2:   # text only beyond the 20-page check window
            data = _pm.build_pdf([None] * 22 + [f"late text {did}"])
        elif v == 3:   # RC4-encrypted, empty user password
            data = _pm.build_pdf([f"enc text layer {did}"],
                                 compress=True, user_pw="")
        elif v == 4:   # RC4-encrypted, real password
            data = _pm.build_pdf(["locked"], user_pw="pw")
        elif v == 5:   # truncated fetch
            data = _pm.build_pdf(["x"], corrupt=True)
        elif v == 6:   # compressed image-only
            data = _pm.build_pdf([None], compress=True)
        elif v == 7:   # LZW-compressed text layer
            data = _pm.build_pdf([f"lzw text {did}"],
                                 stream_filter="lzw")
        elif v == 8:   # ASCII85-encoded text layer
            data = _pm.build_pdf([f"a85 text {did}"],
                                 stream_filter="a85")
        elif v == 9:   # RunLength-encoded text layer
            data = _pm.build_pdf([f"rl text {did}"],
                                 stream_filter="rl")
        elif v == 10:  # undecodable filter → warning, not silence
            data = _pm.build_pdf([f"jpx text {did}"],
                                 stream_filter="jpx")
        elif v == 11:  # page tree inside a compressed /ObjStm
            data = _pm.build_objstm_pdf(
                [f"objstm text {did}", None, None])
        elif v == 12:  # AES-128 (V4/R4 AESV2), empty user password
            data = _pm.build_pdf([f"aesv2 text {did}"],
                                 user_pw="", encrypt="aesv2")
        elif v == 13:  # AES-128, real password
            data = _pm.build_pdf(["locked"], user_pw="pw",
                                 encrypt="aesv2")
        elif v == 14:  # AES-256 (V5/R6 AESV3), empty user password
            data = _pm.build_pdf([f"aesv3 text {did}"],
                                 user_pw="", encrypt="aesv3")
        else:          # AES-256, real password
            data = _pm.build_pdf(["locked"], user_pw="pw",
                                 encrypt="aesv3")
        return {"url": f"https://example.org/raw/{did:06d}", "lang": "en",
                "html": data}

    return ex.map_rows(docs, rawpdf_row, ("doc_id",),
                       "url string, lang string, html binary")


def _q40_rawpdf_route(spark, sf_dir):
    """Raw-PDF byte path end to end (F3 over real content streams): the
    full fixture corpus (all 16 routing classes, incl. LZW/A85/RL filters,
    an undecodable JPX stream, an /ObjStm layout, and the AES-encrypted
    classes — AESV2/AESV3 with empty and real user passwords) through the
    actual extraction pipeline (salted repartition + the vectorized
    dispatcher + pdf_scan's Tj/TJ content-stream scan and empty-password
    decrypt attempt, app.py:1156/1178-1278).  The oracle predicts (action,
    page_count, parse_warnings) from the generation rule alone, so any
    drift anywhere in writer→parser→predicate→dispatcher flips the hash —
    including silent wrong-direction routing of undecodable streams."""
    pages = _bytes_corpus_cached(spark, sf_dir, _RAWPDF_TAG,
                                 lambda: _rawpdf_corpus(spark, sf_dir))
    res = ex.run_extraction(pages)
    return res.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("int").alias("doc_id"),
        "action", "page_count", "parse_warnings",
    ).orderBy("doc_id")


def _q41_pdf_page_explode(spark, sf_dir):
    """S3 as a relational operator: raw-PDF bytes → one row per page with
    the reference's per-page text-layer signals (ops, stripped chars).
    Reads the SAME cached fixture corpus as q40 (so the bench measures
    pdf_page_stats against a parquet scan, not fixture synthesis);
    encrypted/corrupt variants are excluded up front (they contribute zero
    page rows by contract)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import pdfpages as _pp

    pages = _bytes_corpus_cached(spark, sf_dir, _RAWPDF_TAG,
                                 lambda: _rawpdf_corpus(spark, sf_dir))
    pages = pages.withColumn(
        "doc_id", F.regexp_extract("url", r"(\d+)$", 1).cast("int")) \
        .filter(~(F.col("doc_id") % 16).isin(4, 5, 13, 15))
    stats = _pp.pdf_page_stats(pages)
    return stats.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("int").alias("doc_id"),
        "page_index", "n_text_ops", "n_chars",
    ).orderBy("doc_id", "page_index")


def _q48_glyph_decode(spark, sf_dir):
    """Glyph decoding through font encodings — the round-2 judge's #1
    fidelity gap (pypdf maps bytes→text through /Encoding //ToUnicode,
    app.py:1202-1223; raw byte counts MIScount CID fonts 2x).  Seven font
    classes per the doc_id rule: a simple font remapped via /Encoding
    /Differences (→ hiragana), a 2-byte Type0/CID font with a /ToUnicode
    bfrange CMap (→ CJK ideographs; char count must be the CODE count,
    not the byte count), a /WinAnsiEncoding font (smart-quote bytes
    0x91-0x94 decode through cp1252), a plain single-byte control, a
    ToUnicode-less Identity-H font (Adobe-Identity: UTF-16BE identity
    decode, pypdf's fallback — real characters, no warning), a
    ToUnicode-less /UniJIS-UCS2-H font (Adobe-Japan1 UCS-2 registry:
    code IS the code point — the round-4 judged fidelity gap, real
    characters, no warning), a ToUnicode-less /90ms-RKSJ-H font whose
    Shift-JIS code space decodes whole-string through the cp932 codec
    (real katakana, no warning — the Japanese class the reference
    targets), a Type0 font naming a registry in NO table (the genuinely
    unmapped boundary: U+FFFD per code, count still per CODE, plus a
    parse warning instead of passing silently), and a 90ms-RKSJ class
    built from the six cp932-vs-Adobe-Japan1 DIVERGENT punctuation
    codes (0x8160 etc.) which must decode to the JIS-standard values
    Adobe's CMap chain produces (U+301C wave dash...), not cp932's
    fullwidth-compat forms.  The oracle reconstructs the exact decoded
    text, count and warning with DuckDB chr()."""
    from pdf_ocr_batch_ndrocr_lite_spark.functions import (
        pdf_make as _pm,
        pdf_scan as _ps,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id") \
        .repartition(spark.sparkContext.defaultParallelism)

    def glyph_row(did):
        did = int(did)
        v = did % 9
        n = did % 5 + 3
        if v == 0:
            codes = [97 + ((did + j) % 26) for j in range(n)]
            data = _pm.build_glyph_pdf("differences", codes)
        elif v == 1:
            codes = [((did + j) % 80) + 1 for j in range(n)]
            data = _pm.build_glyph_pdf("cid", codes)
        elif v == 2:
            codes = [0x91 + ((did + j) % 4) for j in range(n)]
            data = _pm.build_glyph_pdf("winansi", codes)
        elif v == 3:
            data = _pm.build_pdf([f"plain {did}"])
        elif v == 4:
            codes = [0x4E00 + ((did + j) % 80) for j in range(n)]
            data = _pm.build_glyph_pdf("cid_raw", codes)
        elif v == 5:
            codes = [0x3042 + ((did + j) % 50) for j in range(n)]
            data = _pm.build_glyph_pdf("cid_ucs2", codes)
        elif v == 6:
            codes = [0x30A2 + ((did + j) % 40) for j in range(n)]
            data = _pm.build_glyph_pdf("cid_rksj", codes)
        elif v == 7:
            codes = [((did + j) % 80) + 1 for j in range(n)]
            data = _pm.build_glyph_pdf("cid_unknown", codes)
        else:
            # the six cp932-vs-Adobe-Japan1 divergent punctuation
            # codes: the writer (a cp932 emitter) shows the
            # Microsoft-side code points, the scanner must decode
            # the Shift-JIS bytes the ADOBE way (JIS-standard
            # values, matching pypdf's CMap chain)
            ms = [0xFF5E, 0x2225, 0xFF0D, 0xFFE0, 0xFFE1, 0xFFE2]
            codes = [ms[(did + j) % 6] for j in range(n)]
            data = _pm.build_glyph_pdf("cid_rksj", codes)
        doc = _ps.scan_document(data)
        scan = doc.pages[0]
        return {"doc_id": did,
                "n_chars": _ps.count_text_chars(scan.content, scan.fonts),
                "text_layer": _ps.extract_text_layer(scan.content,
                                                     scan.fonts),
                "parse_warnings": doc.doc_warnings + scan.warnings}

    return ex.map_rows(docs, glyph_row, ("doc_id",),
                       "doc_id int, n_chars int, text_layer string, "
                       "parse_warnings int") \
        .orderBy("doc_id")


# deterministic ±1 hyperplanes for q42 (4 planes × dim 64): fixed rule, no
# RNG, so the exact same constants are embedded in the DuckDB oracle
_LSH_DIM = 64
_LSH_PLANES = [
    [1.0 if ((b * 31 + i * 7) % 5) < 3 else -1.0 for i in range(_LSH_DIM)]
    for b in range(4)
]


def _q42_lsh_buckets(spark, sf_dir):
    """Sign-LSH hyperplane bucketing (the ANN scale path's partitioner).
    Pure map stage; the oracle recomputes each dot product with the SAME
    left-fold op order (((0+t1)+t2)+...), so the sign — and therefore the
    bucket id — is bitwise-reproducible across engines."""
    emb = _read(spark, sf_dir, "embeddings")
    return sim.random_hyperplane_buckets(emb, _LSH_PLANES) \
        .orderBy("vec_id")


def _q42_oracle() -> str:
    plane_exprs = []
    for plane in _LSH_PLANES:
        terms = " ".join(
            f"+ e[{i + 1}] * ({c!r})" for i, c in enumerate(plane))
        plane_exprs.append(f"(0.0 {terms})")
    bucket = " + ".join(
        f"CASE WHEN {expr} > 0 THEN CAST({1 << b} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
        for b, expr in enumerate(plane_exprs))
    return f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        SELECT vec_id, CAST({bucket} AS BIGINT) AS bucket
        FROM v ORDER BY vec_id
    """


def _q43_exact_quantiles(spark, sf_dir):
    """Exact distributed quantiles (percentile_disc): n_chars p50/p90/p99
    per lang.  Approximate sketches (GK/HLL/approxQuantile) are
    implementation-defined and can't be oracle-checked; the rank-arithmetic
    form is exact, one shuffle, and engine-portable."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import quantiles as qt

    docs = _read(spark, sf_dir, "documents")
    return qt.exact_quantiles(docs, "lang", "n_chars", [0.5, 0.9, 0.99]) \
        .orderBy("lang", "q")


def _q44_page_geometry(spark, sf_dir):
    """F6/T16 geometry projection: render-DPI clamp, image-DPI acceptance
    window, px→pt, rotation mod-360, media/crop zero-or-null fallbacks —
    the reference's render-side math (app.py:1381-1443, 3911-3918) as pure
    column arithmetic.  Inputs derive from doc_id so the oracle transcribes
    the same formulas independently."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import geometry as geo

    d = F.col("doc_id")
    pages = _read(spark, sf_dir, "documents").select(
        "doc_id",
        (d % 200 + 1).alias("render_dpi"),
        (F.lit(800) + d % 100).alias("width_px"),
        (F.lit(1100) + d % 100).alias("height_px"),
        (d * 37 % 1000 - 360).alias("rotation_deg"),
        F.when(d % 3 == 0, F.lit(0.0))
        .when(d % 3 == 1, F.lit(None).cast("double"))
        .otherwise(F.lit(595.2)).alias("media_width_pt"),
        F.when(d % 4 == 0, F.lit(0.0))
        .otherwise(F.lit(500.0)).alias("crop_width_pt"),
        ((d % 9) * 160 - 80).alias("image_dpi_raw"),
    )
    out = geo.page_geometry(pages)
    return out.select(
        "doc_id", "norm_dpi", "width_pt", "height_pt", "rotation_norm",
        "media_width_pt_norm", "crop_width_pt_norm",
        geo.normalize_dpi(F.col("image_dpi_raw")).alias("image_dpi_norm"),
    ).orderBy("doc_id")


def _q45_searchable_pdf_sink(spark, sf_dir):
    """S6/S7 searchable-PDF sink end to end: build a real invisible-text
    PDF from each document's (sanitized) text via the overlay blocks path
    (wrap@60, 8pt lines, page-height cap at y<12 — app.py:2228-2254), then
    REPARSE the produced bytes with the content-stream scanner and emit the
    page/op/char counts.  The oracle predicts the same counts from the text
    alone, so writer → overlay → scanner must all agree."""
    import re as _re

    from pdf_ocr_batch_ndrocr_lite_spark.functions import (
        pdf_make as _pm,
        pdf_overlay as _po,
        pdf_scan as _ps,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text") \
        .repartition(spark.sparkContext.defaultParallelism)

    def sink_row(did, text):
        clean = _re.sub(r" +", " ",
                        _re.sub(r"[^a-z ]", "", (text or "").lower())).strip()
        ops = _po.page_draw_ops([], [clean] if clean else [],
                                1000, 1400, 612.0, 792.0)
        data = _pm.build_searchable_pdf(
            [{"width_pt": 612.0, "height_pt": 792.0, "ops": ops}])
        streams = _ps.page_content_streams(data)
        return {"doc_id": int(did), "page_count": len(streams),
                "n_text_ops": sum(_ps.count_text_show_ops(s)
                                  for s in streams),
                "n_chars": sum(_ps.count_text_chars(s) for s in streams)}

    return ex.map_rows(docs, sink_row, ("doc_id", "text"),
                       "doc_id int, page_count int, n_text_ops int, "
                       "n_chars int") \
        .orderBy("doc_id")


def _q46_image_normalization(spark, sf_dir):
    """S4 image normalization over real header bytes for the reference's
    FULL image whitelist (app.py:101-102 — jpeg/png/bmp/tiff/webp):
    build an image per doc_id rule, parse dimensions + density from the
    actual markers (SOF/JFIF, IHDR/pHYs, BITMAPINFOHEADER, TIFF IFD
    rationals + unit, VP8/VP8L/VP8X), normalize DPI through the
    reference's accepted range, and project to points.  The oracle
    recomputes all of it from the rule with the same IEEE ops."""
    from pdf_ocr_batch_ndrocr_lite_spark.functions import image_meta as _im

    docs = _read(spark, sf_dir, "documents").select("doc_id") \
        .repartition(spark.sparkContext.defaultParallelism)

    def image_row(did):
        did = int(did)
        w = 200 + did % 800
        h = 150 + did % 600
        v = did % 12
        if v == 0:
            data = _im.make_fake_jpeg(w, h, dpi=96)
        elif v == 1:
            data = _im.make_fake_jpeg(w, h)            # no density
        elif v == 2:
            data = _im.make_fake_jpeg(w, h, dpi=10)    # below range
        elif v == 3:
            data = _im.make_fake_jpeg(w, h, dpi=100, units=2)
        elif v == 4:
            data = _im.make_fake_png(w, h, dpi=300.0)
        elif v == 5:
            data = _im.make_fake_png(w, h)             # no pHYs
        elif v == 6:
            data = _im.make_fake_bmp(w, h, dpi=96)     # ppm round trip
        elif v == 7:
            data = _im.make_fake_bmp(w, h)             # ppm 0 → 150
        elif v == 8:
            data = _im.make_fake_tiff(w, h, dpi=200, unit=2)
        elif v == 9:
            data = _im.make_fake_tiff(w, h, dpi=127.0, unit=3,
                                      big_endian=True)
        elif v == 10:
            data = _im.make_fake_tiff(w, h, dpi=200, unit=1)
        else:
            data = _im.make_fake_webp(
                w, h, variant=["vp8", "vp8l", "vp8x"][did % 3])
        meta = _im.prepare_image(data)
        return {"doc_id": did, "fmt": meta["format"],
                "width_px": meta["width_px"], "dpi_x": meta["dpi_x"],
                "width_pt": meta["width_pt"]}

    return ex.map_rows(docs, image_row, ("doc_id",),
                       "doc_id int, fmt string, width_px int, dpi_x double, "
                       "width_pt double").orderBy("doc_id")


def _q47_text_layer_extraction(spark, sf_dir):
    """Searchable-PDF text-layer extraction (the no-OCR fast path): build
    an invisible-text PDF from each document's sanitized text (blocks
    path), then pull the text LAYER back out of the content streams via
    the show-operator walk.  The oracle reconstructs the exact expected
    string in SQL — 60-char slices of the sanitized text, trimmed, joined
    with newlines, height-capped at 77 lines — so writer, parser, and
    extractor must agree byte-for-byte on full document text."""
    import re as _re

    from pdf_ocr_batch_ndrocr_lite_spark.functions import (
        pdf_make as _pm,
        pdf_overlay as _po,
        pdf_scan as _ps,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text") \
        .repartition(spark.sparkContext.defaultParallelism)

    def text_layer_row(did, text):
        clean = _re.sub(r" +", " ",
                        _re.sub(r"[^a-z ]", "", (text or "").lower())).strip()
        ops = _po.page_draw_ops([], [clean] if clean else [],
                                1000, 1400, 612.0, 792.0)
        data = _pm.build_searchable_pdf(
            [{"width_pt": 612.0, "height_pt": 792.0, "ops": ops}])
        content = _ps.page_content_streams(data)[0]
        return {"doc_id": int(did),
                "text_layer": _ps.extract_text_layer(content)}

    return ex.map_rows(docs, text_layer_row, ("doc_id", "text"),
                       "doc_id int, text_layer string").orderBy("doc_id")


def _q49_repetition_stats(spark, sf_dir):
    """Gopher-rule repetition filters (Rae et al. 2021, §A1.1): per-doc
    2-gram totals, the most-frequent-gram share, and the duplicate-gram
    share — the quality signals a training-data pipeline thresholds on to
    drop boilerplate/spam pages.  All-declarative (explode + two combining
    groupBys); fractions are single IEEE divisions so DuckDB reproduces
    the doubles bit-exactly."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import textstats as ts

    # the operator is a shuffle-FREE projection, so parallelism comes
    # entirely from input splits — the single-file sf tables need an
    # explicit spread (a lake-scale input has thousands of splits)
    docs = _read(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    return ts.repetition_stats(docs, k=2) \
        .orderBy("doc_id")


# deterministic IVF centroids for q51 (4 cells × dim 64): fixed rule, no
# RNG — the DuckDB oracle embeds the identical constants
_IVF_DIM = 64
_IVF_CENTROIDS = [
    [float(((b * 17 + i * 5) % 7) - 3) for i in range(_IVF_DIM)]
    for b in range(4)
]


def _q52_shingle_df(spark, sf_dir):
    """Corpus shingle-document-frequency profile: the distribution that
    calibrates the similarity-join stop-shingle guards (q13/q34's max_df).
    Distinct-docs-per-shingle is integer-exact on both engines."""
    # spread the single-file sf table: the shingle explode runs pre-shuffle
    # and would otherwise sit on one core (see q49 note)
    docs = _read(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    return dd.shingle_document_frequency(docs, k=2, min_df=40) \
        .orderBy(F.col("df").desc(), "shingle")


def _q51_ivf_ann(spark, sf_dir):
    """IVF ANN (coarse-quantizer scale path): assign every vector to its
    nearest of 4 fixed centroids via a bit-identical left-fold L2
    distance, then answer the query scanning only the 2 probed cells.
    Integer output (id, cell, rank) like q15/q16; the oracle recomputes
    assignment term-by-term and selects probe cells in SQL."""
    emb = _read(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    top = sim.ivf_topk(emb, q, _IVF_CENTROIDS, k=10, nprobe=2)
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)) \
        .select("vec_id", "cell", "rank").orderBy("rank")


def _q51_oracle() -> str:
    def d2_expr(var: str, centroid) -> str:
        terms = " ".join(
            f"+ ({var}[{i + 1}] - ({c!r})) * ({var}[{i + 1}] - ({c!r}))"
            for i, c in enumerate(centroid))
        return f"(0.0 {terms})"

    dists_v = ", ".join(d2_expr("v", c) for c in _IVF_CENTROIDS)
    dists_q = ", ".join(d2_expr("qv", c) for c in _IVF_CENTROIDS)
    n = len(_IVF_CENTROIDS)
    cells_lit = ", ".join(str(i) for i in range(n))
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        assigned AS (
            SELECT vec_id, v,
                   CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS cell
            FROM (SELECT vec_id, v, [{dists_v}] AS d FROM e)
        ),
        qd AS (
            SELECT unnest([{dists_q}]) AS d,
                   unnest([{cells_lit}]) AS cell
            FROM q
        ),
        probes AS (SELECT cell FROM qd ORDER BY d, cell LIMIT 2),
        scored AS (
            SELECT a.vec_id, a.cell,
                   list_cosine_similarity(a.v, q.qv) AS cosine
            FROM assigned a, q
            WHERE a.cell IN (SELECT cell FROM probes)
        )
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
        FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
    """


def _q54_decontamination(spark, sf_dir):
    """Benchmark decontamination (Brown et al. 2020 app. C shape): flag
    corpus documents sharing ≥2 distinct 3-word shingles with the
    "benchmark" subset (here: every 37th document stands in for an eval
    suite).  The benchmark shingle set broadcasts; the corpus side's only
    exchange is the combining per-doc hit count."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return mx.contamination_hits(docs, bench, k=3, min_overlap=2) \
        .orderBy("doc_id")


def _q55_sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing: per-lang running token count
    assigns each document its training-sequence bin and offset at
    capacity 512 (the dataloader-side packer as a relational operator —
    window partitioned by shard, never a global sort).  Pins
    shard_buckets=None — the single-key path for shard columns that are
    already file-grained; the composite DEFAULT is q67's subject."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx

    docs = _read(spark, sf_dir, "documents")
    return mx.pack_sequences(docs, capacity=512, shard_col="lang",
                             shard_buckets=None) \
        .orderBy("doc_id")


def _q67_packing_sharded(spark, sf_dir):
    """Sequence packing on the composite (lang, md5-bucket) shard key —
    the DEFAULT contract: window parallelism = lang-cardinality ×
    shard_buckets instead of one task per language (half the corpus in
    ONE cumulative-sum sort at 100 TB with a bare lang key)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx

    docs = _read(spark, sf_dir, "documents")
    return mx.pack_sequences(docs, capacity=512, shard_col="lang",
                             shard_buckets=8) \
        .orderBy("doc_id")


_MIX_RATES = {"en": 0.5, "zh": 0.2, "de": 0.8}


def _q56_stratified_sample(spark, sf_dir):
    """Deterministic data mixing: per-lang keep rates via md5(id) bucket
    (en 50%, zh 20%, de 80%, default 10%) — the exact member set is
    reproducible on both engines, unlike RNG sampling."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx

    docs = _read(spark, sf_dir, "documents")
    return mx.stratified_sample(docs, _MIX_RATES, stratum_col="lang",
                                default_rate=0.1) \
        .select("doc_id", "lang").orderBy("doc_id")


def _lineified(docs, k: int = 6):
    """documents rewritten with 6-word lines: the sf `documents.text` is
    single-line, so the line-level operators (q57/q58) line-ify it
    deterministically — fixed k-word chunks joined by newlines, with the
    byte-identical CTE on the DuckDB side."""
    # the chunk lambda references the word array repeatedly — stage it in
    # its own projection (SPARK-35410: HOF expressions are never CSE'd)
    staged = docs.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        .alias("_ws"))
    ws = F.col("_ws")
    n = F.size(ws)
    chunks = F.transform(
        F.sequence(F.lit(0),
                   F.ceil(n / F.lit(float(k))).cast("int") - 1),
        lambda i: F.array_join(F.slice(ws, i * k + 1, k), " "))
    text = F.when(n == F.lit(0), F.lit("")) \
        .otherwise(F.array_join(chunks, "\n"))
    # zero-word docs are dropped (the oracle's range(0) emits no line
    # rows) — agreement by construction, not corpus luck; the n == 0
    # branch above stays as a guard against F.sequence(0, -1)'s
    # DESCENDING surprise if the optimizer ever reorders the filter
    return staged.filter(n > 0).select("doc_id", text.alias("text"))


def _q57_line_dedup(spark, sf_dir):
    """Corpus-wide first-wins line dedup (C4-style span discard lifted to
    lines): each repeated ≥10-char line survives only at its first
    (doc_id, pos); documents are rebuilt with per-doc kept/dropped
    counts.  Winner selection is a combining min-struct aggregation, not
    a window — no hot-line sort task."""
    docs = _read(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    return dd.line_dedup(_lineified(docs), min_chars=10).orderBy("doc_id")


def _q58_boilerplate_lines(spark, sf_dir):
    """Boilerplate-line removal: ALL occurrences of ≥10-char lines present
    in more than 2 distinct documents are dropped (nav/footer chrome);
    the hot-line set is tiny by construction and broadcasts."""
    docs = _read(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    return dd.remove_boilerplate_lines(
        _lineified(docs), max_doc_freq=2, min_chars=10).orderBy("doc_id")


def _dup_edges(spark, sf_dir):
    """Shared q59/q60 edge set: 2-gram Jaccard ≥ 0.08 pairs over
    doc_id < 120 (53 edges / 59 nodes / 7 components at sf0.01, largest
    27 — transitivity genuinely exercised)."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return docs, dd.ngram_jaccard_pairs(docs, k=2, threshold=0.08,
                                        max_df=60).select("a_id", "b_id")


def _q59_dup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components of the verified-pair
    graph via min-label propagation + pointer jumping (the transitive
    closure `minhash_dedup`'s pairwise rule lacks).  Oracle = recursive
    CTE reachability."""
    _, pairs = _dup_edges(spark, sf_dir)
    return (dd.connected_components(pairs)
            .select(F.col("id").alias("doc_id"), "component")
            .orderBy("doc_id"))


def _q60_cluster_keep_best(spark, sf_dir):
    """One survivor per duplicate cluster: the LONGEST member (n_chars,
    ties → lowest id) — CCNet's keep-the-longest-copy rule; unpaired
    docs survive untouched."""
    docs, pairs = _dup_edges(spark, sf_dir)
    return (dd.cluster_dedup_keep_best(docs, pairs, order_col="n_chars")
            .select("doc_id", "lang", "n_chars").orderBy("doc_id"))


def _q53_oracle() -> str:
    from pdf_ocr_batch_ndrocr_lite_spark.operators.curation import (
        PUBLIC_SUFFIXES_2L,
    )
    in_list = ", ".join(f"'{s}'" for s in PUBLIC_SUFFIXES_2L)
    return f"""
        WITH u AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'https://w' || (doc_id % 7) || '.d'
                             || (doc_id % 3) || '.co.jp/p/' || doc_id
                        ELSE 'https://w' || (doc_id % 7) || '.d'
                             || (doc_id % 3) || '.example.org/p/' || doc_id
                   END AS url
            FROM documents
        ),
        h AS (
            SELECT doc_id,
                   lower(regexp_extract(url, '^[a-zA-Z]+://([^/:]+)', 1))
                       AS host
            FROM u
        ),
        p AS (SELECT doc_id, host, string_split(host, '.') AS parts FROM h),
        d AS (
            SELECT doc_id,
                   CASE WHEN len(parts) <= 2 THEN host
                        WHEN (parts[len(parts)-1] || '.' || parts[len(parts)])
                             IN ({in_list})
                        THEN parts[len(parts)-2] || '.'
                             || parts[len(parts)-1] || '.'
                             || parts[len(parts)]
                        ELSE parts[len(parts)-1] || '.' || parts[len(parts)]
                   END AS domain
            FROM p
        ),
        ranked AS (
            SELECT doc_id, domain,
                   ROW_NUMBER() OVER (PARTITION BY domain
                                      ORDER BY doc_id) AS rn
            FROM d
        )
        SELECT doc_id, domain FROM ranked WHERE rn <= 3 ORDER BY doc_id
    """


def _q50_curation_pipeline(spark, sf_dir):
    """The composed keep/drop verdict a CCNet/Gopher-style curation pass
    makes per document: exact dedup (first-seen wins) > language ID >
    composite quality > n-gram repetition, each reusing the standalone
    operator (dedup window, lang_id, quality_score, repetition_stats).
    The oracle recomputes the whole cascade in one SQL query."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu

    # spread the single-file sf table so the heavy per-row signal
    # projections (grams/lang/quality) parallelize; see q49 note
    docs = _read(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    return cu.curation_verdict(docs).select("doc_id", "keep", "reason") \
        .orderBy("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_rollup": _q01_pricing_rollup,
        "q02_name_rule_filter": _q02_name_rule_filter,
        "q03_threshold_filter": _q03_threshold_filter,
        "q04_first_wins_dedup": _q04_first_wins_dedup,
        "q05_anti_join_resume": _q05_anti_join_resume,
        "q06_broadcast_dim_join": _q06_broadcast_dim_join,
        "q07_corpus_sort": _q07_corpus_sort,
        "q08_regex_extract": _q08_regex_extract,
        "q09_split_stats": _q09_split_stats,
        "q10_rollup_lineage": _q10_rollup_lineage,
        "q11_dedup_exact": _q11_dedup_exact,
        "q12_minhash_signatures": _q12_minhash_signatures,
        "q13_jaccard_pairs": _q13_jaccard_pairs,
        "q14_simhash": _q14_simhash,
        "q15_ann_topk": _q15_ann_topk,
        "q16_ann_topk_bucket": _q16_ann_topk_bucket,
        "q17_lang_id": _q17_lang_id,
        "q18_quality_score": _q18_quality_score,
        "q19_token_counts": _q19_token_counts,
        "q20_fingerprint": _q20_fingerprint,
        "q21_media_summary": _q21_media_summary,
        "q22_media_features": _q22_media_features,
        "q23_events_window": _q23_events_window,
        "q24_extraction_pipeline": _q24_extraction_pipeline,
        "q25_priority_merge": _q25_priority_merge,
        "q26_posexplode": _q26_posexplode,
        "q27_sessionization": _q27_sessionization,
        "q28_cube_metrics": _q28_cube_metrics,
        "q29_embedding_near_dup": _q29_embedding_near_dup,
        "q30_lsh_candidates": _q30_lsh_candidates,
        "q31_url_canonicalize": _q31_url_canonicalize,
        "q32_domain_cap": _q32_domain_cap,
        "q33_salted_counts": _q33_salted_counts,
        "q34_minhash_dedup": _q34_minhash_dedup,
        "q35_asof_join": _q35_asof_join,
        "q36_range_join": _q36_range_join,
        "q37_hypertable_rollup": _q37_hypertable_rollup,
        "q38_kmv_sketch": _q38_kmv_sketch,
        "q39_rolling_hash": _q39_rolling_hash,
        "q40_rawpdf_route": _q40_rawpdf_route,
        "q41_pdf_page_explode": _q41_pdf_page_explode,
        "q42_lsh_buckets": _q42_lsh_buckets,
        "q43_exact_quantiles": _q43_exact_quantiles,
        "q44_page_geometry": _q44_page_geometry,
        "q45_searchable_pdf_sink": _q45_searchable_pdf_sink,
        "q46_image_normalization": _q46_image_normalization,
        "q47_text_layer_extraction": _q47_text_layer_extraction,
        "q48_glyph_decode": _q48_glyph_decode,
        "q49_repetition_stats": _q49_repetition_stats,
        "q50_curation_pipeline": _q50_curation_pipeline,
        "q51_ivf_ann": _q51_ivf_ann,
        "q52_shingle_df": _q52_shingle_df,
        "q53_psl_domain_cap": _q53_psl_domain_cap,
        "q54_decontamination": _q54_decontamination,
        "q55_sequence_packing": _q55_sequence_packing,
        "q56_stratified_sample": _q56_stratified_sample,
        "q57_line_dedup": _q57_line_dedup,
        "q58_boilerplate_lines": _q58_boilerplate_lines,
        "q59_dup_clusters": _q59_dup_clusters,
        "q60_cluster_keep_best": _q60_cluster_keep_best,
        "q61_transitive_dedup": _q61_transitive_dedup,
        "q62_incremental_dedup": _q62_incremental_dedup,
        "q63_quality_percentile_cut": _q63_quality_percentile_cut,
        "q64_clean_text": _q64_clean_text,
        "q65_pii_scrub": _q65_pii_scrub,
        "q66_stratified_exact_k": _q66_stratified_exact_k,
        "q67_packing_sharded": _q67_packing_sharded,
        "q68_psl_registrable": _q68_psl_registrable,
        "q69_classifier_logit": _q69_classifier_logit,
        "q70_chunk_documents": _q70_chunk_documents,
        "q71_stream_batch_dedup": _q71_stream_batch_dedup,
        "q72_kmeans_ivf": _q72_kmeans_ivf,
        "q73_temperature_sample": _q73_temperature_sample,
        "q74_vocab_topk": _q74_vocab_topk,
        "q75_training_shards": _q75_training_shards,
        "q76_simhash_pairs": _q76_simhash_pairs,
        "q77_ivf_broadcast_assign": _q77_ivf_broadcast_assign,
        "q78_media_image_meta": _q78_media_image_meta,
        "q79_ocr_engine": _q79_ocr_engine,
        "q80_fuzzy_decontam": _q80_fuzzy_decontam,
        "q81_knn_join": _q81_knn_join,
        "q82_contaminated_spans": _q82_contaminated_spans,
        "q83_url_dedup": _q83_url_dedup,
        "q84_outlink_indegree": _q84_outlink_indegree,
        "q85_pagerank": _q85_pagerank,
        "q86_trustrank": _q86_trustrank,
        "q87_anchor_text": _q87_anchor_text,
        "q88_pagerank_dangling": _q88_pagerank_dangling,
        "q89_resolve_links": _q89_resolve_links,
        "q90_host_pagerank": _q90_host_pagerank,
        "q91_media_encoder_seam": _q91_media_encoder_seam,
        "q92_host_trustrank": _q92_host_trustrank,
        "q93_host_rank_signal": _q93_host_rank_signal,
        "q94_canonical_dedup": _q94_canonical_dedup,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles.  Shingle machinery shared by q12/q13/q20.
# ---------------------------------------------------------------------------

_SHINGLE_CTE = """
words AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws
    FROM documents {where}
),
starts AS (
    SELECT doc_id, ws,
           unnest(range(1, greatest(len(ws) - {km1}, 1) + 1)) AS i
    FROM words
),
sh AS (
    SELECT doc_id, array_to_string(ws[i : i + {km1}], ' ') AS shingle
    FROM starts
)
"""


def _shingle_cte(where: str, k: int) -> str:
    return _SHINGLE_CTE.format(where=where, km1=k - 1)


# q34/q61 shared CTE chain: the full minhash pipeline — signatures,
# banded buckets, candidate pairs, candidate-subset shingle verify —
# ending at vpairs (the verified near-dup pairs).  q34 applies the
# pairwise lower-id-wins rule to vpairs; q61 the transitive
# cluster+keep-longest rule.
_MINHASH_VERIFY_CTES = """,
    sig AS (
        SELECT doc_id,
               MIN(md5('0:' || shingle)) AS h0,
               MIN(md5('1:' || shingle)) AS h1,
               MIN(md5('2:' || shingle)) AS h2,
               MIN(md5('3:' || shingle)) AS h3
        FROM sh GROUP BY doc_id
    ),
    buckets AS (
        SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band, h2 || '|' || h3 AS key FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id
    ),
    cdocs AS (
        SELECT a_id AS doc_id FROM cand
        UNION SELECT b_id FROM cand
    ),
    csh AS (
        SELECT DISTINCT doc_id, shingle FROM sh
        WHERE doc_id IN (SELECT doc_id FROM cdocs)
    ),
    kept AS (
        SELECT doc_id, shingle FROM csh
        WHERE shingle IN (SELECT shingle FROM csh
                          GROUP BY shingle HAVING COUNT(*) <= 60)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept
              GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
        FROM kept a JOIN kept b ON a.shingle = b.shingle
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    vpairs AS (
        SELECT i.a_id, i.b_id
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a_id
        JOIN sizes sb ON sb.doc_id = i.b_id
        JOIN cand c ON c.a_id = i.a_id AND c.b_id = i.b_id
        WHERE CAST(i.c AS DOUBLE)
              / (sa.n_sh + sb.n_sh - i.c) >= 0.08
    )
"""


# q59/q60 shared CTE chain: Jaccard ≥ 0.08 edge set (q13's machinery at a
# clustering-friendly threshold) → undirected closure → connected
# components as (id, MIN reachable label).
_DUP_CC_CTES = """,
    dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    kept AS (SELECT doc_id, shingle FROM dsh WHERE shingle IN
             (SELECT shingle FROM dsh GROUP BY shingle
              HAVING COUNT(*) <= 60)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                     COUNT(*) AS n_common
              FROM kept a JOIN kept b ON a.shingle = b.shingle
              WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
    edges AS (SELECT a_id, b_id FROM inter i
              JOIN sizes sa ON sa.doc_id = i.a_id
              JOIN sizes sb ON sb.doc_id = i.b_id
              WHERE CAST(i.n_common AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - i.n_common) >= 0.08),
    und AS (SELECT a_id AS s, b_id AS d FROM edges
            UNION SELECT b_id, a_id FROM edges),
    nodes AS (SELECT DISTINCT s AS id FROM und),
    r(id, label) AS (SELECT id, id FROM nodes
                     UNION
                     SELECT u.d, r.label FROM r JOIN und u ON u.s = r.id),
    cc AS (SELECT id, MIN(label) AS component FROM r GROUP BY id)
"""


# 6-word line-ification of documents.text — the DuckDB twin of
# `_lineified` (list slicing is 1-based INCLUSIVE: [i*6+1 : i*6+6] is six
# elements; range() over a column works where lateral generate_series
# does not).
_LINES_CTE = """
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents),
    lines AS (
        SELECT doc_id, CAST(u.i AS INT) AS pos,
               array_to_string(ws[u.i*6+1 : u.i*6+6], ' ') AS line
        FROM w, unnest(range(CAST(ceil(len(ws)/6.0) AS BIGINT))) u(i))
"""


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_rollup": """
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2)
                        AS DOUBLE) AS sum_qty,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                        AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS count_order,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_returned
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2024-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q02_name_rule_filter": r"""
            SELECT lang, COUNT(*) AS n_docs
            FROM documents
            WHERE NOT regexp_matches(source, '_ocr(_\d{3,})?$')
              AND regexp_matches(text, '\bspark\b')
            GROUP BY lang ORDER BY lang
        """,
        "q03_threshold_filter": """
            SELECT lang, COUNT(*) AS total,
                   CAST(SUM(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END)
                        AS BIGINT) AS has_text,
                   CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END)
                        AS BIGINT) AS needs_ocr
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "q04_first_wins_dedup": """
            SELECT user_id, event_type, event_id FROM (
                SELECT user_id, event_type, event_id,
                       ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ) WHERE rn = 1 ORDER BY user_id, event_type
        """,
        "q05_anti_join_resume": """
            SELECT c_custkey, c_mktsegment FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 400000)
            ORDER BY c_custkey
        """,
        "q06_broadcast_dim_join": """
            SELECT p_brand, COUNT(*) AS n_items,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                        AS DOUBLE) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand ORDER BY p_brand
        """,
        "q07_corpus_sort": """
            SELECT doc_id, source, lower(source) AS lsrc
            FROM documents ORDER BY lsrc, doc_id LIMIT 20
        """,
        "q08_regex_extract": r"""
            SELECT event_id,
                   CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT)
                       AS k_val
            FROM events ORDER BY event_id
        """,
        "q09_split_stats": r"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '') AS ws
                FROM documents
            )
            SELECT doc_id, len(ws) AS n_words,
                   ws[1] AS first_word, ws[len(ws)] AS last_word
            FROM w ORDER BY doc_id
        """,
        "q10_rollup_lineage": """
            SELECT lang, COUNT(*) AS docs,
                   CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY ROLLUP(lang)
            ORDER BY lang ASC NULLS FIRST
        """,
        "q11_dedup_exact": """
            SELECT md5(substring(text, 1, 40)) AS text_md5,
                   COUNT(*) AS dup_count, MIN(doc_id) AS keep_id
            FROM documents
            GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY text_md5
        """,
        "q12_minhash_signatures": "WITH " + _shingle_cte(
            "WHERE doc_id < 200", 3) + """
            SELECT doc_id,
                   MIN(md5('0:' || shingle)) AS h0,
                   MIN(md5('1:' || shingle)) AS h1,
                   MIN(md5('2:' || shingle)) AS h2,
                   MIN(md5('3:' || shingle)) AS h3
            FROM sh GROUP BY doc_id ORDER BY doc_id
        """,
        "q13_jaccard_pairs": "WITH " + _shingle_cte(
            "WHERE doc_id < 120", 2) + """,
            dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
            kept AS (
                SELECT doc_id, shingle FROM dsh
                WHERE shingle IN (SELECT shingle FROM dsh
                                  GROUP BY shingle HAVING COUNT(*) <= 60)
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept
                      GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                       COUNT(*) AS n_common
                FROM kept a JOIN kept b ON a.shingle = b.shingle
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT i.a_id, i.b_id, i.n_common,
                   CAST(i.n_common AS DOUBLE)
                       / (sa.n_sh + sb.n_sh - i.n_common) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.a_id
            JOIN sizes sb ON sb.doc_id = i.b_id
            WHERE CAST(i.n_common AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - i.n_common) >= 0.05
            ORDER BY a_id, b_id
        """,
        "q15_ann_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                       WHERE vec_id = 0),
            scored AS (
                SELECT vec_id,
                       list_cosine_similarity(embedding::DOUBLE[], q.qv)
                           AS cosine
                FROM embeddings, q
            )
            SELECT vec_id,
                   ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
            FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "q16_ann_topk_bucket": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                       WHERE vec_id = 0),
            scored AS (
                SELECT e.label, e.vec_id,
                       list_cosine_similarity(e.embedding::DOUBLE[], q.qv)
                           AS cosine
                FROM embeddings e, q
            )
            SELECT label, vec_id, rank FROM (
                SELECT label, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY label
                                          ORDER BY cosine DESC, vec_id)
                           AS rank
                FROM scored
            ) WHERE rank <= 3 ORDER BY label, rank
        """,
        "q17_lang_id": r"""
            WITH feats AS (
                SELECT doc_id,
                       len(regexp_extract_all(text,
                           '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]')) AS cjk,
                       length(text) AS n,
                       len(regexp_extract_all(lower(text),
                           '\b(the|and|of|to|in|is|for)\b')) AS en_n,
                       len(regexp_extract_all(lower(text),
                           '\b(der|die|und|das|ist|nicht|ein)\b')) AS de_n,
                       len(regexp_extract_all(lower(text),
                           '\b(el|la|de|que|y|los|para)\b')) AS es_n
                FROM documents
            ),
            pred AS (
                SELECT doc_id,
                       CASE WHEN cjk * 4 >= n THEN 'cjk'
                            WHEN greatest(en_n, de_n, es_n) = 0 THEN 'unknown'
                            WHEN en_n >= de_n AND en_n >= es_n THEN 'en'
                            WHEN de_n >= es_n THEN 'de'
                            ELSE 'es' END AS lang_pred
                FROM feats
            )
            SELECT lang_pred, COUNT(*) AS n FROM pred
            GROUP BY lang_pred ORDER BY lang_pred
        """,
        "q18_quality_score": r"""
            WITH f AS (
                SELECT doc_id,
                       length(text) AS n_chars_obs,
                       len(list_filter(string_split_regex(text, '\s+'),
                                       x -> x <> '')) AS n_words,
                       len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
                       len(regexp_extract_all(lower(text),
                           '\b(the|and|of|to|in|is|for)\b')) AS n_stop
                FROM documents WHERE doc_id < 200
            )
            SELECT doc_id, n_chars_obs, n_words,
                   CASE WHEN n_chars_obs > 0
                        THEN CAST(n_punct AS DOUBLE) / n_chars_obs
                        ELSE 0.0 END AS punct_ratio,
                   CASE WHEN n_words > 0
                        THEN CAST(n_stop AS DOUBLE) / n_words
                        ELSE 0.0 END AS stopword_ratio,
                   least(n_words / 100.0, 1.0) * 0.4
                     + least(CASE WHEN n_words > 0
                                  THEN CAST(n_stop AS DOUBLE) / n_words
                                  ELSE 0.0 END * 5.0, 1.0) * 0.4
                     + CASE WHEN n_words > 0
                                 AND CAST(n_chars_obs AS DOUBLE)/n_words >= 3
                                 AND CAST(n_chars_obs AS DOUBLE)/n_words <= 12
                            THEN 0.2 ELSE 0.0 END AS quality
            FROM f ORDER BY doc_id
        """,
        "q19_token_counts": r"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '')) AS ws_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
            FROM documents ORDER BY doc_id
        """,
        "q20_fingerprint": "WITH " + _shingle_cte("", 5) + """
            SELECT doc_id, MIN(md5(shingle)) AS fingerprint
            FROM sh GROUP BY doc_id ORDER BY doc_id
        """,
        "q21_media_summary": """
            SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   COUNT(*) AS n_items,
                   CAST(SUM(octet_length(encode(text))) AS BIGINT)
                       AS total_bytes,
                   CAST(SUM(length(text) * 10) AS BIGINT)
                       AS total_duration_ms
            FROM documents GROUP BY 1 ORDER BY kind
        """,
        "q23_events_window": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
                       AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "q25_priority_merge": """
            SELECT doc_id,
                   COALESCE(CASE WHEN n_chars >= 300 THEN source END,
                            CASE WHEN n_chars >= 150 THEN 'xml:' || lang END,
                            'txt:fallback') AS merged_source
            FROM documents ORDER BY doc_id
        """,
        "q26_posexplode": r"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '') AS ws
                FROM documents WHERE doc_id < 50
            ),
            e AS (
                SELECT doc_id, ws,
                       unnest(range(1, len(ws) + 1)) AS i
                FROM w
            )
            SELECT doc_id, i - 1 AS pos, ws[i] AS word
            FROM e WHERE i <= 5 ORDER BY doc_id, pos
        """,
        "q27_sessionization": """
            WITH lagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN LAG(ts) OVER w IS NULL
                              OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
                SELECT user_id,
                       SUM(new_session) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING)
                           AS session_id
                FROM lagged
            ),
            per_session AS (
                SELECT user_id, session_id, COUNT(*) AS n_events
                FROM sess GROUP BY user_id, session_id
            )
            SELECT user_id, COUNT(*) AS n_sessions,
                   MAX(n_events) AS max_session_events
            FROM per_session GROUP BY user_id ORDER BY user_id
        """,
        "q28_cube_metrics": """
            SELECT lang, source, COUNT(*) AS docs,
                   CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY CUBE(lang, source)
            ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST
        """,
        "q29_embedding_near_dup": """
            WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                       FROM embeddings)
            SELECT a.vec_id AS a_id, b.vec_id AS b_id
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.35
            ORDER BY a_id, b_id
        """,
        "q30_lsh_candidates": "WITH " + _shingle_cte(
            "WHERE doc_id < 200", 3) + """,
            sig AS (
                SELECT doc_id,
                       MIN(md5('0:' || shingle)) AS h0,
                       MIN(md5('1:' || shingle)) AS h1,
                       MIN(md5('2:' || shingle)) AS h2,
                       MIN(md5('3:' || shingle)) AS h3
                FROM sh GROUP BY doc_id
            ),
            buckets AS (
                SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig
                UNION ALL
                SELECT doc_id, 1 AS band, h2 || '|' || h3 AS key FROM sig
            )
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.key = b.key
            WHERE a.doc_id < b.doc_id
            ORDER BY a_id, b_id
        """,
        "q31_url_canonicalize": r"""
            WITH u AS (
                SELECT doc_id,
                       'HTTPS://WWW.' || source || '.Example.ORG/p/' ||
                       doc_id ||
                       CASE WHEN doc_id % 5 = 0
                                THEN '?utm_source=feed&id=' || doc_id
                            WHEN doc_id % 5 = 1 THEN '?id=1&utm_campaign=x'
                            WHEN doc_id % 5 = 2 THEN '#section-2'
                            WHEN doc_id % 5 = 3 THEN '/'
                            ELSE '' END AS url
                FROM documents
            )
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                     regexp_replace(regexp_replace(regexp_replace(
                       lower(regexp_extract(url, '^([a-zA-Z]+://[^/]+)', 1))
                       || regexp_replace(url, '^[a-zA-Z]+://[^/]+', '', 'g'),
                       '#.*$', '', 'g'),
                       '(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '', 'g'),
                       '\?&+', '?', 'g'),
                       '&&+', '&', 'g'),
                       '[?&]$', '', 'g'),
                       '/$', '', 'g') AS canon_url,
                   lower(regexp_extract(url, '^[a-zA-Z]+://([^/:]+)', 1))
                       AS domain
            FROM u ORDER BY doc_id
        """,
        "q32_domain_cap": """
            WITH u AS (
                SELECT doc_id,
                       'https://d' || (doc_id % 10) || '.example.org/p/' ||
                       doc_id AS url
                FROM documents
            ),
            ranked AS (
                SELECT doc_id,
                       lower(regexp_extract(url, '^[a-zA-Z]+://([^/:]+)', 1))
                           AS domain,
                       ROW_NUMBER() OVER (
                           PARTITION BY lower(regexp_extract(url,
                               '^[a-zA-Z]+://([^/:]+)', 1))
                           ORDER BY doc_id) AS rn
                FROM u
            )
            SELECT doc_id, domain FROM ranked WHERE rn <= 3
            ORDER BY doc_id
        """,
        "q33_salted_counts": """
            SELECT event_type, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2)
                        AS DOUBLE) AS total
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q34_minhash_dedup": "WITH " + _shingle_cte(
            "WHERE doc_id < 120", 2) + _MINHASH_VERIFY_CTES + """,
            losers AS (SELECT DISTINCT b_id FROM vpairs)
            SELECT doc_id FROM documents
            WHERE doc_id < 120
              AND doc_id NOT IN (SELECT b_id FROM losers)
            ORDER BY doc_id
        """,
        # q61 = q34's verified-pair pipeline with the transitive survivor
        # rule: recursive-CTE components over vpairs, keep the longest
        # text per component (ties -> lowest id).
        "q61_transitive_dedup": "WITH RECURSIVE " + _shingle_cte(
            "WHERE doc_id < 120", 2) + _MINHASH_VERIFY_CTES + """,
            und AS (SELECT a_id AS s, b_id AS d FROM vpairs
                    UNION SELECT b_id, a_id FROM vpairs),
            nodes AS (SELECT DISTINCT s AS id FROM und),
            r(id, label) AS (SELECT id, id FROM nodes
                             UNION
                             SELECT u.d, r.label FROM r
                             JOIN und u ON u.s = r.id),
            cc AS (SELECT id, MIN(label) AS component FROM r GROUP BY id),
            winners AS (
                SELECT id FROM (
                    SELECT cc.id,
                           ROW_NUMBER() OVER (PARTITION BY component
                                              ORDER BY length(d.text) DESC,
                                                       cc.id) AS rn
                    FROM cc JOIN documents d ON d.doc_id = cc.id) t
                WHERE rn = 1),
            losers AS (SELECT id FROM cc
                       WHERE id NOT IN (SELECT id FROM winners))
            SELECT doc_id FROM documents
            WHERE doc_id < 120
              AND doc_id NOT IN (SELECT id FROM losers)
            ORDER BY doc_id
        """,
        "q35_asof_join": """
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'
            ),
            errors AS (
                SELECT event_id AS err_id, user_id, ts FROM events
                WHERE event_type = 'error'
            )
            SELECT c.event_id, c.user_id, e.err_id AS last_err_id
            FROM clicks c
            ASOF LEFT JOIN errors e
              ON c.user_id = e.user_id AND c.ts >= e.ts
            ORDER BY c.event_id
        """,
        "q36_range_join": """
            WITH bands(band_id, lo, hi) AS (
                VALUES (0, 0.0, 5000.0), (1, 5000.0, 20000.0),
                       (2, 20000.0, 60000.0), (3, 60000.0, 120000.0)
            )
            SELECT b.band_id, COUNT(*) AS n_items
            FROM lineitem l JOIN bands b
              ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
            GROUP BY b.band_id ORDER BY b.band_id
        """,
        "q37_hypertable_rollup": """
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   date_trunc('hour', ts) AS hour, COUNT(*) AS n
            FROM events
            GROUP BY ROLLUP(event_type, CAST(date_trunc('day', ts)
                                             AS TIMESTAMP),
                            date_trunc('hour', ts))
            ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST,
                     hour ASC NULLS FIRST
        """,
        "q38_kmv_sketch": """
            WITH h AS (
                SELECT DISTINCT event_type,
                       CAST(('0x' || substring(
                            md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                           AS hv
                FROM events
            ),
            ranked AS (
                SELECT event_type, hv,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY hv) AS rn
                FROM h
            ),
            mins AS (SELECT event_type, hv, rn FROM ranked WHERE rn <= 64),
            agg AS (
                SELECT event_type, COUNT(*) AS n, MAX(hv) AS kth
                FROM mins GROUP BY event_type
            )
            SELECT event_type,
                   CASE WHEN n < 64 THEN n
                        ELSE CAST(FLOOR(63.0 / (CAST(kth AS DOUBLE)
                             / 1152921504606846976.0)) AS BIGINT)
                   END AS kmv_estimate,
                   n AS sketch_size
            FROM agg ORDER BY event_type
        """,
        "q39_rolling_hash": """
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(7 AS BIGINT),
                       list_transform(
                         string_split(substring(text, 1, 256), ''),
                         c -> CAST(unicode(c) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 288230376151711717) AS rhash
            FROM documents ORDER BY doc_id
        """,
        # SimHash near-dup pairs: same word/fingerprint arithmetic as
        # q14 over rule-synthesized texts, the 4x15-bit band candidate
        # join, and the bit_count(xor) verify — all exact integer ops.
        "q76_simhash_pairs": r"""
            WITH base AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id,
                       CAST(doc_id % 25 AS BIGINT) AS cls
                FROM documents WHERE doc_id < 150
            ),
            words AS (
                SELECT doc_id, 'c' || cls || '_' || i AS word
                FROM base, (SELECT unnest(range(1, 21)) AS i)
                UNION ALL
                SELECT doc_id, 'extra' || (doc_id % 7) AS word
                FROM base WHERE doc_id % 5 = 4
            ),
            wh AS (
                SELECT doc_id,
                       CAST(('0x' || substring(md5(word), 1, 15)) AS BIGINT)
                           AS wh
                FROM words
            ),
            bits AS (SELECT unnest(range(0, 60)) AS bit),
            votes AS (
                SELECT doc_id, bit,
                       SUM(CASE WHEN ((wh >> bit) & 1) = 1
                                THEN 1 ELSE -1 END) AS s
                FROM wh CROSS JOIN bits
                GROUP BY doc_id, bit
            ),
            fp AS MATERIALIZED (
                SELECT doc_id,
                       CAST(SUM(CASE WHEN s > 0
                                     THEN (CAST(1 AS BIGINT) << bit)
                                     ELSE 0 END) AS BIGINT) AS simhash
                FROM votes GROUP BY doc_id
            ),
            slices AS MATERIALIZED (
                SELECT doc_id, simhash, b.band,
                       (simhash >> (b.band * 15)) & 32767 AS key
                FROM fp, (SELECT unnest(range(0, 4)) AS band) b
            ),
            cand AS (
                SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                       x.simhash AS sa, y.simhash AS sb
                FROM slices x JOIN slices y
                  ON x.band = y.band AND x.key = y.key
                WHERE x.doc_id < y.doc_id
            )
            SELECT a_id, b_id,
                   CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= 3
            ORDER BY a_id, b_id
        """,
        "q14_simhash": r"""
            WITH words AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(text, '\s+'),
                                          w -> w <> '')) AS word
                FROM documents WHERE doc_id < 200
            ),
            wh AS (
                SELECT doc_id,
                       CAST(('0x' || substring(md5(word), 1, 15)) AS BIGINT)
                           AS wh
                FROM words
            ),
            bits AS (SELECT unnest(range(0, 60)) AS bit),
            votes AS (
                SELECT doc_id, bit,
                       SUM(CASE WHEN ((wh >> bit) & 1) = 1
                                THEN 1 ELSE -1 END) AS s
                FROM wh CROSS JOIN bits
                GROUP BY doc_id, bit
            )
            SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0
                                 THEN (CAST(1 AS BIGINT) << bit)
                                 ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id ORDER BY doc_id
        """,
        "q22_media_features": """
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS digest,
                   CASE WHEN doc_id % 3 = 0 THEN 1
                        ELSE 1 + (CAST(('0x' || substring(md5(text), 1, 2))
                                       AS INTEGER) % 16)
                   END AS n_frames
            FROM documents WHERE doc_id < 100 ORDER BY media_id
        """,
        # Flagship byte-identity gate: the fixture freezes the expected
        # (url, action, extracted_text) at sf0.01.  The kernels themselves
        # are proven byte-identical to the read-only reference by the
        # golden parity suite; this row makes the end-to-end composition
        # driver-visible (round 1 left it `no_oracle`).
        "q24_extraction_pipeline": f"""
            SELECT url, action, extracted_text
            FROM read_parquet('{_EXTRACTION_FIXTURE}')
            ORDER BY url
        """,
        # Raw-PDF route: the oracle predicts the dispatcher's decision from
        # the deterministic generation rule — the Spark side earns the
        # same answer by actually parsing the PDF bytes.  Routing truth
        # table for all 16 fixture classes.  parse_warnings: structural/
        # password failures carry 1 (the never-throw action row), the
        # undecodable-JPX class carries 1 ("could not rule text out" —
        # round-2's silent wrong-direction routing, now surfaced), every
        # decodable class 0 — including the AES empty-password classes
        # (12 = AESV2, 14 = AESV3/R6), which must route by their TEXT
        # LAYER exactly like plaintext (the class the engine previously
        # rejected wholesale).
        "q40_rawpdf_route": """
            SELECT CAST(doc_id AS INTEGER) AS doc_id,
                   CASE doc_id % 16
                        WHEN 0 THEN 'needs_ocr'
                        WHEN 1 THEN 'skip_has_text'
                        WHEN 2 THEN 'needs_ocr'
                        WHEN 3 THEN 'skip_has_text'
                        WHEN 4 THEN 'parse_failure'
                        WHEN 5 THEN 'parse_failure'
                        WHEN 6 THEN 'needs_ocr'
                        WHEN 7 THEN 'skip_has_text'
                        WHEN 8 THEN 'skip_has_text'
                        WHEN 9 THEN 'skip_has_text'
                        WHEN 10 THEN 'needs_ocr'
                        WHEN 11 THEN 'skip_has_text'
                        WHEN 12 THEN 'skip_has_text'
                        WHEN 13 THEN 'parse_failure'
                        WHEN 14 THEN 'skip_has_text'
                        ELSE 'parse_failure' END AS action,
                   CASE doc_id % 16
                        WHEN 0 THEN 2
                        WHEN 2 THEN 23
                        WHEN 4 THEN 0
                        WHEN 5 THEN 0
                        WHEN 11 THEN 3
                        WHEN 13 THEN 0
                        WHEN 15 THEN 0
                        ELSE 1 END AS page_count,
                   CASE WHEN doc_id % 16 IN (4, 5, 10, 13, 15) THEN 1
                        ELSE 0 END AS parse_warnings
            FROM documents ORDER BY doc_id
        """,
        # Per-page explode: the oracle derives every page row from the
        # doc_id%16 generation rule — page counts, which page carries text,
        # and the exact whitespace-stripped char count of that page's
        # show-string ("text layer {id}" → 9 + digits, "lzw text {id}" →
        # 7 + digits, "aesv2 text {id}" → 9 + digits after AES-CBC
        # decrypt, etc.).  The undecodable-JPX class (v=10) parses as a
        # page with ZERO ops/chars (stream undecodable ≠ doc unreadable).
        "q41_pdf_page_explode": """
            WITH base AS (
                SELECT CAST(doc_id AS INTEGER) AS doc_id,
                       CAST(doc_id % 16 AS INTEGER) AS v,
                       CAST(length(CAST(doc_id AS VARCHAR)) AS INTEGER) AS dl
                FROM documents WHERE doc_id % 16 NOT IN (4, 5, 13, 15)
            ),
            pages AS (
                SELECT doc_id, v, dl,
                       CAST(unnest(range(0, CASE v WHEN 0 THEN 2
                                                   WHEN 2 THEN 23
                                                   WHEN 11 THEN 3
                                                   ELSE 1 END)) AS INTEGER)
                           AS page_index
                FROM base
            )
            SELECT doc_id, page_index,
                   CASE WHEN v IN (1, 3, 7, 8, 9, 12, 14)
                             OR (v = 2 AND page_index = 22)
                             OR (v = 11 AND page_index = 0)
                        THEN 1 ELSE 0 END AS n_text_ops,
                   CASE WHEN v = 1 THEN 9 + dl
                        WHEN v = 3 THEN 12 + dl
                        WHEN v = 2 AND page_index = 22 THEN 8 + dl
                        WHEN v = 7 THEN 7 + dl
                        WHEN v = 8 THEN 7 + dl
                        WHEN v = 9 THEN 6 + dl
                        WHEN v = 11 AND page_index = 0 THEN 10 + dl
                        WHEN v = 12 THEN 9 + dl
                        WHEN v = 14 THEN 9 + dl
                        ELSE 0 END AS n_chars
            FROM pages ORDER BY doc_id, page_index
        """,
        # Glyph decoding: the oracle rebuilds the DECODED text with chr()
        # from the same doc_id rule — hiragana via /Differences (v=0), CJK
        # via a CID /ToUnicode bfrange (v=1, n_chars = CODE count), smart
        # quotes via /WinAnsiEncoding cp1252 (v=2: bytes 0x91-0x94 →
        # U+2018/U+2019/U+201C/U+201D), plain latin control (v=3),
        # ToUnicode-less Identity-H = UTF-16BE identity (v=4, CJK),
        # ToUnicode-less /UniJIS-UCS2-H = UCS-2 identity (v=5,
        # hiragana), ToUnicode-less /90ms-RKSJ-H = cp932 code-space
        # decode (v=6, katakana), and a registry in NO table (v=7):
        # U+FFFD per code, count per CODE, one parse warning (the
        # surfaced degradation boundary).
        "q48_glyph_decode": """
            WITH base AS (
                SELECT CAST(doc_id AS INTEGER) AS doc_id,
                       CAST(doc_id % 9 AS INTEGER) AS v,
                       CAST(doc_id % 5 + 3 AS INTEGER) AS n,
                       CAST(length(CAST(doc_id AS VARCHAR)) AS INTEGER) AS dl
                FROM documents
            ),
            glyphs AS (
                SELECT doc_id, v, n,
                       CAST(unnest(range(0, CAST(n AS BIGINT)))
                            AS INTEGER) AS j
                FROM base WHERE v IN (0, 1, 2, 4, 5, 6, 8)
            ),
            decoded AS (
                SELECT doc_id, v, n,
                       string_agg(
                           CASE WHEN v = 0
                                THEN chr(12354 + (doc_id + j) % 26)
                                WHEN v = 1
                                THEN chr(19968 + (doc_id + j) % 80)
                                WHEN v = 4
                                THEN chr(19968 + (doc_id + j) % 80)
                                WHEN v = 5
                                THEN chr(12354 + (doc_id + j) % 50)
                                WHEN v = 6
                                THEN chr(12450 + (doc_id + j) % 40)
                                WHEN v = 8
                                THEN CASE (doc_id + j) % 6
                                     WHEN 0 THEN chr(12316)
                                     WHEN 1 THEN chr(8214)
                                     WHEN 2 THEN chr(8722)
                                     WHEN 3 THEN chr(162)
                                     WHEN 4 THEN chr(163)
                                     ELSE chr(172) END
                                ELSE CASE (doc_id + j) % 4
                                     WHEN 0 THEN chr(8216)
                                     WHEN 1 THEN chr(8217)
                                     WHEN 2 THEN chr(8220)
                                     ELSE chr(8221) END END,
                           '' ORDER BY j) AS text_layer
                FROM glyphs GROUP BY doc_id, v, n
            )
            SELECT doc_id, n AS n_chars, text_layer,
                   0 AS parse_warnings
            FROM decoded
            UNION ALL
            SELECT doc_id, 5 + dl AS n_chars,
                   'plain ' || CAST(doc_id AS VARCHAR) AS text_layer,
                   0 AS parse_warnings
            FROM base WHERE v = 3
            UNION ALL
            SELECT doc_id, n AS n_chars,
                   repeat(chr(65533), n) AS text_layer,
                   1 AS parse_warnings
            FROM base WHERE v = 7
            ORDER BY doc_id
        """,
        "q42_lsh_buckets": _q42_oracle(),
        "q51_ivf_ann": _q51_oracle(),
        "q72_kmeans_ivf": _q72_oracle(),
        "q77_ivf_broadcast_assign": _q77_oracle(),
        "q78_media_image_meta": _q78_oracle(),
        "q79_ocr_engine": _q79_oracle(),
        "q80_fuzzy_decontam": _q80_oracle(),
        "q81_knn_join": _q81_oracle(),
        "q82_contaminated_spans": _q82_oracle(),
        "q83_url_dedup": r"""
            WITH u AS (
                SELECT doc_id, doc_id // 5 AS page FROM documents
            ),
            urls AS (
                SELECT doc_id,
                       CASE doc_id % 5
                         WHEN 0 THEN 'HTTPS://WWW.S' || (page % 3) ||
                                     '.Example.ORG/p/' || page
                         WHEN 1 THEN 'https://www.s' || (page % 3) ||
                                     '.example.org/p/' || page ||
                                     '?utm_source=feed&gclid=x'
                         WHEN 2 THEN 'https://www.s' || (page % 3) ||
                                     '.example.org/p/' || page || '#nav'
                         WHEN 3 THEN 'https://www.s' || (page % 3) ||
                                     '.example.org/p/' || page || '/'
                         ELSE 'https://www.s' || (page % 3) ||
                              '.example.org/p/' || page
                       END AS url
                FROM u
            ),
            canon AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(
                         regexp_replace(regexp_replace(regexp_replace(
                           lower(regexp_extract(url,
                               '^([a-zA-Z]+://[^/]+)', 1))
                           || regexp_replace(url,
                               '^[a-zA-Z]+://[^/]+', '', 'g'),
                           '#.*$', '', 'g'),
                           '(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '', 'g'),
                           '\?&+', '?', 'g'),
                           '&&+', '&', 'g'),
                           '[?&]$', '', 'g'),
                           '/$', '', 'g') AS canon_url
                FROM urls
            ),
            ranked AS (
                SELECT doc_id, canon_url,
                       ROW_NUMBER() OVER (PARTITION BY canon_url
                                          ORDER BY doc_id) AS rn
                FROM canon
            )
            SELECT doc_id, canon_url FROM ranked WHERE rn = 1
            ORDER BY doc_id
        """,
        "q84_outlink_indegree": r"""
            WITH h AS (
                SELECT doc_id,
                       '<html><body><a href="https://s' ||
                       ((doc_id * 7 + 1) % 20) ||
                       '.example.org/">a</a>' ||
                       CASE WHEN doc_id % 3 = 0
                            THEN '<a href="https://s' ||
                                 ((doc_id * 7 + 5) % 20) ||
                                 '.example.org/page/' || doc_id ||
                                 '">b</a>'
                            ELSE '' END ||
                       '<a href="/local">c</a></body></html>' AS html
                FROM documents WHERE doc_id < 300
            ),
            links AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(html,
                           'href="(https?://[^"]+)"', 1)) AS target
                FROM h
            )
            SELECT target, CAST(COUNT(*) AS BIGINT) AS inlinks
            FROM links GROUP BY target ORDER BY target
        """,
        "q85_pagerank": r"""
            WITH n AS (
                SELECT doc_id AS id FROM documents WHERE doc_id < 200
            ),
            e AS (
                SELECT DISTINCT id AS src, (id * 17 + k) % 200 AS dst
                FROM n, (SELECT unnest([1, 2, 3]) AS k)
                WHERE k <= 1 + id % 3
            ),
            od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
            nodes AS (SELECT src AS id FROM e
                      UNION SELECT dst AS id FROM e),
            r0 AS (SELECT id, 1000000000000 // 200 AS r FROM nodes),
            i1 AS (
                SELECT nd.id,
                       CAST(((1000000000000 * 15) // 100) // 200
                            + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT)
                           AS r
                FROM nodes nd LEFT JOIN (
                    SELECT e.dst AS id,
                           CAST(SUM(r0.r // od.outdeg) AS BIGINT) AS m
                    FROM e JOIN r0 ON r0.id = e.src
                           JOIN od ON od.src = e.src
                    GROUP BY e.dst) s ON s.id = nd.id
            ),
            i2 AS (
                SELECT nd.id,
                       CAST(((1000000000000 * 15) // 100) // 200
                            + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT)
                           AS r
                FROM nodes nd LEFT JOIN (
                    SELECT e.dst AS id,
                           CAST(SUM(i1.r // od.outdeg) AS BIGINT) AS m
                    FROM e JOIN i1 ON i1.id = e.src
                           JOIN od ON od.src = e.src
                    GROUP BY e.dst) s ON s.id = nd.id
            ),
            i3 AS (
                SELECT nd.id,
                       CAST(((1000000000000 * 15) // 100) // 200
                            + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT)
                           AS r
                FROM nodes nd LEFT JOIN (
                    SELECT e.dst AS id,
                           CAST(SUM(i2.r // od.outdeg) AS BIGINT) AS m
                    FROM e JOIN i2 ON i2.id = e.src
                           JOIN od ON od.src = e.src
                    GROUP BY e.dst) s ON s.id = nd.id
            )
            SELECT id, r AS pr FROM i3 ORDER BY id
        """,
        "q86_trustrank": r"""
            WITH n AS (
                SELECT doc_id AS id FROM documents WHERE doc_id < 200
            ),
            e AS (
                SELECT DISTINCT id AS src, (id * 17 + k) % 200 AS dst
                FROM n, (SELECT unnest([1, 2, 3]) AS k)
                WHERE k <= 1 + id % 3
            ),
            od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
            nodes AS (SELECT src AS id FROM e
                      UNION SELECT dst AS id FROM e),
            r0 AS (
                SELECT id, CASE WHEN id % 10 = 0
                                THEN 1000000000000 // 20 ELSE 0 END AS r
                FROM nodes
            ),
            i1 AS (
                SELECT nd.id,
                       CAST(CASE WHEN nd.id % 10 = 0
                                 THEN ((1000000000000 * 15) // 100) // 20
                                 ELSE 0 END
                            + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT)
                           AS r
                FROM nodes nd LEFT JOIN (
                    SELECT e.dst AS id,
                           CAST(SUM(r0.r // od.outdeg) AS BIGINT) AS m
                    FROM e JOIN r0 ON r0.id = e.src
                           JOIN od ON od.src = e.src
                    GROUP BY e.dst) s ON s.id = nd.id
            ),
            i2 AS (
                SELECT nd.id,
                       CAST(CASE WHEN nd.id % 10 = 0
                                 THEN ((1000000000000 * 15) // 100) // 20
                                 ELSE 0 END
                            + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT)
                           AS r
                FROM nodes nd LEFT JOIN (
                    SELECT e.dst AS id,
                           CAST(SUM(i1.r // od.outdeg) AS BIGINT) AS m
                    FROM e JOIN i1 ON i1.id = e.src
                           JOIN od ON od.src = e.src
                    GROUP BY e.dst) s ON s.id = nd.id
            ),
            i3 AS (
                SELECT nd.id,
                       CAST(CASE WHEN nd.id % 10 = 0
                                 THEN ((1000000000000 * 15) // 100) // 20
                                 ELSE 0 END
                            + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT)
                           AS r
                FROM nodes nd LEFT JOIN (
                    SELECT e.dst AS id,
                           CAST(SUM(i2.r // od.outdeg) AS BIGINT) AS m
                    FROM e JOIN i2 ON i2.id = e.src
                           JOIN od ON od.src = e.src
                    GROUP BY e.dst) s ON s.id = nd.id
            )
            SELECT id, r AS tr FROM i3 ORDER BY id
        """,
        "q87_anchor_text": r"""
            WITH h AS (
                SELECT doc_id,
                       '<p><a href="https://t' || (doc_id % 20) ||
                       '.example.org/">w' || (doc_id % 5) ||
                       ' site</a>' ||
                       CASE WHEN doc_id % 4 = 0
                            THEN '<a href="https://t' ||
                                 ((doc_id * 3 + 1) % 20) ||
                                 '.example.org/" rel=nofollow>w' ||
                                 (doc_id % 3) || ' <b>page</b></a>'
                            ELSE '<a href="/rel">skip</a>' END ||
                       '</p>' AS html
                FROM documents WHERE doc_id < 300
            ),
            m AS (
                SELECT unnest(regexp_extract_all(html,
                           '<a\s([^>]*\s)?href="(https?://[^"]+)"[^>]*>([^<]*)<',
                           0)) AS mt
                FROM h
            ),
            pairs AS (
                SELECT regexp_extract(mt,
                           '<a\s([^>]*\s)?href="(https?://[^"]+)"[^>]*>([^<]*)<',
                           2) AS target,
                       regexp_extract(mt,
                           '<a\s([^>]*\s)?href="(https?://[^"]+)"[^>]*>([^<]*)<',
                           3) AS anchor
                FROM m
            )
            SELECT target, anchor, CAST(COUNT(*) AS BIGINT) AS n
            FROM pairs GROUP BY target, anchor
            ORDER BY target, anchor
        """,
        "q88_pagerank_dangling": _q88_oracle(),
        # Analytic statement of RFC-3986 resolution per link class (the
        # Spark side earns each target by actually folding dot segments)
        "q89_resolve_links": "WITH" + _LINKRES_P_CTE + r""",
            pages AS (
                SELECT 'https://site' || n || '.example' || n ||
                       '.org/a/b/page' || d || '.html' AS url,
                       CASE WHEN has_base THEN 'https://base' || b4 || '.net'
                            ELSE 'https://site' || n || '.example' || n ||
                                 '.org' END AS bhost,
                       CASE WHEN has_base THEN '/dir/' ELSE '/a/b/' END
                           AS bdir,
                       has_base, n, m, ab, k7, k5
                FROM p
            ),
            t AS (
                SELECT url, bhost || bdir || 'img/x' || k7 || '.html'
                           AS target FROM pages
                UNION ALL
                SELECT url, bhost || '/top/t' || k5 FROM pages
                UNION ALL
                SELECT url, bhost || CASE WHEN has_base THEN '/up.html'
                                          ELSE '/a/up.html' END FROM pages
                UNION ALL
                SELECT url, 'https://site' || m || '.example' || m ||
                            '.org/pr' FROM pages
                UNION ALL
                SELECT url, 'https://example' || ab || '.org/abs?q=1'
                FROM pages
            )
            SELECT url, target FROM t ORDER BY url, target
        """,
        "q90_host_pagerank": _q90_oracle(),
        "q92_host_trustrank": _q92_oracle(),
        "q93_host_rank_signal": _q93_oracle(),
        "q94_canonical_dedup": r"""
            WITH pg AS (
                SELECT doc_id,
                       'https://m' || (doc_id % 3) || '.example.org/p'
                           || doc_id AS url,
                       CASE WHEN doc_id % 5 = 4 THEN NULL
                            ELSE 'https://canon.example.org/a'
                                 || (doc_id % 40) END AS canon
                FROM documents WHERE doc_id < 300
            ),
            keyed AS (
                SELECT doc_id, url,
                       COALESCE(canon, url) AS canon_key
                FROM pg
            )
            SELECT doc_id, url, canon_key FROM keyed k
            WHERE doc_id = (SELECT MIN(k2.doc_id) FROM keyed k2
                            WHERE k2.canon_key = k.canon_key)
            ORDER BY doc_id
        """,
        "q91_media_encoder_seam": r"""
            WITH m AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN 'image'
                            WHEN doc_id % 3 = 1 THEN 'audio'
                            ELSE 'video' END AS kind,
                       md5(text || CASE WHEN doc_id % 3 = 0 THEN 'image'
                                        WHEN doc_id % 3 = 1 THEN 'audio'
                                        ELSE 'video' END) AS dg
                FROM documents WHERE doc_id < 100
            )
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(CASE WHEN kind = 'image' THEN 1
                        ELSE 1 + (CAST(('0x' || substring(dg, 3, 2))
                                       AS INTEGER) % 9) END
                        AS INTEGER) AS n_frames,
                   CAST(CAST(('0x' || substring(dg, 1, 2)) AS INTEGER)
                        AS DOUBLE) / 256 * 2 - 1 AS f0,
                   CAST(CAST(('0x' || substring(dg, 29, 2)) AS INTEGER)
                        AS DOUBLE) / 256 * 2 - 1 AS f7
            FROM m ORDER BY media_id
        """,
        "q53_psl_domain_cap": _q53_oracle(),
        # Full PSL algorithm: the oracle states the EXPECTED registrable
        # domain per generation class (wildcard children stay whole,
        # exceptions collapse to the carve-out, normal rules take
        # suffix+1) — an independent statement of publicsuffix.org
        # semantics, not a re-derivation of the Spark expression.
        "q68_psl_registrable": """
            SELECT doc_id,
                   CASE CAST(doc_id % 11 AS INTEGER)
                        WHEN 0 THEN 'd' || (doc_id % 3) || '.co.jp'
                        WHEN 1 THEN 'example.org'
                        WHEN 2 THEN 'x' || (doc_id % 5) || '.a'
                                    || (doc_id % 3) || '.kawasaki.jp'
                        WHEN 3 THEN 'city.kawasaki.jp'
                        WHEN 4 THEN 'shop' || (doc_id % 5) || '.foo'
                                    || (doc_id % 3) || '.ck'
                        WHEN 5 THEN 'www.ck'
                        WHEN 6 THEN 'ec2-' || doc_id
                                    || '.us-east-1.compute.amazonaws.com'
                        WHEN 7 THEN 'b' || (doc_id % 9) || '.s3.amazonaws.com'
                        WHEN 8 THEN 'd' || (doc_id % 3) || '.co.ke'
                        WHEN 9 THEN 'sch' || (doc_id % 5) || '.pvt.k12.ma.us'
                        ELSE 'bkt' || (doc_id % 9)
                             || '.s3.dualstack.ap-south-1.amazonaws.com'
                   END AS domain
            FROM documents ORDER BY doc_id
        """,
        # Hashed-BoW classifier logit: integer-tenth weights → exact
        # BIGINT sums on both engines (no float order, no libm sigmoid);
        # the weight list literal is generated from the same _BOW_W.
        "q69_classifier_logit": f"""
            WITH wt AS (SELECT {list(map(int, _BOW_W))}::BIGINT[] AS w),
            ws AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS l
                FROM documents
            ),
            t AS (SELECT doc_id, unnest(l) AS word FROM ws),
            s AS (
                SELECT t.doc_id,
                       CAST(SUM(w[1 + CAST(
                           CAST(('0x' || substring(md5(word), 1, 15))
                                AS BIGINT) % {_BOW_D} AS INTEGER)])
                           AS BIGINT) AS sw
                FROM t, wt GROUP BY t.doc_id
            )
            SELECT d.doc_id,
                   CAST(3 + COALESCE(s.sw, 0) AS BIGINT) AS logit_tenths,
                   (3 + COALESCE(s.sw, 0)) > 0 AS keep
            FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
            ORDER BY d.doc_id
        """,
        # Chunking: 40-token windows, stride 32; integer ceil-division
        # window count; DuckDB list slicing is 1-based inclusive and
        # truncates past the end (same tail semantics as Spark slice).
        "q70_chunk_documents": r"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '') AS ws
                FROM documents
            ),
            c AS (
                SELECT doc_id, ws, len(ws) AS n,
                       CASE WHEN len(ws) <= 40 THEN 1
                            ELSE (len(ws) - 40 + 31) // 32 + 1
                       END AS nc
                FROM w WHERE len(ws) > 0
            ),
            e AS (
                SELECT doc_id, ws, n,
                       CAST(unnest(range(0, CAST(nc AS BIGINT)))
                            AS INTEGER) AS chunk_id
                FROM c
            )
            SELECT doc_id, chunk_id,
                   array_to_string(
                       ws[chunk_id * 32 + 1 : chunk_id * 32 + 40],
                       ' ') AS chunk_text,
                   CAST(least(n - chunk_id * 32, 40) AS BIGINT) AS n_tokens
            FROM e ORDER BY doc_id, chunk_id
        """,
        # Decontamination: distinct doc-shingles vs the benchmark subset's
        # distinct shingle set; integer hit counts.
        "q54_decontamination": "WITH " + _shingle_cte("", 3) + """,
            dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
            bsh AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 37 = 0)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS matched_shingles
            FROM dsh WHERE shingle IN (SELECT shingle FROM bsh)
            GROUP BY doc_id HAVING COUNT(*) >= 2
            ORDER BY doc_id
        """,
        # Packing: running per-shard token sum BEFORE each doc → bin id +
        # offset at capacity 512.  // is DuckDB integer division (SUM over
        # BIGINT widens to HUGEINT; Spark's floor(double/512) is exact for
        # these magnitudes).
        "q55_sequence_packing": r"""
            WITH t AS (
                SELECT doc_id, lang AS shard,
                       CAST(len(list_filter(string_split_regex(text, '\s+'),
                                            x -> x <> '')) AS BIGINT)
                           AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, shard, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cb
                FROM t
            )
            SELECT doc_id, shard, n_tokens,
                   CAST(cb // 512 AS BIGINT) AS bin_id,
                   CAST(cb % 512 AS BIGINT) AS bin_offset
            FROM c ORDER BY doc_id
        """,
        # Packing on the composite (lang, md5-bucket) shard key — the
        # operator's default parallelism contract (same '0x'-cast md5
        # bucket as q56).
        "q67_packing_sharded": r"""
            WITH t AS (
                SELECT doc_id,
                       lang || '#' || CAST(
                           CAST(('0x' || substring(
                               md5(CAST(doc_id AS VARCHAR)), 1, 15))
                               AS BIGINT) % 8 AS VARCHAR) AS shard,
                       CAST(len(list_filter(string_split_regex(text, '\s+'),
                                            x -> x <> '')) AS BIGINT)
                           AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, shard, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cb
                FROM t
            )
            SELECT doc_id, shard, n_tokens,
                   CAST(cb // 512 AS BIGINT) AS bin_id,
                   CAST(cb % 512 AS BIGINT) AS bin_offset
            FROM c ORDER BY doc_id
        """,
        # Mixing: md5(id) permille bucket under per-lang thresholds —
        # exact member-set reproducibility, same trick as q38's hash.
        # Training-shard permutation: identical md5 hash, mod, and
        # within-shard (hash, id) rank on both engines.
        "q75_training_shards": """
            WITH h AS (
                SELECT doc_id,
                       CAST(('0x' || substring(
                           md5('r6:' || CAST(doc_id AS VARCHAR)), 1, 15))
                           AS BIGINT) AS _h
                FROM documents
            )
            SELECT doc_id,
                   CAST(_h % 8 AS INTEGER) AS shard,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY _h % 8 ORDER BY _h, doc_id) - 1
                       AS INTEGER) AS pos
            FROM h ORDER BY doc_id
        """,
        # Vocabulary top-k: exact integer counts; the rank-20 boundary
        # cut resolves ties by word on both engines.
        "q74_vocab_topk": r"""
            WITH w AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(text, '\s+'),
                           x -> x <> '')) AS word
                FROM documents
            )
            SELECT word, CAST(COUNT(*) AS BIGINT) AS count,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
            FROM w GROUP BY word
            ORDER BY count DESC, word LIMIT 20
        """,
        # Temperature resampling: rates derived from the data itself —
        # every float op (share division, sqrt, lang-ordered left-fold
        # normalizer, the ((0.5*q)*N)/n grouping, floor to the 10k-bucket
        # threshold) replayed in the operator's exact order.  Bare float
        # literals are cast to DOUBLE (DuckDB parses them as DECIMAL).
        "q73_temperature_sample": """
            WITH c AS MATERIALIZED (
                SELECT lang, COUNT(*) AS n FROM documents
                WHERE lang IS NOT NULL GROUP BY lang
            ),
            t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
            pw AS (
                SELECT lang, n,
                       sqrt(CAST(n AS DOUBLE) / total) AS s
                FROM c, t
            ),
            d AS (
                SELECT list_aggregate(list(s ORDER BY lang), 'sum')
                    AS denom
                FROM pw
            ),
            r AS (
                SELECT lang,
                       LEAST(CAST(1.0 AS DOUBLE),
                             ((CAST(0.5 AS DOUBLE) * (s / denom))
                              * total) / n) AS rate
                FROM pw, d, t
            )
            SELECT doc_id, lang FROM documents
            JOIN r USING (lang)
            WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                          1, 15)) AS BIGINT) % 10000
                  < CAST(FLOOR(rate * 10000) AS BIGINT)
            ORDER BY doc_id
        """,
        "q56_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                          1, 15)) AS BIGINT) % 10000
                  < CASE lang WHEN 'en' THEN 5000
                              WHEN 'zh' THEN 2000
                              WHEN 'de' THEN 8000
                              ELSE 1000 END
            ORDER BY doc_id
        """,
        # Line dedup / boilerplate removal share the 6-word line-ification
        # CTE (the Spark side's `_lineified`).  ROW_NUMBER is computed over
        # ALL lines but only gates eligible ones — a line partition is
        # homogeneous in eligibility (same string → same length), so the
        # short-line OR branch never mixes with a ranked partition.
        "q57_line_dedup": _LINES_CTE + """,
            flagged AS (
                SELECT doc_id, pos, line,
                       (length(line) < 10 OR
                        ROW_NUMBER() OVER (PARTITION BY line
                                           ORDER BY doc_id, pos) = 1)
                           AS keep
                FROM lines)
            SELECT doc_id,
                   COALESCE(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE keep), '') AS text,
                   CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT)
                       AS kept_lines,
                   CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT)
                       AS dropped_lines
            FROM flagged GROUP BY doc_id ORDER BY doc_id
        """,
        "q58_boilerplate_lines": _LINES_CTE + """,
            hot AS (SELECT line FROM lines WHERE length(line) >= 10
                    GROUP BY line HAVING COUNT(DISTINCT doc_id) > 2),
            flagged AS (
                SELECT doc_id, pos, line,
                       line NOT IN (SELECT line FROM hot) AS keep
                FROM lines)
            SELECT doc_id,
                   COALESCE(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE keep), '') AS text,
                   CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT)
                       AS kept_lines,
                   CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT)
                       AS dropped_lines
            FROM flagged GROUP BY doc_id ORDER BY doc_id
        """,
        # Dup clustering: recursive-CTE reachability computes the exact
        # min-id-per-component the Spark label propagation converges to.
        # r enumerates (node, reachable-label) pairs — UNION dedups, the
        # graph is finite, so the recursion terminates; MIN collapses it.
        "q59_dup_clusters": "WITH RECURSIVE " + _shingle_cte(
            "WHERE doc_id < 120", 2) + _DUP_CC_CTES + """
            SELECT id AS doc_id, component FROM cc ORDER BY doc_id
        """,
        "q60_cluster_keep_best": "WITH RECURSIVE " + _shingle_cte(
            "WHERE doc_id < 120", 2) + _DUP_CC_CTES + """,
            winners AS (
                SELECT id FROM (
                    SELECT cc.id,
                           ROW_NUMBER() OVER (PARTITION BY component
                                              ORDER BY d.n_chars DESC,
                                                       cc.id) AS rn
                    FROM cc JOIN documents d ON d.doc_id = cc.id) t
                WHERE rn = 1),
            losers AS (SELECT id FROM cc
                       WHERE id NOT IN (SELECT id FROM winners))
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id < 120
              AND doc_id NOT IN (SELECT id FROM losers)
            ORDER BY doc_id
        """,
        # Incremental dedup: same sig/bucket machinery, but the candidate
        # join is role-restricted (new x corpus); the shingle-DF cap and
        # verify run over the union of candidate docs, mirroring the
        # operator.  old < 300 <= new, so (a_id, b_id) = (old, new).
        "q62_incremental_dedup": "WITH " + _shingle_cte(
            "WHERE doc_id < 420", 2) + """,
            sig AS (
                SELECT doc_id,
                       MIN(md5('0:' || shingle)) AS h0,
                       MIN(md5('1:' || shingle)) AS h1,
                       MIN(md5('2:' || shingle)) AS h2,
                       MIN(md5('3:' || shingle)) AS h3
                FROM sh GROUP BY doc_id
            ),
            buckets AS (
                SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig
                UNION ALL
                SELECT doc_id, 1 AS band, h2 || '|' || h3 AS key FROM sig
            ),
            cand AS (
                SELECT DISTINCT o.doc_id AS a_id, n.doc_id AS b_id
                FROM buckets n JOIN buckets o
                  ON n.band = o.band AND n.key = o.key
                WHERE n.doc_id >= 300 AND o.doc_id < 300
            ),
            cdocs AS (
                SELECT a_id AS doc_id FROM cand
                UNION SELECT b_id FROM cand
            ),
            csh AS (
                SELECT DISTINCT doc_id, shingle FROM sh
                WHERE doc_id IN (SELECT doc_id FROM cdocs)
            ),
            kept AS (
                SELECT doc_id, shingle FROM csh
                WHERE shingle IN (SELECT shingle FROM csh
                                  GROUP BY shingle HAVING COUNT(*) <= 60)
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept
                      GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
                FROM kept a JOIN kept b ON a.shingle = b.shingle
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            losers AS (
                SELECT DISTINCT i.b_id
                FROM inter i
                JOIN sizes sa ON sa.doc_id = i.a_id
                JOIN sizes sb ON sb.doc_id = i.b_id
                JOIN cand c ON c.a_id = i.a_id AND c.b_id = i.b_id
                WHERE CAST(i.c AS DOUBLE)
                      / (sa.n_sh + sb.n_sh - i.c) >= 0.08
            )
            SELECT doc_id FROM documents
            WHERE doc_id >= 300 AND doc_id < 420
              AND doc_id NOT IN (SELECT b_id FROM losers)
            ORDER BY doc_id
        """,
        # Streaming micro-batch dedup = q34's within-batch pairwise rule
        # (stage 1, batch docs only) chained into q62's strictly
        # new×corpus incremental rule (stage 2, survivors vs corpus).
        # Each stage runs the minhash pipeline over its OWN doc universe
        # with its OWN candidate-subset DF cap — exactly the two
        # operator calls the foreachBatch sink composes.  Every CTE is
        # MATERIALIZED: with two chained stages DuckDB's default CTE
        # inlining re-expands the shared subtrees (sh is referenced six
        # times, surv1 three) into a combinatorial plan that ran >15 min;
        # materialized, the oracle runs in seconds — the DuckDB edition
        # of the Catalyst self-join planning blow-up in BASELINE.md.
        "q71_stream_batch_dedup": ("WITH " + _shingle_cte(
            "WHERE doc_id < 420", 2) + """,
            sig1 AS (
                SELECT doc_id,
                       MIN(md5('0:' || shingle)) AS h0,
                       MIN(md5('1:' || shingle)) AS h1,
                       MIN(md5('2:' || shingle)) AS h2,
                       MIN(md5('3:' || shingle)) AS h3
                FROM sh WHERE doc_id >= 300 GROUP BY doc_id
            ),
            buckets1 AS (
                SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig1
                UNION ALL
                SELECT doc_id, 1 AS band, h2 || '|' || h3 AS key FROM sig1
            ),
            cand1 AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM buckets1 a JOIN buckets1 b
                  ON a.band = b.band AND a.key = b.key
                WHERE a.doc_id < b.doc_id
            ),
            cdocs1 AS (
                SELECT a_id AS doc_id FROM cand1
                UNION SELECT b_id FROM cand1
            ),
            csh1 AS (
                SELECT DISTINCT doc_id, shingle FROM sh
                WHERE doc_id IN (SELECT doc_id FROM cdocs1)
            ),
            kept1 AS (
                SELECT doc_id, shingle FROM csh1
                WHERE shingle IN (SELECT shingle FROM csh1
                                  GROUP BY shingle HAVING COUNT(*) <= 60)
            ),
            sizes1 AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept1
                       GROUP BY doc_id),
            inter1 AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
                FROM kept1 a JOIN kept1 b ON a.shingle = b.shingle
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            losers1 AS (
                SELECT DISTINCT i.b_id
                FROM inter1 i
                JOIN sizes1 sa ON sa.doc_id = i.a_id
                JOIN sizes1 sb ON sb.doc_id = i.b_id
                JOIN cand1 c ON c.a_id = i.a_id AND c.b_id = i.b_id
                WHERE CAST(i.c AS DOUBLE)
                      / (sa.n_sh + sb.n_sh - i.c) >= 0.08
            ),
            surv1 AS (
                SELECT doc_id FROM documents
                WHERE doc_id >= 300 AND doc_id < 420
                  AND doc_id NOT IN (SELECT b_id FROM losers1)
            ),
            sig2 AS (
                SELECT doc_id,
                       MIN(md5('0:' || shingle)) AS h0,
                       MIN(md5('1:' || shingle)) AS h1,
                       MIN(md5('2:' || shingle)) AS h2,
                       MIN(md5('3:' || shingle)) AS h3
                FROM sh
                WHERE doc_id < 300
                   OR doc_id IN (SELECT doc_id FROM surv1)
                GROUP BY doc_id
            ),
            buckets2 AS (
                SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig2
                UNION ALL
                SELECT doc_id, 1 AS band, h2 || '|' || h3 AS key FROM sig2
            ),
            cand2 AS (
                SELECT DISTINCT o.doc_id AS a_id, n.doc_id AS b_id
                FROM buckets2 n JOIN buckets2 o
                  ON n.band = o.band AND n.key = o.key
                WHERE n.doc_id IN (SELECT doc_id FROM surv1)
                  AND o.doc_id < 300
            ),
            cdocs2 AS (
                SELECT a_id AS doc_id FROM cand2
                UNION SELECT b_id FROM cand2
            ),
            csh2 AS (
                SELECT DISTINCT doc_id, shingle FROM sh
                WHERE doc_id IN (SELECT doc_id FROM cdocs2)
            ),
            kept2 AS (
                SELECT doc_id, shingle FROM csh2
                WHERE shingle IN (SELECT shingle FROM csh2
                                  GROUP BY shingle HAVING COUNT(*) <= 60)
            ),
            sizes2 AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept2
                       GROUP BY doc_id),
            inter2 AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
                FROM kept2 a JOIN kept2 b ON a.shingle = b.shingle
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            losers2 AS (
                SELECT DISTINCT i.b_id
                FROM inter2 i
                JOIN sizes2 sa ON sa.doc_id = i.a_id
                JOIN sizes2 sb ON sb.doc_id = i.b_id
                JOIN cand2 c ON c.a_id = i.a_id AND c.b_id = i.b_id
                WHERE CAST(i.c AS DOUBLE)
                      / (sa.n_sh + sb.n_sh - i.c) >= 0.08
            )
            SELECT doc_id FROM surv1
            WHERE doc_id NOT IN (SELECT b_id FROM losers2)
            ORDER BY doc_id
        """).replace(" AS (", " AS MATERIALIZED ("),
        # Per-lang quality decile cut: q18's quality expression + q43's
        # percentile_disc rank rule.  The 0.1 literal is CAST to DOUBLE so
        # ceil(q*n) evaluates the same IEEE product on both engines —
        # DuckDB's bare 0.1 is DECIMAL, whose q*n can round differently
        # from the double product at some n, flipping the cut rank.
        "q63_quality_percentile_cut": r"""
            WITH f AS (
                SELECT doc_id, lang,
                       length(text) AS nc,
                       len(list_filter(string_split_regex(text, '\s+'),
                                       x -> x <> '')) AS nw,
                       len(regexp_extract_all(lower(text),
                           '\b(the|and|of|to|in|is|for)\b')) AS ns
                FROM documents
            ),
            s AS (
                SELECT doc_id, lang,
                       least(nw / 100.0, 1.0) * 0.4
                         + least(CASE WHEN nw > 0
                                      THEN CAST(ns AS DOUBLE) / nw
                                      ELSE 0.0 END * 5.0, 1.0) * 0.4
                         + CASE WHEN nw > 0
                                    AND CAST(nc AS DOUBLE)/nw >= 3
                                    AND CAST(nc AS DOUBLE)/nw <= 12
                                THEN 0.2 ELSE 0.0 END AS quality
                FROM f
            ),
            ranked AS (
                SELECT doc_id, lang, quality,
                       ROW_NUMBER() OVER (PARTITION BY lang
                                          ORDER BY quality, doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY lang) AS n
                FROM s
            ),
            cut AS (
                SELECT lang, quality AS cutv FROM ranked
                WHERE rn = GREATEST(1, CAST(CEIL(CAST(0.1 AS DOUBLE) * n)
                                            AS BIGINT))
            )
            SELECT s.doc_id, s.lang, s.quality
            FROM s JOIN cut USING (lang)
            WHERE s.quality >= cut.cutv
            ORDER BY s.doc_id
        """,
        # Cleaning / PII: regexp chains identical on both engines; DuckDB
        # regexp_replace needs the 'g' flag (first-match by default,
        # Spark is global), and the newline replacement goes through
        # chr(10) (a '\n' in a DuckDB replacement string is literal).
        "q64_clean_text": r"""
            WITH noisy AS (
                SELECT doc_id,
                       chr(1) || '  ' || text || chr(9) || chr(9) || 'x'
                       || chr(7) || repeat(chr(10), 4) || 'end  ' AS t
                FROM documents
            ),
            c AS (
                SELECT doc_id, t,
                       trim(regexp_replace(regexp_replace(regexp_replace(
                           t, '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                           '[ \t]+', ' ', 'g'),
                           '\n{3,}', chr(10) || chr(10), 'g')) AS cleaned
                FROM noisy
            )
            SELECT doc_id, cleaned AS text,
                   CAST(length(t) - length(cleaned) AS BIGINT)
                       AS n_chars_removed
            FROM c ORDER BY doc_id
        """,
        "q65_pii_scrub": r"""
            WITH aug AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' contact u' || CAST(doc_id AS VARCHAR)
                                    || '@example.com now'
                               ELSE '' END
                       || CASE WHEN doc_id % 7 = 0
                               THEN ' from 10.0.'
                                    || CAST(doc_id % 200 AS VARCHAR)
                                    || '.25 call 555-867-5309 ok'
                               ELSE '' END AS t
                FROM documents
            )
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
                       '\(?[0-9]{3}\)?[-.\s][0-9]{3}[-.\s][0-9]{4}',
                       '<PHONE>', 'g') AS text,
                   CAST(len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(t,
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
                       AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(t,
                       '\(?[0-9]{3}\)?[-.\s][0-9]{3}[-.\s][0-9]{4}'))
                       AS BIGINT) AS n_phones
            FROM aug ORDER BY doc_id
        """,
        # Exact-k per-stratum sample: smallest-k md5(id) hashes per lang
        # (same '0x'-cast hash trick as q38/q56).
        "q66_stratified_exact_k": """
            WITH h AS (
                SELECT lang, doc_id,
                       CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                               1, 15)) AS BIGINT) AS hh
                FROM documents
            ),
            r AS (
                SELECT lang, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY lang
                                          ORDER BY hh, doc_id) AS rn
                FROM h
            )
            SELECT lang, doc_id FROM r WHERE rn <= 25
            ORDER BY lang, doc_id
        """,
        "q52_shingle_df": "WITH " + _shingle_cte("", 2) + """
            SELECT shingle, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM sh GROUP BY shingle
            HAVING COUNT(DISTINCT doc_id) >= 40
            ORDER BY df DESC, shingle
        """,
        # Composed curation cascade: dedup > lang > quality > repetition.
        # Every signal reuses the exact expression of its standalone oracle
        # (q17 lang, q18 quality, q49 repetition) so the thresholds compare
        # bitwise-identical doubles on both engines.
        "q50_curation_pipeline": "WITH " + _shingle_cte("", 2) + r""",
            c AS (
                SELECT doc_id, shingle, COUNT(*) AS c
                FROM sh GROUP BY doc_id, shingle
            ),
            rep AS (
                SELECT doc_id,
                       MAX(c) / CAST(SUM(c) AS DOUBLE) AS top_gram_frac
                FROM c GROUP BY doc_id
            ),
            qf AS (
                SELECT doc_id,
                       length(text) AS n_chars_obs,
                       len(list_filter(string_split_regex(text, '\s+'),
                                       x -> x <> '')) AS n_words,
                       len(regexp_extract_all(lower(text),
                           '\b(the|and|of|to|in|is|for)\b')) AS n_stop
                FROM documents
            ),
            qual AS (
                SELECT doc_id,
                       least(n_words / 100.0, 1.0) * 0.4
                         + least(CASE WHEN n_words > 0
                                      THEN CAST(n_stop AS DOUBLE) / n_words
                                      ELSE 0.0 END * 5.0, 1.0) * 0.4
                         + CASE WHEN n_words > 0
                                  AND CAST(n_chars_obs AS DOUBLE)/n_words >= 3
                                  AND CAST(n_chars_obs AS DOUBLE)/n_words <= 12
                                THEN 0.2 ELSE 0.0 END AS quality
                FROM qf
            ),
            lf AS (
                SELECT doc_id,
                       len(regexp_extract_all(text,
                           '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]')) AS cjk,
                       length(text) AS n,
                       len(regexp_extract_all(lower(text),
                           '\b(the|and|of|to|in|is|for)\b')) AS en_n,
                       len(regexp_extract_all(lower(text),
                           '\b(der|die|und|das|ist|nicht|ein)\b')) AS de_n,
                       len(regexp_extract_all(lower(text),
                           '\b(el|la|de|que|y|los|para)\b')) AS es_n
                FROM documents
            ),
            lang AS (
                SELECT doc_id,
                       CASE WHEN cjk * 4 >= n THEN 'cjk'
                            WHEN greatest(en_n, de_n, es_n) = 0
                            THEN 'unknown'
                            WHEN en_n >= de_n AND en_n >= es_n THEN 'en'
                            WHEN de_n >= es_n THEN 'de'
                            ELSE 'es' END AS lang_pred
                FROM lf
            ),
            dup AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) > 1 AS is_dup
                FROM documents
            ),
            verdict AS (
                SELECT d.doc_id,
                       CASE WHEN d.is_dup THEN 'exact_dup'
                            WHEN l.lang_pred = 'unknown' THEN 'lang'
                            WHEN q.quality < CAST(0.45 AS DOUBLE)
                            THEN 'quality'
                            WHEN COALESCE(r.top_gram_frac, 0.0)
                                 > CAST(0.10 AS DOUBLE)
                            THEN 'repetition'
                            ELSE 'kept' END AS reason
                FROM dup d
                JOIN lang l USING (doc_id)
                JOIN qual q USING (doc_id)
                LEFT JOIN rep r USING (doc_id)
            )
            SELECT doc_id, reason = 'kept' AS keep, reason
            FROM verdict ORDER BY doc_id
        """,
        # Gopher repetition rules: same shingle CTE as q13, non-deduped.
        "q49_repetition_stats": "WITH " + _shingle_cte("", 2) + """,
            counts AS (
                SELECT doc_id, shingle, COUNT(*) AS c
                FROM sh GROUP BY doc_id, shingle
            ),
            agg AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS n_grams,
                       CAST(MAX(c) AS BIGINT) AS top_gram_count,
                       CAST(COUNT(*) AS BIGINT) AS distinct_grams
                FROM counts GROUP BY doc_id
            )
            SELECT doc_id, n_grams, top_gram_count, distinct_grams,
                   top_gram_count / CAST(n_grams AS DOUBLE)
                       AS top_gram_frac,
                   (n_grams - distinct_grams) / CAST(n_grams AS DOUBLE)
                       AS dup_gram_frac
            FROM agg ORDER BY doc_id
        """,
        # Full-text reconstruction: the drawn lines are strict 60-char
        # slices of the sanitized text (each trimmed — the wrap re-polish),
        # capped at 77 lines by the page height, joined with newlines.
        "q47_text_layer_extraction": r"""
            WITH s AS (
                SELECT CAST(doc_id AS INTEGER) AS doc_id,
                       trim(regexp_replace(regexp_replace(lower(text),
                            '[^a-z ]', '', 'g'), ' +', ' ', 'g')) AS t
                FROM documents
            ),
            m AS (
                SELECT doc_id, t,
                       CASE WHEN length(t) = 0 THEN 0
                            ELSE LEAST(CAST(CEIL(length(t) / 60.0)
                                            AS INTEGER), 77) END AS n_lines
                FROM s
            ),
            idx AS (
                SELECT doc_id, t,
                       CAST(unnest(range(0, n_lines)) AS INTEGER) AS i
                FROM m WHERE n_lines > 0
            ),
            agg AS (
                SELECT doc_id,
                       string_agg(trim(substring(t, 1 + i * 60, 60)),
                                  chr(10) ORDER BY i) AS text_layer
                FROM idx GROUP BY doc_id
            )
            SELECT doc_id, text_layer FROM agg
            UNION ALL
            SELECT doc_id, '' AS text_layer FROM m WHERE n_lines = 0
            ORDER BY doc_id
        """,
        # Image-normalization rule arithmetic over the full whitelist:
        # jpeg (96 direct; none → 150 default; 10 → below accepted range
        # → 150; 100 dpcm → 254.0); png (pHYs 300dpi survives the ppm
        # round trip as round(300/0.0254) * 0.0254 = 11811 * 0.0254;
        # no pHYs → 150); bmp (96dpi survives the Pillow-parity ppm
        # round trip as round(96*39.3701) / 39.3701 = 3780 / 39.3701;
        # ppm 0 → 150); tiff (inch-unit 200 direct; cm-unit stores
        # 127/2.54 = 50/cm exactly and parses back ×2.54 = 127.0;
        # unit 1 = no absolute unit → 150); webp (no density metadata
        # exists → always 150).
        "q46_image_normalization": """
            WITH base AS (
                SELECT CAST(doc_id AS INTEGER) AS doc_id,
                       CAST(doc_id % 12 AS INTEGER) AS v,
                       CAST(200 + doc_id % 800 AS INTEGER) AS w
                FROM documents
            ),
            m AS (
                SELECT doc_id, w,
                       CASE WHEN v IN (0, 1, 2, 3) THEN 'jpeg'
                            WHEN v IN (4, 5) THEN 'png'
                            WHEN v IN (6, 7) THEN 'bmp'
                            WHEN v IN (8, 9, 10) THEN 'tiff'
                            ELSE 'webp' END AS fmt,
                       CASE v WHEN 0 THEN CAST(96.0 AS DOUBLE)
                              WHEN 1 THEN CAST(150.0 AS DOUBLE)
                              WHEN 2 THEN CAST(150.0 AS DOUBLE)
                              WHEN 3 THEN CAST(254.0 AS DOUBLE)
                              WHEN 4 THEN 11811 * CAST(0.0254 AS DOUBLE)
                              WHEN 5 THEN CAST(150.0 AS DOUBLE)
                              WHEN 6 THEN 3780 / CAST(39.3701 AS DOUBLE)
                              WHEN 7 THEN CAST(150.0 AS DOUBLE)
                              WHEN 8 THEN CAST(200.0 AS DOUBLE)
                              WHEN 9 THEN CAST(127.0 AS DOUBLE)
                              WHEN 10 THEN CAST(150.0 AS DOUBLE)
                              ELSE CAST(150.0 AS DOUBLE) END AS dpi_x
                FROM base
            )
            SELECT doc_id, fmt, w AS width_px, dpi_x,
                   w * CAST(72.0 AS DOUBLE) / dpi_x AS width_pt
            FROM m ORDER BY doc_id
        """,
        # Blocks-path arithmetic: one page at 612x792 → top_y=774, 10pt
        # leading, stop at y<12 → at most 77 lines; wrap is a strict
        # 60-char slice of the sanitized text, and the scanner counts
        # non-whitespace bytes of whatever was actually drawn.
        "q45_searchable_pdf_sink": r"""
            WITH s AS (
                SELECT CAST(doc_id AS INTEGER) AS doc_id,
                       trim(regexp_replace(regexp_replace(lower(text),
                            '[^a-z ]', '', 'g'), ' +', ' ', 'g')) AS t
                FROM documents
            ),
            m AS (
                SELECT doc_id, t,
                       CASE WHEN length(t) = 0 THEN 0
                            ELSE LEAST(CAST(CEIL(length(t) / 60.0)
                                            AS INTEGER), 77) END AS n_lines
                FROM s
            )
            SELECT doc_id,
                   1 AS page_count,
                   n_lines AS n_text_ops,
                   CAST(length(replace(substring(t, 1, n_lines * 60),
                                       ' ', '')) AS INTEGER) AS n_chars
            FROM m ORDER BY doc_id
        """,
        "q44_page_geometry": """
            WITH base AS (
                SELECT doc_id,
                       GREATEST(72, CAST(doc_id % 200 + 1 AS INTEGER))
                           AS norm_dpi,
                       CAST(800 + doc_id % 100 AS BIGINT) AS width_px,
                       CAST(1100 + doc_id % 100 AS BIGINT) AS height_px,
                       CAST(doc_id * 37 % 1000 - 360 AS INTEGER) AS rot_raw,
                       CASE WHEN doc_id % 3 = 0 THEN CAST(0.0 AS DOUBLE)
                            WHEN doc_id % 3 = 1 THEN CAST(NULL AS DOUBLE)
                            ELSE CAST(595.2 AS DOUBLE) END AS media_raw,
                       CASE WHEN doc_id % 4 = 0 THEN CAST(0.0 AS DOUBLE)
                            ELSE CAST(500.0 AS DOUBLE) END AS crop_raw,
                       CAST((doc_id % 9) * 160 - 80 AS DOUBLE) AS img_raw
                FROM documents
            ),
            proj AS (
                SELECT doc_id, norm_dpi,
                       width_px * CAST(72.0 AS DOUBLE) / norm_dpi
                           AS width_pt,
                       height_px * CAST(72.0 AS DOUBLE) / norm_dpi
                           AS height_pt,
                       ((rot_raw % 360) + 360) % 360 AS rotation_norm,
                       media_raw, crop_raw, img_raw
                FROM base
            ),
            fb AS (
                SELECT *, CASE WHEN media_raw IS NULL OR media_raw = 0.0
                               THEN width_pt ELSE media_raw END AS media_norm
                FROM proj
            )
            SELECT doc_id, norm_dpi, width_pt, height_pt, rotation_norm,
                   media_norm AS media_width_pt_norm,
                   CASE WHEN crop_raw IS NULL OR crop_raw = 0.0
                        THEN media_norm ELSE crop_raw END
                       AS crop_width_pt_norm,
                   CASE WHEN img_raw IS NULL OR img_raw < 20
                             OR img_raw > 1200
                        THEN CAST(150.0 AS DOUBLE) ELSE img_raw END
                       AS image_dpi_norm
            FROM fb ORDER BY doc_id
        """,
        "q43_exact_quantiles": """
            WITH ranked AS (
                SELECT lang, n_chars,
                       ROW_NUMBER() OVER (PARTITION BY lang
                                          ORDER BY n_chars, doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY lang) AS n
                FROM documents
            ),
            qs AS (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q)
            SELECT lang, q, n_chars AS value
            FROM ranked CROSS JOIN qs
            WHERE rn = GREATEST(1, CAST(CEIL(q * n) AS BIGINT))
            ORDER BY lang, q
        """,
    }
