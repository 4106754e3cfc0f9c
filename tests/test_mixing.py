"""Training-data assembly operators: decontamination, packing, mixing —
hand-computed semantics plus the plan shapes that make them 100 TB-safe
(broadcast benchmark side, partitioned packing window, shuffle-free
sampling)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, lang string, text string")


# --- decontamination -------------------------------------------------------


def test_contamination_hits_counts_distinct_shared_shingles(spark):
    docs = _docs(spark, [
        (0, "en", "alpha beta gamma delta"),          # benchmark member
        (1, "en", "alpha beta gamma epsilon"),        # 2 shared shingles
        (2, "en", "alpha beta something else here"),  # only 1 shared
        (3, "en", "totally unrelated text content"),  # 0 shared
        # shingle repeated IN-doc counts once (distinct semantics)
        (4, "en", "alpha beta gamma alpha beta gamma"),
    ])
    bench = docs.filter(F.col("doc_id") == 0)
    got = {r["doc_id"]: r["matched_shingles"]
           for r in mx.contamination_hits(docs, bench, k=3,
                                          min_overlap=2).collect()}
    # doc 0 matches itself fully (3 shingles), doc 1 shares
    # "alpha beta gamma"+"beta gamma epsilon"? no — only 2 of its
    # shingles exist in bench: "alpha beta gamma" and "beta gamma
    # epsilon" is NOT in bench → shares exactly 1... verify by set math:
    # bench shingles: {abg, bgd} (k=3 over 4 words → 2 shingles)
    # doc1: {abg, bge} → 1 hit → filtered by min_overlap=2
    # doc4: {abg, bga, gab, abg…} distinct → abg present → 1 hit
    assert got == {0: 2}


def test_benchmark_decontaminate_drops_only_contaminated(spark):
    docs = _docs(spark, [
        (0, "en", "the quick brown fox jumps over"),
        (1, "en", "the quick brown fox leaps over"),   # 2 shared shingles
        (2, "en", "completely different words entirely now"),
    ])
    bench = docs.filter(F.col("doc_id") == 0)
    kept = sorted(r["doc_id"] for r in
                  mx.benchmark_decontaminate(docs, bench, k=3,
                                             min_overlap=2).collect())
    assert kept == [2]  # 0 matches itself, 1 shares {tqb, qbf} → dropped


def test_contamination_plan_broadcasts_benchmark_side(spark):
    docs = _docs(spark, [(i, "en", f"text number {i} here") for i in range(8)])
    bench = docs.filter(F.col("doc_id") == 0)
    plan = mx.contamination_hits(docs, bench)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


# --- sequence packing ------------------------------------------------------


def test_pack_sequences_concat_and_chunk(spark):
    docs = _docs(spark, [
        (0, "en", " ".join(["w"] * 300)),   # en stream: 0..299
        (1, "en", " ".join(["w"] * 300)),   # 300..599 → starts bin 0 @300
        (2, "en", " ".join(["w"] * 300)),   # 600..899 → bin 1 @88
        (3, "de", " ".join(["w"] * 600)),   # de stream independent
        (4, "de", " ".join(["w"] * 10)),    # starts at 600 → bin 1 @88
    ])
    got = {r["doc_id"]: (r["shard"], r["n_tokens"], r["bin_id"],
                         r["bin_offset"])
           for r in mx.pack_sequences(docs, capacity=512,
                                      shard_buckets=None).collect()}
    assert got[0] == ("en", 300, 0, 0)
    assert got[1] == ("en", 300, 0, 300)
    assert got[2] == ("en", 300, 1, 88)    # 600 % 512
    assert got[3] == ("de", 600, 0, 0)
    assert got[4] == ("de", 10, 1, 88)


def test_pack_sequences_default_shard_is_composite(spark):
    """Parallelism contract: the default shard key composites the caller's
    column with an md5(id) bucket, so a SINGLE-language corpus still
    yields many window partitions (one per populated bucket) instead of
    one corpus-wide sort task; per-bucket packing matches the hand
    formula within each shard."""
    docs = _docs(spark, [(i, "en", " ".join(["w"] * 100))
                         for i in range(400)])
    out = mx.pack_sequences(docs, capacity=256, shard_buckets=16).collect()
    shards = {r["shard"] for r in out}
    assert len(shards) == 16           # 400 ids cover all 16 buckets
    assert all(s.startswith("en#") for s in shards)
    # within one shard, docs pack in id order at 100 tokens each
    by_shard = {}
    for r in sorted(out, key=lambda r: r["doc_id"]):
        prev = by_shard.setdefault(r["shard"], 0)
        assert (r["bin_id"], r["bin_offset"]) == (prev // 256, prev % 256)
        by_shard[r["shard"]] = prev + r["n_tokens"]
    # bucket assignment is the engine-portable md5 rule
    for r in out:
        want = int(hashlib.md5(
            str(r["doc_id"]).encode()).hexdigest()[:15], 16) % 16
        assert r["shard"] == f"en#{want}"


def test_pack_sequences_window_is_partitioned(spark):
    """The packing window must be partitioned by the shard key — a global
    (unpartitioned) running sum would serialize the whole corpus through
    one task at scale."""
    docs = _docs(spark, [(i, "en" if i % 2 else "de", "a b c")
                         for i in range(6)])
    plan = mx.pack_sequences(docs, capacity=512)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "windowspecdefinition(shard" in plan.replace(" ", "") \
        or "partitionBy" in plan or "hashpartitioning(shard" in \
        plan.replace(" ", "")


# --- stratified sampling ---------------------------------------------------


def _bucket(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15],
               16) % 10_000


def test_stratified_sample_exact_member_set(spark):
    docs = _docs(spark, [(i, ["en", "zh", "fr"][i % 3], "t")
                         for i in range(300)])
    rates = {"en": 0.5, "zh": 0.2}
    kept = sorted(r["doc_id"] for r in
                  mx.stratified_sample(docs, rates, default_rate=0.1)
                  .collect())
    want = sorted(
        i for i in range(300)
        if _bucket(i) < {"en": 5000, "zh": 2000}.get(
            ["en", "zh", "fr"][i % 3], 1000))
    assert kept == want
    assert len(kept) > 0


def test_stratified_sample_zero_default_drops_unknown_strata(spark):
    docs = _docs(spark, [(i, "xx", "t") for i in range(50)])
    assert mx.stratified_sample(docs, {"en": 1.0}).count() == 0


def test_stratified_sample_is_shuffle_free(spark):
    docs = _docs(spark, [(i, "en", "t") for i in range(10)])
    plan = mx.stratified_sample(docs, {"en": 0.5})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan  # pure map-side filter


def test_stratified_exact_k_counts_and_members(spark):
    """Exactly min(k, |stratum|) rows per stratum, and the member set
    equals the naive full-sort formulation (two-phase min-k is lossless:
    any global top-k element is top-k within its salt cell)."""
    from pyspark.sql import Window

    rows = [(i, "big") for i in range(200)] + [(1000 + i, "small")
                                               for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id int, lang string")
    got = mx.stratified_exact_k(docs, k=10, salt_partitions=8)
    by = {}
    for r in got.collect():
        by.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(by["big"]) == 10 and len(by["small"]) == 4
    from pdf_ocr_batch_ndrocr_lite_spark.operators.sketches import _hash60
    w = Window.partitionBy("lang").orderBy(_hash60(F.col("doc_id")),
                                           "doc_id")
    naive = docs.withColumn("_rn", F.row_number().over(w)) \
        .filter(F.col("_rn") <= 10)
    want = {}
    for r in naive.collect():
        want.setdefault(r["lang"], set()).add(r["doc_id"])
    assert by == want


def test_stratified_exact_k_plan_is_two_phase_no_window(spark):
    """The sampler must be the bounded-state aggregation shape: salted
    partial + merge, no stratum-wide Window sort."""
    docs = spark.createDataFrame([(i, "g") for i in range(50)],
                                 "doc_id int, lang string")
    plan = mx.stratified_exact_k(docs, k=5)._jdf \
        .queryExecution().optimizedPlan().toString()
    assert "Window" not in plan
    assert "pmod" in plan
    assert plan.count("Aggregate") >= 2


def test_stratified_exact_k_candidate_state_is_bounded(spark):
    """Scale guard: the collect_list aggregation must never see a whole
    stratum — one giant stratum's candidate set (the rows passing the
    hash prefilter) stays O(candidate_factor·k), independent of stratum
    size, while the member set still matches the naive full-sort answer."""
    from pyspark.sql import Window

    from pdf_ocr_batch_ndrocr_lite_spark.operators.sketches import (
        _HASH_SPACE,
        _hash60,
    )

    n, k, cf = 20_000, 3, 8
    docs = spark.createDataFrame([(i, "giant") for i in range(n)],
                                 "doc_id int, lang string")
    # reproduce the operator's prefilter and bound the candidate count
    m = cf * k + 64
    t = int(float(m) / n * _HASH_SPACE)
    cand_n = docs.select(_hash60(F.col("doc_id")).alias("_h")) \
        .filter(F.col("_h") < F.lit(t)).count()
    assert 0 < cand_n < 6 * m          # ~m expected; 6m is a loose bound
    assert cand_n < n / 50             # nowhere near the stratum size
    # and the operator's answer is still the exact top-k
    got = sorted(r["doc_id"] for r in mx.stratified_exact_k(
        docs, k=k, candidate_factor=cf).collect())
    w = Window.partitionBy("lang").orderBy(_hash60(F.col("doc_id")),
                                           "doc_id")
    want = sorted(r["doc_id"] for r in docs
                  .withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= k).collect())
    assert got == want


def test_stratified_exact_k_null_stratum_sampled(spark):
    """A NULL stratum (undetected language) is a legitimate stratum: the
    candidate-prefilter joins run null-safe, so NULL-stratum docs sample
    exactly like any other — plain-equality joins would silently drop
    them (verified regression)."""
    rows = [(i, "en") for i in range(50)] + \
           [(100 + i, None) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id int, lang string")
    got = {}
    for r in mx.stratified_exact_k(docs, k=3, salt_partitions=4).collect():
        got.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(got["en"]) == 3
    assert len(got[None]) == 3
    assert all(v >= 100 for v in got[None])


def test_stratified_exact_k_under_sample_fallback_exact(spark):
    """The exactness guard: with candidate_factor=0 and k=100 the
    prefilter threshold admits only ~64 expected rows of the 3000-row
    stratum — fewer than k — so the under-sample fallback MUST fire and
    re-include the stratum wholesale; the result must still be the exact
    min(k, n) smallest hashes."""
    from pyspark.sql import Window

    from pdf_ocr_batch_ndrocr_lite_spark.operators.sketches import (
        _HASH_SPACE,
        _hash60,
    )

    k = 100
    rows = [(i, "a") for i in range(3000)] + \
           [(10_000 + i, "b") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id int, lang string")
    # prove the prefilter really under-samples stratum 'a' for this data
    t = int(64.0 / 3000 * _HASH_SPACE)
    cand_n = docs.filter(F.col("lang") == "a") \
        .select(_hash60(F.col("doc_id")).alias("_h")) \
        .filter(F.col("_h") < F.lit(t)).count()
    assert cand_n < k
    got = {}
    for r in mx.stratified_exact_k(docs, k=k, candidate_factor=0,
                                   salt_partitions=4).collect():
        got.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(got["a"]) == k and len(got["b"]) == 5
    w = Window.partitionBy("lang").orderBy(_hash60(F.col("doc_id")),
                                           "doc_id")
    want = {}
    for r in docs.withColumn("_rn", F.row_number().over(w)) \
            .filter(F.col("_rn") <= k).collect():
        want.setdefault(r["lang"], set()).add(r["doc_id"])
    assert got == want


# --- document chunking ------------------------------------------------------


def test_chunk_documents_windows_and_overlap(spark):
    """42 words at chunk=16/overlap=4 (stride 12): starts 0,12,24,36 —
    every token is covered, no fully-redundant window is emitted (40
    words would stop at start 24, whose window already reaches token
    39), and the last window keeps the 6-word tail; each chunk
    reproduces the exact word slice; empty and NULL docs yield no
    chunks."""
    words = [f"w{i}" for i in range(42)]
    docs = spark.createDataFrame(
        [(0, " ".join(words)), (1, ""), (2, None), (3, "a b")],
        "doc_id int, text string")
    out = mx.chunk_documents(docs, chunk_tokens=16, overlap_tokens=4)
    rows = sorted(((r["doc_id"], r["chunk_id"], r["chunk_text"],
                    r["n_tokens"]) for r in out.collect()))
    got0 = [r for r in rows if r[0] == 0]
    starts = [0, 12, 24, 36]
    assert [r[1] for r in got0] == [0, 1, 2, 3]
    for (_, cid, text, n), s in zip(got0, starts):
        want = words[s:s + 16]
        assert text == " ".join(want)
        assert n == len(want)
    assert got0[-1][3] == 6                      # tail chunk is short
    # exactly-covered corpus emits no redundant trailing window
    docs40 = spark.createDataFrame([(0, " ".join(words[:40]))],
                                   "doc_id int, text string")
    assert mx.chunk_documents(docs40, 16, 4).count() == 3
    assert [r for r in rows if r[0] in (1, 2)] == []  # no empty chunks
    assert [r for r in rows if r[0] == 3] == [(3, 0, "a b", 2)]


def test_chunk_documents_is_shuffle_free_and_guarded(spark):
    import pytest
    docs = spark.createDataFrame([(0, "a b c")], "doc_id int, text string")
    plan = mx.chunk_documents(docs, 8)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="chunk_tokens"):
        mx.chunk_documents(docs, 0)
    with pytest.raises(ValueError, match="overlap_tokens"):
        mx.chunk_documents(docs, 8, overlap_tokens=8)


def test_temperature_rates_upsample_tail_strata(spark):
    """alpha=0.5 flattens the distribution: the tail language's keep
    rate must exceed the head's, expected kept volume ≈ target_frac of
    the corpus, and a tiny stratum caps at 1.0 (kept wholesale)."""
    rows = [(i, "en") for i in range(800)] \
        + [(1000 + i, "de") for i in range(150)] \
        + [(2000 + i, "sw") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id int, lang string")
    rates = mx.temperature_rates(docs, alpha=0.5, target_frac=0.5)
    assert set(rates) == {"en", "de", "sw"}
    assert rates["sw"] == 1.0                       # tiny stratum capped
    assert rates["sw"] > rates["de"] > rates["en"]  # tail upsampled
    expected_mass = 800 * rates["en"] + 150 * rates["de"] + 10 * rates["sw"]
    # the sw cap donates its excess, so kept mass lands below target
    assert 0.35 * 960 < expected_mass <= 0.55 * 960


def test_temperature_sample_deterministic_and_stratified(spark):
    rows = [(i, "en") for i in range(400)] + \
        [(1000 + i, "zh") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id int, lang string")
    a = sorted(r["doc_id"] for r in
               mx.temperature_sample(docs).collect())
    b = sorted(r["doc_id"] for r in
               mx.temperature_sample(docs.repartition(7)).collect())
    assert a == b                                   # member-set exact
    rates = mx.temperature_rates(docs)
    got_en = sum(1 for i in a if i < 1000)
    got_zh = len(a) - got_en
    # md5 buckets approximate the rate within a few percent at n=400
    assert abs(got_en / 400 - rates["en"]) < 0.06
    assert abs(got_zh / 100 - rates["zh"]) < 0.10


def test_temperature_rates_empty_and_null_strata(spark):
    docs = spark.createDataFrame([], "doc_id int, lang string")
    assert mx.temperature_rates(docs) == {}
    docs2 = spark.createDataFrame([(0, None), (1, "en")],
                                  "doc_id int, lang string")
    rates = mx.temperature_rates(docs2)
    # NULL stratum excluded; a single stratum keeps exactly target_frac
    assert set(rates) == {"en"} and rates["en"] == 0.5


def test_training_shards_is_a_seeded_permutation(spark):
    import pytest
    docs = spark.createDataFrame([(i,) for i in range(500)], "doc_id int")
    out = mx.training_shards(docs, n_shards=8, seed="s1").collect()
    assert len(out) == 500
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(8))
    for positions in by_shard.values():
        # contiguous 0..n-1 within every shard: concatenation is a
        # permutation of the corpus
        assert sorted(positions) == list(range(len(positions)))
    # deterministic under partitioning
    again = mx.training_shards(docs.repartition(7), n_shards=8,
                               seed="s1").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # a different seed reshuffles
    other = mx.training_shards(docs, n_shards=8, seed="s2").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))
    with pytest.raises(ValueError, match="n_shards"):
        mx.training_shards(docs, n_shards=0)


def _fuzzy_frames(spark):
    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"w{i}" for i in range(200))
    rows = [
        (1, filler + " " + bench_text + " " + filler),  # embedded leak
        (2, "completely different content about spark and parquet "
            + " ".join(f"z{i}" for i in range(50))),
        (3, bench_text),                                 # verbatim copy
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    bench = spark.createDataFrame([(100, bench_text)],
                                  "doc_id int, text string")
    return docs, bench


def test_fuzzy_contamination_catches_embedded_benchmark(spark):
    """The motivating case: a benchmark item quoted inside a much
    larger page has tiny Jaccard but containment 1.0 — fuzzy
    decontamination must drop it (the case a minhash-LSH candidate
    filter provably misses; see the mixing.py module note)."""
    docs, bench = _fuzzy_frames(spark)
    pairs = {(r["doc_id"], r["bench_id"]): r["containment"]
             for r in mx.fuzzy_contamination_pairs(
                 docs, bench, k=3, containment_threshold=0.5).collect()}
    assert pairs[(1, 100)] == 1.0      # embedded leak: full containment
    assert pairs[(3, 100)] == 1.0      # verbatim copy
    assert not any(d == 2 for d, _ in pairs)


def test_fuzzy_contamination_partial_quote_threshold(spark):
    """A page quoting only part of the item sits below a high threshold
    and above a low one — the fuzziness exact min_overlap lacks."""
    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel"
    half_quote = "intro words " + "alpha bravo charlie delta" + " outro"
    docs = spark.createDataFrame([(1, half_quote)],
                                 "doc_id int, text string")
    bench = spark.createDataFrame([(9, bench_text)],
                                  "doc_id int, text string")
    got = mx.fuzzy_contamination_pairs(
        docs, bench, k=2, containment_threshold=0.9).collect()
    assert got == []
    got = mx.fuzzy_contamination_pairs(
        docs, bench, k=2, containment_threshold=0.3).collect()
    assert len(got) == 1 and got[0]["doc_id"] == 1


def test_fuzzy_contamination_bench_df_cap(spark):
    """A shingle present in > max_bench_df bench items is dropped from
    numerator AND denominator; item-specific shingles still count."""
    common = "which of the following"
    bench_rows = [(i, common + f" unique{i} tail{i}") for i in range(5)]
    bench = spark.createDataFrame(bench_rows, "doc_id int, text string")
    # doc shares ONLY the ubiquitous phrase with every item
    docs = spark.createDataFrame(
        [(1, "some page asking " + common + " nothing else")],
        "doc_id int, text string")
    capped = mx.fuzzy_contamination_pairs(
        docs, bench, k=3, containment_threshold=0.01,
        max_bench_df=2).collect()
    assert capped == []                 # signal-free overlap removed
    uncapped = mx.fuzzy_contamination_pairs(
        docs, bench, k=3, containment_threshold=0.01).collect()
    assert len(uncapped) == 5           # without the cap it fans out


def _span_frames(spark):
    bench_text = "alpha bravo charlie delta echo foxtrot"
    docs = spark.createDataFrame([
        (1, "w0 w1 w2 alpha bravo charlie delta echo foxtrot w9 w10 w11"),
        (2, "clean page nothing shared here at all"),
        (3, "alpha bravo charlie delta echo foxtrot"),       # whole doc
        (4, "x0 alpha bravo charlie x4 x5 x6 x7 x8 delta echo foxtrot "
            "x12"),                                          # two leaks
    ], "doc_id int, text string")
    bench = spark.createDataFrame([(9, bench_text)],
                                  "doc_id int, text string")
    return docs, bench


def test_contaminated_spans_islands_and_clamp(spark):
    docs, bench = _span_frames(spark)
    spans = sorted((r["doc_id"], r["span_start"], r["span_end"])
                   for r in mx.contaminated_spans(docs, bench,
                                                  k=3).collect())
    # doc 1: words 3-8; doc 3: whole 0-5; doc 4: two DISJOINT islands
    assert spans == [(1, 3, 8), (3, 0, 5), (4, 1, 3), (4, 9, 11)]
    # pad expands and clamps to the document bounds
    padded = sorted((r["doc_id"], r["span_start"], r["span_end"])
                    for r in mx.contaminated_spans(docs, bench, k=3,
                                                   pad=2).collect())
    assert (3, 0, 5) in padded           # clamped at both ends
    assert (1, 1, 10) in padded


def test_contaminated_spans_zero_word_doc_yields_no_span(spark):
    """A whitespace-only document (_nw=0, one degenerate '' shingle)
    colliding with a whitespace-only bench item must produce NO span —
    F.sequence(0, -1) would otherwise emit a descending [0, -1] bogus
    span (r7 review finding #3); the SQL oracle's range() is empty."""
    docs = spark.createDataFrame(
        [(1, "   "), (2, "alpha beta gamma")], "doc_id int, text string")
    bench = spark.createDataFrame(
        [(100, " "), (101, "alpha beta")], "doc_id int, text string")
    spans = mx.contaminated_spans(docs, bench, k=2, pad=1).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"]))
    assert 1 not in by_doc                      # no bogus span
    assert by_doc[2] == [(0, 2)]                # real leak still found
