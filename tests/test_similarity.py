"""Similarity-search operators: brute-force baseline vs bucketed/LSH paths."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.operators import similarity as sim

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _query(spark):
    row = _emb(spark).filter(F.col("vec_id") == 0).collect()[0]
    return [float(v) for v in row["embedding"]]


def test_brute_force_topk_matches_numpy(spark):
    q = _query(spark)
    rows = _emb(spark).collect()
    qn = math.sqrt(sum(v * v for v in q))

    def cos(vec):
        d = sum(float(a) * float(b) for a, b in zip(vec, q))
        n = math.sqrt(sum(float(a) * float(a) for a in vec))
        return d / (n * qn)

    expected = sorted(((cos(r["embedding"]), r["vec_id"]) for r in rows),
                      key=lambda t: (-t[0], t[1]))[:10]
    got = sim.brute_force_topk(_emb(spark), q, k=10).collect()
    assert [r["vec_id"] for r in got] == [v for _, v in expected]
    for r, (c, _) in zip(got, expected):
        assert abs(r["cosine"] - c) < 1e-6  # float32 storage noise
    assert got[0]["vec_id"] == 0  # the query vector itself ranks first


def test_topk_per_bucket_covers_every_bucket(spark):
    q = _query(spark)
    out = sim.topk_per_bucket(_emb(spark), q, k=3).collect()
    labels = {r["label"] for r in _emb(spark).select("label").collect()}
    per = {}
    for r in out:
        per.setdefault(r["label"], []).append(r["rank"])
    assert set(per) == labels
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def _planes(dim, n, seed=7):
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n)]


def test_hyperplane_buckets_deterministic_and_partitioning(spark):
    planes = _planes(64, 4)
    b1 = {r["vec_id"]: r["bucket"]
          for r in sim.random_hyperplane_buckets(_emb(spark), planes).collect()}
    b2 = {r["vec_id"]: r["bucket"]
          for r in sim.random_hyperplane_buckets(
              _emb(spark).repartition(5), planes).collect()}
    assert b1 == b2
    assert all(0 <= v < 16 for v in b1.values())
    assert len(set(b1.values())) > 1  # actually partitions the space


# ---------------------------------------------------------------------------
# Gopher repetition rules (textstats.repetition_stats)
# ---------------------------------------------------------------------------


def test_repetition_stats_hand_computed(spark):
    from pdf_ocr_batch_ndrocr_lite_spark.operators import textstats as ts
    docs = spark.createDataFrame(
        [(1, "a b a b a b"),       # 2-grams: ab,ba,ab,ba,ab -> top 3/5
         (2, "x y z w"),           # 3 distinct 2-grams, no repeats
         (3, "solo")],             # fewer words than k -> one whole-text gram
        "doc_id int, text string")
    got = {r["doc_id"]: r for r in
           ts.repetition_stats(docs, k=2).collect()}
    assert got[1]["n_grams"] == 5 and got[1]["top_gram_count"] == 3
    assert got[1]["distinct_grams"] == 2
    assert got[1]["top_gram_frac"] == 3 / 5
    assert got[1]["dup_gram_frac"] == 3 / 5   # (5-2)/5
    assert got[2]["n_grams"] == 3 and got[2]["dup_gram_frac"] == 0.0
    assert got[3]["n_grams"] == 1 and got[3]["top_gram_frac"] == 1.0


def test_curation_verdict_every_branch(spark):
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    good = ("the quick brown fox jumps over the lazy dog and then the "
            "fox is off to the river for a long drink of water in the "
            "morning sun and the day is warm and the wind is soft and "
            "the grass is green for miles around the quiet bend") * 1
    rows = [
        (1, good),                           # kept
        (2, good),                           # exact dup of 1 -> exact_dup
        (3, "zzz qqq vvv www xxx yyy kkk"),  # no marker words -> lang
        (4, "the " + " ".join(f"verylongnonsenseword{i:02d}x"
                              for i in range(15))),
                                             # 1 stopword / long words
                                             # -> quality 0.19 < 0.45
        (5, "the fox " * 40 + "and the dog is here for the day so it "
            "is fine and the sun is up and the air is cool and the "
            "path is long and the town is near and the road is dry"),
                                             # 'the fox' dominates -> repetition
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in cu.curation_verdict(docs).collect()}
    assert got[1] == (True, "kept")
    assert got[2] == (False, "exact_dup")
    assert got[3] == (False, "lang")
    assert got[4] == (False, "quality")
    assert got[5] == (False, "repetition")


def test_ivf_assignment_and_probe_recall(spark):
    from pdf_ocr_batch_ndrocr_lite_spark.operators import similarity as sim
    # 3 well-separated centroids in dim 4; vectors cluster tightly around
    # each, so assignment is unambiguous
    cents = [[10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0],
             [0.0, 0.0, 10.0, 0.0]]
    rows = []
    for i in range(30):
        c = i % 3
        vec = [cents[c][j] + (0.1 * ((i + j) % 3)) for j in range(4)]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cells = {r["vec_id"]: r["cell"]
             for r in sim.ivf_assign(emb, cents).collect()}
    assert all(cells[i] == i % 3 for i in range(30))
    # query near centroid 0: probes = [0, then next-nearest]
    q = [9.5, 0.2, 0.1, 0.0]
    assert sim.query_probe_cells(q, cents, nprobe=1) == [0]
    # nprobe = all cells -> identical to brute force
    full = [r["vec_id"] for r in
            sim.ivf_topk(emb, q, cents, k=5, nprobe=3).collect()]
    brute = [r["vec_id"] for r in
             sim.brute_force_topk(emb, q, k=5).collect()]
    assert full == brute
    # nprobe=1 results come only from cell 0 and are a subset of cell-0 ids
    one = sim.ivf_topk(emb, q, cents, k=5, nprobe=1).collect()
    assert all(r["cell"] == 0 for r in one)
    assert {r["vec_id"] % 3 for r in one} == {0}


def test_kmeans_fit_recovers_separable_clusters(spark):
    """Three tight clusters around distinct corners: two Lloyd rounds
    from lowest-id init must land one centroid per cluster and the final
    assignment must equal the generating cluster."""
    import random as _r
    rng = _r.Random(7)
    corners = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    rows = []
    for i in range(90):
        c = corners[i % 3]
        rows.append((i, [v + rng.gauss(0, 0.2) for v in c]))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = sim.kmeans_fit(emb, k=3, iters=2)
    assert len(cents) == 3 and len(cents[0]) == 3
    # each trained centroid sits near a distinct corner
    owners = {max(range(3), key=lambda d: c[d]) for c in cents}
    assert owners == {0, 1, 2}
    got = {r["vec_id"]: r["cell"]
           for r in sim.ivf_assign(emb, cents).collect()}
    # assignment must be constant within each generating cluster
    for base in range(3):
        cells = {got[i] for i in range(base, 90, 3)}
        assert len(cells) == 1, (base, cells)


def test_kmeans_fit_deterministic_under_partitioning(spark):
    """Decimal accumulation makes the trained centroids bit-identical
    regardless of partition layout (a double sum would drift)."""
    rows = [(i, [((i * 7 + j * 13) % 97) / 97.0 for j in range(8)])
            for i in range(200)]
    emb1 = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    c1 = sim.kmeans_fit(emb1.repartition(1), k=4, iters=2)
    c2 = sim.kmeans_fit(emb1.repartition(13), k=4, iters=2)
    assert c1 == c2


def test_kmeans_fit_empty_cell_keeps_previous_centroid(spark):
    """A centroid that captures no points keeps its coordinates instead
    of crashing or going NaN (deterministic, no re-seeding)."""
    # two real clusters, k=3: the two far-apart seeds win everything,
    # the middle seed (vec 0's twin region) may empty out depending on
    # geometry — force it: three identical low-id seeds, so seeds 1,2
    # start dead on seed 0's point and lose every assignment tie
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 0.0])] + \
        [(i, [5.0 + (i % 3) * 0.01, 5.0]) for i in range(3, 40)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = sim.kmeans_fit(emb, k=3, iters=2)
    assert all(all(v == v for v in c) for c in cents)  # no NaN
    # ties assign to the FIRST minimum cell, so cells 1 and 2 are empty
    # and keep their (identical) seed coordinates
    assert cents[1] == cents[2] == [0.0, 0.0]


def test_kmeans_fit_validates_inputs(spark):
    import pytest
    emb = spark.createDataFrame([(0, [1.0])],
                                "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="k must be"):
        sim.kmeans_fit(emb, k=0)
    with pytest.raises(ValueError, match="at least k"):
        sim.kmeans_fit(emb, k=5)


def test_registrable_domain_psl_rules(spark):
    from pyspark.sql import functions as F

    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    urls = [
        ("https://a.co.jp/x", "a.co.jp"),           # registrant under ccSLD
        ("https://w.a.co.jp/x", "a.co.jp"),          # subdomain rolls up
        ("https://b.co.jp/x", "b.co.jp"),            # distinct registrant
        ("https://user.github.io/p", "user.github.io"),  # platform suffix
        ("https://w.d.example.org/p", "example.org"),    # plain TLD: last 2
        ("https://example.org/p", "example.org"),
        ("https://localhost/p", "localhost"),        # 1-label passthrough
        ("HTTPS://WWW.Site.CO.UK/p", "site.co.uk"),  # case-folded host
    ]
    df = spark.createDataFrame([(u,) for u, _ in urls], "url string")
    got = [r["domain"] for r in
           cu.with_registrable_domain(df, "url", "domain").collect()]
    assert got == [want for _, want in urls]


def test_registrable_domain_wildcard_and_exception_rules(spark):
    """Full PSL algorithm coverage: wildcard `*.base` rules (each direct
    child of the base is itself a public suffix), exception `!host`
    carve-outs (which beat the wildcard), 3-label normal rules, and
    suffix-is-the-host passthrough."""
    from pyspark.sql import functions as F

    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    urls = [
        # *.kawasaki.jp: the direct child is the suffix → x rolls to a.kawasaki.jp... i.e. whole host of depth base+2
        ("https://x.a.kawasaki.jp/p", "x.a.kawasaki.jp"),
        ("https://deep.x.a.kawasaki.jp/p", "x.a.kawasaki.jp"),
        # exception !city.kawasaki.jp beats the wildcard
        ("https://city.kawasaki.jp/p", "city.kawasaki.jp"),
        ("https://sub.city.kawasaki.jp/p", "city.kawasaki.jp"),
        # legacy wildcard ccTLD *.ck, with the !www.ck exception
        ("https://shop.foo.ck/p", "shop.foo.ck"),
        ("https://www.ck/p", "www.ck"),
        ("https://a.www.ck/p", "www.ck"),
        # EC2 wildcard *.compute.amazonaws.com
        ("https://ec2-1-2-3-4.us-east-1.compute.amazonaws.com/",
         "ec2-1-2-3-4.us-east-1.compute.amazonaws.com"),
        # 3-label normal rule s3.amazonaws.com
        ("https://bucket.s3.amazonaws.com/key", "bucket.s3.amazonaws.com"),
        ("https://extra.bucket.s3.amazonaws.com/key",
         "bucket.s3.amazonaws.com"),
        # k12 state registries (3-label normal)
        ("https://school.k12.ma.us/p", "school.k12.ma.us"),
        # a host that IS a public suffix passes through
        ("https://s3.amazonaws.com/p", "s3.amazonaws.com"),
        ("https://kawasaki.jp/p", "kawasaki.jp"),
        ("https://a.kawasaki.jp/p", "a.kawasaki.jp"),  # == wildcard suffix
    ]
    df = spark.createDataFrame([(u,) for u, _ in urls], "url string")
    got = [r["domain"] for r in
           cu.with_registrable_domain(df, "url", "domain").collect()]
    assert got == [want for _, want in urls]


def test_per_domain_cap_psl_vs_host(spark):
    """psl=True caps per registrable domain: a.co.jp's five subdomains
    collapse to one key (2 survivors of 5), while the host cap would keep
    all 5; b.co.jp stays a separate registrant."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    rows = [(i, f"https://w{i}.a.co.jp/p") for i in range(5)] \
        + [(10, "https://b.co.jp/p")]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    psl = cu.per_domain_cap(df, cap=2, order_col="doc_id", psl=True)
    got = sorted((r["doc_id"], r["domain"]) for r in psl.collect())
    assert got == [(0, "a.co.jp"), (1, "a.co.jp"), (10, "b.co.jp")]
    host = cu.per_domain_cap(df, cap=2, order_col="doc_id", psl=False)
    assert host.count() == 6  # every host unique: cap never binds


def test_url_dedup_collapses_recrawl_variants(spark):
    """Five crawl variants of one page (case-folded host, tracking
    params, fragment, trailing slash, plain) collapse to the lowest
    doc_id; a genuinely different page survives independently."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    rows = [
        (0, "HTTPS://WWW.Example.ORG/p/1"),
        (1, "https://www.example.org/p/1?utm_source=feed&gclid=z"),
        (2, "https://www.example.org/p/1#nav"),
        (3, "https://www.example.org/p/1/"),
        (4, "https://www.example.org/p/1"),
        (5, "https://www.example.org/p/2"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    got = sorted((r["doc_id"], r["canon_url"])
                 for r in cu.url_dedup(df).collect())
    assert got == [
        (0, "https://www.example.org/p/1"),
        (5, "https://www.example.org/p/2"),
    ]
    # survivors keep every input column plus the canonical key
    assert set(cu.url_dedup(df).columns) == {"doc_id", "url", "canon_url"}


def test_url_dedup_null_url_and_null_id_rows_pass_through(spark):
    """NULL urls are NOT duplicates of one another — even when the id
    is ALSO NULL (concat propagates NULL, so the id sentinel alone
    would re-merge those rows into one hot NULL partition; the third
    coalesce arm gives each its own key)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    rows = [(1, None), (2, None), (None, None), (None, None),
            (3, "https://example.org/")]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    out = cu.url_dedup(df).collect()
    assert len(out) == 5  # nothing collapses except real url dups (none)
    assert sum(1 for r in out if r["url"] is None) == 4


def test_cosine_to_query_plan_stays_jvm_side(spark):
    """Query scoring is the JVM left fold (what the q15/q16/q51 oracles
    gate): no Python stage in the plan."""
    plan = sim.cosine_to_query(_emb(spark), _query(spark)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


# --- hashed bag-of-words classifier scoring --------------------------------


def test_hashed_bow_logit_rejects_empty_weights(spark):
    """An empty weight vector means pmod-by-zero deep in the executor —
    must fail at the caller with a clear ValueError instead."""
    import pytest

    from pdf_ocr_batch_ndrocr_lite_spark.operators import textstats as ts2

    docs = spark.createDataFrame([(0, "a")], "doc_id int, text string")
    with pytest.raises(ValueError, match="weight"):
        ts2.hashed_bow_logit(docs, [])


def test_hashed_bow_logit_matches_hand_computation(spark):
    """Logit = bias + Σ weights[md5hash60(word) % D], exact integer math;
    zero-word docs score the bare bias; keep thresholds the logit."""
    import hashlib

    from pdf_ocr_batch_ndrocr_lite_spark.operators import textstats as ts2

    D = 16
    w = [((i * 5) % 11) - 5 for i in range(D)]
    docs = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, ""), (2, "   "), (3, "gamma"),
         (4, None)],
        "doc_id int, text string")
    got = {r["doc_id"]: (r["logit_tenths"], r["keep"])
           for r in ts2.hashed_bow_logit(docs, w, bias_tenths=2,
                                         threshold_tenths=1).collect()}

    def bucket(word):
        return int(hashlib.md5(word.encode()).hexdigest()[:15], 16) % D

    want0 = 2 + w[bucket("alpha")] * 2 + w[bucket("beta")]
    want3 = 2 + w[bucket("gamma")]
    assert got[0] == (want0, want0 > 1)
    assert got[1] == (2, 2 > 1)       # empty text: bias only
    assert got[2] == (2, True)        # whitespace-only: no words
    assert got[3] == (want3, want3 > 1)
    # NULL text scores the bare bias with a REAL verdict — a NULL
    # logit/keep would silently vanish from filter(keep) (regression)
    assert got[4] == (2, True)


def test_hashed_bow_logit_is_shuffle_free(spark):
    """Model scoring is a pure map stage: the frozen weight vector lives
    inside the expression (no dimension-table join, no exchange)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import textstats as ts2

    docs = spark.createDataFrame([(i, "a b c") for i in range(8)],
                                 "doc_id int, text string")
    plan = ts2.hashed_bow_logit(docs, [1] * 32)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_registrable_domain_randomized_vs_generic_psl_reference(spark):
    """Differential test: 400 seeded random hosts through the Spark
    expression vs an INDEPENDENT generic publicsuffix.org matcher (rule
    iteration + most-labels precedence, not a transcription of the
    when-chain).  Catches precedence and guard mistakes the hand-picked
    cases miss."""
    import random as _r

    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu

    rules = ([(s, "normal") for s in (cu.PUBLIC_SUFFIXES_1L
                                      + cu.PUBLIC_SUFFIXES_2L
                                      + cu.PUBLIC_SUFFIXES_3L
                                      + cu.PUBLIC_SUFFIXES_4L
                                      + cu.PUBLIC_SUFFIXES_5L)]
             + [(s, "wild") for s in (cu.PSL_WILDCARD_BASES_1L
                                      + cu.PSL_WILDCARD_BASES_2L
                                      + cu.PSL_WILDCARD_BASES_3L
                                      + cu.PSL_WILDCARD_BASES_4L)]
             + [(s, "exc") for s in (cu.PSL_EXCEPTIONS_2L
                                     + cu.PSL_EXCEPTIONS_3L)])

    def generic_psl(host):
        labels = host.split(".")
        exc_ps = None
        best_ps = 1  # the implicit '*' rule: the TLD is the suffix
        for rule, kind in rules:
            rl = rule.split(".")
            if kind == "exc":
                if len(labels) >= len(rl) and labels[-len(rl):] == rl:
                    exc_ps = len(rl) - 1
            elif kind == "wild":
                if len(labels) >= len(rl) + 1 and labels[-len(rl):] == rl:
                    best_ps = max(best_ps, len(rl) + 1)
            else:
                if len(labels) >= len(rl) and labels[-len(rl):] == rl:
                    best_ps = max(best_ps, len(rl))
        ps = exc_ps if exc_ps is not None else best_ps
        if len(labels) <= ps:
            return host  # host IS a public suffix: passthrough contract
        return ".".join(labels[-(ps + 1):])

    rng = _r.Random(20260817)
    bases = ([s for s, _ in rules]
             + ["com", "org", "jp", "ck", "us", "au", "example.org"])
    heads = ["", "a", "www", "city", "sub", "shop", "x.y", "deep.sub"]
    hosts = []
    for _ in range(400):
        head = rng.choice(heads)
        base = rng.choice(bases)
        hosts.append((head + "." + base if head else base).lower())
    df = spark.createDataFrame([(f"https://{h}/p",) for h in hosts],
                               "url string")
    got = [r["domain"] for r in
           cu.with_registrable_domain(df, "url", "domain").collect()]
    want = [generic_psl(h) for h in hosts]
    assert got == want


def test_top_k_words_counts_and_tie_cut(spark):
    from pdf_ocr_batch_ndrocr_lite_spark.operators import textstats as ts2

    docs = spark.createDataFrame(
        [(0, "a a a b b c"), (1, "b c d"), (2, None), (3, "  ")],
        "doc_id int, text string")
    got = [(r["word"], r["count"], r["doc_freq"])
           for r in ts2.top_k_words(docs, k=3).collect()]
    # a:3 (1 doc), b:3 (2 docs) — count tie resolves by word; c:2
    assert got == [("a", 3, 1), ("b", 3, 2), ("c", 2, 2)]


def test_top_k_words_plan_is_take_ordered(spark):
    """Top-k must plan as TakeOrdered (k rows per partition), never a
    full vocabulary sort; one shuffle for the fused double aggregate."""
    import pytest

    from pdf_ocr_batch_ndrocr_lite_spark.operators import textstats as ts2

    docs = spark.createDataFrame([(i, "w x y") for i in range(20)],
                                 "doc_id int, text string")
    plan = ts2.top_k_words(docs, k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    with pytest.raises(ValueError, match="k must be"):
        ts2.top_k_words(docs, k=0)


def test_kmeans_fit_tolerates_ragged_and_null_rows(spark):
    """Review regression: under ANSI mode a ragged embedding previously
    aborted training via element_at OOB; now NULL/ragged rows simply
    train nothing (NULL distances → NULL cell) and the centroids come
    from the well-formed rows."""
    rows = [(0, [0.0, 0.0]), (1, [0.1, 0.0]),
            (2, [9.0, 9.0]), (3, [9.1, 9.0]),
            (4, None), (5, [1.0])]                 # NULL + ragged
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = sim.kmeans_fit(emb, k=2, iters=2)
    assert len(cents) == 2
    got = {r["vec_id"]: r["cell"]
           for r in sim.ivf_assign(emb, cents).collect()}
    assert got[0] == got[1] and got[2] == got[3] and got[0] != got[2]


def test_ivf_assign_broadcast_matches_literal(spark):
    """The broadcast codebook path (k >= threshold) must produce
    BIT-identical assignments to the literal path — same fold
    arithmetic, same first-minimum tie rule — including NULL and
    ragged (wrong-dim) vectors, which yield NULL cells on both."""
    import random as _r
    rng = _r.Random(11)
    dim = 12
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(300)]
    rows += [(900, None), (901, [0.25] * (dim - 2))]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(64)]
    # duplicate centroid: the tie must break to the LOWER cell on both
    cents[40] = list(cents[7])
    lit = {r["vec_id"]: r["cell"] for r in
           sim.ivf_assign(emb, cents, broadcast_threshold=10**9).collect()}
    bc = {r["vec_id"]: r["cell"] for r in
          sim.ivf_assign(emb, cents).collect()}
    assert lit == bc
    assert bc[900] is None and bc[901] is None
    # the DataFrame-codebook form (lake-scale centroids) agrees too
    cdf = sim.centroids_df(spark, cents)
    dfp = {r["vec_id"]: r["cell"] for r in
           sim.ivf_assign(emb, cdf).collect()}
    assert dfp == lit


def test_kmeans_fit_broadcast_matches_literal(spark):
    """Training through broadcast rounds returns bit-identical centroids
    to literal rounds (decimal sums + identical assignment per round)."""
    rows = [(i, [((i * 7 + j * 13) % 97) / 97.0 for j in range(8)])
            for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    lit = sim.kmeans_fit(emb, k=20, iters=2, broadcast_threshold=10**9)
    bc = sim.kmeans_fit(emb, k=20, iters=2)    # 20 >= 16 -> broadcast
    assert lit == bc


def test_ivf_topk_accepts_codebook_dataframe(spark):
    """ivf_topk with a (cell, cvec) DataFrame must pick the same probe
    cells and return the same rows as the driver-list form."""
    rows = [(i, [((i * 5 + j * 3) % 31) / 31.0 for j in range(6)])
            for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = [[((b * 11 + j * 7) % 31) / 31.0 for j in range(6)]
             for b in range(24)]
    q = rows[5][1]
    a = [(r["vec_id"], r["cell"]) for r in
         sim.ivf_topk(emb, q, cents, k=5, nprobe=3).collect()]
    b = [(r["vec_id"], r["cell"]) for r in
         sim.ivf_topk(emb, q, sim.centroids_df(spark, cents),
                      k=5, nprobe=3).collect()]
    assert a == b and len(a) == 5


def _knn_frames(spark):
    import random as _r
    rng = _r.Random(7)
    dim = 8
    qrows = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
             for i in range(12)]
    crows = [(100 + i, [rng.uniform(-1, 1) for _ in range(dim)])
             for i in range(80)]
    crows += [(900, None), (901, [0.0] * dim)]   # null + zero-norm
    q = spark.createDataFrame(qrows, "query_id int, embedding array<double>")
    c = spark.createDataFrame(crows, "vec_id int, embedding array<double>")
    cents = [list(crows[i][1]) for i in range(6)]
    return q, c, cents, qrows, crows


def test_knn_join_full_probe_matches_bruteforce(spark):
    """With nprobe = n_cells every candidate survives the cell filter,
    so the join must equal exact per-query cosine top-k."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators.vecmath import (
        dot as _d,  # noqa: F401 — exact kernel import sanity
    )
    q, c, cents, qrows, crows = _knn_frames(spark)
    got = {}
    for r in sim.knn_join(q, c, cents, k=4, nprobe=6).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"]))

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return num / (na * nb) if na > 0 and nb > 0 else None

    for qid, qv in qrows:
        scored = sorted(
            ((cos(qv, cv), cid) for cid, cv in crows
             if cv is not None and cos(qv, cv) is not None),
            key=lambda t: (-t[0], t[1]))[:4]
        expect = [(i + 1, cid) for i, (_, cid) in enumerate(scored)]
        assert [(rk, cid) for rk, cid, _ in sorted(got[qid])] == expect, qid
    # null/zero-norm corpus rows never appear
    all_ids = {cid for lst in got.values() for _, cid, _ in lst}
    assert 900 not in all_ids and 901 not in all_ids


def test_knn_join_cap_invariance_and_codebook_df(spark):
    q, c, cents, _, _ = _knn_frames(spark)
    base = sorted((r["query_id"], r["rank"], r["vec_id"]) for r in
                  sim.knn_join(q, c, cents, k=3, nprobe=2).collect())
    salted = sorted((r["query_id"], r["rank"], r["vec_id"]) for r in
                    sim.knn_join(q, c, cents, k=3, nprobe=2,
                                 bucket_cap=1, max_salts=4).collect())
    cdf = sim.centroids_df(spark, cents)
    viadf = sorted((r["query_id"], r["rank"], r["vec_id"]) for r in
                   sim.knn_join(q, c, cdf, k=3, nprobe=2).collect())
    assert base == salted == viadf and base


def test_knn_join_plan_no_cartesian(spark):
    """The join must be cell-keyed — no CartesianProduct /
    BroadcastNestedLoopJoin between queries and corpus (the 1-row
    codebook BNLJ is the only allowed one) and the codebook must
    broadcast."""
    q, c, cents, _, _ = _knn_frames(spark)
    plan = sim.knn_join(q, c, cents, k=3, nprobe=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan
    # every BNLJ in the plan is a 1-row codebook attach; the q-c join
    # itself is a hash join on the cell key
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan, plan


def test_url_dedup_null_urls_pass_through(spark):
    """NULL urls are not duplicates of each other: every NULL-url row
    must survive individually (r7 review finding #4 — partitionBy
    groups NULL keys, which silently collapsed them to one row)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    rows = [(0, "https://a.org/x"), (1, "https://a.org/x#f"),
            (2, None), (3, None), (4, None)]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    got = sorted(r["doc_id"] for r in cu.url_dedup(df).collect())
    assert got == [0, 2, 3, 4]


def test_canonical_dedup_declared_canonical_and_fallback(spark):
    """rel=canonical extraction: both attribute orders, any rel quoting,
    stylesheet decoys never match, relative canonicals drop; dedup
    collapses mirrors by declared canonical (distinct urls!) and falls
    back to the page's canonicalized url, min-agg winner (no window)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    rows = [
        (1, "https://m1.org/a",
         '<link rel=canonical href="https://c.org/x">'),
        (2, "https://m2.org/b",
         "<link href=\"https://c.org/x\" rel='canonical'>"),
        (3, "https://m3.org/c",
         '<link rel="stylesheet" href="https://cdn.org/s.css">'),
        (4, "https://m4.org/d",
         '<link rel="canonical" href="/relative">'),  # relative: drops
    ]
    pages = spark.createDataFrame(rows, "doc_id int, url string, html string")
    out = cu.canonical_dedup(pages)
    got = {r["doc_id"]: r["canon_key"] for r in out.collect()}
    # 2 collapses into 1 via the shared canonical; the decoy and the
    # relative canonical fall back to the page's own canonical url
    assert got == {1: "https://c.org/x",
                   3: "https://m3.org/c",
                   4: "https://m4.org/d"}
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in phys
    assert "partial_min" in phys


def test_canonical_dedup_null_id_rows_pass_through(spark):
    """A NULL-id page with no canonical owns a unique sentinel key and
    must SURVIVE (null-safe winner join); a NULL-id page sharing a
    declared canonical group loses to any non-null id."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    rows = [
        (None, "https://solo.org/a", "<p>no canonical</p>"),
        (None, "https://m9.org/z",
         '<link rel=canonical href="https://c.org/x">'),
        (7, "https://m1.org/b",
         '<link rel=canonical href="https://c.org/x">'),
    ]
    pages = spark.createDataFrame(rows, "doc_id int, url string, html string")
    out = cu.canonical_dedup(pages)
    kept = sorted((r["url"]) for r in out.collect())
    assert kept == ["https://m1.org/b", "https://solo.org/a"]
