"""Link-graph operators: outlink extraction, in-degree, fixed-point
PageRank (hand-computed oracle + invariants)."""

from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lg


def test_extract_outlinks_absolute_only(spark):
    """Absolute http(s) anchors come out in document order; relative
    links and non-anchor urls are ignored; duplicate anchors kept."""
    rows = [
        ("p1", '<a href="https://a.org/x">1</a>'
               '<a href="/rel">2</a>'
               '<a href="http://b.org/">3</a>'
               '<a href="https://a.org/x">4</a>'
               '<img src="https://img.org/i.png">'),
        ("p2", "no links here"),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    got = [(r["url"], r["target"])
           for r in lg.extract_outlinks(df).collect()]
    assert got == [("p1", "https://a.org/x"), ("p1", "http://b.org/"),
                   ("p1", "https://a.org/x")]
    counts = {r["target"]: r["inlinks"]
              for r in lg.inlink_counts(lg.extract_outlinks(df)).collect()}
    assert counts == {"https://a.org/x": 2, "http://b.org/": 1}


def test_pagerank_hand_computed_one_round(spark):
    """scale=1000, N=3, d=85/100, edges 0->1, 0->2, 1->2 (node 2
    dangling).  r0 = 333 each; contribs: 0 sends 333 div 2 = 166 to
    1 and 2, 1 sends 333 to 2.  base = ((1000*15)//100)//3 = 50.
    r1(0)=50, r1(1)=50+(85*166)//100=191, r1(2)=50+(85*499)//100=474."""
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2)], "src long, dst long")
    got = {r["id"]: r["rank"]
           for r in lg.pagerank(edges, iterations=1, scale=1000).collect()}
    assert got == {0: 50, 1: 191, 2: 474}


def test_pagerank_mass_bounded_and_deterministic(spark):
    """On a graph with no dangling nodes total mass stays within
    truncation loss of `scale`; two partitionings agree bit-for-bit."""
    n = 50
    rows = [(i, (i * 13 + k) % n) for i in range(n) for k in (1, 2)]
    edges = spark.createDataFrame(rows, "src long, dst long").distinct()
    r1 = lg.pagerank(edges, num_nodes=n, iterations=4)
    total = sum(r["rank"] for r in r1.collect())
    # truncation deficit recursion: d' <= 0.85 d + (2N + E); with
    # N=50, E=100 that is < 650 after 4 rounds — assert with headroom
    assert 10 ** 12 - total < 1000
    r2 = lg.pagerank(edges.repartition(7), num_nodes=n, iterations=4)
    assert sorted(map(tuple, r1.collect())) == \
        sorted(map(tuple, r2.collect()))


def test_pagerank_scratch_barrier_matches_symbolic(spark, tmp_path):
    """The per-round parquet barrier changes the physical plan only —
    identical ranks with and without scratch_dir."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 1)], "src long, dst long")
    sym = sorted(map(tuple, lg.pagerank(edges, iterations=3).collect()))
    bar = sorted(map(tuple, lg.pagerank(
        edges, iterations=3, scratch_dir=str(tmp_path)).collect()))
    assert sym == bar


def test_trustrank_seeded_teleport_hand_computed(spark):
    """scale=1000, d=85/100, edges 0->1, 1->2, 2->0, seeds={0}.
    r0 = (1000, 0, 0); base(0)=150, others 0.  Round 1: contribs
    0->1:1000, 1->2:0, 2->0:0 -> r=(150, 850, 0).  A node reachable
    only THROUGH the seed holds rank; rank decays with distance."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {r["id"]: r["rank"]
           for r in lg.pagerank(edges, iterations=1, scale=1000,
                                seeds=seeds).collect()}
    assert got == {0: 150, 1: 850, 2: 0}
    # unseeded classic PageRank on the same graph differs (uniform base)
    classic = {r["id"]: r["rank"]
               for r in lg.pagerank(edges, iterations=1,
                                    scale=1000).collect()}
    assert classic != got
    import pytest
    with pytest.raises(ValueError):
        lg.pagerank(edges, seeds=spark.createDataFrame([], "id long"))


def test_trustrank_isolated_seed_keeps_teleport_mass(spark):
    """A trusted seed with NO edges must still appear in the rank frame
    holding its share of the restart mass — num_seeds divides the
    teleport/init mass, so dropping edge-less seeds would silently
    shrink total fixed-point mass.  seeds={0, 9}, node 9 isolated:
    base(9) = ((1000*15)//100)//2 = 75 and node 9 settles there."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long")
    seeds = spark.createDataFrame([(0,), (9,)], "id long")
    got = {r["id"]: r["rank"]
           for r in lg.pagerank(edges, iterations=2, scale=1000,
                                seeds=seeds).collect()}
    assert 9 in got
    assert got[9] == 75
    # r0 = (500, 0, 0, 500); round 1: 0->1 ships 500, non-seeds get no
    # base -> r1 = (75, 85*500//100 = 425, 0, 75); round 2: contribs
    # 0->1:75, 1->2:425 -> (75, 85*75//100 = 63, 85*425//100 = 361, 75)
    assert got == {0: 75, 1: 63, 2: 361, 9: 75}


def test_pagerank_validates_inputs(spark):
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    import pytest
    with pytest.raises(ValueError):
        lg.pagerank(edges, iterations=0)
    with pytest.raises(ValueError):
        lg.pagerank(edges, damping_num=100, damping_den=100)


def test_extract_anchors_pairs_and_truncation(spark):
    """href/text stay positionally paired across anchors; relative
    links drop; nested markup truncates the anchor text at the first
    tag; attributes after the href don't break the pairing."""
    rows = [("p1", '<a href="https://a.org/">first link</a>'
                   '<a href="/rel">nope</a>'
                   '<a href="https://b.org/" rel=nofollow>has <b>bold</b></a>')]
    df = spark.createDataFrame(rows, "url string, html string")
    got = [(r["target"], r["anchor"])
           for r in lg.extract_anchors(df).collect()]
    assert got == [("https://a.org/", "first link"),
                   ("https://b.org/", "has ")]


def test_pagerank_dangling_redistribution_conserves_mass(spark):
    """edges 0->1, 1->2 (node 2 dangling), scale=900, N=3, base=45,
    init=300 each.  With redistribution: D=300, extra=300//3=100 per
    node -> r1 = (45+85*100//100, 45+85*400//100, 45+85*400//100)
    = (130, 385, 385), total 900 — mass conserved.  Without: the
    default leaks D (total 645)."""
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r["id"]: r["rank"]
           for r in lg.pagerank(edges, iterations=1, scale=900,
                                redistribute_dangling=True).collect()}
    assert got == {0: 130, 1: 385, 2: 385}
    assert sum(got.values()) == 900
    leak = {r["id"]: r["rank"]
            for r in lg.pagerank(edges, iterations=1,
                                 scale=900).collect()}
    assert leak == {0: 45, 1: 300, 2: 300}


def test_resolve_links_all_classes(spark):
    """Every href class resolves per RFC 3986 against the page url (or
    an absolute <base href> when present): relative, root-relative,
    parent ('..' pops; over-popping clamps at root), protocol-relative,
    absolute (fragment stripped, query kept), trailing-slash directory
    form; mailto/empty drop; a page whose base has no http(s) host
    yields nothing."""
    rows = [
        ("https://a.org/d/e/page.html",
         '<a href="x/y.html">1</a>'
         '<a href="/root/z">2</a>'
         '<a href="../up.html">3</a>'
         '<a href="../../../toofar.html">4</a>'
         '<a href="//b.org/pr">5</a>'
         '<a href="https://c.org/abs#frag">6</a>'
         '<a href="mailto:x@y.z">7</a>'
         '<a href="./same.html?q=1#f">8</a>'
         '<a href="dir/">9</a>'
         '<a href="">10</a>'),
        ("https://d.org/p.html",
         '<base href="https://base.net/bd/sub/">'
         '<a href="rel.html">1</a><a href="/r">2</a>'),
        ("not-a-url", '<a href="x.html">only</a>'),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    got = sorted((r["url"], r["target"])
                 for r in lg.resolve_links(df).collect())
    assert got == sorted([
        ("https://a.org/d/e/page.html", "https://a.org/d/e/x/y.html"),
        ("https://a.org/d/e/page.html", "https://a.org/root/z"),
        ("https://a.org/d/e/page.html", "https://a.org/d/up.html"),
        ("https://a.org/d/e/page.html", "https://a.org/toofar.html"),
        ("https://a.org/d/e/page.html", "https://b.org/pr"),
        ("https://a.org/d/e/page.html", "https://c.org/abs"),
        ("https://a.org/d/e/page.html",
         "https://a.org/d/e/same.html?q=1"),
        ("https://a.org/d/e/page.html", "https://a.org/d/e/dir/"),
        ("https://d.org/p.html", "https://base.net/bd/sub/rel.html"),
        ("https://d.org/p.html", "https://base.net/r"),
    ])


def test_resolve_links_is_jvm_side_zero_shuffle(spark):
    """The resolver is pure projections + one explode: no Exchange, no
    Python (BatchEvalPython/ArrowEval must not appear)."""
    df = spark.createDataFrame(
        [("https://a.org/", '<a href="x">t</a>')], "url string, html string")
    phys = lg.resolve_links(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in phys
    assert "EvalPython" not in phys


def test_host_edges_psl_aggregation_and_self_loop_drop(spark):
    """Page-level links aggregate to registrable-domain granularity:
    sub.a.co.jp and www.a.co.jp are ONE node (a.co.jp); intra-domain
    chrome edges drop by default."""
    links = spark.createDataFrame(
        [("https://sub.a.co.jp/p", "https://www.a.co.jp/q"),   # self
         ("https://sub.a.co.jp/p", "https://b.org/x"),
         ("https://www.a.co.jp/r", "https://b.org/y"),
         ("https://b.org/x", "https://a.co.jp/z")],
        "url string, target string")
    got = sorted(map(tuple, lg.host_edges(links).collect()))
    assert got == [("a.co.jp", "b.org", 2), ("b.org", "a.co.jp", 1)]
    kept_self = lg.host_edges(links, drop_self=False)
    assert kept_self.count() == 3  # the self-loop group survives


def test_extract_anchors_ignores_non_anchor_hrefs(spark):
    """<link>/<base> tags carrying an absolute href must NOT attribute
    the following text as anchor text — the pattern is anchored on the
    <a tag name (r7 advice)."""
    rows = [("p1", '<link href="https://cdn.org/s.css" rel=stylesheet>'
                   'not an anchor<'
                   '<base href="https://base.org/">also not<'
                   '<a data-href="https://evil.org/no">decoy text<'
                   '<a class="x" href="https://real.org/">yes</a>')]
    df = spark.createDataFrame(rows, "url string, html string")
    got = [(r["target"], r["anchor"])
           for r in lg.extract_anchors(df).collect()]
    assert got == [("https://real.org/", "yes")]


def test_run_webgraph_end_to_end(spark, tmp_path):
    """Composed job: binary html decodes, stages barrier through the
    scratch dir, and the ranks equal the direct operator composition."""
    from pdf_ocr_batch_ndrocr_lite_spark.plans.webgraph import run_webgraph

    rows = []
    for i in range(30):
        n, m = i % 3, (i + 1) % 3
        html = (f'<a href="../x{i % 5}.html">rel</a>'
                f'<a href="https://dom{m}.org/abs">abs</a>')
        rows.append((f"https://sub.dom{n}.org/a/p{i}.html",
                     html.encode("utf-8")))
    pages = spark.createDataFrame(rows, "url string, html binary")
    ranks, counts = run_webgraph(pages, iterations=2,
                                 scratch_dir=str(tmp_path))
    got = sorted(map(tuple, ranks.collect()))
    assert counts["links"] == 60
    # rel links are intra-domain (dropped); abs links ring dom0->dom1->
    # dom2->dom0 at eTLD+1 granularity
    assert counts["host_edges"] == 3
    # the counts are observed on the barrier writes: they are those tables
    for name, key in (("links", "links"), ("edges", "host_edges")):
        assert spark.read.parquet(str(tmp_path / name)).count() == \
            counts[key]
    # direct composition (localCheckpoint barriers) must agree exactly
    from pdf_ocr_batch_ndrocr_lite_spark.operators import linkgraph as lgo
    src = pages.select("url", F.col("html").cast("string").alias("html"))
    links = lgo.resolve_links(src).localCheckpoint(eager=False)
    edges = lgo.host_edges(links).localCheckpoint(eager=False)
    want = sorted(
        (r["id"], r["rank"])
        for r in lgo.pagerank(edges, iterations=2, src_col="src_host",
                              dst_col="dst_host",
                              key_type=None).collect())
    assert got == want


def test_run_webgraph_empty_graph_returns_typed_empty(spark, tmp_path):
    """An anchor-free shard yields an empty (host, rank) frame, not a
    pagerank empty-node error."""
    from pdf_ocr_batch_ndrocr_lite_spark.plans.webgraph import run_webgraph

    pages = spark.createDataFrame(
        [("https://a.org/", b"<p>no links here</p>")],
        "url string, html binary")
    ranks, counts = run_webgraph(pages, scratch_dir=str(tmp_path))
    assert counts["host_edges"] == 0
    assert ranks.count() == 0
    assert [f.name for f in ranks.schema.fields] == ["host", "rank"]


def test_with_host_rank_join_back_and_null_for_unranked(spark):
    """Documents get their registrable domain's rank; a doc on an
    unranked host gets NULL (absence is data); no forced broadcast."""
    docs = spark.createDataFrame(
        [(1, "https://www.a.co.jp/x"), (2, "https://sub.a.co.jp/y"),
         (3, "https://nowhere.org/z")],
        "doc_id int, url string")
    ranks = spark.createDataFrame([("a.co.jp", 777)],
                                  "host string, rank long")
    out = {r["doc_id"]: (r["host"], r["host_rank"])
           for r in lg.with_host_rank(docs, ranks).collect()}
    assert out == {1: ("a.co.jp", 777), 2: ("a.co.jp", 777),
                   3: ("nowhere.org", None)}


def test_resolve_links_quote_styles_and_attr_boundary(spark):
    """resolve_links accepts double-quoted, single-quoted, spaced-equals
    and unquoted hrefs (real crawl HTML uses all three styles), while
    `data-href=` can never false-positive (attribute boundary) and an
    empty href still drops."""
    rows = [("https://a.org/d/p.html",
             "<a href='x/y.html'>sq</a>"
             '<a href=bare.html>unq</a>'
             '<a class="c" href = "spaced.html">sp</a>'
             '<a data-href="https://evil.org/no">decoy</a>'
             '<a href="">empty</a>'
             '<a href="https://b.org/abs">abs</a>')]
    df = spark.createDataFrame(rows, "url string, html string")
    got = sorted(r["target"] for r in lg.resolve_links(df).collect())
    assert got == sorted(["https://a.org/d/x/y.html",
                          "https://a.org/d/bare.html",
                          "https://a.org/d/spaced.html",
                          "https://b.org/abs"])


def test_resolve_links_base_quote_styles(spark):
    """<base href> works in all three quoting styles; a RELATIVE base
    (no absolute http(s) value) is ignored and the page url resolves."""
    rows = [("https://d.org/p.html",
             "<base href='https://base.net/bd/'><a href=\"rel.html\">1</a>"),
            ("https://e.org/p.html",
             "<base href=https://bq.net/u/><a href='r2.html'>2</a>"),
            ("https://f.org/a/p.html",
             '<base href="/relative-base/"><a href="r3.html">3</a>')]
    df = spark.createDataFrame(rows, "url string, html string")
    got = sorted((r["url"], r["target"])
                 for r in lg.resolve_links(df).collect())
    assert got == [
        ("https://d.org/p.html", "https://base.net/bd/rel.html"),
        ("https://e.org/p.html", "https://bq.net/u/r2.html"),
        ("https://f.org/a/p.html", "https://f.org/a/r3.html"),
    ]


def test_resolve_links_query_only_keeps_document_path(spark):
    """RFC 3986 5.3: an empty reference path with a query keeps the
    FULL base path (document name included) — the pagination-link
    shape; a fragment-only href is same-document and drops."""
    rows = [("https://a.org/d/e/page.html",
             '<a href="?page=2">next</a><a href="#sec">frag</a>')]
    df = spark.createDataFrame(rows, "url string, html string")
    got = [r["target"] for r in lg.resolve_links(df).collect()]
    assert got == ["https://a.org/d/e/page.html?page=2"]
    # and against a <base href> document path too
    rows2 = [("https://x.org/p",
              '<base href="https://b.net/dir/doc.php">'
              '<a href="?q=1">q</a>')]
    df2 = spark.createDataFrame(rows2, "url string, html string")
    got2 = [r["target"] for r in lg.resolve_links(df2).collect()]
    assert got2 == ["https://b.net/dir/doc.php?q=1"]
