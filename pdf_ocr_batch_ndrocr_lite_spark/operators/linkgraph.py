"""Web link-graph operators: outlink extraction, in-degree, PageRank.

The URL-level quality signals a webtext curation pipeline ranks sources
by (Common-Crawl publishes harmonic centrality / PageRank per host for
exactly this purpose): extract the anchor graph from raw HTML, count
in-links, and run a damped PageRank over the edge list.

Scale design
------------
- `extract_outlinks` is a pure projection + explode (regexp_extract_all
  stays JVM-side); no shuffle until the caller aggregates.
- `pagerank` uses **integer fixed-point arithmetic** (BIGINT ranks
  scaled by `scale`, truncating `div` at every step): bit-identical
  under any partitioning and any engine — float PageRank would drift
  with reduction order, making cross-engine verification impossible.
  Per round: one shuffle join of the rank map against the static
  (src, dst, outdeg) edge relation + one groupBy(dst) partial-agg sum.
  The edge relation is computed ONCE; rank lineage grows linearly in
  rounds (rank x static-edges join, NOT a self-join — the iterative
  plan explosion documented for connected_components does not arise at
  typical iteration counts), with an optional per-round parquet barrier
  (`scratch_dir`) for long runs.
- Dangling nodes (in-links but no outlinks) keep receiving rank but
  redistribute nothing — the standard "mass leak" fixed-point variant;
  deterministic, and exactly reproducible in the SQL oracle.
  ``redistribute_dangling=True`` closes the leak (q88 oracle).
- `resolve_links` resolves relative/protocol-relative/root-relative
  hrefs against the page url or an absolute ``<base href>`` — all JVM
  expressions (RFC 3986 dot segments via an aggregate fold).
  `host_edges` aggregates the resolved graph to registrable-domain
  granularity (full-PSL eTLD+1) — the granularity Common-Crawl
  publishes webgraph ranks at; `pagerank(key_type=None)` then runs the
  fixed point directly on the host strings; `with_host_rank` joins the
  rank table back onto documents (the keep-list / weighting signal a
  curation cascade consumes).  ALWAYS materialize between
  resolve_links → host_edges → pagerank (`barrier.materialize`):
  the resolver + double PSL cascade exceeds the 64KB codegen method
  budget and would inline into every pagerank round (BASELINE.md r8).
  `plans.webgraph.run_webgraph` is the composed job; `jobs.py
  --webgraph` the CLI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .barrier import materialize

_HREF_RE = r'href="(https?://[^"]+)"'


def extract_outlinks(pages: DataFrame) -> DataFrame:
    """(url, target) per absolute http(s) anchor in the page `html`.

    One JVM-side regexp_extract_all + explode — no Python, no shuffle.
    Relative links are out of scope (resolving them needs a base-url
    join the caller can add); duplicate anchors on a page are kept so
    in-degree counts weight repeated links, mirroring the raw graph.
    """
    links = F.expr(f"regexp_extract_all(html, '{_HREF_RE}', 1)")
    return pages.select(F.col("url"), F.explode(links).alias("target"))


#: attribute boundary before href (([^>]*\s)?) so data-href can never
#: false-positive; groups: 2 = href, 3 = anchor text
_ANCHOR_RE = r'<a\s([^>]*\s)?href="(https?://[^"]+)"[^>]*>([^<]*)<'


def extract_anchors(pages: DataFrame) -> DataFrame:
    """(url, target, anchor) per absolute http(s) anchor WITH its link
    text — the anchor-text corpus (what the web calls the target page):
    a classic relevance/title signal for crawl ranking and document
    title synthesis.

    The pattern is anchored on the ``<a`` tag name, so a ``<link>`` or
    ``<base>`` carrying an absolute href can never attribute unrelated
    following text as anchor text.  SINGLE pass over the HTML: whole
    matches are extracted once (group 0), then the two capture groups
    are split out per ELEMENT — re-running the regex on a short matched
    anchor instead of a second full scan of every payload.  Measured
    (200k × 2KB pages, 8 anchors each): ~6% faster end-to-end — the
    full-scan saving partly pays for the per-element re-match at this
    anchor density, but the saving grows with payload size since the
    per-element cost is bounded by anchor length, not page length
    (BASELINE.md r8).  Zero Python, no shuffle.  Anchors whose text
    contains markup (nested tags) truncate at the first '<' by
    construction of the capture."""
    matches = F.regexp_extract_all(F.col("html"), F.lit(_ANCHOR_RE), 0)
    # stage the HOF array in its own projection (HOFs are never CSE'd),
    # then split groups per matched element and explode the pairs
    staged = pages.select(F.col("url"), matches.alias("_m"))
    pairs = F.transform(
        F.col("_m"),
        lambda m: F.struct(
            F.regexp_extract(m, _ANCHOR_RE, 2).alias("t"),
            F.regexp_extract(m, _ANCHOR_RE, 3).alias("a")))
    return (staged.select("url", F.explode(pairs).alias("_p"))
            .select("url", F.col("_p.t").alias("target"),
                    F.col("_p.a").alias("anchor")))


#: resolve_links matches ALL three HTML quoting styles (double, single,
#: unquoted) and requires a real attribute boundary before `href` so
#: `data-href=` can't false-positive.  Group 2 captures the raw value
#: WITH its quotes (or bare) — the per-element split strips them, so
#: exactly one extract runs per match.  extract_outlinks /
#: extract_anchors keep their double-quote-only spec (oracle-frozen).
_A_HREF_ANY_RE = (r'<a\s([^>]*\s)?href\s*=\s*'
                  r'("[^"]*"|\'[^\']*\'|[^\s>"\']+)')
#: same quoting tolerance for the <base href> override (group 2 keeps
#: the quoting; only absolute http(s) values qualify as a base)
_BASE_HREF_ANY_RE = (r'<base\s([^>]*\s)?href\s*=\s*'
                     r'("https?://[^"]*"|\'https?://[^\']*\''
                     r'|https?://[^\s>"\']+)')


def _normalized_path(norm_col, raw_path_col):
    """Reassemble a dot-segment-normalized path from the folded segment
    array (`norm_col`) plus the RAW path (for the directory-form rule):
    '/'-joined with a leading '/', keeping the trailing '/' when the raw
    path ends in '/', '/.' or '/..' (RFC 3986 remove_dot_segments keeps
    the directory form there).  Duplicate slashes collapse (the fold
    drops empty segments) — acceptable for a web-graph key."""
    joined = F.concat(F.lit("/"), F.array_join(norm_col, "/"))
    trailing = raw_path_col.rlike(r"(/|/\.|/\.\.)$")
    return F.when(trailing & (F.size(norm_col) > 0),
                  F.concat(joined, F.lit("/"))).otherwise(joined)


def _dot_segment_fold(path_col):
    """array<string> of path segments with '.' dropped and '..' popping
    the previous segment ('..' at root is ignored, per RFC 3986) — a
    JVM-side aggregate fold, no Python."""
    segs = F.filter(F.split(path_col, "/"),
                    lambda s: (s != "") & (s != "."))
    return F.aggregate(
        segs, F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            s == "..",
            F.when(F.size(acc) > 0, F.slice(acc, 1, F.size(acc) - 1))
            .otherwise(acc)
        ).otherwise(F.concat(acc, F.array(s))))


def resolve_links(pages: DataFrame) -> DataFrame:
    """(url, target): every ``<a href>`` — absolute, protocol-relative,
    root-relative, or path-relative — resolved to an absolute URL
    against the page's base (an absolute ``<base href>`` wins over the
    page url, first occurrence), entirely in JVM expressions: regex
    extraction, CASE dispatch, and an aggregate fold for RFC 3986
    dot-segment removal.  Real crawl HTML is mostly relative links, so
    in-degree/PageRank over `extract_outlinks` (absolute-only)
    under-count on realistic pages — this is the extractor a host-level
    webgraph should feed (see `host_edges`).

    Per-href semantics: fragments strip everywhere (crawl identity);
    queries survive; non-http(s) schemes (mailto:, javascript:) and
    empty hrefs drop; pages whose base has no http(s) host drop.
    Zero Python, zero shuffle — four narrow fused projections (HOF and
    multiply-referenced subtrees are staged per the no-CSE discipline).
    """
    rawvals = F.regexp_extract_all(F.col("html"), F.lit(_A_HREF_ANY_RE), 2)
    # strip the quoting style per element (group 2 keeps the quotes so
    # one extract covers all three alternatives)
    hrefs = F.transform(
        rawvals,
        lambda v: F.when(F.substring(v, 1, 1).isin('"', "'"),
                         v.substr(F.lit(2), F.length(v) - 2))
        .otherwise(v))
    # stage the base extract ONCE (it is referenced three times below,
    # inside when() branches — CASE branches share no subexpression
    # elimination, and this regex scans the full payload)
    a0 = pages.select(
        F.col("url"), hrefs.alias("_hs"),
        F.regexp_extract(F.col("html"), _BASE_HREF_ANY_RE, 2)
        .alias("_braw"))
    braw = F.col("_braw")
    bval = F.when(F.substring(braw, 1, 1).isin('"', "'"),
                  braw.substr(F.lit(2), F.length(braw) - 2)) \
        .otherwise(braw)
    base = F.when(braw != "", bval).otherwise(F.col("url"))
    a = a0.select("url", "_hs", base.alias("_base"))
    b = a.select(
        "url", "_hs",
        F.regexp_extract("_base", r"^(https?)://", 1).alias("_scheme"),
        F.regexp_extract("_base", r"^https?://([^/?#]+)", 1).alias("_host"),
        F.regexp_extract("_base", r"^https?://[^/?#]+(/[^?#]*)?", 1)
        .alias("_bpath"))
    bdir = F.when(F.col("_bpath") == "", F.lit("/")) \
        .otherwise(F.regexp_replace("_bpath", r"[^/]*$", ""))
    bfull = F.when(F.col("_bpath") == "", F.lit("/")) \
        .otherwise(F.col("_bpath"))
    c = (b.filter(F.col("_host") != "")
         .select("url", "_scheme", "_host", bdir.alias("_bdir"),
                 bfull.alias("_bfull"),
                 F.explode("_hs").alias("_h0")))
    h = F.regexp_replace(F.col("_h0"), r"#.*$", "")   # strip fragment
    d = c.select("url", "_scheme", "_host", "_bdir", "_bfull",
                 h.alias("_h"))
    hpath = F.regexp_extract("_h", r"^[^?]*", 0)
    hquery = F.regexp_extract("_h", r"(\?.*)$", 1)
    is_abs = F.col("_h").rlike(r"^https?://")
    is_proto_rel = F.col("_h").rlike("^//")
    is_root = F.col("_h").rlike("^/") & ~is_proto_rel
    has_scheme = F.col("_h").rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:")
    is_query_only = F.col("_h").rlike(r"^\?")
    # the raw (pre-normalization) path of the root/relative target;
    # NULL for every other class — the fold below runs on this once.
    # A query-only reference ("?page=2", the pagination-link shape)
    # keeps the FULL base path including the document name (RFC 3986
    # §5.3: empty reference path + defined query), not the directory.
    rawpath = (
        F.when(is_abs | is_proto_rel | has_scheme | (F.col("_h") == ""),
               F.lit(None).cast("string"))
        .when(is_query_only, F.col("_bfull"))
        .when(is_root, hpath)
        .otherwise(F.concat(F.col("_bdir"), hpath)))
    e = d.select("url", "_scheme", "_host", "_h",
                 rawpath.alias("_rp"), hquery.alias("_q"))
    # stage the fold (HOFs are never CSE'd; _normalized_path reads it
    # twice: size guard + join)
    f = e.select("url", "_scheme", "_host", "_h", "_rp", "_q",
                 _dot_segment_fold(F.col("_rp")).alias("_segs"))
    resolved_rel = F.concat(F.col("_scheme"), F.lit("://"), F.col("_host"),
                            _normalized_path(F.col("_segs"), F.col("_rp")),
                            F.col("_q"))
    target = (
        F.when(F.col("_h") == "", F.lit(None).cast("string"))
        .when(F.col("_h").rlike(r"^https?://"), F.col("_h"))
        .when(F.col("_h").rlike("^//"),
              F.concat(F.col("_scheme"), F.lit(":"), F.col("_h")))
        .when(F.col("_h").rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"),
              F.lit(None).cast("string"))
        .otherwise(resolved_rel))
    return (f.select("url", target.alias("target"))
            .filter(F.col("target").isNotNull()))


def host_edges(links: DataFrame, drop_self: bool = True) -> DataFrame:
    """(src_host, dst_host, n): the (url, target) page-level edge list
    aggregated to host granularity — registrable domain (full-PSL
    eTLD+1), matching the granularity Common-Crawl publishes its webgraph
    ranks at.  ``drop_self`` removes
    intra-host edges (the navigation chrome that would otherwise
    dominate every host's in-degree).  One shuffle (the groupBy); the
    domain derivation is the zero-shuffle PSL projection cascade."""
    from . import curation as cu

    e = cu.with_registrable_domain(links, "url", "src_host")
    e = cu.with_registrable_domain(e, "target", "dst_host")
    e = e.filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    if drop_self:
        e = e.filter(F.col("src_host") != F.col("dst_host"))
    return (e.groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n")))


def with_host_rank(docs: DataFrame, ranks: DataFrame) -> DataFrame:
    """Attach the (host, rank) webgraph rank of each document url's
    registrable domain as ``host_rank`` —
    the source-quality signal a curation cascade filters/weights by
    (CCNet/RefinedWeb keep-lists are exactly this join).  Documents on
    unranked hosts get NULL (absence is data: isolated hosts rank
    nothing).

    Join strategy is left to the optimizer: the rank table is bounded
    by HOST count, orders of magnitude below document count, but at
    web scale that is still ~10^8 registrable domains — forcing a
    broadcast would violate the no-unbounded-broadcast invariant; AQE
    picks broadcast exactly when the runtime size allows."""
    from . import curation as cu

    clash = [c for c in docs.columns
             if c in ("host", "_wh_host", "host_rank")]
    if clash:
        # the join key and outputs use fixed names; silently overwriting
        # an input column would corrupt the caller's frame — refuse
        raise ValueError(
            f"with_host_rank: input columns collide with outputs: "
            f"{clash} — rename them first")
    keyed = cu.with_registrable_domain(docs, "url", "_wh_host")
    r = ranks.select(F.col("host").alias("_wh_host"),
                     F.col("rank").alias("host_rank"))
    return keyed.join(r, "_wh_host", "left") \
        .withColumnRenamed("_wh_host", "host")


def inlink_counts(links: DataFrame) -> DataFrame:
    """In-degree per target url: one partial-agg groupBy (map-side
    combine), the cheapest quality prior a crawl ranker has."""
    return (links.groupBy("target")
            .agg(F.count("*").alias("inlinks")))


def pagerank(edges: DataFrame, num_nodes: int | None = None,
             iterations: int = 3, damping_num: int = 85,
             damping_den: int = 100, scale: int = 10 ** 12,
             src_col: str = "src", dst_col: str = "dst",
             scratch_dir: str | None = None,
             seeds: DataFrame | None = None,
             num_seeds: int | None = None,
             redistribute_dangling: bool = False,
             key_type: str | None = "bigint") -> DataFrame:
    """Damped PageRank over (src, dst) edges in BIGINT fixed point:
    returns (id, rank) with rank ~= pagerank * `scale`, truncated.

    Exact update per round, in this operation order on BOTH engines::

        base_i  = ((scale * (den - num)) div den) div N   if i teleports
                  else 0
        contrib = rank(src) div outdeg(src)               -- per edge
        rank'   = base_i + (num * sum(contrib)) div den   -- per dst

    All divisions truncate (positive operands, so Spark `div` and
    DuckDB `//` agree); sums are BIGINT (total mass <= scale, no
    overflow).  Nodes with no in-links settle at their base.

    ``seeds``: optional one-column (id) frame of teleport targets —
    **TrustRank** (Gyongyi et al., VLDB'04): restart mass flows only to
    trusted seed hosts, so rank reaching a page must arrive through a
    link path from the trusted set — the classic webspam demotion
    signal (link farms far from seeds decay geometrically).  With
    seeds, N above is the SEED count and init/base are nonzero only on
    seeds; without, every node teleports (classic PageRank, bit-proven
    by the q85 oracle).

    `num_nodes`/`num_seeds`: pass known counts at lake scale; None
    counts (one scalar driver action each, like the lineage count).
    `scratch_dir`: optional parquet barrier per round for iteration
    counts large enough that linear lineage growth matters (executors
    must be able to read it on a non-local master).

    ``redistribute_dangling=True`` closes the default variant's mass
    leak: each round, the total rank held by dangling nodes (no
    outlinks) is shipped through the teleport set like link mass —
    in the SAME truncating BIGINT discipline::

        D       = sum(rank over dangling nodes)
        extra_i = D div n_tel          if i teleports else 0
        rank'   = base_i + (num * (sum(contrib) + extra_i)) div den

    One extra aggregation per round; the dangling total rides a
    broadcast 1-row frame (never a driver action inside the loop).
    The rank lineage is referenced TWICE per round under this flag
    (contribs + dangling sum), so the symbolic plan doubles per
    iteration — pass `scratch_dir` beyond ~6 rounds (the parquet
    barrier resets it; see the connected-components planning note).
    """
    if iterations < 1:
        raise ValueError("pagerank: iterations must be >= 1")
    if not (0 < damping_num < damping_den):
        raise ValueError("pagerank: need 0 < damping_num < damping_den")

    def _key(c):
        # key_type=None runs the fixed point over the column's own type
        # (e.g. registrable-domain strings from `host_edges`): the
        # arithmetic never touches the key, it only groups/joins on it
        return F.col(c).cast(key_type) if key_type else F.col(c)

    e = edges.select(_key(src_col).alias("src"),
                     _key(dst_col).alias("dst"))
    nodes = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id")))
             .distinct())

    # Loop-invariant relations (nodes, cedges, dang_src) are cut once:
    # every round references them, and uncut, the caller's whole
    # edge-derivation subtree re-executes inside each reference (over
    # half the fixed-graph bench pick's time, OPTIMIZATION_r09.md).

    if seeds is not None:
        scol = F.col(seeds.columns[0])
        seed_ids = seeds.select(
            (scol.cast(key_type) if key_type else scol)
            .alias("id")).distinct()
        if num_seeds is None:
            num_seeds = seed_ids.count()
        if num_seeds < 1:
            raise ValueError("pagerank: seeds frame is empty")
        # a trusted seed with no edges must still hold its share of the
        # teleport mass (num_seeds divides init/base): union seeds into
        # the node set BEFORE the flag join, else isolated seeds are
        # silently dropped and total fixed-point mass shrinks
        nodes = nodes.unionByName(seed_ids).distinct()
        # one flag column computed once; the teleport set is a curated
        # trust list (small), but the join strategy is left to the
        # optimizer rather than forcing a broadcast of an unbounded frame
        nodes = materialize(
            nodes.join(seed_ids.withColumn("_t", F.lit(True)), "id",
                       "left")
            .select("id", F.coalesce(F.col("_t"), F.lit(False))
                    .alias("_teleports")),
            "nodes", scratch_dir)
        n_tel = num_seeds
    else:
        nodes = materialize(nodes.withColumn("_teleports", F.lit(True)),
                            "nodes", scratch_dir)
        if num_nodes is None:
            num_nodes = nodes.count()
        if num_nodes < 1:
            raise ValueError(
                "pagerank: empty graph (no edges => no nodes); callers "
                "composing over extracted links should handle the "
                "zero-edge corpus before ranking (plans.webgraph does)")
        n_tel = num_nodes

    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    cedges = materialize(e.join(outdeg, "src"), "cedges", scratch_dir)
    base_val = ((scale * (damping_den - damping_num)) // damping_den) \
        // n_tel
    base = F.when(F.col("_teleports"), F.lit(base_val)).otherwise(F.lit(0))
    ranks = nodes.select(
        "id", F.when(F.col("_teleports"), F.lit(scale // n_tel))
        .otherwise(F.lit(0)).alias("rank"))

    dang_src = None
    if redistribute_dangling:
        # node-bounded (distinct srcs); referenced once per round by the
        # dangling sum — cut it like the other loop-invariant relations
        dang_src = materialize(outdeg.select(F.col("src").alias("id")),
                               "dang_src", scratch_dir)
    for rnd in range(iterations):
        contrib = (cedges.join(ranks.withColumnRenamed("id", "src"),
                               "src")
                   .select(F.col("dst").alias("id"),
                           F.expr("rank div outdeg").alias("_c")))
        sums = contrib.groupBy("id").agg(
            F.sum("_c").alias("_m"))
        joined = nodes.join(sums, "id", "left")
        if redistribute_dangling:
            dang = (ranks.join(dang_src, "id", "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0))
                         .cast("bigint").alias("_D")))
            joined = joined.crossJoin(F.broadcast(dang))
            shipped_sql = (f"coalesce(_m, 0) + (case when _teleports "
                           f"then _D div {n_tel} else 0 end)")
        else:
            shipped_sql = "coalesce(_m, 0)"
        ranks = joined.select(
            "id",
            (base
             + F.expr(f"({damping_num} * ({shipped_sql})) "
                      f"div {damping_den}")).alias("rank"))
        if scratch_dir is not None:
            ranks = materialize(ranks, f"ranks_{rnd}", scratch_dir)
    return ranks
