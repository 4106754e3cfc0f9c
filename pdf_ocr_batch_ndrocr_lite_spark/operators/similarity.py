"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline; LSH/IVF bucketed
variants as the scale path.  All vector arithmetic is JVM-side
(`F.aggregate` / `F.zip_with` inside whole-stage codegen) — no Python in the
hot path.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# NOTE on the vector kernel: cosine is the left-fold F.aggregate/zip_with
# form because (a) the DuckDB oracle can replicate the exact IEEE addition
# sequence (bitwise-reproducible scores) and (b) it is NOT the bottleneck:
# measured on a 100k × dim-768 cosine scan, local[32], the codegen'd JVM
# fold ran 12.4 s vs 18.4 s for an Arrow/numpy pandas_udf (best-of-2) —
# the Arrow IPC of ~600 MB of vectors to Python costs more than the fold
# saves.
from .vecmath import dot as _dot, norm as _norm  # noqa: E402 — shared
# exact fold kernels (one definition: the fold order is oracle contract)


def _exact_query_cosine(vec_col, query):
    """Exact left-fold cosine against a constant query; zero-norm rows
    yield NULL instead of an ANSI DIVIDE_BY_ZERO."""
    qn = sum(float(v) * float(v) for v in query) ** 0.5
    if qn == 0.0:
        raise ValueError("query vector has zero norm: cosine undefined")
    q = F.array(*[F.lit(float(v)) for v in query])
    n = _norm(vec_col)
    return F.when(n > 0, _dot(vec_col, q) / (n * F.lit(qn)))


def cosine_to_query(emb: DataFrame, query: Sequence[float]) -> DataFrame:
    """(vec_id, cosine) of every row against a constant query vector.

    The query broadcasts as a literal array — a pure map stage, no
    shuffle, scan-bound at any scale."""
    return emb.select(
        F.col("vec_id"),
        _exact_query_cosine(F.col("embedding"), query).alias("cosine"),
    )


def brute_force_topk(emb: DataFrame, query: Sequence[float],
                     k: int = 10) -> DataFrame:
    """Global top-k by cosine: map stage + TakeOrdered (no full sort —
    Spark's sort-limit physical operator keeps k rows per partition)."""
    scored = cosine_to_query(emb, query)
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


def topk_per_bucket(emb: DataFrame, query: Sequence[float], k: int = 3,
                    bucket_col: str = "label") -> DataFrame:
    """Top-k within each coarse bucket (IVF cell / LSH bucket / shard):
    window rank over bucket — the distributed ANN building block."""
    scored = cosine_to_query(emb, query) \
        .join(emb.select("vec_id", bucket_col), "vec_id")
    w = Window.partitionBy(bucket_col).orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(bucket_col, "vec_id", "cosine", "rank")
    )


def random_hyperplane_buckets(emb: DataFrame,
                              planes: List[Sequence[float]]) -> DataFrame:
    """Sign-LSH bucket id per row (random-hyperplane rounding, Charikar
    STOC 2002): bit b = (v · plane_b) > 0.

    `planes` are fixed constants (seeded off-line), so bucketing is a pure
    map stage; an ANN query probes only matching (or near-matching) buckets
    instead of the full corpus — the scan shrinks by ~2^len(planes)."""
    bucket = F.lit(0).cast("bigint")
    for b, plane in enumerate(planes):
        p = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(_dot(F.col("embedding"), p) > 0,
                     F.lit(1).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        bucket = bucket + F.shiftleft(bit, b)
    return emb.select(F.col("vec_id"), bucket.alias("bucket"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path of
# Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011: assign every vector to its nearest centroid cell (pure map
# stage over fixed centroids), then answer a query by scanning only the
# `nprobe` cells nearest to the query instead of the corpus.  At lake
# scale the assignment is computed once and the table is partitioned by
# cell, so a query touches nprobe/C of the data.
# ---------------------------------------------------------------------------


def _sq_dist(vec_col, centroid: Sequence[float]):
    """Left-fold squared L2 distance — the exact op order the SQL oracle
    replicates term by term, so cell assignment is bit-identical."""
    carr = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(vec_col, carr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)


def _sq_dist_col(vec_col, cvec_col):
    """The SAME left-fold squared L2, between two array COLUMNS — the
    broadcast-path twin of `_sq_dist`: identical per-element term order,
    so literal- and broadcast-path distances are bit-identical."""
    return F.aggregate(
        F.zip_with(vec_col, cvec_col, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)


#: above this k, centroid transport switches from plan literals to the
#: broadcast one-row codebook (see `ivf_assign`).  16 keeps every
#: bit-proven small-k oracle (q51 k=4, q72 k=3) on the literal path
#: while any real coarse quantizer (k in the thousands) broadcasts.
BROADCAST_K_THRESHOLD = 16


def centroids_df(spark, centroids: List[Sequence[float]]) -> DataFrame:
    """(cell, cvec) centroid table from a driver-side list — rows travel
    the DATA plane (serialized relation), never the plan."""
    rows = [(i, [float(v) for v in c]) for i, c in enumerate(centroids)]
    return spark.createDataFrame(rows, "cell int, cvec array<double>")


def _packed_codebook(cents: DataFrame) -> DataFrame:
    """ONE row holding every centroid as array<struct<cell,cvec>>,
    cell-sorted (collect_list order is nondeterministic; array_sort on
    the struct restores the total order cells are unique under)."""
    return cents.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cell").cast("int").alias("cell"),
                                    F.col("cvec")))).alias("_cents"))


def _ivf_assign_broadcast(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Scale path: nearest-cell assignment against a BROADCAST codebook.

    The k×dim centroid payload rides a broadcast relation (one row of
    array<struct<cell,cvec>>), so the PLAN stays O(1) in k — the literal
    formulation put O(k·dim) expressions in the plan, the same driver
    planning blow-up class the PSL notes measure for `Column.isin`, and
    at a real coarse quantizer (k=4096-65536, dim 768) that is millions
    of literals before any data moves.  Per row: one
    array_min(transform(codebook, struct(dist, cell))) — the struct min
    is (dist, cell)-ordered, i.e. lowest cell among equal minima,
    exactly the literal path's array_position first-minimum rule; the
    per-element fold arithmetic is `_sq_dist_col` = `_sq_dist`, so
    assignments are bit-identical (property-tested).  Zero shuffle: a
    1-row BroadcastNestedLoopJoin fuses into the scan stage.  A NULL or
    ragged (wrong-dim) vector yields NULL distances on BOTH paths —
    the final when() nulls the cell instead of letting NULLS-FIRST
    struct ordering elect a bogus winner."""
    joined = emb.select(F.col("vec_id"), F.col("embedding")) \
        .join(F.broadcast(_packed_codebook(cents)))
    best = F.array_min(F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            _sq_dist_col(F.col("embedding"), c["cvec"]).alias("dist"),
            c["cell"].alias("cell"))))
    # stage `best` in its own projection: it is referenced twice (dist
    # guard + cell pick) and HOF expressions are never CSE'd
    staged = joined.select(F.col("vec_id"), best.alias("_best"))
    cell = F.when(F.col("_best")["dist"].isNotNull(),
                  F.col("_best")["cell"]).cast("int")
    return staged.select(F.col("vec_id"), cell.alias("cell"))


def ivf_assign(emb: DataFrame, centroids,
               broadcast_threshold: int = BROADCAST_K_THRESHOLD
               ) -> DataFrame:
    """(id, cell): nearest-centroid cell per row, first-minimum tie-break.

    Centroid transport is picked by size: below ``broadcast_threshold``
    the centroids enter the plan as literal arrays (bit-proven by the
    q51/q72 oracles; zero join); at or above it — or when ``centroids``
    is already a (cell, cvec) DataFrame, the lake-scale form — they ride
    a broadcast codebook row instead (`_ivf_assign_broadcast`), keeping
    the plan O(1) in k.  Both paths produce bit-identical assignments
    (same fold arithmetic, same tie rule)."""
    if isinstance(centroids, DataFrame):
        return _ivf_assign_broadcast(emb, centroids)
    if len(centroids) >= broadcast_threshold:
        cents = centroids_df(emb.sparkSession, centroids)
        return _ivf_assign_broadcast(emb, cents)
    dists = F.array(*[_sq_dist(F.col("embedding"), c) for c in centroids])
    cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return emb.select(F.col("vec_id"), cell.alias("cell"))


def kmeans_fit(emb: DataFrame, k: int = 3, iters: int = 2,
               broadcast_threshold: int = BROADCAST_K_THRESHOLD
               ) -> List[List[float]]:
    """Train the IVF coarse quantizer: Lloyd's k-means over the
    embedding column, returning `k` centroids for
    :func:`ivf_assign` / :func:`ivf_topk` (previously the caller had to
    supply centroids from elsewhere).

    Scale/determinism design:

    - Deterministic init: the `k` lowest-id vectors (no RNG — the same
      corpus always trains the same index).
    - Centroids live on the DRIVER between rounds (k × dim floats —
      bytes, not data), entering each round as literals below
      ``broadcast_threshold`` and as a broadcast codebook row at or
      above it (plan stays O(1) in k): every round's plan is scan →
      one fused assign+sum aggregation, with NO iterative self-join
      and no lineage growth (the planning-explosion trap
      connected_components had to barrier around simply never arises).
    - Each round is ONE job: cell assignment (the same left-fold
      squared-L2 + first-minimum rule as `ivf_assign`) fused with
      per-cell per-dimension sums in a single groupBy — k rows come
      back, nothing else.
    - Per-dimension sums accumulate in DECIMAL(38,12): decimal addition
      is order-independent, so the trained centroids are bit-stable
      under any partitioning (a double sum would drift with task
      scheduling and flip boundary assignments); the single
      decimal→double + divide per centroid element is reproducible IEEE
      (and is exactly what the q72 oracle recomputes).
    - An empty cell keeps its previous centroid (deterministic; no
      re-seeding RNG).
    """
    if k <= 0 or iters < 0:
        raise ValueError(f"k must be positive, iters >= 0: {k=}, {iters=}")
    seed_rows = emb.select(F.col("vec_id"), F.col("embedding")) \
        .filter(F.col("embedding").isNotNull()) \
        .orderBy("vec_id").limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(seed_rows)}")
    centroids = [[float(v) for v in r["embedding"]] for r in seed_rows]
    dim = len(centroids[0])
    for _ in range(iters):
        if k >= broadcast_threshold:
            # scale path: the round's centroids enter as a broadcast
            # codebook row, not O(k·dim) plan literals — same fold
            # arithmetic and tie rule, so the trained centroids are
            # bit-identical to the literal path (see
            # `_ivf_assign_broadcast`; property- and oracle-tested)
            cents = centroids_df(emb.sparkSession, centroids)
            joined = emb.select(F.col("embedding").alias("_v")) \
                .join(F.broadcast(_packed_codebook(cents)))
            best = F.array_min(F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    _sq_dist_col(F.col("_v"), c["cvec"]).alias("dist"),
                    c["cell"].alias("cell"))))
            staged = joined.select(F.col("_v"), best.alias("_best"))
            cell = F.when(F.col("_best")["dist"].isNotNull(),
                          F.col("_best")["cell"]).cast("int")
        else:
            dists = F.array(*[_sq_dist(F.col("embedding"), c)
                              for c in centroids])
            # stage the distance array: it is referenced twice (min +
            # position) and HOF expressions are never CSE'd (SPARK-35410)
            staged = emb.select(F.col("embedding").alias("_v"),
                                dists.alias("_d"))
            cell = (F.array_position(F.col("_d"),
                                     F.array_min(F.col("_d")))
                    - 1).cast("int")
        # try_element_at, not element_at: under Spark 4's default ANSI
        # mode an out-of-bounds index RAISES in the executor, so one
        # ragged (shorter-than-dim) embedding would abort the whole
        # training job — with try_ the ragged row's missing dims are
        # NULL (skipped by SUM) and its NULL cell (NULL distances via
        # zip_with) already keeps it out of every centroid
        agg = (staged.select(cell.alias("cell"), "_v")
               .groupBy("cell")
               .agg(F.count(F.lit(1)).alias("_n"),
                    *[F.sum(F.try_element_at("_v", F.lit(i + 1))
                            .cast("double")
                            .cast("decimal(38,12)")).alias(f"_s{i}")
                      for i in range(dim)])
               .collect())
        by_cell = {int(r["cell"]): r for r in agg if r["cell"] is not None}
        centroids = [
            [float(by_cell[j][f"_s{i}"]) / int(by_cell[j]["_n"])
             for i in range(dim)]
            if j in by_cell else centroids[j]
            for j in range(k)
        ]
    return centroids


def query_probe_cells(query: Sequence[float],
                      centroids: List[Sequence[float]],
                      nprobe: int = 2) -> List[int]:
    """The nprobe cells nearest to the query (driver-side: centroids are
    tiny constants).  Same left-fold arithmetic as `_sq_dist`, ties break
    by cell index."""
    def d2(c):
        acc = 0.0
        for x, y in zip(query, c):
            acc = acc + (float(x) - float(y)) * (float(x) - float(y))
        return acc
    order = sorted(range(len(centroids)), key=lambda i: (d2(centroids[i]), i))
    return order[:max(1, nprobe)]


def _cells_with_payload(emb: DataFrame, centroids) -> DataFrame:
    """(id, vec, cell) in ONE scan of ``emb`` — nearest-cell assignment
    carrying the vector payload through the projection (the `knn_join`
    corpus-side formulation), so callers never re-join a separate
    (id, cell) frame back onto the embedding relation (a second full
    scan + an id-keyed exchange).  Centroid transport and tie rule are
    identical to `ivf_assign` (bit-identical assignments on both
    paths); rows with NULL/ragged vectors get a NULL cell."""
    if isinstance(centroids, DataFrame) \
            or len(centroids) >= BROADCAST_K_THRESHOLD:
        cents = centroids if isinstance(centroids, DataFrame) \
            else centroids_df(emb.sparkSession, centroids)
        joined = emb.select(F.col("vec_id"), F.col("embedding")) \
            .join(F.broadcast(_packed_codebook(cents)))
        best = F.array_min(F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                _sq_dist_col(F.col("embedding"), c["cvec"]).alias("dist"),
                c["cell"].alias("cell"))))
        # stage the HOF min in its own projection (never CSE'd,
        # referenced twice: NULL guard + cell pick)
        staged = joined.select(F.col("vec_id"), F.col("embedding"),
                               best.alias("_best"))
        cell = F.when(F.col("_best")["dist"].isNotNull(),
                      F.col("_best")["cell"]).cast("int")
        return staged.select(F.col("vec_id"), F.col("embedding"),
                             cell.alias("cell"))
    dists = F.array(*[_sq_dist(F.col("embedding"), c) for c in centroids])
    staged = emb.select(F.col("vec_id"), F.col("embedding"),
                        dists.alias("_d"))
    cell = (F.array_position(F.col("_d"), F.array_min(F.col("_d"))) - 1) \
        .cast("int")
    return staged.select(F.col("vec_id"), F.col("embedding"),
                         cell.alias("cell"))


def ivf_topk(emb: DataFrame, query: Sequence[float],
             centroids, k: int = 10, nprobe: int = 2) -> DataFrame:
    """ANN top-k: brute-force cosine restricted to the query's nprobe
    nearest IVF cells.  (vec_id, cell, cosine), best first.
    ``centroids`` may be a driver list or a (cell, cvec)
    DataFrame (lake-scale codebook) — with a DataFrame, probe selection
    runs as a tiny k-row job (query enters as O(dim) literals) instead
    of collecting the codebook to the driver."""
    if isinstance(centroids, DataFrame):
        probe_rows = (centroids
                      .select("cell",
                              _sq_dist(F.col("cvec"), query).alias("_d"))
                      .orderBy("_d", "cell").limit(max(1, nprobe))
                      .collect())
        probes = [int(r["cell"]) for r in probe_rows]
    else:
        probes = query_probe_cells(query, centroids, nprobe)
    # assignment carries the payload through the projection (ONE scan
    # of the embedding relation) — re-joining a separate (id, cell)
    # frame back on the id would scan the corpus twice plus an id-keyed
    # exchange, the shape knn_join's corpus side explicitly avoids
    candidates = _cells_with_payload(emb, centroids) \
        .filter(F.col("cell").isin([int(p) for p in probes]))
    # score in place on the candidate frame — joining a separate scored
    # frame back would re-evaluate the centroid-argmin lineage twice
    cos = _exact_query_cosine(F.col("embedding"), query)
    scored = candidates.select(F.col("vec_id"), F.col("cell"),
                               cos.alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")) \
        .select("vec_id", "cell", "cosine").limit(k)


# ---------------------------------------------------------------------------
# Batched k-NN JOIN: top-k nearest corpus vectors for EVERY row of a
# queries table (vs ivf_topk's single driver-side query).  This is the
# operator a training-data pipeline actually runs at scale — retrieval
# dedup across corpora, hard-negative mining, embedding-space
# decontamination — and a naive formulation is a queries × corpus cross
# join, which must never exist.  Shape:
#
#   corpus → broadcast-codebook cell assignment   (zero shuffle)
#   queries → per-row nprobe nearest cells        (zero shuffle, HOF
#             array_sort over the same broadcast codebook row; the
#             probe rule equals ivf_topk's (dist, cell) ordering)
#   join on cell through the salted two-sided guard (a degenerate
#             quantizer cell is split, never a straggler task)
#   exact left-fold cosine + per-query row_number ≤ k
#
# Two real exchanges total (the cell join and the per-query window) —
# both keyed, both bounded by candidate volume (nprobe/cells of the
# corpus per query), never by |queries| × |corpus|.
# ---------------------------------------------------------------------------


def query_probe_cells_df(queries: DataFrame, cents: DataFrame,
                         vec_col: str = "embedding",
                         nprobe: int = 2,
                         keep_cols: tuple = ()) -> DataFrame:
    """(query_id, *keep_cols, cell): each query row's ``nprobe`` nearest
    centroid cells — the per-ROW twin of `query_probe_cells`, via the
    one-row broadcast codebook.  array_sort on (dist, cell) structs
    reproduces the (dist asc, cell asc) probe ordering exactly.  Queries
    whose vector is NULL/ragged produce NULL distances and are dropped
    (no cells to probe — same contract as `ivf_assign`'s NULL cell).

    ``keep_cols``: extra columns of `queries` carried through to the
    output (may include ``vec_col`` itself) — lets a caller attach the
    query payload/norm in the SAME scan instead of re-reading the query
    table and joining the probe frame back on the id (the double-scan
    shape the corpus side of `knn_join` explicitly avoids)."""
    base = list(dict.fromkeys(["query_id", *keep_cols, vec_col]))
    joined = queries.select(*[F.col(c) for c in base]) \
        .join(F.broadcast(_packed_codebook(cents)))
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            _sq_dist_col(F.col(vec_col), c["cvec"]).alias("dist"),
            c["cell"].alias("cell")))
    probes = F.slice(F.array_sort(scored), 1, max(1, int(nprobe)))
    out = ["query_id", *keep_cols]
    # stage the HOF result: referenced once here but explode must not
    # re-evaluate k folds per output row (HOFs are never CSE'd)
    staged = joined.select(*[F.col(c) for c in out], probes.alias("_p"))
    return (staged.select(*[F.col(c) for c in out],
                          F.explode("_p").alias("_pc"))
            .filter(F.col("_pc.dist").isNotNull())
            .select(*[F.col(c) for c in out],
                    F.col("_pc.cell").alias("cell")))


def knn_join(queries: DataFrame, corpus: DataFrame, centroids,
             k: int = 10, nprobe: int = 2,
             bucket_cap: int = 100_000,
             max_salts: int = 64) -> DataFrame:
    """(query_id, corpus_id, cosine, rank): the ``k`` highest-cosine
    corpus vectors per query among the query's ``nprobe`` IVF cells.

    ``centroids``: driver list or (cell, cvec) DataFrame codebook (from
    `centroids_df` / `kmeans_fit`).  Ranking is (cosine desc,
    corpus_id asc) — deterministic under ties; zero-norm corpus rows
    score NULL and are excluded before ranking on both engines (Spark
    and the DuckDB oracle disagree on NULL placement under DESC, so
    NULL candidates must never reach the window)."""
    from .dedup import salted_two_sided_join

    cents = (centroids if isinstance(centroids, DataFrame)
             else centroids_df(queries.sparkSession, centroids))

    # corpus side: broadcast-codebook cell assignment WITH the payload
    # (re-joining a separate (id, cell) frame would scan the corpus
    # twice) + the norm once per row
    cjoined = corpus.select(F.col("vec_id"), F.col("embedding")) \
        .join(F.broadcast(_packed_codebook(cents)))
    cbest = F.array_min(F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            _sq_dist_col(F.col("embedding"), c["cvec"]).alias("dist"),
            c["cell"].alias("cell"))))
    cstaged = cjoined.select(F.col("vec_id"),
                             F.col("embedding").alias("_cv"),
                             cbest.alias("_best"))
    cside = (cstaged
             .filter(F.col("_best")["dist"].isNotNull())
             .select(F.col("vec_id"),
                     F.col("_cv"),
                     _norm(F.col("_cv")).alias("_cn"),
                     F.col("_best")["cell"].cast("int").alias("cell")))

    # query side: payload + norm carried THROUGH the probe projection
    # (one scan, no probe-frame re-join on the id — r7 review finding)
    qside = query_probe_cells_df(
        queries.select(F.col("query_id"),
                       F.col("embedding").alias("_qv"),
                       _norm(F.col("embedding")).alias("_qn")),
        cents, "_qv", nprobe, keep_cols=("_qv", "_qn"))

    # a corpus row owns exactly ONE cell and a query's probe cells are
    # distinct, so each (query, corpus) pair can match at most once —
    # no post-join distinct needed
    joined = salted_two_sided_join(qside, cside, ["cell"], "vec_id",
                                   bucket_cap, max_salts)
    den = F.col("b._cn") * F.col("a._qn")
    cos = F.when(den > 0, _dot(F.col("a._qv"), F.col("b._cv")) / den)
    scored = (joined.select(
        F.col("a.query_id").alias("query_id"),
        F.col("b.vec_id").alias("vec_id"),
        cos.alias("cosine"))
        .filter(F.col("cosine").isNotNull()))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(k)))
