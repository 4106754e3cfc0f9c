"""Deduplication operators for large-scale training-data pipelines.

All-declarative where possible (JVM-side, whole-stage codegen); hashing uses
md5-hex substrings so every signature is reproducible in ANSI SQL (DuckDB
oracle parity).  Scale notes per operator below.
"""

from __future__ import annotations

import atexit
import contextlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .barrier import delete, materialize, stage_scratch

# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy.  One shuffle on the digest; partial aggregation
# (map-side combine) makes the shuffle rows tiny.  At 100 TB the digest
# shuffle is ~32B/row — bounded by row count, not payload.
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical documents: (text_md5, dup_count, keep_id)."""
    return (
        docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.count(F.lit(1)).alias("dup_count"),
             F.min("doc_id").alias("keep_id"))
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# The one tokenizer and the one shingler (space-joined k-word windows; a
# text of fewer than k words is one joined shingle).  Spark never CSEs
# inside a lambda body (SPARK-35410): a shingle lambda over an INLINE word
# expression re-splits the text per shingle, O(words²) per document, so
# a shingle array exists only as `shingle_frame`'s column over staged words.
# ---------------------------------------------------------------------------


def word_array(text=None):
    """array<string> of the whitespace words of `text` (default the
    ``text`` column).  Stage it in its own projection before a lambda
    reads it."""
    text = F.col("text") if text is None else text
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def shingle_frame(df: DataFrame, k: int, *keep) -> DataFrame:
    """`keep` + ``words`` + ``shingles``: the ``text`` column's word
    array, then the array<string> of its k-word shingles built from the
    staged words (O(words·k) per document).  NULL text gives
    ``[NULL]``; the array is never NULL or empty.

    Explode ``shingles`` through an expression (``array_distinct``) or
    the ``_outer`` form: for an inner explode of the bare column Spark
    infers ``size(shingles) > 0`` and pushes it below this frame, which
    re-inlines the words into the lambda."""
    words = F.col("words")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    shingles = F.when(n < k, F.array(F.array_join(words, " "))).otherwise(
        F.transform(idx,
                    lambda i: F.array_join(F.slice(words, i + 1, k), " ")))
    return (df.select(*keep, word_array().alias("words"))
            .withColumn("shingles", shingles))


# ---------------------------------------------------------------------------
# Shared hot-bucket guard for bucketed joins.  A same-bucket join is
# O(n·m) in bucket size; with a skewed bucket distribution (template-spam
# LSH bands, a degenerate quantizer cell) ONE bucket can own the stage as a
# single straggler task.  `salted_two_sided_join` splits buckets whose
# b-side holds more than `bucket_cap` rows into s = min(max_salts,
# ceil(n / bucket_cap)) cells by id hash: the a side is replicated into
# every cell, the b side lands in its own cell, and the join key becomes
# (bucket, cell).  Total comparison work is unchanged (it is the
# operator's output contract) but the largest task shrinks ~s-fold and the
# hot bucket runs on s cores instead of one.  Each qualifying pair matches
# exactly once (a replicated into b's cell; a self-join's a_id < b_id
# filter kills the mirror orientation), so results are identical for ANY
# cap.
#
# Only OVER-cap buckets enter the broadcast salt dimension (everything
# else coalesces to s = 1): at corpus scale the (band, key) LSH bucket
# space is O(docs × bands), but the hot tail that needs splitting is tiny
# by construction, so the broadcast stays bounded by the number of hot
# buckets, never by bucket cardinality.
# ---------------------------------------------------------------------------


def salted_two_sided_join(a: DataFrame, b: DataFrame, key_cols: list,
                          b_id_col: str, bucket_cap: int,
                          max_salts: int) -> DataFrame:
    """Join `a` × `b` on `key_cols` with hot buckets salt-split.  Cells
    are sized from the b side: each b row lands in one cell by id hash,
    each a row is replicated into every cell, so every qualifying (a, b)
    pair matches exactly once and results are invariant to the cap.
    Frames are returned aliased ``a``/``b``; callers project their payload
    columns via ``F.col("a.<col>")`` / ``F.col("b.<col>")``."""
    # NOTE: `b` feeds both the hot-bucket profile and the cell
    # assignment, but a localCheckpoint cut here was A/B'd (r9) and
    # kept OFF: wall-clock parity locally, and the streaming path
    # passes an already-materialized stored bucket index as `b`, which
    # the cut would copy for nothing.
    hot = (b.groupBy(*key_cols)
           .agg(F.count(F.lit(1)).alias("_bn"))
           .filter(F.col("_bn") > bucket_cap)
           .select(*key_cols,
                   F.least(
                       F.lit(max_salts).cast("int"),
                       F.ceil(F.col("_bn") / F.lit(bucket_cap)).cast("int"),
                   ).alias("_s")))
    b_cells = (b.join(F.broadcast(hot), list(key_cols), "left")
               .withColumn("_s", F.coalesce(F.col("_s"), F.lit(1)))
               .withColumn("_jcell",
                           F.pmod(F.xxhash64(F.col(b_id_col), F.lit(7)),
                                  F.col("_s")))
               .drop("_s").alias("b"))
    a_rep = (a.join(F.broadcast(hot), list(key_cols), "left")
             .withColumn("_s", F.coalesce(F.col("_s"), F.lit(1)))
             .withColumn("_jcell",
                         F.explode(F.sequence(F.lit(0), F.col("_s") - 1)))
             .drop("_s").alias("a"))
    return a_rep.join(b_cells, list(key_cols) + ["_jcell"])


def salted_self_join(df: DataFrame, key_cols: list, id_col: str,
                     bucket_cap: int, max_salts: int) -> DataFrame:
    """Self-join `df` on `key_cols` through `salted_two_sided_join`, with
    the ``a.id < b.id`` orientation filter applied."""
    # lineage cut on the INPUT: `df` feeds the hot-bucket profile and both
    # join legs — without the cut the caller's whole upstream subtree
    # (signature aggregation, vector norms) executes three times per
    # self-join.  The cut comes before the salt scaffold, so the pmod cell
    # assignment and cell explode stay visible in the optimized plan
    # (plan-guard test); the materialized frame is the same volume the
    # join shuffles anyway.
    m = materialize(df, "salted_join_input")
    return (salted_two_sided_join(m, m, key_cols, id_col, bucket_cap,
                                  max_salts)
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (Broder, "On the resemblance and containment of
# documents", 1997; banding analysis as in Leskovec/Rajaraman/Ullman,
# Mining of Massive Datasets ch. 3).
#
# Signature: for hash seed s, minhash_s(doc) = min over shingles of
# md5(s || ':' || shingle) — an order-preserving proxy for a random
# permutation; min of a hex string is deterministic and engine-portable.
# Bands of r contiguous signature values hash to buckets; docs sharing a
# bucket are candidates.  Shuffles: one explode+groupBy(doc) for signatures
# (map-side combinable mins), one groupBy(band, key) for buckets.  Candidate
# volume, not corpus size, drives the pair join — the standard LSH scale
# path.
# ---------------------------------------------------------------------------


def minhash_signatures(docs: DataFrame, num_hashes: int = 8,
                       k: int = 3) -> DataFrame:
    """(doc_id, h0..h{n-1}) min-hash signature columns.  ``min``
    ignores duplicate shingles, so a row-local array_distinct is the
    only dedup, even when ids repeat."""
    sh = shingle_frame(docs, k, "doc_id").select(
        F.col("doc_id"),
        F.explode(F.array_distinct("shingles")).alias("shingle"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))))
        .alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def band_buckets(docs: DataFrame, num_hashes: int = 8,
                 bands: int = 4, k: int = 3) -> DataFrame:
    """(doc_id, band, key) LSH bucket index: one row per (doc, band) with
    the band's concatenated signature slice as the bucket key — the
    PERSISTABLE half of the minhash pipeline.  A continuous-ingest
    corpus stores this index incrementally (each admitted batch appends
    its survivors' buckets) so later batches join against stored keys
    instead of re-hashing the whole corpus per micro-batch — the
    signature recompute was measured to dominate streaming-dedup cost
    and GROW with corpus size (see streaming/dedup_stream.py)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, k)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"h{b * rows_per_band + r}")
                               for r in range(rows_per_band)]).alias("key"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col("doc_id"),
        F.explode(F.array(*band_cols)).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))


def minhash_lsh_candidates(docs: DataFrame, num_hashes: int = 8,
                           bands: int = 4, k: int = 3,
                           bucket_cap: int = 1024,
                           max_salts: int = 64) -> DataFrame:
    """Candidate near-duplicate pairs (a_id < b_id) via banded LSH.

    The (band, key) self-join goes through :func:`salted_self_join`: a
    degenerate band bucket (mass-duplicated boilerplate all sharing a
    signature — 100k docs in one bucket = 10^10 pairs in one task without
    the guard) is salt-split into bounded cells.  Results are invariant to
    the cap (the trailing ``distinct`` already dedups across bands)."""
    buckets = band_buckets(docs, num_hashes, bands, k)
    return (
        salted_self_join(buckets, ["band", "key"], "doc_id",
                         bucket_cap, max_salts)
        .select(F.col("a.doc_id").alias("a_id"),
                F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


def minhash_dedup(docs: DataFrame, num_hashes: int = 8,
                  bands: int = 4, k: int = 3,
                  jaccard_threshold: float = 0.8,
                  max_df: int | None = None,
                  transitive: bool = False,
                  scratch_dir: str | None = None) -> DataFrame:
    """Composed near-dup removal: LSH candidates → Jaccard verify → drop.

    Survivor rule: pairwise by default — within each verified near-dup
    pair, the lower id wins (drop-set anti-join).  ``transitive=True``
    upgrades to the FineWeb-grade rule: verified pairs are clustered via
    :func:`connected_components` and ONE doc survives per cluster (the
    longest text, ties → lowest id).  Pairwise can over-keep on chains
    (A~B, B~C keeps A and C); transitive cannot, at the cost of the
    iterative CC rounds (`scratch_dir` passes the iteration-barrier path
    through — see connected_components).

    Three shuffles total in pairwise mode (signatures, buckets, verify
    join) — all over digests/ids, never over document text.  ``max_df``
    caps shingle document frequency inside the verify stage (computed
    over the candidate-doc subset): the LSH bucketing already bounds
    WHICH docs are verified, the DF cap bounds the per-shingle join
    fan-out within them."""
    # lineage cut: the candidate-pair frame is referenced THREE times
    # below (both legs of cand_ids + the verify semi-join), and each
    # reference would inline — and re-execute — the whole signature +
    # bucket + salted-join subtree.  Candidates are id pairs bounded by
    # LSH candidate volume (the same frame the streaming sink persists),
    # so executor-local materialization is cheap at any scale.
    candidates = materialize(
        minhash_lsh_candidates(docs, num_hashes, bands, k), "candidates")
    cand_ids = (candidates.select(F.col("a_id").alias("doc_id"))
                .union(candidates.select(F.col("b_id").alias("doc_id")))
                .distinct())
    cand_docs = docs.join(cand_ids, "doc_id", "left_semi")
    # verify ONLY candidate pairs (classic LSH): jaccard computed over the
    # candidate-doc subset, then semi-joined back to the candidate pairs
    verified = ngram_jaccard_pairs(cand_docs, k=k,
                                   threshold=jaccard_threshold,
                                   max_df=max_df) \
        .join(candidates, ["a_id", "b_id"], "left_semi")
    if transitive:
        ranked = docs.withColumn("_cdo", F.length(F.col("text")))
        return cluster_dedup_keep_best(
            ranked, verified.select("a_id", "b_id"), order_col="_cdo",
            scratch_dir=scratch_dir).drop("_cdo")
    losers = verified.select(F.col("b_id").alias("doc_id")).distinct()
    return docs.join(losers, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Incremental (snapshot) dedup: a recrawl batch against the existing
# corpus.  The defining scale property: the candidate join is strictly
# NEW × CORPUS — the corpus is never self-joined (it was deduped when it
# was ingested), so each snapshot pays O(|new| + matched corpus buckets),
# not O(|corpus|²).  Band buckets for both sides, new×corpus bucket join
# (two-sided salt guard), Jaccard verify over the candidate-doc subset
# only.
# ---------------------------------------------------------------------------


def incremental_minhash_dedup(new: DataFrame, corpus: DataFrame,
                              num_hashes: int = 8, bands: int = 4,
                              k: int = 3,
                              jaccard_threshold: float = 0.8,
                              max_df: int | None = None,
                              bucket_cap: int = 1024,
                              max_salts: int = 64,
                              corpus_buckets: DataFrame | None = None
                              ) -> DataFrame:
    """Rows of `new` that near-dup NO document in `corpus` (LSH
    candidates → Jaccard verify, new×corpus only).  Within-batch
    near-dups are the caller's separate `minhash_dedup` pass — keeping
    the two concerns split means the corpus side of this join never
    grows candidate pairs of its own.

    Verification mirrors `minhash_dedup`: jaccard is computed over the
    union of candidate docs from both sides (shared shingle DF cap), then
    restricted to the new×corpus candidate pairs.

    The id spaces of `new` and `corpus` need NOT be disjoint: candidate
    docs are side-tagged (``C:<id>`` / ``N:<id>``) before the verify
    join, so a recrawled doc that reuses an existing corpus id still
    forms a (corpus, new) pair — without the tag it would normalize to
    a_id == b_id, which the a < b orientation never emits, and the true
    duplicate would silently survive (and its two texts' shingle sets
    would merge, corrupting the DF cap).

    ``corpus_buckets``: a pre-built (id, band, key) index for the corpus
    side (see :func:`band_buckets`).  Without it the corpus is re-hashed
    on every call — fine for a one-shot snapshot, but a continuous
    ingest loop MUST pass the stored index or each micro-batch pays a
    full-corpus signature recompute (measured to dominate and grow
    linearly with corpus size).  Only candidate docs' TEXT is ever read
    from the corpus either way (the Jaccard verify's semi-join)."""
    nb = band_buckets(new, num_hashes, bands, k)
    cb = (corpus_buckets if corpus_buckets is not None
          else band_buckets(corpus, num_hashes, bands, k))
    # lineage cut, same reason as minhash_dedup's candidates: `cand` is
    # referenced three times below (both semi-joins + norm), each of
    # which would re-execute the two-sided bucket join subtree
    cand = materialize(
        salted_two_sided_join(nb, cb, ["band", "key"], "doc_id",
                              bucket_cap, max_salts)
        .select(F.col("a.doc_id").alias("new_id"),
                F.col("b.doc_id").alias("old_id"))
        .distinct(), "candidates")
    cand_new = new.join(cand.select(F.col("new_id").alias("doc_id")),
                        "doc_id", "left_semi")
    cand_old = corpus.join(cand.select(F.col("old_id").alias("doc_id")),
                           "doc_id", "left_semi")
    # side-tagged verify ids: "C:" < "N:" lexically, so every new×corpus
    # pair lands in the a < b orientation with a = corpus, b = new
    cdocs = cand_new.select(
        F.concat(F.lit("N:"), F.col("doc_id").cast("string")).alias("_sid"),
        F.col("text")).unionByName(cand_old.select(
            F.concat(F.lit("C:"), F.col("doc_id").cast("string"))
            .alias("_sid"), F.col("text")))
    norm = cand.select(
        F.concat(F.lit("C:"), F.col("old_id").cast("string")).alias("a_id"),
        F.concat(F.lit("N:"), F.col("new_id").cast("string")).alias("b_id"),
    ).distinct()
    verified = ngram_jaccard_pairs(cdocs, "_sid", k,
                                   jaccard_threshold, max_df=max_df) \
        .join(norm, ["a_id", "b_id"], "left_semi")
    losers = verified.select(
        F.expr("substring(b_id, 3)").alias("_lid")).distinct()
    keyed = new.withColumn("_kid", F.col("doc_id").cast("string"))
    return (keyed.join(losers, keyed["_kid"] == losers["_lid"],
                       "left_anti").drop("_kid"))


def shingle_document_frequency(docs: DataFrame, k: int = 3,
                               min_df: int = 2) -> DataFrame:
    """(shingle, df): how many DISTINCT documents each k-shingle appears
    in.  This is the corpus profile that calibrates the similarity-join
    guards — the `max_df` stop-shingle cutoff in `ngram_jaccard_pairs` /
    `minhash_dedup` is chosen by inspecting exactly this distribution
    (ubiquitous shingles are the quadratic-join hazard).  Per-doc dedup
    is ROW-LOCAL (array_distinct before the explode — a dropDuplicates
    here would be a second full shuffle of the shingle stream), leaving
    one explode + one combining groupBy; `min_df` prunes the singleton
    long tail before it is ever shuffled to the driver/sink."""
    sh = shingle_frame(docs, k).select(
        F.explode(F.array_distinct("shingles")).alias("shingle"))
    return (sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") >= min_df))


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the verified-pair graph.
# `minhash_dedup`'s pairwise lower-id-wins rule is not transitive — given
# A~B and B~C (but not A~C) it keeps A and C even though all three are one
# duplicate cluster.  Production dedup (the FineWeb/CCNet shape) clusters
# the pair graph and keeps ONE representative per component.
#
# Algorithm: iterative min-label propagation with pointer jumping —
# per round, m(v) = min(label(v), min over neighbors of label(u)), then
# m := m∘m three times (label^8 on the freshly-hopped map).  The
# pointer-jump joins ("shortcutting") make chains converge in
# O(log diameter) rounds instead of O(diameter); near-dup graphs are
# dense blobs with tiny diameter, so rounds ≈ 2-4 in practice.  Each
# round is one combining union-min + three map self-joins — no RDDs, no
# windows.  The driver-side loop is the documented exception to the
# no-driver-loops rule: iteration count is O(log d), data never leaves
# the cluster, and the convergence test (sum(label) unchanged — labels
# are monotone non-increasing) rides the barrier write via observe().
#
# PER-ROUND BARRIER — parquet round-trip, deliberately NOT checkpoint():
# the round's labels are written to scratch storage and re-read.  All of
# `localCheckpoint` / reliable `checkpoint` / `persist` were measured
# exploding ~4-5x PER ROUND in driver-side planning on this loop (0.5 s →
# 76 s by round 13 on a 4 000-node path) even though row counts, printed
# plans, and partition counts stay flat: the label↔label pointer-jump
# self-join makes Catalyst clone one side with fresh instances each
# round, and the clones re-derive per-plan state of the whole checkpoint
# chain — 4 references per round compound to 4^rounds driver work.  A
# parquet re-read starts each round from a fresh file relation with
# file-based stats, so rounds stay O(1): measured flat 0.8 s/round, 15 s
# total on the same graph that took 400+ s with checkpoints.  At larger
# scale the large-star/small-star variant (Kiveris et al., "Connected
# Components in MapReduce and Beyond", SoCC 2014) bounds per-round skew
# too; the simple propagation is right while components fit a task.
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame, max_iter: int = 50,
                         scratch_dir: str | None = None) -> DataFrame:
    """(id, component) for every node in the (a_id, b_id) `pairs`;
    component = the minimum id reachable in the undirected pair graph.
    Deterministic.  Raises RuntimeError if not converged within
    `max_iter` rounds (graph diameter pathologically large) rather than
    returning wrong labels.

    `scratch_dir`: durable scratch path for the per-round barriers (see
    module comment), under the `barrier.stage_scratch` rule: without one
    a local master gets a temp dir this call owns, and any other master
    raises ValueError before the first round.  Finished rounds are
    deleted as the loop advances (`barrier.delete`: HDFS/S3A scratch is
    reclaimed too).  The FINAL labels stay on disk because the result
    reads them lazily: a caller's scratch_dir is the caller's to delete;
    an owned temp dir is removed at process exit, or before the
    non-convergence RuntimeError."""
    from pyspark.sql import Observation

    spark = pairs.sparkSession
    with contextlib.ExitStack() as owned:
        root = owned.enter_context(
            stage_scratch(spark, scratch_dir, "spark_graft_cc_"))
        # symmetric closure in ONE pass: a union of `half` with its swap
        # references the caller's pair pipeline twice (q59's whole jaccard
        # verify executed two times into the barrier) — explode both
        # orientations from each row instead
        a, b = F.col("a_id").cast("bigint"), F.col("b_id").cast("bigint")
        edges = materialize(
            pairs.select(F.explode(F.array(
                F.struct(a.alias("v"), b.alias("w")),
                F.struct(b.alias("v"), a.alias("w")))).alias("_e"))
            .select(F.col("_e.v").alias("src"), F.col("_e.w").alias("dst"))
            .distinct(), "edges", root)
        labels = (edges.select(F.col("src").alias("id")).distinct()
                  .withColumn("label", F.col("id")))

        # Round structure (r9 rewrite, measured A/B in OPTIMIZATION_r09.md):
        #
        #   m   = min(label, neighbor labels)   -- ONE union + combining
        #         groupBy(id).min instead of the previous groupBy + two
        #         left joins (two fewer exchanges per round)
        #   m  := m(m(x)) three times            -- pointer jump on the
        #         FRESH map: label^8 per barrier round via exponential
        #         composition (each self-join doubles the dereference
        #         depth).  Jumping the post-hop map instead of the stale
        #         pre-round labels cut the q59 jaccard graph 14 -> 10
        #         rounds and the 200k-chain fixed graph 5 -> 3.
        #   convergence: per-node labels are monotone non-increasing (the
        #         self leg is in the candidate union), so the map is a
        #         fixpoint iff sum(label) is unchanged between rounds —
        #         read via observe() ON THE BARRIER WRITE itself
        #         (DECIMAL(38,0): exact for any id range), replacing the
        #         separate changed-count job per round.  The old-label
        #         join-back that count needed is gone with it.
        #
        # A SECOND nbr hop per round (two-hop neighbor min) was A/B'd in
        # round 7 and again in round 9 and rejected both times: it cuts
        # rounds on hop-bound graphs but re-runs the full-edge aggregation
        # per extra hop, a real-volume loss on chain graphs (numbers in
        # BASELINE.md r7 / OPTIMIZATION_r09.md).  All per-round plan copies
        # read the same post-barrier parquet relation, so planning cost
        # stays constant per round (no iterative lineage growth).
        prev_sum = None
        for rnd in range(max_iter):
            # Adaptive hop count: a graph still unconverged after 3 rounds
            # is hop-bound (min-label diffusion through successive basins —
            # the near-dup blob shape), where a SECOND edge hop per barrier
            # round halves the remaining rounds (q59 graph: 10 -> 7
            # measured).  Jump-bound graphs (chains) converge within 3
            # rounds and never pay the extra full-edge join.  Any hop mix
            # converges to the same min-reachable labels.
            m = labels
            for _ in range(1 if rnd < 3 else 2):
                nbr = (edges.join(m.select(F.col("id").alias("src"), "label"),
                                  "src")
                       .select(F.col("dst").alias("id"),
                               F.col("label").alias("_c")))
                m = (m.select("id", F.col("label").alias("_c"))
                     .unionByName(nbr)
                     .groupBy("id").agg(F.min("_c").alias("label")))
            for _ in range(3):
                # every label value is a real node id (min over reachable
                # ids) and the map covers every node, so the join is total
                m = (m.alias("x")
                     .join(m.select(F.col("id").alias("_yid"),
                                    F.col("label").alias("_ylabel")),
                           F.col("x.label") == F.col("_yid"))
                     .select(F.col("x.id").alias("id"),
                             F.col("_ylabel").alias("label")))
            obs = Observation()
            labels = materialize(
                m.observe(obs, F.count(F.lit(1)).alias("n"),
                          F.sum(F.col("label").cast("decimal(38,0)"))
                          .alias("s")),
                f"labels_{rnd}", root)
            metrics = obs.get
            if rnd > 0:
                delete(spark, f"{root}/labels_{rnd - 1}")
            if metrics["n"] == 0 or (prev_sum is not None
                                     and metrics["s"] == prev_sum):
                delete(spark, f"{root}/edges")
                # the result reads `root` lazily: an owned dir outlives
                # this call and is removed at process exit
                atexit.register(owned.pop_all().close)
                return labels.select("id",
                                     F.col("label").alias("component"))
            prev_sum = metrics["s"]
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds")


def cluster_dedup_keep_best(docs: DataFrame, pairs: DataFrame,
                            order_col: str = "n_chars",
                            scratch_dir: str | None = None) -> DataFrame:
    """One survivor per near-dup cluster: within each connected component
    of `pairs`, keep the doc with the LARGEST `order_col` (CCNet keeps
    the longest copy), ties broken by lowest id; docs in no pair survive
    untouched.  Returns the surviving rows of `docs`."""
    comp = connected_components(pairs, max_iter=50,
                                scratch_dir=scratch_dir)
    members = docs.join(comp.withColumnRenamed("id", "doc_id"), "doc_id")
    winners = (members.groupBy("component")
               .agg(F.min(F.struct(
                   (-F.col(order_col)).alias("o"),
                   F.col("doc_id").alias("i"))).alias("_w"))
               .select(F.col("_w.i").alias("doc_id")))
    losers = (members.select("doc_id")
              .join(winners, "doc_id", "left_anti"))
    return docs.join(losers, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Corpus-wide line-level dedup (the C4 "discard every repeated three-
# sentence span" / CCNet paragraph-dedup family, Raffel et al. 2020 §2.2):
# documents are rewritten, not dropped — each repeated LINE survives only
# at its first corpus position.  Lines shorter than `min_chars` are exempt
# (blank lines, separators: ubiquitous short strings would otherwise both
# gut formatting and create degenerate hot keys).
#
# Scale shape: the first-occurrence winner per line is an AGGREGATION
# (min(struct(doc, pos)) per line digest — map-side combinable), NOT a
# row_number window: a boilerplate line present in 10M documents would
# make a window partition sort 10M rows in one task, while the combining
# min ships one tiny struct per (digest, map partition).  Exempt lines
# bypass the digest exchange entirely.  Three exchanges total: winner agg
# (digest + 12B struct), winner join-back (the one full-text line
# shuffle), and the per-doc rebuild.
# ---------------------------------------------------------------------------


def _doc_lines(docs: DataFrame):
    """(doc_id, pos, line) — one row per line; NULL-text docs yield no
    rows (posexplode of a NULL array), matching the SQL-oracle UNNEST."""
    return docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"))


def _rebuild_docs(flagged: DataFrame) -> DataFrame:
    """Reassemble (id, pos, line, _keep) into (id, text, kept_lines,
    dropped_lines).  collect_list skips the NULLs that `when` leaves for
    dropped lines, so one aggregation carries both the rebuild and the
    counts; array_sort on struct(pos, line) restores document order."""
    kept_struct = F.when(F.col("_keep"), F.struct("pos", "line"))
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["line"]), "\n").alias("text"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0))
        .cast("bigint").alias("kept_lines"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1))
        .cast("bigint").alias("dropped_lines"),
    )


def line_dedup(docs: DataFrame, min_chars: int = 1) -> DataFrame:
    """First-wins corpus-wide line dedup: every eligible newline-split
    line (length ≥ `min_chars`) keeps only its first occurrence in
    (doc_id, pos) order; later copies are dropped and documents rebuilt.
    Returns (doc_id, text, kept_lines, dropped_lines)."""
    lines = _doc_lines(docs)
    elig = F.length("line") >= min_chars
    keyed = lines.filter(elig).withColumn("_h", F.md5("line"))
    winners = keyed.groupBy("_h").agg(
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("_w"))
    flagged = (keyed.join(winners, "_h")
               .withColumn("_keep",
                           F.struct(F.col("doc_id"), F.col("pos"))
                           == F.col("_w"))
               .select("doc_id", "pos", "line", "_keep")
               .unionByName(lines.filter(~elig).select(
                   "doc_id", "pos", "line", F.lit(True).alias("_keep"))))
    return _rebuild_docs(flagged)


def line_doc_frequency(docs: DataFrame, min_chars: int = 1,
                       min_df: int = 2) -> DataFrame:
    """(line, df): how many DISTINCT documents contain each eligible
    line — the corpus profile that calibrates `remove_boilerplate_lines`.
    Per-doc dedup is row-local (array_distinct before the explode), same
    shape as `shingle_document_frequency`."""
    per_doc = docs.select(
        F.explode(F.array_distinct(F.split(F.col("text"), "\n")))
        .alias("line")).filter(F.length("line") >= min_chars)
    return (per_doc.groupBy("line")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") >= min_df))


def remove_boilerplate_lines(docs: DataFrame, max_doc_freq: int = 3,
                             min_chars: int = 1) -> DataFrame:
    """Drop ALL occurrences of eligible lines present in more than
    `max_doc_freq` distinct documents (nav menus, cookie banners, footer
    chrome — the lines `line_dedup` would keep once but a training corpus
    wants gone entirely).  Returns (doc_id, text, kept_lines,
    dropped_lines).

    Join strategy: the hot-line set is df > max_doc_freq — with a low
    threshold on a web corpus that is a large fraction of ALL repeated
    lines (dates, "Home", cookie banners), easily billions of strings at
    crawl scale, so it is NOT broadcast.  The strategy is left to the
    optimizer: with AQE on, the join becomes a broadcast join exactly
    when the hot set's runtime size is small, and degrades to a shuffle
    join (the only correct plan for an unbounded set) otherwise."""
    hot = line_doc_frequency(docs, min_chars, max_doc_freq + 1) \
        .select("line").withColumn("_hot", F.lit(True))
    lines = _doc_lines(docs)
    flagged = (lines.join(hot, "line", "left")
               .withColumn("_keep", F.col("_hot").isNull())
               .select("doc_id", "pos", "line", "_keep"))
    return _rebuild_docs(flagged)


# ---------------------------------------------------------------------------
# Skewed-key aggregation: two-phase salted groupBy.  Spark's partial
# aggregation already defuses most skew for algebraic aggs; the explicit
# two-phase form is for high-cardinality-payload aggs (collect_list-ish) or
# engines/configs without map-side combine.  Result identical to a plain
# groupBy — verified against the SQL oracle.
# ---------------------------------------------------------------------------


def salted_groupby_counts(df: DataFrame, key_col: str, value_col: str,
                          salt_n: int = 16) -> DataFrame:
    """count + sum(value) per key via salted partial → final aggregation."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key_col), F.lit(42)), F.lit(salt_n)))
    partial = salted.groupBy(key_col, "_salt").agg(
        F.count(F.lit(1)).alias("_c"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_s"),
    )
    return partial.groupBy(key_col).agg(
        F.sum("_c").alias("n"),
        F.round(F.sum("_s"), 2).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard similarity for candidate verification (or small-scale
# all-pairs).  Declarative set ops over shingle arrays.
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.8,
                        max_df: int | None = None) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold.

    Exploded-intersection formulation: |A∩B| via groupBy(shingle) self-pairs,
    |A∪B| = |A|+|B|-|A∩B|.  One explode + one groupBy — no quadratic cross
    join; rare shingles dominate cost, as in standard similarity-join
    practice.

    ``max_df`` is the scale guard: shingles appearing in more than `max_df`
    documents are dropped BEFORE the self-join (and, consistently, before
    the per-doc size counts, so jaccard is computed over the filtered
    shingle sets).  Without it a single stop-shingle ("of the") makes the
    shingle self-join quadratic in its posting-list length — at corpus
    scale this filter is mandatory, which is why the standalone q13 query
    runs with it on.
    """
    # the counts need DISTINCT (id, shingle) pairs across rows: the
    # row-local array_distinct misses an id that repeats
    sh = shingle_frame(docs, k, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct("shingles")).alias("shingle"),
    ).dropDuplicates([id_col, "shingle"])
    if max_df is not None:
        keep = (sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_df)
                .select("shingle"))
        sh = sh.join(keep, "shingle", "left_semi")
    # lineage cut: `sh` feeds the size agg AND both self-join legs —
    # three references that would each re-run the explode + per-doc
    # dedup (+ DF-cap semi-join) subtree.  The materialized stream is
    # the same (id, shingle) volume the joins shuffle anyway
    sh = materialize(sh, "shingles")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("a_id"),
                 F.col(f"b.{id_col}").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("n_sh").alias("a_n"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("n_sh").alias("b_n"))
    return (
        inter.join(sa, "a_id").join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("a_n") + F.col("b_n") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (Charikar, "Similarity estimation techniques from rounding
# algorithms", STOC 2002; applied to web dedup in Manku/Jain/Das Sarma,
# WWW 2007): 60-bit weighted-majority fingerprint.  Per-word hash = first 15
# hex chars of md5 parsed as int64 (uniform in [0, 2^60)) — deterministic
# and ANSI-SQL-expressible, so the fingerprint has an exact DuckDB oracle
# twin (xxhash64 would be Spark-only; note the format break vs a previous
# xxhash64 revision — persisted fingerprints from that revision are
# incompatible).  The 60-bit ceiling is structural: 15 hex chars = 60 bits,
# so bits > 60 would silently produce always-zero high bits — rejected.
#
# Scale shape: ALL `bits` votes are computed per word inside ONE projection
# (shiftright + bit mask per position — whole-stage-codegen arithmetic, no
# explode), then a single groupBy(doc) sums the per-bit vote columns.  The
# groupBy input is O(words) rows — not O(words × bits) as an
# explode-over-bit-positions formulation would ship — and Spark's partial
# aggregation combines map-side, so the shuffle itself carries one
# 60-column sum row per (doc, map partition).
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, bits: int = 60) -> DataFrame:
    """(doc_id, simhash bigint).  Majority vote per bit over word hashes."""
    if not 1 <= bits <= 60:
        raise ValueError(
            f"bits must be in [1, 60] (md5-derived word hash is 60 bits "
            f"wide; higher positions would always be zero): got {bits}")
    words = docs.select(
        F.col("doc_id"), F.explode(word_array()).alias("word")
    ).withColumn(
        "wh",
        F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("bigint"))
    # vote_b ∈ {+1, -1} per word, all bits in one codegen'd projection
    vote_sums = [
        F.sum(
            F.when(F.expr(f"(shiftright(wh, {b}) & 1L) = 1"), F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    bitsums = words.groupBy("doc_id").agg(*vote_sums)
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0,
                      F.lit(1 << b).cast("bigint")) \
            .otherwise(F.lit(0).cast("bigint"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bitsums.select(F.col("doc_id"), fingerprint.alias("simhash"))


def simhash_near_dup_pairs(docs: DataFrame, bits: int = 60,
                           bands: int = 4, max_hamming: int = 3,
                           bucket_cap: int = 1024) -> DataFrame:
    """(a_id, b_id, hamming): document pairs whose simhash fingerprints
    differ in at most ``max_hamming`` bits — the web-scale near-dup
    detector of Manku/Jain/Das Sarma, "Detecting Near-Duplicates for
    Web Crawling" (WWW 2007), as a relational plan.

    Candidate generation is the paper's band trick: split the
    fingerprint into ``bands`` contiguous slices; by pigeonhole, any
    pair within hamming distance ``bands - 1`` agrees on at least one
    whole slice, so candidates are an EQUALITY self-join on
    (band, slice-value) — never an all-pairs product — and exactness
    holds whenever ``max_hamming <= bands - 1`` (asserted).  Hot slices
    (boilerplate-dominated corpora collapse many docs onto one
    fingerprint region) go through the shared ``salted_self_join``
    bound.  The verify is one codegen'd projection:
    bit_count(xor) <= max_hamming.

    Plan: signature agg → slice explode (×bands) → salted equality
    self-join → projection.  Shuffles fingerprints (8 bytes/row·band),
    never text."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands >= max_hamming + 1 "
            f"(got {bands}): the band trick only guarantees a shared "
            "slice for pairs within bands - 1 bit flips")
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must divide evenly into "
                         f"bands ({bands})")
    width = bits // bands
    mask = (1 << width) - 1
    sh = simhash(docs, bits)
    slices = sh.select(
        F.col("doc_id"), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask)).alias("key"))
            for b in range(bands)])).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    joined = salted_self_join(slices, ["band", "key"], "doc_id",
                              bucket_cap, 64)
    pairs = joined.select(
        F.col("a.doc_id").alias("a_id"),
        F.col("b.doc_id").alias("b_id"),
        F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        .alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
    return pairs.distinct()


# ---------------------------------------------------------------------------
# Embedding cosine near-dup: pairs with cosine ≥ threshold among LSH-ish
# coarse buckets (label column or norm-bucket) — the IVF coarse-quantizer
# shape of Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011.  Vector math via
# F.aggregate/zip_with — JVM-side, no Python.
#
# Kernel: the left-fold aggregate gives a FIXED IEEE summation order, so
# cosine values are bit-identical to the SQL oracle and threshold
# comparisons cannot flip on borderline pairs — it is what the q29 oracle
# gate runs.  It is also the measured winner on CPU executors: a 100k ×
# dim-768 cosine scan ran 12.4 s (JVM fold) vs 18.4 s (Arrow/numpy) on
# local[32] — Arrow IPC of the vectors to Python costs more than the fold
# saves (see the similarity.py kernel note).  The JOIN SHAPE (bucketed,
# salt-split) is the scale decision.
# ---------------------------------------------------------------------------


from .vecmath import dot as _dot, norm as _norm  # noqa: E402 — shared
# exact fold kernels (one definition: the fold order is oracle contract)


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                             bucket_cap: int = 1024) -> DataFrame:
    """Cosine-similar (vec_id) pairs within coarse `label` buckets
    (IVF-style: only same-bucket pairs compared — the 100 TB path
    replaces the label with a learned coarse quantizer; the join shape
    is identical).

    Hot-bucket guard: the same-bucket self-join goes through the shared
    :func:`salted_self_join` (see its header comment for the salt-split
    mechanics and the exactly-once pair argument) — results are identical
    for any cap; buckets at or under the cap take s = 1, the plain
    self-join."""
    base = emb.select(
        F.col("vec_id"), F.col("label").alias("_bk"),
        F.col("embedding").alias("_v"), _norm(F.col("embedding")).alias("_n"),
    )
    joined = salted_self_join(base, ["_bk"], "vec_id", bucket_cap, 64)
    # zero-norm guard: cosine is undefined for a zero vector — NULL
    # (dropped by the threshold filter) instead of an ANSI
    # DIVIDE_BY_ZERO that would abort the whole job
    den = F.col("a._n") * F.col("b._n")
    cos = F.when(den > 0, _dot(F.col("a._v"), F.col("b._v")) / den)
    return (
        joined.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.vec_id").alias("a_id"),
                F.col("b.vec_id").alias("b_id"), "cosine")
    )
