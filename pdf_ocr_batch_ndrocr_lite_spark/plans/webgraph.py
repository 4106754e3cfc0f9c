"""Composed host-level webgraph job: resolve links → eTLD+1 edges →
fixed-point PageRank/TrustRank — the source-quality signal a crawl
curation pipeline ranks domains by (Common-Crawl publishes exactly this
per host/domain).

Barrier discipline (BASELINE.md r8): the RFC-3986 resolver plus the
DOUBLE full-PSL cascade exceeds the 64KB whole-stage-codegen method
budget, and pagerank would additionally inline that tree into
nodes/outdeg/cedges and every rank round — so each stage materializes
before the next consumes it (``barrier.materialize``: durable parquet
under ``scratch_dir``, shared storage on a real cluster).  The ``links``
and ``host_edges`` counts are observations on those two barrier writes,
not jobs of their own.

Scale shape: every stage is partition-parallel (projection / combining
agg / keyed join); the only driver-side state is pagerank's scalar node
count.  The reference has no graph surface (it delegates ranking to
whatever crawl produced its inputs) — this is the training-data
extension's source-quality layer over the same pages table the
extraction pipeline reads.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import linkgraph as lg
from ..operators.barrier import materialize


def run_webgraph(pages: DataFrame, scratch_dir: str, iterations: int = 3,
                 redistribute_dangling: bool = False,
                 drop_self: bool = True,
                 seeds: Optional[DataFrame] = None):
    """(ranks, counts): host-level rank table (host, rank) over the
    pages table's anchor graph, plus per-stage row counts, each observed
    on the write of that stage's barrier under ``scratch_dir``.

    ``pages``: the standard pages table (html may be binary — decoded
    as UTF-8 here, matching the corpus schema).  ``seeds``: optional
    one-column frame of trusted HOSTS (registrable domains) → TrustRank.
    """
    spark = pages.sparkSession
    html = F.col("html")
    if isinstance(pages.schema["html"].dataType, T.BinaryType):
        html = html.cast("string")
    src = pages.select(F.col("url"), html.alias("html"))

    n_links, n_edges = Observation(), Observation()
    rows = F.count(F.lit(1)).alias("rows")
    links = materialize(lg.resolve_links(src).observe(n_links, rows),
                        "links", scratch_dir)
    edges = materialize(
        lg.host_edges(links, drop_self=drop_self).observe(n_edges, rows),
        "edges", scratch_dir)
    counts = {"links": n_links.get["rows"],
              "host_edges": n_edges.get["rows"]}
    if counts["host_edges"] == 0:
        # a corpus with no (inter-host) anchors has no graph to rank —
        # an empty typed result beats pagerank's empty-node error for a
        # batch job that may legitimately see anchor-free shards
        return (spark.createDataFrame([], "host string, rank bigint"),
                counts)
    ranks = lg.pagerank(
        edges, iterations=iterations, src_col="src_host",
        dst_col="dst_host", key_type=None, seeds=seeds,
        redistribute_dangling=redistribute_dangling,
        scratch_dir=f"{scratch_dir}/pr")
    return ranks.select(F.col("id").alias("host"), "rank"), counts
