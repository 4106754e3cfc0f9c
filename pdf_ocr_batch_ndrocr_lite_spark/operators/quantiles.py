"""Exact distributed quantiles (percentile_disc semantics).

Approximate quantile sketches (GK, t-digest, Spark's approxQuantile) are
implementation-defined and can't be oracle-checked across engines.  This
operator computes EXACT discrete quantiles with one shuffle:

    rank rows per group by value                   [window, one exchange]
    per-group row count                            [same window, no extra
                                                    shuffle: count() over
                                                    the unordered frame]
    quantile q → the row with rn == max(1, ceil(q*n))   (percentile_disc)

Scale shape (r8): the rank runs over PRE-AGGREGATED (value, count)
pairs — a combining groupBy first, then the window over the distinct
values of each group.  percentile_disc picks a VALUE, and tied rows
share their value, so the (value, count) formulation returns the
identical answer while the hot-group window partition shrinks from
"all rows of the stratum" (a single-task sort at crawl scale — the
same un-splittable-window class as the r7 digest-dedup finding) to
"distinct values of the stratum" (quality scores, lengths, and ratios
repeat heavily; a stratum of 10^10 docs has ~10^4 distinct rounded
scores).  The worst case (all-distinct continuous values) degrades to
the old shape's sort with one extra combining exchange — never worse
than quadratic-free, and the common case is bounded.  No tiebreak
column is needed: tied rows share their value, so the picked value is
the same whichever of them ranks first.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_quantiles(df: DataFrame, group_col: str, value_col: str,
                    qs: Sequence[float]) -> DataFrame:
    """(group, q, value) for each q in `qs` — discrete quantiles: the
    value whose rank is max(1, ceil(q * n)) within the group's value
    order.  Computed over (value, count) pairs — see the module
    docstring for why this is the 100 TB shape; the picked value is
    identical to the per-row row_number formulation (ties share their
    value)."""
    counts = (df.groupBy(F.col(group_col), F.col(value_col))
              .agg(F.count(F.lit(1)).alias("_c")))
    w = (Window.partitionBy(group_col).orderBy(value_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = Window.partitionBy(group_col)
    ranked = counts.select(
        F.col(group_col), F.col(value_col), F.col("_c"),
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(wn).alias("_n"),
    )
    q_arr = F.array(*[F.lit(float(q)) for q in qs])
    exploded = ranked.select(
        group_col, value_col, "_c", "_cum", "_n",
        F.explode(q_arr).alias("q"),
    )
    target = F.greatest(F.lit(1).cast("bigint"),
                        F.ceil(F.col("q") * F.col("_n")))
    hit = exploded.filter(
        (F.col("_cum") - F.col("_c") < target) & (target <= F.col("_cum")))
    return hit.select(group_col, "q", F.col(value_col).alias("value"))
