"""Sorts / limits / top-k (SURVEY.md §2.6 O1–O5).

Global sorts are range-partitioned shuffles in Spark — expensive at
scale and usually unnecessary: the reference's big 4-key sort (DLC:37)
exists only to set up order-dependent lag and is subsumed by window
``orderBy``. The helpers here are for genuinely ordered *outputs*
(rankings), which are small post-aggregation tables.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """O4 (engine-correct version): LIMIT after an explicit total
    order. The reference slices rows positionally from unordered data
    (MO:38, nondeterministic); callers here must pass a tie-broken
    ``order`` so results are stable under any partitioning.

    Physically this is Spark's TakeOrderedAndProject — per-partition
    top-k then a driver merge of k-row heaps, no global sort.
    """
    return df.orderBy(*order).limit(k)


def ranking(df: DataFrame, keys: Sequence[str], aggs: dict[str, Column],
            having: Column | None, order: Sequence[Column]) -> DataFrame:
    """O5 + P14: the reference's ranking shape — aggregate → HAVING
    threshold → ordered output (MO:16-34, e.g. ``rush_attempts >= 50``
    then ``arrange(desc(sum_dPZs))``)."""
    out = df.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in aggs.items()])
    if having is not None:
        out = out.filter(having)
    return out.orderBy(*order)
