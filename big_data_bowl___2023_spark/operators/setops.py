"""Set operations (SURVEY.md §2.7 U1–U2). Intersect/except are the
DataFrame methods themselves (``intersect``/``exceptAll``); U2 is
``joins.anti_join``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_all(*dfs: DataFrame, allow_missing: bool = False) -> DataFrame:
    """U1: n-ary UNION ALL by column name — the ``bind_rows`` over
    weekly tracking files (DLC:22). For homogeneous files prefer a glob
    read (sources.read_csv_glob): a single scan, no N-way plan union.
    ``allow_missing`` mirrors bind_rows' fill-missing-with-NA."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing),
        dfs)
