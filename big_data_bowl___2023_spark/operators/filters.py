"""Projections / filters / predicates (SURVEY.md §2.2 P1–P15).

Every helper is a pure ``DataFrame -> DataFrame`` so the whole pipeline
stays one lazy Catalyst plan: these predicates are pushed into the scan
(PushedFilters) and projections prune the read schema — free at 100 TB,
impossible in the reference's eager model.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def project(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P1/P2: column projection (reference MBE:65-66, 115-117)."""
    return df.select(*cols)


def filter_not_in(df: DataFrame, col: str, values: Sequence[str],
                  keep_nulls: bool = False) -> DataFrame:
    """P8: drop a category list. The reference's chained ``!=`` filters
    (DLC:31-35) silently drop NULLs too (R NA semantics, SURVEY §7.2);
    the engine makes that choice explicit via ``keep_nulls``."""
    cond = ~F.col(col).isin(list(values))
    if keep_nulls:
        cond = cond | F.col(col).isNull()
    return df.filter(cond)


def filter_null(df: DataFrame, col: str, keep_null: bool = True) -> DataFrame:
    """P11: NULL predicates (DLC:50; MBE:93, 125, 131)."""
    c = F.col(col)
    return df.filter(c.isNull() if keep_null else c.isNotNull())


def exclude_play(df: DataFrame, **key_values) -> DataFrame:
    """P13: literal-key row exclusion. Implements the reference's
    *intended* predicate ``~(playId==2699 & gameId==...)`` rather than
    its buggy OR-union text (DLC:53-54; SURVEY §7.3)."""
    cond = F.lit(True)
    for k, v in key_values.items():
        cond = cond & (F.col(k) == F.lit(v))
    return df.filter(~cond)
