"""Query/oracle registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 registers here as a named
query ``(spark, sf_dir) -> DataFrame`` plus (when ANSI-SQL-expressible)
a DuckDB oracle SQL string. The driver runs both at sf=0.01 and
compares row count + schema + order-insensitive value hash.

Cross-engine determinism rules used by all registered queries:

* Money-scale SUMs go through ``DECIMAL(18,2)`` (or wider scale for
  products) on BOTH sides, then cast back to DOUBLE: decimal addition
  is exact and associative, so Spark's partial-agg summation order and
  DuckDB's single-threaded order give bit-identical results. A raw
  double SUM over 10k+ rows differs in the last ~1e-12 relative and
  can flip any rounding.
* Small-magnitude derived doubles (averages, ratios, medians, cosines)
  are rounded to 6 decimals on both sides.
* Any LIMIT/top-k is preceded by a total order with a unique
  tie-breaker key.
* Window orderings always include a unique tie-breaker column.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Registration order = driver check order (the driver verifies the
# first 50 registered queries; the registry holds exactly 50). The
# rows-only ML queries register last so that, if a future driver
# truncates by time instead of count, only the weakest-evidence rows
# are at risk.
_QUERY_MODULES = [
    "relational",
    "window_queries",
    "text",
    "dedup_queries",
    "similarity_queries",
    "pipeline_queries",
    "streaming_queries",
    "ml_queries",
]


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` → driver does rows-only check
    (reserved for genuinely non-SQL-expressible ops)."""
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def load_all() -> None:
    """Import every query module (idempotent)."""
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(f"{__package__}.queries.{mod}")
        except ModuleNotFoundError as e:
            # Allow partial builds while modules land incrementally,
            # but only swallow "module itself missing", not real
            # import errors inside an existing module.
            if f"queries.{mod}" not in str(e):
                raise


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return dict(ORACLES)
