"""Pin the 6-dp rounding of the numpy vector kernels at an exact .5
boundary (round-8 verdict #3 asked for the boundary to be
CONSTRUCTED, not anecdotal).

The numpy kernels emit raw doubles and Spark rounds them once with
``round`` (BigDecimal HALF_UP) — the rule DuckDB's ``ROUND`` follows,
so oracle hashes cannot drift at a boundary. ``np.round`` would
scale-and-rint HALF_EVEN instead. The two rules disagree only when
the cosine's double lands EXACTLY on a 6-dp .5 boundary. 1/128 =
0.0078125 is such a value, and it is reachable: dot((1,0), (1/128,
q)) = 1/128 exactly for any finite q, and q = sqrt(1 - p^2) makes
the vector exactly unit-norm in float64 (asserted below), so the
norms divide out exactly in the guarded ann kernel too."""

from __future__ import annotations

import math

import duckdb
import numpy as np

from big_data_bowl___2023_spark.dedup.embedding import _verify_exact
from big_data_bowl___2023_spark.similarity.ann import brute_force_topk

P = 0.0078125                      # 1/128 — exact binary double
Q = math.sqrt(1.0 - P * P)


def test_boundary_preconditions():
    # the construction is self-validating: P has its decimal .5 at
    # the 7th digit, and (P, Q) is EXACTLY unit-norm in float64 (both
    # the numpy norm and the sequential fold (0 + P*P) + Q*Q)
    assert P == 1.0 / 128.0
    assert (0.0 + P * P) + Q * Q == 1.0
    assert np.linalg.norm(np.array([P, Q])) == 1.0
    assert float(np.round(P, 6)) == 0.007812        # half-even
    # the oracle's rule
    assert duckdb.sql(f"SELECT round({P}::DOUBLE, 6)").fetchone()[0] \
        == 0.007813


def test_verify_rounds_boundary_half_up(spark):
    v = spark.createDataFrame([(1, [1.0, 0.0]), (2, [P, Q])],
                              "id long, u array<double>")
    cand = spark.createDataFrame([(1, 2)], "vec_a long, vec_b long")
    rows = _verify_exact(v, cand, 0.001).collect()
    assert [r.cosine for r in rows] == [0.007813]


def test_scoring_rounds_boundary_half_up(spark):
    """The ann kernel divides by the norms before rounding; the
    exactly-unit neighbor keeps the quotient at exactly 1/128, so the
    boundary shows through the guarded cosine as well."""
    corpus = spark.createDataFrame([(2, [P, Q])],
                                   "vec_id long, embedding array<double>")
    queries = spark.createDataFrame([(1, [1.0, 0.0])],
                                    "vec_id long, embedding array<double>")
    rows = brute_force_topk(corpus, queries, 1).collect()
    assert [r.cosine for r in rows] == [0.007813]
