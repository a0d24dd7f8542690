"""Embedding drift via seeded JL projections (operators/drift.py::
embedding_psi_report / embedding_drift).

Contracts under test:
* composition identity — the report EXACTLY equals psi_report over
  numpy-computed projection marginals (same matrix, same bins);
* same-distribution stability (split halves → psi ~ 0) and injected
  mean shift detection (max psi over threshold, drifted non-empty);
* NULL vectors ride the NULL bucket instead of erroring.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.operators.drift import (
    embedding_drift,
    embedding_psi_report,
    psi_report,
)
from big_data_bowl___2023_spark.similarity.projection import (
    projection_matrix,
)
from big_data_bowl___2023_spark.sources.io import load_table

N_PROJ = 6


def _rows(df):
    return sorted((r["projection"], r["psi"], r["n_buckets_used"])
                  for r in df.collect())


def test_composition_identity_with_numpy_projections(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 2 == 0)
    cur = emb.filter(F.col("vec_id") % 2 == 1)
    got = _rows(embedding_psi_report(ref, cur, n_proj=N_PROJ))

    R = projection_matrix(64, N_PROJ)
    names = [f"proj_{j}" for j in range(N_PROJ)]

    def manual(df):
        vecs = np.array([r["embedding"] for r in df.collect()],
                        dtype=np.float64)
        P = vecs @ R
        return spark.createDataFrame(
            [tuple(float(x) for x in row) for row in P],
            ", ".join(f"{n} double" for n in names))

    exp = sorted((r["column"], r["psi"], r["n_buckets_used"])
                 for r in psi_report(manual(ref), manual(cur),
                                     names).collect())
    assert got == exp


def test_stability_and_injected_shift(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 2 == 0)
    same = emb.filter(F.col("vec_id") % 2 == 1)
    verdict = embedding_drift(ref, same, n_proj=N_PROJ)
    assert verdict["max_psi"] < 0.25 and verdict["drifted"] == []
    # inject a mean shift on every coordinate: some projection's
    # marginal must move decisively
    shifted = same.withColumn(
        "embedding",
        F.transform("embedding", lambda x: x + F.lit(2.0)))
    verdict = embedding_drift(ref, shifted, n_proj=N_PROJ)
    assert verdict["max_psi"] >= 0.25 and verdict["drifted"]
    assert verdict["n_projections"] == N_PROJ


def test_null_vectors_ride_null_bucket(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(400)
    ref = emb.filter(F.col("vec_id") % 2 == 0)
    cur = emb.filter(F.col("vec_id") % 2 == 1).withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 0,
               F.lit(None).cast("array<float>"))
         .otherwise(F.col("embedding")))
    a = _rows(embedding_psi_report(ref, cur, n_proj=N_PROJ))
    # NULL vectors appeared only in `cur`: nullability drift shows
    # up as nonzero psi, not an error
    assert all(psi > 0 for _, psi, _ in a)
