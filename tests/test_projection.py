"""JL random-projection screen (similarity/projection.py): matrix
determinism, the projection GEMM against numpy, distance
preservation on real embeddings, screen→rerank recall and
exact-limit equivalence."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.plans.explain import plan_report
from big_data_bowl___2023_spark.similarity import ann
from big_data_bowl___2023_spark.similarity.projection import (
    project_embeddings,
    projected_topk_rerank,
    projection_matrix,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def vecs(spark):
    return (spark.read.parquet(f"{SF}/embeddings.parquet")
                 .orderBy("vec_id").limit(150)
                 .select("vec_id", "embedding").cache())


def test_matrix_deterministic_and_seed_sensitive():
    a = projection_matrix(64, 16, seed=7)
    b = projection_matrix(64, 16, seed=7)
    c = projection_matrix(64, 16, seed=8)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)
    # Rademacher entries: exactly ±1/sqrt(out_dim)
    assert np.allclose(np.abs(a), 1 / 4.0)
    assert a.shape == (64, 16)


def test_projection_matches_numpy_gemm(spark, vecs):
    rows = project_embeddings(vecs, 16, out_col="proj").collect()
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                  for r in rows])
    got = np.stack([np.asarray(r["proj"]) for r in rows])
    np.testing.assert_allclose(got, X @ projection_matrix(64, 16),
                               rtol=0, atol=1e-12)


def test_null_vector_projects_to_null(spark):
    df = spark.createDataFrame(
        [(1, [1.0] * 64), (2, None)],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["projected"] for r in
           project_embeddings(df, 8).collect()}
    assert got[2] is None
    assert got[1] is not None and len(got[1]) == 8


def test_wrong_length_vector_errors(spark):
    df = spark.createDataFrame(
        [(1, [1.0] * 32)], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="dim=64"):
        project_embeddings(df, 8).collect()


def test_jl_distance_preservation(spark, vecs):
    """Pairwise L2 distances survive a 64→32 projection within a
    modest distortion on real embeddings (JL with ε ~ sqrt(ln n / d'))
    — deterministic: fixed data, fixed seed."""
    rows = project_embeddings(vecs, 32, out_col="p").collect()
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                  for r in rows])
    P = np.stack([np.asarray(r["p"], dtype=np.float64)
                  for r in rows])
    rng = np.random.default_rng(0)
    idx = rng.integers(0, len(rows), size=(300, 2))
    idx = idx[idx[:, 0] != idx[:, 1]]
    d0 = np.linalg.norm(X[idx[:, 0]] - X[idx[:, 1]], axis=1)
    d1 = np.linalg.norm(P[idx[:, 0]] - P[idx[:, 1]], axis=1)
    ratio = d1 / d0
    assert ratio.max() < 1.6 and ratio.min() > 0.5
    assert abs(float(np.median(ratio)) - 1.0) < 0.15


def test_projection_is_map_side(spark, vecs):
    rep = plan_report(project_embeddings(vecs, 16))
    assert rep["n_exchanges"] == 0


def test_full_shortlist_equals_exact_topk(spark, vecs):
    """With shortlist ≥ corpus the screen keeps everything, so the
    composition must reproduce exact brute-force top-k bit-for-bit
    (same exact_rerank cosine/tie-break contract)."""
    queries = vecs.limit(6).withColumn(
        "vec_id", F.col("vec_id") + 10_000_000)
    exact = ann.brute_force_topk(vecs, queries, 10)
    got = projected_topk_rerank(vecs, queries, 10, out_dim=16,
                                shortlist=1000)
    assert sorted(map(tuple, got.collect())) == \
           sorted(map(tuple, exact.collect()))


def test_screen_recall_on_real_embeddings(spark, vecs):
    """Deterministic recall floor: 64→32 screen with an 8× over-fetch
    (shortlist=80 for k=10) against exact top-10. The synthetic
    embeddings are near-isotropic — the hardest case for a JL screen
    — so this floor is conservative for real (clustered) corpora."""
    queries = vecs.limit(12).withColumn(
        "vec_id", F.col("vec_id") + 10_000_000)
    exact = ann.brute_force_topk(vecs, queries, 10)
    got = projected_topk_rerank(vecs, queries, 10, out_dim=32,
                                shortlist=80)
    def pairs(df):
        return {(r["query_id"], r["neighbor_id"])
                for r in df.collect()}
    e, g = pairs(exact), pairs(got)
    recall = len(e & g) / len(e)
    assert recall >= 0.9, recall
    # and every returned cosine is the EXACT value (rerank contract)
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"]
                 for r in exact.collect()}
    for r in got.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cosine"] == exact_cos[key]
