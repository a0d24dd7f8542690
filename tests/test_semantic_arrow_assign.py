"""The Arrow/GEMM nearest-centroid assignment kernel (round 8;
``assign_with_centroids``). Fast tier — these pin the kernel against
numpy brute-force assignment (tests/vector_reference.py) and its plan
shape, not recall."""

from __future__ import annotations

from big_data_bowl___2023_spark.dedup.semantic import (
    assign_with_centroids,
    scaled_k,
    semantic_dup_pairs,
)
from big_data_bowl___2023_spark.dedup.embedding import _normalized
from big_data_bowl___2023_spark.similarity.pq import train_pq
from big_data_bowl___2023_spark.sources.io import load_table
from vector_reference import assign, near_dup_pairs, unit, vectors


def _clusters(df):
    return {r["id"]: r["cluster"] for r in df.collect()}


def test_arrow_assignment_matches_numpy_on_real_embeddings(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    v = _normalized(emb, "embedding", "vec_id")
    cents = [[(1.0 if d == j else 0.0) for d in range(64)]
             for j in range(5)]
    got = _clusters(assign_with_centroids(v, cents))
    assert got == assign(vectors(v, "id", "u"), cents) and got


def test_arrow_assignment_geometry_and_ties(spark):
    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    rows = [(1, [0.9, 0.1]), (2, [0.1, 0.9]), (3, [-0.8, -0.1]),
            # EXACTLY equidistant to cents[0] and cents[1]: ties
            # break to the LOWEST code
            (4, [0.5, 0.5])]
    v = spark.createDataFrame(rows, "id long, u array<double>")
    got = _clusters(assign_with_centroids(v, cents))
    assert got == {1: 0, 2: 1, 3: 2, 4: 0}
    assert got == assign(vectors(v, "id", "u"), cents)


def test_arrow_assignment_plan_is_map_side(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    v = _normalized(emb, "embedding", "vec_id")
    cents = [[0.0] * 64, [1.0] * 64]
    plan = assign_with_centroids(v, cents) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan       # pure map-side scan
    assert "Join" not in plan


def test_semantic_pairs_identical_under_arrow_kernel(spark, sf_dir):
    """The configuration the bench extra ships (the corpus-count hint
    ``n``) emits exactly the numpy within-cluster pairs under the
    same codebook."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    got = {(r.vec_a, r.vec_b, r.cosine) for r in
           semantic_dup_pairs(emb, 0.4, dim=64, n=n).collect()}
    cents = train_pq(emb, dim=64, m=1, k=scaled_k(n), n_iters=4)[0]
    units = unit(vectors(emb))
    assert got == near_dup_pairs(units, 0.4, assign(units, cents))
    assert got
