"""The driver-tier Lloyd loop (r17): train_pq(lloyd="driver") runs
the capped-sample k-means on the driver in numpy — one bounded
collect instead of seeds-collect + sample-pin + one Spark job per
round. Parity contract: codebooks agree with the distributed trainer
to float-summation order (the sampled-training tolerance class,
~1e-9), the tier is deterministic and partitioning-invariant, the
semantic pair sets it feeds are identical across tiers, and the
semantic k-means entry points train on it."""

from __future__ import annotations

import pytest

from big_data_bowl___2023_spark.dedup import semantic
from big_data_bowl___2023_spark.dedup.semantic import (
    pairs_with_centroids,
    scaled_k,
    semantic_dup_pairs,
)
from big_data_bowl___2023_spark.similarity import pq
from big_data_bowl___2023_spark.similarity.pq import train_pq
from big_data_bowl___2023_spark.sources.io import load_table
from vector_reference import lloyd, unit, vectors


def _close(a: list, b: list, tol: float = 1e-9) -> bool:
    assert len(a) == len(b)
    for cb_a, cb_b in zip(a, b):
        assert len(cb_a) == len(cb_b)
        for ca, cb in zip(cb_a, cb_b):
            for x, y in zip(ca, cb):
                if abs(x - y) >= tol:
                    return False
    return True


def test_driver_lloyd_matches_distributed_to_summation_order(
        spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    dist = train_pq(emb, dim=64, m=1, k=8, n_iters=4)
    drv = train_pq(emb, dim=64, m=1, k=8, n_iters=4, lloyd="driver")
    assert _close(dist, drv)
    # PQ shape (m subspaces) routes each row to ITS subspace table
    dist_m = train_pq(emb, dim=64, m=4, k=4, n_iters=3)
    drv_m = train_pq(emb, dim=64, m=4, k=4, n_iters=3, lloyd="driver")
    assert _close(dist_m, drv_m)


def test_driver_lloyd_deterministic_and_layout_invariant(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = train_pq(emb, dim=64, m=1, k=8, n_iters=4, lloyd="driver")
    b = train_pq(emb.repartition(7), dim=64, m=1, k=8, n_iters=4,
                 lloyd="driver")
    assert a == b                     # bitwise across layouts


def test_driver_lloyd_scores_in_row_blocks(spark, sf_dir, monkeypatch):
    """The driver argmin runs ``_ARGMIN_BLOCK`` rows at a time so its
    score matrix never grows with the sample: a block far smaller
    than the sample trains the same codebook as one block, and both
    match the numpy Lloyd restatement."""
    emb = load_table(spark, sf_dir, "embeddings")
    one = train_pq(emb, dim=64, m=1, k=8, n_iters=4, lloyd="driver")
    monkeypatch.setattr(pq, "_ARGMIN_BLOCK", 7)
    blocked = train_pq(emb, dim=64, m=1, k=8, n_iters=4, lloyd="driver")
    assert _close(blocked, one, tol=1e-12)
    assert _close(blocked, lloyd(unit(vectors(emb)), 64, 1, 8, 4))


def test_driver_lloyd_requires_sample_cap(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="train_rows"):
        train_pq(emb, dim=64, m=1, k=4, n_iters=1, lloyd="driver",
                 train_rows=None)
    with pytest.raises(ValueError, match="unknown lloyd tier"):
        train_pq(emb, dim=64, m=1, k=4, n_iters=1, lloyd="numpy")


def test_driver_lloyd_small_and_empty_inputs(spark):
    rows = [(i, [float(i), 1.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # fewer rows than k: seeds (and codebooks) shrink, like the
    # distributed path
    cents = train_pq(df, dim=2, m=1, k=8, n_iters=2, lloyd="driver")
    assert len(cents) == 1 and len(cents[0]) == 3
    empty = df.filter("vec_id < 0")
    assert train_pq(empty, dim=2, m=1, k=4, n_iters=2,
                    lloyd="driver") == [[]]


def test_semantic_pairs_identical_across_lloyd_tiers(spark, sf_dir):
    """The end-to-end pin: semantic_dup_pairs (driver-tier training)
    emits the same verified pair set as the same chain over a
    distributed-tier codebook — the tier is a physical choice, not a
    semantics choice, on real embeddings."""
    emb = load_table(spark, sf_dir, "embeddings")
    drv_pairs = {(r.vec_a, r.vec_b, r.cosine) for r in
                 semantic_dup_pairs(emb, 0.4, dim=64).collect()}
    cents = train_pq(emb, dim=64, m=1, k=scaled_k(emb.count()),
                     n_iters=4)[0]
    dist_pairs = {(r.vec_a, r.vec_b, r.cosine) for r in
                  pairs_with_centroids(emb, cents, 0.4).collect()}
    assert drv_pairs == dist_pairs and drv_pairs


class _Trained(Exception):
    pass


def test_lloyd_tier_rule(spark, monkeypatch):
    """The batch semantic k-means entry points train on the driver
    tier (the spy stops each call at its train_pq)."""
    tiers = []

    def spy(*args, lloyd=None, **kwargs):
        tiers.append(lloyd)
        raise _Trained

    monkeypatch.setattr(pq, "train_pq", spy)
    df = spark.createDataFrame([(1, [1.0, 0.0])],
                               "vec_id long, embedding array<double>")
    calls = (lambda: semantic.kmeans_assign(df, k=2, dim=2),
             lambda: semantic.semantic_dup_pairs(df, 0.5, k=2, dim=2),
             lambda: semantic.incremental_semantic_pairs(
                 df, df, 0.5, k=2, dim=2))
    for call in calls:
        with pytest.raises(_Trained):
            call()
    assert tiers == ["driver"] * 3
