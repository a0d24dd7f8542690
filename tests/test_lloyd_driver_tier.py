"""train_pq's driver Lloyd loop (r17): the capped-sample k-means runs
on the driver in numpy — one bounded collect instead of a Spark job
per round. Contract: the loop is deterministic and partitioning-
invariant, scores its argmin in bounded row blocks, refuses an
uncapped sample, handles tiny and empty inputs, and the semantic
k-means entry points train full-vector (m=1) codebooks on the capped
sample."""

from __future__ import annotations

import pytest

from big_data_bowl___2023_spark.dedup import semantic
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


def test_driver_lloyd_deterministic_and_layout_invariant(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = train_pq(emb, dim=64, m=1, k=8, n_iters=4)
    b = train_pq(emb.repartition(7), dim=64, m=1, k=8, n_iters=4)
    assert a == b                     # bitwise across layouts


def test_driver_lloyd_scores_in_row_blocks(spark, sf_dir, monkeypatch):
    """The driver argmin runs ``_ARGMIN_BLOCK`` rows at a time so its
    score matrix never grows with the sample: a block far smaller
    than the sample trains the same codebook as one block, and both
    match the numpy Lloyd restatement."""
    emb = load_table(spark, sf_dir, "embeddings")
    one = train_pq(emb, dim=64, m=1, k=8, n_iters=4)
    monkeypatch.setattr(pq, "_ARGMIN_BLOCK", 7)
    blocked = train_pq(emb, dim=64, m=1, k=8, n_iters=4)
    assert _close(blocked, one, tol=1e-12)
    assert _close(blocked, lloyd(unit(vectors(emb)), 64, 1, 8, 4))


def test_driver_lloyd_requires_sample_cap(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="train_rows"):
        train_pq(emb, dim=64, m=1, k=4, n_iters=1, train_rows=None)


def test_driver_lloyd_small_and_empty_inputs(spark):
    rows = [(i, [float(i), 1.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # fewer rows than k: seeds (and codebooks) shrink to the rows
    cents = train_pq(df, dim=2, m=1, k=8, n_iters=2)
    assert len(cents) == 1 and len(cents[0]) == 3
    empty = df.filter("vec_id < 0")
    assert train_pq(empty, dim=2, m=1, k=4, n_iters=2) == [[]]


class _Trained(Exception):
    pass


def test_lloyd_tier_rule(spark, monkeypatch):
    """The batch semantic k-means entry points train full-vector
    (m=1) codebooks on the default capped sample (the spy stops each
    call at its train_pq)."""
    calls_seen = []

    def spy(*args, m=None, train_rows="default", **kwargs):
        calls_seen.append((m, train_rows))
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
    assert calls_seen == [(1, "default")] * 3
