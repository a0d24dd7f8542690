"""The numpy scoring kernel for ANN top-k (``ann._score_pairs``): one
einsum + vector norms per Arrow batch, rounded once in Spark. Fast
tier — pins the kernel against a numpy brute-force reference
(tests/vector_reference.py) and its plan shape."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_bowl___2023_spark.similarity import (
    brute_force_topk,
    ivf_topk,
)
from big_data_bowl___2023_spark.similarity.ann import _make_planes
from big_data_bowl___2023_spark.sources.io import load_table
from vector_reference import topk, vectors


def _rows(df):
    return sorted((r["query_id"], r["neighbor_id"], r["cosine"],
                   r["rank"]) for r in df.collect())


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_arrow_scoring_matches_numpy_brute_force(spark, emb):
    queries = emb.limit(8)
    got = _rows(brute_force_topk(emb, queries, 5))
    assert got == topk(vectors(emb), vectors(queries), 5)
    assert len(got) == 8 * 5


def test_arrow_scoring_matches_numpy_ivf(spark, emb):
    """ivf_topk == the numpy top-k over each query's probed cells (its
    own sign cell plus every one-bit flip)."""
    queries = emb.limit(8)
    got = _rows(ivf_topk(emb, queries, 5, dim=64))
    planes = [np.asarray(p) for p in _make_planes(64, 3)]

    def cell(v):
        return "".join("1" if v @ p >= 0 else "0" for p in planes)

    corpus = vectors(emb)
    cells = {i: cell(v) for i, v in corpus.items()}
    want = []
    for q, qv in vectors(queries).items():
        c = cell(qv)
        probed = {c} | {c[:j] + ("0" if c[j] == "1" else "1") + c[j + 1:]
                        for j in range(3)}
        want += topk({i: v for i, v in corpus.items()
                      if cells[i] in probed}, {q: qv}, 5)
    assert got == sorted(want) and got


def test_degenerate_vectors_score_zero(spark):
    """Zero-norm AND corrupt (NaN/Inf-component) vectors score 0.0 —
    a NaN score would sort GREATEST in Spark and rank the corrupt row
    FIRST for every query (the round-7 bug class)."""
    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8]),
            (4, [float("nan"), 1.0]), (5, [float("inf"), 0.0])]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 1")
    got = {r["neighbor_id"]: (r["cosine"], r["rank"]) for r in
           brute_force_topk(emb, q, 4).collect()}
    assert got[3][0] == 0.6 and got[3][1] == 1
    assert got[2][0] == 0.0   # zero-norm
    assert got[4][0] == 0.0   # NaN component
    assert got[5][0] == 0.0   # Inf component


def test_arrow_scoring_stage_is_pythonic_map(spark, emb):
    plan = brute_force_topk(emb, emb.limit(2), 3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_hard_negative_miner_guards_corrupt_vectors(spark):
    """mine_hard_negatives applies the scoring kernel's degenerate
    policy (``_np_cosine``: non-finite -> 0.0) through ``nanvl`` over
    ``V.cosine``: a corrupt NaN embedding in a labeled corpus scores
    0.0 and never tops an anchor's negatives (unguarded it scored NaN,
    which Spark sorts greatest — rank 1 for every anchor)."""
    from big_data_bowl___2023_spark.similarity.ann import (
        mine_hard_negatives,
    )
    rows = [(1, [1.0, 0.0], "a"), (2, [0.9, 0.1], "b"),
            (3, [float("nan"), 1.0], "b")]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string")
    got = {(r["anchor_id"], r["negative_id"]): (r["cosine"], r["rank"])
           for r in mine_hard_negatives(corpus, 2).collect()}
    # for anchor 1: the genuine close negative (2) ranks first; the
    # corrupt row scores 0.0 and sits below it
    assert got[(1, 2)][1] == 1
    assert got[(1, 3)] == (0.0, 2)
