"""E46/E47 — leakage-safe splitting (no near-dup pair crosses folds,
frozen assignments, fraction tracking) and hard-negative mining (top
similar cross-label neighbors, verified against a python oracle)."""

from __future__ import annotations

from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.dedup import minhash_band_pairs
from big_data_bowl___2023_spark.operators.splits import (
    assert_no_leakage,
    leakage_safe_split,
)
from big_data_bowl___2023_spark.similarity import (
    mine_hard_negatives,
    mine_hard_negatives_ann,
)
from big_data_bowl___2023_spark.sources.io import load_table


def test_split_never_separates_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_band_pairs(docs, 0.3).cache()
    assert pairs.count() > 0
    split = leakage_safe_split(docs, pairs, test_frac=0.2).cache()

    assert assert_no_leakage(split, pairs) == 0
    # row-level hash split WOULD leak on this corpus (sanity that the
    # check has teeth): assign by doc hash instead of cluster hash
    naive = split.withColumn(
        "split", F.when(F.pmod(F.xxhash64("doc_id"), 5) == 0,
                        "test").otherwise("train"))
    assert assert_no_leakage(naive, pairs) > 0

    # fraction lands near target and assignments are deterministic
    frac = (split.filter(F.col("split") == "test").count()
            / split.count())
    assert 0.1 < frac < 0.3
    again = leakage_safe_split(docs, pairs, test_frac=0.2)
    assert split.select("doc_id", "split").exceptAll(
        again.select("doc_id", "split")).count() == 0


def test_hard_negatives_vs_python_oracle(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(120).cache()
    K = 5
    got = defaultdict(list)
    for r in (mine_hard_negatives(emb, K).orderBy("anchor_id", "rank")
              .collect()):
        got[r.anchor_id].append((r.negative_id, r.cosine))

    rows = emb.collect()
    ids = [r.vec_id for r in rows]
    labels = {r.vec_id: r.label for r in rows}
    V = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
         for r in rows}
    for a in ids:
        cands = []
        for b in ids:
            if labels[b] == labels[a]:
                continue
            c = float(V[a] @ V[b]
                      / (np.linalg.norm(V[a]) * np.linalg.norm(V[b])))
            cands.append((b, round(c, 6)))
        cands.sort(key=lambda t: (-t[1], t[0]))
        assert got[a] == cands[:K], a


def test_ann_hard_negatives_recall_vs_exact(spark, sf_dir):
    """The LSH-backed miner must recover most of the exact miner's
    top-k negatives (recall target), emit ONLY valid cross-label
    pairs with correct cosines, and never touch an all-pairs join."""
    emb = load_table(spark, sf_dir, "embeddings").limit(200).cache()
    K = 5
    exact = defaultdict(set)
    cosines = {}
    for r in mine_hard_negatives(emb, K).collect():
        exact[r.anchor_id].add(r.negative_id)
        cosines[(r.anchor_id, r.negative_id)] = r.cosine

    ann = mine_hard_negatives_ann(emb, K, n_tables=16).cache()
    labels = {r.vec_id: r.label for r in emb.collect()}
    got = defaultdict(set)
    for r in ann.collect():
        got[r.anchor_id].add(r.negative_id)
        assert labels[r.anchor_id] != labels[r.negative_id]
        # where ANN found an exact-top-k pair, the cosine is identical
        if (r.anchor_id, r.negative_id) in cosines:
            assert r.cosine == cosines[(r.anchor_id, r.negative_id)]

    hits = sum(len(exact[a] & got[a]) for a in exact)
    total = sum(len(exact[a]) for a in exact)
    assert hits / total >= 0.7, f"recall {hits}/{total}"

    plan = (mine_hard_negatives_ann(emb, K, n_tables=4)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_miner_identical_under_score_gather(spark, sf_dir,
                                                monkeypatch):
    """The miner scores through the family's gather rule: the
    gathered broadcast-matrix einsum by default at this size
    (id-pairs-only shuffle, the E101 contract), the per-pair vector
    joins past the ceiling — same candidates, same cosines, same
    ranking. Also asserts the default scoring stage is a MapInPandas
    map with no nested-loop or cartesian join."""
    from big_data_bowl___2023_spark.dedup import embedding

    emb = load_table(spark, sf_dir, "embeddings").limit(200).cache()
    K = 5

    def rows():
        return {(r.anchor_id, r.negative_id, r.cosine, r.rank)
                for r in mine_hard_negatives_ann(
                    emb, K, n_tables=16).collect()}

    a = rows()
    plan = (mine_hard_negatives_ann(emb, K, n_tables=4)
            ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    monkeypatch.setattr(embedding, "GATHER_CEILING_ROWS", 0)
    assert rows() == a and a


def test_build_contrastive_pairs(spark):
    """Planted geometry: two near-dup clusters (positives), a
    mid-similarity neighbor (the hard negative), an orthogonal vector
    (easy negative, ranked last)."""
    import math

    from big_data_bowl___2023_spark.similarity.ann import (
        build_contrastive_pairs,
    )

    c, s = math.cos(0.2), math.sin(0.2)
    rows = [
        (1, [1.0, 0.0, 0.0]), (2, [0.999, 0.001, 0.0]),  # cluster A
        (3, [0.0, 1.0, 0.0]), (4, [0.001, 0.999, 0.0]),  # cluster B
        (5, [c, s, 0.0]),          # near A but below the positive band
        (6, [0.0, 0.0, 1.0]),      # orthogonal to everything
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.anchor_id: r for r in
           build_contrastive_pairs(emb, 0.999, k_neg=2).collect()}

    # positives: exactly the two planted clusters, anchor = lower id
    assert set(out) == {1, 3}
    assert out[1].positive_id == 2 and out[3].positive_id == 4
    assert out[1].pos_cosine >= 0.999

    # anchor 1's negatives: hardest first = 5 (cos≈0.98), never the
    # positive (2) or itself; orthogonal 6 is not in the top-2
    negs1 = [(n.negative_id, n.cosine) for n in out[1].negatives]
    assert len(negs1) == 2
    assert negs1[0][0] == 5 and negs1[0][1] < 0.999
    assert 2 not in {n[0] for n in negs1}
    assert all(negs1[i][1] >= negs1[i + 1][1]
               for i in range(len(negs1) - 1))

    # anchor 3's negative set excludes its positive 4
    assert 4 not in {n.negative_id for n in out[3].negatives}


def test_contrastive_dense_cluster_still_gets_negatives(spark):
    """An anchor inside a large near-dup cluster must still receive
    k_neg negatives — the over-fetch scales with positive degree."""
    import math

    from big_data_bowl___2023_spark.similarity.ann import (
        build_contrastive_pairs,
    )

    # 8 mutual near-dups around e1 + 3 genuinely different vectors
    rows = [(i, [1.0, i * 1e-4, 0.0]) for i in range(1, 9)]
    rows += [(20, [0.6, 0.8, 0.0]), (21, [0.0, 1.0, 0.0]),
             (22, [0.0, 0.0, 1.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = build_contrastive_pairs(emb, 0.999, k_neg=3,
                                  neg_margin=0).collect()
    assert out
    for r in out:
        negs = {n.negative_id for n in r.negatives}
        assert len(negs) == 3                       # full quota
        assert negs <= {20, 21, 22}                 # never a positive
