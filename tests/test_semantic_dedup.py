"""SemDeDup composition (dedup/semantic.py): precision 1.0 against
the exact kernel, subset + recall semantics, keeper rules, the planted
near-duplicate flow, and the degenerate-corpus guard."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from big_data_bowl___2023_spark import dedup as dd
from big_data_bowl___2023_spark.dedup.semantic import (
    kmeans_assign,
    scaled_k,
    semantic_dedup,
    semantic_dup_pairs,
)
from big_data_bowl___2023_spark.sources.io import load_table

pytestmark = pytest.mark.slow

THRESH = 0.4


def test_scaled_k_holds_cluster_population():
    for n in (100, 2_000, 50_000, 1_000_000):
        k = scaled_k(n)
        assert k >= 4
        assert n / k <= 250 or k == 4
    assert scaled_k(1_000_000) == 4000


def test_kmeans_assign_partitions_corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = kmeans_assign(emb, k=8, n_iters=4)
    n = emb.count()
    assert a.count() == n
    clusters = [r.cluster for r in
                a.select("cluster").distinct().collect()]
    assert all(0 <= c < 8 for c in clusters)
    assert len(clusters) > 1
    # deterministic: same data, same assignment, any partitioning
    b = kmeans_assign(emb.repartition(13), k=8, n_iters=4)
    assert (a.select("id", "cluster").exceptAll(
        b.select("id", "cluster")).count() == 0)


def test_pairs_are_exact_subset_with_identical_cosines(spark, sf_dir):
    """Precision 1.0: every SemDeDup pair appears in the exact pair
    set with a bit-identical cosine (same verify kernel)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.vec_a, r.vec_b): r.cosine
             for r in dd.cosine_near_dup_pairs(emb, THRESH).collect()}
    sem = {(r.vec_a, r.vec_b): r.cosine
           for r in semantic_dup_pairs(emb, THRESH, k=8).collect()}
    assert set(sem) <= set(exact)
    for p, c in sem.items():
        assert c == exact[p]
    if exact:
        # k=8 over 500-2000 vectors keeps clusters coarse → recall
        # should be substantial on this fixture
        assert len(sem) / len(exact) >= 0.3


def test_semantic_dedup_drops_planted_clones(spark, sf_dir):
    """Planted exact clones of existing vectors must be dropped (they
    land in the same cluster by construction); min id is kept."""
    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    clones = (emb.limit(5)
              .withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000)))
    corpus = emb.unionByName(clones)
    kept = semantic_dedup(corpus, 0.999, k=8)
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    # every clone (higher id than its original) was dropped
    assert not any(i >= 10_000_000 for i in kept_ids)
    # nothing else disappeared unless it had a 0.999 twin in-corpus
    dup_pairs = semantic_dup_pairs(corpus, 0.999, k=8).count()
    assert len(kept_ids) == corpus.count() - dup_pairs or \
        len(kept_ids) >= corpus.count() - 2 * dup_pairs


def test_degenerate_corpus_star_guard(spark):
    """All-identical vectors collapse into ONE cluster no k can
    split; max_bucket keeps candidates at O(m) hub pairs and dedup
    still keeps exactly one representative."""
    m = 200
    clone = [0.3] * 8 + [-0.2] * 8
    rows = [(i, clone) for i in range(m)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dup_pairs(emb, 0.999, k=4, max_bucket=20).cache()
    assert pairs.count() == m - 1          # star, not m²/2
    kept = semantic_dedup(emb, 0.999, k=4, max_bucket=20)
    assert [r.vec_id for r in kept.collect()] == [0]


def test_pq_sampled_training_identity_below_cap(spark, sf_dir):
    """train_rows at or above the corpus size trains on every row: the
    codebooks equal the numpy Lloyd restatement over the whole corpus
    (to float-summation order, 1e-9), and re-running the capped path
    is bit-deterministic."""
    from big_data_bowl___2023_spark.similarity.pq import train_pq
    from vector_reference import lloyd, unit, vectors

    emb = load_table(spark, sf_dir, "embeddings")
    capped = train_pq(emb, dim=64, m=2, k=4, n_iters=2,
                      train_rows=10_000_000)
    want = lloyd(unit(vectors(emb)), 64, 2, 4, 2)
    assert len(capped) == len(want) == 2
    for mi in range(2):
        assert len(capped[mi]) == len(want[mi]) == 4
        for j in range(4):
            for x, y in zip(capped[mi][j], want[mi][j], strict=True):
                assert abs(x - y) < 1e-9
    again = train_pq(emb, dim=64, m=2, k=4, n_iters=2,
                     train_rows=10_000_000)
    assert capped == again


def test_pq_sampled_training_subsample_still_clusters(spark, sf_dir):
    """A real subsample (train_rows < n) must still produce usable
    codebooks: every vector lands in a cluster and no cluster holds
    the whole corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = kmeans_assign(emb, k=8, n_iters=2, dim=64)
    from big_data_bowl___2023_spark.similarity.pq import train_pq
    from big_data_bowl___2023_spark.dedup.semantic import (
        assign_with_centroids,
    )
    from big_data_bowl___2023_spark.dedup.embedding import _normalized
    cents = train_pq(emb, dim=64, m=1, k=8, n_iters=2,
                     train_rows=500)[0]
    sub = assign_with_centroids(_normalized(emb, "embedding", "vec_id"),
                                cents)
    sizes = [r["count"] for r in sub.groupBy("cluster").count().collect()]
    assert sum(sizes) == a.count()
    assert len(sizes) >= 2 and max(sizes) < sum(sizes)


def test_incremental_semantic_pairs_cross_only_and_exact(spark, sf_dir):
    """Incremental SemDeDup: the output is exactly the cross-side
    (new x corpus) same-cluster pairs with brute-force-exact cosines
    - corpus x corpus never paired, values oracle-identical."""
    import itertools

    import numpy as np

    from big_data_bowl___2023_spark.dedup.semantic import (
        assign_with_centroids,
        incremental_semantic_pairs,
    )
    from big_data_bowl___2023_spark.dedup.embedding import _normalized
    from big_data_bowl___2023_spark.similarity.pq import train_pq

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    # "new batch": remaining vectors, ids offset to a disjoint space,
    # plus one exact clone of a corpus vector (a guaranteed find)
    clone_src = corpus.orderBy("vec_id").limit(1)
    new = (emb.filter(F.col("vec_id") % 4 == 0)
           .withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
           .unionByName(clone_src.withColumn(
               "vec_id", F.col("vec_id") + F.lit(20_000_000))))

    n_corpus = corpus.count()
    got = {(r.vec_new, r.vec_corpus): r.cosine
           for r in incremental_semantic_pairs(
               new, corpus, THRESH, dim=64,
               n_corpus=n_corpus).collect()}

    # oracle: same corpus-trained centroids, brute-force cosines
    from big_data_bowl___2023_spark.dedup.semantic import scaled_k
    k = scaled_k(n_corpus)
    cents = train_pq(corpus, dim=64, m=1, k=k, n_iters=4)[0]
    a_new = {r.id: (r.cluster, np.array(r.u)) for r in
             assign_with_centroids(
                 _normalized(new, "embedding", "vec_id"),
                 cents).collect()}
    a_cor = {r.id: (r.cluster, np.array(r.u)) for r in
             assign_with_centroids(
                 _normalized(corpus, "embedding", "vec_id"),
                 cents).collect()}
    ref = {}
    for (ni, (nc, nu)), (ci, (cc, cu)) in itertools.product(
            a_new.items(), a_cor.items()):
        if nc == cc and ni != ci:
            cos = float(np.dot(nu, cu))
            if round(cos, 6) >= THRESH:
                ref[(ni, ci)] = round(cos, 6)
    assert set(got) == set(ref)
    for p, c in got.items():
        assert abs(c - ref[p]) <= 1e-6
    # the planted clone is found with cosine 1.0 against its source
    clone_id = clone_src.first().vec_id
    assert got[(clone_id + 20_000_000, clone_id)] == 1.0
    # cross-only by construction: every left id is a new-batch id
    assert all(a >= 10_000_000 for a, _ in got)


# test_verify_exact_strategy_invariant and
# test_semantic_verify_never_pins_raw_candidates moved to the
# FAST tier (tests/test_plan_contracts_semantic.py, round 8) so
# the default run guards the broadcast strategy.


def test_semantic_pairs_partitioning_invariant(spark, sf_dir):
    """The default path's output must not depend on the input's
    physical layout — the reason semantic_dup_pairs does NOT forward
    the corpus-count hint to train_pq (skipping the cap's canonical
    TakeOrdered+repartition would make Lloyd float sums, and hence
    near-threshold pairs, layout-dependent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = {(r.vec_a, r.vec_b, r.cosine) for r in
         semantic_dup_pairs(emb, THRESH, dim=64).collect()}
    b = {(r.vec_a, r.vec_b, r.cosine) for r in
         semantic_dup_pairs(emb.repartition(13), THRESH,
                            dim=64).collect()}
    assert a == b
