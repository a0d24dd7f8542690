"""The einsum exact-verify kernel (``_verify_exact``, round 9) and the
candidate screens around it. Fast tier: these pin the pair set AND
the 6-dp cosines against a numpy brute-force reference
(tests/vector_reference.py), the screen modes against each other,
and plan shape — not recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.dedup.embedding import (
    _normalized,
    _np_prefilter,
    _verify_exact,
    cosine_near_dup_pairs,
    cosine_near_dup_pairs_lsh,
    lsh_candidate_pairs,
    scaled_n_planes,
)
from big_data_bowl___2023_spark.dedup.semantic import (
    incremental_semantic_pairs,
    scaled_k,
    semantic_dup_pairs,
)
from big_data_bowl___2023_spark.plans.explain import plan_report
from big_data_bowl___2023_spark.similarity.pq import train_pq
from big_data_bowl___2023_spark.sources.io import load_table
from vector_reference import assign, near_dup_pairs, round6, unit, vectors

THRESH = 0.4


def _pairs(df):
    return {(r.vec_a, r.vec_b, r.cosine) for r in df.collect()}


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    v = _normalized(emb, "embedding", "vec_id").localCheckpoint()
    n = v.count()
    cand = lsh_candidate_pairs(v, 64, 16, scaled_n_planes(n, 32))
    surv = _np_prefilter(v, cand, THRESH).localCheckpoint()
    assert surv.count() > 0
    return emb, v, surv


def _semantic_reference(corpus_df):
    """(unit vectors, codebook, numpy assignment) for the codebook
    the semantic entry points train on this corpus (driver tier)."""
    n = corpus_df.count()
    cents = train_pq(corpus_df, dim=64, m=1, k=scaled_k(n), n_iters=4,
                     lloyd="driver")[0]
    units = unit(vectors(corpus_df))
    return units, cents, assign(units, cents)


def test_arrow_verify_matches_numpy_on_real_embeddings(corpus):
    emb, v, surv = corpus
    got = _pairs(_verify_exact(v, surv, THRESH))
    u = vectors(v, "id", "u")
    want = set()
    for r in surv.collect():
        d = float(u[r.vec_a] @ u[r.vec_b])
        if d >= THRESH:
            want.add((r.vec_a, r.vec_b, round6(d)))
    # identity includes the 6-dp cosine VALUES, not just the pair set
    assert got == want and got


def test_arrow_verify_plan_shape(corpus):
    """Scoring adds no join tree of its own: the same Exchanges as the
    bare candidate→vector joins, no BNL / cartesian, scoring in a
    MapInPandas stage."""
    emb, v, surv = corpus
    ua = v.select(F.col("id").alias("vec_a"), F.col("u").alias("ua"))
    ub = v.select(F.col("id").alias("vec_b"), F.col("u").alias("ub"))
    bare = plan_report(ua.join(F.broadcast(surv), "vec_a")
                       .join(ub, "vec_b"))
    df = _verify_exact(v, surv, THRESH, broadcast_candidates=True)
    rep = plan_report(df)
    assert rep["n_exchanges"] <= bare["n_exchanges"]
    assert rep["n_bnl_joins"] == 0
    assert not rep["has_cartesian"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_lsh_near_dup_identical_under_arrow_verify(spark, sf_dir):
    """Precision 1.0: the LSH output is exactly the numpy-verified
    subset of its own candidate pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    got = _pairs(cosine_near_dup_pairs_lsh(emb, THRESH))
    want = near_dup_pairs(unit(vectors(emb)), THRESH)
    assert got and got <= want
    v = _normalized(emb, "embedding", "vec_id")
    cand = {(r.vec_a, r.vec_b) for r in lsh_candidate_pairs(
        v, 64, 16, scaled_n_planes(v.count(), 32)).collect()}
    assert got == {p for p in want if p[:2] in cand}


def test_exact_near_dup_identical_under_arrow_verify(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = _pairs(cosine_near_dup_pairs(emb, THRESH))
    assert got == near_dup_pairs(unit(vectors(emb)), THRESH) and got


def test_semantic_pairs_identical_under_full_arrow(spark, sf_dir):
    """The end-to-end semantic chain (driver Lloyd tier, GEMM
    assignment, einsum screen + verify) == numpy assignment and
    brute-force within-cluster pairs under the same codebook."""
    emb = load_table(spark, sf_dir, "embeddings")
    units, _, cluster = _semantic_reference(emb)
    got = _pairs(semantic_dup_pairs(emb, THRESH, dim=64))
    assert got == near_dup_pairs(units, THRESH, cluster) and got


def test_incremental_semantic_identical_under_full_arrow(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 5 == 0) \
             .withColumn("vec_id", F.col("vec_id") + 10_000_000)
    old = emb.filter(F.col("vec_id") % 5 != 0)

    def run(**kw):
        return {(r.vec_new, r.vec_corpus, r.cosine) for r in
                incremental_semantic_pairs(new, old, THRESH,
                                           dim=64, **kw).collect()}

    a = run()
    b = run(prefilter_broadcast=True)
    c = run(prefilter_broadcast=False)
    assert a == b == c and a
    units, cents, c_old = _semantic_reference(old)
    u_new = unit(vectors(new))
    c_new = assign(u_new, cents)
    want = set()
    for i, ui in u_new.items():
        for j, uj in units.items():
            d = float(ui @ uj)
            if c_new[i] == c_old[j] and d >= THRESH:
                want.add((i, j, round6(d)))
    assert a == want


def test_prefilter_broadcast_matches_join_mode(corpus):
    """The gathered-matrix candidate screen (id-pairs-only shuffle)
    returns exactly the join-mode survivor set — the round-9 fix for
    the per-pair vector payload that overran spill space at the 256×
    stress scale."""
    emb, v, _ = corpus
    n = v.count()
    cand = lsh_candidate_pairs(v, 64, 16, scaled_n_planes(n, 32))
    join_mode = {(r.vec_a, r.vec_b) for r in
                 _np_prefilter(v, cand, THRESH).collect()}
    gather = {(r.vec_a, r.vec_b) for r in
              _np_prefilter(v, cand, THRESH,
                            broadcast_vectors=True).collect()}
    assert join_mode == gather and join_mode


def test_prefilter_broadcast_drops_unknown_ids(spark):
    v = spark.createDataFrame([(1, [1.0, 0.0]), (2, [1.0, 0.0])],
                              "id long, u array<double>")
    cand = spark.createDataFrame([(1, 2), (1, 99)],
                                 "vec_a long, vec_b long")
    got = {(r.vec_a, r.vec_b) for r in
           _np_prefilter(v, cand, 0.5,
                         broadcast_vectors=True).collect()}
    assert got == {(1, 2)}       # the unknown-id pair is dropped


def test_lsh_identical_under_prefilter_broadcast(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = _pairs(cosine_near_dup_pairs_lsh(emb, THRESH))
    b = _pairs(cosine_near_dup_pairs_lsh(emb, THRESH,
                                         prefilter_broadcast=True))
    assert a == b and a


def test_semantic_identical_under_prefilter_broadcast(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = _pairs(semantic_dup_pairs(emb, THRESH, dim=64))
    b = _pairs(semantic_dup_pairs(emb, THRESH, dim=64,
                                  prefilter_broadcast=True))
    assert a == b and a


def test_prefilter_broadcast_plan_has_no_vector_join(corpus):
    """The gather mode's candidate screen must add a pure map stage
    over the id pairs — no join of its own (hence no per-pair vector
    payload in any exchange). Candidates come from a plain table so
    the assertion sees only the prefilter's contribution (the LSH
    generator legitimately contains its band self-join)."""
    emb, v, _ = corpus
    spark = emb.sparkSession
    cand = spark.createDataFrame([(1, 2), (3, 4)],
                                 "vec_a long, vec_b long")
    plan = _np_prefilter(v, cand, THRESH, broadcast_vectors=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Join" not in plan and "Exchange" not in plan


def test_gather_rejects_non_integer_ids(spark):
    """ADVICE r9: the gather kernels resolve ids through int64
    searchsorted — string ids crashed opaquely and float ids silently
    truncated (1.2 and 1.7 collide → wrong vectors). The guard turns
    both into a loud TypeError naming the contract."""
    from big_data_bowl___2023_spark.functions.vectors import (
        gather_unit_matrix,
    )

    strs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "id string, u array<double>")
    with pytest.raises(TypeError, match="integer ids"):
        gather_unit_matrix(strs)
    floats = spark.createDataFrame(
        [(1.2, [1.0, 0.0]), (1.7, [0.0, 1.0])],
        "id double, u array<double>")
    with pytest.raises(TypeError, match="integer ids"):
        gather_unit_matrix(floats)
    # the contract path still works: int ids gather fine
    ints = spark.createDataFrame(
        [(2, [1.0, 0.0]), (1, [0.0, 1.0])],
        "id long, u array<double>")
    ids, perm, M = gather_unit_matrix(ints)
    assert list(ids) == [1, 2] and M.shape == (2, 2)


def test_prefilter_auto_picks_mode_by_counted_size(corpus):
    """Round-10 (#1): the candidate screen's "auto" default buys the
    gather with a counted corpus size — gather (no join of its own)
    below the ceiling, the id-keyed join past it — and the survivor
    set is identical either way. Plain candidate tables so the plan
    assertions see only the prefilter's contribution."""
    emb, v, _ = corpus
    spark = emb.sparkSession
    n = v.count()
    plain = spark.createDataFrame([(1, 2), (3, 4)],
                                  "vec_a long, vec_b long")
    below = _np_prefilter(v, plain, THRESH, broadcast_vectors="auto")
    p_below = below._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in p_below and "Join" not in p_below
    above = _np_prefilter(v, plain, THRESH, broadcast_vectors="auto",
                          gather_ceiling=n - 1)
    p_above = above._jdf.queryExecution().executedPlan().toString()
    assert "Join" in p_above
    # survivor-set identity across the auto cutover, on real
    # LSH candidates
    cand = lsh_candidate_pairs(v, 64, 16, scaled_n_planes(n, 32))
    want = {(r.vec_a, r.vec_b) for r in
            _np_prefilter(v, cand, THRESH).collect()}
    got_g = {(r.vec_a, r.vec_b) for r in
             _np_prefilter(v, cand, THRESH, broadcast_vectors="auto",
                           n_vectors=n).collect()}
    got_j = {(r.vec_a, r.vec_b) for r in
             _np_prefilter(v, cand, THRESH, broadcast_vectors="auto",
                           gather_ceiling=n - 1).collect()}
    assert got_g == want and got_j == want and want


def test_prefilter_auto_falls_back_for_non_integer_ids(spark):
    """"auto" must not route non-int64 ids into the gather kernel
    (whose searchsorted resolve is int64-only): the fallback is the
    join screen, which keeps id type the caller's contract."""
    v = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "id string, u array<double>")
    cand = spark.createDataFrame([("a", "b")],
                                 "vec_a string, vec_b string")
    plan = _np_prefilter(v, cand, 0.5, broadcast_vectors="auto") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan


def test_lsh_auto_default_equals_forced_modes(spark, sf_dir):
    """The entry-point default is now "auto": its pairs equal both
    forced modes (and the default plan is the gather screen at this
    corpus size — the 256×-fatal join screen is unreachable by
    default below the ceiling)."""
    emb = load_table(spark, sf_dir, "embeddings")
    auto = _pairs(cosine_near_dup_pairs_lsh(emb, THRESH))
    join = _pairs(cosine_near_dup_pairs_lsh(emb, THRESH,
                                            prefilter_broadcast=False))
    gather = _pairs(cosine_near_dup_pairs_lsh(emb, THRESH,
                                              prefilter_broadcast=True))
    assert auto == join == gather and auto
