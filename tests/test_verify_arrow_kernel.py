"""The einsum exact-verify kernel (``_verify_exact``, round 9) and the
candidate screens around it. Fast tier: these pin the pair set AND
the 6-dp cosines against a numpy brute-force reference
(tests/vector_reference.py), the gather and join screens against each
other, and plan shape — not recall.

The screen path is chosen from the data alone
(``embedding._gather_broadcast``): integer ids within
``GATHER_CEILING_ROWS`` gather, so the test corpora take the gather
screen by default; the join screen is reached by lowering the ceiling
below the corpus size (``_join_screen``) or with string ids."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.dedup import embedding
from big_data_bowl___2023_spark.dedup.embedding import (
    _gather_broadcast,
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


def _ids(df):
    return {(r.vec_a, r.vec_b) for r in df.collect()}


def _join_screen(monkeypatch):
    """Put every corpus past the gather ceiling: the rule then picks
    the id-keyed join screen."""
    monkeypatch.setattr(embedding, "GATHER_CEILING_ROWS", 0)


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    v = _normalized(emb, "embedding", "vec_id").localCheckpoint()
    n = v.count()
    cand = lsh_candidate_pairs(v, 64, 16, scaled_n_planes(n, 32))
    surv = _np_prefilter(v, cand, THRESH,
                         _gather_broadcast(v, n)).localCheckpoint()
    assert surv.count() > 0
    return emb, v, surv


def _semantic_reference(corpus_df):
    """(unit vectors, codebook, numpy assignment) for the codebook
    the semantic entry points train on this corpus."""
    n = corpus_df.count()
    cents = train_pq(corpus_df, dim=64, m=1, k=scaled_k(n), n_iters=4)[0]
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
    df = _verify_exact(v, surv, THRESH)
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
    """The end-to-end semantic chain (driver Lloyd trainer, GEMM
    assignment, einsum screen + verify) == numpy assignment and
    brute-force within-cluster pairs under the same codebook."""
    emb = load_table(spark, sf_dir, "embeddings")
    units, _, cluster = _semantic_reference(emb)
    got = _pairs(semantic_dup_pairs(emb, THRESH, dim=64))
    assert got == near_dup_pairs(units, THRESH, cluster) and got


def test_incremental_semantic_identical_under_full_arrow(spark, sf_dir,
                                                        monkeypatch):
    """Both screens (gather by default, join past the ceiling) emit
    the numpy within-cluster cross pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 5 == 0) \
             .withColumn("vec_id", F.col("vec_id") + 10_000_000)
    old = emb.filter(F.col("vec_id") % 5 != 0)

    def run():
        return {(r.vec_new, r.vec_corpus, r.cosine) for r in
                incremental_semantic_pairs(new, old, THRESH,
                                           dim=64).collect()}

    a = run()
    _join_screen(monkeypatch)
    assert run() == a and a
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


def test_prefilter_broadcast_drops_unknown_ids(spark, monkeypatch):
    """Candidate pairs naming an id outside the vector table are
    dropped on both screens: masked out by the gather, joined away by
    the join."""
    v = spark.createDataFrame([(1, [1.0, 0.0]), (2, [1.0, 0.0])],
                              "id long, u array<double>")
    cand = spark.createDataFrame([(1, 2), (1, 99)],
                                 "vec_a long, vec_b long")
    gather = _gather_broadcast(v)
    assert gather is not None
    assert _ids(_np_prefilter(v, cand, 0.5, gather)) == {(1, 2)}
    _join_screen(monkeypatch)
    assert _gather_broadcast(v) is None
    assert _ids(_np_prefilter(v, cand, 0.5, None)) == {(1, 2)}


def test_lsh_identical_under_prefilter_broadcast(spark, sf_dir,
                                                 monkeypatch):
    """The LSH entry point emits the same pairs on the gather screen
    (its default at this size) and on the join screen."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = _pairs(cosine_near_dup_pairs_lsh(emb, THRESH))
    _join_screen(monkeypatch)
    assert _pairs(cosine_near_dup_pairs_lsh(emb, THRESH)) == a and a


def test_semantic_identical_under_prefilter_broadcast(spark, sf_dir,
                                                      monkeypatch):
    emb = load_table(spark, sf_dir, "embeddings")
    a = _pairs(semantic_dup_pairs(emb, THRESH, dim=64))
    _join_screen(monkeypatch)
    assert _pairs(semantic_dup_pairs(emb, THRESH, dim=64)) == a and a


def test_prefilter_broadcast_plan_has_no_vector_join(corpus):
    """The gather screen adds a pure map stage over the id pairs — no
    join of its own (hence no per-pair vector payload in any
    exchange). Candidates come from a plain table so the assertion
    sees only the prefilter's contribution (the LSH generator
    legitimately contains its band self-join)."""
    emb, v, _ = corpus
    spark = emb.sparkSession
    cand = spark.createDataFrame([(1, 2), (3, 4)],
                                 "vec_a long, vec_b long")
    plan = _np_prefilter(v, cand, THRESH, _gather_broadcast(v)) \
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


def test_prefilter_auto_picks_mode_by_counted_size(corpus, monkeypatch):
    """The gather rule reads a counted corpus size against
    ``GATHER_CEILING_ROWS`` at call time: gather (no join of its own)
    at or below the ceiling, the id-keyed join past it — and the
    survivor set on real LSH candidates is identical either way."""
    emb, v, _ = corpus
    spark = emb.sparkSession
    n = v.count()
    plain = spark.createDataFrame([(1, 2), (3, 4)],
                                  "vec_a long, vec_b long")
    cand = lsh_candidate_pairs(v, 64, 16, scaled_n_planes(n, 32))
    monkeypatch.setattr(embedding, "GATHER_CEILING_ROWS", n)
    below = _gather_broadcast(v)
    assert below is not None
    p_below = _np_prefilter(v, plain, THRESH, below) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in p_below and "Join" not in p_below
    gathered = _ids(_np_prefilter(v, cand, THRESH, below))
    monkeypatch.setattr(embedding, "GATHER_CEILING_ROWS", n - 1)
    above = _gather_broadcast(v)
    assert above is None
    p_above = _np_prefilter(v, plain, THRESH, above) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" in p_above
    assert _ids(_np_prefilter(v, cand, THRESH, above)) == gathered
    assert gathered


def test_prefilter_auto_falls_back_for_non_integer_ids(spark):
    """The rule must not route non-int64 ids into the gather kernel
    (whose searchsorted resolve is int64-only): string ids take the
    join screen, which keeps id type the caller's contract, and still
    screen correctly."""
    v = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0]), ("c", [0.0, 1.0])],
        "id string, u array<double>")
    cand = spark.createDataFrame([("a", "b"), ("a", "c")],
                                 "vec_a string, vec_b string")
    assert _gather_broadcast(v) is None
    pre = _np_prefilter(v, cand, 0.5, None)
    plan = pre._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan
    assert _ids(pre) == {("a", "b")}


def test_lsh_pairs_take_string_ids(spark):
    """The LSH signature rows keep the caller's id type: string ids
    reach the join screen (they cannot gather) and return the same
    pairs and cosines as the integer-id run of the same vectors."""
    vecs = [[1.0, 0.0, 0.0, 0.0], [0.99, 0.1, 0.0, 0.0],
            [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.98, 0.2]]

    def run(ids, id_type):
        df = spark.createDataFrame(
            list(zip(ids, vecs)),
            f"vec_id {id_type}, embedding array<double>")
        return _pairs(cosine_near_dup_pairs_lsh(
            df, 0.9, dim=4, n_tables=4, n_planes=2))

    by_str = run(["a", "b", "c", "d"], "string")
    by_int = run([1, 2, 3, 4], "long")
    assert {(a, b) for a, b, _ in by_str} == {("a", "b"), ("c", "d")}
    name = {1: "a", 2: "b", 3: "c", 4: "d"}
    assert by_str == {(name[a], name[b], c) for a, b, c in by_int}
