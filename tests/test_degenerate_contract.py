"""The ONE cross-family degenerate-vector contract (VERDICT r9 #5).

Two behaviors exist, both deliberate, documented since round 9 in
similarity/index.py — this test pins WHICH entry point does WHICH, so
a new search surface must join one family knowingly instead of
diverging a third way:

* the guarded-cosine family (ann.py `_prep` + `_score_pairs`, and the
  persistent-index search built on them) RANKS a degenerate query:
  k rows at cosine 0.0 (the scoring expression maps NaN/zero-norm to
  0.0 — no corpus-side filter fold, the measured +23% `_prep` note);
* the normalize-first family (everything flowing through a
  `_normalized` projection or the shared `exact_rerank` stage: ADC,
  int8, JL screens and their reranks) FILTERS a degenerate query —
  zero output rows, because cosine is undefined for it and the
  normalize transform would otherwise need a NaN guard per row.

`brp_lsh_topk` is deliberately absent: it ranks by EUCLIDEAN
distance, for which a zero vector is a perfectly defined point — the
degenerate-vector question is cosine-specific.

Degenerate means zero-norm or NaN-component here; NULL vectors are a
separate write-time contract (the index refuses them at _assign).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.similarity import (
    ann_index_search,
    ann_index_search_quantized,
    brute_force_topk,
    build_ann_index,
    embedding_ranges,
    encode_pq,
    ivf_topk,
    pq_topk,
    pq_topk_rerank,
    projected_topk_rerank,
    quantize_embeddings,
    quantized_topk_rerank,
    train_pq,
)
from big_data_bowl___2023_spark.sources.io import load_table

K = 3
_DEGENERATES = {
    "zero": [0.0] * 64,
    "nan": [float("nan")] * 64,
    "partial_nan": [1.0] + [float("nan")] + [0.0] * 62,
}


@pytest.fixture(scope="module")
def world(spark, sf_dir, tmp_path_factory):
    """One corpus + every search family's artifacts, built once."""
    corpus = (load_table(spark, sf_dir, "embeddings")
              .filter(F.col("vec_id") < 40).cache())
    base = tmp_path_factory.mktemp("degen")
    idx = str(base / "idx")
    qidx = str(base / "qidx")
    build_ann_index(corpus, idx)
    build_ann_index(corpus, qidx, quantize=True)
    cents = train_pq(corpus, m=1, k=4, dim=64)
    codes = encode_pq(corpus, cents).cache()
    ranges = embedding_ranges(corpus, dim=64)
    int8 = quantize_embeddings(corpus, ranges).cache()
    return dict(corpus=corpus, idx=idx, qidx=qidx, cents=cents,
                codes=codes, ranges=ranges, int8=int8)


def _queries(spark, kind):
    return spark.createDataFrame(
        [(9001, _DEGENERATES[kind])],
        "vec_id long, embedding array<double>")


def _normal_query(w):
    vec = w["corpus"].orderBy("vec_id").first()["embedding"]
    return w["corpus"].sparkSession.createDataFrame(
        [(9000, list(vec))], "vec_id long, embedding array<double>")


# name → (runner, family); family ∈ {"ranks_zero", "filters"}
_ENTRY_POINTS = {
    "brute_force_topk": (
        lambda spark, w, q: brute_force_topk(w["corpus"], q, K),
        "ranks_zero"),
    "ivf_topk": (
        lambda spark, w, q: ivf_topk(w["corpus"], q, K),
        "ranks_zero"),
    "ann_index_search": (
        lambda spark, w, q: ann_index_search(spark, w["idx"], q, K),
        "ranks_zero"),
    "pq_topk": (
        lambda spark, w, q: pq_topk(w["codes"], q, w["cents"], K),
        "filters"),
    "pq_topk_rerank": (
        lambda spark, w, q: pq_topk_rerank(w["codes"], w["corpus"], q,
                                           w["cents"], K),
        "filters"),
    "quantized_topk_rerank": (
        lambda spark, w, q: quantized_topk_rerank(
            w["int8"], w["corpus"], q, w["ranges"], K),
        "filters"),
    "projected_topk_rerank": (
        lambda spark, w, q: projected_topk_rerank(w["corpus"], q, K,
                                                  out_dim=16),
        "filters"),
    "ann_index_search_quantized": (
        lambda spark, w, q: ann_index_search_quantized(
            spark, w["qidx"], q, K),
        "filters"),
}


@pytest.mark.parametrize("name", sorted(_ENTRY_POINTS))
@pytest.mark.parametrize("kind", sorted(_DEGENERATES))
def test_degenerate_query_contract(spark, world, name, kind):
    runner, family = _ENTRY_POINTS[name]
    rows = runner(spark, world, _queries(spark, kind)).collect()
    if family == "filters":
        assert rows == [], (
            f"{name} must FILTER degenerate queries (exact_rerank/"
            f"_normalized family) but returned {len(rows)} rows")
    else:
        assert len(rows) == K, (
            f"{name} must RANK a degenerate query at 0.0 "
            f"(guarded-cosine family) but returned {len(rows)} rows")
        assert all(r["cosine"] == 0.0 for r in rows)
        assert [r["rank"] for r in
                sorted(rows, key=lambda r: r["rank"])] \
            == list(range(1, K + 1))


@pytest.mark.parametrize("name", sorted(_ENTRY_POINTS))
def test_normal_query_returns_k(spark, world, name):
    """The zero-row assertions above prove degeneracy handling, not a
    broken fixture: the same entry points return k ranked rows for a
    well-formed query."""
    runner, _ = _ENTRY_POINTS[name]
    rows = runner(spark, world, _normal_query(world)).collect()
    assert len(rows) == K
    assert sorted(r["rank"] for r in rows) == list(range(1, K + 1))
