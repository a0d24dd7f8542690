"""E27 — product quantization: code contract, encode determinism,
ADC recall vs exact search, and exactness of the re-rank stage.

Recall bounds are set well under the observed values (ADC-only ≈ 0.35,
re-ranked ≈ 0.74 at m=8, k=32 on sf0.001) so float jitter in training
can't flake the test, while still proving real signal (random = 0.02).
"""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.similarity import (
    brute_force_topk,
    encode_pq,
    pq_topk,
    pq_topk_rerank,
    train_pq,
)
from big_data_bowl___2023_spark.sources.io import load_table

pytestmark = pytest.mark.slow

M, KCENT, TOPK = 8, 32, 10


@pytest.fixture(scope="module")
def pq_setup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 10)
    cents = train_pq(emb, m=M, k=KCENT, n_iters=6)
    codes = encode_pq(emb, cents).cache()
    exact = defaultdict(set)
    for r in brute_force_topk(emb, queries, TOPK).collect():
        exact[r.query_id].add(r.neighbor_id)
    return emb, queries, cents, codes, exact


def test_codes_contract_and_determinism(pq_setup):
    emb, _, cents, codes, _ = pq_setup
    assert len(cents) == M and all(len(c) == KCENT for c in cents)
    stats = codes.agg(
        F.min(F.size("codes")), F.max(F.size("codes")),
        F.min(F.array_min("codes")), F.max(F.array_max("codes")),
        F.count(F.lit(1))).collect()[0]
    assert stats[0] == M and stats[1] == M
    assert 0 <= stats[2] and stats[3] < KCENT
    assert stats[4] == emb.count()
    # encoding is a pure expression of (vector, centroids): re-running
    # must give byte-identical codes
    again = encode_pq(emb, cents)
    assert codes.exceptAll(again).count() == 0
    assert again.exceptAll(codes).count() == 0


def test_adc_recall_beats_random(pq_setup):
    _, queries, cents, codes, exact = pq_setup
    got = defaultdict(set)
    for r in pq_topk(codes, queries, cents, TOPK).collect():
        got[r.query_id].add(r.neighbor_id)
    recalls = [len(got[q] & exact[q]) / TOPK for q in exact]
    assert sum(recalls) / len(recalls) >= 0.2  # random would be 0.02


def test_rerank_recall_and_exact_scores(pq_setup):
    emb, queries, cents, codes, exact = pq_setup
    rr = pq_topk_rerank(codes, emb, queries, cents, TOPK,
                        shortlist=50).collect()
    got = defaultdict(set)
    for r in rr:
        got[r.query_id].add(r.neighbor_id)
    recalls = [len(got[q] & exact[q]) / TOPK for q in exact]
    assert sum(recalls) / len(recalls) >= 0.55

    # re-ranked cosines are EXACT: every (query, neighbor) pair that
    # also appears in brute force carries the identical rounded cosine
    bf = {(r.query_id, r.neighbor_id): r.cosine
          for r in brute_force_topk(emb, queries, TOPK).collect()}
    overlap = [(r, bf[(r.query_id, r.neighbor_id)]) for r in rr
               if (r.query_id, r.neighbor_id) in bf]
    assert overlap
    for r, expected in overlap:
        assert r.cosine == expected


def test_codebook_artifact_round_trip(spark, sf_dir, tmp_path):
    """save/load through the Hadoop FS API round-trips codebooks
    exactly, and incremental_semantic_pairs over a loaded artifact
    matches the retrain path bit-for-bit (the frozen-centroid
    contract for continuous ingestion)."""
    from pyspark.sql import functions as F

    from big_data_bowl___2023_spark.dedup.semantic import (
        incremental_semantic_pairs,
        scaled_k,
    )
    from big_data_bowl___2023_spark.similarity.pq import (
        load_codebooks,
        save_codebooks,
        train_pq,
    )
    from big_data_bowl___2023_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    new = (emb.filter(F.col("vec_id") % 3 == 0)
           .withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000)))
    n_corpus = corpus.count()
    k = scaled_k(n_corpus)
    cents = train_pq(corpus, dim=64, m=1, k=k, n_iters=2)

    path = str(tmp_path / "codebook.json")
    save_codebooks(spark, cents, path)
    loaded = load_codebooks(spark, path)
    assert loaded == cents

    fresh = {(r.vec_new, r.vec_corpus, r.cosine) for r in
             incremental_semantic_pairs(
                 new, corpus, 0.4, n_iters=2, dim=64,
                 n_corpus=n_corpus).collect()}
    frozen = {(r.vec_new, r.vec_corpus, r.cosine) for r in
              incremental_semantic_pairs(
                  new, corpus, 0.4, cents=loaded[0]).collect()}
    assert fresh == frozen
