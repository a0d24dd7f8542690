"""train_pq's one Lloyd trainer (the driver loop over the capped
md5-ordered sample, argmin by blocked GEMM): at SemDeDup-sized k
(= n/target_cluster, thousands at corpus scale) the assignment would
dominate the whole semantic-dedup operator, so it must stay a numpy
GEMM. Fast tier: pins the default trainer's codebooks against a
numpy restatement of the same Lloyd loop (tests/vector_reference.py)
— identical up to float-summation order (~1e-9)."""

from __future__ import annotations

from big_data_bowl___2023_spark.similarity.pq import train_pq
from big_data_bowl___2023_spark.sources.io import load_table
from vector_reference import lloyd, unit, vectors


def _close(a: list, b: list, tol: float = 1e-9) -> bool:
    return len(a) == len(b) and all(
        len(ca) == len(cb) and all(
            abs(x - y) < tol for u, w in zip(ca, cb) for x, y in zip(u, w))
        for ca, cb in zip(a, b))


def test_arrow_trainer_codebooks_identical_m1(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = train_pq(emb, dim=64, m=1, k=8, n_iters=4)
    assert _close(got, lloyd(unit(vectors(emb)), 64, 1, 8, 4))
    assert len(got[0]) == 8 and len(got[0][0]) == 64


def test_arrow_trainer_codebooks_identical_pq_shape(spark, sf_dir):
    """The PQ shape proper (m subspaces): the kernel must route each
    row to ITS subspace's centroid table."""
    emb = load_table(spark, sf_dir, "embeddings")
    got = train_pq(emb, dim=64, m=8, k=16, n_iters=3)
    assert _close(got, lloyd(unit(vectors(emb)), 64, 8, 16, 3))
    assert len(got) == 8 and len(got[0]) == 16
