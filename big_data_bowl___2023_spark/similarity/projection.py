"""Seeded random-projection (Johnson–Lindenstrauss) screens.

Achlioptas, "Database-friendly random projections" (JCSS 2003):
Rademacher ±1/sqrt(d') projection matrices satisfy the JL lemma —
pairwise distances survive within (1±ε) at d' = O(log n / ε²)
dimensions. The third compressed-screen family beside PQ/ADC
(`pq.py`) and scalar int8 (`quantize.py`): PQ shrinks bytes per
dim via codebooks, int8 shrinks bytes per value, projection shrinks
the DIMENSION COUNT — a 64→16 projection makes the corpus-wide
screen pass 4× smaller with no training and no codebook artifact
to version (the matrix regenerates from (dim, out_dim, seed)).

Scale shape: the projection matrix is derived, not stored — any
executor rebuilds it from the seed, so nothing ships but three
ints. Projection itself is map-side (one Arrow-batched GEMM per
batch), and the search composition
(`projected_topk_rerank`) reads the corpus-wide pass over projected
vectors only, then re-scores a per-query shortlist through the
shared ``pq.exact_rerank`` contract — identical tie-break/rounding
semantics as every other compressed screen in the engine.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ann import brute_force_topk
from .pq import exact_rerank


def projection_matrix(dim: int, out_dim: int, seed: int = 7) -> np.ndarray:
    """(dim, out_dim) Rademacher matrix: entries ±1/sqrt(out_dim)
    from a seeded PCG64 — deterministic across runs, machines and
    executors, so the matrix is pure derived state."""
    rng = np.random.default_rng(seed)
    signs = rng.integers(0, 2, size=(dim, out_dim)) * 2 - 1
    return signs / np.sqrt(out_dim)


def project_embeddings(df: DataFrame, out_dim: int, seed: int = 7,
                       vec_col: str = "embedding",
                       out_col: str = "projected",
                       dim: int = 64) -> DataFrame:
    """Add ``out_col``: the JL projection of ``vec_col``, one numpy
    GEMM per Arrow batch (map-side only). NULL vectors stay NULL; a
    wrong-length vector errors."""
    R = projection_matrix(dim, out_dim, seed)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def proj(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batches:
            arrs = vecs.tolist()
            present = [a for a in arrs if a is not None]
            if present:
                bad = {len(a) for a in present} - {dim}
                if bad:
                    raise ValueError(
                        f"projection expects dim={dim}, got "
                        f"length(s) {sorted(bad)}")
                P = np.stack([np.asarray(a, dtype=np.float64)
                              for a in present]) @ R
                rows = iter(P)
                out = [next(rows).tolist() if a is not None else None
                       for a in arrs]
            else:
                out = [None] * len(arrs)
            yield pd.Series(out, dtype=object)

    return df.withColumn(out_col, proj(F.col(vec_col)))


def projected_topk_rerank(corpus: DataFrame, queries: DataFrame,
                          k: int, out_dim: int = 16, seed: int = 7,
                          shortlist: int | None = None,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id", dim: int = 64
                          ) -> DataFrame:
    """JL shortlist → exact cosine re-rank:
    (query_id, neighbor_id, cosine, rank).

    The corpus-wide pass scores PROJECTED vectors (out_dim/dim of
    the bytes); full vectors are fetched for the per-query
    ``shortlist`` (default 5k) only, through the shared
    ``exact_rerank`` stage — the same screen→rerank contract as
    ``pq_topk_rerank`` and ``quantized_topk_rerank``, with the
    screen's recall controlled by (out_dim, shortlist)."""
    if shortlist is None:
        shortlist = 5 * k
    pc = project_embeddings(corpus, out_dim, seed, vec_col,
                            "projected", dim)
    pq_ = project_embeddings(queries, out_dim, seed, vec_col,
                             "projected", dim)
    cand = brute_force_topk(
        pc.select(F.col(id_col), F.col("projected")),
        pq_.select(F.col(id_col), F.col("projected")),
        shortlist, vec_col="projected", id_col=id_col,
    ).select("query_id", "neighbor_id")
    return exact_rerank(cand, corpus, queries, k, vec_col, id_col)
