"""Numpy brute-force references for the engine's vector kernels.

Each helper recomputes a result from the raw vectors on the driver,
in plain numpy and outside Spark, so a kernel test compares against
arithmetic the kernel does not share. Cosines are rounded the way
Spark's ``round`` rounds a double: HALF_UP over the double's decimal
value (Scala ``BigDecimal(d)``), the same rule as DuckDB's ``ROUND``.
"""

from __future__ import annotations

import hashlib
import itertools
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def round6(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"),
                                                  ROUND_HALF_UP))


def vectors(df, id_col: str = "vec_id",
            vec_col: str = "embedding") -> dict:
    """{id: float64 vector} collected from ``df``."""
    return {r[id_col]: np.asarray(r[vec_col], dtype=np.float64)
            for r in df.select(id_col, vec_col).collect()}


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    """Cosine with the engine's degenerate policy: 0.0 for a zero
    norm or a non-finite result."""
    with np.errstate(invalid="ignore", over="ignore"):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        c = float(np.dot(a, b) / (na * nb)) if na > 0 and nb > 0 else 0.0
    return c if math.isfinite(c) else 0.0


def topk(corpus: dict, queries: dict, k: int,
         exclude_self: bool = True) -> list:
    """Sorted (query_id, neighbor_id, cosine, rank) rows of the exact
    top-k: cosine descending, neighbor id ascending on ties."""
    out = []
    for q, qv in queries.items():
        scored = sorted((-round6(cosine(qv, cv)), n)
                        for n, cv in corpus.items()
                        if not (exclude_self and n == q))
        out += [(q, n, -c, r) for r, (c, n) in enumerate(scored[:k], 1)]
    return sorted(out)


def unit(vecs: dict) -> dict:
    """L2-normalized vectors; degenerate ones dropped (the pair
    paths' ``_normalized`` policy)."""
    out = {}
    for i, v in vecs.items():
        n = np.linalg.norm(v)
        if np.isfinite(n) and n > 0:
            out[i] = v / n
    return out


def near_dup_pairs(units: dict, threshold: float,
                   cluster: dict | None = None) -> set:
    """{(a, b, cosine)}: every a < b pair of unit vectors with dot ≥
    ``threshold`` — restricted to same-cluster pairs when ``cluster``
    maps id → cluster."""
    out = set()
    for a, b in itertools.combinations(sorted(units), 2):
        if cluster is not None and cluster[a] != cluster[b]:
            continue
        d = float(np.dot(units[a], units[b]))
        if d >= threshold:
            out.add((a, b, round6(d)))
    return out


def assign(units: dict, cents: list) -> dict:
    """{id: nearest centroid index} by squared L2, lowest index on
    ties."""
    C = np.asarray(cents, dtype=np.float64)
    return {i: int(np.argmin(((C - u) ** 2).sum(axis=1)))
            for i, u in units.items()}


def lloyd(units: dict, dim: int, m: int, k: int, n_iters: int) -> list:
    """train_pq's k-means restated: seeds are the k rows with the
    smallest md5(id), each round assigns every subvector to its
    nearest centroid and moves each non-empty centroid to its
    cluster mean, stopping at an exact fixpoint."""
    ids = sorted(units, key=lambda i: hashlib.md5(str(i).encode())
                 .hexdigest())
    U = np.stack([units[i] for i in ids])
    sub = dim // m
    S = [U[:, mi * sub:(mi + 1) * sub] for mi in range(m)]
    cents = [S[mi][:k].copy() for mi in range(m)]
    for _ in range(n_iters):
        prev = [c.copy() for c in cents]
        for mi in range(m):
            codes = np.argmin(((S[mi][:, None, :] - cents[mi][None])
                               ** 2).sum(axis=2), axis=1)
            for j in range(len(cents[mi])):
                if (codes == j).any():
                    cents[mi][j] = S[mi][codes == j].mean(axis=0)
        if all(np.array_equal(a, b) for a, b in zip(cents, prev)):
            break
    return [c.tolist() for c in cents]
