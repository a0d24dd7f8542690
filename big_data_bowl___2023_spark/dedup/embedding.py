"""Embedding-cosine near-duplicate pairs.

Three tiers (same output contract: ``(vec_a, vec_b, cosine)`` with
``vec_a < vec_b`` and cosine ≥ threshold, rounded to 6):

* ``cosine_near_dup_pairs`` — EXACT pairs, executed as a block-GEMM
  *prefilter* (numpy matrix products over Arrow-batched vector
  blocks, threshold − 1e-9 margin) followed by an exact einsum
  re-verification of the few surviving candidates, rounded once in
  Spark — the same pairs and 6-dp cosines as a naive all-pairs fold
  (up to the last ulp), at vectorized-C speed instead of one
  interpreted expression fold per pair.
* ``cosine_near_dup_pairs_lsh`` — the sub-quadratic scale path:
  deterministic ±1 hyperplane signatures (T tables × P bits),
  candidates = pairs colliding in ≥ 1 table, then the same exact
  verify. P auto-scales with corpus size to hold bucket width
  constant, so candidate volume stays ~n·bucket instead of n².
  Recall is the standard hyperplane-LSH curve (tunable via
  n_tables); precision is 1.0 because every candidate is verified.
* ``cosine_pairs_allpairs_fold`` — the naive O(n²) expression-fold
  kernel, kept only as the small-scale cross-check (pytest compares
  the GEMM path against it); never the plan of record.

At 100 TB: the exact kernel is for bounded blocks (verification,
small corpora); dedup over a full corpus routes through the LSH
candidates. The verify step touches only candidate pairs.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import vectors as V
from ..session import pin

# GEMM-prefilter margin: numpy dot and the oracle's sequential fold
# differ by O(1e-15); candidates are kept at threshold − margin and the
# exact fold makes the final ≥-threshold decision.
_PREFILTER_MARGIN = 1e-9

# The gather rule's size cutover (``_gather_broadcast``, read at call
# time): at or below this many vectors with integer ids, the pair
# paths broadcast the gathered (n × dim) unit matrix and shuffle 16 B
# id pairs; above it, they take the id-keyed join path. 10M
# rows × dim 64 × 8 B ≈ 5 GB per Python worker — the documented
# worker-memory bound from the round-9 256× stress leg (BASELINE.md).
GATHER_CEILING_ROWS = 10_000_000

_PAIR_SCHEMA = T.StructType([
    T.StructField("vec_a", T.LongType()),
    T.StructField("vec_b", T.LongType()),
])


def _pair_schema(cand: DataFrame, *extra: T.StructField) -> T.StructType:
    """Output schema of a kernel over candidate pairs: the candidates'
    own id types (the join paths accept any id type), then
    ``extra``."""
    return T.StructType(
        [T.StructField(c, cand.schema[c].dataType)
         for c in ("vec_a", "vec_b")] + list(extra))


def _normalized(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, u): double-cast, L2-normalized once — O(n), not O(n²).
    Degenerate vectors (zero norm / NaN components) normalize to
    NULL and are DROPPED here: cosine is undefined for them, so they
    can never satisfy a similarity threshold, and every downstream
    kernel (einsum prefilter, GEMM blocks, einsum verify) would
    otherwise have to NaN-guard or crash on a None row. One
    documented behavior for all pair paths (round-7 ADVICE: the LSH/
    GEMM paths already excluded them; the exact path surfaced them
    as NaN pairs via Spark's NaN-sorts-greatest comparison). The
    drop is a pre-normalization row filter on the raw norm — NOT a
    null-guard inside l2_normalize — so the hot transform stays a
    single unguarded fold per row."""
    v = V.as_double(F.col(vec_col))
    return (df.filter(V.has_unit_normalizable(v))
              .select(F.col(id_col).alias("id"),
                      V.l2_normalize(v).alias("u")))


def _verify_exact(v: DataFrame, cand: DataFrame,
                  threshold: float) -> DataFrame:
    """Exact dot over candidate id pairs only: candidate ids join the
    unit-vector table, then one numpy einsum per Arrow batch scores
    the joined pairs (same shape as ``_np_prefilter`` / ann
    ``_score_pairs``) and keeps ``dot >= threshold``; Spark rounds the
    kept cosines once to 6 dp (half-up, the DuckDB oracle's
    ``ROUND``). einsum's pairwise summation can differ from a
    sequential fold in the last ulp, so only a cosine landing within
    an ulp of the threshold or of a 6-dp .5 boundary could differ
    from the oracle's fold (tests/test_kernel_rounding_boundary.py
    pins the exact-boundary case).

    The join strategy is AQE's: every caller feeds it prefilter
    survivors that reach exactly ONE join chain, so a pin + count to
    buy a broadcast would only add jobs (round 7 measured +18% on the
    bench query), and on a mass-dup corpus (survivors ~output-sized)
    the AQE shuffle join degrades gracefully where a forced broadcast
    would run out of memory."""
    import numpy as np

    ua = v.select(F.col("id").alias("vec_a"), F.col("u").alias("ua"))
    ub = v.select(F.col("id").alias("vec_b"), F.col("u").alias("ub"))
    joined = ua.join(cand, "vec_a").join(ub, "vec_b")

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            A = V.stack_batch(pdf["ua"])
            B = V.stack_batch(pdf["ub"])
            dots = np.einsum("ij,ij->i", A, B)
            keep = dots >= threshold
            out = pdf.loc[keep, ["vec_a", "vec_b"]].copy()
            out["cosine"] = dots[keep]
            yield out

    schema = _pair_schema(cand, T.StructField("cosine", T.DoubleType()))
    return (joined.mapInPandas(verify, schema)
            .withColumn("cosine", F.round("cosine", 6)))


def _gather_broadcast(v: DataFrame, n_vectors: int | None = None,
                      broadcast_handle: list | None = None):
    """The one gather-vs-join rule of the pair paths — the candidate
    screens of the LSH and semantic entry points and the hard-negative
    miner's scoring all ask here, so the choice is made in one place,
    from the data alone. Gather only integer ids (the gather kernels
    resolve ids through int64 searchsorted) in a table of at most
    ``GATHER_CEILING_ROWS`` vectors (read at call time): then return
    the broadcast ``gather_unit_matrix`` triple of the (id, u) table,
    else None (the caller takes its id-keyed join path).
    ``n_vectors`` skips the deciding count when the caller already
    knows it.

    ``broadcast_handle``: a caller-owned list the broadcast is
    appended to, so loops (the streaming ingest) can unpersist it
    eagerly after the batch's actions instead of leaving O(corpus)
    broadcast blocks to GC — the streaming/curation.py convention."""
    if not isinstance(v.schema["id"].dataType,
                      (T.LongType, T.IntegerType, T.ShortType,
                       T.ByteType)):
        return None
    if n_vectors is None:
        n_vectors = v.count()
    if n_vectors > GATHER_CEILING_ROWS:
        return None
    bc = v.sparkSession.sparkContext.broadcast(V.gather_unit_matrix(v))
    if broadcast_handle is not None:
        broadcast_handle.append(bc)
    return bc


def _np_prefilter(v: DataFrame, cand: DataFrame, threshold: float,
                  gathered) -> DataFrame:
    """Vectorized candidate screening: evaluate every candidate
    pair's dot per Arrow batch with one einsum — only survivors
    (dot ≥ threshold − margin) reach the exact verify.

    ``gathered`` is ``_gather_broadcast``'s result and picks how each
    pair finds its two vectors:

    * a broadcast — every task indexes its id pairs against the
      shared (n × dim) unit matrix, so the candidate stream carries
      ONLY id pairs (16 B each): ~30× fewer shuffle bytes at dim 64.
      Every Python worker holds one copy of the matrix (260 MB at
      512k × 64), which is why the rule caps it at
      ``GATHER_CEILING_ROWS``.
    * None (non-integer ids, or a table past the ceiling) — join the
      id pairs to the vector table, strategy left to AQE (at 100 TB
      the candidates are cluster-keyed, so AQE shuffles co-partitioned
      slices, not the full table). The join OUTPUT carries both unit
      vectors per pair (~550 B at dim 64), so with ~300 candidates per
      vector the shuffle streams ~150× the corpus bytes — measured to
      overrun local spill space at 512k vectors × 150M candidates
      (the round-9 256× stress leg); below the ceiling the rule never
      takes this path.

    Both paths run the same einsum against the same margin, so they
    return the same survivor set (pytest-pinned). Pairs whose ids are
    not in ``v`` (impossible for candidates generated FROM v;
    defensive for external candidate sets) are dropped on both — the
    join does it implicitly, the gather masks them out."""
    import numpy as np

    cut = threshold - _PREFILTER_MARGIN

    if gathered is not None:
        def dots_gather(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
            sids, perm, mat = gathered.value
            if len(sids) == 0:   # empty corpus: no pair can resolve
                return
            for pdf in batches:
                if not len(pdf):
                    continue
                ra, ka = V.resolve_gathered_ids(sids, perm,
                                                pdf["vec_a"])
                rb, kb = V.resolve_gathered_ids(sids, perm,
                                                pdf["vec_b"])
                known = ka & kb
                if not known.all():
                    pdf = pdf.loc[known]
                    ra, rb = ra[known], rb[known]
                sims = np.einsum("ij,ij->i", mat[ra], mat[rb])
                yield pdf.loc[sims >= cut, ["vec_a", "vec_b"]]

        return cand.mapInPandas(dots_gather, _pair_schema(cand))

    ua = v.select(F.col("id").alias("vec_a"), F.col("u").alias("ua"))
    ub = v.select(F.col("id").alias("vec_b"), F.col("u").alias("ub"))
    rows = cand.join(ua, "vec_a").join(ub, "vec_b")

    def dots(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            A = V.stack_batch(pdf["ua"])
            B = V.stack_batch(pdf["ub"])
            sims = np.einsum("ij,ij->i", A, B)
            yield pdf.loc[sims >= cut, ["vec_a", "vec_b"]]

    return rows.mapInPandas(dots, _pair_schema(cand))


def _gemm_candidates(v: DataFrame, threshold: float,
                     n_blocks: int) -> DataFrame:
    """All-pairs GEMM prefilter: id pairs with numpy cosine ≥
    threshold − margin. O(n²) flops but as (n_blocks²)/2 matrix
    products; a block stays ~n/n_blocks vectors so its pair matrix
    fits executor memory."""
    import numpy as np

    blocks = (v.withColumn("blk", F.pmod(F.col("id"), F.lit(n_blocks)))
              .groupBy("blk")
              .agg(F.collect_list("id").alias("ids"),
                   F.collect_list("u").alias("vecs")))
    a = blocks.select(F.col("blk").alias("blk_a"),
                      F.col("ids").alias("ids_a"),
                      F.col("vecs").alias("vecs_a"))
    b = blocks.select(F.col("blk").alias("blk_b"),
                      F.col("ids").alias("ids_b"),
                      F.col("vecs").alias("vecs_b"))
    block_pairs = a.join(b, F.col("blk_a") <= F.col("blk_b"))
    cut = threshold - _PREFILTER_MARGIN

    def gemm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_a: list[int] = []
            out_b: list[int] = []
            for _, row in pdf.iterrows():
                ids_a = np.asarray(row["ids_a"])
                ids_b = np.asarray(row["ids_b"])
                A = V.stack_batch(row["vecs_a"])
                B = V.stack_batch(row["vecs_b"])
                sims = A @ B.T
                ia, ib = np.nonzero(sims >= cut)
                pa, pb = ids_a[ia], ids_b[ib]
                keep = pa != pb
                lo = np.minimum(pa[keep], pb[keep])
                hi = np.maximum(pa[keep], pb[keep])
                out_a.extend(lo)
                out_b.extend(hi)
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b})

    return block_pairs.mapInPandas(gemm, _PAIR_SCHEMA).distinct()


def scaled_n_blocks(n: int, target_block: int = 2000) -> int:
    """Blocks so each GEMM block holds ≈ target_block vectors: a
    block is ONE grouped row carrying collect_list of its vectors, so
    its byte size — not the corpus size — is what must stay bounded.
    Mirrors ``scaled_n_planes``: the caller never tunes it (the
    round-2 verdict's fixed n_blocks=16 nit).

    The parallelism floor also scales DOWN for small corpora
    (≈250 vectors per block, capped at 16): a measured sweep at
    n=2000 showed 8 blocks beating the old fixed floor of 16 by ~25%
    (fewer, larger numpy GEMMs; identical output) — blocking pays for
    itself only once blocks are big enough to amortize task setup."""
    need = math.ceil(max(1, n) / target_block)
    floor = min(16, math.ceil(max(1, n) / 250))
    return max(floor, need)


def cosine_near_dup_pairs(df: DataFrame, threshold: float,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          n_blocks: int | None = None,
                          target_block: int = 2000) -> DataFrame:
    """EXACT (vec_a, vec_b, cosine) pairs ≥ threshold, a < b.

    Plan: block-GEMM prefilter → exact einsum verification of
    survivors (``_verify_exact``). Output matches a naive all-pairs
    fold, but the O(n²) work runs as numpy matrix products —
    the round-1 nested-loop + per-pair interpreted fold (181 s at
    sf0.1) becomes block-pair GEMMs. ``n_blocks`` auto-scales with
    corpus count (``scaled_n_blocks``) so block rows stay ~target_block
    vectors regardless of n; pass it explicitly only to pin a plan."""
    v = pin(_normalized(df, vec_col, id_col))
    if n_blocks is None:
        n_blocks = scaled_n_blocks(v.count(), target_block)
    cand = _gemm_candidates(v, threshold, n_blocks)
    return _verify_exact(v, cand, threshold)


# ------------------------------------------------------------------ LSH

def plane_sign(table: int, plane: int, dim_idx: int) -> float:
    """Deterministic ±1 hyperplane entry — a pure function of indices
    via md5, identical in the Spark plan and the inlined SQL oracle
    (no RNG state, no cross-engine hash dependency)."""
    h = hashlib.md5(f"emb-lsh:{table}:{plane}:{dim_idx}".encode())
    return 1.0 if h.digest()[0] < 128 else -1.0


def make_tables(dim: int, n_tables: int,
                n_planes: int) -> list[list[list[float]]]:
    """planes[t][p][d] — T tables × P hyperplanes × dim entries."""
    return [[[plane_sign(t, p, d) for d in range(dim)]
             for p in range(n_planes)]
            for t in range(n_tables)]


def mean_unit_vector(v: DataFrame, dim: int) -> "list[float]":
    """Corpus mean of the unit vectors — ONE aggregate (map-side
    partial), dim floats to the driver (bounded at any corpus size).
    Used to center sign-of-projection bucketing: [0,1]-bounded
    statistic features (media `extract_features`) are positive-
    orthant, so every vector sits near the all-ones direction and
    uncentered hyperplane signatures collapse into a few hot sign
    patterns — the star guard bounds the pair blowup but recall vs
    the exact kernel quietly drops. Centering restores the spread."""
    row = v.agg(*[F.avg(F.col("u")[i]).alias(f"m{i}")
                  for i in range(dim)]).collect()[0]
    return [float(row[i] or 0.0) for i in range(dim)]


def scaled_n_planes(n: int, target_bucket: int = 32) -> int:
    """Bits per signature so expected bucket width ≈ target_bucket:
    P = ceil(log2(n / target)). Bucket width — hence candidate volume
    per table, n·bucket/2 — stays constant as the corpus grows; this
    is the knob that keeps the join sub-quadratic at 100 TB."""
    return max(2, math.ceil(math.log2(max(2.0, n / target_bucket))))


def lsh_candidate_pairs(v: DataFrame, dim: int, n_tables: int,
                        n_planes: int,
                        max_bucket: int | None = None,
                        center: bool = False,
                        mu: list | None = None) -> DataFrame:
    """Distinct id pairs colliding in ≥ 1 signature table.

    Signatures for all tables are computed in ONE Arrow pass (a
    (T·P, dim) sign-matrix product per batch), exploded to
    (id, table, sig) rows, then a single self-equi-join on
    (table, sig) — one shuffle keyed by signature, never all-pairs.

    ``scaled_n_planes`` keeps the EXPECTED bucket width constant, but
    a degenerate corpus (many identical vectors) still collapses into
    one (table, sig) bucket no plane count can split — ``max_bucket``
    arms the hot-bucket star guard (dedup.minhash.band_candidates):
    oversize buckets emit O(m) hub pairs instead of O(m²).

    ``center=True`` subtracts the corpus-mean projection from every
    plane (sign((u − μ)·s) = sign(u·s − μ·s), applied as a per-plane
    offset — the vectors themselves are never rewritten and the
    downstream exact verification is untouched). Required for
    positive-orthant corpora (e.g. [0,1] media statistic features),
    where uncentered signatures degenerate toward a handful of hot
    sign patterns; a no-op-cost choice for zero-mean embeddings.
    Costs one extra aggregate job (dim floats to the driver) unless
    the caller already holds the mean — ``mu`` (r17) skips the
    aggregate and uses the given per-dimension corpus mean (the LSH
    entry point derives it from the gathered unit matrix it collects
    for the candidate screen anyway)."""
    import numpy as np

    planes = make_tables(dim, n_tables, n_planes)
    S = np.asarray(planes, dtype=np.float64).reshape(
        n_tables * n_planes, dim)
    off = np.zeros(n_tables * n_planes, dtype=np.float64)
    if center:
        if mu is None:
            mu = mean_unit_vector(v, dim)
        off = S @ np.asarray(mu, dtype=np.float64)   # (T*P,)

    sig_schema = T.StructType([
        # the id keeps the caller's type (integer or string ids)
        T.StructField("id", v.schema["id"].dataType),
        T.StructField("t", T.IntegerType()),
        T.StructField("sig", T.StringType()),
    ])

    def signatures(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            U = V.stack_batch(pdf["u"])
            # `>= -1e-9`, not `>= 0`: a projection that is EXACTLY
            # zero in real arithmetic comes back as ±~1e-17 noise
            # whose sign depends on BLAS summation order — which
            # varies with the Arrow batch shape, i.e. with
            # parallelism. A strict zero threshold then splits
            # bit-identical vectors across buckets on 16/32-thread
            # runs (caught by test_embedding_lsh_star_guard). The
            # tolerance absorbs reorder noise so tied projections
            # land on '1' deterministically; true projections inside
            # (-1e-9, 0) are measure-zero for real embeddings and
            # only move CANDIDATES — verification stays exact.
            bits = (U @ S.T - off) >= -1e-9            # (n, T*P)
            ids, ts, sigs = [], [], []
            for t in range(n_tables):
                block = bits[:, t * n_planes:(t + 1) * n_planes]
                strs = ["".join("1" if b else "0" for b in row)
                        for row in block]
                ids.extend(pdf["id"])
                ts.extend([t] * len(pdf))
                sigs.extend(strs)
            yield pd.DataFrame({"id": ids, "t": ts, "sig": sigs})

    from .minhash import band_candidates

    sig = v.mapInPandas(signatures, sig_schema)
    return band_candidates(sig, max_bucket, band_cols=("t", "sig"),
                           id_col="id", out_cols=("vec_a", "vec_b"))


def cosine_near_dup_pairs_lsh(df: DataFrame, threshold: float,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              dim: int = 64,
                              n_tables: int = 16,
                              n_planes: int | None = None,
                              target_bucket: int = 32,
                              max_bucket: int | None = None,
                              center: bool = False) -> DataFrame:
    """Sub-quadratic near-dup pairs: hyperplane-LSH candidates →
    exact verification. Precision 1.0 (every emitted pair is
    exactly ≥ threshold); recall follows 1 − (1 − p^P)^T with
    p = 1 − θ/π — raise n_tables for more recall, target_bucket for
    cheaper joins. The result is DETERMINISTIC (literal ±1 planes), so
    the driver oracle reproduces candidates and verification exactly.
    ``max_bucket`` arms the hot-bucket star guard for corpora with
    mass-duplicate vectors (see ``lsh_candidate_pairs``). The
    candidate screen gathers the unit vectors into one broadcast
    matrix whenever ``_gather_broadcast`` allows (integer ids, a
    counted corpus within ``GATHER_CEILING_ROWS``), so it shuffles
    only 16 B id pairs; otherwise it takes the id-keyed join (see
    ``_np_prefilter`` — the path never changes the survivor set).
    ``center=True`` mean-centers the signature projections (see
    ``lsh_candidate_pairs``) — REQUIRED for positive-orthant vectors
    such as media statistic features; precision stays 1.0 either way
    (verification is exact on the original space), only candidate
    recall changes."""
    import numpy as np

    v = pin(_normalized(df, vec_col, id_col))
    n = v.count()
    if n_planes is None:
        n_planes = scaled_n_planes(n, target_bucket)
    # gather ONCE for everything below (r17): the screen's
    # broadcast is built up front so the centering mean falls out of
    # the matrix for free (np mean over id-sorted rows: deterministic;
    # agrees with the Spark/DuckDB aggregate to float-summation order,
    # the same far-from-boundary premise every cross-engine mean in
    # this family already rests on), removing the per-call
    # 64-expression aggregate job. On the join path the Spark
    # aggregate runs instead.
    gathered = _gather_broadcast(v, n)
    mu = None
    if gathered is not None and center:
        sids, perm, mat = gathered.value
        mu = ([float(x) for x in np.mean(mat[perm], axis=0)]
              if len(sids) else [0.0] * dim)
    cand = lsh_candidate_pairs(v, dim, n_tables, n_planes, max_bucket,
                               center=center, mu=mu)
    survivors = _np_prefilter(v, cand, threshold, gathered)
    return _verify_exact(v, survivors, threshold)


def cosine_pairs_allpairs_fold(df: DataFrame, threshold: float,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id") -> DataFrame:
    """Naive O(n²) kernel (round-1 plan of record, now demoted):
    BroadcastNestedLoopJoin over the half matrix with one interpreted
    fold per pair. Kept ONLY as the small-scale cross-check for the
    GEMM path — a scale anti-pattern everywhere else."""
    v = _normalized(df, vec_col, id_col)
    a = v.select(F.col("id").alias("vec_a"), F.col("u").alias("ua"))
    b = v.select(F.col("id").alias("vec_b"), F.col("u").alias("ub"))
    cos = V.dot(F.col("ua"), F.col("ub"))
    return (a.join(b, F.col("vec_a") < F.col("vec_b"))
             .withColumn("cosine", cos)
             .filter(F.col("cosine") >= F.lit(threshold))
             .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine")))
