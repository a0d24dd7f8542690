"""Product quantization (PQ) for embedding search at corpus scale.

Jégou et al., "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011): split each d-dim vector into ``m`` subvectors, k-means
each subspace into ``k`` centroids, store a vector as its m centroid
ids — 64-dim float32 (256 B) becomes m=8 codes (8 B), a 32× memory
cut, which is what lets a 100 TB embedding corpus live in cluster RAM.
Search uses asymmetric distance computation (ADC): per query, one
m×k lookup table of query-subvector↔centroid distances; a corpus row
is scored with m table lookups + adds, never a d-dim product.

Spark mapping:

* training: ONE bounded collect of the capped md5-ordered sample,
  then every Lloyd round runs on the driver in numpy (a blocked GEMM
  argmin per subspace + per-cluster means) — zero Spark jobs per
  round, because on a capped sample each round's cost would be fixed
  job latency;
* encoding: per-subspace argmin expressions → ``codes array<int>``;
* ADC: the per-query LUT is a flat m·k literal-free array expression
  computed once per query row; scoring is a broadcast join of the
  (tiny) query LUTs against the codes table with
  ``element_at(lut, m·k_offset + code)`` sums.

Vectors are L2-normalized first, so ascending squared-L2 ADC order
matches descending cosine order and recall is measured against
``brute_force_topk``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..sources.io import read_json_artifact, write_json_artifact

DEFAULT_M = 8
DEFAULT_K = 16


def _slices(vec, dim: int, m: int) -> list:
    sub = dim // m
    return [F.slice(vec, i * sub + 1, sub) for i in range(m)]


def _sq_dist(sv, cent) -> F.Column:
    """Squared L2 between a subvector column and a centroid (array
    column or literal array) — one zip_with/aggregate fold."""
    return F.aggregate(
        F.zip_with(sv, cent, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)


def _lit_vec(xs) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in xs])


def _argmin_code(sv, cents_m) -> F.Column:
    """Index (0-based) of the nearest of the k literal centroids."""
    darr = F.array(*[_sq_dist(sv, _lit_vec(c)) for c in cents_m])
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")


def _normalized(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    # degenerate (zero-norm/NaN) vectors are dropped BEFORE the
    # normalize transform; see dedup.embedding._normalized
    v = V.as_double(F.col(vec_col))
    return (df.filter(V.has_unit_normalizable(v))
              .select(F.col(id_col).alias("id"),
                      V.l2_normalize(v).alias("u")))


# rows scored per GEMM in the driver Lloyd loop (bounds its k-wide
# score matrix independently of the sample size)
_ARGMIN_BLOCK = 2048


def _train_lloyd_driver(v: DataFrame, dim: int, m: int, k: int,
                        n_iters: int, train_rows: int) -> list:
    """The bounded-sample Lloyd loop run ONCE on the driver in numpy
    (r17): one TakeOrdered collect of the ``train_rows`` smallest-md5
    rows (the first k of them seed the centroids), then every round
    is a GEMM argmin + per-cluster mean over the in-memory matrix —
    zero Spark jobs per round. On a CAPPED sample a distributed
    round's cost is almost entirely fixed job latency (the sample
    makes each round O(1) in corpus size by design), so one bounded
    collect (≤ train_rows × dim doubles — ~50 MB at the 100k × 64
    default, same measured-size-buys-the-collect pattern as
    clusters.DRIVER_EDGE_BOUND) replaces a seeds collect, a sample
    pin and n_iters round jobs at any scale. Assignment scores
    ``_ARGMIN_BLOCK`` rows at a time, so on top of the sample it holds
    two ``_ARGMIN_BLOCK × k`` double temporaries (~130 MB at k = 4000,
    the ``scaled_k`` of a 1M-row corpus), never a train_rows × k
    matrix (6.4 GB for the same k at the 100k default).

    Arithmetic contract: assignment is argmin(|c|²/2 − u·c) with
    first-minimum ties (as ``assign_with_centroids`` and
    ``encode_pq``'s ``_argmin_code``); the update mean is numpy over
    md5-sorted rows — DETERMINISTIC and partitioning-invariant
    (bitwise equal across input layouts)."""
    import numpy as np

    pdf = (v.orderBy(F.md5(F.col("id").cast("string")))
           .limit(train_rows).select("u").toPandas())
    sub = dim // m
    if not len(pdf):
        return [[] for _ in range(m)]
    U = V.stack_batch(pdf["u"])                      # (n, dim) sorted
    n_seed = min(k, len(pdf))
    cents = [[[float(x) for x in U[j, mi * sub:(mi + 1) * sub]]
              for j in range(n_seed)] for mi in range(m)]
    SV = [U[:, mi * sub:(mi + 1) * sub] for mi in range(m)]
    for _ in range(n_iters):
        prev = [[list(c) for c in cb] for cb in cents]
        new = []
        for mi in range(m):
            C = np.asarray(cents[mi], dtype=np.float64)  # (k, sub)
            half_c2 = 0.5 * (C * C).sum(axis=1)
            codes = np.empty(len(SV[mi]), dtype=np.int64)
            for s in range(0, len(codes), _ARGMIN_BLOCK):
                blk = SV[mi][s:s + _ARGMIN_BLOCK]
                codes[s:s + _ARGMIN_BLOCK] = np.argmin(
                    half_c2[None, :] - blk @ C.T, axis=1)
            cb = [list(c) for c in cents[mi]]
            for j in range(len(cb)):       # empty clusters keep prev
                mask = codes == j
                if mask.any():
                    cb[j] = [float(x) for x in SV[mi][mask].mean(axis=0)]
            new.append(cb)
        cents = new
        if cents == prev:       # exact fixpoint: done
            break
    return cents


def train_pq(corpus: DataFrame, vec_col: str = "embedding",
             id_col: str = "vec_id", dim: int = 64,
             m: int = DEFAULT_M, k: int = DEFAULT_K,
             n_iters: int = 8,
             train_rows: int = 100_000) -> list:
    """m×k×(dim/m) codebooks as a nested Python list.

    Deterministic init (subvectors of the k corpus rows with smallest
    md5(id) — no RNG state), then up to ``n_iters`` Lloyd rounds on
    the driver (:func:`_train_lloyd_driver`): argmin-assign every
    sample row to its subspace's nearest centroid, then per-cluster
    means. Empty clusters keep their previous centroid. Rounds stop
    early at an EXACT fixpoint (no centroid moved at all) — further
    rounds would recompute the identical codebooks, so the early exit
    is bit-identical, just cheaper.

    ``train_rows`` caps the Lloyd training set at the ``train_rows``
    corpus rows with smallest md5(id) — the same deterministic order
    the seeds use. Codebooks need ~10⁵ training vectors regardless of
    corpus size (Jégou et al. train on a sample), and the cap is what
    bounds the driver collect, so it is required: ``None`` raises
    ValueError (pre-sample with ``operators.sampling.hash_sample`` to
    train on a different subset). A cap at or above the corpus size
    trains on every row."""
    if train_rows is None:
        # an uncapped driver collect would be the unbounded-driver
        # hazard the star loop exists to avoid
        raise ValueError("train_pq needs train_rows (the bounded "
                         "sample is what buys the driver collect)")
    v = _normalized(corpus, vec_col, id_col)
    return _train_lloyd_driver(v, dim, m, k, n_iters, train_rows)


def save_codebooks(spark, cents: list, path: str) -> None:
    """Persist trained codebooks as a JSON artifact through the
    Hadoop FileSystem API (local FS, HDFS, or object store — same
    contract as the parquet sinks). Codebooks are tiny (m·k·sub
    floats) but operationally load-bearing: incremental ingest must
    assign new batches against the SAME centroids the corpus was
    sharded with, so the codebook is a versioned artifact of the full
    run, not something retrained per batch."""
    write_json_artifact(spark, path, cents)


def load_codebooks(spark, path: str) -> list:
    """Read a :func:`save_codebooks` artifact back as the nested
    list ``train_pq`` returns — float round trip is exact (json reads
    the same repr doubles back)."""
    return read_json_artifact(spark, path)


def encode_pq(corpus: DataFrame, cents: list,
              vec_col: str = "embedding", id_col: str = "vec_id",
              dim: int = 64) -> DataFrame:
    """(id, codes array<int> of length m): the compressed corpus.
    Pure argmin expressions per subspace — encoding a 100 TB corpus is
    one codegen scan, no Python."""
    m = len(cents)
    v = _normalized(corpus, vec_col, id_col)
    slices = _slices(F.col("u"), dim, m)
    codes = F.array(*[_argmin_code(slices[mi], cents[mi])
                      for mi in range(m)])
    return v.select("id", codes.alias("codes"))


def pq_topk(codes: DataFrame, queries: DataFrame, cents: list, k: int,
            vec_col: str = "embedding", id_col: str = "vec_id",
            dim: int = 64) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, adc_dist, rank).

    Each query row computes its flat m·n_cent LUT once; the broadcast
    join prices every corpus code row at m element_at lookups + adds.
    Ascending squared-L2 over normalized vectors ≡ descending cosine."""
    m, n_cent = len(cents), len(cents[0])
    q = _normalized(queries, vec_col, id_col)
    qslices = _slices(F.col("u"), dim, m)
    lut = F.array(*[_sq_dist(qslices[mi], _lit_vec(cents[mi][j]))
                    for mi in range(m) for j in range(n_cent)])
    qlut = q.select(F.col("id").alias("query_id"), lut.alias("lut"))

    score = None
    for mi in range(m):
        term = F.element_at(
            F.col("lut"),
            F.lit(mi * n_cent + 1) + F.element_at(F.col("codes"), mi + 1))
        score = term if score is None else score + term

    scored = (codes.withColumnRenamed("id", "neighbor_id")
              .join(F.broadcast(qlut),
                    F.col("query_id") != F.col("neighbor_id"))
              .withColumn("adc_dist", F.round(score, 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_dist", "rank"))


def pq_topk_rerank(codes: DataFrame, corpus: DataFrame,
                   queries: DataFrame, cents: list, k: int,
                   shortlist: int | None = None,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   dim: int = 64) -> DataFrame:
    """ADC shortlist → EXACT cosine re-rank (the +R stage of IVFADC+R):
    (query_id, neighbor_id, cosine, rank).

    The compressed scan prices every corpus row with table lookups and
    keeps only ``shortlist`` (default 5k) candidates per query; full
    vectors are fetched for those few rows only (a candidate-side
    broadcast join back to the corpus) and re-scored exactly. Recall
    approaches exact search while the corpus-wide pass never touches a
    raw vector — the memory/IO contract that matters at 100 TB."""
    if shortlist is None:
        shortlist = 5 * k
    cand = pq_topk(codes, queries, cents, shortlist,
                   vec_col, id_col, dim).select("query_id", "neighbor_id")
    return exact_rerank(cand, corpus, queries, k, vec_col, id_col)


def exact_rerank(cand: DataFrame, corpus: DataFrame,
                 queries: DataFrame, k: int,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """The shared +R stage: given (query_id, neighbor_id) shortlist
    candidates from ANY screen (ADC, int8 dequant, LSH), fetch full
    vectors for those few rows only (candidate-side broadcast joins)
    and re-score with the exact fold cosine — one definition of the
    tie-break/rounding/broadcast contract for every compressed-scan
    search path (pq_topk_rerank, quantize.quantized_topk_rerank)."""
    c = _normalized(corpus, vec_col, id_col).select(
        F.col("id").alias("neighbor_id"), F.col("u").alias("un"))
    q = _normalized(queries, vec_col, id_col).select(
        F.col("id").alias("query_id"), F.col("u").alias("uq"))
    cos = F.aggregate(F.zip_with(F.col("uq"), F.col("un"),
                                 lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    scored = (c.join(F.broadcast(cand), "neighbor_id")
              .join(F.broadcast(q), "query_id")
              .withColumn("cosine", F.round(cos, 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))
