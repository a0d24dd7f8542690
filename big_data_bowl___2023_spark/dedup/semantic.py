"""SemDeDup-style semantic deduplication.

The embedding-space dedup used for web-scale LLM corpora (Abbas et
al., "SemDeDup: Data-efficient learning at web-scale through semantic
deduplication", 2023): k-means-cluster the normalized embeddings,
compare pairs ONLY within a cluster, and drop all but one
representative of each near-duplicate group. Cross-cluster pairs are
the accepted recall cost — the point is that per-cluster work is
(n/k)² instead of n², and clusters shard perfectly across executors.

Composition over existing engine pieces (nothing new to verify at
the kernel level):

* centroids: ``similarity.pq.train_pq`` with m=1 — full-vector
  k-means over the capped md5-ordered sample (deterministic
  md5-seeded init, one bounded collect, numpy Lloyd rounds on the
  driver);
* assignment: one scan — a GEMM-per-Arrow-batch argmin against the
  broadcast centroids (``assign_with_centroids``);
* within-cluster candidates: ``minhash.band_candidates`` on the
  cluster id, so the mass-duplicate pathology is bounded by the same
  hot-bucket star guard as the LSH paths (``max_bucket``);
* candidate screening: the vectorized ``embedding._np_prefilter``
  (one einsum per Arrow batch over the raw within-cluster pairs) —
  the raw candidate volume is ~target_cluster/2 rows PER corpus
  vector, linear in n, so it is never broadcast; the screen reads
  its vectors from the gathered broadcast unit matrix or through an
  id-keyed AQE join, chosen by id type and corpus size
  (``embedding._gather_broadcast``);
* verification: the exact einsum kernel (``embedding._verify_exact``)
  over the near-output-sized prefilter survivors — precision 1.0,
  the same arithmetic as the exact near-dup paths;
* keeper choice: ``clusters.connected_components`` + min-id
  canonicalization, identical to the MinHash dedup flow.

Reference scope note: north-star extension (SURVEY.md §2 extensions,
inventory E57); the reference has no corpus operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clusters import connected_components
from .embedding import (
    _gather_broadcast,
    _normalized,
    _np_prefilter,
    _verify_exact,
)
from .minhash import band_candidates
from ..functions import vectors as V
from ..session import pin


def scaled_k(n: int, target_cluster: int = 250) -> int:
    """Clusters so the mean population ≈ target_cluster: within-
    cluster pair work is Σ(n/k)²·k = n²/k, so holding n/k constant
    keeps it LINEAR in n — the SemDeDup paper's ~100k clusters for
    web scale is this same rule. Mirrors ``scaled_n_planes`` /
    ``scaled_n_blocks``: callers never tune it."""
    return max(4, -(-max(1, n) // target_cluster))


def kmeans_assign(df: DataFrame, k: int = 16, n_iters: int = 4,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id",
                  dim: int | None = None) -> DataFrame:
    """(id, u, cluster): full-vector k-means assignment.

    Training is ``train_pq(m=1)``: one bounded collect of the capped
    md5-ordered sample, then numpy Lloyd rounds with an
    exact-fixpoint early stop; assignment is
    ``assign_with_centroids``."""
    from ..similarity.pq import train_pq

    v = _normalized(df, vec_col, id_col)
    if dim is None:   # one probe job; pass dim to skip it
        dim = len(v.select("u").first().u)
    cents = train_pq(df, vec_col=vec_col, id_col=id_col, dim=dim,
                     m=1, k=k, n_iters=n_iters)[0]
    return assign_with_centroids(v, cents)


def assign_with_centroids(v: DataFrame, cents: list) -> DataFrame:
    """(id, u, cluster) for PRE-TRAINED centroids — the assignment
    half of kmeans_assign, reusable when the codebook is an artifact
    (incremental ingest assigns new batches against the corpus's
    frozen centroids so cluster boundaries never move between runs).

    Per Arrow batch, one (batch x dim) @ (dim x k) matrix product +
    row argmin of ``|c|^2/2 - u.c`` (``|u|^2`` is row-constant and
    dropped) against the broadcast k x dim centroid matrix — numpy
    does the O(n*k*dim) flops, Spark does the distribution (measured:
    100k vectors x k=200 x dim=64 assign in 0.9 s vs 16.8 s through
    the interpreted SQL fold it replaced on local[16]). Ties break to
    the lowest code (numpy argmin returns the first minimum)."""
    from pyspark.sql import types as T
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    C = np.asarray([[float(x) for x in c] for c in cents],
                   dtype=np.float64)                  # (k, dim)
    half_c2 = 0.5 * (C * C).sum(axis=1)               # (k,)
    out_schema = T.StructType(
        list(v.schema) + [T.StructField("cluster", T.IntegerType())])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            U = V.stack_batch(pdf["u"])
            # argmin_j |u-c_j|^2 == argmin_j (|c_j|^2/2 - u.c_j)
            scores = half_c2[None, :] - U @ C.T       # (n, k)
            out = pdf.copy()
            out["cluster"] = np.argmin(scores, axis=1).astype("int32")
            yield out

    return v.mapInPandas(assign, out_schema)


def semantic_dup_pairs(df: DataFrame, threshold: float,
                       k: int | None = None,
                       n_iters: int = 4, vec_col: str = "embedding",
                       id_col: str = "vec_id",
                       max_bucket: int | None = None,
                       target_cluster: int = 250,
                       dim: int | None = None,
                       n: int | None = None) -> DataFrame:
    """(vec_a, vec_b, cosine) with cosine ≥ threshold, both members
    of the same k-means cluster. Precision 1.0 (every pair exactly
    verified); recall < 1 only through cluster-boundary splits — the
    SemDeDup contract. Candidates come from a cluster-keyed
    band join with the hot-bucket star guard available, so even a
    corpus collapsing into one cluster stays O(m) candidates when
    ``max_bucket`` is set. ``k`` defaults to ``scaled_k`` of the
    corpus count, holding mean cluster population ~target_cluster so
    total pair work stays linear in n. ``n``/``dim`` hints skip the
    two driver-side probe jobs (a count and a first) when the caller
    already knows them — the bench and pipeline paths always do."""
    from ..similarity.pq import train_pq

    if k is None:
        if n is None:
            n = df.count()
        k = scaled_k(n, target_cluster)
    if dim is None:   # one probe job; pass dim to skip it
        dim = len(_normalized(df, vec_col, id_col)
                  .select("u").first().u)
    # the Lloyd trainer is partitioning-invariant by construction
    # (md5-sorted sample, deterministic numpy sums)
    cents = train_pq(df, vec_col=vec_col, id_col=id_col, dim=dim,
                     m=1, k=k, n_iters=n_iters)[0]
    return pairs_with_centroids(df, cents, threshold, vec_col, id_col,
                                max_bucket=max_bucket, n=n)


def pairs_with_centroids(df: DataFrame, cents: list, threshold: float,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         max_bucket: int | None = None,
                         broadcast_handle: list | None = None,
                         n: int | None = None) -> DataFrame:
    """(vec_a, vec_b, cosine ≥ threshold), both in the same cluster
    of a PRE-TRAINED codebook — ``semantic_dup_pairs`` minus the
    Lloyd training (and exactly what that operator now composes over
    its freshly-trained centroids, so there is ONE candidate→
    prefilter→verify chain to maintain). Direct callers are the
    frozen-boundary paths: the streaming ingest loop and incremental
    re-checks against a codebook artifact.

    The raw within-cluster pair set is ~cluster/2 rows per corpus
    vector — LINEAR in n, so it flows through the vectorized
    prefilter first (einsum screening; hot-bucket star guard via
    ``max_bucket``); only the near-output-sized survivors reach the
    exact verify's AQE join. The screen gathers the unit matrix
    (id-pairs-only shuffle) whenever ``_gather_broadcast`` allows,
    else it joins (see ``_np_prefilter``). ``n`` is the optional
    corpus-count hint that skips the deciding count (cheap here
    anyway — the assigned table is pinned). ``broadcast_handle``
    collects the gather broadcast so loops can free it eagerly."""
    v = pin(assign_with_centroids(_normalized(df, vec_col, id_col),
                                  cents))
    cand = band_candidates(
        v.select("id", "cluster"), max_bucket,
        band_cols=("cluster",), id_col="id",
        out_cols=("vec_a", "vec_b"))
    u = v.select("id", "u")
    survivors = _np_prefilter(
        u, cand, threshold, _gather_broadcast(u, n, broadcast_handle))
    return _verify_exact(u, survivors, threshold)


def keep_min_per_component(df: DataFrame, pairs: DataFrame,
                           id_col: str) -> DataFrame:
    """The shared keeper rule: connected near-dup groups collapse to
    their min-id member; everything unpaired passes through. One
    definition for batch ``semantic_dedup`` and the streaming ingest
    loop, so the keeper semantics cannot drift."""
    comp = connected_components(pairs, "vec_a", "vec_b")
    drop = (comp.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(id_col)))
    return df.join(drop, id_col, "left_anti")


def incremental_semantic_pairs(new_emb: DataFrame, corpus: DataFrame,
                               threshold: float,
                               k: int | None = None,
                               n_iters: int = 4,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id",
                               target_cluster: int = 250,
                               dim: int | None = None,
                               n_corpus: int | None = None,
                               cents: list | None = None,
                               max_cluster: int | None = None,
                               broadcast_handle: list | None = None
                               ) -> DataFrame:
    """(vec_new, vec_corpus, cosine ≥ threshold): semantic near-dups
    between an ingest batch and the existing corpus WITHOUT re-pairing
    the corpus against itself — the SemDeDup analogue of
    ``streaming.incremental_minhash_pairs``.

    Centroids train on the CORPUS only, so cluster boundaries are a
    frozen artifact as batches arrive — pass ``cents`` (a single
    codebook: ``load_codebooks(spark, path)[0]`` for the m=1
    artifacts this path saves) to assign against the persisted
    codebook of the last full run; the Lloyd rounds here are only the
    bootstrap path. Both sides assign map-side against the broadcast
    centroids; candidates are ONE new×corpus equi-join on the cluster
    id (join strategy left to AQE — the candidate volume is data-
    dependent, so it is NOT force-broadcast); exact verification
    touches candidates only. Corpus×corpus pair work is zero by
    construction; new×new dups within the batch are
    ``semantic_dup_pairs`` over the (small) batch, mirroring the
    MinHash incremental contract.

    ``max_cluster`` is the mass-duplicate guard (the cross-side
    analogue of the batch path's hot-bucket star guard): a corpus
    cluster holding more than ``max_cluster`` members contributes
    only its min-id member to pairing — on a degenerate corpus the
    candidate volume stays O(n_new) instead of n_new × cluster, and
    a new doc matching the (mutually near-identical) mass cluster
    still surfaces via the hub. Default None = exact, like the batch
    default.

    Caller contract: new and corpus id spaces are disjoint (ingest
    ids are monotone in practice); a shared id would be dropped by
    the inequality guard rather than verified.

    The raw cluster-join candidates go through the einsum screen
    FIRST (``_np_prefilter``: near-output-sized survivors reach the
    verify joins). The screen gathers the unit matrix (id-pairs-only
    shuffle) whenever ``_gather_broadcast`` allows and joins otherwise;
    the deciding count is the raw corpus parquet count (footer
    metadata, no scan) plus one batch count, unless ``n_corpus``
    already carries the corpus side. The screen never changes the
    emitted pairs — its margin only removes pairs the verify would
    reject. ``broadcast_handle`` collects the gather broadcast."""
    from ..similarity.pq import train_pq

    vc = _normalized(corpus, vec_col, id_col)
    if cents is None:
        if k is None:
            if n_corpus is None:
                n_corpus = corpus.count()
            k = scaled_k(n_corpus, target_cluster)
        if dim is None:
            dim = len(vc.select("u").first().u)
        cents = train_pq(corpus, vec_col=vec_col, id_col=id_col,
                         dim=dim, m=1, k=k, n_iters=n_iters)[0]
    ac = assign_with_centroids(vc, cents)
    an = assign_with_centroids(_normalized(new_emb, vec_col, id_col),
                               cents)
    corpus_side = ac.select(F.col("id").alias("vec_b"), "cluster")
    if max_cluster is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("cluster")
        corpus_side = (corpus_side
                       .withColumn("__cn", F.count(F.lit(1)).over(w))
                       .withColumn("__min", F.min("vec_b").over(w))
                       .filter((F.col("__cn") <= max_cluster)
                               | (F.col("vec_b") == F.col("__min")))
                       .drop("__cn", "__min"))
    cand = (an.select(F.col("id").alias("vec_a"), "cluster")
            .join(corpus_side, "cluster")
            .filter(F.col("vec_a") != F.col("vec_b"))
            .select("vec_a", "vec_b"))
    # ids are disjoint by contract — plain union, no dedup shuffle of
    # the (wide) vector payload.
    v_all = an.select("id", "u").unionByName(ac.select("id", "u"))
    # screen the (linear-in-batch but vector-heavy if joined)
    # candidate volume before any verify join — the batch path's
    # prefilter. The gather rule's count avoids re-running the
    # assignment lineage: the RAW corpus count (parquet footer
    # metadata in the streaming loop) plus one count of the (pinned
    # there) batch side.
    nc = n_corpus if n_corpus is not None else corpus.count()
    cand = _np_prefilter(
        v_all, cand, threshold,
        _gather_broadcast(v_all, nc + new_emb.count(), broadcast_handle))
    return (_verify_exact(v_all, cand, threshold)
            .select(F.col("vec_a").alias("vec_new"),
                    F.col("vec_b").alias("vec_corpus"), "cosine"))


def semantic_dedup(df: DataFrame, threshold: float,
                   k: int | None = None,
                   n_iters: int = 4, vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   max_bucket: int | None = None,
                   dim: int | None = None,
                   n: int | None = None) -> DataFrame:
    """The rows of ``df`` that survive semantic dedup: for every
    connected group of within-cluster near-duplicates, the min-id
    member is kept; all other rows pass through untouched."""
    pairs = semantic_dup_pairs(df, threshold, k, n_iters,
                               vec_col, id_col, max_bucket,
                               dim=dim, n=n)
    return keep_min_per_component(df, pairs, id_col)
