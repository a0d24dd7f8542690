"""Hybrid sparse+dense retrieval — reciprocal-rank fusion.

Cormack, Clarke & Buettcher, "Reciprocal Rank Fusion outperforms
Condorcet and individual Rank Learning Methods" (SIGIR 2009). The
engine has both retrieval families — BM25 over the postings table
(`retrieval.bm25_topk`) and cosine ANN over embeddings
(`ann.brute_force_topk` / `ivf_topk`) — and production retrieval
fuses them: RRF needs only the RANKS of each list, so it composes
any mix of scorers without score-scale calibration.

Scale shape: every input to the fusion is already a top-k list
(queries × k rows — the k cut happened inside each retriever, before
any materialization), so the fusion itself is a union + one grouped
sum over a result-sized table. The corpus-sized work stays inside
the retrievers; fusing adds one bounded shuffle, never a corpus
scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ann import brute_force_topk, ivf_topk
from .retrieval import bm25_topk


def rrf_fuse(rankings: Sequence[DataFrame], k: int = 10, c: float = 60.0,
             weights: Sequence[float] | None = None,
             query_col: str = "query_id", id_col: str = "doc_id",
             rank_col: str = "rank") -> DataFrame:
    """Fuse ranked lists → (query_id, doc_id, rrf_score, rank).

    Each input carries (query_col, id_col, rank_col) with rank 1 =
    best; a doc absent from a list contributes nothing for it (the
    standard RRF convention). ``rrf_score = Σ_i w_i / (c + rank_i)``
    over the lists containing the doc, rounded to 6 dp (the engine's
    derived-double policy); ties break on doc id ascending so the
    output is total-ordered."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    w = list(weights) if weights is not None else [1.0] * len(rankings)
    if len(w) != len(rankings):
        raise ValueError(
            f"{len(rankings)} rankings but {len(w)} weights")
    parts = []
    for df, wi in zip(rankings, w):
        parts.append(df.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            (F.lit(float(wi))
             / (F.lit(float(c)) + F.col(rank_col).cast("double")))
            .alias("contrib")))
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = (allc.groupBy("query_id", "doc_id")
                 .agg(F.round(F.sum("contrib"), 6).alias("rrf_score")))
    win = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id"))
    return (fused.withColumn("rank", F.row_number().over(win))
                 .filter(F.col("rank") <= k)
                 .select("query_id", "doc_id", "rrf_score", "rank"))


def hybrid_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
                *, fetch_k: int | None = None, c: float = 60.0,
                weights: Sequence[float] = (1.0, 1.0),
                dense: str = "brute",
                text_col: str = "text", vec_col: str = "embedding",
                id_col: str = "doc_id", query_id_col: str = "query_id",
                query_text_col: str = "query_text",
                bm25_k1: float = 1.2, bm25_b: float = 0.75,
                **dense_kwargs) -> DataFrame:
    """BM25 + dense-cosine hybrid retrieval in one call.

    ``docs`` carries text AND embedding per doc; ``queries`` carries
    query text AND embedding. Each leg fetches its own top
    ``fetch_k`` (default 2k — the standard over-fetch so a doc
    near-missing one list can still win the fusion), then RRF
    combines them. ``dense="ivf"`` swaps the exact dense leg for the
    bucketed ANN probe (the corpus-scale path; extra kwargs pass
    through).

    ``dense="index"`` is the SERVING shape (E105 composed with
    E111/E115): the dense leg runs against a persistent cell-
    partitioned index (``index_dir=`` required; ``version=``/
    ``probe_adjacent=`` pass through) instead of re-scanning and
    re-hashing ``docs``' vectors per call — bit-identical ranks to
    ``dense="ivf"`` over the same rows, but the corpus-sized work
    happened once at build time and each call scans only the probed
    partitions. ``dense="index_quantized"`` additionally screens on
    the index's int8 codes tier before the exact rerank (a
    ``quantize=True`` index; inherits that family's degenerate-query
    FILTER behavior where the other legs rank at 0.0 — see
    tests/test_degenerate_contract.py). The embeddings stored in the
    index must be the same rows ``docs`` carries — the index IS the
    dense corpus; ``docs`` feeds only the BM25 leg."""
    fk = fetch_k if fetch_k is not None else 2 * k
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_text_col).alias("query_text"),
                       F.col(vec_col))
    sparse = bm25_topk(docs.select(id_col, text_col), q, k=fk,
                       k1=bm25_k1, b=bm25_b,
                       text_col=text_col, id_col=id_col)
    corpus_v = docs.select(F.col(id_col), F.col(vec_col))
    queries_v = q.select(F.col("query_id").alias(id_col),
                         F.col(vec_col))
    # query ids and doc ids are SEPARATE namespaces here: an
    # accidental id collision must not trigger the retrievers'
    # self-match exclusion and silently drop a neighbor.
    if dense == "brute":
        if dense_kwargs:
            raise TypeError(
                f"dense='brute' takes no extra kwargs, got "
                f"{sorted(dense_kwargs)}")
        dense_hits = brute_force_topk(corpus_v, queries_v, fk,
                                      vec_col=vec_col, id_col=id_col,
                                      exclude_self=False)
    elif dense == "ivf":
        dense_hits = ivf_topk(corpus_v, queries_v, fk,
                              vec_col=vec_col, id_col=id_col,
                              exclude_self=False,
                              **dense_kwargs)
    elif dense in ("index", "index_quantized"):
        from .index import ann_index_search, ann_index_search_quantized

        index_dir = dense_kwargs.pop("index_dir", None)
        if index_dir is None:
            raise ValueError(
                f"dense={dense!r} needs index_dir= (a persistent "
                f"index built over the docs' embeddings)")
        search = (ann_index_search if dense == "index"
                  else ann_index_search_quantized)
        dense_hits = search(docs.sparkSession, index_dir, queries_v, fk,
                            vec_col=vec_col, id_col=id_col,
                            exclude_self=False, **dense_kwargs)
    else:
        raise ValueError(f"unknown dense retriever {dense!r}")
    return rrf_fuse(
        [sparse, dense_hits.withColumnRenamed("neighbor_id", "doc_id")],
        k=k, c=c, weights=weights)
