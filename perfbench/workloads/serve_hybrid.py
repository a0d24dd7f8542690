"""``serve_hybrid``: one request is one
``similarity.fusion.hybrid_topk(dense="index")`` call over a seeded
batch of held-out queries, against a corpus parquet and a quantized
ANN index built during set-up.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import expect
from spans import Tracer

DOCS = 4_000
K = 10
FETCH_K = 2 * K           # hybrid_topk's default over-fetch per leg
PER_REQUEST = 8
WARMUP_REQUESTS = 2
WARMUP_OFFSET = 1_000_000
QUERY_SCHEMA = "query_id long, query_text string, embedding array<float>"


def numpy_topk(cos: np.ndarray, ids: np.ndarray,
               k: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, cosines) of the exact cosine top-k, best first."""
    order = np.lexsort((ids, -cos))[:k]
    return ids[order], cos[order]


def same_topk(got: list[int], ref_ids: np.ndarray, ref_cos: np.ndarray,
              cos: np.ndarray, tol: float = 1e-6) -> bool:
    """``got`` is a valid top-k given the reference: every returned id
    scores within ``tol`` of the k-th best, and every reference id
    clearly above the k-th best is returned. ``cos`` is indexed by
    doc id (the corpus ids are 0..n-1)."""
    kth = ref_cos[-1]
    return (len(got) == len(ref_ids)
            and all(cos[g] >= kth - tol for g in got)
            and {int(i) for i, c in zip(ref_ids, ref_cos)
                 if c > kth + tol} <= set(got))


class ServeHybrid:
    name = "serve_hybrid"
    traced_ops = 4

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.build_s = 0.0

    def prepare(self, d: str) -> None:
        g = gen.hybrid_corpus(self.seed, n_docs=DOCS)
        os.makedirs(d)
        self.corpus_path = os.path.join(d, "corpus")
        self.index_dir = os.path.join(d, "index")
        os.makedirs(self.corpus_path)
        pq.write_table(g["corpus"],
                       os.path.join(self.corpus_path, "part-0.parquet"))
        self.gen = g
        self.props = {**g["props"], "queries_per_request": PER_REQUEST,
                      "k": K}
        c = g["corpus"]
        self.ids = c.column("doc_id").to_numpy()
        vecs = np.stack(c.column("embedding").to_numpy(
            zero_copy_only=False)).astype(np.float64)
        self.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        self.words = [set(t.split(" ")) for t in
                      c.column("text").to_pylist()]
        q = g["queries"]
        self.q_ids = q.column("query_id").to_numpy()
        self.q_vecs = np.stack(q.column("embedding").to_numpy(
            zero_copy_only=False)).astype(np.float64)
        self.q_words = [set(t.split(" ")) for t in
                        q.column("query_text").to_pylist()]

    def build(self) -> None:
        """The quantized ANN index over the corpus (serving state)."""
        from big_data_bowl___2023_spark.similarity import build_ann_index

        t0 = time.perf_counter()
        build_ann_index(self.spark.read.parquet(self.corpus_path)
                        .select("doc_id", "embedding"),
                        self.index_dir, id_col="doc_id", quantize=True)
        self.build_s = time.perf_counter() - t0

    def warmup(self) -> None:
        """Requests from a range the measured phases never use."""
        self.start_phase()
        for i in range(WARMUP_OFFSET, WARMUP_OFFSET + WARMUP_REQUESTS):
            payload, _ = self.offer(i)
            self.check(i, self.operate(payload, i, Tracer(False)))

    def _check_dense_leg(self, rows: np.ndarray, dense) -> None:
        """The dense leg's top-k of every query in a traced request
        equals the numpy brute-force cosine top-k."""
        got: dict[int, list] = {}
        for r in dense.orderBy("query_id", "rank").collect():
            got.setdefault(r.query_id, []).append(r.neighbor_id)
        for j in rows:
            cos = self._cosines(j)
            ids, top = numpy_topk(cos, self.ids, FETCH_K)
            expect(same_topk(got.get(int(self.q_ids[j]), []), ids, top,
                             cos),
                   f"dense leg top-{FETCH_K} of query {self.q_ids[j]} "
                   f"differs from numpy brute force")

    def _cosines(self, j: int) -> np.ndarray:
        return self.unit @ (self.q_vecs[j] / np.linalg.norm(self.q_vecs[j]))

    def start_phase(self) -> None:
        self.corpus = self.spark.read.parquet(self.corpus_path)

    def _queries(self, rows: np.ndarray):
        q = self.gen["queries"].take(rows)
        return self.spark.createDataFrame(q.to_pandas(),
                                          schema=QUERY_SCHEMA)

    def offer(self, i: int):
        rows = gen.request_queries(self.seed, i, len(self.q_ids),
                                   PER_REQUEST)
        self.rows = rows
        return self._queries(rows), PER_REQUEST

    def operate(self, queries, i: int, tracer) -> dict:
        from big_data_bowl___2023_spark.similarity.fusion import (
            hybrid_topk,
        )

        res = {"rows": self.rows}
        if tracer.enabled:
            fused, res["dense"] = self._traced_legs(queries, tracer)
        else:
            fused = hybrid_topk(self.corpus, queries, k=K, dense="index",
                                index_dir=self.index_dir).collect()
        res["fused"] = sorted((r.query_id, r.rank, r.doc_id, r.rrf_score)
                              for r in fused)
        return res

    def _traced_legs(self, queries, tr) -> tuple:
        """``hybrid_topk(dense="index")``'s three calls with its
        arguments, each leg pinned inside its own span; returns the
        fused rows and the pinned dense leg."""
        from pyspark.sql import functions as F

        from big_data_bowl___2023_spark.session import pin
        from big_data_bowl___2023_spark.similarity import ann_index_search
        from big_data_bowl___2023_spark.similarity.fusion import rrf_fuse
        from big_data_bowl___2023_spark.similarity.retrieval import (
            bm25_topk,
        )

        q = queries.select("query_id", "query_text", "embedding")
        with tr.span("similarity.bm25_topk"):
            sparse = pin(bm25_topk(self.corpus.select("doc_id", "text"),
                                   q, k=FETCH_K, k1=1.2, b=0.75,
                                   text_col="text", id_col="doc_id"))
        with tr.span("similarity.ann_index_search"):
            dense = pin(ann_index_search(
                self.spark, self.index_dir,
                q.select(F.col("query_id").alias("doc_id"), "embedding"),
                FETCH_K, vec_col="embedding", id_col="doc_id",
                exclude_self=False))
        with tr.span("similarity.rrf_fuse"):
            fused = rrf_fuse(
                [sparse, dense.withColumnRenamed("neighbor_id", "doc_id")],
                k=K, c=60.0, weights=(1.0, 1.0)).collect()
        return fused, dense

    def check(self, i: int, res: dict) -> None:
        """Per query: exactly k ranked, distinct, score-ordered hits;
        each hit is in the numpy dense top-k or shares a query word
        (a BM25 hit); and the fusion kept at least one dense hit. A
        traced request also checks its dense leg against numpy."""
        if "dense" in res:
            self._check_dense_leg(res["rows"], res.pop("dense"))
        by_q: dict[int, list] = {}
        for qid, rank, doc, score in res["fused"]:
            by_q.setdefault(qid, []).append((rank, doc, score))
        expect(set(by_q) == {int(self.q_ids[j]) for j in res["rows"]},
               "fused result does not cover the request's queries")
        for j in res["rows"]:
            hits = by_q[int(self.q_ids[j])]
            docs = [d for _, d, _ in hits]
            scores = [s for _, _, s in hits]
            expect([r for r, _, _ in hits] == list(range(1, K + 1)),
                   "ranks are not 1..k")
            expect(len(set(docs)) == K, "a doc is ranked twice")
            expect(all(a >= b for a, b in zip(scores, scores[1:])),
                   "scores are not ordered")
            cos = self._cosines(j)
            kth = np.sort(cos)[-FETCH_K] - 1e-6
            dense = {d for d in docs if cos[d] >= kth}
            expect(dense, "no dense-leg hit survived the fusion")
            for d in set(docs) - dense:
                expect(self.words[d] & self.q_words[j],
                       f"doc {d} is neither a dense nor a BM25 hit")

    def same_result(self, a: dict, b: dict) -> bool:
        return [r[:3] for r in a["fused"]] == [r[:3] for r in b["fused"]]

    def layers(self, tracer, phase) -> dict:
        out = {f"{n}_s": statistics.mean(tracer.per_operation(n))
               for n in ("similarity.bm25_topk",
                         "similarity.ann_index_search",
                         "similarity.rrf_fuse")}
        rows = sum(len(r["fused"]) for r in phase.results)
        out["similarity.rows_examined_per_result"] = sum(
            c.input_rows for c in phase.counters) / max(rows, 1)
        out["similarity.build_ann_index_s"] = self.build_s
        return out

