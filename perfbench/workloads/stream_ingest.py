"""``stream_ingest``: one micro-batch through the function returned by
``streaming.curation.make_curation_ingest_batch_fn``. Every measured
phase starts from a fresh state tree that batch 0 bootstraps untimed,
so each timed batch runs against history; a batch is done when the
function returns with its durable commit.
"""

from __future__ import annotations

import os
import shutil
import statistics

import pyarrow.parquet as pq

import gen
from harness import expect
from spans import Tracer

MIN_WORDS = 20
BATCH_DOCS = 250
WARMUP_BATCHES = 1


def tree_files(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class StreamIngest:
    name = "stream_ingest"
    traced_ops = 8

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.phase = 0

    def prepare(self, d: str) -> None:
        self.batches = gen.StreamBatches(self.seed, BATCH_DOCS)
        os.makedirs(d)
        bench = os.path.join(d, "bench.parquet")
        pq.write_table(self.batches.bench_table(), bench)
        self.dir = d
        self.props = self.batches.props()

    def build(self) -> None:
        pass

    def warmup(self) -> None:
        """Bootstrap plus ``WARMUP_BATCHES`` batches against history,
        from a separate seed, into a throwaway state tree."""
        real = self.batches
        self.batches = gen.StreamBatches(self.seed + 1_000_003, BATCH_DOCS,
                                         bench=real.bench)
        try:
            self.start_phase()
            for i in range(WARMUP_BATCHES):
                payload, _ = self.offer(i)
                self.check(i, self.operate(payload, i, Tracer(False)))
        finally:
            self.batches = real

    def start_phase(self) -> None:
        from big_data_bowl___2023_spark.streaming.curation import (
            make_curation_ingest_batch_fn,
        )

        self.phase += 1
        if self.phase > 1:
            shutil.rmtree(self.state, ignore_errors=True)
        self.state = os.path.join(self.dir, f"state{self.phase}")
        bench = self.spark.read.parquet(
            os.path.join(self.dir, "bench.parquet"))
        self.fn = make_curation_ingest_batch_fn(
            os.path.join(self.state, "curated"),
            os.path.join(self.state, "fps"),
            benchmark=bench, min_words=MIN_WORDS)
        self.seen: set[int] = set()
        payload, _ = self.offer(-1)
        self.check(-1, self.operate(payload, -1, Tracer(False)))
        self.files = tree_files(self.state)

    def offer(self, i: int):
        """Timed operation ``i`` ingests batch ``i + 1``."""
        table = self.batches.batch(i + 1)
        df = self.spark.createDataFrame(table.to_pandas())
        self.offered = table.num_rows
        self.in_bytes = sum(len(t) for t in table.column("text")
                            .to_pylist())
        return df, table.num_rows

    def operate(self, batch_df, i: int, tracer) -> dict:
        with tracer.span("streaming.curation.ingest_batch"):
            self.fn(batch_df, i + 1)
        res = {"batch": i + 1, "offered": self.offered}
        if tracer.enabled:
            files, size = tree_files(self.state)
            res["files_written"] = files - self.files[0]
            res["bytes_written"] = size - self.files[1]
            res["in_bytes"] = self.in_bytes
            res["state_files"] = files
            self.files = (files, size)
        return res

    def check(self, i: int, res: dict) -> None:
        """The curated corpus, read without the engine, holds no two
        docs with one fingerprint, and none of the planted cross-batch
        repeats, contaminated or Gopher-failing docs."""
        corpus = pq.read_table(os.path.join(self.state, "curated"),
                               columns=["doc_id", "text"])
        ids = corpus.column("doc_id").to_pylist()
        res["kept"] = len(ids) - len(self.seen)
        self.seen = set(ids)
        check_curated(ids, corpus.column("text").to_pylist(),
                      self.batches, i + 1)
        res["curated_ids"] = len(ids)

    def same_result(self, a: dict, b: dict) -> bool:
        return a.get("curated_ids") == b.get("curated_ids")

    def layers(self, tracer, phase) -> dict:
        res = phase.results
        lat = phase.latencies
        q = max(len(lat) // 4, 1)
        return {
            "streaming.curation.keep_frac":
                sum(r["kept"] for r in res) / sum(r["offered"] for r in res),
            "streaming.curation.batch_growth":
                statistics.median(lat[-q:]) / statistics.median(lat[:q]),
            "sources.files_written":
                statistics.mean(r["files_written"] for r in res),
            "sources.bytes_written_per_input_byte":
                sum(r["bytes_written"] for r in res)
                / sum(r["in_bytes"] for r in res),
            "sources.state_files": res[-1]["state_files"],
        }


def check_curated(ids: list[int], texts: list[str], batches,
                  upto: int) -> None:
    expect(len(ids) == len(set(ids)), "a doc id was curated twice")
    fps = [gen.text_fingerprint(t) for t in texts]
    expect(len(set(fps)) == len(fps),
           f"{len(fps) - len(set(fps))} curated docs share a fingerprint")
    got = set(ids)
    for b in range(upto + 1):
        bad = got & batches.repeats[b]
        expect(not bad, f"{len(bad)} cross-batch repeats of batch {b} "
               f"were kept")
    expect(not got & batches.contaminated, "a contaminated doc was kept")
    expect(not got & batches.gopher_fail, "a Gopher-failing doc was kept")
