"""The loop's accounting: a corrupted result counts as a failed
operation, and the tail percentile keeps ten samples beyond it."""

from __future__ import annotations

import gen
import harness
from spans import Tracer
from workloads.stream_ingest import check_curated


def test_tail_keeps_ten_beyond():
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    value, pct = harness.tail([float(i) for i in range(1, 41)])
    assert value == 30.0 and pct == 75.0
    assert sum(v > value for v in range(1, 41)) == 10


class _CuratedSnapshots:
    """Hands the harness each batch's curated corpus as computed by a
    correct ingest loop, except batch 1, where one planted cross-batch
    repeat is slipped in."""
    name = "corrupt"

    def __init__(self):
        self.batches = gen.StreamBatches(3, batch_docs=40)
        self.kept: dict[int, str] = {}

    def start_phase(self):
        pass

    def offer(self, i):
        return self.batches.batch(i), 40

    def operate(self, table, i, tracer):
        seen = {gen.text_fingerprint(t) for t in self.kept.values()}
        bad = self.batches.repeats[i] | self.batches.contaminated \
            | self.batches.gopher_fail
        for d, t in zip(table.column("doc_id").to_pylist(),
                        table.column("text").to_pylist()):
            fp = gen.text_fingerprint(t)
            if d not in bad and fp not in seen:
                self.kept[d] = t
                seen.add(fp)
        ids, texts = list(self.kept), list(self.kept.values())
        if i == 1:
            rep = min(self.batches.repeats[1])
            ids.append(rep)
            texts.append("corrupted copy")
        return {"ids": ids, "texts": texts}

    def check(self, i, res):
        check_curated(res["ids"], res["texts"], self.batches, i)


def test_corrupted_result_counts_in_failed_frac():
    ph = harness.run_phase(_CuratedSnapshots(), Tracer(False), None,
                           None, n_ops=3)
    assert (ph.attempted, ph.failed) == (3, 1)
    out = harness.result_object({"x": 1.0}, {"x": "s"}, ph.attempted,
                                ph.failed)
    assert out["correct"] is False
    assert out["failed"] / out["attempted"] == 1 / 3
