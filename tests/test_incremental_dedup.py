"""E24 — incremental dedup for continuous ingestion.

Contracts:
* batch ``incremental_dedup``: within-batch first-per-fingerprint plus
  anti-join against a historical index (hand fixture);
* streaming ``incremental_dedup`` over a file stream matches the batch
  composition at the fingerprint level (stream/batch parity);
* ``incremental_minhash_pairs`` (new-batch × corpus band join) finds
  exactly the cross-side pairs the full-corpus band join would — the
  corpus is never re-paired against itself, with zero recall loss on
  the cross term (signatures are deterministic, so band keys are
  stable across runs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_bowl___2023_spark.dedup.minhash import minhash_band_pairs
from big_data_bowl___2023_spark.streaming import (
    fingerprint_index,
    incremental_dedup,
    incremental_minhash_pairs,
    read_document_stream,
    run_available_now,
)

THRESHOLD = 0.3


def test_incremental_dedup_batch_fixture(spark):
    history_docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "already seen text")],
        ["doc_id", "text"])
    new_docs = spark.createDataFrame(
        [(10, "brand new document"),
         (11, "brand  new   DOCUMENT"),   # normalizes to same fingerprint
         (12, "already seen text"),       # duplicate of history doc 2
         (13, "another novel one")],
        ["doc_id", "text"])
    hist = fingerprint_index(history_docs)

    out = incremental_dedup(new_docs, hist)
    survivors = {r.doc_id for r in out.collect()}
    # one of {10, 11} (same fingerprint — batch keeps an arbitrary
    # first), never 12 (in history), always 13
    assert 13 in survivors
    assert 12 not in survivors
    assert len(survivors & {10, 11}) == 1
    assert len(survivors) == 2  # exactly one of 10/11, plus 13
    # no history: within-batch dedup only
    no_hist = {r.doc_id for r in incremental_dedup(new_docs).collect()}
    assert 12 in no_hist and 13 in no_hist
    assert len(no_hist) == 3


def test_incremental_dedup_stream_batch_parity(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    history = docs.filter(F.col("doc_id") % 5 == 0)
    hist_idx = fingerprint_index(history).cache()
    hist_idx.count()

    stream = read_document_stream(spark, sf_dir)
    streamed = run_available_now(
        incremental_dedup(stream, hist_idx), spark, output_mode="append")
    batch = incremental_dedup(docs, hist_idx)

    s_fp = {r.fingerprint for r in streamed.select("fingerprint").collect()}
    b_fp = {r.fingerprint for r in batch.select("fingerprint").collect()}
    assert s_fp == b_fp
    assert len(s_fp) > 0


def test_incremental_minhash_matches_full_cross_pairs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    inc = {(r.doc_new, r.doc_corpus, r.jaccard)
           for r in incremental_minhash_pairs(new, corpus,
                                              THRESHOLD).collect()}

    full = minhash_band_pairs(docs, THRESHOLD).collect()
    expected = {
        (r.doc_a, r.doc_b, r.jaccard) if r.doc_a % 2 == 1
        else (r.doc_b, r.doc_a, r.jaccard)
        for r in full if (r.doc_a % 2) != (r.doc_b % 2)}
    assert inc == expected
    assert len(inc) > 0


def test_incremental_minhash_leaves_no_cached_relations(spark, sf_dir):
    """Repeated calls (one per ingest batch) register nothing with the
    session's cache manager — the intermediates are pinned, not
    ``.cache()``d and forgotten — and return the same pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()

    runs = [{tuple(r) for r in
             incremental_minhash_pairs(new, corpus, THRESHOLD).collect()}
            for _ in range(2)]

    assert cache.cachedData().size() == before
    assert runs[0] == runs[1] and len(runs[0]) > 0
