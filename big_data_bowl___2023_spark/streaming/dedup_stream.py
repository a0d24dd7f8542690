"""Incremental deduplication for continuous ingestion.

The batch dedup stack (dedup/) assumes the corpus is re-scanned per
run; a production ingest pipeline instead sees an unbounded stream of
new documents and must answer "is this new?" without re-pairing the
historical corpus against itself. Three pieces:

* within-stream: ``dropDuplicates`` on the content fingerprint —
  keyed state holds one fingerprint per distinct document;
  ``dropDuplicatesWithinWatermark`` variants bound that state by event
  time when the source provides it.
* against history: a stream-static LEFT ANTI join on the fingerprint
  index (one of the few stream-static join shapes Spark supports
  precisely because it needs no stream-side state buffering — each
  micro-batch probes the static side and moves on). The index is the
  parquet output of a previous batch run; at scale it is
  range-clustered on fingerprint so the probe prunes files.
* near-dup against history: ``incremental_minhash_pairs`` — band the
  new batch and the corpus with the same deterministic signatures and
  join new×corpus only; the corpus is never re-paired against itself.

Batch parity: the same composition over a batch DataFrame is
``exact_dedup`` + anti join, and the parity test compares the two at
the fingerprint level (streaming keeps the first *arrival* per
fingerprint; batch keeps the min id — same set of survivors, which is
the contract that matters for corpus membership).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dedup import minhash as MH
from ..dedup.ngram import shingle_docs
from ..functions import text as Tx
from ..session import pin


def _stage_dir(sf_dir: str, name: str) -> str:
    """File-source streams monitor a directory; symlink the single
    parquet into a stable per-input temp dir (no copy)."""
    import hashlib
    import os
    src = os.path.abspath(f"{sf_dir}/{name}.parquet")
    d = os.path.join(
        "/tmp",
        f"spark_stream_{hashlib.md5(src.encode()).hexdigest()[:10]}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, name + ".parquet")
    if not os.path.exists(link):
        try:
            os.symlink(src, link)
        except OSError:
            import shutil
            shutil.copyfile(src, link)
    return d


def read_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over documents.parquet. The schema is pinned
    from one footer read (streams require an explicit schema — no
    inference job)."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (spark.readStream
            .schema(schema)
            .parquet(_stage_dir(sf_dir, "documents")))


def fingerprint_index(docs: DataFrame) -> DataFrame:
    """The historical membership index: distinct content fingerprints
    of everything already ingested. Persist with
    ``write_parquet_clustered(..., ["fingerprint"])`` so stream-side
    probes skip files."""
    return (docs.select(Tx.fingerprint(F.col("text")).alias("fingerprint"))
                .distinct())


def incremental_dedup(new_docs: DataFrame,
                      history: DataFrame | None = None) -> DataFrame:
    """New-and-novel documents only: first occurrence per fingerprint
    within the batch/stream, minus anything whose fingerprint is in
    the historical index. Works identically on a streaming or batch
    ``new_docs`` — the plan is a stateful dropDuplicates plus a
    stream-static (or batch) anti join."""
    fp = new_docs.withColumn("fingerprint",
                             Tx.fingerprint(F.col("text")))
    deduped = fp.dropDuplicates(["fingerprint"])
    if history is not None:
        deduped = deduped.join(history, "fingerprint", "left_anti")
    return deduped


def incremental_dedup_watermarked(stream_df: DataFrame, ts_col: str,
                                  delay: str,
                                  text_col: str = "text") -> DataFrame:
    """Within-stream dedup with BOUNDED state.

    Plain ``dropDuplicates`` keeps one state entry per distinct
    fingerprint forever — unbounded on an unbounded stream.
    ``dropDuplicatesWithinWatermark`` evicts an entry once the
    watermark passes its event time + delay, so state size is bounded
    by the distinct-fingerprint rate within the watermark horizon.
    The contract weakens accordingly: duplicates arriving within
    ``delay`` of each other are dropped; a duplicate arriving after
    its predecessor's state was evicted is emitted again (downstream
    reconciles against the historical index, which is exactly what
    ``incremental_dedup``'s anti join does)."""
    fp = stream_df.withColumn("fingerprint",
                              Tx.fingerprint(F.col(text_col)))
    return (fp.withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark(["fingerprint"]))


def incremental_minhash_pairs(new_docs: DataFrame, corpus: DataFrame,
                              threshold: float,
                              num_perms: int = MH.DEFAULT_PERMS,
                              bands: int = MH.DEFAULT_BANDS) -> DataFrame:
    """Near-dup pairs between an ingest batch and the existing corpus
    WITHOUT re-pairing the corpus against itself.

    The full-corpus band join is O(collisions(n_corpus + n_new)²-ish)
    work every run; incremental ingest only needs the cross term. Both
    sides are banded with the same deterministic md5 signatures (so a
    doc's band keys never change between runs — at scale the corpus
    band table is a precomputed parquet artifact, not recomputed here),
    then one new×corpus equi-join on (band, band_hash) yields the
    candidates and exact Jaccard verification touches only those.

    Output: (doc_new, doc_corpus, jaccard) — every batch doc paired
    with the corpus docs it near-duplicates, for route-to-reject or
    cluster-attach downstream. Pairs are cross-side only by
    construction; same-side dups are ``incremental_dedup`` (exact) or
    the batch stack run once over the small batch.

    The shingle and signature tables are each read twice (banding and
    verification), so each is pinned; the pins free their blocks when
    the returned frame is garbage-collected."""
    sh_new = pin(shingle_docs(new_docs))
    sh_old = pin(shingle_docs(corpus))
    sig_new = pin(_signatures_from_shingles(sh_new, num_perms))
    sig_old = pin(_signatures_from_shingles(sh_old, num_perms))

    bn = MH._band_df(sig_new, num_perms, bands)
    bo = MH._band_df(sig_old, num_perms, bands)
    cand = (bn.select(F.col("doc_id").alias("doc_new"), "band", "bh")
            .join(bo.select(F.col("doc_id").alias("doc_corpus"),
                            "band", "bh"),
                  ["band", "bh"])
            .select("doc_new", "doc_corpus")
            .distinct())

    sa = sh_new.select(F.col("doc_id").alias("doc_new"),
                       F.col("shingle").alias("s"))
    sb = sh_old.select(F.col("doc_id").alias("doc_corpus"),
                       F.col("shingle").alias("s"))
    shared = (cand.join(sa, "doc_new").join(sb, ["doc_corpus", "s"])
              .groupBy("doc_new", "doc_corpus")
              .agg(F.count(F.lit(1)).alias("shared")))

    na = sig_new.select(F.col("doc_id").alias("doc_new"),
                        F.col("n_sh").alias("n_a"))
    nb = sig_old.select(F.col("doc_id").alias("doc_corpus"),
                        F.col("n_sh").alias("n_b"))
    j = (F.col("shared")
         / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"))
    return (shared.join(na, "doc_new").join(nb, "doc_corpus")
            .filter(j >= F.lit(threshold))
            .select("doc_new", "doc_corpus",
                    F.round(j, 6).alias("jaccard")))


def _signatures_from_shingles(sh: DataFrame, num_perms: int) -> DataFrame:
    """Signature agg over an existing shingle table (lets the shingle
    scan be shared between banding and verification)."""
    aggs = [F.min(F.md5(F.encode(F.concat(F.lit(str(i)), F.col("shingle")),
                                 "UTF-8"))).alias(f"h{i}")
            for i in range(num_perms)]
    aggs.append(F.count(F.lit(1)).alias("n_sh"))
    return sh.groupBy("doc_id").agg(*aggs)
