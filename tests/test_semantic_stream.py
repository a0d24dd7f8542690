"""The streaming SemDeDup face (round 9, E102): a foreachBatch loop
that semantically dedups embedding micro-batches under a FROZEN
codebook artifact — within each batch and against the accumulated
corpus — with durable-artifact state (corpus dir + codebook file),
replay idempotency, and the same keeper rule as batch semantic_dedup.
Processor invoked directly (the foreachBatch contract) plus one real
availableNow stream run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.dedup.embedding import _normalized
from big_data_bowl___2023_spark.dedup.semantic import semantic_dedup
from big_data_bowl___2023_spark.similarity.pq import load_codebooks
from big_data_bowl___2023_spark.sources.io import load_table
from big_data_bowl___2023_spark.streaming.semantic_stream import (
    compact_semantic_corpus,
    make_semantic_ingest_batch_fn,
    pairs_with_centroids,
)

THRESH = 0.4


def _batches(spark, sf_dir, n=3):
    emb = load_table(spark, sf_dir, "embeddings")
    return [emb.filter(F.col("vec_id") % n == i).cache()
            for i in range(n)]


def test_pairs_with_centroids_matches_semantic_dup_pairs(spark, sf_dir):
    """With the codebook trained the same way, the frozen-centroid
    pair kernel IS semantic_dup_pairs minus training."""
    from big_data_bowl___2023_spark.dedup.semantic import (
        scaled_k,
        semantic_dup_pairs,
    )
    from big_data_bowl___2023_spark.similarity.pq import train_pq

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cents = train_pq(emb, dim=64, m=1, k=scaled_k(n), n_iters=4)[0]
    a = {(r.vec_a, r.vec_b, r.cosine) for r in
         semantic_dup_pairs(emb, THRESH, dim=64).collect()}
    b = {(r.vec_a, r.vec_b, r.cosine) for r in
         pairs_with_centroids(emb, cents, THRESH).collect()}
    assert a == b and a


def test_semantic_ingest_loop_three_batches(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    cb = str(tmp_path / "codebook.json")
    process = make_semantic_ingest_batch_fn(out, cb, THRESH, dim=64)
    batches = _batches(spark, sf_dir)
    for i, b in enumerate(batches):
        process(b, i)

    corpus = spark.read.parquet(out)
    n_corpus = corpus.count()
    n_input = sum(b.count() for b in batches)
    assert 0 < n_corpus < n_input        # something survived, something deduped

    # the SemDeDup invariant under the frozen codebook: NO surviving
    # within-cluster pair remains at/above threshold
    cents = load_codebooks(spark, cb)[0]
    leftover = pairs_with_centroids(corpus, cents, THRESH).count()
    assert leftover == 0

    # every dropped id has a witness: a surviving (or earlier-batch)
    # same-cluster member at/above threshold — checked via the full
    # input's frozen-codebook pair graph
    emb = load_table(spark, sf_dir, "embeddings")
    all_pairs = pairs_with_centroids(emb, cents, THRESH).collect()
    witnesses = {}
    for r in all_pairs:
        witnesses.setdefault(r.vec_a, set()).add(r.vec_b)
        witnesses.setdefault(r.vec_b, set()).add(r.vec_a)
    kept = {r.vec_id for r in corpus.select("vec_id").collect()}
    dropped = ({r.vec_id for r in emb.select("vec_id").collect()}
               - kept)
    assert dropped
    for d in dropped:
        assert witnesses.get(d), f"dropped {d} with no near-dup witness"


def test_semantic_ingest_replay_is_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    cb = str(tmp_path / "codebook.json")
    process = make_semantic_ingest_batch_fn(out, cb, THRESH, dim=64)
    b0, b1, _ = _batches(spark, sf_dir)
    process(b0, 0)
    process(b1, 1)
    before = {r.vec_id for r in
              spark.read.parquet(out).select("vec_id").collect()}
    process(b1, 2)                       # replayed batch
    after = {r.vec_id for r in
             spark.read.parquet(out).select("vec_id").collect()}
    assert before == after


def test_semantic_ingest_bootstrap_matches_batch_dedup(spark, sf_dir,
                                                       tmp_path):
    """Batch 1 alone == batch semantic_dedup of the same data (same
    training knobs, same keeper rule)."""
    out = str(tmp_path / "corpus")
    cb = str(tmp_path / "codebook.json")
    b0 = _batches(spark, sf_dir)[0]
    make_semantic_ingest_batch_fn(out, cb, THRESH, dim=64)(b0, 0)
    got = {r.vec_id for r in
           spark.read.parquet(out).select("vec_id").collect()}
    want = {r.vec_id for r in
            semantic_dedup(b0, THRESH, dim=64)
            .select("vec_id").collect()}
    assert got == want and got


def test_semantic_ingest_kernels_agree(spark, sf_dir, tmp_path,
                                       monkeypatch):
    """The two candidate-screen kernels (the gathered-matrix screen,
    the default at this size, and the id-keyed join screen past the
    gather ceiling) produce the identical corpus."""
    from big_data_bowl___2023_spark.dedup import embedding

    outs = []
    for tag in ("gather", "join"):
        if tag == "join":
            monkeypatch.setattr(embedding, "GATHER_CEILING_ROWS", 0)
        out = str(tmp_path / f"corpus_{tag}")
        cb = str(tmp_path / f"cb_{tag}.json")
        process = make_semantic_ingest_batch_fn(out, cb, THRESH,
                                                dim=64)
        for i, b in enumerate(_batches(spark, sf_dir)):
            process(b, i)
        outs.append({r.vec_id for r in
                     spark.read.parquet(out).select("vec_id").collect()})
    assert outs[0] == outs[1] and outs[0]


def _angle_vec(deg):
    import math
    r = math.radians(deg)
    return [math.cos(r), math.sin(r)]


def test_semantic_ingest_replay_chain_stays_dropped(spark, tmp_path):
    """The dropped-ids index makes redelivery idempotent for
    transitive chains: keep A of A~B~C (B, C dropped), replay the
    batch — without the index, C's witness B is gone from every
    surface and C would slip in; with it, the replay is a no-op."""
    out = str(tmp_path / "corpus")
    cb = str(tmp_path / "cb.json")
    t = 0.75
    b0 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [-1.0, 0.0])],
        "vec_id long, embedding array<double>")
    # all three land in the [1,0] cluster, none within threshold of
    # the corpus points; cos(A,B)=cos40≈.766, cos(B,C)=cos5≈.996,
    # cos(A,C)=cos45≈.707 < t — the A~B~C chain with no A~C edge
    b1 = spark.createDataFrame(
        [(10, _angle_vec(44)), (11, _angle_vec(84)),
         (12, _angle_vec(89))],
        "vec_id long, embedding array<double>")
    process = make_semantic_ingest_batch_fn(out, cb, t, dim=2)
    process(b0, 0)
    process(b1, 1)
    kept = {r.vec_id for r in
            spark.read.parquet(out).select("vec_id").collect()}
    assert kept == {1, 2, 10}            # A kept, B and C dropped
    process(b1, 2)                       # redelivery
    kept_after = {r.vec_id for r in
                  spark.read.parquet(out).select("vec_id").collect()}
    assert kept_after == {1, 2, 10}      # C must NOT slip in
    dropped = {r.vec_id for r in spark.read.parquet(
        out + "_dropped").select("vec_id").collect()}
    assert dropped == {11, 12}


def test_semantic_ingest_empty_bootstrap_is_noop(spark, sf_dir,
                                                 tmp_path):
    """An empty first micro-batch must not freeze a zero-centroid
    codebook — the loop stays un-bootstrapped until real data."""
    out = str(tmp_path / "corpus")
    cb = str(tmp_path / "cb.json")
    process = make_semantic_ingest_batch_fn(out, cb, THRESH, dim=64)
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    process(empty, 0)
    import os
    assert not os.path.exists(out) and not os.path.exists(cb)
    b0 = _batches(spark, sf_dir)[0]
    process(b0, 1)                       # real bootstrap still works
    assert spark.read.parquet(out).count() > 0
    assert load_codebooks(spark, cb)[0]


def test_compaction_recovers_cross_boundary_dups(spark, sf_dir,
                                                 tmp_path):
    """The bronze→silver pass: after the ingest loop, compaction
    retrains and re-dedups the whole corpus — its output equals the
    batch semantic_dedup of the accumulated corpus (same knobs), the
    dropped index is reset to the compaction's drops, and a second
    compaction is a no-op (idempotent)."""
    out = str(tmp_path / "corpus")
    cb = str(tmp_path / "cb.json")
    process = make_semantic_ingest_batch_fn(out, cb, THRESH, dim=64)
    for i, b in enumerate(_batches(spark, sf_dir)):
        process(b, i)
    # snapshot BEFORE compacting: the overwrite of out invalidates
    # any cached plan reading that path, so post-compaction reads of
    # `accumulated` would silently see the NEW dir
    acc_rows = spark.read.parquet(out).collect()
    acc_ids = {r.vec_id for r in acc_rows}
    accumulated = spark.createDataFrame(
        acc_rows, spark.read.parquet(out).schema).cache()

    stats = compact_semantic_corpus(spark, out, cb, THRESH, dim=64)
    assert stats["before"] == len(acc_ids)
    assert stats["after"] == stats["before"] - stats["dropped"]

    got = {r.vec_id for r in
           spark.read.parquet(out).select("vec_id").collect()}
    want = {r.vec_id for r in
            semantic_dedup(accumulated, THRESH, dim=64)
            .select("vec_id").collect()}
    assert got == want and got
    # the dropped index is the UNION of ingest-time and compaction
    # drops = every id ever ingested minus the kept set (ingest drops
    # must survive compaction or a later redelivery re-adjudicates
    # them against a corpus missing their witnesses)
    all_ids = {r.vec_id for b in _batches(spark, sf_dir)
               for r in b.select("vec_id").collect()}
    dropped = {r.vec_id for r in spark.read.parquet(
        out + "_dropped").select("vec_id").collect()}
    assert dropped == all_ids - got
    # the temp copy is removed once the swap commits
    import os
    assert not os.path.exists(out + "__new")
    # fresh codebook invariant: zero leftover within-cluster pairs
    cents = load_codebooks(spark, cb)[0]
    assert pairs_with_centroids(
        spark.read.parquet(out), cents, THRESH).count() == 0
    # re-running is safe and monotone: the next pass starts from the
    # previous output; it MAY drop more (its retrained codebook can
    # expose pairs the previous boundaries hid) but never grows
    again = compact_semantic_corpus(spark, out, cb, THRESH, dim=64)
    assert again["before"] == stats["after"]
    assert 0 <= again["dropped"] <= again["before"]
    assert again["after"] == again["before"] - again["dropped"]


def test_redelivery_after_compaction_stays_dropped(spark, tmp_path):
    """The review scenario the union fix closes: ingest drops B and C
    of the chain A~B~C, compaction retrains (possibly moving A across
    a boundary from C), then the batch is REDELIVERED — without the
    surviving ingest-drop records, C would be re-adjudicated against
    a corpus missing its witness B."""
    out = str(tmp_path / "corpus")
    cb = str(tmp_path / "cb.json")
    t = 0.75
    b0 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [-1.0, 0.0])],
        "vec_id long, embedding array<double>")
    b1 = spark.createDataFrame(
        [(10, _angle_vec(44)), (11, _angle_vec(84)),
         (12, _angle_vec(89))],
        "vec_id long, embedding array<double>")
    process = make_semantic_ingest_batch_fn(out, cb, t, dim=2)
    process(b0, 0)
    process(b1, 1)
    compact_semantic_corpus(spark, out, cb, t, dim=2)
    kept = {r.vec_id for r in
            spark.read.parquet(out).select("vec_id").collect()}
    process(b1, 2)                       # redelivery post-compaction
    kept_after = {r.vec_id for r in
                  spark.read.parquet(out).select("vec_id").collect()}
    assert kept_after == kept
    dropped = {r.vec_id for r in spark.read.parquet(
        out + "_dropped").select("vec_id").collect()}
    assert {11, 12} <= dropped           # ingest drops survived


def test_ingest_heals_corpus_parked_by_crashed_compaction(spark,
                                                         tmp_path):
    """A compaction that died mid-swap parks the corpus and the
    dropped index at ``__bak``. The next ingest batch restores both
    before reading them: it dedups against the pre-crash corpus
    instead of re-bootstrapping (the codebook file is unchanged), and
    a redelivered dropped id stays dropped."""
    import os

    out = str(tmp_path / "corpus")
    cb = str(tmp_path / "cb.json")
    t = 0.75
    b0 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [-1.0, 0.0])],
        "vec_id long, embedding array<double>")
    b1 = spark.createDataFrame(
        [(10, _angle_vec(44)), (11, _angle_vec(84)),
         (12, _angle_vec(89))],
        "vec_id long, embedding array<double>")
    process = make_semantic_ingest_batch_fn(out, cb, t, dim=2)
    process(b0, 0)
    process(b1, 1)
    with open(cb, "rb") as fh:
        codebook = fh.read()
    # the mid-swap crash: both live dirs gone, their state parked
    os.rename(out, out + "__bak")
    os.rename(out + "_dropped", out + "_dropped__bak")

    # 11 is a redelivered drop; 20 is a near-dup of corpus row 2
    process(spark.createDataFrame(
        [(11, _angle_vec(84)), (20, _angle_vec(181))],
        "vec_id long, embedding array<double>"), 2)
    assert not os.path.exists(out + "__bak")
    assert not os.path.exists(out + "_dropped__bak")
    with open(cb, "rb") as fh:
        assert fh.read() == codebook
    kept = {r.vec_id for r in
            spark.read.parquet(out).select("vec_id").collect()}
    assert kept == {1, 2, 10}
    dropped = {r.vec_id for r in spark.read.parquet(
        out + "_dropped").select("vec_id").collect()}
    assert dropped == {11, 12, 20}


def test_compaction_on_absent_corpus_is_noop(spark, tmp_path):
    stats = compact_semantic_corpus(
        spark, str(tmp_path / "nope"), str(tmp_path / "cb.json"),
        THRESH, dim=64)
    assert stats == {"before": 0, "after": 0, "dropped": 0}


@pytest.mark.slow
def test_semantic_ingest_real_stream(spark, sf_dir, tmp_path):
    """End-to-end through a genuine file-source stream: stage the
    batches as parquet files in a monitored dir, run availableNow →
    foreachBatch, and require the same invariants as the direct-call
    loop (non-empty corpus, zero leftover within-cluster pairs)."""
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    cb = str(tmp_path / "codebook.json")
    batches = _batches(spark, sf_dir)
    schema = batches[0].schema
    # flat part-files in ONE monitored dir (the file source lists
    # leaf files; nested per-batch dirs would be invisible to it)
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src))
    q = (stream.writeStream
         .foreachBatch(make_semantic_ingest_batch_fn(out, cb, THRESH,
                                                     dim=64))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(300)
    assert q.exception() is None, q.exception()

    corpus = spark.read.parquet(out)
    assert corpus.count() > 0
    cents = load_codebooks(spark, cb)[0]
    assert pairs_with_centroids(corpus, cents, THRESH).count() == 0


def test_compaction_under_durable_pins(spark, tmp_path):
    """ADVICE r9 (medium): the dropped-index rewrite reads and
    overwrites the SAME directory. In durable-pins mode a plain pin()
    is a lazy persist(DISK_ONLY) with lineage intact, so whether the
    overwrite survives depends on AQE happening to materialize the
    union's shuffle stage before the dir deletion (a probe without
    the shuffle fails FILE_NOT_EXIST outright), and a lost block
    would recompute from deleted files. The fix pins with
    truncate=True (reliable checkpoint, lineage severed); this runs
    the redelivery scenario e2e inside a durable_pins scope —
    previously untested — and requires the default-mode invariants."""
    from big_data_bowl___2023_spark import session as S

    out = str(tmp_path / "corpus")
    cb = str(tmp_path / "cb.json")
    t = 0.75
    b0 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [-1.0, 0.0])],
        "vec_id long, embedding array<double>")
    b1 = spark.createDataFrame(
        [(10, _angle_vec(44)), (11, _angle_vec(84)),
         (12, _angle_vec(89))],
        "vec_id long, embedding array<double>")
    with S.durable_pins(True):
        process = make_semantic_ingest_batch_fn(out, cb, t, dim=2)
        process(b0, 0)
        process(b1, 1)
        compact_semantic_corpus(spark, out, cb, t, dim=2)
        kept = {r.vec_id for r in
                spark.read.parquet(out).select("vec_id").collect()}
        process(b1, 2)               # redelivery post-compaction
    kept_after = {r.vec_id for r in
                  spark.read.parquet(out).select("vec_id").collect()}
    assert kept_after == kept
    dropped = {r.vec_id for r in spark.read.parquet(
        out + "_dropped").select("vec_id").collect()}
    assert {11, 12} <= dropped       # ingest drops survived the pass
