"""Snapshot-diff-driven incremental reprocessing (E117,
streaming/curation.py::apply_snapshot_diff / read_curated /
compact_curated): reconcile the ingest loop's curated state with a
new corpus snapshot by processing only the diff — tombstones for
removed/modified versions, the standard ingest path for the delta,
idempotent re-application, sticky content-level dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.streaming import (
    apply_snapshot_diff,
    compact_curated,
    make_curation_ingest_batch_fn,
    read_curated,
)


def _doc(i, words, email=False):
    body = " ".join(f"w{i}token{j} common filler text segment"
                    for j in range(words // 5 + 1))
    if email:
        body += " contact me at someone@example.com thanks"
    return (i, "src", body)


@pytest.fixture()
def world(spark, tmp_path):
    out = str(tmp_path / "curated")
    idx = str(tmp_path / "fp_idx")
    old_rows = [_doc(1, 60), _doc(2, 60), _doc(3, 60),
                _doc(4, 60, email=True)]
    old = spark.createDataFrame(
        old_rows, "doc_id long, source string, text string")
    fn = make_curation_ingest_batch_fn(out, idx, min_words=10)
    fn(old, 0)
    return spark, old, out, idx


def test_diff_reconciles_state(world, spark):
    spark, old, out, idx = world
    base_ids = {r.doc_id for r in read_curated(spark, out).collect()}
    assert base_ids == {1, 2, 3, 4}

    # new snapshot: 1 unchanged; 2 modified (real rewrite); 3 removed;
    # 4 modified ONLY in its email address (redaction-invisible);
    # 5 added; 6 added but duplicating doc 1's text (sticky dedup)
    rows = [
        _doc(1, 60),
        (2, "src", _doc(2, 60)[2] + " plus a genuinely new tail "
         "sentence with enough extra words to change the content"),
        (4, "src", _doc(4, 60, email=True)[2]
         .replace("someone@example.com", "other@example.org")),
        _doc(5, 60),
        (6, "src", _doc(1, 60)[2]),
    ]
    new = spark.createDataFrame(
        rows, "doc_id long, source string, text string")
    stats = apply_snapshot_diff(spark, old, new, out, idx,
                                batch_id=1, min_words=10)
    assert stats["added"] == 2 and stats["removed"] == 1
    assert stats["modified"] == 2 and stats["modified_noop"] == 1
    assert stats["tombstoned"] == 2          # removed 3 + modified 2
    assert stats["delta_docs"] == 3          # added 5,6 + modified 2

    view = read_curated(spark, out)
    got = {r.doc_id: r.text for r in view.collect()}
    assert set(got) == {1, 2, 4, 5}          # 3 removed, 6 deduped
    assert "genuinely new tail" in got[2]    # replacement visible
    # the redaction-noop doc kept its ORIGINAL stored row
    assert got[4].count("[EMAIL]") or "@" not in got[4]

    # idempotency: re-applying the same diff changes nothing
    stats2 = apply_snapshot_diff(spark, old, new, out, idx,
                                 batch_id=2, min_words=10)
    assert stats2["delta_docs"] == 3
    again = {r.doc_id: r.text for r in
             read_curated(spark, out).collect()}
    assert again == got

    # physical compaction applies tombstones and clears them; the
    # view is unchanged
    rep = compact_curated(spark, out)
    assert rep["tombstones_cleared"] > 0
    assert rep["rows_after"] == len(got)
    final = {r.doc_id: r.text for r in
             read_curated(spark, out).collect()}
    assert final == got
    import os
    assert not os.path.exists(out + "_tombstones")
    assert not os.path.exists(out + "__new")
    # compaction with no tombstones is a no-op
    rep2 = compact_curated(spark, out)
    assert rep2 == {"rows_before": len(got), "rows_after": len(got),
                    "tombstones_cleared": 0}


def test_sticky_dedup_blocks_readmitted_content(world, spark):
    """Content that EVER entered the corpus never re-enters: remove a
    doc, then re-add its exact text under a fresh id — the fingerprint
    index drops it (documented takedown memory)."""
    spark, old, out, idx = world
    new = old.filter("doc_id <> 3")          # remove doc 3
    apply_snapshot_diff(spark, old, new, out, idx, batch_id=1,
                        min_words=10)
    assert 3 not in {r.doc_id for r in
                     read_curated(spark, out).collect()}
    readd = spark.createDataFrame(
        [(99, "src", _doc(3, 60)[2])],
        "doc_id long, source string, text string")
    newer = new.unionByName(readd)
    stats = apply_snapshot_diff(spark, new, newer, out, idx,
                                batch_id=2, min_words=10)
    assert stats["added"] == 1
    ids = {r.doc_id for r in read_curated(spark, out).collect()}
    assert 99 not in ids and 3 not in ids


def test_revert_to_previous_version_is_restored(world, spark):
    """Review r10 finding: without the restore path, a doc reverting
    to its own previous content vanished (old row tombstoned, the
    replacement killed by the sticky fingerprint index). A revert now
    deletes the matching tombstone and the ORIGINAL stored row
    becomes visible again."""
    spark, old, out, idx = world
    orig = {r.doc_id: r.text for r in
            read_curated(spark, out).collect()}

    # snapshot 2: doc 2 modified to B
    new_b = old.withColumn(
        "text", F.when(F.col("doc_id") == 2,
                       F.concat(F.col("text"),
                                F.lit(" version b entirely new "
                                      "trailing material words")))
        .otherwise(F.col("text")))
    s1 = apply_snapshot_diff(spark, old, new_b, out, idx,
                             batch_id=1, min_words=10)
    assert s1["tombstoned"] == 1 and s1["restored"] == 0
    mid = {r.doc_id: r.text for r in
           read_curated(spark, out).collect()}
    assert "version b" in mid[2]

    # snapshot 3: doc 2 reverts to A — restored, not lost
    s2 = apply_snapshot_diff(spark, new_b, old, out, idx,
                             batch_id=2, min_words=10)
    assert s2["restored"] == 1
    assert s2["delta_docs"] == 0        # nothing re-processed
    final = {r.doc_id: r.text for r in
             read_curated(spark, out).collect()}
    assert final == orig                # the original row is back

    # and the B tombstone still hides the B row
    assert s2["tombstoned"] == 1
    # idempotency of the revert
    s3 = apply_snapshot_diff(spark, new_b, old, out, idx,
                             batch_id=3, min_words=10)
    assert {r.doc_id: r.text for r in
            read_curated(spark, out).collect()} == orig


def test_add_only_diff_creates_no_tombstone_dir(world, spark):
    """An add-only diff must not create an empty tombstone dir (its
    mere existence flips read_curated onto the fingerprint path and
    makes the next compaction a full rewrite for nothing)."""
    import os

    spark, old, out, idx = world
    new = old.unionByName(spark.createDataFrame(
        [_doc(50, 60)], "doc_id long, source string, text string"))
    stats = apply_snapshot_diff(spark, old, new, out, idx,
                                batch_id=1, min_words=10)
    assert stats["added"] == 1 and stats["tombstoned"] == 0
    assert not os.path.exists(out + "_tombstones")
    assert 50 in {r.doc_id for r in read_curated(spark, out).collect()}
