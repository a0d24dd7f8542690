"""Streaming ANN index maintenance (streaming/ann_index_stream.py).

Contracts under test:
* the foreachBatch loop (bootstrap build + appends) yields search
  results identical to a one-shot batch build over the same rows;
* factory args are only a bootstrap default — an existing index's
  recorded planes win on restart with different args;
* at-least-once replay is result-exact: double-appended rows never
  change a search (and compaction with dedupe reclaims them);
* compaction shrinks per-cell file counts without changing results;
* a real availableNow file-stream run matches the batch oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.similarity import (
    ann_index_search,
    build_ann_index,
)
from big_data_bowl___2023_spark.sources.io import load_table
from big_data_bowl___2023_spark.streaming.ann_index_stream import (
    compact_index,
    make_ann_index_batch_fn,
)


def _topk(spark, idx, queries):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in ann_index_search(spark, idx, queries, 5).collect())


def test_batch_loop_equals_oneshot_build(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx, ref = str(tmp_path / "stream_idx"), str(tmp_path / "ref_idx")
    fn = make_ann_index_batch_fn(idx)
    fn(emb.filter(F.col("vec_id") % 3 == 0), 0)    # bootstrap build
    fn(emb.filter(F.col("vec_id") % 3 == 1), 1)    # appends
    fn(emb.filter(F.col("vec_id") % 3 == 2), 2)
    fn(emb.filter(F.lit(False)), 3)                # empty: no-op
    build_ann_index(emb, ref)
    assert _topk(spark, idx, queries) == _topk(spark, ref, queries)


def test_existing_planes_win_over_factory_args(spark, sf_dir,
                                               tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    fn = make_ann_index_batch_fn(idx, n_planes=3)
    fn(emb.filter(F.col("vec_id") % 2 == 0), 0)
    # a restarted stream with DIFFERENT factory args must not fork
    # the cell geometry: the meta's recorded planes rule
    fn2 = make_ann_index_batch_fn(idx, n_planes=5)
    fn2(emb.filter(F.col("vec_id") % 2 == 1), 1)
    meta = spark.read.parquet(f"{idx}/_index_meta").collect()
    assert [(r["dim"], r["n_planes"]) for r in meta] == [(64, 3)]
    ref = str(tmp_path / "ref")
    build_ann_index(emb, ref, n_planes=3)
    queries = emb.filter(F.col("vec_id") < 10)
    assert _topk(spark, idx, queries) == _topk(spark, ref, queries)


def test_replay_is_result_exact_and_compaction_reclaims(
        spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "idx")
    fn = make_ann_index_batch_fn(idx)
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    fn(b1, 0)
    fn(b2, 1)
    before = _topk(spark, idx, queries)
    fn(b2, 1)                       # crash-replay double-append
    assert _topk(spark, idx, queries) == before
    n_rows_dup = spark.read.parquet(f"{idx}/cells/v=1").count()
    rep = compact_index(spark, idx, dedupe=True)
    assert rep["cells"] >= 1 and rep["files_after"] <= rep["files_before"]
    assert rep["version"] == 2
    n_rows = spark.read.parquet(f"{idx}/cells/v=2").count()
    assert n_rows == emb.count() < n_rows_dup
    assert _topk(spark, idx, queries) == before
    with pytest.raises(ValueError, match="no index cells"):
        compact_index(spark, str(tmp_path / "nope"))


def test_real_stream_availablenow(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings").limit(500)
    src = str(tmp_path / "vec_src")
    emb.write.parquet(src)
    idx = str(tmp_path / "idx")
    stream = spark.readStream.schema(emb.schema).parquet(src)
    q = (stream.writeStream
         .foreachBatch(make_ann_index_batch_fn(idx))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.awaitTermination(120)
    ref = str(tmp_path / "ref")
    build_ann_index(emb, ref)
    queries = emb.filter(F.col("vec_id") < 5)
    assert _topk(spark, idx, queries) == _topk(spark, ref, queries)


def test_crashed_publish_is_invisible_and_cleaned(spark, sf_dir,
                                                  tmp_path):
    """A compaction killed mid-stage leaves only a ``__publish_tmp``
    dir the ``v=`` lister ignores: searches and version listing are
    untouched (no recovery needed), and the next compaction deletes
    the leftover before publishing."""
    import os

    from big_data_bowl___2023_spark.similarity import index_versions

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "idx")
    build_ann_index(emb, idx)
    before = _topk(spark, idx, queries)
    cells = f"{idx}/cells"
    # simulate the mid-stage crash: a partial staged dir
    os.makedirs(f"{cells}/__publish_tmp_v2/cell=000")
    with open(f"{cells}/__publish_tmp_v2/cell=000/junk.parquet",
              "w") as fh:
        fh.write("torn")
    assert index_versions(spark, idx) == [1]        # invisible
    assert _topk(spark, idx, queries) == before     # searches fine
    rep = compact_index(spark, idx)
    assert rep["version"] == 2
    assert not os.path.exists(f"{cells}/__publish_tmp_v2")
    assert _topk(spark, idx, queries) == before


def test_search_pins_version_across_maintenance(spark, sf_dir,
                                                tmp_path):
    """VERDICT r9 #4 — the concurrency contract: a search plan built
    before maintenance keeps its pinned version's files through a
    concurrent append AND a compaction publish; new searches see the
    new state; explicit version= time-travels; vacuum (and only
    vacuum) retires the superseded version, after which pinning it
    refuses loudly."""
    from big_data_bowl___2023_spark.similarity import (
        append_to_index,
        index_versions,
    )
    from big_data_bowl___2023_spark.streaming.ann_index_stream import (
        vacuum_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    build_ann_index(b1, idx)
    want_v1 = _topk(spark, idx, queries)

    # the "in-flight" search: plan (and its file listing) built now
    inflight = ann_index_search(spark, idx, queries, 5)

    # concurrent maintenance: an append lands in the current version
    # (new files only — the in-flight listing doesn't include them),
    # then a compaction publishes v=2
    append_to_index(b2, idx)
    rep = compact_index(spark, idx)
    assert rep["version"] == 2 and index_versions(spark, idx) == [1, 2]

    got_inflight = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in inflight.collect())
    assert got_inflight == want_v1          # never torn, never mixed

    # a NEW search sees the full appended corpus (v=2)
    ref = str(tmp_path / "ref")
    build_ann_index(emb, ref)
    assert _topk(spark, idx, queries) == _topk(spark, ref, queries)
    # time travel: v=1 pins the pre-append state... but note the
    # append went INTO v=1, so v=1 now holds the full corpus too and
    # the compacted v=2 must equal it
    assert sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in ann_index_search(spark, idx, queries, 5,
                                  version=1).collect()) \
        == _topk(spark, idx, queries)

    # vacuum retires v=1; pinning it now refuses
    vac = vacuum_index(spark, idx, keep=1)
    assert vac == {"kept": [2], "deleted": [1]}
    with pytest.raises(ValueError, match="version 1 not in"):
        ann_index_search(spark, idx, queries, 5, version=1)
    assert _topk(spark, idx, queries) == _topk(spark, ref, queries)

    # a rebuild resets the version history to [1]
    build_ann_index(emb, idx)
    assert index_versions(spark, idx) == [1]


def test_quantized_search_pins_one_version(spark, sf_dir, tmp_path):
    """The quantized search's two scans (int8 screen + float rerank)
    resolve ONE version up front — results across a version boundary
    stay internally consistent, and both search families agree on
    every published version."""
    from big_data_bowl___2023_spark.similarity import (
        ann_index_search_quantized,
        append_to_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "qidx")
    build_ann_index(emb.filter(F.col("vec_id") % 2 == 0), idx,
                    quantize=True)
    append_to_index(emb.filter(F.col("vec_id") % 2 == 1), idx)
    compact_index(spark, idx, dedupe=True)
    for v in (1, 2):
        got = sorted(
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in ann_index_search_quantized(
                spark, idx, queries, 5, version=v).collect())
        ref = sorted(
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in ann_index_search(spark, idx, queries, 5,
                                      version=v).collect())
        assert got == ref and got


def test_compaction_preserves_cell_directory_names(spark, sf_dir,
                                                   tmp_path):
    """Review r10 finding: partition-value inference parses bitstring
    cells as ints, so an unguarded rewrite published cell=0 where
    _assign writes cell=000 — forking the physical naming inside one
    version. The publish must keep the exact zero-padded names so a
    post-compaction append lands in the SAME directories."""
    import os

    from big_data_bowl___2023_spark.similarity import append_to_index

    emb = load_table(spark, sf_dir, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    build_ann_index(b1, idx)
    v1_names = sorted(d for d in os.listdir(f"{idx}/cells/v=1")
                      if d.startswith("cell="))
    compact_index(spark, idx)
    v2_names = sorted(d for d in os.listdir(f"{idx}/cells/v=2")
                      if d.startswith("cell="))
    assert v2_names == v1_names        # zero-padding preserved
    append_to_index(b2, idx)
    v2_after = sorted(d for d in os.listdir(f"{idx}/cells/v=2")
                      if d.startswith("cell="))
    assert v2_after == v1_names        # no cell=0 / cell=000 fork
    queries = emb.filter(F.col("vec_id") < 10)
    ref = str(tmp_path / "ref")
    build_ann_index(emb, ref)
    assert _topk(spark, idx, queries) == _topk(spark, ref, queries)


def test_delete_lifecycle(spark, sf_dir, tmp_path):
    """E120 — the takedown path: delete markers hide ids from every
    search family immediately (both tiers, every pinned version),
    compaction applies them physically while keeping the markers for
    older pinned versions, restore-on-append un-deletes re-added
    ids, rebuilds reset markers, and clear_index_deletes is the
    explicit GC."""
    import os

    from big_data_bowl___2023_spark.similarity import (
        ann_index_search_quantized,
        append_to_index,
        clear_index_deletes,
        delete_from_index,
        index_cell_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "idx")
    build_ann_index(emb, idx, quantize=True)
    base = _topk(spark, idx, queries)
    victims = {nid for _, nid, _, _ in base[:6]}
    assert victims

    rep = delete_from_index(spark, idx, sorted(victims))
    assert rep["deleted"] == len(victims)
    assert index_cell_stats(spark, idx)["pending_deletes"] \
        == len(victims)
    # both search families exclude the ids immediately; ranks
    # re-close over the survivors and results match a physical
    # rebuild without the victims
    ref = str(tmp_path / "ref")
    build_ann_index(emb.filter(~F.col("vec_id").isin(victims)), ref,
                    quantize=True)
    assert _topk(spark, idx, queries) == _topk(spark, ref, queries)
    got_q = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in ann_index_search_quantized(
            spark, idx, queries, 5).collect())
    ref_q = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in ann_index_search_quantized(
            spark, ref, queries, 5).collect())
    assert got_q == ref_q

    # compaction applies physically; markers stay (older versions)
    crep = compact_index(spark, idx)
    rows_v2 = spark.read.parquet(f"{idx}/cells/v=2").count()
    assert rows_v2 == emb.count() - len(victims)
    assert os.path.exists(f"{idx}/_index_deletes")
    assert _topk(spark, idx, queries) == _topk(spark, ref, queries)

    # explicit GC after vacuum (all retained versions postdate the
    # markers)
    from big_data_bowl___2023_spark.streaming.ann_index_stream import (
        vacuum_index,
    )
    vacuum_index(spark, idx)
    assert clear_index_deletes(spark, idx)["cleared"] == len(victims)
    assert not os.path.exists(f"{idx}/_index_deletes")
    assert _topk(spark, idx, queries) == _topk(spark, ref, queries)

    # restore-on-append: re-adding a deleted id serves it again
    idx2 = str(tmp_path / "idx2")
    build_ann_index(emb, idx2)
    want = _topk(spark, idx2, queries)
    one = sorted(victims)[0]
    delete_from_index(spark, idx2, [one])
    assert all(nid != one for _, nid, _, _ in
               _topk(spark, idx2, queries))
    append_to_index(emb.filter(F.col("vec_id") == one), idx2)
    assert not os.path.exists(f"{idx2}/_index_deletes")
    # the re-added row duplicates the original; search dedupes —
    # results return to the pre-delete state
    assert _topk(spark, idx2, queries) == want

    # a rebuild resets markers (the corpus passed IS the intent)
    delete_from_index(spark, idx2, [one])
    build_ann_index(emb, idx2)
    assert not os.path.exists(f"{idx2}/_index_deletes")
    assert _topk(spark, idx2, queries) == want

    # empty delete list: no dir created
    idx3 = str(tmp_path / "idx3")
    build_ann_index(emb.limit(50), idx3)
    assert delete_from_index(spark, idx3, [])["deleted"] == 0
    assert not os.path.exists(f"{idx3}/_index_deletes")
