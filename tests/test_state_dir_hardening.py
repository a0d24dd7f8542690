"""State-dir crash hardening (ADVICE r10 + verdict r10 #1).

Contracts under test:
* an append-mode write into a `replace_state_dir`-managed dir HEALS
  a crash-parked ``__bak`` first — new markers/tombstones join the
  pre-crash state instead of shadowing it (ADVICE r10 medium: the
  shadow silently resurrected every pre-crash takedown);
* `replace_state_dir` called with a DataFrame whose lineage reads
  the ``__bak`` fallback (the documented post-crash recovery path)
  succeeds — the staged write materializes BEFORE the entry heal
  renames the files away (ADVICE r10 low);
* `delete_from_index` raises on ids the index id type cannot
  represent instead of writing NULL markers that never match
  (ADVICE r10 low), and drops NULL inputs uncounted;
* searches anti-join ONE pinned marker snapshot per marker-dir
  state: a search planned before a marker write collects with the
  exclusion it was planned with (the plan holds the snapshot's
  blocks, not the marker files), and searches over unchanged
  markers reuse the cached snapshot and pin nothing new;
* review-r11 regressions: ingest batches heal a crashed curated
  compaction swap before appending, and marker reads retry once
  across a concurrent swap window;
* one directory commit protocol and one Hadoop FS accessor: no
  package module but ``sources/io.py`` renames through the Hadoop FS
  API or builds a Hadoop ``Path``/``FileSystem``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import big_data_bowl___2023_spark.similarity.index as index_mod
from big_data_bowl___2023_spark.similarity import (
    ann_index_search,
    append_to_index,
    build_ann_index,
    delete_from_index,
    undelete_from_index,
)
from big_data_bowl___2023_spark.sources.io import (
    heal_state_dir,
    load_table,
    read_state_dir,
    replace_state_dir,
)


def _topk(spark, idx, queries, k=5):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in ann_index_search(spark, idx, queries, k).collect())


def _park(path):
    """Simulate a replace_state_dir crash between its two renames:
    the live dir vanishes mid-swap and the state survives only at
    ``__bak``."""
    os.rename(path, path + "__bak")


def test_delete_append_heals_parked_markers(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "idx")
    build_ann_index(emb, idx)
    base = _topk(spark, idx, queries)
    first = base[0][1]
    second = next(nid for _, nid, _, _ in base if nid != first)

    delete_from_index(spark, idx, [first])
    _park(f"{idx}/_index_deletes")
    # pre-fix: this append created a fresh live dir holding only
    # `second`, and read_state_dir's live preference resurrected
    # `first` forever
    delete_from_index(spark, idx, [second])
    assert not os.path.exists(f"{idx}/_index_deletes__bak")
    survivors = {nid for _, nid, _, _ in _topk(spark, idx, queries)}
    assert first not in survivors and second not in survivors


def test_snapshot_diff_append_heals_parked_tombstones(spark,
                                                      tmp_path):
    from big_data_bowl___2023_spark.streaming import (
        apply_snapshot_diff,
        make_curation_ingest_batch_fn,
        read_curated,
    )

    def _doc(i, tag):
        return (i, "src", " ".join(
            f"w{i}{tag}token{j} common filler text segment"
            for j in range(13)))

    out = str(tmp_path / "curated")
    fp_idx = str(tmp_path / "fp_idx")
    old = spark.createDataFrame(
        [_doc(1, "a"), _doc(2, "a"), _doc(3, "a")],
        "doc_id long, source string, text string")
    make_curation_ingest_batch_fn(out, fp_idx, min_words=10)(old, 0)

    # snapshot 2 removes doc 1 -> tombstone
    snap2 = spark.createDataFrame(
        [_doc(2, "a"), _doc(3, "a")],
        "doc_id long, source string, text string")
    apply_snapshot_diff(spark, old, snap2, out, fp_idx, batch_id=1,
                        min_words=10)
    assert {r.doc_id for r in read_curated(spark, out).collect()} \
        == {2, 3}

    _park(out + "_tombstones")
    # snapshot 3 removes doc 2 -> a tombstone APPEND; pre-fix it
    # shadowed the parked __bak and doc 1 came back from the dead
    snap3 = spark.createDataFrame(
        [_doc(3, "a")], "doc_id long, source string, text string")
    apply_snapshot_diff(spark, snap2, snap3, out, fp_idx, batch_id=2,
                        min_words=10)
    assert not os.path.exists(out + "_tombstones__bak")
    assert {r.doc_id for r in read_curated(spark, out).collect()} \
        == {3}


def test_replace_state_dir_from_bak_fallback_lineage(spark,
                                                     tmp_path):
    state = str(tmp_path / "state")
    replace_state_dir(
        spark.createDataFrame([(i,) for i in range(6)], ["id"]),
        state)
    _park(state)
    # the documented recovery path: read falls back to __bak, the
    # caller rewrites through replace_state_dir with that lineage
    kept = read_state_dir(spark, state).filter(F.col("id") < 3)
    replace_state_dir(kept, state)          # pre-fix: FileNotFound
    assert not os.path.exists(state + "__bak")
    assert sorted(r["id"] for r in
                  read_state_dir(spark, state).collect()) == [0, 1, 2]


def test_restore_on_append_after_marker_crash(spark, sf_dir,
                                              tmp_path):
    """append_to_index's restore path, exercised with the marker
    state crash-parked at __bak: the rewrite must succeed and keep
    the unrelated marker."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "idx")
    build_ann_index(emb, idx)
    base = _topk(spark, idx, queries)
    first = base[0][1]
    second = next(nid for _, nid, _, _ in base if nid != first)
    delete_from_index(spark, idx, [first, second])
    _park(f"{idx}/_index_deletes")

    append_to_index(emb.filter(F.col("vec_id") == first), idx)
    survivors = {nid for _, nid, _, _ in _topk(spark, idx, queries)}
    assert first in survivors          # restored by the re-add
    assert second not in survivors     # unrelated marker survived


def test_heal_state_dir_noop_cases(spark, tmp_path):
    state = str(tmp_path / "state")
    assert heal_state_dir(spark, state) is False     # nothing there
    replace_state_dir(
        spark.createDataFrame([(1,)], ["id"]), state)
    assert heal_state_dir(spark, state) is False     # live healthy
    _park(state)
    assert heal_state_dir(spark, state) is True
    assert read_state_dir(spark, state).count() == 1


def test_uncastable_takedown_id_raises(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")   # long vec_id
    idx = str(tmp_path / "idx")
    build_ann_index(emb.limit(50), idx)
    with pytest.raises(TypeError, match="cannot be cast"):
        delete_from_index(spark, idx, ["not-a-number"])
    # nothing written by the failed call
    assert not os.path.exists(f"{idx}/_index_deletes")
    # NULL inputs are dropped, not counted, and castable ids pass
    rep = delete_from_index(spark, idx, [None, 1, 2])
    assert rep["deleted"] == 2


def test_ingest_append_heals_crashed_compaction_swap(spark,
                                                     tmp_path):
    """Review r11: a compact_curated that died between its two
    renames parks the corpus at __bak; the next ingest batch must
    restore it before appending — a blind append would recreate a
    fresh out_dir and the NEXT compaction would delete the backup as
    post-swap residue, losing the pre-crash corpus."""
    from big_data_bowl___2023_spark.streaming import (
        compact_curated,
        make_curation_ingest_batch_fn,
        read_curated,
    )

    def _doc(i):
        return (i, "src", " ".join(
            f"w{i}tok{j} common filler text segment"
            for j in range(13)))

    out = str(tmp_path / "curated")
    fp_idx = str(tmp_path / "fp_idx")
    fn = make_curation_ingest_batch_fn(out, fp_idx, min_words=10)
    fn(spark.createDataFrame([_doc(1), _doc(2)],
                             "doc_id long, source string, "
                             "text string"), 0)
    # simulate the mid-swap crash: live gone, corpus parked
    os.rename(out, out + "__bak")

    fn(spark.createDataFrame([_doc(3)],
                             "doc_id long, source string, "
                             "text string"), 1)
    assert not os.path.exists(out + "__bak")
    assert {r.doc_id for r in read_curated(spark, out).collect()} \
        == {1, 2, 3}
    # and the next compaction is safe (nothing left to misread)
    rep = compact_curated(spark, out)
    assert rep["rows_before"] == 3


def test_marker_read_survives_concurrent_swap_window(spark, sf_dir,
                                                     tmp_path,
                                                     monkeypatch):
    """Review r11: the marker read retries once, so a search planned
    exactly inside a restore-on-append swap window (live renamed
    away, first read fails) still resolves instead of crashing."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "idx")
    build_ann_index(emb.limit(100), idx)
    delete_from_index(spark, idx, [1, 2])

    real = index_mod._read_deletes
    calls = {"n": 0}

    def flaky(spark_, index_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            # a REAL missing-path class, not a message that merely
            # mentions one — ADVICE r11 moved the retry classifier
            # from substring matching to exception classes
            raise FileNotFoundError("simulated mid-swap vanish")
        return real(spark_, index_dir)

    monkeypatch.setattr(index_mod, "_read_deletes", flaky)
    got = ann_index_search(spark, idx, queries, 3,
                           id_col="vec_id", exclude_self=False)
    ids = {r["neighbor_id"] for r in got.collect()}
    assert calls["n"] == 2
    assert 1 not in ids and 2 not in ids


def test_transient_classifier_on_real_exception_classes(spark,
                                                        tmp_path):
    """ADVICE r11: the swap-window retry classifies by exception
    CLASS. Probed against this Spark build: a plan-time read of a
    missing path is AnalysisException(PATH_NOT_FOUND); a path
    vanishing between plan and execute surfaces as a Py4J error whose
    java cause chain carries java.io.FileNotFoundException. A
    deterministic fault whose MESSAGE merely mentions the words must
    NOT retry."""
    import shutil

    missing = str(tmp_path / "never_there")
    with pytest.raises(Exception) as plan_exc:
        spark.read.parquet(missing)
    assert index_mod._is_transient_missing_path(plan_exc.value)

    d = str(tmp_path / "vanishing")
    spark.range(10).write.parquet(d)
    df = spark.read.parquet(d)
    df.count()
    shutil.rmtree(d)
    spark.catalog.refreshByPath(d)
    with pytest.raises(Exception) as run_exc:
        df.collect()
    assert index_mod._is_transient_missing_path(run_exc.value)

    assert not index_mod._is_transient_missing_path(
        RuntimeError("corrupt footer... FileNotFound PATH_NOT_FOUND "
                     "does not exist"))
    assert index_mod._is_transient_missing_path(
        FileNotFoundError("genuinely gone"))


def _marker_key(spark, idx):
    """The serving-state cache key of an index's marker snapshot."""
    return (spark.sparkContext.applicationId,
            os.path.abspath(f"{idx}/_index_deletes"))


def test_overcap_marker_snapshot_cached_per_state(spark, sf_dir,
                                                  tmp_path):
    """ADVICE r11: `_minus_deletes` pins ONE marker snapshot per
    marker-dir STATE and reuses it across searches — a high-QPS
    serving loop does not accumulate one pin per search. A
    maintenance write (new marker) changes the dir signature and
    refreshes the snapshot; survivors track it."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "idx")
    build_ann_index(emb.limit(200), idx)
    victims = sorted({r["neighbor_id"] for r in
                      ann_index_search(spark, idx, queries, 8,
                                       exclude_self=False)
                      .collect()})[:6]
    delete_from_index(spark, idx, victims)
    # keyed by (applicationId, path) since review r12 — a pinned
    # snapshot must not outlive its SparkContext
    key = _marker_key(spark, idx)

    ann_index_search(spark, idx, queries, 5).collect()
    sig1, snap1 = index_mod._ARTIFACT_CACHE[key]
    ann_index_search(spark, idx, queries, 5).collect()
    sig2, snap2 = index_mod._ARTIFACT_CACHE[key]
    assert sig2 == sig1 and snap2 is snap1      # reused, not re-pinned
    assert sorted(r["neighbor_id"] for r in snap1.collect()) == victims

    # a new marker changes the state: snapshot refreshes and the
    # freshly-hidden id disappears from the results
    extra = next(r["neighbor_id"] for r in
                 ann_index_search(spark, idx, queries, 5,
                                  exclude_self=False).collect())
    delete_from_index(spark, idx, [extra])
    got = {r["neighbor_id"] for r in
           ann_index_search(spark, idx, queries, 5,
                            exclude_self=False).collect()}
    sig3, snap3 = index_mod._ARTIFACT_CACHE[key]
    assert sig3 != sig1 and snap3 is not snap1
    assert extra not in got
    for v in victims:
        assert v not in got


@pytest.mark.parametrize("rewrite", ["delete", "undelete"])
def test_planned_search_keeps_its_marker_exclusion(spark, sf_dir,
                                                   tmp_path, rewrite):
    """A search planned before a marker write collects with the
    exclusion it was planned with: its plan holds the pinned marker
    snapshot, not the marker files, so neither `delete_from_index`
    appending a marker file nor `undelete_from_index` swapping the
    whole marker dir (staged replace) before the collect tears it or
    changes its rows. The next search sees the new markers."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "idx")
    build_ann_index(emb.limit(200), idx)
    victims = sorted({nid for _, nid, _, _ in
                      _topk(spark, idx, queries)})[:4]
    delete_from_index(spark, idx, victims)

    planned = ann_index_search(spark, idx, queries, 5)
    want = _topk(spark, idx, queries)
    assert not {nid for _, nid, _, _ in want} & set(victims)
    if rewrite == "delete":
        changed = want[0][1]
        delete_from_index(spark, idx, [changed])
    else:
        changed = victims[0]
        assert undelete_from_index(spark, idx, [changed]) \
            == {"restored": 1}
        # three markers remain, so the dir was rewritten and swapped
        assert read_state_dir(spark, f"{idx}/_index_deletes").count() \
            == 3
    got = sorted((r["query_id"], r["neighbor_id"], r["cosine"],
                  r["rank"]) for r in planned.collect())
    assert got == want
    fresh = {nid for _, nid, _, _ in _topk(spark, idx, queries)}
    assert (changed in fresh) == (rewrite == "undelete")


def test_searches_over_unchanged_markers_pin_nothing_new(spark, sf_dir,
                                                         tmp_path):
    """A serving loop must not leak persisted blocks: the first
    search over a marker state pins its snapshot; five more searches
    over the same markers add no `getPersistentRDDs()` entry."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "idx")
    build_ann_index(emb.limit(200), idx)
    victims = sorted({nid for _, nid, _, _ in
                      _topk(spark, idx, queries)})[:4]
    delete_from_index(spark, idx, victims)
    jsc = spark.sparkContext._jsc

    _topk(spark, idx, queries)
    after_first = set(jsc.getPersistentRDDs().keySet())
    snap = index_mod._ARTIFACT_CACHE[_marker_key(spark, idx)][1]
    for _ in range(5):
        _topk(spark, idx, queries)
    assert set(jsc.getPersistentRDDs().keySet()) - after_first == set()
    assert index_mod._ARTIFACT_CACHE[_marker_key(spark, idx)][1] \
        is snap


def _package_lines_outside_io(match):
    """``path:line`` of every non-comment package line outside
    ``sources/io.py`` for which ``match(line)`` holds."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "big_data_bowl___2023_spark")
    allowed = os.path.join(pkg, "sources", "io.py")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fname in files:
            path = os.path.join(root, fname)
            if not fname.endswith(".py") or path == allowed:
                continue
            with open(path) as fh:
                for ln, line in enumerate(fh, 1):
                    if match(line) \
                            and not line.lstrip().startswith("#"):
                        offenders.append(f"{path}:{ln}")
    return offenders


def test_no_fs_rename_outside_sources_io():
    """Every live-directory replace and version publish goes through
    `sources.io` (`staged_replace`, `publish_version`, the heal): a
    Hadoop FileSystem ``rename(`` anywhere else is a second commit
    protocol with its own staging names and crash healer."""
    offenders = _package_lines_outside_io(lambda line: ".rename(" in line)
    assert not offenders, (
        "FileSystem rename outside sources/io.py: "
        + ", ".join(offenders))


def test_no_hadoop_fs_accessor_outside_sources_io():
    """`sources.io._fs` is the one place that builds a Hadoop
    ``Path``/``FileSystem``; every other module asks it (or an io
    helper) instead of reaching into the JVM by hand."""
    import re

    pattern = re.compile(r"hadoop\.fs\.(Path|FileSystem)|getFileSystem\(")
    offenders = _package_lines_outside_io(pattern.search)
    assert not offenders, (
        "Hadoop Path/FileSystem built outside sources/io.py: "
        + ", ".join(offenders))
