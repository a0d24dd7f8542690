"""Commit-point fencing (verdict r11 #1 — `sources.lease.commit_gate`).

The heartbeat keeps a HEALTHY lease fresh, but a >TTL driver stall
lets a taker acquire while the dethroned writer's commit is still
scheduled. Round 12 extracts compact_index's renew-or-abort into the
shared `commit_gate` and wires it into every leased publish point.

Test method: monkeypatch `commit_gate` with a SABOTEUR that first
replaces the lease file with a foreign holder's payload (exactly what
the zombie sees after a TTL takeover), then runs the REAL gate. Every
writer family must then (a) raise `WriterLeaseConflict` — which also
proves the op calls the gate before publishing; an op that never
gated would succeed and fail the test — and (b) leave its durable
state bit-identical (asserted per family below). Also covered here:
the gate's own contract, the acquire read-back verification (verdict
r11 #2), and the two ADVICE r11 release/acquire ambiguity fixes.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.sources import lease as lease_mod
from big_data_bowl___2023_spark.sources.io import load_table
from big_data_bowl___2023_spark.sources.lease import (
    WriterLeaseConflict,
    acquire_writer_lease,
    break_writer_lease,
    commit_gate,
    release_writer_lease,
    writer_lease,
)


def _plant_foreign(spark, root):
    """Replace the lease FILE with a foreign holder's fresh payload —
    the exact on-disk state a zombie writer sees after a TTL takeover
    (its own registry entry still live, the file no longer its)."""
    fs, jp = lease_mod._fs_path(
        spark, root.rstrip("/") + lease_mod.LEASE_SUFFIX)
    ok = lease_mod._write_create(
        spark, fs, jp,
        {"owner": "foreign-taker", "what": "takeover", "pid": 0,
         "acquired_unix": 0.0, "ttl_s": 3600.0, "epoch": 999},
        overwrite=True)
    assert ok


@pytest.fixture
def sabotage(monkeypatch, spark):
    """Arm the saboteur gate for a set of roots: the first commit_gate
    call on an armed root swaps the lease file to a foreign owner,
    then the REAL gate runs (and must abort). Yields the arm() fn."""
    armed: set[str] = set()
    ever_armed: set[str] = set()
    real_gate = lease_mod.commit_gate

    def gate(spark_, root, what="commit"):
        key = os.path.abspath(root.rstrip("/"))
        if key in armed:
            armed.discard(key)       # one-shot: re-arm per fenced op
            _plant_foreign(spark_, root)
        return real_gate(spark_, root, what)

    monkeypatch.setattr(lease_mod, "commit_gate", gate)

    def arm(*roots):
        for r in roots:
            key = os.path.abspath(r.rstrip("/"))
            armed.add(key)
            ever_armed.add(key)

    yield arm
    for r in ever_armed:
        break_writer_lease(spark, r)


def _snapshot(d):
    """(relative path, size) of every file under d — the state-intact
    assertion, bit-level enough for 'nothing was written'."""
    out = []
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            out.append((os.path.relpath(p, d), os.path.getsize(p)))
    return sorted(out)


# ---------------------------------------------------------------- unit


def test_commit_gate_contract(spark, tmp_path):
    root = str(tmp_path / "idx")
    os.makedirs(root)
    # outside any lease: refuses
    with pytest.raises(WriterLeaseConflict, match="never held"):
        commit_gate(spark, root, "orphan publish")
    with writer_lease(spark, root, "op") as token:
        # healthy: passes and refreshes the mtime
        commit_gate(spark, root, "mid-op publish")
        assert json.load(open(root + "__lease"))["owner"] == token
        # taken over: aborts loudly
        _plant_foreign(spark, root)
        with pytest.raises(WriterLeaseConflict,
                           match="aborting before publish"):
            commit_gate(spark, root, "late publish")
    break_writer_lease(spark, root)


def test_acquire_readback_loses_create_race(spark, tmp_path,
                                            monkeypatch):
    """Verdict r11 #2: on a store without atomic create-if-absent,
    two racing acquirers can both think their create won; the
    read-back lets at most ONE proceed. Simulated by a mocked
    non-atomic create (last write wins) + a barrier so both writes
    land before either read-back."""
    root = str(tmp_path / "idx")
    os.makedirs(root)
    barrier = threading.Barrier(2, timeout=30)
    real_write = lease_mod._write_create

    write_lock = threading.Lock()

    def non_atomic_create(spark_, fs, jp, payload, overwrite=False):
        if overwrite or payload.get("what") != "racer":
            return real_write(spark_, fs, jp, payload, overwrite)
        # serialize the two writes (a torn concurrent local-FS write
        # is not the store model under test — last-complete-write-wins
        # is), then barrier so both land before either read-back
        with write_lock:
            ok = real_write(spark_, fs, jp, payload, overwrite=True)
        barrier.wait()
        return ok

    monkeypatch.setattr(lease_mod, "_write_create", non_atomic_create)
    results = {}

    def racer(name):
        try:
            results[name] = acquire_writer_lease(spark, root, "racer")
        except WriterLeaseConflict:
            results[name] = "conflict"

    ts = [threading.Thread(target=racer, args=(i,)) for i in (0, 1)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    winners = [v for v in results.values() if v != "conflict"]
    assert len(winners) == 1
    # the surviving file belongs to the winner
    assert json.load(open(root + "__lease"))["owner"] == winners[0]
    release_writer_lease(spark, root, winners[0])
    break_writer_lease(spark, root)


def test_acquire_stat_blip_does_not_steal_live_lease(spark, tmp_path,
                                                     monkeypatch):
    """ADVICE r11: a transient getFileStatus failure against a LIVE
    foreign lease must refuse, never delete-and-steal."""
    root = str(tmp_path / "idx")
    os.makedirs(root)
    _plant_foreign(spark, root)
    before = open(root + "__lease").read()

    real_fs_path = lease_mod._fs_path

    def flaky_fs(spark_, p):
        fs, jp = real_fs_path(spark_, p)

        class Flaky:
            def __getattr__(self, name):
                if name == "getFileStatus":
                    def boom(_jp):
                        raise RuntimeError("transient RPC blip")
                    return boom
                return getattr(fs, name)

        return (Flaky(), jp) if p.endswith(lease_mod.LEASE_SUFFIX) \
            else (fs, jp)

    monkeypatch.setattr(lease_mod, "_fs_path", flaky_fs)
    with pytest.raises(WriterLeaseConflict,
                       match="could not be read"):
        acquire_writer_lease(spark, root, "thief")
    monkeypatch.undo()
    # the live holder's file survived, byte-identical
    assert open(root + "__lease").read() == before
    break_writer_lease(spark, root)


def test_release_read_blip_leaves_new_holder_alone(spark, tmp_path,
                                                   monkeypatch):
    """ADVICE r11: after a takeover, the dead token's release hitting
    a transient read error on the NEW holder's non-empty payload must
    leave the file alone (only a provably zero-length file — our own
    truncated renew — is deletable on owner=None)."""
    root = str(tmp_path / "idx")
    os.makedirs(root)
    token = acquire_writer_lease(spark, root, "victim")
    _plant_foreign(spark, root)          # the takeover

    calls = {"n": 0}
    real_read = lease_mod._read_json

    def flaky_read(spark_, fs, jp):
        calls["n"] += 1
        return {}                        # every read fails transiently

    monkeypatch.setattr(lease_mod, "_read_json", flaky_read)
    release_writer_lease(spark, root, token)
    monkeypatch.undo()
    assert calls["n"] >= 2               # re-read before giving up
    # the new holder's lease survived
    assert json.load(open(root + "__lease"))["owner"] == "foreign-taker"
    break_writer_lease(spark, root)


def test_release_deletes_own_truncated_lease(spark, tmp_path):
    """The other half of the ambiguity: a genuinely ZERO-LENGTH file
    (our failed in-place renew) is still cleaned up on release, so a
    transient write error can't lock the root until its TTL."""
    root = str(tmp_path / "idx")
    os.makedirs(root)
    token = acquire_writer_lease(spark, root, "op")
    open(root + "__lease", "w").close()          # truncate in place
    crc = str(tmp_path / ".idx__lease.crc")
    if os.path.exists(crc):
        os.remove(crc)
    release_writer_lease(spark, root, token)
    assert not os.path.exists(root + "__lease")


def test_release_waits_out_live_renew_truncate_window(spark, tmp_path,
                                                      monkeypatch):
    """Review r12: a zero-length lease can be a LIVE foreign holder's
    in-place renew caught between truncate and write. Release waits
    RELEASE_EMPTY_GRACE_S and re-checks — a file that fills back in
    during the grace (the renew completing) must survive; deleting it
    would let a third writer acquire beside the live one."""
    import threading
    import time as _time

    root = str(tmp_path / "idx")
    os.makedirs(root)
    token = acquire_writer_lease(spark, root, "victim")
    # simulate the takeover THEN the new holder's renew mid-truncate:
    # the file is zero-length at the instant the dead token releases
    open(root + "__lease", "w").close()
    crc = str(tmp_path / ".idx__lease.crc")
    if os.path.exists(crc):
        os.remove(crc)
    monkeypatch.setattr(lease_mod, "RELEASE_EMPTY_GRACE_S", 0.5)

    def finish_renew():
        _time.sleep(0.15)                # inside the grace window
        with open(root + "__lease", "w") as fh:
            json.dump({"owner": "foreign-taker", "what": "renewing",
                       "ttl_s": 3600.0}, fh)
        if os.path.exists(crc):
            os.remove(crc)

    t = threading.Thread(target=finish_renew)
    t.start()
    release_writer_lease(spark, root, token)
    t.join()
    # the live holder's completed renew survived the dead release
    assert json.load(open(root + "__lease"))["owner"] == "foreign-taker"
    break_writer_lease(spark, root)


def test_acquire_stat_and_exists_both_failing_is_typed(spark, tmp_path,
                                                       monkeypatch):
    """Review r12: when the FS blip breaks getFileStatus AND the
    existence re-check, acquire must still surface the documented
    WriterLeaseConflict (callers backoff-and-retry on it), never a
    raw Py4J error."""
    import pytest as _pytest

    root = str(tmp_path / "idx")
    os.makedirs(root)
    # a FOREIGN holder's live lease (not this thread's — a same-
    # thread acquire would just re-enter without touching the FS)
    _plant_foreign(spark, root)
    real_fs_path = lease_mod._fs_path

    class _BrokenFs:
        def __init__(self, fs):
            self._fs = fs

        def create(self, jp, overwrite=False):
            raise RuntimeError("simulated create conflict")

        def getFileStatus(self, jp):
            raise RuntimeError("simulated stat blip")

        def exists(self, jp):
            raise RuntimeError("simulated exists blip")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def broken(spark_, p):
        fs, jp = real_fs_path(spark_, p)
        return _BrokenFs(fs), jp

    monkeypatch.setattr(lease_mod, "_fs_path", broken)
    with _pytest.raises(lease_mod.WriterLeaseConflict):
        acquire_writer_lease(spark, root, "rival")
    monkeypatch.undo()
    break_writer_lease(spark, root)


# ------------------------------------------------- per writer family


def test_append_to_index_fenced(spark, sf_dir, tmp_path, sabotage):
    from big_data_bowl___2023_spark.similarity import (
        append_to_index,
        build_ann_index,
        index_cell_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    build_ann_index(emb.limit(50), idx)
    n0 = index_cell_stats(spark, idx)["n_rows"]
    before = _snapshot(idx)
    sabotage(idx)
    with pytest.raises(WriterLeaseConflict,
                       match="aborting before publish"):
        append_to_index(emb.limit(10), idx)
    assert _snapshot(idx) == before
    assert index_cell_stats(spark, idx)["n_rows"] == n0


def test_delete_and_clear_fenced(spark, sf_dir, tmp_path, sabotage):
    from big_data_bowl___2023_spark.similarity import (
        build_ann_index,
        clear_index_deletes,
        delete_from_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    build_ann_index(emb.limit(50), idx)
    before = _snapshot(idx)
    sabotage(idx)
    with pytest.raises(WriterLeaseConflict,
                       match="aborting before publish"):
        delete_from_index(spark, idx, [1, 2])
    assert _snapshot(idx) == before       # no marker dir appeared
    break_writer_lease(spark, idx)
    delete_from_index(spark, idx, [1])    # real marker for clear test
    before = _snapshot(idx)
    sabotage(idx)                         # re-arm (file now healthy)
    with pytest.raises(WriterLeaseConflict,
                       match="aborting before publish"):
        clear_index_deletes(spark, idx)
    assert _snapshot(idx) == before       # marker survived the abort


def test_compact_and_vacuum_fenced(spark, sf_dir, tmp_path, sabotage):
    from big_data_bowl___2023_spark.similarity import (
        build_ann_index,
        index_versions,
    )
    from big_data_bowl___2023_spark.streaming.ann_index_stream import (
        compact_index,
        vacuum_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    build_ann_index(emb.limit(50), idx)
    compact_index(spark, idx)             # publish v=2 while healthy
    assert index_versions(spark, idx) == [1, 2]
    before = _snapshot(idx)
    sabotage(idx)
    with pytest.raises(WriterLeaseConflict,
                       match="aborting before publish"):
        compact_index(spark, idx)
    assert _snapshot(idx) == before
    break_writer_lease(spark, idx)
    sabotage(idx)
    with pytest.raises(WriterLeaseConflict,
                       match="aborting before publish"):
        vacuum_index(spark, idx)
    assert index_versions(spark, idx) == [1, 2]
    assert _snapshot(idx) == before


def test_build_rebuild_fenced(spark, sf_dir, tmp_path, sabotage):
    from big_data_bowl___2023_spark.similarity import (
        build_ann_index,
        index_cell_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    build_ann_index(emb.limit(50), idx)
    before = _snapshot(idx)
    sabotage(idx)
    with pytest.raises(WriterLeaseConflict,
                       match="aborting before publish"):
        build_ann_index(emb.limit(10), idx)    # the rebuild
    assert _snapshot(idx) == before             # predecessor intact
    break_writer_lease(spark, idx)
    assert index_cell_stats(spark, idx)["n_rows"] == 50


def _doc(i):
    return (i, "src", " ".join(
        f"w{i}tok{j} common filler text segment" for j in range(13)))


def test_curation_ingest_and_compact_fenced(spark, tmp_path, sabotage):
    from big_data_bowl___2023_spark.streaming import (
        compact_curated,
        make_curation_ingest_batch_fn,
        read_curated,
    )

    out = str(tmp_path / "curated")
    fp_idx = str(tmp_path / "fp_idx")
    docs = spark.createDataFrame(
        [_doc(1), _doc(2)],
        "doc_id long, source string, text string")
    fn = make_curation_ingest_batch_fn(out, fp_idx, min_words=10)
    fn(docs, 0)
    break_writer_lease(spark, out)        # drop the released-lease crumbs
    before_out, before_fp = _snapshot(out), _snapshot(fp_idx)
    sabotage(out)
    with pytest.raises(WriterLeaseConflict,
                       match="aborting before publish"):
        fn(spark.createDataFrame(
            [_doc(3)], "doc_id long, source string, text string"), 1)
    assert _snapshot(out) == before_out
    assert _snapshot(fp_idx) == before_fp
    break_writer_lease(spark, out)
    # compact: tombstone something first, then fence the swap
    from big_data_bowl___2023_spark.streaming import apply_snapshot_diff

    apply_snapshot_diff(
        spark, docs,
        spark.createDataFrame([_doc(2)],
                              "doc_id long, source string, text string"),
        out, fp_idx, batch_id=2, min_words=10)
    before_out = _snapshot(out)
    tombs = _snapshot(str(tmp_path / "curated_tombstones"))
    sabotage(out)
    with pytest.raises(WriterLeaseConflict,
                       match="aborting before publish"):
        compact_curated(spark, out)
    assert _snapshot(out) == before_out
    assert _snapshot(str(tmp_path / "curated_tombstones")) == tombs
    assert not os.path.exists(out + "__new")  # staged discarded
    break_writer_lease(spark, out)
    assert {r.doc_id for r in read_curated(spark, out).collect()} == {2}


def test_apply_snapshot_diff_fenced(spark, tmp_path, sabotage):
    from big_data_bowl___2023_spark.streaming import (
        apply_snapshot_diff,
        make_curation_ingest_batch_fn,
        read_curated,
    )

    out = str(tmp_path / "curated")
    fp_idx = str(tmp_path / "fp_idx")
    old = spark.createDataFrame(
        [_doc(1), _doc(2)], "doc_id long, source string, text string")
    make_curation_ingest_batch_fn(out, fp_idx, min_words=10)(old, 0)
    break_writer_lease(spark, out)
    before_out, before_fp = _snapshot(out), _snapshot(fp_idx)
    sabotage(out)
    new = spark.createDataFrame(
        [_doc(2), _doc(3)], "doc_id long, source string, text string")
    with pytest.raises(WriterLeaseConflict,
                       match="aborting before publish"):
        apply_snapshot_diff(spark, old, new, out, fp_idx, batch_id=1,
                            min_words=10)
    assert _snapshot(out) == before_out
    assert _snapshot(fp_idx) == before_fp
    assert not os.path.exists(out + "_tombstones")
    break_writer_lease(spark, out)
    assert {r.doc_id for r in read_curated(spark, out).collect()} \
        == {1, 2}


def test_semantic_ingest_and_compact_fenced(spark, sf_dir, tmp_path,
                                            sabotage):
    from big_data_bowl___2023_spark.streaming.semantic_stream import (
        compact_semantic_corpus,
        make_semantic_ingest_batch_fn,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = str(tmp_path / "sem")
    cb = str(tmp_path / "codebook")
    fn = make_semantic_ingest_batch_fn(out, cb, threshold=0.2)
    fn(emb.filter(F.col("vec_id") < 40), 0)
    break_writer_lease(spark, out)
    before = {d: _snapshot(d) for d in (out, cb, out + "_dropped")
              if os.path.exists(d)}
    sabotage(out)
    with pytest.raises(WriterLeaseConflict,
                       match="aborting before publish"):
        fn(emb.filter((F.col("vec_id") >= 40)
                      & (F.col("vec_id") < 60)), 1)
    for d, snap in before.items():
        assert _snapshot(d) == snap
    break_writer_lease(spark, out)
    sabotage(out)
    with pytest.raises(WriterLeaseConflict,
                       match="aborting before publish"):
        compact_semantic_corpus(spark, out, cb, threshold=0.2)
    for d, snap in before.items():
        assert _snapshot(d) == snap
    assert not os.path.exists(out + "__new")
