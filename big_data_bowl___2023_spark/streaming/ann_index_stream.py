"""Streaming maintenance of the persistent ANN index.

`similarity.index` gives the batch story (build / append / pruned
search); a production embedding pipeline RECEIVES vectors as a
stream. This is the foreachBatch face: the first non-empty batch
builds the index (meta + cell layout) with the factory's dim /
n_planes, every later batch appends through the SAME recorded planes
— so stream-built and batch-built indexes are byte-compatible and
`ann_index_search` works mid-stream.

Delivery contract — at-least-once in storage, exactly-once in
results: a crash between the parquet append and the checkpoint
commit replays the batch, double-appending rows. That is deliberate:
the replayed rows are bit-identical (same ids, same vectors → same
cells, same cosines) and `ann_index_search` dedupes (query, neighbor) pairs BEFORE its
ranking window, so duplicates can never change a result — they only
cost scan bytes. The batch loop
therefore needs NO ledger, no _SUCCESS gating, and no
snapshot-per-batch machinery (contrast `scd_stream`, where replayed
state would be WRONG, not merely redundant). The reclaim pass is
:func:`compact_index`, which also fixes the other streaming-ingest
pathology: thousands of per-batch small files inside each cell
directory.

Compaction PUBLISHES: the rewritten layout goes live as
``cells/v=N+1`` through `sources.io.publish_version` — staged under a
name the version lister ignores, made visible by one rename — so
in-flight searches keep their pinned ``v=N`` files, new searches pick
up N+1, and a failed or crashed stage leaves only an invisible temp
dir (swept by the next compaction or vacuum). Searches therefore
need NO scheduling around compaction at all; the remaining rule is
that appends and compactions serialize with each other (one
maintenance writer — an append into v=N racing the compaction's read
of it would be missing from v=N+1). Superseded versions are
reclaimed by :func:`vacuum_index` once in-flight readers have
drained.

Reference scope note: north-star extension (SURVEY.md §2 extensions,
inventory E113); the reference has no vector or streaming surface.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..similarity.index import (
    _CELLS,
    _META,
    _minus_deletes,
    _read_meta,
    append_to_index,
    build_ann_index,
    index_versions,
)
from ..sources.io import _fs


def make_ann_index_batch_fn(index_dir: str, dim: int = 64,
                            n_planes: int = 3,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id"
                            ) -> Callable[[DataFrame, int], None]:
    """foreachBatch processor maintaining a persistent ANN index from
    a vector stream: ``stream.writeStream.foreachBatch(fn)``. First
    non-empty batch builds (dim/n_planes frozen into the meta); later
    batches append with the meta's recorded planes — the factory
    args are only a bootstrap default, an existing index always wins
    (so a restart with different factory args cannot fork the cell
    geometry). Empty batches write nothing."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        # gate on the meta DIRECTORY, not its _SUCCESS marker: with
        # success markers disabled (a common object-store committer
        # setting) a marker gate would see "no index" forever and
        # every batch would REBUILD with overwrite — silent loss of
        # all prior vectors. A directory that exists but is torn
        # fails safe instead: append_to_index's _read_meta raises.
        meta = f"{index_dir}/{_META}"
        fs, P = _fs(batch_df.sparkSession, meta)
        if fs.exists(P(meta)):
            append_to_index(batch_df, index_dir, vec_col, id_col)
        else:
            build_ann_index(batch_df, index_dir, dim, n_planes,
                            vec_col, id_col)

    return process


def compact_index(spark: SparkSession, index_dir: str,
                  target_file_mb: int = 128,
                  dedupe: bool = False) -> dict:
    """Publish a compacted ``cells/v=N+1`` from the current version:
    the rewrite lands in ~``target_file_mb`` files per cell
    (``maxRecordsPerFile`` sized from the live version's byte/row
    ratio) and ``dedupe=True`` also drops duplicate ids left by
    at-least-once replays (replayed rows are bit-identical, so
    keeping any one is exact). The staged write is invisible to
    version listing until ONE rename flips it live, so concurrent
    searches are never torn: pinned scans keep v=N, new scans see
    N+1. Serialize with appends (module contract); reclaim
    superseded versions with :func:`vacuum_index` after readers
    drain. A compaction that crashed mid-stage leaves only an
    invisible temp dir, deleted on the next run.

    Returns {"cells", "files_before", "files_after", "bytes",
    "version"} — `version` is the newly published N+1. Serialized by
    the writer lease (`sources.lease`)."""
    from ..sources.lease import writer_lease

    # the lease heartbeats by default (ttl/6), so the rewrite can
    # outlive the TTL; the commit-point gate below still detects a
    # genuine takeover
    with writer_lease(spark, index_dir, "compact_index"):
        return _compact_index_unlocked(spark, index_dir,
                                       target_file_mb, dedupe)


def _compact_index_unlocked(spark, index_dir, target_file_mb,
                            dedupe):
    from ..session import pin
    from ..sources.io import parquet_stats, publish_version
    from ..sources.lease import commit_gate

    cells_root = f"{index_dir}/{_CELLS}"
    versions = index_versions(spark, index_dir)
    if not versions:
        raise ValueError(f"no index cells at {index_dir}")
    v_new = versions[-1] + 1
    live = f"{cells_root}/v={versions[-1]}"
    files_before, total_bytes = parquet_stats(spark, live)
    # gate the stale-staging sweep on entry too (round 12): a zombie
    # compactor's sweep would delete the NEW holder's staging dir
    commit_gate(spark, index_dir, "compact_index stale-tmp sweep")
    with publish_version(spark, cells_root, v_new) as staged:
        df = spark.read.parquet(live)
        # Partition-value type inference parses the all-digit cell
        # bitstrings as INTEGERS, dropping leading zeros — a naive
        # rewrite would publish cell=0 where _assign writes cell=000,
        # forking the physical naming inside one version (searches
        # only survived via implicit string→int coercion). Bits are
        # 0/1 only, so lpad to the meta's plane count restores the
        # exact original directory names.
        _, n_planes = _read_meta(spark, index_dir)
        df = df.withColumn(
            "cell", F.lpad(F.col("cell").cast("string"), n_planes, "0"))
        # apply delete markers PHYSICALLY: the published version
        # simply lacks the rows. The marker dir stays — older pinned
        # versions still need it; clear_index_deletes is the explicit
        # GC once vacuum has retired them (module contract).
        df = _minus_deletes(spark, index_dir, df)
        pinned = None
        try:
            total_rows = out_rows = df.count()
            if dedupe:
                # a vector's cell is a pure function of the vector,
                # so a global id-dedupe equals the per-cell one; pin
                # so the sizing count and the rewrite share one
                # shuffle
                df = pinned = pin(df.dropDuplicates(["neighbor_id"]))
                out_rows = df.count()
            per_file = max(
                1, int(total_rows * target_file_mb * 1024 * 1024
                       / max(1, total_bytes)))
            (df.repartition("cell")
               .write.mode("overwrite").partitionBy("cell")
               .option("maxRecordsPerFile", per_file)
               .parquet(staged))
        finally:
            if pinned is not None:
                pinned.unpersist(blocking=False)
        # renew-or-abort at the COMMIT point: a compaction over a
        # huge index can outlive the lease TTL mid-rewrite; if the
        # lease was taken over, publishing v_new would race the new
        # writer — the staged dir is discarded and the publish fails
        # loudly instead
        commit_gate(spark, index_dir, "compact_index publish")
    final = f"{cells_root}/v={v_new}"
    files_after, _ = parquet_stats(spark, final)
    fs, P = _fs(spark, final)
    n_cells = sum(1 for st in fs.listStatus(P(final))
                  if st.isDirectory()
                  and st.getPath().getName().startswith("cell="))
    return {"cells": n_cells, "files_before": files_before,
            "files_after": files_after, "bytes": total_bytes,
            "rows": out_rows, "version": v_new}


def vacuum_index(spark: SparkSession, index_dir: str,
                 keep: int = 1) -> dict:
    """Delete all but the newest ``keep`` published cell versions
    (plus stale staging dirs). This is the ONLY operation that
    removes data a pinned reader could still hold — run it after
    in-flight searches of superseded versions have drained (the drain
    window is deployment policy, exactly like any snapshot-isolation
    vacuum). Vacuum is a MAINTENANCE WRITER like append/compact:
    serialize it with them (its stale-tmp sweep would delete a
    concurrently STAGING compaction's temp dir; the
    one-maintenance-writer rule was always the contract, vacuum is
    not exempt). Returns {"kept", "deleted"}. Serialized by the
    writer lease (`sources.lease`)."""
    from ..sources.lease import writer_lease

    with writer_lease(spark, index_dir, "vacuum_index"):
        return _vacuum_index_unlocked(spark, index_dir, keep)


def _vacuum_index_unlocked(spark, index_dir, keep):
    from ..sources.io import sweep_publish_staging
    from ..sources.lease import commit_gate

    if keep < 1:
        raise ValueError("vacuum must keep at least the live version")
    cells_root = f"{index_dir}/{_CELLS}"
    fs, P = _fs(spark, cells_root)
    if not fs.exists(P(cells_root)):
        raise ValueError(f"no index cells at {index_dir}")
    # renew-or-abort before the first delete (verdict r11 #1): the
    # stale-tmp sweep is itself destructive — a dethroned vacuum
    # would delete the NEW writer's staging compaction dir
    commit_gate(spark, index_dir, "vacuum_index publish")
    sweep_publish_staging(spark, cells_root)
    versions = index_versions(spark, index_dir)
    drop = list(versions[:-keep]) if len(versions) > keep else []
    for v in drop:
        fs.delete(P(f"{cells_root}/v={v}"), True)
    return {"kept": versions[-keep:] if versions else [],
            "deleted": drop}
