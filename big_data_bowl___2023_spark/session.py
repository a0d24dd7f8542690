"""SparkSession factory tuned for the engine.

The reference (SURVEY.md §3) is a single R process with eager in-memory
materialization; here the session is configured so the same logical
pipelines scale out: AQE for runtime re-planning (broadcast decisions,
skew-join splitting, partition coalescing), Arrow for any pandas-UDF
boundary, and shuffle partitioning sized from the environment rather
than hard-coded.

At 100 TB the same code runs with a different master/conf; nothing in
the engine assumes local mode.
"""

from __future__ import annotations

import contextlib
import contextvars
import os
import tempfile

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# Ambient default for pin(durable=None) call sites. Seeded from the
# environment so a cluster deployment flips every pipeline to the
# preemption-safe mode with one env var, no code change; tests and
# entry points override it scoped via durable_pins(). A ContextVar,
# not a module global: concurrent pipeline threads (foreachBatch
# micro-batch workers, parallel CV fits) each see their own scope
# instead of racing one set/restore — the same hazard the per-write
# partitionOverwriteMode fix closes for writer confs.
_DURABLE_PINS: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "spark_graft_durable_pins",
    default=os.environ.get("SPARK_GRAFT_DURABLE_PINS", "").lower()
    in ("1", "true", "yes"))


def durable_pins_default() -> bool:
    """The ambient pin durability mode for the current context."""
    return _DURABLE_PINS.get()


@contextlib.contextmanager
def durable_pins(enabled: bool | None = True):
    """Scope the default persistence mode of every pin() underneath
    (current thread/context only — see _DURABLE_PINS).

    ``None`` means "leave the ambient default alone" so entry points
    can expose a tri-state ``durable`` kwarg and forward it blindly."""
    if enabled is None:
        yield
        return
    token = _DURABLE_PINS.set(bool(enabled))
    try:
        yield
    finally:
        _DURABLE_PINS.reset(token)


def pin(df: DataFrame, durable: bool | None = None,
        truncate: bool = False) -> DataFrame:
    """Materialization pin for a fan-out / iterative reuse boundary.
    Every pipeline fan-out in the engine routes through here (a
    source-hygiene pytest bans direct ``localCheckpoint`` calls), so
    the durability policy is one switch, not a per-file audit.

    ``durable=None`` (default) reads the ambient mode: ``False``
    unless ``SPARK_GRAFT_DURABLE_PINS=1`` or a ``durable_pins()``
    scope is active (entry points thread their ``durable`` kwarg
    through that scope).

    ``durable=False``: ``localCheckpoint()`` — eager, fast, and it
    TRUNCATES lineage, which the deep self-joining pipelines need to
    keep driver-side analysis/codegen linear. The cost is that the
    checkpoint blocks are non-replicated and non-recomputable: on a
    cluster that loses an executor (preemption is routine at scale)
    the job dies instead of recomputing.

    ``durable=True``: the preemption-safe mode.

    * ``truncate=False`` — ``persist(StorageLevel.DISK_ONLY)``: full
      lineage kept, so a lost block is recomputed from source instead
      of killing the job. The cheap durable flavor; right for one-shot
      fan-outs whose lineage is re-analyzable.
    * ``truncate=True`` — reliable ``checkpoint()`` to the checkpoint
      dir (set it to HDFS/object storage on a real cluster; a local
      temp dir is auto-provisioned otherwise). For sites where
      truncation is load-bearing: iterative loops whose plans compound
      (connected components, PageRank) and read-modify-write sinks
      whose lineage must NOT be recomputable after the target path
      changes (upsert, the streaming curation loop).

    Same DataFrame values in every mode — pytest pins the equivalence
    (tests/test_pin_durability.py)."""
    if durable is None:
        durable = _DURABLE_PINS.get()
    if not durable:
        return df.localCheckpoint()
    if truncate:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            # auto-provision ONLY in local mode, where driver and
            # executors share one filesystem. On a cluster a
            # driver-local temp dir would scatter non-shared blocks
            # across executor disks — the opposite of durable — so
            # demand an explicit shared (HDFS/object-store) dir.
            if not sc.master.startswith("local"):
                raise RuntimeError(
                    "durable pin(truncate=True) needs a SHARED "
                    "checkpoint dir on a cluster: call "
                    "spark.sparkContext.setCheckpointDir("
                    "'hdfs://... or s3://...') before the pipeline")
            sc.setCheckpointDir(
                tempfile.mkdtemp(prefix="spark_graft_ckpt_"))
        return df.checkpoint()
    return df.persist(StorageLevel.DISK_ONLY)

# Columnar batch + shuffle sizing chosen so a partition of a wide
# frame-grain table (the reference's main_df analogue) stays well under
# executor memory at large SF: 128 MiB input splits are the parquet
# industry default; shuffle partitions default to 2x cores locally and
# should be overridden (or left to AQE coalescing) on a real cluster.
_DEFAULTS = {
    # local[N] runs driver==executor in one JVM; size the heap for
    # broadcast builds + cached frame-grain intermediates (the box has
    # 128 GiB; a real cluster sets executor memory instead).
    "spark.driver.memory": "12g",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # Deterministic timestamp behavior across engines (oracle = DuckDB).
    "spark.sql.session.timeZone": "UTC",
    # Durable pins use reliable checkpoints; without this Spark NEVER
    # deletes checkpoint files, so a long-running stream or iterative
    # loop under durable mode leaks storage without bound. With it,
    # the ContextCleaner removes a checkpoint once its RDD is GC'd on
    # the driver (i.e. after the pipeline releases the DataFrame).
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # Catalog tables (bucketed layouts) land outside the repo.
    "spark.sql.warehouse.dir": "/tmp/spark_graft_warehouse",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def enable_runtime_filters(spark: SparkSession,
                           application_side_min_bytes: int = 0) -> None:
    """Turn on runtime bloom-filter join pruning for this session.

    Catalyst can build a bloom filter from the FILTERED build side of
    a shuffle join and push it into the probe side's scan — rows whose
    join key cannot match are dropped at the source, before the
    shuffle. For a fact ⋈ selective-dim join at 100 TB this prunes
    most of the fact scan's shuffle output; it is the runtime
    complement to static partition pruning.

    Spark gates injection on the probe scan being large
    (``applicationSideScanSizeThreshold``, default 10 GB — always met
    by a real fact table; lowered here so local tests exercise the
    same plan). The feature itself ships enabled in Spark 3.5+; this
    helper only adjusts the size gate."""
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled",
                   "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold",
        str(application_side_min_bytes))


def enable_aggregate_pushdown(spark: SparkSession) -> None:
    """Answer bare MIN/MAX/COUNT from parquet footer statistics.

    A full-table MIN/MAX/COUNT over 100 TB normally scans every row;
    with aggregate pushdown the DSv2 parquet scan reads only the file
    footers — O(files), not O(rows). Two confs: the pushdown switch,
    and routing parquet through the v2 source (the v1 path cannot push
    aggregates). Applies to ungrouped, unfiltered aggregates over
    plain columns — anything else falls back to a normal scan, so
    enabling this is never a correctness trade."""
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")


def get_spark(app_name: str = "big-data-bowl-2023-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    ``SPARK_GRAFT_CPUS`` sizes local parallelism, mirroring how a real
    deployment would size ``spark.executor.cores`` x instances.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    if cpus not in ("*", ""):
        conf["spark.sql.shuffle.partitions"] = str(max(int(cpus), 8))
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
