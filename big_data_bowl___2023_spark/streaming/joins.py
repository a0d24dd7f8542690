"""Stream-stream joins and streaming upsert sinks.

The two remaining production streaming shapes:

* ``interval_join`` — correlate two event streams (click↔view,
  request↔response) on a key within a time interval. Spark buffers
  both sides in state; the WATERMARKS plus the time-range predicate
  are what let it evict — an unbounded stream-stream join without
  both is unbounded state. Works identically as a batch range join
  for the parity check.
* ``foreach_batch_upsert`` — continuous merge into a partitioned
  parquet table: each micro-batch runs the partition-scoped
  copy-on-write upsert (sources/io.py::upsert_partitioned), so the
  table converges to last-write-wins per key while only touched
  partitions rewrite. This is the streaming CDC-apply pattern
  without a table-format dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(left: DataFrame, right: DataFrame, key: str,
                  left_ts: str = "ts", right_ts: str = "ts",
                  lower: str = "0 seconds",
                  upper: str = "10 minutes",
                  watermark: str | None = "30 minutes") -> DataFrame:
    """Rows of ``left`` matched to ``right`` rows with the same key
    where right_ts ∈ [left_ts + lower, left_ts + upper].

    On streaming inputs both sides get the watermark (required for
    state eviction); on batch inputs the same plan is an ordinary
    range join, which is what the parity test exploits.

    Right-side payload columns come out prefixed ``r_`` so that two
    streams sharing payload names (the common case: both carry e.g.
    ``value``) never produce ambiguous output columns."""
    reserved = {"k", "l_ts", "r_ts"}
    clash = [c for c in left.columns
             if c not in (key, left_ts) and c in reserved]
    if clash:
        raise ValueError(
            f"left payload columns collide with reserved names: {clash}")
    l = left.select(F.col(key).alias("k"),
                    F.col(left_ts).alias("l_ts"),
                    *[c for c in left.columns
                      if c not in (key, left_ts)])
    r = right.select(F.col(key).alias("k"),
                     F.col(right_ts).alias("r_ts"),
                     *[F.col(c).alias(f"r_{c}") for c in right.columns
                       if c not in (key, right_ts)])
    if watermark and l.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if watermark and r.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = ((l["k"] == r["k"])
            & (r["r_ts"] >= l["l_ts"] + F.expr(f"INTERVAL {lower}"))
            & (r["r_ts"] <= l["l_ts"] + F.expr(f"INTERVAL {upper}")))
    return l.join(r, cond).drop(r["k"])


def foreach_batch_upsert(stream: DataFrame, table_dir: str,
                         key_cols: list[str], partition_col: str,
                         checkpoint: str):
    """Start a streaming query that MERGES each micro-batch into a
    partitioned parquet table (first batch bootstraps the table).
    Only an absent table bootstraps: any other read failure fails the
    batch (and the query) with the table untouched, never an
    overwrite. Returns the StreamingQuery; callers trigger/await as
    usual."""
    from ..sources.io import read_parquet_if_present, upsert_partitioned

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # dedupe within the batch: last row per key wins is not
        # defined without order, so keep max by partition+key insert
        batch = batch.dropDuplicates(key_cols)
        if read_parquet_if_present(spark, table_dir) is None:
            (batch.write.mode("overwrite")
             .partitionBy(partition_col).parquet(table_dir))
        else:
            upsert_partitioned(spark, table_dir, batch,
                               key_cols, partition_col)

    return (stream.writeStream
            .foreachBatch(apply)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
