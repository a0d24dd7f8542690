"""E50/E51 — stream-stream interval join (stream/batch parity over
the events table split into two typed streams) and foreachBatch
streaming upsert (two micro-batches converge the table to
last-write-wins per key with only touched partitions rewritten)."""

from __future__ import annotations

import tempfile
import time

from pyspark.sql import functions as F

from big_data_bowl___2023_spark.sources.io import load_table
from big_data_bowl___2023_spark.streaming import (
    read_event_stream,
    run_available_now,
)
from big_data_bowl___2023_spark.streaming.joins import (
    foreach_batch_upsert,
    interval_join,
)


def _typed(df, t):
    return (df.filter(F.col("event_type") == t)
            .select("user_id", "ts", F.col("event_id").alias(f"{t}_id")))


def test_interval_join_stream_batch_parity(spark, sf_dir):
    ev_b = load_table(spark, sf_dir, "events")
    types = [r[0] for r in
             ev_b.select("event_type").distinct().orderBy("event_type")
             .limit(2).collect()]
    ta, tb = types

    batch = interval_join(_typed(ev_b, ta), _typed(ev_b, tb),
                          "user_id", upper="10 minutes")
    b_rows = {(r.k, r[f"{ta}_id"], r[f"r_{tb}_id"])
              for r in batch.collect()}
    assert len(b_rows) > 0

    ev_s = read_event_stream(spark, sf_dir)
    stream = interval_join(_typed(ev_s, ta), _typed(ev_s, tb),
                           "user_id", upper="10 minutes")
    s_rows = {(r.k, r[f"{ta}_id"], r[f"r_{tb}_id"])
              for r in run_available_now(stream, spark,
                                         output_mode="append").collect()}
    assert s_rows == b_rows


def test_interval_join_shared_payload_names(spark):
    """Both sides carrying the same payload column name must not
    produce ambiguous output columns (right side comes out r_-prefixed)."""
    import datetime as dt
    t0 = dt.datetime(2023, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, t0, "L")], ["uid", "ts", "value"])
    right = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=50), "R")], ["uid", "ts", "value"])
    out = interval_join(left, right, "uid",
                        lower="0 seconds", upper="2 minutes")
    assert set(out.columns) == {"k", "l_ts", "value", "r_ts", "r_value"}
    row = out.collect()[0]
    assert (row.value, row.r_value) == ("L", "R")


def test_foreach_batch_upsert_converges(spark):
    with tempfile.TemporaryDirectory() as tmp:
        src, table, ckpt = f"{tmp}/src", f"{tmp}/table", f"{tmp}/ckpt"

        def emit(rows):
            (spark.createDataFrame(rows, ["k", "p", "val"])
             .coalesce(1).write.mode("append").parquet(src))
            time.sleep(1.1)

        emit([(1, 0, "a0"), (2, 1, "b0"), (3, 0, "c0")])
        schema = spark.read.parquet(src).schema

        def drain():
            stream = spark.readStream.schema(schema).parquet(src)
            q = foreach_batch_upsert(stream, table, ["k"], "p", ckpt)
            q.awaitTermination()

        drain()
        assert {(r.k, r.val) for r in spark.read.parquet(table).collect()} \
            == {(1, "a0"), (2, "b0"), (3, "c0")}

        # second wave: update k=1 (partition 0), insert k=4 (part 1);
        # partition 0's k=3 and partition 1's k=2 must survive
        emit([(1, 0, "a1"), (4, 1, "d0")])
        drain()
        spark.catalog.refreshByPath(table)
        got = {(r.k, r.p, r.val)
               for r in spark.read.parquet(table).collect()}
        assert got == {(1, 0, "a1"), (2, 1, "b0"),
                       (3, 0, "c0"), (4, 1, "d0")}


def test_foreach_batch_upsert_read_failure_keeps_table(spark, tmp_path,
                                                       monkeypatch):
    """A transient read failure on an ESTABLISHED table fails the
    query and leaves the table as it was — it is never mistaken for
    an absent table and bootstrapped over with the batch's rows."""
    import pytest
    from pyspark.sql.readwriter import DataFrameReader

    src, table, ckpt = (str(tmp_path / d) for d in ("src", "table",
                                                    "ckpt"))
    rows = [(k, k % 2, f"v{k}") for k in range(10)]
    (spark.createDataFrame(rows, ["k", "p", "val"])
     .write.partitionBy("p").parquet(table))
    (spark.createDataFrame([(42, 0, "new")], ["k", "p", "val"])
     .coalesce(1).write.parquet(src))

    orig = DataFrameReader.parquet
    faults = []

    def flaky(self, *paths, **kw):
        if not faults and any(table in str(p) for p in paths):
            faults.append(paths)
            raise RuntimeError("injected transient storage failure")
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", flaky)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    q = foreach_batch_upsert(stream, table, ["k"], "p", ckpt)
    with pytest.raises(Exception, match="injected transient"):
        q.awaitTermination()
    monkeypatch.undo()

    assert faults
    spark.catalog.refreshByPath(table)
    got = {(r.k, r.val) for r in spark.read.parquet(table).collect()}
    assert got == {(k, v) for k, _, v in rows}
