"""Range-clustered parquet layout: every output file must cover a
disjoint key range (the property parquet min/max file skipping relies
on), file count must obey the compaction knob, and range predicates on
the cluster key must reach the scan as pushed filters."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from big_data_bowl___2023_spark.sources.io import (
    load_table, write_parquet_clustered,
)


def test_clustered_files_have_disjoint_ranges(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/orders_by_date"
        write_parquet_clustered(orders, path, ["o_orderdate"],
                                num_files=8)
        per_file = (spark.read.parquet(path)
                    .groupBy(F.input_file_name().alias("f"))
                    .agg(F.min("o_orderdate").alias("lo"),
                         F.max("o_orderdate").alias("hi"),
                         F.count(F.lit(1)).alias("n"))
                    .collect())
        assert 1 < len(per_file) <= 8
        assert sum(r.n for r in per_file) == orders.count()
        ranges = sorted([(r.lo, r.hi) for r in per_file])
        for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
            assert lo1 <= hi1
            # strictly disjoint: equal keys never straddle files
            assert hi1 < lo2

        # round-trip equality (clustering must not lose/dup rows)
        back = spark.read.parquet(path)
        assert back.count() == orders.count()
        assert (back.agg(F.sum(F.col("o_totalprice")
                               .cast("decimal(18,2)"))).collect()[0][0]
                == orders.agg(F.sum(F.col("o_totalprice")
                                    .cast("decimal(18,2)"))
                              ).collect()[0][0])


def test_clustered_range_predicate_pushdown(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/orders_by_key"
        write_parquet_clustered(orders, path, ["o_orderkey"],
                                num_files=4)
        q = (spark.read.parquet(path)
             .filter((F.col("o_orderkey") >= 100)
                     & (F.col("o_orderkey") < 200))
             .select("o_orderkey", "o_totalprice"))
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan
        assert "GreaterThanOrEqual(o_orderkey,100)" in plan
        # column pruning reached the scan too
        assert "o_orderstatus" not in plan.split("ReadSchema")[1][:200]
        got = sorted(r.o_orderkey for r in q.collect())
        want = sorted(r.o_orderkey for r in
                      orders.filter((F.col("o_orderkey") >= 100)
                                    & (F.col("o_orderkey") < 200))
                      .collect())
        assert got == want


def test_max_records_per_file_bounds_file_size(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    cap = max(1, n // 10)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/orders_capped"
        write_parquet_clustered(orders, path, ["o_orderkey"],
                                num_files=2, max_records_per_file=cap)
        per_file = (spark.read.parquet(path)
                    .groupBy(F.input_file_name())
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect())
        assert all(r.n <= cap for r in per_file)
        assert len(per_file) >= n // cap


def test_compact_parquet_small_files(spark, sf_dir, tmp_path):
    """64 tiny files compact to the byte-target count; content is
    row-identical after the staged Hadoop-FS swap (brief
    unavailability window, but never a half-written directory)."""
    from big_data_bowl___2023_spark.sources.io import compact_parquet

    target = str(tmp_path / "frag")
    li = load_table(spark, sf_dir, "lineitem").limit(20000)
    li.repartition(64).write.parquet(target)
    before = spark.read.parquet(target)
    n_before = before.count()
    checksum_before = before.select(
        F.xxhash64(*before.columns).alias("h")) \
        .agg(F.expr("bit_xor(h)")).first()[0]

    report = compact_parquet(spark, target, target_file_mb=128)
    assert report["files_before"] == 64
    assert report["files_after"] < 64

    after = spark.read.parquet(target)
    assert after.count() == n_before
    checksum_after = after.select(
        F.xxhash64(*after.columns).alias("h")) \
        .agg(F.expr("bit_xor(h)")).first()[0]
    assert checksum_after == checksum_before


def test_compact_parquet_stale_artifacts_recovered(
        spark, sf_dir, tmp_path):
    """A __bak beside a live dir and a __new left by a crashed prior
    run are stale by construction (a mid-swap crash leaves no dataset
    at the path, and the heal renames __bak back) — compaction must
    clear them and succeed rather than nesting the dataset inside the
    stale directory on rename."""
    import os

    from big_data_bowl___2023_spark.sources.io import compact_parquet

    target = str(tmp_path / "frag")
    li = load_table(spark, sf_dir, "lineitem").limit(1000)
    li.repartition(8).write.parquet(target)
    n = spark.read.parquet(target).count()

    os.makedirs(target + "__bak/junk")
    os.makedirs(target + "__new/junk")
    report = compact_parquet(spark, target, target_file_mb=128)
    assert report["files_before"] == 8

    spark.catalog.refreshByPath(target)
    assert spark.read.parquet(target).count() == n
    assert not os.path.exists(target + "__bak")
    assert not os.path.exists(target + "__new")


def test_compact_parquet_failed_stage_leaves_dataset_intact(
        spark, sf_dir, tmp_path):
    """A failure while STAGING (before any swap) must leave the
    original directory untouched and clean up the temp dir — induced
    with a sort column that doesn't exist."""
    import os

    import pytest

    from big_data_bowl___2023_spark.sources.io import compact_parquet

    target = str(tmp_path / "frag")
    li = load_table(spark, sf_dir, "lineitem").limit(1000)
    li.repartition(4).write.parquet(target)

    with pytest.raises(Exception):
        compact_parquet(spark, target, target_file_mb=128,
                        sort_within_by=["no_such_column"])

    spark.catalog.refreshByPath(target)
    assert spark.read.parquet(target).count() == 1000
    assert not os.path.exists(target + "__new")


def test_snapshot_publish_read_diff(spark, sf_dir, tmp_path):
    """Versioned snapshot publishing: v=1 bootstraps, v=2 records the
    change counts against v=1, readers pin any version, manifests
    verify, and unknown versions fail loudly."""
    import pytest

    from big_data_bowl___2023_spark.sources.io import (
        publish_snapshot,
        read_snapshot,
        verify_parquet_manifest,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200).cache()
    table = str(tmp_path / "corpus")

    r1 = publish_snapshot(docs, table)
    assert r1["version"] == 1 and r1["diff"] is None
    assert r1["rows"] == 200

    # v2: drop 10 docs, modify 5, add 3
    base = docs.filter(F.col("doc_id") % 20 != 0)        # remove ~10
    modified = base.withColumn(
        "text", F.when(F.col("doc_id") % 37 == 1,
                       F.concat(F.col("text"), F.lit(" edited")))
                 .otherwise(F.col("text")))
    added = (docs.limit(3)
             .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000)))
    v2 = modified.unionByName(added)
    r2 = publish_snapshot(v2, table)
    assert r2["version"] == 2
    n_removed = docs.count() - base.count()
    n_modified = base.filter(F.col("doc_id") % 37 == 1).count()
    assert r2["diff"] == {"added": 3, "removed": n_removed,
                          "modified": n_modified}

    # readers pin versions; latest is v2
    assert read_snapshot(spark, table, 1).count() == 200
    assert read_snapshot(spark, table).count() == v2.count()
    # manifest written and verifies for both versions
    for v in (1, 2):
        rep = verify_parquet_manifest(spark, f"{table}/v={v}")
        assert rep["ok"], rep
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, 9)


def test_failed_snapshot_publish_leaves_versions_unchanged(
        spark, sf_dir, tmp_path):
    """A publish whose write fails in a task must publish nothing: an
    empty ``v=2`` would be listed, break ``read_snapshot()`` on schema
    inference, and break every later publish (which diffs against
    it). The staged dir is gone and the next publish takes v=2."""
    import os

    import pytest

    from big_data_bowl___2023_spark.sources.io import (
        publish_snapshot,
        read_snapshot,
        snapshot_versions,
    )

    docs = load_table(spark, sf_dir, "documents").limit(50).cache()
    table = str(tmp_path / "corpus")
    publish_snapshot(docs, table)
    broken = docs.withColumn(
        "text", F.when(F.col("doc_id") >= 0, F.raise_error(F.lit("boom")))
        .otherwise(F.col("text")))
    with pytest.raises(Exception):
        publish_snapshot(broken, table)
    assert snapshot_versions(spark, table) == [1]
    assert sorted(os.listdir(table)) == ["v=1"]
    assert read_snapshot(spark, table).count() == 50

    r2 = publish_snapshot(docs.filter(F.col("doc_id") % 2 == 0), table)
    assert r2["version"] == 2 and snapshot_versions(spark, table) == [1, 2]
    assert r2["diff"]["added"] == 0 and r2["diff"]["modified"] == 0
    assert r2["diff"]["removed"] == 50 - r2["rows"]


def test_snapshot_publish_on_uri_table_dir(spark, sf_dir, tmp_path):
    """The manifest is read and written through the Hadoop FS API
    like every other publish step, so a URI table dir (``file://``
    here; ``hdfs://`` or ``s3a://`` on a cluster) publishes twice,
    reads back and verifies. The local FS writes a
    ``._MANIFEST.json.crc`` sidecar beside the manifest: Spark hides
    it and the verifier lists only ``.parquet`` files."""
    from big_data_bowl___2023_spark.sources.io import (
        publish_snapshot,
        read_snapshot,
        verify_parquet_manifest,
    )

    docs = load_table(spark, sf_dir, "documents").limit(40).cache()
    table = (tmp_path / "corpus").as_uri()
    assert table.startswith("file://")
    r1 = publish_snapshot(docs, table)
    r2 = publish_snapshot(docs.filter(F.col("doc_id") % 2 == 0), table)
    assert (r1["version"], r2["version"]) == (1, 2)
    assert r2["diff"]["removed"] == 40 - r2["rows"]
    assert read_snapshot(spark, table).count() == r2["rows"]
    for v in (1, 2):
        assert verify_parquet_manifest(spark, f"{table}/v={v}")["ok"]
