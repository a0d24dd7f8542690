"""Bloom-filter membership artifacts (dedup/bloom.py).

Contracts under test:
* zero false negatives — every inserted key probes True (hard
  guarantee, exact);
* false-positive rate on disjoint probes within a loose multiple of
  the designed fpr;
* merged per-batch artifacts are BIT-EXACT equal to the single-pass
  build (OR associativity), and idempotent under re-merge;
* partitioning invariance — the artifact does not depend on layout;
* parquet round trip of the sparse artifact;
* probe plan is map-side: no Exchange introduced by might_contain;
* NULL-key three-valued logic and prefilter routing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.dedup.bloom import (
    BloomParams,
    MAX_BITS,
    bloom_bytes,
    bloom_parameters,
    bloom_prefilter,
    bloom_summary,
    merge_blooms,
    might_contain,
)


def _members(spark, n, prefix="key"):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id")).alias("k"))


def test_bloom_parameters_math():
    p = bloom_parameters(1000, 0.01)
    # m = -n ln p / ln2^2 ≈ 9585 bits -> rounded to 64-multiple
    assert p.num_bits % 64 == 0
    assert 9585 <= p.num_bits <= 9585 + 64
    assert p.num_hashes == 7  # (m/n) ln2 ≈ 6.64 -> round
    with pytest.raises(ValueError):
        bloom_parameters(0, 0.01)
    with pytest.raises(ValueError):
        bloom_parameters(100, 1.5)
    with pytest.raises(ValueError):
        bloom_parameters(MAX_BITS, 1e-9)  # blows the broadcast guard


def test_no_false_negatives_and_fpr_band(spark):
    n = 2000
    params = bloom_parameters(n, 0.02)
    members = _members(spark, n, "in")
    summary = bloom_summary(members, "k", *params)

    probed = might_contain(members, "k", summary, "hit")
    assert probed.filter(~F.col("hit")).count() == 0  # zero FNs

    outsiders = _members(spark, 10_000, "out")
    fp = might_contain(outsiders, "k", summary, "hit") \
        .filter(F.col("hit")).count()
    # designed 2% on 10k probes -> expect ~200; allow a wide band
    # (hash-function variance) but catch broken hashing (≈100%).
    assert fp / 10_000 < 0.06
    assert fp > 0  # a filter with zero FPs at this load is ~impossible


def test_merge_bit_exact_and_idempotent(spark):
    params = bloom_parameters(3000, 0.01)
    a = _members(spark, 1000, "a")
    b = _members(spark, 1000, "b")
    c = _members(spark, 1000, "c")
    whole = bloom_summary(a.union(b).union(c), "k", *params)
    merged = merge_blooms(bloom_summary(a, "k", *params),
                          bloom_summary(b, "k", *params),
                          bloom_summary(c, "k", *params))
    wb, wp = bloom_bytes(whole)
    mb, mp = bloom_bytes(merged)
    assert wp == mp == BloomParams(*params)
    assert wb == mb
    # idempotency: re-merging an already-included batch changes nothing
    again = merge_blooms(merged, bloom_summary(b, "k", *params))
    assert bloom_bytes(again)[0] == wb


def test_partitioning_invariance(spark):
    params = bloom_parameters(500, 0.01)
    df = _members(spark, 500)
    one = bloom_bytes(bloom_summary(df.coalesce(1), "k", *params))[0]
    many = bloom_bytes(bloom_summary(df.repartition(13), "k",
                                     *params))[0]
    assert one == many


def test_sparse_artifact_parquet_round_trip(spark, tmp_path):
    params = bloom_parameters(800, 0.01)
    df = _members(spark, 800)
    summary = bloom_summary(df, "k", *params)
    path = str(tmp_path / "bloom_artifact")
    summary.write.parquet(path)
    reloaded = spark.read.parquet(path)
    assert bloom_bytes(reloaded) == bloom_bytes(summary)
    # and the reloaded artifact still merges with a fresh batch
    fresh = bloom_summary(_members(spark, 100, "x"), "k", *params)
    m = merge_blooms(reloaded, fresh)
    probed = might_contain(_members(spark, 100, "x"), "k", m, "hit")
    assert probed.filter(~F.col("hit")).count() == 0


def test_empty_input_is_self_describing(spark):
    params = bloom_parameters(100, 0.01)
    empty = _members(spark, 0)
    dense, got = bloom_bytes(bloom_summary(empty, "k", *params))
    assert got == BloomParams(*params)
    assert set(dense) == {0}
    probed = might_contain(_members(spark, 50), "k",
                           bloom_summary(empty, "k", *params), "hit")
    assert probed.filter(F.col("hit")).count() == 0


def test_mixed_parameter_artifacts_refuse_dense(spark):
    a = bloom_summary(_members(spark, 10), "k", 640, 3)
    b = bloom_summary(_members(spark, 10), "k", 1280, 3)
    with pytest.raises(ValueError, match="mixes parameters"):
        bloom_bytes(merge_blooms(a, b))


def test_null_keys_three_valued(spark):
    params = bloom_parameters(100, 0.01)
    base = _members(spark, 50)
    with_null = base.union(
        spark.range(1).select(F.lit(None).cast("string").alias("k")))
    summary = bloom_summary(with_null, "k", *params)
    probed = might_contain(with_null, "k", summary, "hit")
    assert probed.filter(F.col("k").isNull()
                         & F.col("hit").isNull()).count() == 1
    # prefilter drops NULL-key rows in both modes
    assert bloom_prefilter(with_null, "k", summary, "maybe") \
        .filter(F.col("k").isNull()).count() == 0
    assert bloom_prefilter(with_null, "k", summary, "definitely_not") \
        .filter(F.col("k").isNull()).count() == 0
    with pytest.raises(ValueError, match="keep must be"):
        bloom_prefilter(base, "k", summary, "nope")


def test_prefilter_maybe_is_superset_of_members(spark):
    params = bloom_parameters(1000, 0.01)
    members = _members(spark, 1000, "m")
    summary = bloom_summary(members, "k", *params)
    mixed = members.union(_members(spark, 1000, "n"))
    kept = bloom_prefilter(mixed, "k", summary, "maybe")
    # every true member survives the cut
    assert members.join(kept, "k", "semi").count() == 1000
    # definitely_not keeps only guaranteed-novel rows: disjoint w/ members
    novel = bloom_prefilter(mixed, "k", summary, "definitely_not")
    assert novel.join(members, "k", "semi").count() == 0


def test_probe_plan_is_map_side(spark):
    params = bloom_parameters(200, 0.01)
    df = _members(spark, 200)
    summary = bloom_summary(df, "k", *params)
    plan = might_contain(df, "k", summary, "hit") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_append_only_artifact_dir_equals_merged(spark, tmp_path):
    """bloom_bytes over a plain UNION of per-batch artifacts (the
    append-only parquet-dir maintenance mode: each batch appends its
    summary, nothing is rewritten) ORs duplicate words and equals the
    explicitly merged / single-pass filter bit-for-bit."""
    params = bloom_parameters(2000, 0.01)
    a = _members(spark, 1000, "a")
    b = _members(spark, 1000, "b")
    path = str(tmp_path / "bloom_artifacts")
    bloom_summary(a, "k", *params).write.mode("append").parquet(path)
    bloom_summary(b, "k", *params).write.mode("append").parquet(path)
    appended = spark.read.parquet(path)
    whole = bloom_summary(a.union(b), "k", *params)
    assert bloom_bytes(appended) == bloom_bytes(whole)


def test_build_plan_single_bounded_shuffle(spark):
    """bloom_summary's only Exchange is the bounded word-keyed
    bit_or combine — the per-partition build itself never shuffles
    input rows."""
    import re
    params = bloom_parameters(500, 0.01)
    plan = bloom_summary(_members(spark, 500), "k", *params) \
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 1
