"""Persistent ANN index (similarity/index.py).

Contracts under test:
* search over the stored index is BIT-IDENTICAL to `ivf_topk` over
  the same rows (same prep/probe/score/rank machinery);
* append_to_index lands new rows in the same cell boundaries — the
  incremental index equals a from-scratch rebuild exactly;
* the probed cells reach the scan as PartitionFilters (the layout,
  not a post-scan filter, does the pruning) and the kept fraction is
  sub-linear;
* meta round trip, corrupt meta refusal, empty-query refusal.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.plans.explain import (
    assert_partition_pruned,
    formatted_plan,
)
from big_data_bowl___2023_spark.similarity import (
    ann_index_search,
    append_to_index,
    build_ann_index,
    ivf_topk,
)
from big_data_bowl___2023_spark.sources.io import load_table


def _topk_rows(df):
    return sorted((r["query_id"], r["neighbor_id"], r["cosine"],
                   r["rank"]) for r in df.collect())


def test_index_search_bit_identical_to_ivf(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "idx")
    build_ann_index(emb, idx)
    got = ann_index_search(spark, idx, queries, 5)
    ref = ivf_topk(emb, queries, 5)
    assert _topk_rows(got) == _topk_rows(ref)


def test_append_equals_rebuild(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 10)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_ann_index(b1, inc)
    append_to_index(b2, inc)
    build_ann_index(emb, full)
    assert _topk_rows(ann_index_search(spark, inc, queries, 5)) \
        == _topk_rows(ann_index_search(spark, full, queries, 5))


def test_search_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    build_ann_index(emb, idx)
    one_query = emb.filter(F.col("vec_id") == 0)
    out = ann_index_search(spark, idx, one_query, 5)
    assert_partition_pruned(out, "cell#")
    # one query multi-probes n_planes+1 = 4 of 8 cells: the static
    # IN-list in the partition filter must name exactly those 4
    plan = formatted_plan(out)
    pf = [line for line in plan.splitlines()
          if "PartitionFilters" in line][0]
    import re
    in_list = re.search(r"cell#\d+ IN \(([^)]*)\)", pf)
    assert in_list, pf
    assert len(in_list.group(1).split(",")) == 4, pf


def test_meta_and_refusals(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    build_ann_index(emb, idx, dim=64, n_planes=3)
    meta = spark.read.parquet(f"{idx}/_index_meta").collect()
    assert [(r["dim"], r["n_planes"]) for r in meta] == [(64, 3)]
    with pytest.raises(ValueError, match="empty query set"):
        ann_index_search(spark, idx, emb.filter(F.lit(False)), 5)
    # corrupt meta (two rows) refuses rather than guessing planes
    spark.createDataFrame([(64, 3), (64, 4)], "dim int, n_planes int") \
        .write.mode("overwrite").parquet(f"{idx}/_index_meta")
    with pytest.raises(ValueError, match="corrupt index meta"):
        ann_index_search(spark, idx, emb.limit(1), 5)


def test_wrong_dimension_append_refused(spark, sf_dir, tmp_path):
    """A wrong-dim batch would silently land in the zero-suffix cells
    (NULL projections); the write must fail instead."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    build_ann_index(emb, idx)
    short = emb.limit(3).withColumn(
        "embedding", F.slice(F.col("embedding"), 1, 32))
    with pytest.raises(Exception) as exc:
        append_to_index(short, idx)
    assert "expects 64-dim vectors" in str(exc.value)


def test_quantized_search_matches_exact_and_prunes_columns(
        spark, sf_dir, tmp_path):
    """The int8 screen + exact rerank must return the exact search's
    top-k with bit-identical cosines, while the screen scan's
    ReadSchema carries codes but NOT the float vec column (the 4x
    byte cut is the point), and both scans stay partition-pruned."""
    from big_data_bowl___2023_spark.plans.explain import (
        assert_partition_pruned,
        formatted_plan,
    )
    from big_data_bowl___2023_spark.similarity import (
        ann_index_search_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "qidx")
    build_ann_index(emb, idx, quantize=True)
    got = ann_index_search_quantized(spark, idx, queries, 5)
    ref = ann_index_search(spark, idx, queries, 5)
    assert _topk_rows(got) == _topk_rows(ref)
    assert_partition_pruned(got, "cell#")
    # the rerank side of the final plan reads vec without codes (the
    # screen is pinned out of it — assert its plan separately below)
    plan = formatted_plan(got)
    schemas = [line for line in plan.splitlines()
               if "ReadSchema" in line and "neighbor_id" in line]
    assert any("vec:" in s and "codes" not in s for s in schemas), \
        schemas
    # the screen itself reads codes WITHOUT the float vec column —
    # the 4x byte cut — asserted on the unpinned shortlist builder
    # the search executes
    from big_data_bowl___2023_spark.similarity.index import (
        _probed_queries,
        _quantized_shortlist,
        _read_ranges,
    )

    q, probed = _probed_queries(spark, idx, queries, "embedding",
                                "vec_id", True, "t")
    screen_plan = formatted_plan(_quantized_shortlist(
        spark, idx, f"{idx}/cells/v=1", q, probed,
        _read_ranges(spark, idx), 25, True))
    screen_schemas = [line for line in screen_plan.splitlines()
                      if "ReadSchema" in line
                      and "neighbor_id" in line]
    assert screen_schemas and all(
        "codes" in s and "vec:" not in s for s in screen_schemas), \
        screen_schemas


def test_quantized_append_uses_frozen_ranges(spark, sf_dir,
                                             tmp_path):
    from big_data_bowl___2023_spark.similarity import (
        ann_index_search_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "qidx")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    build_ann_index(b1, idx, quantize=True)
    ranges_before = spark.read.parquet(f"{idx}/_index_ranges") \
        .collect()
    append_to_index(b2, idx)
    # ranges are frozen: the append must not rewrite them
    assert spark.read.parquet(f"{idx}/_index_ranges").collect() \
        == ranges_before
    # appended rows carry codes and the search sees the whole corpus
    got = ann_index_search_quantized(spark, idx, queries, 5)
    ref = ann_index_search(spark, idx, queries, 5)
    assert _topk_rows(got) == _topk_rows(ref)


def test_quantized_search_refuses_float_index(spark, sf_dir,
                                              tmp_path):
    from big_data_bowl___2023_spark.similarity import (
        ann_index_search_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "fidx")
    build_ann_index(emb, idx)
    with pytest.raises(ValueError, match="not a quantized index"):
        ann_index_search_quantized(spark, idx, emb.limit(1), 5)


def test_null_vector_write_refused(spark, tmp_path):
    """ADVICE r9: size(NULL) is NULL, so the wrong-dimension guard's
    when() never fires for a NULL vector — without its own isNull
    branch the row lands with a sign-default cell and a NULL vec that
    crashes the Arrow score kernel mid-search. The write must fail
    loudly instead."""
    bad = spark.createDataFrame(
        [(1, [0.1] * 64), (2, None)],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="NULL vectors"):
        build_ann_index(bad, str(tmp_path / "nullidx"))
    with pytest.raises(Exception, match="NULL vectors"):
        ok = bad.filter(F.col("embedding").isNotNull())
        idx = str(tmp_path / "appidx")
        build_ann_index(ok, idx)
        append_to_index(bad, idx)


def test_index_cell_stats_on_real_corpus(spark, sf_dir, tmp_path):
    """VERDICT r9 #3: occupancy stats from the partition listing +
    parquet footers — shares sum to 1, hottest-first order, the
    worst-probe bound covers the top cell, and the counting scan
    reads ZERO data columns (footer row counts only)."""
    from big_data_bowl___2023_spark.similarity import index_cell_stats

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "sidx")
    build_ann_index(emb, idx)
    s = index_cell_stats(spark, idx)
    assert s["n_rows"] == emb.count()
    assert s["n_cells"] + s["empty_cells"] == s["expected_cells"] == 8
    shares = [sh for _, _, sh in s["per_cell"]]
    assert sum(shares) == pytest.approx(1.0)
    assert shares == sorted(shares, reverse=True)
    assert s["top_share"] == shares[0]
    assert s["skew_ratio"] == pytest.approx(s["top_share"] * 8)
    assert s["worst_probe_share"] >= s["top_share"]
    assert s["worst_probe_share"] <= 1.0 + 1e-9
    # the stats scan must not touch vector bytes: grouping on the
    # partition column alone leaves an empty ReadSchema
    plan = formatted_plan(
        spark.read.parquet(f"{idx}/cells/v=1")
        .groupBy("cell").count())
    assert "ReadSchema: struct<>" in plan


def test_build_warns_on_skewed_corpus(spark, tmp_path):
    """A corpus collapsing into one hyperplane cell (every vector the
    same direction) must warn at BUILD time with the re-plane
    guidance — not degrade silently at the first search. warn_skew
    =False keeps quiet for callers that already know."""
    import warnings

    from big_data_bowl___2023_spark.similarity import index_cell_stats

    rows = [(i, [1.0 + 0.001 * i] + [0.0] * 63) for i in range(200)]
    skewed = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "skidx")
    with pytest.warns(UserWarning, match="anisotropic"):
        build_ann_index(skewed, idx, n_planes=4)
    s = index_cell_stats(spark, idx)
    assert s["skew_ratio"] > 8.0 and s["top_share"] == 1.0
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        build_ann_index(skewed, str(tmp_path / "skidx2"), n_planes=4,
                        warn_skew=False)


def test_filtered_search_matches_filtered_rebuild(spark, sf_dir,
                                                  tmp_path):
    """E121 — metadata-filtered vector search: a `where` predicate
    over the build's keep_cols restricts BOTH search tiers to the
    qualifying corpus, bit-identically to an index built from only
    those rows, and the predicate reaches the parquet scan as a
    pushed filter on top of the partition pruning."""
    from big_data_bowl___2023_spark.similarity import (
        ann_index_search_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "fidx")
    build_ann_index(emb, idx, quantize=True, keep_cols=("label",))
    ref = str(tmp_path / "ref")
    build_ann_index(emb.filter(F.col("label") < 5), ref,
                    quantize=True)

    got = ann_index_search(spark, idx, queries, 5, where="label < 5")
    assert _topk_rows(got) == _topk_rows(
        ann_index_search(spark, ref, queries, 5))
    got_q = ann_index_search_quantized(spark, idx, queries, 5,
                                       where="label < 5")
    assert _topk_rows(got_q) == _topk_rows(
        ann_index_search_quantized(spark, ref, queries, 5))
    # no predicate → full corpus, unchanged behavior
    plain = str(tmp_path / "plain")
    build_ann_index(emb, plain, quantize=True)
    assert _topk_rows(ann_index_search(spark, idx, queries, 5)) \
        == _topk_rows(ann_index_search(spark, plain, queries, 5))
    # pushed to the reader: the scan carries the label predicate
    plan = formatted_plan(got)
    pushed = [line for line in plan.splitlines()
              if "PushedFilters" in line and "label" in line]
    assert pushed


def test_append_validates_kept_metadata(spark, sf_dir, tmp_path):
    """Appends derive keep_cols from the stored schema: a batch
    missing one refuses BY NAME (NULL-metadata rows would be silently
    invisible to every filtered search); a conforming batch lands and
    is immediately filterable."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "midx")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    build_ann_index(b1, idx, keep_cols=("label",))
    with pytest.raises(ValueError, match="label"):
        append_to_index(b2.drop("label"), idx)
    append_to_index(b2, idx)
    queries = emb.filter(F.col("vec_id") < 10)
    ref = str(tmp_path / "mref")
    build_ann_index(emb.filter(F.col("label") == 3), ref)
    assert _topk_rows(ann_index_search(spark, idx, queries, 5,
                                       where=F.col("label") == 3)) \
        == _topk_rows(ann_index_search(spark, ref, queries, 5))


def test_marker_snapshot_cache_invalidates_on_append(
        spark, sf_dir, tmp_path):
    """VERDICT r14 #8: the cached marker snapshot (one entry of the
    index's serving-state cache, keyed by filesystem signature) must
    refresh when append_to_index un-deletes an id between searches —
    a stale snapshot would keep excluding the re-added id."""
    import os

    from big_data_bowl___2023_spark.similarity import (
        delete_from_index,
    )
    from big_data_bowl___2023_spark.similarity import index as ix

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "idx")
    build_ann_index(emb, idx)
    base = _topk_rows(ann_index_search(spark, idx, queries, 5))
    victims = sorted({nid for _, nid, _, _ in base})[:6]
    assert len(victims) == 6

    delete_from_index(spark, idx, victims)
    got = _topk_rows(ann_index_search(spark, idx, queries, 5))
    assert all(nid not in victims for _, nid, _, _ in got)
    key = (spark.sparkContext.applicationId,
           os.path.abspath(f"{idx}/_index_deletes"))
    sig_before = ix._ARTIFACT_CACHE[key][0]

    # un-delete ONE victim; five markers remain, so the marker dir is
    # rewritten and the next search must re-pin
    back = victims[0]
    append_to_index(emb.filter(F.col("vec_id") == back), idx)
    got2 = _topk_rows(ann_index_search(spark, idx, queries, 5))
    assert ix._ARTIFACT_CACHE[key][0] != sig_before
    assert any(nid == back for _, nid, _, _ in got2)
    assert all(nid not in victims[1:] for _, nid, _, _ in got2)
    # and the round trip equals a rebuild without the still-deleted
    ref = str(tmp_path / "ref")
    build_ann_index(emb.filter(~F.col("vec_id").isin(victims[1:])),
                    ref)
    assert got2 == _topk_rows(ann_index_search(spark, ref, queries, 5))
