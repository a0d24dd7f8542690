"""The fused map-side audit boundary (r17): under a stage_hook the
streaming chain computes ONE pinned flag projection and serves every
map-side boundary as a cumulative filter over it. These tests pin the
row-for-row lineage equality VERDICT r16 #1 required: each fused
boundary's row set equals the sequential gates restated
independently, and the hooked chain's final output is bit-identical
to the un-hooked chain (the gate table's flag projection plus its
cumulative filter views, with no pin)."""

from __future__ import annotations

from pyspark.sql import functions as F

N = 4  # short shingles so small fixtures collide on purpose
from big_data_bowl___2023_spark.functions.gopher import all_pass
from big_data_bowl___2023_spark.functions.redact import redact_text
from big_data_bowl___2023_spark.streaming.curation import (
    benchmark_shingle_set,
    curate_document_stream,
    stream_decontaminate,
)

_BASE = ("a perfectly ordinary paragraph with enough distinct words "
         "to pass the quality gate and contribute value to the "
         "corpus in every measurable way today")


def _fixture(spark):
    docs = spark.createDataFrame(
        [(1, "first " + _BASE, "web"),
         (2, "second " + _BASE + " mail me at jo@example.com", "web"),
         (3, "too short", "web"),                    # gopher drop
         (4, "first " + _BASE, "web"),               # exact dup of 1
         (5, _BASE + " the secret benchmark passage lives here "
          "precisely", "web")],                      # contaminated
        ["doc_id", "text", "source"])
    bench = spark.createDataFrame(
        [(100, "the secret benchmark passage lives here precisely")],
        ["bench_id", "text"])
    return docs, bench


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_fused_boundaries_match_sequential_restatement(spark):
    docs, bench = _fixture(spark)
    captured = {}

    def hook(key, frame):
        captured[key] = frame
        return frame

    hooked = curate_document_stream(docs, benchmark=bench,
                                    min_words=20, decontaminate_n=N,
                                    stage_hook=hook)
    hooked_rows = {(r["doc_id"], r["text"], r["source"],
                    r["fingerprint"]) for r in hooked.collect()}

    # sequential restatement, stage by stage, from the raw input
    seq_gopher = docs.filter(all_pass(F.col("text"), min_words=20))
    assert _ids(captured["after_gopher"]) == _ids(seq_gopher)
    seq_red = seq_gopher.withColumn("text",
                                    redact_text(F.col("text")))
    red_rows = {(r["doc_id"], r["text"]) for r in
                seq_red.select("doc_id", "text").collect()}
    fused_red = {(r["doc_id"], r["text"]) for r in
                 captured["after_redaction"]
                 .select("doc_id", "text").collect()}
    assert fused_red == red_rows            # redacted text identical
    shingles = benchmark_shingle_set(bench, N)
    seq_decon = stream_decontaminate(seq_red, shingles, N)
    assert _ids(captured["after_decontamination"]) == _ids(seq_decon)
    assert 3 not in _ids(captured["after_gopher"])
    assert 5 not in _ids(captured["after_decontamination"])

    # un-hooked chain (the sequential shape) — final output identical
    plain = curate_document_stream(docs, benchmark=bench,
                                   min_words=20, decontaminate_n=N)
    plain_rows = {(r["doc_id"], r["text"], r["source"],
                   r["fingerprint"]) for r in plain.collect()}
    assert hooked_rows == plain_rows and hooked_rows
    # no flag column leaks into the chain output
    assert not [c for c in hooked.columns if c.startswith("__")]


def test_fused_flags_boundary_precedes_views(spark):
    """The hook sees ``curation_flags`` FIRST, then the filter views
    — and the replacement protocol holds (a pinning hook's returned
    frame is what the views filter)."""
    docs, bench = _fixture(spark)
    seen = []

    def hook(key, frame):
        seen.append(key)
        return frame

    curate_document_stream(docs, benchmark=bench, min_words=20,
                           decontaminate_n=N,
                           stage_hook=hook).collect()
    assert seen.index("curation_flags") < seen.index("after_gopher")
    assert seen.index("after_gopher") < seen.index("after_redaction")
    assert (seen.index("after_redaction")
            < seen.index("after_decontamination"))


def test_fused_redaction_not_duplicated_in_flags_plan(spark):
    """The __decon flag reads the PROJECTED redacted attribute; the
    optimizer must not inline the (non-cheap) redaction regex chain
    into both consumers — one redaction evaluation per row in the
    flags plan."""
    docs, bench = _fixture(spark)
    captured = {}

    def hook(key, frame):
        captured[key] = frame
        return frame

    curate_document_stream(docs, benchmark=bench, min_words=20,
                           decontaminate_n=N, stage_hook=hook)
    plan = (captured["curation_flags"]._jdf.queryExecution()
            .optimizedPlan().toString())
    # the redaction chain's distinctive email regex appears once
    assert plan.count("[A-Za-z0-9._%+-]+@") == 1
