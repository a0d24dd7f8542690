"""The one gate table, chain shape and drop attribution shared by the
batch (pipelines/curation.py) and streaming (streaming/curation.py)
curation chains.

Equivalence pins for the one chain shape: with no hook, the flag
projection + cumulative filter views must optimize to the plan of the
sequential gates (restated here as the reference), apart from
expression ids and lambda variable names, and return the same rows.
A hook may only change how boundaries materialize, never the rows —
in both chains, with a learned quality model in the table."""

from __future__ import annotations

import re
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.functions.gopher import all_pass
from big_data_bowl___2023_spark.functions.quality_model import (
    model_quality_filter,
    train_quality_classifier,
    weak_labels_from_source,
)
from big_data_bowl___2023_spark.functions.redact import redact_text
from big_data_bowl___2023_spark.functions.text import detect_lang
from big_data_bowl___2023_spark.pipelines.curation import (
    curate_and_export,
    curation_audit,
    curation_frame,
)
from big_data_bowl___2023_spark.session import pin
from big_data_bowl___2023_spark.streaming.curation import (
    benchmark_shingle_set,
    curate_document_stream,
    make_curation_ingest_batch_fn,
    stream_decon_condition,
)
from big_data_bowl___2023_spark.streaming.dedup_stream import (
    incremental_dedup,
)

N = 4  # short shingles so small fixtures collide on purpose

CLEAN = ("careful analysis of the experimental results shows the "
         "method improves accuracy across every evaluated benchmark "
         "while requiring substantially less compute than before")
SPAM = ("click here and buy the free offer now winner prize claim is "
        "guaranteed ") * 4
LEAK = ("the secret benchmark passage lives here precisely unchanged "
        "word for word")


@pytest.fixture(scope="module")
def model(spark):
    train = spark.createDataFrame(
        [(i, CLEAN + f" v{i}", "docs") for i in range(10)]
        + [(50 + i, SPAM + f" s{i}", "web") for i in range(10)],
        ["doc_id", "text", "source"])
    return train_quality_classifier(
        weak_labels_from_source(train, ("docs",)))


def _stream_docs(spark):
    return spark.createDataFrame(
        [(1, CLEAN + " first held out", "docs"),
         (2, CLEAN + " second held out mail jo@example.com", "docs"),
         (3, "the end is near", "docs"),                 # gopher
         (4, CLEAN + " first held out", "docs"),         # dup of 1
         (5, SPAM + " held out spam", "web"),            # model
         (6, CLEAN + " " + LEAK, "docs"),                # contaminated
         (7, "el rapido zorro marron salta sobre el perro perezoso "
             "mientras los siete magos preparan un cafe fuerte cerca "
             "del viejo puente de piedra durante una manana", "web")],
        ["doc_id", "text", "source"])


def _bench(spark):
    return spark.createDataFrame([(100, LEAK)], ["bench_id", "text"])


def _sequential(docs, shingles, history=None, lang_keep=None,
                model=None):
    """The reference: the streaming gates applied one after another
    (filter, score, rewrite, filter), then the dedup stages."""
    out = docs
    if lang_keep is not None:
        out = out.filter(detect_lang(F.col("text")).isin(lang_keep))
    out = out.filter(all_pass(F.col("text"), min_words=20))
    if model is not None:
        out = model_quality_filter(out, model).drop("quality_prob")
    out = out.withColumn("text", redact_text(F.col("text")))
    out = out.filter(stream_decon_condition(
        F.array(*[F.lit(s) for s in shingles]), N, 1))
    out = incremental_dedup(out)
    if history is not None:
        out = out.join(history, "fingerprint", "left_anti")
    return out


def _plan(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#", plan)                 # expression ids
    return re.sub(r"\b([a-z]+)_\d+#", r"\1#", plan)     # lambda names


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("config", ["ingest", "lang_model"])
def test_unhooked_stream_plan_equals_sequential(spark, model, config):
    """Both probe configurations: the stream_ingest shape (benchmark,
    min_words=20, history anti join) and lang_keep + quality_model +
    benchmark (the model as a flag column)."""
    docs, bench = _stream_docs(spark), _bench(spark)
    shingles = benchmark_shingle_set(bench, N)
    if config == "ingest":
        history = spark.createDataFrame(
            [("0" * 32,)], "fingerprint string")
        ref = _sequential(docs, shingles, history=history)
        got = curate_document_stream(
            docs, history=history, benchmark=bench, min_words=20,
            decontaminate_n=N, bench_shingles=shingles)
    else:
        ref = _sequential(docs, shingles, lang_keep=["en"], model=model)
        got = curate_document_stream(
            docs, benchmark=bench, min_words=20, decontaminate_n=N,
            bench_shingles=shingles, lang_keep=["en"],
            quality_model=model)
    assert _plan(got) == _plan(ref)
    assert _rows(got) == _rows(ref) and _rows(got)


def test_stream_model_hooked_equals_unhooked(spark, model):
    """With a quality model the hooked chain (every boundary pinned)
    returns the un-hooked chain's rows; the model's flag drops the
    spam doc only."""
    docs, bench = _stream_docs(spark), _bench(spark)
    kwargs = dict(benchmark=bench, min_words=20, decontaminate_n=N,
                  lang_keep=["en"], quality_model=model)
    seen = {}

    def pinning(key, frame):
        seen[key] = pin(frame)
        return seen[key]

    plain = curate_document_stream(docs, **kwargs)
    hooked = curate_document_stream(docs, stage_hook=pinning, **kwargs)
    assert _rows(hooked) == _rows(plain)
    assert {r.doc_id for r in plain.collect()} == {1, 2}
    gopher = {r.doc_id for r in seen["after_gopher"].collect()}
    scored = {r.doc_id for r in seen["after_model_quality"].collect()}
    assert gopher - scored == {5}
    # the hook protocol: a non-DataFrame return is ignored
    counted = curate_document_stream(
        docs, stage_hook=lambda k, f: 0, **kwargs)
    assert _rows(counted) == _rows(plain)


def test_ingest_loop_lineage_labels_model_drops(spark, model, tmp_path):
    docs, bench = _stream_docs(spark), _bench(spark)
    process = make_curation_ingest_batch_fn(
        str(tmp_path / "out"), str(tmp_path / "idx"), benchmark=bench,
        quality_model=model, min_words=20, decontaminate_n=N,
        lang_keep=["en"], audit_dir=str(tmp_path / "audit"))
    process(docs, 0)
    audit = {r.doc_id: (r.stage, r.reason) for r in
             spark.read.parquet(str(tmp_path / "audit")).collect()}
    assert audit == {
        1: ("kept", "kept"),
        2: ("kept", "kept"),
        3: ("after_gopher", "pass_word_count"),
        4: ("after_stream_dedup", "exact_duplicate"),
        5: ("after_model_quality", "quality_model"),
        6: ("after_decontamination", "benchmark_contaminated"),
        7: ("after_lang_filter", "wrong_language"),
    }
    out = spark.read.parquet(str(tmp_path / "out"))
    assert {r.doc_id for r in out.collect()} == {1, 2}


def _batch_docs(spark):
    # docs 1 and 6 share words (the model scores them alike) but no
    # shingles (no near-dup cluster)
    prose = (CLEAN + " and the new estimator converges in fewer "
             "iterations on every dataset we measured including the "
             "noisy survey panels")
    pages = [
        (1, prose),
        (2, "mountain villages celebrate the harvest festival with "
            "music dancing painted lanterns and long tables of warm "
            "bread honey roasted vegetables shared between neighbors "
            "until the late evening fires burn low across quiet "
            "terraced fields while children chase fireflies"),
        (3, "the end is near"),
        (4, "the alpha and the bravo of the charlie " * 10),
        (5, SPAM + " held out spam"),
        (6, " ".join(reversed(prose.split())) + " " + LEAK),
        (7, "el rapido zorro marron salta sobre el perro perezoso "
            "mientras los siete magos preparan un cafe fuerte cerca "
            "del viejo puente de piedra durante una manana"),
    ]
    return spark.createDataFrame(
        [(i, f"<html><body><div>Home | About</div><p>{t}.</p>"
             f"<script>var x;</script></body></html>", "docs")
         for i, t in pages],
        "doc_id long, text string, source string")


def test_batch_hooked_rows_equal_unhooked(spark, model):
    """curation_frame with every gate on (html, lang, repetition,
    model) plus benchmark decontamination: a pass-through hook and a
    pinning hook both return the un-hooked rows, and the audit names
    each doc's first dropping gate."""
    docs = _batch_docs(spark)
    kwargs = dict(benchmark=_bench(spark), min_words=20, seq_len=16,
                  shard_budget=64, html_input=True, lang_keep=["en"],
                  repetition_rules=True, quality_model=model)
    plain = curation_frame(docs, **kwargs)
    assert {r.doc_id for r in plain.collect()} == {1}
    passthrough = curation_frame(docs, stage_hook=lambda k, f: f,
                                 **kwargs)
    assert _rows(passthrough) == _rows(plain)
    pinned = curation_frame(docs, stage_hook=lambda k, f: pin(f),
                            **kwargs)
    assert _rows(pinned) == _rows(plain)
    audit = {r.doc_id: (r.stage, r.reason)
             for r in curation_audit(docs, **kwargs).collect()}
    assert audit == {
        1: ("kept", "kept"),
        2: ("after_model_quality", "quality_model"),
        3: ("after_quality", "pass_word_count"),
        4: ("after_repetition", "ngram_repetition"),
        5: ("after_repetition", "ngram_repetition"),
        6: ("after_decontamination", "benchmark_contaminated"),
        7: ("after_lang_filter", "wrong_language"),
    }


def test_dsir_default_same_in_both_stats_modes(spark):
    """The DSIR default size is half the RAW input whether or not
    stats are counted — never half of what the language gate kept."""
    en = ["the " + " ".join(f"word{i}x{j}" for j in range(12))
          for i in range(12)]
    es = ["el " + " ".join(f"palabra{i}z{j}" for j in range(12))
          for i in range(12)]
    docs = spark.createDataFrame(
        [(i, t, "web") for i, t in enumerate(en + es)],
        "doc_id long, text string, source string")
    target = spark.createDataFrame([(0, en[0])],
                                   "doc_id long, text string")
    kwargs = dict(min_words=5, seq_len=16, shard_budget=64,
                  lang_keep=["en"], dsir_target=target)
    picked = []
    for lazy in (False, True):
        with tempfile.TemporaryDirectory() as tmp:
            curate_and_export(docs, f"{tmp}/shards", lazy_stats=lazy,
                              **kwargs)
            picked.append({r.doc_id for r in spark.read.json(
                f"{tmp}/shards").select("doc_id").distinct().collect()})
    assert picked[0] == picked[1]
    assert len(picked[0]) == 12         # 24 raw docs // 2, all English
