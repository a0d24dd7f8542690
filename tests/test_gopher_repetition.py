"""Gopher A1 repetition signals (functions/gopher.py r15):
hand-computed fractions, the repeated-only top-n-gram rule, DuckDB oracle parity of the single-shuffle
explode→count chain, the published-threshold filter, and the
one-Exchange plan claim.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from big_data_bowl___2023_spark.functions.gopher import (
    repetition_filter,
    repetition_signals,
)


def _docs(spark):
    rows = [
        (1, "a b a b a b a b"),
        (2, "all distinct words here now"),
        (3, "x y z x y z x y z x y z"),
        (4, ""),
        (5, None),
        (6, "one two three one two three four five six seven"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hand_computed_fractions(spark):
    out = {r["doc_id"]: r for r in
           repetition_signals(_docs(spark), top_ns=(2,),
                              dup_ns=(5,)).collect()}
    # doc 1: tokens a b ×4, total chars 15; 2-gram "a b" ×4, len 3
    # → 12/15; 5-grams each appear twice, mass 4×9=36 → capped 1.0
    assert out[1]["top_2gram_char_frac"] == 0.8
    assert out[1]["dup_5gram_char_frac"] == 1.0
    # doc 2: no repeats — no n-gram occurs twice, so top and dup
    # are both exactly 0
    assert out[2]["top_2gram_char_frac"] == 0.0
    assert out[2]["dup_5gram_char_frac"] == 0.0
    # doc 3: "x y z " ×4 → 2-gram "x y" ×4? total 23 chars;
    # top 2-gram mass: "x y"×4=12, "y z"×4=12, "z x"×3=9 → 12/23
    assert out[3]["top_2gram_char_frac"] == round(12 / 23, 6)
    # empty / null: all-zero, never null
    for d in (4, 5):
        assert out[d]["top_2gram_char_frac"] == 0.0
        assert out[d]["dup_5gram_char_frac"] == 0.0


def test_duckdb_parity(spark):
    """The same definition in SQL over the same fixture — pins the
    explode/count/pivot chain to an independent engine."""
    docs = [(r["doc_id"], r["text"] or "")
            for r in _docs(spark).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    ref = {}
    for n in (2, 3):
        q = f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '),
                             x -> len(x) > 0) AS w,
                 len(array_to_string(list_filter(string_split(text,
                     ' '), x -> len(x) > 0), ' ')) AS total
          FROM d),
        grams AS (
          SELECT doc_id, total,
                 unnest(list_transform(range(1, len(w) - {n} + 2),
                        i -> array_to_string(w[i:i+{n}-1], ' ')))
                     AS gram
          FROM toks WHERE len(w) >= {n}),
        cnt AS (SELECT doc_id, total, gram, COUNT(*) AS c
                FROM grams GROUP BY 1, 2, 3)
        SELECT doc_id,
               ROUND(LEAST(1.0, COALESCE(MAX(CASE WHEN c >= 2
                     THEN c * len(gram) END), 0) / total), 6) AS topf,
               ROUND(LEAST(1.0, COALESCE(SUM(CASE WHEN c >= 2
                     THEN c * len(gram) END), 0) / total), 6) AS dupf
        FROM cnt GROUP BY doc_id, total"""
        for doc_id, topf, dupf in con.execute(q).fetchall():
            ref[(doc_id, n)] = (topf, dupf)
    got = repetition_signals(_docs(spark), top_ns=(2, 3),
                             dup_ns=(2, 3))
    for r in got.collect():
        for n in (2, 3):
            want = ref.get((r["doc_id"], n), (0.0, 0.0))
            assert (r[f"top_{n}gram_char_frac"],
                    r[f"dup_{n}gram_char_frac"]) == want, \
                (r["doc_id"], n)


def test_repetition_filter_thresholds(spark):
    """Published ceilings drop the degenerate repeats and keep real
    prose; schema is preserved. The ceilings assume document-length
    text (a 5-word doc's single longest 2-gram already exceeds 20%
    of its characters), so the survivor here is paragraph-scale."""
    words = ("the quick brown fox jumps over the lazy dog while "
             "seven wizards brew strong coffee near an old stone "
             "bridge during a calm autumn morning with gentle wind "
             "and falling golden leaves everywhere around town as "
             "engineers tested the new irrigation channel over "
             "several weeks measuring flow pressure sediment and "
             "seasonal variation before approving wider deployment")
    docs = spark.createDataFrame(
        [(1, "a b a b a b a b " * 8),           # loop-y: top 2-gram
         (2, words),                            # prose
         (3, ("one two three four five six seven eight nine ten "
              * 6))],                           # dup 10-grams
        "doc_id long, text string")
    kept = repetition_filter(docs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {2}
    assert kept.columns == ["doc_id", "text"]


# 25 distinct words: nothing repeats, yet its single longest 4-gram
# spans ~19 % of its characters — over the 0.16 top-4-gram ceiling
SHORT_PROSE = ("careful engineers measured river flow across seven "
               "valleys during spring while farmers planted barley "
               "wheat and oats beside quiet stone bridges near old "
               "mills today")


def test_short_prose_without_repeats_is_kept(spark):
    """The top-n-gram rule counts only n-grams that repeat: a short
    non-repeating document reads 0.0 and survives both the filter
    and the curation chain's repetition gate."""
    from big_data_bowl___2023_spark.pipelines.curation import (
        curation_frame,
    )

    assert len(SHORT_PROSE.split()) == 25
    docs = spark.createDataFrame([(1, "a", SHORT_PROSE)],
                                 "doc_id long, source string, text string")
    row = repetition_signals(docs).collect()[0]
    for n in (2, 3, 4):
        assert row[f"top_{n}gram_char_frac"] == 0.0
    assert [r["doc_id"] for r in repetition_filter(docs).collect()] == [1]
    kept = curation_frame(docs, min_words=20, seq_len=32,
                          shard_budget=64, repetition_rules=True)
    assert [r["doc_id"] for r in kept.collect()] == [1]


def test_single_shuffle_plan(spark):
    """All ns ride ONE explode and one (id, n, gram) aggregation —
    the plan must not contain one Exchange per n."""
    plan = (repetition_signals(_docs(spark))
            ._jdf.queryExecution().executedPlan().toString())
    # exchanges: gram-count agg, per-n agg, pivot agg, join — the
    # count must not scale with the 9 ns requested
    assert plan.count("Exchange") <= 6
    assert "Generate" in plan                 # one explode


def test_curation_stage_and_audit(spark):
    """repetition_rules=True (opt-in): the loop-y doc that PASSES
    the projection-grade gopher rules dies at the aggregation-grade
    repetition gate, and the audit names ngram_repetition."""
    from big_data_bowl___2023_spark.pipelines.curation import (
        curation_audit,
        curation_frame,
    )
    prose = ("the quick brown fox jumps over the lazy dog while "
             "seven wizards brew strong coffee near an old stone "
             "bridge during a calm autumn morning with gentle wind "
             "and falling golden leaves everywhere around the town")
    loopy = ("alpha bravo charlie delta echo foxtrot golf hotel "
             "india juliet ") * 10
    docs = spark.createDataFrame(
        [(1, "a", prose), (2, "a", loopy)],
        "doc_id long, source string, text string")
    kwargs = dict(min_words=20, seq_len=32, shard_budget=64,
                  repetition_rules=True)
    out = curation_frame(docs, **kwargs)
    assert {r["doc_id"] for r in out.collect()} == {1}
    audit = {r["doc_id"]: (r["stage"], r["reason"])
             for r in curation_audit(docs, **kwargs).collect()}
    assert audit[1] == ("kept", "kept")
    assert audit[2] == ("after_repetition", "ngram_repetition")


def test_review_r15_single_n_and_top_cap(spark):
    """Review r15 regressions: (a) a single-n call must not crash on
    pivot column naming; (b) top fractions are capped at 1.0 like
    dup (overlapping occurrences exceed the char count)."""
    docs = spark.createDataFrame([(1, "a a a a")],
                                 "doc_id long, text string")
    one = repetition_signals(docs, top_ns=(2,), dup_ns=(2,))
    row = one.collect()[0]
    # 2-gram "a a" ×3 overlapping, len 3 → mass 9 over 7 chars → cap
    assert row["top_2gram_char_frac"] == 1.0
    assert row["dup_2gram_char_frac"] == 1.0
    # single-entry threshold dicts drive the same path
    kept = repetition_filter(docs, top_max={2: 0.5}, dup_max={2: 0.5})
    assert kept.count() == 0
