"""The full corpus-curation → training-shard export pipeline.

Each stage already exists as a tested operator; this module is the
PRODUCT composition — the one function a data engineer calls to turn
a raw document table into packed training shards:

    [HTML→text extraction (C4 §2.1)] → [language gate] →
    quality gate (Gopher rules) → [n-gram repetition ceilings
    (Gopher A1)] → [learned quality filter
    (fastText-style classifier)] → PII redaction →
    [corpus-wide repeated-line scrub (C4 rule)] → exact dedup →
    near-dup cluster resolution (MinHash-LSH → connected components,
    keep best per cluster) → [verbatim-overlap dedup (winnowing)] →
    benchmark decontamination → [DSIR target-domain selection] →
    [per-source quota cap] → context-window chunking →
    per-source token-budget packing →
    sharded JSONL export (partitioned by source/shard)

    Bracketed stages are opt-in (``html_input`` / ``lang_keep`` /
    ``repetition_rules`` / ``quality_model`` /
    ``line_dedup_min_chars`` / ``overlap_shared`` / ``dsir_target`` /
    ``max_docs_per_source`` arguments); embedding-space
    SemDeDup runs separately on the embeddings table
    (dedup/semantic.py) because it keys on vectors, not text.

The row-local stages up to PII redaction are GATES, defined once in
:func:`curation_gates` — the table the streaming chain
(streaming/curation.py) runs too. Both chains run it in one shape
(``_gated``): a flag projection (every rewrite applied, one boolean
per gate) that a stage hook sees as ``curation_flags``, then each
gate's boundary as a cumulative filter view of it. Both take the
same hook protocol (``_hook``) and explain drops with one
attribution (:func:`drop_lineage`).

Later stages compose as Catalyst chains between PINNED fan-out
boundaries (session.pin — the scrub input, the dedup survivor sets):
a boundary consumed by two downstream subtrees materializes once
instead of re-deriving the whole upstream per consumer. The returned
stats (one count per stage) are the audit record a curation run must
emit anyway. At 100 TB each stage keeps its own scale contract
(documented in its module) — the composition adds no new shuffles
beyond the stages themselves.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dedup import (
    canonical_docs,
    exact_dedup,
    minhash_band_pairs,
    remove_repeated_lines,
)
from ..dedup.decontaminate import decontaminate
from ..dedup.winnow import fingerprint_overlap_pairs
from ..operators.dsir import dsir_resample
from ..functions import text as Tx
from ..operators.chunking import chunk_sequences
from ..operators.sampling import cap_per_group, pack_by_budget
from ..session import pin
from ..sources.io import write_jsonl


class Gate(NamedTuple):
    """One row-local curation gate. ``key`` is the hook key of the
    boundary it closes; ``reason`` the audit label of its drops — a
    Column when the label is computed from the text the gate saw (the
    Gopher rule that failed first), None for a text rewrite, which
    never drops; ``column`` the keep flag, or the rewritten text.
    ``attach(frame, prior)``, when set, adds the columns ``column``
    reads (``prior`` is the AND of the earlier flags)."""
    key: str
    reason: str | Column | None
    column: Column
    attach: Callable | None = None

    @property
    def flag(self) -> str:
        return "__" + self.key.removeprefix("after_")


# audit reason of every boundary after the gates, both chains
_STAGE_REASONS = {
    "after_line_dedup": "emptied_by_line_scrub",
    "after_exact_dedup": "exact_duplicate",
    "after_stream_dedup": "exact_duplicate",
    "after_history_dedup": "history_duplicate",
    "after_near_dedup": "near_duplicate",
    "after_overlap_dedup": "verbatim_overlap",
    "after_decontamination": "benchmark_contaminated",
    "after_dsir_selection": "not_selected_dsir",
    "after_source_cap": "source_quota",
}

_GATE_ARGS = ("html_input", "lang_keep", "repetition_rules",
              "quality_model", "quality_model_threshold")


def curation_gates(min_words: int = 50, html_input: bool = False,
                   lang_keep: list | None = None,
                   repetition_rules: bool = False, quality_model=None,
                   quality_model_threshold: float = 0.5,
                   decon: Column | None = None,
                   gopher_key: str = "after_quality"
                   ) -> tuple[Gate, ...]:
    """The row-local curation gates in chain order — the ONE
    definition both chains run (:func:`curation_frame` and
    ``streaming.curation.curate_document_stream``):

        [html extraction] → [language] → Gopher → [n-gram
        repetition] → [learned quality model] → PII redaction →
        [map-side decontamination]

    ``decon`` is the streaming chain's decontamination keep
    predicate (batch decontaminates later, shuffle-side, with
    per-item semantics); ``gopher_key`` names the Gopher boundary —
    ``after_quality`` in batch, ``after_gopher`` in streaming, whose
    lineage is persisted data. The Columns are plan-independent, so
    a long-lived caller (the ingest loop) builds the table once."""
    from ..functions.gopher import (
        all_pass,
        flags as gopher_rules,
        repetition_pass,
        repetition_signals,
    )
    from ..functions.quality_model import score_documents
    from ..functions.redact import redact_text

    text = F.col("text")
    gates = []
    if html_input:
        # web-crawl front door (C4 §2.1 / RefinedWeb §3.1): every
        # later rule sees prose, not tag soup (functions/html.py)
        from ..functions.html import extract_html_text
        gates.append(Gate("after_html_extract", None,
                          extract_html_text(text)))
    if lang_keep is not None:
        # language before quality (the CCNet / RefinedWeb order):
        # off-language pages spend no quality/dedup compute
        gates.append(Gate("after_lang_filter", "wrong_language",
                          Tx.detect_lang(text).isin(list(lang_keep))))
    first_failing_rule = F.coalesce(
        *[F.when(~passes, F.lit(name)) for name, passes in
          gopher_rules(text, min_words=min_words).items()],
        F.lit("null_text"))
    gates.append(Gate(gopher_key, first_failing_rule,
                      all_pass(text, min_words=min_words)))
    if repetition_rules:
        # the aggregation half of the Gopher rules (A1 n-gram
        # ceilings): one (id, n, gram) shuffle whose grams come only
        # from rows passing the earlier flags (text nulled elsewhere),
        # left-joined back by id
        gates.append(Gate(
            "after_repetition", "ngram_repetition", repetition_pass(),
            lambda frame, prior: repetition_signals(
                frame.withColumn("__rep_text", F.when(prior, text)),
                text_col="__rep_text")))
    if quality_model is not None:
        # learned second gate (functions/quality_model.py): a
        # broadcast-model map pass, no shuffle
        gates.append(Gate(
            "after_model_quality", "quality_model",
            F.col("quality_prob") >= quality_model_threshold,
            lambda frame, prior: score_documents(quality_model, frame)))
    gates.append(Gate("after_redaction", None, redact_text(text)))
    if decon is not None:
        gates.append(Gate("after_decontamination",
                          "benchmark_contaminated", decon))
    return tuple(gates)


def _hook(stage_hook) -> Callable:
    """The one hook protocol: ``stage_hook(key, frame)`` is called at
    every boundary; a returned DataFrame REPLACES the boundary in the
    chain (how an audit pins each boundary so the chain evaluates
    once — changing the rows is the hook author's foot-gun), any
    other return value is ignored."""
    def hook(key: str, frame: DataFrame) -> DataFrame:
        r = None if stage_hook is None else stage_hook(key, frame)
        return r if isinstance(r, DataFrame) else frame
    return hook


def _gated(frame: DataFrame, gates, hook) -> DataFrame:
    """Run the gate table in the one chain shape: rewrites ahead of
    every flag (html extraction) are boundaries of their own; then
    ONE flag projection — later rewrites applied, one boolean column
    per gate — handed to the hook as ``curation_flags``, and every
    gate's boundary is a cumulative filter view of it. Returns the
    last view without the flags.

    Under a hook the audit pins just the projection, and its views
    read the same flags the lineage attributes from. Without one the
    optimizer pushes each view's filter below the projection, so the
    plan is the sequential gates' plan (pinned by
    tests/test_curation_gates.py). A redaction rewrite is projected
    before the decontamination flag reads it: CollapseProject
    refuses to inline the regex chain into two consumers."""
    lead = next(i for i, g in enumerate(gates) if g.reason is not None)
    for g in gates[:lead]:
        frame = hook(g.key, frame.withColumn("text", g.column))
    flags: list[str] = []
    for g in gates[lead:]:
        if g.reason is None:
            frame = frame.withColumn("text", g.column)
            continue
        if g.attach is None:
            frame = frame.withColumn(g.flag, g.column)
        else:
            # of what attach adds (scores, signals) only the flag stays
            prior = F.lit(True)
            for f in flags:
                prior = prior & F.col(f)
            frame = g.attach(frame, prior).select(
                *frame.columns, g.column.alias(g.flag))
        flags.append(g.flag)
    view = hook("curation_flags", frame)
    for g in gates[lead:]:
        if g.reason is not None:
            view = view.filter(F.col(g.flag))
        view = hook(g.key, view)
    return view.drop(*flags)


def _gate_text(docs: DataFrame, gates, key: str) -> DataFrame:
    """(doc_id, text) as the gate closing boundary ``key`` saw it:
    ``docs``' text with every earlier rewrite applied."""
    out = docs.select("doc_id", "text")
    for g in gates:
        if g.key == key:
            break
        if g.reason is None:
            out = out.withColumn("text", g.column)
    return out


def drop_lineage(docs: DataFrame, gates, boundaries: dict) -> DataFrame:
    """Per-DOCUMENT drop lineage, the one attribution for both chains:
    (doc_id, source, stage, reason, detail) — for every row of
    ``docs`` (the chain input: doc_id, source, text), the FIRST
    boundary that dropped it with a debuggable reason, or
    ``stage="kept"``.

    ``boundaries`` maps hook keys to the frames a stage hook captured
    (insertion order = chain order) and must hold
    ``curation_flags``. Gate drops come from the flags alone: a
    ``when`` chain in gate order, ``coalesce(flag, False)`` matching
    the views' NULL-drops; a Column ``reason`` (the Gopher rule that
    failed first) is evaluated over the text the gate saw, joined
    back for the drop-sized subset only. Every later boundary drops
    the survivors missing from its frame (id-only anti joins), with
    three refinements:

    * the line scrub never drops a row — it EMPTIES fully
      boilerplate docs, whose husks would die later at exact dedup —
      so the docs it empties are attributed to it, "empty" meaning
      what the fingerprint means (zero normalized tokens);
    * batch exact dedup names the kept twin: the min-id SURVIVOR
      sharing the pre-redaction fingerprint, NULL when an upstream
      rewrite created the collision (detail never names a doc absent
      from the curated corpus);
    * streaming exact dedup names the survivor sharing the
      post-redaction fingerprint it keyed on."""
    from ..dedup.exact import fingerprint_docs

    flags = boundaries["curation_flags"]
    stage = reason = None
    for g in gates:
        if g.reason is None:
            continue
        failed = ~F.coalesce(F.col(g.flag), F.lit(False))
        label = g.reason if isinstance(g.reason, str) else None
        stage = (F.when(failed, F.lit(g.key)) if stage is None
                 else stage.when(failed, F.lit(g.key)))
        reason = (F.when(failed, F.lit(label)) if reason is None
                  else reason.when(failed, F.lit(label)))
    attrib = flags.select("doc_id", "source", stage.alias("stage"),
                          reason.cast("string").alias("reason"),
                          F.lit(None).cast("string").alias("detail"))
    prev = attrib.filter(F.col("stage").isNull()).select("doc_id",
                                                        "source")
    dropped = attrib.filter(F.col("stage").isNotNull())
    parts = []
    for g in gates:
        if isinstance(g.reason, Column):
            mine = F.col("stage") == g.key
            parts.append(dropped.filter(mine)
                         .join(_gate_text(docs, gates, g.key), "doc_id")
                         .select("doc_id", "source", "stage",
                                 g.reason.alias("reason"), "detail"))
            dropped = dropped.filter(~mine)
    parts.insert(0, dropped)

    gate_keys = {g.key for g in gates}
    for key, frame in boundaries.items():
        if key in gate_keys or key not in _STAGE_REASONS:
            continue
        if key == "after_line_dedup":
            frame = frame.filter(~F.coalesce(
                F.size(Tx.norm_tokens(F.col("text"))) == 0,
                F.lit(False)))
        cur = frame.select("doc_id")
        lost = prev.join(cur, "doc_id", "left_anti").select(
            "doc_id", "source", F.lit(key).alias("stage"),
            F.lit(_STAGE_REASONS[key]).alias("reason"))
        if key == "after_exact_dedup":
            fp = fingerprint_docs(
                _gate_text(docs, gates, "after_redaction")
            ).select("doc_id", "fingerprint")
            twins = (fp.join(cur, "doc_id", "semi")
                     .groupBy("fingerprint")
                     .agg(F.min("doc_id").cast("string")
                          .alias("detail")))
            lost = (lost.join(fp, "doc_id")
                    .join(twins, "fingerprint", "left"))
        elif key == "after_stream_dedup":
            twins = frame.select(
                "fingerprint",
                F.col("doc_id").cast("string").alias("detail"))
            lost = (lost.join(flags.select("doc_id", "text"), "doc_id")
                    .withColumn("fingerprint",
                                Tx.fingerprint(F.col("text")))
                    .join(twins, "fingerprint", "left"))
        else:
            lost = lost.withColumn("detail",
                                   F.lit(None).cast("string"))
        parts.append(lost.select("doc_id", "source", "stage", "reason",
                                 "detail"))
        prev = prev.join(cur, "doc_id", "semi")

    out = prev.select("doc_id", "source", F.lit("kept").alias("stage"),
                      F.lit("kept").alias("reason"),
                      F.lit(None).cast("string").alias("detail"))
    for p in parts:
        out = out.unionByName(p)
    return out


def _dsir_default_n(n_input: int) -> int:
    """DSIR selects half the RAW input unless told otherwise."""
    return max(1, n_input // 2)


def curation_frame(docs: DataFrame,
                   benchmark: DataFrame | None = None,
                   seq_len: int = 512,
                   shard_budget: int = 4096,
                   jaccard_threshold: float = 0.3,
                   min_words: int = 50,
                   overlap_shared: int | None = None,
                   dsir_target: DataFrame | None = None,
                   dsir_n_docs: int | None = None,
                   line_dedup_min_chars: int | None = None,
                   quality_model=None,
                   quality_model_threshold: float = 0.5,
                   max_docs_per_source: int | None = None,
                   html_input: bool = False,
                   lang_keep: list | None = None,
                   repetition_rules: bool = False,
                   stage_hook=None) -> DataFrame:
    """Build the full curation chain and return the packed frame
    (one row per training chunk with its (source, shard)
    assignment) — the caller picks the sink: ``curate_and_export``
    writes JSONL shards, the bench runs it through the noop sink to
    time pure compute. Fan-out boundaries materialize eagerly at
    build time (see below); everything between them stays one lazy
    Catalyst chain.

    The gates (:func:`curation_gates`) run as a flag projection plus
    cumulative filter views (``_gated``). ``stage_hook(key, frame)``,
    when given, is called at every boundary — ``input``, each gate's
    view (the Gopher one is ``after_quality``), ``curation_flags``,
    every later stage and ``chunks`` — under the one hook protocol
    (``_hook``): a returned DataFrame REPLACES the boundary, any
    other return is ignored. ``curate_and_export`` uses it for the
    per-stage counts, :func:`curation_audit` to pin boundaries.

    Fan-out boundaries consumed by MORE THAN ONE downstream subtree
    (the scrub input, the exact-dedup output, the near-dup survivor
    set) are PINNED here (``session.pin``) unless the hook already
    replaced them: without the pin every consumer re-evaluates the
    whole upstream chain — the sf0.1 bench plan held 28 parquet
    scans and 102 exchanges of pure re-derivation (guide §2.4), and
    at corpus scale each re-derivation is a full extra pass. The
    pins materialize at plan-build time, so the chain is no longer
    construction-lazy; it still computes everything from the inputs
    on every call, and the caller-visible rows are unchanged in
    every pin-durability mode. The DSIR default selects half the raw
    input (one count, unless ``dsir_n_docs`` is given)."""
    hook = _hook(stage_hook)

    def boundary(key: str, frame: DataFrame, fan_out: bool = False):
        out = hook(key, frame)
        return pin(out) if fan_out and out is frame else out

    docs = hook("input", docs)
    clean = _gated(docs, curation_gates(
        min_words, html_input, lang_keep, repetition_rules,
        quality_model, quality_model_threshold), hook)

    if line_dedup_min_chars is not None:
        # corpus-wide boilerplate scrub (C4 repeated-span rule) BEFORE
        # exact dedup: stripping shared footers/banners first lets the
        # whole-text fingerprint see the real content. The scrub
        # consumes its input twice (stats pass + rewrite pass) — pin
        # the gate/redaction prefix so both passes read one
        # materialization instead of re-running the upstream chain.
        clean = boundary("after_line_dedup", remove_repeated_lines(
            pin(clean), min_chars=line_dedup_min_chars))

    # fan-out: consumed by the MinHash pair mine AND the survivor
    # window below
    deduped = boundary("after_exact_dedup",
                       exact_dedup(clean).drop("fingerprint"),
                       fan_out=True)

    pairs = minhash_band_pairs(deduped, jaccard_threshold)
    # keep the longest doc per near-dup cluster (id tiebreak)
    withlen = deduped.withColumn("__len", F.length("text"))
    # fan-out: the winnow stage consumes canon for fingerprints AND
    # the keep-longest window; decontamination consumes it for the
    # shingle probe AND the anti-join pass-through
    canon = boundary("after_near_dedup",
                     canonical_docs(withlen, pairs, prefer_col="__len")
                     .drop("__len", "cluster_id"),
                     fan_out=(overlap_shared is not None
                              or benchmark is not None))

    if overlap_shared is not None:
        # verbatim-overlap (winnowed fingerprint) dedup: same
        # keep-longest rule over overlap clusters as the MinHash stage
        ov = fingerprint_overlap_pairs(canon, min_shared=overlap_shared,
                                       max_doc_freq=1000)
        withlen = canon.withColumn("__len", F.length("text"))
        canon = boundary("after_overlap_dedup",
                         canonical_docs(withlen, ov, prefer_col="__len")
                         .drop("__len", "cluster_id"),
                         fan_out=benchmark is not None)

    if benchmark is not None:
        # DSIR consumes its raw side twice (feature pass + the final
        # selected join)
        canon = boundary("after_decontamination",
                         decontaminate(canon, benchmark),
                         fan_out=dsir_target is not None)

    if dsir_target is not None:
        n_sel = dsir_n_docs or _dsir_default_n(docs.count())
        canon = boundary("after_dsir_selection",
                         dsir_resample(canon, dsir_target, n_sel)
                         .drop("logw", "key"))

    if max_docs_per_source is not None:
        # RefinedWeb-style per-source quota AFTER dedup/selection so
        # the cap counts surviving docs, not raw crawl volume.
        canon = boundary("after_source_cap",
                         cap_per_group(canon, ["source"],
                                       max_docs_per_source))

    # `source` rides the chunk explode instead of a join-back against
    # canon — the join re-evaluated the whole surviving chain once
    # more just to attach one metadata column (guide §2.4); the
    # carried column produces the identical rows.
    chunks = boundary("chunks", chunk_sequences(canon, seq_len,
                                                carry_cols=("source",)))

    return pack_by_budget(chunks, shard_budget, "n_tokens",
                          ["source"], id_col="doc_id")


def curate_and_export(docs: DataFrame, out_dir: str,
                      lazy_stats: bool = False, **kwargs) -> dict:
    """Run the pipeline and write shards; returns per-stage counts.
    Accepts every :func:`curation_frame` keyword.

    Shards are packed per source (the parallelism unit — a global
    pack would serialize) and written as JSONL partitioned by
    (source, shard) for straight consumption by a trainer.

    ``lazy_stats=False`` (default) counts after every stage — the
    audit record a curation run must emit anyway, at the cost of one
    extra job per stage; the input count doubles as the DSIR default
    size. ``lazy_stats=True`` skips every count so only the fan-out
    boundary pins, the export action and (with ``dsir_target`` but
    no ``dsir_n_docs``) the one input count for the DSIR default run
    — the 100 TB mode when the audit comes from the written manifest
    instead. Both modes select the same documents."""
    stats: dict = {}
    if not lazy_stats:
        stats["input"] = docs.count()
        if kwargs.get("dsir_target") is not None \
                and not kwargs.get("dsir_n_docs"):
            kwargs["dsir_n_docs"] = _dsir_default_n(stats["input"])

    def tally(key: str, frame: DataFrame):
        # curation_flags holds every input row: not a stage count
        if not lazy_stats and key not in stats \
                and key != "curation_flags":
            stats[key] = frame.count()

    packed = curation_frame(docs, stage_hook=tally, **kwargs)
    write_jsonl(packed.repartition("source", "shard")
                .sortWithinPartitions("doc_id", "seq_idx"),
                out_dir)
    if not lazy_stats:
        stats["shards"] = (packed.select("source", "shard")
                           .distinct().count())
    return stats


def curation_audit(docs: DataFrame, min_words: int = 50,
                   pin_handles: list | None = None,
                   **kwargs) -> DataFrame:
    """Per-DOCUMENT curation lineage: (doc_id, source, stage, reason,
    detail) — for every input document, either the FIRST stage that
    dropped it (with a human-debuggable reason) or ``stage="kept"``.
    The per-stage COUNTS `curate_and_export` emits say how many died
    where; this answers the question an operator actually asks when a
    slice of a 100 TB corpus vanishes: WHICH documents, and WHY.

    Built from the same lazy chain as :func:`curation_frame` (every
    keyword forwards) and explained by :func:`drop_lineage`, the
    attribution the streaming loop uses too: gate drops come from the
    flag projection (the Gopher gate names its FIRST FAILING RULE),
    later drops from id-only anti joins between consecutive
    boundaries, exact dedup names the kept twin, the line scrub owns
    the docs it empties, and every other stage tags its cause label
    (wrong_language, ngram_repetition, quality_model,
    near_duplicate, verbatim_overlap, benchmark_contaminated,
    not_selected_dsir, source_quota).

    Cost: ONE pipeline evaluation. The capture hook PINS the flag
    projection and each later doc-grain boundary (`session.pin` —
    the frame it hands back into the chain), so stage i+1 computes
    from stage i's materialization instead of re-running the prefix,
    and every audit branch reads pinned data. The price is
    boundary-count × corpus bytes of pin storage held until the
    audit result is consumed (pass ``pin_handles=[]`` to receive the
    pinned frames and ``unpersist()`` them after — only meaningful
    under durable pins; localCheckpoint blocks free on GC). Every
    join here carries ids only — document text is touched just
    twice (the gopher re-flag and the fingerprint join, both
    restricted to dropped/duplicated docs). At full corpus scale the
    pin storage, not CPU, is now the budget: sample
    (``docs.sample(...)``) when boundary-count × corpus exceeds
    scratch disk."""
    boundaries: dict = {}

    def capture(key, frame):
        # gate views filter the pinned flags; input/chunk grain skip
        if key != "curation_flags" and key not in _STAGE_REASONS:
            return None
        pinned = pin(frame)
        if pin_handles is not None:
            pin_handles.append(pinned)
        boundaries[key] = pinned
        return pinned

    curation_frame(docs, stage_hook=capture, min_words=min_words,
                   **kwargs)
    gates = curation_gates(min_words, **{k: v for k, v in kwargs.items()
                                         if k in _GATE_ARGS})
    return drop_lineage(docs, gates, boundaries)


def curation_report(docs: DataFrame) -> DataFrame:
    """Pre-flight per-source health: doc counts, Gopher pass rate,
    token volume — the numbers that decide thresholds BEFORE running
    the pipeline. One aggregation scan."""
    from ..functions.gopher import all_pass

    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg(all_pass(F.col("text"))
                               .cast("double")), 6)
                 .alias("gopher_pass_rate"),
                 F.sum(Tx.token_count(F.col("text"))).alias("n_tokens")))


def corpus_profile(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   source_col: str = "source") -> DataFrame:
    """Per-source corpus data card — the one-call report that feeds
    dataset documentation and threshold decisions before a curation
    run: (source, n_docs, n_tokens, avg_tokens, gopher_pass_rate,
    mean_quality, en_share, compression_p50, exact_dup_rate).

    ONE corpus text pass regardless of size (r16; previously two):
    a single scan computes every per-document signal (token counts,
    Gopher flags, heuristic quality, language ID, zlib compression
    ratio, md5 fingerprint) map-side; the narrow signal table
    (~9 scalars/doc, no text) is pinned and BOTH aggregates read it —
    the per-source signal fold, and the exact-duplicate rate's
    fingerprint shuffle (count per md5, docs in shared fingerprints)
    whose tiny per-source tally joins back broadcast-side. At corpus
    scale the pin trades a ~100 B/doc materialization for a second
    full read+decompress of the text column. Medians use Spark's
    exact ``percentile`` (same interpolation DuckDB's quantile_cont
    applies, so the card is oracle-checkable).
    """
    from ..functions.gopher import all_pass
    from ..functions.text import compression_ratio_udf, detect_lang

    enriched = pin(docs.select(
        F.col(source_col).alias("source"),
        Tx.token_count(F.col(text_col)).alias("__tok"),
        all_pass(F.col(text_col)).cast("double").alias("__pass"),
        Tx.quality_score(F.col(text_col)).alias("__q"),
        (detect_lang(F.col(text_col)) == "en")
        .cast("double").alias("__en"),
        compression_ratio_udf()(F.col(text_col)).alias("__c"),
        Tx.fingerprint(F.col(text_col)).alias("fingerprint")))
    base = (enriched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").alias("n_tokens"),
        F.round(F.avg("__tok"), 6).alias("avg_tokens"),
        F.round(F.avg("__pass"), 6).alias("gopher_pass_rate"),
        F.round(F.avg("__q"), 6).alias("mean_quality"),
        F.round(F.avg("__en"), 6).alias("en_share"),
        F.round(F.expr("percentile(__c, 0.5)"), 6)
        .alias("compression_p50")))

    from pyspark.sql import Window

    # the dup-rate pass reads the PINNED signal table — source rides
    # along, no join-back, and the text column is never re-scanned
    fp = enriched.select("source", "fingerprint")
    shared = (fp.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("fingerprint")))
        .filter(F.col("__n") > 1)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("__dups")))
    return (base.join(F.broadcast(shared), "source", "left")
            .withColumn("exact_dup_rate",
                        F.round(F.coalesce(F.col("__dups"), F.lit(0))
                                / F.col("n_docs"), 6))
            .drop("__dups"))


def curation_sequences(docs: DataFrame, seq_len: int = 2048,
                       sep_tokens: int = 1,
                       stage_hook=None, **kwargs) -> DataFrame:
    """The trainer-facing output mode: run the SAME gate chain as
    :func:`curation_frame` (every keyword forwards), then emit
    cross-document packed-sequence manifests
    (``operators.chunking.assemble_sequences`` → one record per
    training sequence, per-source streams) instead of per-doc chunk
    shards. Use when the consumer is a pretraining loader that wants
    fixed ``seq_len`` windows crossing document boundaries rather
    than document-grain JSONL.

    Everything stays lazy: the chunk/pack tail of the underlying
    chain is constructed but never executed — only the manifest plan
    the caller acts on runs. ``seq_len`` here is the TRAINING
    sequence length (the forwarded chain's own ``seq_len`` is
    irrelevant because its chunk stage is discarded)."""
    from ..operators.chunking import assemble_sequences, sequence_manifest

    captured: dict = {}
    # boundaries that can be the curated corpus the manifest reads —
    # pin them via the replacement protocol (unless the user hook
    # already replaced), so the manifest consumes a materialization
    # and the chain's own internal fan-out pins are not duplicated
    terminal = ("after_source_cap", "after_dsir_selection",
                "after_decontamination", "after_overlap_dedup",
                "after_near_dedup")

    def capture(key, frame):
        from ..session import pin

        r = stage_hook(key, frame) if stage_hook is not None else None
        # when the user hook exercises the DataFrame-replacement
        # protocol (e.g. a pin-injecting audit hook), the chain runs
        # on the replacement — record THAT frame, or the manifest
        # below would silently re-evaluate the unpinned original
        # (review r11 finding)
        if not isinstance(r, DataFrame) and key in terminal:
            r = pin(frame)
        captured[key] = r if isinstance(r, DataFrame) else frame
        return r

    curation_frame(docs, stage_hook=capture, **kwargs)
    # the last doc-grain stage that ran is the curated corpus
    for key in terminal:
        if key in captured:
            canon = captured[key]
            break
    spans = assemble_sequences(canon, seq_len, sep_tokens,
                               group_cols=("source",))
    return sequence_manifest(spans, group_cols=("source",))
