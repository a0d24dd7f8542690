"""Streaming curation: the continuous-ingestion counterpart of the
batch curation pipeline (pipelines/curation.py).

A production corpus is not rebuilt from scratch per run — documents
arrive continuously, and the quality/dedup gates should run on
arrival so the persisted bronze layer is already clean. The stage
split is honest about what can stream:

Stream-safe stages (map-side or bounded keyed state):
* Gopher quality gate — per-row codegen flags, no state;
* learned quality filter — broadcast-model scoring, no state;
* PII redaction — regexp chain, no state;
* benchmark decontamination — the benchmark side is tiny (eval
  suites), so its distinct shingles collect to the driver once at
  plan-build time and the stream filter is a map-side
  ``array_intersect`` against that literal set — semantically the
  same ≥ ``min_overlap``-distinct-shared-shingles rule as the batch
  ``decontaminate`` (verified by a parity test);
* within-stream exact dedup — ``dropDuplicates`` on the content
  fingerprint (state = one entry per distinct fingerprint), or the
  watermark-bounded variant when an event-time column exists;
* against-history dedup — stream-static LEFT ANTI join on the
  persisted fingerprint index (no stream-side state buffering);
  optionally Bloom-gated (dedup/bloom.py): a mergeable filter
  artifact maintained alongside the index routes "definitely novel"
  rows around the join map-side, so the exact anti join's shuffle
  carries only true duplicates + ~fpr of the novel rows — at 100 TB
  the index probe stops being per-batch full-index work.

The row-local stages are the batch chain's gate table
(``pipelines.curation.curation_gates``, plus the map-side
decontamination flag), run in the same shape — one flag projection,
then cumulative filter views — under the same hook protocol, and the
ingest loop's per-batch lineage is the same attribution
(``pipelines.curation.drop_lineage``).

Corpus-GLOBAL stages cannot stream and are not faked here: repeated-
line removal, near-dup cluster resolution (MinHash/winnowing), DSIR
selection, per-source quotas, and shard packing all need the whole
corpus in one aggregation. They run as the periodic batch compaction
pass (pipelines/curation.curate_and_export) over the accumulated
stream output — the standard bronze→silver split for continuous
ingestion.

Reference scope note: north-star extension (SURVEY.md §2 extensions);
the reference has no streaming surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dedup.bloom import (
    bloom_exact_anti_join,
    bloom_parameters,
    bloom_summary,
)
from ..dedup.decontaminate import DEFAULT_NGRAM
from ..dedup.ngram import shingle_docs
from ..functions.redact import redact_documents
from ..pipelines.curation import (
    _gated,
    _hook,
    curation_gates,
    drop_lineage,
)
from ..session import pin
from .dedup_stream import (
    incremental_dedup,
    incremental_dedup_watermarked,
)


def _read_parquet_if_present(spark, path: str) -> DataFrame | None:
    """Read a parquet dir, or None ONLY when it is genuinely absent
    or holds no parquet footers yet (the bootstrap states). Every
    other failure mode — permissions, torn files, transient storage
    errors mid-scan — re-raises: Spark surfaces dir-absent/empty as
    AnalysisException at read planning, while transient runtime
    faults surface as execution errors, so catching only the former
    cleanly separates 'nothing established yet' from 'retry me'.

    The genuinely-absent case is answered by a Hadoop-FS existence
    check BEFORE any read planning: letting `spark.read.parquet`
    discover the absence made `FileStreamSink.hasMetadata` log an
    80-line WARN stack per bootstrap probe (the unattributed py4j
    fragment leading BENCH_r15's stderr tail — verdict r15 #6), and
    a caught exception that still spams the driver log is not a
    clean probe. One `fs.exists` RPC against the same FileSystem the
    read would use — object-store-safe, no local-path assumption."""
    from pyspark.errors import AnalysisException

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/"))
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    try:
        spark.catalog.refreshByPath(path)
        df = spark.read.parquet(path)
    except AnalysisException:
        return None
    df.limit(1).collect()   # probe the scan; runtime faults raise
    return df


def benchmark_shingle_set(benchmark: DataFrame, n: int = DEFAULT_NGRAM,
                          text_col: str = "text",
                          id_col: str = "bench_id") -> list[str]:
    """The benchmark's distinct word n-grams, collected driver-side.

    One tiny job at plan-build time — the same "benchmark is small"
    premise the batch path uses to broadcast it. The returned list is
    embedded as a literal array in the stream filter, so each
    micro-batch does zero extra jobs."""
    return [r.shingle for r in
            shingle_docs(benchmark, text_col, id_col, n)
            .select("shingle").distinct().collect()]


def stream_decontaminate(docs: DataFrame, bench_shingles: list[str],
                         n: int = DEFAULT_NGRAM, min_overlap: int = 1,
                         text_col: str = "text") -> DataFrame:
    """Drop documents sharing ≥ ``min_overlap`` distinct word n-grams
    with the benchmark set — map-side (works identically on a stream
    or a batch frame; no shuffle, no state).

    The doc's shingle array is ``dedup.ngram.shingle_array`` — the
    one shared (let-bound) shingle kernel, pre-explode — intersected
    with the literal benchmark array (set semantics — DISTINCT
    shared shingles). NULL text never matches (kept, like the batch
    path, whose shingle join produces no rows for it). The let
    binding matters exactly here: this filter runs over the inlined
    gopher/redaction upstream inside one micro-batch chain, where the
    old inline chain re-evaluated that upstream ~2n times per row
    (r16; measured 2.5x the filter cost at n=8).

    Semantics note vs batch ``decontaminate``: the count here is
    distinct shared shingles against the UNION of all benchmark
    items; the batch path counts per (doc, benchmark-item) pair. At
    ``min_overlap=1`` (the default, and the published-pipeline
    standard at n=8) the two are exactly equivalent — the parity
    test pins that. At ``min_overlap>1`` the stream filter is the
    STRICTER gate (shingles spread across different benchmark items
    still accumulate), which is the conservative direction for an
    on-arrival bronze gate; run the batch operator in the silver
    pass when per-item thresholds matter."""
    if not bench_shingles:
        return docs
    return docs.filter(stream_decon_condition(
        F.array(*[F.lit(s) for s in bench_shingles]), n, min_overlap,
        text_col))


def stream_decon_condition(bench_arr: "Column", n: int = DEFAULT_NGRAM,
                           min_overlap: int = 1,
                           text_col: str = "text") -> "Column":
    """The decontamination KEEP predicate as a reusable Column —
    plan-independent, so the ingest loop builds it (inside its gate
    table) once per loop instead of per micro-batch: per-element
    ``lit`` calls cost one py4j round trip each (~1.2 s of driver
    time at a 2.1k-shingle benchmark), and the shingle_array lambda
    conversion ~0.1 s."""
    from ..dedup.ngram import shingle_array

    sh = shingle_array(F.col(text_col), n)
    if min_overlap == 1:
        # "shares >= 1 distinct shingle" is exactly arrays_overlap —
        # it probes the benchmark against a hash set of the DOC's
        # (small) shingle array and short-circuits on the first hit,
        # where array_intersect materializes the full intersection;
        # measured ~40% off the filter's scan time at a 2.1k-shingle
        # benchmark with identical survivors. NULL text stays kept
        # via the same coalesce (overlap of a NULL array is NULL).
        return F.coalesce(~F.arrays_overlap(sh, bench_arr), F.lit(True))
    n_shared = F.size(F.array_intersect(sh, bench_arr))
    return F.coalesce(n_shared < min_overlap, F.lit(True))


def make_curation_ingest_batch_fn(out_dir: str, index_dir: str,
                                  benchmark: DataFrame | None = None,
                                  quality_model=None,
                                  quality_model_threshold: float = 0.5,
                                  min_words: int = 50,
                                  decontaminate_n: int = DEFAULT_NGRAM,
                                  min_overlap: int = 1,
                                  bench_text_col: str = "text",
                                  bench_id_col: str = "bench_id",
                                  bloom_dir: str | None = None,
                                  bloom_expected_keys: int = 1_000_000,
                                  bloom_fpr: float = 0.01,
                                  audit_dir: str | None = None,
                                  html_input: bool = False,
                                  lang_keep: list | None = None):
    """The continuous-ingestion LOOP: a ``foreachBatch`` function that
    curates each micro-batch against the CURRENT membership index,
    appends the survivors to ``out_dir``, and appends their
    fingerprints to ``index_dir`` — so cross-batch dedup state lives
    in the index (a durable parquet artifact that survives restarts,
    redeployments, and checkpoint loss), not in stream state.

    Within a batch: the stream-safe gates + first-per-fingerprint;
    across batches: the anti join against the index that the
    processor itself just updated. The first batch bootstraps both
    directories. Returns the function to pass to
    ``stream.writeStream.foreachBatch(...)`` — also directly callable
    with (batch_df, batch_id) for batch backfills.

    ``bloom_dir`` (optional) turns on the Bloom gate: the loop
    maintains an APPEND-ONLY dir of per-batch ``bloom_summary``
    artifacts over the same fingerprints it indexes, and each batch's
    against-history check becomes :func:`~...dedup.bloom.
    bloom_exact_anti_join` — same exact answer (zero false negatives;
    parity-tested), but only the filter's "maybe" rows reach the
    index join. Appends never rewrite old artifact rows (OR is
    idempotent; ``bloom_bytes`` folds duplicate words). Sizing is
    fixed at bootstrap from ``bloom_expected_keys``/``bloom_fpr`` —
    size for the corpus's LIFETIME distinct-fingerprint count, not
    one batch (an overfull filter degrades to more "maybe" rows, i.e.
    gradually back to plain anti-join cost, never to wrong answers).
    A pre-existing index without a filter is bootstrapped by one full
    index scan on the first gated batch.

    ``audit_dir`` (optional, verdict r11 #8) makes every micro-batch
    also emit its per-doc first-dropping-stage lineage — the
    :func:`~..pipelines.curation.drop_lineage` frame — under
    ``audit_dir/batch=N`` (a partition-style layout: reading the
    root yields the whole history with ``batch`` as a column). Each
    batch OVERWRITES its own subdir, so a foreachBatch replay never
    duplicates lineage rows. Replay content tracks the DURABLE
    state, like every other artifact this loop writes: a crash
    before the fingerprint-index append replays to identical
    lineage; a replay after it reads the batch's own survivors as
    ``history_duplicate`` — true at read time (their content is
    already served; the corpus append drops them the same way), so
    the audit never claims a doc was kept twice. The audit rides
    the single-pass ``stage_hook`` protocol (the flag projection
    and the stream-dedup survivors pinned once; the chain still
    evaluates once), so the per-batch overhead is the pins +
    drop-sized enrichment joins, not extra pipeline evaluations."""
    # The gate table is built ONCE per loop, at the first batch: its
    # Columns are plan-independent and depend only on this factory's
    # arguments, while building them costs a Spark job (the
    # benchmark's distinct shingles) plus driver py4j time (~1.2 s
    # for a 2k-shingle literal) — per micro-batch that would be pure
    # overhead (guide §4.5's once-per-task rule, at the loop grain).
    gate_table: list = []

    def _gates():
        if not gate_table:
            gate_table.extend(stream_gates(
                benchmark, quality_model, quality_model_threshold,
                min_words, decontaminate_n, min_overlap,
                bench_text_col, bench_id_col, html_input, lang_keep))
        return gate_table

    def _read_bloom_dir(spark):
        """(artifact df | None, dir params | None). Params come from
        the DIR whenever it exists — never from the constructor args
        once a dir is established — so a bootstrap append can only
        ever happen against a genuinely absent dir. A transient read
        failure on an established dir RE-RAISES (the batch retries)
        instead of masquerading as dir-absent, which would append
        constructor-parameter summaries into a dir built with
        different parameters and brick every later batch."""
        df = _read_parquet_if_present(spark, bloom_dir)
        if df is None:
            return None, None
        p = df.select("num_bits", "num_hashes").distinct().collect()
        if len(p) != 1:
            raise ValueError(
                f"bloom dir {bloom_dir} mixes filter parameters "
                f"{p}; it is not a single loop's artifact dir")
        return df, (int(p[0]["num_bits"]), int(p[0]["num_hashes"]))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # one maintenance writer per curated corpus: the batch holds
        # the out_dir lease (which by convention covers the paired
        # fingerprint index + bloom dirs — they always travel
        # together) so a racing snapshot-diff apply or compaction
        # fails loudly instead of interleaving (verdict r10 #2)
        from ..sources.lease import writer_lease

        with writer_lease(spark, out_dir,
                          f"curation_ingest_batch_{batch_id}"):
            return _process_locked(batch_df, batch_id)

    def _process_locked(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # heal a compaction that died between its two renames BEFORE
        # any append: with the corpus parked at _compact_old and
        # out_dir absent, a blind append would recreate a fresh
        # out_dir holding only this batch — and the NEXT compaction,
        # seeing out_dir exist, would conclude its backup is
        # post-swap residue and delete the only copy of the
        # pre-crash corpus (review r11 finding — the same
        # append-after-unhealed-crash bug heal_state_dir fixes for
        # __bak-managed dirs, on the other swap scheme)
        _heal_compact_swap(spark, out_dir)
        # dir-absent → bootstrap; any OTHER read failure raises (a
        # transient error treated as 'no history' would silently
        # admit every duplicate in this batch)
        history = _read_parquet_if_present(spark, index_dir)
        history_bloom = None
        bloom_params = None
        if bloom_dir is not None:
            history_bloom, dir_params = _read_bloom_dir(spark)
            bloom_params = dir_params or bloom_parameters(
                bloom_expected_keys, bloom_fpr)
            if history is not None and history_bloom is None:
                # index exists but no filter yet: bootstrap from the
                # full index once, so the no-false-negative premise
                # holds from the first gated batch. bloom_params
                # stays the tuple just written — no second parameter
                # inference to drift from the write. Gate first
                # (review r12): this is a durable append inside the
                # leased scope — a zombie batch appending summaries
                # built with its OWN constructor parameters into a
                # successor's rebuilt dir would make every later
                # batch's _read_bloom_dir raise "mixes filter
                # parameters"
                from ..sources.lease import commit_gate

                commit_gate(spark, out_dir,
                            "curation ingest bloom bootstrap")
                bloom_summary(history, "fingerprint",
                              *bloom_params) \
                    .write.mode("append").parquet(bloom_dir)
                spark.catalog.refreshByPath(bloom_dir)
                history_bloom = spark.read.parquet(bloom_dir)
            if history is None:
                history_bloom = None    # nothing to gate against
        probe_bcs: list = []
        boundaries: dict = {}

        def capture(key: str, frame: DataFrame) -> DataFrame:
            # pin each MATERIALIZATION boundary so the lineage reads a
            # materialization instead of re-running the chain prefix
            # (the curation_audit single-pass protocol): the flag
            # projection every gate view filters, and the stream-dedup
            # survivors when the history anti join consumes them too.
            # The last boundary is pinned below as ``curated``. Blocks
            # free when the batch function's references drop — same
            # GC-release rationale as the marker snapshot cache.
            if key == "curation_flags" or (
                    key == "after_stream_dedup" and history is not None):
                frame = pin(frame)
            boundaries[key] = frame
            return frame

        try:
            gates = _gates()
            curated = pin(_stream_chain(
                batch_df, gates, history=history,
                history_bloom=history_bloom,
                broadcast_handle=probe_bcs,
                stage_hook=capture if audit_dir is not None else None),
                truncate=True)
            # the pin above IS the last boundary's materialization —
            # hand it to the lineage so its joins never re-run the
            # dedup/anti-join suffix
            boundaries["after_history_dedup" if history is not None
                       else "after_stream_dedup"] = curated
            # renew-or-abort immediately before the batch's first
            # durable write (verdict r11 #1): a batch stalled past
            # the TTL must not append beside a new writer
            from ..sources.lease import commit_gate

            commit_gate(spark, out_dir,
                        f"curation_ingest_batch_{batch_id} publish")
            curated.drop("fingerprint").write.mode("append") \
                .parquet(out_dir)
            # the dedup key is already attached (post-redaction text
            # fingerprint, consistent across batches) — index it
            # as-is. APPEND ORDER IS LOAD-BEARING: the filter goes
            # first so a crash between the two writes leaves the
            # filter AHEAD of the index (harmless: "maybe" rows
            # still hit the exact join) — never BEHIND it, which
            # would silently admit duplicates forever after.
            new_fps = curated.select("fingerprint").distinct()
            if bloom_dir is not None:
                # consumed twice (filter summary + index append):
                # pin so the distinct runs once. ``curated`` is
                # already a truncated pin, so the lineage below this
                # point never reaches the target paths either way —
                # with a single consumer (no bloom gate) the pin is
                # one whole materialization job of pure overhead per
                # batch and the write below consumes the distinct
                # directly.
                new_fps = pin(new_fps, truncate=True)
                bloom_summary(new_fps, "fingerprint", *bloom_params) \
                    .write.mode("append").parquet(bloom_dir)
            new_fps.write.mode("append").parquet(index_dir)
            if audit_dir is not None:
                # per-batch OVERWRITE into batch=N: a replayed batch
                # rewrites identical lineage (idempotent); distinct
                # batches never touch each other's subdirs
                drop_lineage(batch_df, gates, boundaries) \
                    .write.mode("overwrite") \
                    .parquet(f"{audit_dir}/batch={batch_id}")
        finally:
            # per-batch probe broadcasts (MB-scale dense filters)
            # are freed eagerly, not left to driver GC — a stream
            # processes thousands of batches
            for bc in probe_bcs:
                bc.unpersist(blocking=False)

    return process


def stream_gates(benchmark: DataFrame | None = None,
                 quality_model=None,
                 quality_model_threshold: float = 0.5,
                 min_words: int = 50,
                 decontaminate_n: int = DEFAULT_NGRAM,
                 min_overlap: int = 1,
                 bench_text_col: str = "text",
                 bench_id_col: str = "bench_id",
                 html_input: bool = False,
                 lang_keep: list | None = None,
                 bench_shingles: list[str] | None = None) -> tuple:
    """The streaming chain's gate table: the batch gates
    (``pipelines.curation.curation_gates``, Gopher boundary
    ``after_gopher``) plus, with a ``benchmark``, the map-side
    decontamination flag over the redacted text. The benchmark's
    distinct shingles are collected here (one small job) unless
    ``bench_shingles`` passes them in; an empty set keeps the
    ``after_decontamination`` boundary with nothing to drop. Pass the
    table to :func:`drop_lineage` to explain a hooked chain's drops."""
    decon = None
    if benchmark is not None:
        if bench_shingles is None:
            bench_shingles = benchmark_shingle_set(
                benchmark, decontaminate_n, bench_text_col,
                bench_id_col)
        decon = stream_decon_condition(
            F.array(*[F.lit(s) for s in bench_shingles]),
            decontaminate_n, min_overlap) if bench_shingles \
            else F.lit(True)
    return curation_gates(min_words, html_input, lang_keep,
                          quality_model=quality_model,
                          quality_model_threshold=quality_model_threshold,
                          decon=decon, gopher_key="after_gopher")


def curate_document_stream(stream_docs: DataFrame,
                           history: DataFrame | None = None,
                           benchmark: DataFrame | None = None,
                           quality_model=None,
                           quality_model_threshold: float = 0.5,
                           min_words: int = 50,
                           decontaminate_n: int = DEFAULT_NGRAM,
                           min_overlap: int = 1,
                           ts_col: str | None = None,
                           dedup_delay: str | None = None,
                           bench_text_col: str = "text",
                           bench_id_col: str = "bench_id",
                           history_bloom: DataFrame | None = None,
                           broadcast_handle: list | None = None,
                           html_input: bool = False,
                           lang_keep: list | None = None,
                           stage_hook=None,
                           bench_shingles: list[str] | None = None
                           ) -> DataFrame:
    """The stream-safe curation stages composed over a document
    stream (or a batch frame — every stage is trigger-agnostic):

        [html extraction] → [language gate] → Gopher gate →
        [learned quality filter] → PII redaction → [map-side
        decontamination] → within-stream exact dedup →
        [against-history anti join]

    The gates are :func:`stream_gates`, run like the batch chain's:
    one flag projection, then a cumulative filter view per gate.

    The output carries a ``fingerprint`` column (the dedup key) so
    the sink can feed the historical index directly. With ``ts_col``
    + ``dedup_delay`` the dedup state is watermark-bounded
    (re-emission past the horizon reconciles against ``history`` —
    see incremental_dedup_watermarked); otherwise state is one entry
    per distinct fingerprint.

    Corpus-global stages (line scrub, near-dup resolution, quotas,
    packing) intentionally have no streaming analogue — run the batch
    pipeline periodically over this stream's accumulated output.

    ``history_bloom`` (a dedup/bloom.py artifact covering EVERY
    fingerprint in ``history`` — a stale filter breaks the
    no-false-negative premise) upgrades the against-history anti join
    to the Bloom-gated exact form: identical answer, join shuffle
    bounded by the "maybe" rows.

    ``stage_hook(key, frame)`` — the hook protocol of
    :func:`pipelines.curation.curation_frame` (verdict r11 #8):
    called at ``stream_input``, ``curation_flags``, every gate view
    (the Gopher one is ``after_gopher``), ``after_stream_dedup`` and
    ``after_history_dedup``; a returned DataFrame REPLACES the
    boundary in-chain (so an audit capture can pin each boundary and
    the chain evaluates once), any other return is ignored. Hooks
    that pin are for BATCH frames (foreachBatch / backfills) — a hook
    on a genuine readStream frame must stay lazy.

    ``bench_shingles`` lets a caller that already collected the
    benchmark's shingle set (:func:`benchmark_shingle_set`) skip the
    collection job."""
    gates = stream_gates(benchmark, quality_model,
                         quality_model_threshold, min_words,
                         decontaminate_n, min_overlap, bench_text_col,
                         bench_id_col, html_input, lang_keep,
                         bench_shingles)
    return _stream_chain(stream_docs, gates, history, ts_col,
                         dedup_delay, history_bloom, broadcast_handle,
                         stage_hook)


def _stream_chain(docs: DataFrame, gates, history=None, ts_col=None,
                  dedup_delay=None, history_bloom=None,
                  broadcast_handle=None, stage_hook=None) -> DataFrame:
    """The chain behind :func:`curate_document_stream` over a built
    gate table — the ingest loop calls it with the table it built
    once."""
    hook = _hook(stage_hook)
    out = _gated(hook("stream_input", docs), gates, hook)
    if ts_col is not None and dedup_delay is not None:
        out = hook("after_stream_dedup",
                   incremental_dedup_watermarked(out, ts_col,
                                                 dedup_delay))
    else:
        out = hook("after_stream_dedup", incremental_dedup(out))
    if history is not None:
        if history_bloom is not None:
            out = bloom_exact_anti_join(out, "fingerprint", history,
                                        "fingerprint", history_bloom,
                                        broadcast_handle)
        else:
            out = out.join(history, "fingerprint", "left_anti")
        out = hook("after_history_dedup", out)
    return out


# ------------------------------------------------------------------
# Snapshot-diff-driven incremental reprocessing (E117, round 10):
# reconcile the ingest loop's curated state with a NEW corpus
# snapshot by processing only what changed. Composes io.corpus_diff /
# publish_snapshot with the loop above; the tombstone design keeps
# corpus rewrites out of the hot path (append-only tombstone index +
# map-side fingerprint anti-join view; `compact_curated` applies them
# physically on the maintenance schedule).


def _tombstone_dir(out_dir: str) -> str:
    return out_dir.rstrip("/") + "_tombstones"


def _heal_compact_swap(spark, out_dir: str) -> bool:
    """Heal a `compact_curated` that died between its two renames:
    live corpus gone, data parked at ``_compact_old`` — rename it
    back. Every WRITER that touches ``out_dir`` must call this
    before writing (the ingest loop, snapshot applies via the loop,
    and compaction itself): an append into the absent live dir would
    shadow the parked corpus, and the next compaction would then
    mistake the backup for post-swap residue and delete it. Returns
    True when a heal happened."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(out_dir.rstrip("/"))
    bak = jvm.org.apache.hadoop.fs.Path(
        out_dir.rstrip("/") + "_compact_old")
    fs = root.getFileSystem(conf)
    if not fs.exists(root) and fs.exists(bak):
        if not fs.rename(bak, root):
            raise IOError(f"failed to restore crashed compaction "
                          f"backup {bak}")
        spark.catalog.refreshByPath(out_dir)
        return True
    return False


def read_curated(spark, out_dir: str) -> DataFrame:
    """The LIVE curated corpus: the loop's appended output minus the
    tombstoned rows. Tombstones are (doc_id, fingerprint-of-stored-
    text) pairs, so the anti-join hides exactly the superseded
    VERSION of a document — a re-curated replacement under the same
    id (different stored text → different fingerprint) stays
    visible. The fingerprint is computed map-side at read (one
    codegen md5 over the stored text — no corpus rewrite, no
    shuffle; tombstones are diff-sized and broadcast), matching the
    physical-rewrite semantics `compact_curated` applies later."""
    from ..dedup.exact import fingerprint_docs
    from ..sources.io import read_state_dir

    corpus = spark.read.parquet(out_dir)
    tombs = read_state_dir(spark, _tombstone_dir(out_dir))
    if tombs is None:
        return corpus
    return (fingerprint_docs(corpus)
            .join(F.broadcast(tombs.select("doc_id", "fingerprint")
                              .distinct()),
                  ["doc_id", "fingerprint"], "left_anti")
            .drop("fingerprint"))


def compact_curated(spark, out_dir: str) -> dict:
    """Apply the tombstones PHYSICALLY: rewrite the corpus dir to the
    `read_curated` view and clear the tombstone index — the
    bronze-layer maintenance pass that keeps the map-side anti-join's
    broadcast small. Crash-safe at every boundary: the surviving rows
    COMMIT to a temp dir first, the live dir is swapped in by two
    renames with rollback (an in-place overwrite would delete the
    corpus before the new files commit — review r10 finding; a crash
    there loses the dataset), and the tombstone dir is cleared LAST
    (a crash before the clear leaves tombstones referencing rows
    already gone — the anti-join is then a no-op, never wrong).
    Stop-the-world per directory like every swap compactor here —
    schedule when no reader is mid-scan. Returns {"rows_before",
    "rows_after", "tombstones_cleared"}. Serialized by the writer
    lease (`sources.lease`)."""
    from ..sources.lease import writer_lease

    with writer_lease(spark, out_dir, "compact_curated"):
        return _compact_curated_unlocked(spark, out_dir)


def _compact_curated_unlocked(spark, out_dir):
    from ..sources.io import drop_state_dir, read_state_dir

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def _jp(p):
        return jvm.org.apache.hadoop.fs.Path(p)

    root = _jp(out_dir.rstrip("/"))
    fs = root.getFileSystem(conf)
    # heal a prior hard kill between the two renames BEFORE the read,
    # or the rerun could never reach any recovery code (review r10;
    # shared helper since r11 — the ingest loop must heal too)
    _heal_compact_swap(spark, out_dir)
    tomb_dir = _tombstone_dir(out_dir)
    tombs = read_state_dir(spark, tomb_dir)
    before = spark.read.parquet(out_dir).count()
    if tombs is None:
        return {"rows_before": before, "rows_after": before,
                "tombstones_cleared": 0}
    n_tombs = tombs.count()
    view = read_curated(spark, out_dir)
    tmp = _jp(out_dir.rstrip("/") + "_compacting")
    backup = _jp(out_dir.rstrip("/") + "_compact_old")
    fs.delete(tmp, True)
    # a leftover backup means a prior crash AFTER its swap committed
    # (the dataset read above succeeded, so live data is at out_dir)
    fs.delete(backup, True)
    try:
        view.write.mode("overwrite").parquet(tmp.toString())
    except Exception:
        fs.delete(tmp, True)
        raise
    after = spark.read.parquet(tmp.toString()).count()
    # renew-or-abort at the swap (verdict r11 #1): the rewrite above
    # can outlive the TTL; a dethroned compactor must discard its
    # staged dir, never rename the new holder's live corpus away
    from ..sources.lease import WriterLeaseConflict, commit_gate

    try:
        commit_gate(spark, out_dir, "compact_curated publish")
    except WriterLeaseConflict:
        fs.delete(tmp, True)
        raise
    swapped_out = False
    try:
        if not fs.rename(root, backup):
            raise IOError(f"rename {root} -> {backup} failed")
        swapped_out = True
        if not fs.rename(tmp, root):
            raise IOError(f"rename {tmp} -> {root} failed")
    except Exception:
        if swapped_out and not fs.exists(root):
            fs.rename(backup, root)
        fs.delete(tmp, True)
        raise
    fs.delete(backup, True)
    drop_state_dir(spark, tomb_dir)
    spark.catalog.refreshByPath(out_dir)
    return {"rows_before": before, "rows_after": after,
            "tombstones_cleared": n_tombs}


def apply_snapshot_diff(spark, old_docs: DataFrame,
                        new_docs: DataFrame, out_dir: str,
                        index_dir: str, batch_id: int = 0,
                        ann_index_dirs: tuple = (),
                        **loop_kwargs) -> dict:
    """Reconcile the curated state with a NEW snapshot by processing
    ONLY the diff — the incremental-reprocessing composition a 100 TB
    corpus needs (a full re-run per snapshot is the thing this module
    exists to avoid). Columns follow the streaming-curation family's
    contract: ``doc_id`` ids, ``text`` content (the ingest loop, the
    tombstone view and the fingerprint index all share it — a
    configurable column here would silently break against them,
    review r10 finding).

    * ``removed`` and effectively-``modified`` docs are TOMBSTONED —
      (doc_id, fingerprint of the stored/redacted old text) rows
      appended to the tombstone index `read_curated` anti-joins
      (nothing is appended — and no tombstone dir is created — when
      the diff produces none);
    * ``added`` and effectively-modified docs flow through the SAME
      ingest batch fn as streamed arrivals (every gate + the
      cross-corpus dedup index), appended under ``batch_id``;
    * a ``modified`` doc whose rewrite disappears under redaction
      (same stored text) is a NO-OP for the curated corpus — it is
      neither tombstoned nor reprocessed, which also makes the whole
      operation IDEMPOTENT: re-applying the same diff re-appends
      duplicate tombstone rows (harmless — the anti-join is a set
      membership) and the re-processed delta dies against the
      fingerprint index it populated the first time;
    * a doc REVERTING to a version of itself is RESTORED, not
      re-admitted: when a delta doc's incoming (doc_id, stored-text
      fingerprint) matches one of its own tombstones, that tombstone
      is deleted (read-modify-write under a truncating pin) and the
      original stored row becomes visible again — without this the
      revert would vanish entirely (old row tombstoned, replacement
      killed by the sticky fingerprint index; review r10 finding).
      The restore needs the superseded row to still exist
      physically: after `compact_curated` has applied the tombstone,
      a revert is re-admission of historical content and the sticky
      index blocks it — the amnesty path below applies.

    Sticky-dedup semantics, documented not hidden: the fingerprint
    index is append-only, so content that EVER entered the corpus is
    never re-admitted under a NEW identity (a removed doc's text
    re-added under a new id is dropped as a duplicate; a modified doc
    whose new text duplicates another living doc keeps only that
    other doc). For takedown workflows that is the desired memory;
    for amnesty, rebuild the index from `read_curated` during a
    maintenance window.

    Write order is load-bearing: tombstones append BEFORE the delta
    processes, so a crash between the two leaves old versions hidden
    with the replacements missing — the rerun re-processes them —
    never a window where both versions are visible.

    ``ann_index_dirs`` (r11) closes the compliance loop in ONE call:
    each listed persistent ANN/hybrid index receives
    `delete_from_index` markers for every doc whose SERVED old
    content is going away — removed AND genuinely-modified docs (the
    indexed embeddings describe the superseded text; redaction-noop
    modifications keep serving) — ordered with the tombstones,
    before the delta, so a taken-down document stops being served by
    the curated read AND by vector/hybrid retrieval in the same
    maintenance action (the cross-surface invariant
    tests/test_takedown_serving.py pins). REVERTING docs get their
    markers dropped via `undelete_from_index` (their curated restore
    never re-ingests, so append-side restore-on-append can't fire);
    re-indexed modified docs restore through `append_to_index` as
    usual. Returns counts: {"added", "removed", "modified",
    "modified_noop", "restored", "tombstoned", "delta_docs",
    "index_deleted", "index_restored"}. Serialized by the writer
    lease (`sources.lease`) on ``out_dir`` — the delta's ingest
    batches re-enter it; each ANN index takes its own lease."""
    from ..sources.lease import writer_lease

    with writer_lease(spark, out_dir, "apply_snapshot_diff"):
        return _apply_snapshot_diff_unlocked(
            spark, old_docs, new_docs, out_dir, index_dir, batch_id,
            ann_index_dirs=ann_index_dirs, **loop_kwargs)


def _apply_snapshot_diff_unlocked(spark, old_docs, new_docs, out_dir,
                                  index_dir, batch_id,
                                  ann_index_dirs=(),
                                  **loop_kwargs):
    from ..dedup.exact import corpus_diff, fingerprint_docs

    diff = pin(corpus_diff(old_docs, new_docs), truncate=True)
    counts = {r["change"]: r["n"]
              for r in diff.groupBy("change")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    gone = diff.filter(F.col("change").isin("removed", "modified")) \
               .select("doc_id")
    mod = diff.filter(F.col("change") == "modified").select("doc_id")
    incoming = (diff.filter(F.col("change").isin("added", "modified"))
                .select("doc_id"))

    def _red_fp(docs, ids):
        return (fingerprint_docs(
            redact_documents(docs.join(ids, "doc_id", "semi")))
            .select("doc_id", "fingerprint"))

    old_fp = _red_fp(old_docs, gone)
    inc_fp = pin(_red_fp(new_docs, incoming), truncate=True)
    # ALREADY-CURRENT incoming docs: their exact (redacted) content
    # is what the curated corpus VISIBLY serves for that id right
    # now — computed from durable state (the pre-apply read_curated
    # view), not from this apply's own diff mechanics, so it holds
    # on RE-APPLIES too (review r11: the tombstone-pool `restored`
    # set is consumed by the first application — a re-applied revert
    # diff classified the doc 'modified', re-issued its index delete
    # marker, and nothing could ever drop it again; this also
    # covers re-applying after a modified doc was re-indexed, which
    # would otherwise re-hide the fresh embedding). These docs are a
    # NO-TOUCH set for the index propagation: never re-DELETED — the
    # first application already made the serving decision — and
    # never UN-deleted either (review r11 third pass: "curated
    # serves this content" does not imply "the index embeds this
    # content" — a re-applied forward-modify diff would otherwise
    # drop the marker while the index still holds the superseded
    # embedding; only the tombstone-pool `restored` set, whose rows
    # provably predate the diff, un-deletes). Only MODIFIED docs can
    # be already-current (added docs have no serving history in
    # `gone`; added-reverts restore via the tombstone pool), so the
    # probe is skipped on add/remove-only diffs and on a
    # not-yet-bootstrapped out_dir — and the mod-id side broadcasts,
    # so the curated store is read once map-side, never shuffled by
    # text bytes. Computed HERE — before the tombstone rewrite
    # mutates the visible state.
    already_current = None
    if ann_index_dirs and counts.get("modified", 0) > 0 \
            and _read_parquet_if_present(spark, out_dir) is not None:
        # broadcast the mod-id side only while the already-known
        # count proves it driver-safe (review r11 fourth pass: a
        # forced broadcast of an unbounded modified set OOMs the
        # driver at diff scale); past the bound the semi join
        # shuffles — and the fingerprint is computed MAP-SIDE before
        # the join so the shuffle carries (doc_id, fp), never text
        # bytes
        mod_side = F.broadcast(mod) \
            if counts["modified"] <= 5_000_000 else mod
        stored_fp = (fingerprint_docs(read_curated(spark, out_dir))
                     .select("doc_id", "fingerprint")
                     .join(mod_side, "doc_id", "semi"))
        already_current = pin(
            inc_fp.join(stored_fp, ["doc_id", "fingerprint"], "semi")
            .select("doc_id"), truncate=True)
    # redaction-invisible modifications: stored text unchanged
    noop = (old_fp.join(inc_fp.withColumnRenamed("fingerprint",
                                                 "__nfp"), "doc_id")
            .filter(F.col("fingerprint") == F.col("__nfp"))
            .select("doc_id"))
    noop = pin(noop, truncate=True)     # feeds tombstones AND delta
    n_noop = noop.count()
    tombstones = pin(old_fp.join(noop, "doc_id", "left_anti"),
                     truncate=True)
    n_tomb = tombstones.count()

    from ..sources.io import (
        drop_state_dir,
        heal_state_dir,
        read_state_dir,
        replace_state_dir,
    )

    tomb_dir = _tombstone_dir(out_dir)
    # renew-or-abort before the first writer action (verdict r11
    # #1): everything from the heal onward mutates durable state —
    # a dethroned apply must abort here, before the tombstone pool
    # or any listed index is touched (the per-index deletes gate
    # again under their own leases)
    from ..sources.lease import commit_gate

    commit_gate(spark, out_dir, "apply_snapshot_diff publish")
    # ADVICE r10: heal a crash-parked swap BEFORE reading — the
    # append branch below would otherwise create a fresh live dir
    # that shadows the parked __bak, silently resurrecting every
    # pre-crash tombstone. apply_snapshot_diff is a maintenance
    # WRITER (serialized by contract), so the heal is its to do.
    heal_state_dir(spark, tomb_dir)
    existing = read_state_dir(spark, tomb_dir)
    # restores: incoming versions matching one of their OWN
    # tombstones — the doc is reverting; un-hide the original row
    # instead of losing it to the sticky index
    pool = tombstones if existing is None else \
        tombstones.unionByName(
            existing.select("doc_id", "fingerprint")).distinct()
    restored = pin(pool.join(inc_fp, ["doc_id", "fingerprint"],
                             "semi"), truncate=True)
    n_restored = restored.count()
    remaining = pool.join(restored, ["doc_id", "fingerprint"],
                          "left_anti")

    # cross-surface takedown propagation (r11 — the compliance loop
    # closed in one call): docs whose SERVED old content is going
    # away — removed docs AND genuinely-modified docs (their indexed
    # embeddings describe the superseded, possibly-violating text;
    # review r11) — also stop being served by every listed ANN/
    # hybrid index. Redaction-noop modifications keep serving (the
    # stored text is unchanged), already-current docs are NO-TOUCH
    # (see above), and REVERTING docs get their markers DROPPED
    # (review r11: a restore un-hides the curated row without
    # re-ingestion, so append_to_index's restore-on-append never
    # fires — without the explicit undelete the doc reappeared in
    # `read_curated` but stayed excluded from vector serving
    # forever). A re-indexed modified doc restores via
    # append_to_index as before.
    #
    # ORDER: the index ops run BEFORE the tombstone-pool rewrite
    # (review r11 third pass) — the rewrite CONSUMES the restore
    # evidence, so a crash between them would leave a marker no
    # re-apply could ever drop (pool rewritten → restored=∅ →
    # no-touch). This way a crash after the undelete re-derives the
    # same `restored` set from the still-unrewritten pool and
    # converges; the in-between state (index serves a doc the
    # curated view still hides) lasts one recovery re-apply and errs
    # only on a doc being RESTORED anyway. Deletes stay ahead of
    # everything that un-hides — hide everywhere first, then admit
    # replacements; re-deletes are idempotent set-membership. Each
    # index takes its own writer lease (distinct root — no deadlock
    # with the out_dir lease this function already holds).
    index_deleted = {}
    index_restored = {}
    if ann_index_dirs:
        from ..similarity.index import (
            delete_from_index,
            undelete_from_index,
        )

        gone_served = (gone
                       .join(noop, "doc_id", "left_anti")
                       .join(restored.select("doc_id"), "doc_id",
                             "left_anti"))
        if already_current is not None:
            gone_served = gone_served.join(already_current, "doc_id",
                                           "left_anti")
        gone_served = pin(gone_served, truncate=True)
        # un-delete ONLY tombstone-pool restores: their visible rows
        # provably predate the diff, so the indexed embeddings match
        # the served content; already_current is no-touch (above)
        serving_restores = pin(restored.select("doc_id"),
                               truncate=True)
        # skip the per-index lease/cast/count machinery entirely on
        # the common nothing-to-do sides (review r11: a routine
        # added-docs-only diff paid two lease cycles and several
        # zero-row jobs per index)
        any_deletes = bool(gone_served.take(1))
        any_restores = bool(serving_restores.take(1))
        for idx_dir in ann_index_dirs:
            index_deleted[idx_dir] = delete_from_index(
                spark, idx_dir, gone_served)["deleted"] \
                if any_deletes else 0
            index_restored[idx_dir] = undelete_from_index(
                spark, idx_dir, serving_restores)["restored"] \
                if any_restores else 0

    # re-gate before the pool rewrite: the per-index lease cycles
    # above can be long, and this swap is the one that consumes the
    # restore evidence (crash-ordering note below)
    commit_gate(spark, out_dir, "apply_snapshot_diff pool rewrite")
    if n_restored > 0:
        # the rewrite goes through io.replace_state_dir (staged +
        # swap with a parked backup): an in-place overwrite would
        # lose EVERY accumulated tombstone — including unrelated
        # takedowns — on a mid-write crash (review r10). A fully
        # restored pool DELETES the dir rather than writing a
        # zero-row one (whose mere existence flips read_curated onto
        # the fingerprint path forever).
        if remaining.take(1):
            replace_state_dir(remaining, tomb_dir)
        else:
            drop_state_dir(spark, tomb_dir)
    elif n_tomb > 0:
        tombstones.write.mode("append").parquet(tomb_dir)
    # else: nothing to hide — never create an empty tombstone dir
    # (its mere existence flips read_curated onto the fingerprint
    # path and makes the next compaction a full rewrite for nothing)

    delta_ids = (incoming
                 .join(noop, "doc_id", "left_anti")
                 .join(restored.select("doc_id"), "doc_id",
                       "left_anti"))
    delta = new_docs.join(delta_ids, "doc_id", "semi")
    n_delta = delta.count()
    process = make_curation_ingest_batch_fn(out_dir, index_dir,
                                            **loop_kwargs)
    process(delta, batch_id)
    return {"added": counts.get("added", 0),
            "removed": counts.get("removed", 0),
            "modified": counts.get("modified", 0),
            "modified_noop": n_noop,
            "restored": n_restored,
            "tombstoned": n_tomb,
            "delta_docs": n_delta,
            "index_deleted": index_deleted,
            "index_restored": index_restored}
