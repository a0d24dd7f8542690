"""Scale-stress evidence run (VERDICT r2 #8).

Derives 1x/4x/16x corpora from the largest available testdata
(sf0.1) by deterministic replication-with-perturbation — replica
vectors are direction-perturbed and replica documents are re-tokenized
so replicas are NOT near-duplicates of each other (the point is
candidate-volume scaling, not the mass-duplicate pathology, which
tests/test_skew_guard.py covers separately). With the auto-scaling
knobs engaged (``scaled_n_planes``, ``scaled_n_blocks``) the claims
under test are:

* LSH near-dup: signature bits grow with log2(n), so candidate volume
  stays ~n * target_bucket — candidates/n roughly FLAT, wall time
  ~linear, never n².
* GEMM exact kernel: block count grows n/target_block, so the widest
  block row stays ~2000 vectors at any n.
* MinHash banding: candidates and time track the true near-dup pair
  population, not the corpus square.

Prints one JSON line per scale point; paste the table into
BASELINE.md as the round-3 scaling record.

Usage: SPARK_GRAFT_CPUS=16 python tools/stress_scale.py [sf_dir]

``--product S1 S2 ...`` (e.g. ``--product 16 64``) runs ONLY the
document-product legs — repeated-line scrub, heavy hitters, sequence
assembly, curation_e2e — at the given scales. 64x (320k docs at
sf0.1) is past the point where the serial job-count floor dominates
local wall time, so the data term's slope is finally visible: the
strongest 100x-readiness evidence available on one machine. The
embedding legs are excluded from --product because 64x replication of
the vector corpus measures the replica generator, not the engine.

``--vector S1 S2 ...`` (e.g. ``--vector 16 64 256``) runs ONLY the
embedding-family legs — semantic dedup pairs, LSH-verified near-dup,
IVF top-k — on the numpy vector kernels. The replica generator objection above is handled
the same way the product legs handle it: the replicated corpus is
localCheckpoint-materialized BEFORE any timed leg, so generation cost
is excluded and each leg reads a flat materialized table. Claims
under test: LSH candidate volume per vector stays ~flat
(``scaled_n_planes``), semantic candidate volume stays linear in n
(``scaled_k`` holds cluster population ~constant), IVF probes a fixed
cell fraction — so every wall grows ~linearly, never n².
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from big_data_bowl___2023_spark import dedup as dd  # noqa: E402
from big_data_bowl___2023_spark.dedup.lines import (  # noqa: E402
    remove_repeated_lines,
    repeated_line_stats,
    split_lines,
)
from big_data_bowl___2023_spark.operators.heavy import (  # noqa: E402
    heavy_hitters,
)
from big_data_bowl___2023_spark.dedup.embedding import (  # noqa: E402
    _normalized,
    lsh_candidate_pairs,
    scaled_n_blocks,
    scaled_n_planes,
)
from big_data_bowl___2023_spark.session import get_spark  # noqa: E402
from big_data_bowl___2023_spark.sources.io import load_table  # noqa: E402

SCALES = (1, 4, 16)


def replicate_embeddings(emb, r: int):
    """Replica r: ids offset by r*10M, direction decorrelated by a
    deterministic murmur3-driven sign flip + additive noise per
    (id, replica, dim). Sign-flipping kills the shared-base
    correlation (E[cos] = 0 across replicas); the noise term breaks
    the residual Σx_i^2·s1·s2 walk. A first attempt used a cyclic
    mod-13 delta — its shifts are mutually correlated, which let
    cross-replica cosines stay in the near-dup band and made the TRUE
    pair population quadratic (measuring output size, not engine
    cost)."""
    if r == 0:
        return emb
    flip = (f"CASE WHEN pmod(hash(vec_id, i, {r}), 2) = 0"
            " THEN 1.0 ELSE -1.0 END")
    noise = f"(pmod(hash({r}, i, vec_id), 1997) / 1997.0 - 0.5) * 0.5"
    return (emb
            .withColumn("vec_id", F.col("vec_id") + F.lit(r * 10_000_000))
            .withColumn(
                "embedding",
                F.expr(f"transform(embedding, (x, i) -> x * {flip} + {noise})")))


def replicate_documents(docs, r: int):
    """Replica r: every token suffixed with the replica tag, so all
    shingles differ from the original's — replicas are unrelated text
    to the shingle kernel."""
    if r == 0:
        return docs
    return (docs
            .withColumn("doc_id", F.col("doc_id") + F.lit(r * 10_000_000))
            .withColumn(
                "text",
                F.array_join(
                    F.transform(F.split(F.col("text"), " "),
                                lambda w: F.concat(w, F.lit(f"_{r}"))),
                    " ")))


def scaled(base, scale: int, repl):
    out = repl(base, 0)
    for r in range(1, scale):
        out = out.unionByName(repl(base, r))
    return out


BOILER = ("subscribe to the data digest newsletter for "
          "weekly updates and offers")


def derive_multiline(docs):
    """The shared stress corpus: ' merge(_r)? ' tokens become newlines
    (organic within-replica repeats) and every doc gains ONE planted
    corpus-wide boilerplate line — the hottest possible key, global
    count = n_docs."""
    return docs.withColumn(
        "text",
        F.concat(F.regexp_replace("text", " merge(_\\d+)? ", "\n"),
                 F.lit("\n" + BOILER)))


def run_document_legs(docs_ml) -> dict:
    """Time the four document-product legs on a derived corpus and
    return their JSON fields — the ONE definition both the full run
    and --product share, so the two modes can never silently measure
    or report different things."""
    from big_data_bowl___2023_spark.operators.chunking import (
        assemble_sequences,
        sequence_manifest,
    )
    from big_data_bowl___2023_spark.pipelines.curation import (
        curation_frame,
    )

    t0 = time.time()
    n_hot = repeated_line_stats(docs_ml, min_chars=10).count()
    n_kept = remove_repeated_lines(docs_ml, min_chars=10).count()
    t_lines = time.time() - t0

    # heavy hitters over the line corpus: pass 1 absorbs the planted
    # hot key in per-partition MG summaries (no shuffle); pass 2
    # recounts candidates only — the no-full-shuffle claim.
    t0 = time.time()
    n_heavy = heavy_hitters(split_lines(docs_ml), "line",
                            0.001).count()
    t_heavy = time.time() - t0

    # packed-sequence assembly: only (id, token-count) enters the
    # per-source window; wall should track row count, not text bytes
    t0 = time.time()
    n_seq = sequence_manifest(
        assemble_sequences(docs_ml, 512, group_cols=("source",)),
        group_cols=("source",)).count()
    t_seq = time.time() - t0

    # full product composition as ONE lazy chain through the noop sink
    benchmark = (docs_ml.filter(F.col("doc_id") % 97 == 0)
                 .select(F.col("doc_id").alias("bench_id"), "text"))
    t0 = time.time()
    (curation_frame(docs_ml, benchmark=benchmark, seq_len=128,
                    shard_budget=1024, min_words=20,
                    line_dedup_min_chars=10)
     .write.format("noop").mode("overwrite").save())
    t_cur = time.time() - t0

    # mergeable-sketch legs (round 6): build wall should track rows
    # (one scan + one bounded shuffle each), probe wall should track
    # rows map-side. Bloom is sized from the corpus so fpr holds at
    # every scale; CMS width/depth and digest compression are FIXED —
    # the artifacts must stay bounded while data grows.
    from big_data_bowl___2023_spark.dedup.bloom import (
        bloom_parameters,
        bloom_summary,
        might_contain,
    )
    from big_data_bowl___2023_spark.operators.frequency import (
        cms_parameters,
        cms_summary,
    )
    from big_data_bowl___2023_spark.operators.quantiles import (
        quantile_summary,
    )

    n_docs = docs_ml.count()
    fps = docs_ml.select(F.md5("text").alias("fp"))
    bparams = bloom_parameters(max(n_docs, 1000), 0.01)
    t0 = time.time()
    bloom = bloom_summary(fps, "fp", *bparams).localCheckpoint()
    t_bloom_build = time.time() - t0
    t0 = time.time()
    n_maybe = might_contain(fps, "fp", bloom, "hit") \
        .filter(F.col("hit")).count()
    t_bloom_probe = time.time() - t0

    w, d = cms_parameters(1e-3, 0.01)
    t0 = time.time()
    n_cells = cms_summary(split_lines(docs_ml), "line", w, d).count()
    t_cms = time.time() - t0

    t0 = time.time()
    dig = quantile_summary(
        docs_ml.select("source", F.length("text").alias("len")),
        "len", group_cols=("source",))
    n_centroids = dig.select(
        F.sum(F.size("means")).alias("s")).collect()[0]["s"]
    t_digest = time.time() - t0

    # bottom-k samples: per-source uniform sample, candidate-only
    # shuffle — wall should sit on the scan + tiny-window floor at
    # any corpus size, output bounded at k rows per source
    from big_data_bowl___2023_spark.operators.bottomk import (
        bottomk_summary,
    )

    t0 = time.time()
    n_sample = bottomk_summary(docs_ml, "doc_id", 100,
                               group_cols=("source",)).count()
    t_bottomk = time.time() - t0

    return {
        "repeated_lines": n_hot, "line_docs_out": n_kept,
        "line_dedup_sec": round(t_lines, 2),
        "heavy_keys": n_heavy, "heavy_sec": round(t_heavy, 2),
        "sequences": n_seq, "seq_assembly_sec": round(t_seq, 2),
        "curation_sec": round(t_cur, 2),
        "bloom_bits": bparams.num_bits, "bloom_hits": n_maybe,
        "bloom_build_sec": round(t_bloom_build, 2),
        "bloom_probe_sec": round(t_bloom_probe, 2),
        "cms_cells": n_cells, "cms_sec": round(t_cms, 2),
        "tdigest_centroids": int(n_centroids),
        "tdigest_sec": round(t_digest, 2),
        "bottomk_rows": n_sample,
        "bottomk_sec": round(t_bottomk, 2),
    }


def vector_legs(emb0, scales) -> None:
    """Embedding-family legs at the requested scales (numpy vector
    kernels). Each scale point prints one JSON line: corpus size, LSH
    candidate volume (the flat-per-vector claim), verified near-dup
    pairs + wall, semantic pairs + wall (incl. the driver Lloyd
    trainer), and IVF top-k wall for a fixed 64-query batch."""
    from big_data_bowl___2023_spark.dedup.semantic import (
        scaled_k,
        semantic_dup_pairs,
    )
    from big_data_bowl___2023_spark.similarity.ann import ivf_topk

    queries = emb0.limit(64).localCheckpoint()
    for scale in scales:
        emb = scaled(emb0, scale, replicate_embeddings).localCheckpoint()
        n = emb.count()

        v = _normalized(emb, "embedding", "vec_id").localCheckpoint()
        planes = scaled_n_planes(n, 32)
        t0 = time.time()
        n_cand = lsh_candidate_pairs(v, 64, 16, planes).count()
        t_cand = time.time() - t0

        # threshold 0.8 = tail regime (see main()): TRUE pair volume
        # of a self-similar corpus at bulk thresholds grows ~n² — an
        # output property, not engine cost.
        t0 = time.time()
        n_lsh = dd.cosine_near_dup_pairs_lsh(
            emb, 0.8, n_tables=16, max_bucket=100_000).count()
        t_lsh = time.time() - t0

        t0 = time.time()
        n_sem = semantic_dup_pairs(
            emb, 0.8, dim=64, n=n, max_bucket=100_000).count()
        t_sem = time.time() - t0

        t0 = time.time()
        n_ivf = ivf_topk(emb, queries, 10, n_planes=6).count()
        t_ivf = time.time() - t0

        print(json.dumps({
            "scale": scale, "n_emb": n,
            "n_planes": planes, "k_clusters": scaled_k(n),
            "lsh_candidates": n_cand,
            "cand_per_vec": round(n_cand / n, 2),
            "lsh_candidates_sec": round(t_cand, 2),
            "lsh_pairs": n_lsh, "lsh_sec": round(t_lsh, 2),
            "semantic_pairs": n_sem, "semantic_sec": round(t_sem, 2),
            "ivf_rows": n_ivf, "ivf_sec": round(t_ivf, 2),
        }), flush=True)


def index_legs(spark, emb0, scales) -> None:
    """Persistent-ANN-index legs (E111/E115): at each scale, build a
    float index and a quantized index over the replicated corpus,
    then time a fixed 64-query batch through (a) on-the-fly
    `ivf_topk`, (b) `ann_index_search` (pruned scan of the stored
    layout), (c) `ann_index_search_quantized` (int8 screen + exact
    rerank). Claims under test: build wall ~linear in n; search walls
    track the PROBED fraction (flat-ish cell fan-in per query), not
    n, and never re-hash the corpus like (a) must."""
    import shutil
    import tempfile

    from big_data_bowl___2023_spark.similarity import (
        ann_index_search,
        ann_index_search_quantized,
        build_ann_index,
        ivf_topk,
    )

    queries = emb0.limit(64).localCheckpoint()
    for scale in scales:
        emb = scaled(emb0, scale, replicate_embeddings) \
            .localCheckpoint()
        n = emb.count()
        work = tempfile.mkdtemp(prefix="annidx_")
        try:
            t0 = time.time()
            n_fly = ivf_topk(emb, queries, 10).count()
            t_fly = time.time() - t0

            t0 = time.time()
            build_ann_index(emb, f"{work}/f")
            t_build = time.time() - t0
            t0 = time.time()
            n_idx = ann_index_search(spark, f"{work}/f", queries,
                                     10).count()
            t_idx = time.time() - t0

            t0 = time.time()
            build_ann_index(emb, f"{work}/q", quantize=True)
            t_qbuild = time.time() - t0
            t0 = time.time()
            n_q = ann_index_search_quantized(
                spark, f"{work}/q", queries, 10).count()
            t_q = time.time() - t0
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({
            "scale": scale, "n_emb": n,
            "ivf_fly_rows": n_fly, "ivf_fly_sec": round(t_fly, 2),
            "index_build_sec": round(t_build, 2),
            "index_search_rows": n_idx,
            "index_search_sec": round(t_idx, 2),
            "qindex_build_sec": round(t_qbuild, 2),
            "qindex_search_rows": n_q,
            "qindex_search_sec": round(t_q, 2),
        }), flush=True)


def media_legs(spark, docs0, scales) -> None:
    """Multimodal-pass legs (E9+): at each scale, derive the media
    table from the replicated documents (text bytes as payloads —
    the stub tier, which is the WORST case for the Arrow boundary:
    every payload byte rides the transfer, nothing short-circuits),
    plus a fixed slice of real BMP/WAV/Y4M payloads so the real
    codec tiers are timed in the same sweep. Claims under test: all
    four passes are map-side (no shuffle — wall ~linear in rows),
    and the Arrow batch transfer, not decode arithmetic, dominates."""
    import numpy as np

    from big_data_bowl___2023_spark.multimodal import codecs
    from big_data_bowl___2023_spark.multimodal.binary_ops import (
        decode_media,
        extract_features,
        frame_sample,
        media_from_documents,
        resize_media,
    )

    img = np.arange(64 * 48 * 3, dtype=np.uint64).astype(np.uint8) \
        .reshape(48, 64, 3)
    clip = (np.arange(8 * 24 * 32, dtype=np.uint64) % 251) \
        .astype(np.uint8).reshape(8, 24, 32)
    t = np.arange(8000) / 8000.0
    tone = np.stack([np.sin(2 * np.pi * 440 * t)], axis=1)
    real_rows = [(10_000_000 + i, mod, bytearray(payload), "real", 0)
                 for i, (mod, payload) in enumerate(
                     [("image", codecs.make_bmp(img)),
                      ("image", codecs.make_png(img)),
                      ("audio", codecs.make_wav(tone, 8000)),
                      ("video", codecs.make_y4m(clip))] * 64)]
    real = spark.createDataFrame(
        real_rows, "media_id long, modality string, data binary, "
                   "source string, n_bytes long")

    for scale in scales:
        docs = scaled(docs0, scale, replicate_documents) \
            .localCheckpoint()
        media = media_from_documents(docs).unionByName(real) \
            .localCheckpoint()
        n = media.count()

        t0 = time.time()
        dec = decode_media(media)
        by_decoder = {r["decoder"]: r["count"] for r in
                      dec.groupBy("decoder").count().collect()}
        t_dec = time.time() - t0

        t0 = time.time()
        n_feat = extract_features(media).count()
        t_feat = time.time() - t0

        t0 = time.time()
        n_rez = resize_media(media, max_side=32).count()
        t_rez = time.time() - t0

        t0 = time.time()
        n_frames = frame_sample(media, max_frames=4).count()
        t_frames = time.time() - t0

        print(json.dumps({
            "scale": scale, "n_media": n,
            "decode_sec": round(t_dec, 2), "by_decoder": by_decoder,
            "features_sec": round(t_feat, 2), "n_features": n_feat,
            "resize_sec": round(t_rez, 2), "n_resized": n_rez,
            "frame_sample_sec": round(t_frames, 2),
            "n_frames": n_frames,
        }), flush=True)


def codec_floor_legs() -> None:
    """Pure-python codec throughput floor (verdict r13 #6): decode
    MB/s (compressed payload bytes) and Mpix/s for baseline JPEG,
    progressive JPEG, PNG, and GIF at realistic payload sizes —
    single-core direct calls, no Spark, because the number wanted is
    the per-core floor that sizes a PIL-less cluster. PIL itself is
    absent in this container (binary_ops tries it first in
    deployment), so the record is the fallback tier's floor and the
    'require PIL/turbojpeg beyond X' threshold derives from it:
    GB/day/core = MB/s × 86400 / 1024."""
    import numpy as np

    from big_data_bowl___2023_spark.multimodal import codecs, gif, jpeg

    def textured(h, w):
        """Gradient + deterministic texture: compresses like a real
        photo (pure noise defeats JPEG entirely; flat fields are
        unrealistically cheap for GIF LZW)."""
        y = np.arange(h).reshape(h, 1)
        x = np.arange(w).reshape(1, w)
        base = (y * 3 + x * 2) % 256
        tex = ((y * 7919 + x * 104729) % 31)
        rgb = np.stack([(base + tex) % 256,
                        (base + 2 * tex + 85) % 256,
                        (base + 3 * tex + 170) % 256], axis=2)
        return rgb.astype(np.uint8)

    shapes = [("0.4MP", 512, 768), ("0.8MP", 768, 1024)]
    for label, h, w in shapes:
        img = textured(h, w)
        mpix = h * w / 1e6
        cases = [
            ("jpeg-baseline", jpeg.make_jpeg(img, quant="annex-k"),
             jpeg.decode_jpeg),
            ("jpeg-progressive",
             jpeg.make_jpeg(img, quant="annex-k", progressive=True),
             jpeg.decode_jpeg),
            ("png", codecs.make_png(img), codecs.decode),
            ("gif", gif.make_gif((img // 32) * 32), gif.decode_gif),
        ]
        for name, payload, decode_fn in cases:
            decode_fn(payload)                  # warm (numpy caches)
            reps, t0 = 0, time.time()
            while reps < 3 and time.time() - t0 < 60:
                decode_fn(payload)
                reps += 1
            wall = (time.time() - t0) / reps
            mb = len(payload) / (1 << 20)
            print(json.dumps({
                "codec": name, "image": label,
                "payload_mb": round(mb, 2),
                "decode_sec": round(wall, 2),
                "payload_mb_s": round(mb / wall, 3),
                "mpix_s": round(mpix / wall, 3),
                "gb_day_core": round(mb / wall * 86400 / 1024, 1),
            }), flush=True)


def stream_ingest_legs(spark, docs0, scales) -> None:
    """Streaming curation-ingest scale legs (verdict r13 #3): the
    real ``make_curation_ingest_batch_fn`` loop — lease, commit
    gates, against-history anti-join, curated/index
    appends — run at growing corpus scales with a FIXED batch count
    (4), i.e. growing batch size, which is how a 100 TB backfill
    actually shapes its micro-batches. Per scale and per mode
    (audit lineage off/on) the leg records wall PER BATCH, then
    measures the state tree: curated bytes, fingerprint-index bytes,
    audit-lineage bytes, and the number BASELINE.md says is the one
    to watch at 100 TB — ``lineage_amplification`` = audit bytes /
    curated bytes. Claims under test: per-batch wall grows ~linearly
    with batch size (no against-history blowup as the index grows),
    and the amplification ratio is a stable constant, so the audit
    feature's storage cost at 100 TB is curated-size × ratio, not a
    surprise."""
    import os
    import shutil
    import tempfile

    from big_data_bowl___2023_spark.streaming.curation import (
        make_curation_ingest_batch_fn,
        read_curated,
    )

    def tree_bytes(path: str) -> int:
        total = 0
        for root, _dirs, names in os.walk(path):
            for nm in names:
                try:
                    total += os.path.getsize(os.path.join(root, nm))
                except OSError:
                    pass
        return total

    n_batches = 4
    for scale in scales:
        docs = (scaled(docs0, scale, replicate_documents)
                .withColumn("text",
                            F.regexp_replace("text",
                                             " merge(_\\d+)? ", "\n"))
                .select("doc_id", "text", "source")
                .localCheckpoint())
        n_docs = docs.count()
        benchmark = (docs.filter(F.col("doc_id") % 97 == 0)
                     .select(F.col("doc_id").alias("bench_id"),
                             "text").localCheckpoint())
        out = {"scale": scale, "n_docs": n_docs,
               "n_batches": n_batches}
        for mode in ("plain", "audit"):
            base = tempfile.mkdtemp(
                prefix=f"stress_ingest_{mode}_{scale}_")
            try:
                fn = make_curation_ingest_batch_fn(
                    f"{base}/curated", f"{base}/fps",
                    benchmark=benchmark, min_words=20,
                    audit_dir=(f"{base}/audit" if mode == "audit"
                               else None))
                batch_secs = []
                for b in range(n_batches):
                    t0 = time.time()
                    fn(docs.filter(F.col("doc_id") % n_batches == b),
                       b)
                    batch_secs.append(round(time.time() - t0, 2))
                n_curated = read_curated(
                    spark, f"{base}/curated").count()
                curated_b = tree_bytes(f"{base}/curated")
                index_b = tree_bytes(f"{base}/fps")
                out[f"batch_secs_{mode}"] = batch_secs
                if mode == "plain":
                    out["n_curated"] = n_curated
                    out["curated_bytes"] = curated_b
                    out["index_bytes"] = index_b
                else:
                    audit_b = tree_bytes(f"{base}/audit")
                    out["audit_bytes"] = audit_b
                    out["lineage_amplification"] = round(
                        audit_b / max(curated_b, 1), 3)
            finally:
                shutil.rmtree(base, ignore_errors=True)
        print(json.dumps(out), flush=True)


def media_mix_legs(spark, scales) -> None:
    """Mixed-payload attribution legs (verdict r12 #6): a GENERATED
    corpus with known per-tier proportions — baseline JPEG,
    progressive JPEG, PNG, BMP, GIF, WAV, Y4M, the r14 container
    metadata tiers (MP4 video, M4A audio, MP3, FLAC) and
    unclassifiable junk — pushed through the binaryFile bridge (magic-byte modality
    inference) and all four media passes. The correctness claim of
    the media family is the attribution contract: WHICH tier
    actually ran. Each leg asserts the decode pass's decoder
    histogram matches the generation mix EXACTLY at that scale
    (r12 asserted it only at a fixed 256-record slice) while timing
    the passes. All payloads are served under a neutral ``.bin``
    name so the magic bytes, not extensions, carry classification;
    the junk rows prove the unknown path (bridge → modality
    'unknown' → 'unknown-stub', never a fake image profile)."""
    import numpy as np

    from big_data_bowl___2023_spark.multimodal import (codecs,
                                                       containers, jpeg)
    from big_data_bowl___2023_spark.multimodal.binary_ops import (
        decode_media,
        extract_features,
        frame_sample,
        media_from_binary_files,
        resize_media,
    )

    # payloads sized so the pure-python JPEG/PNG tier (the decode
    # floor) keeps the 64x leg in minutes, not hours: the leg's
    # claims are attribution exactness + ~linear walls, not absolute
    # decode throughput (the --media legs time bigger payloads)
    img = (np.arange(16 * 24 * 3, dtype=np.uint64) % 256) \
        .astype(np.uint8).reshape(16, 24, 3)
    clip = (np.arange(4 * 16 * 16, dtype=np.uint64) % 251) \
        .astype(np.uint8).reshape(4, 16, 16)
    t = np.arange(2000) / 2000.0
    tone = np.stack([np.sin(2 * np.pi * 440 * t)], axis=1)
    base_jpeg = jpeg.make_jpeg(img)
    prog_jpeg = jpeg.make_jpeg(img, progressive=True)
    sof_at = base_jpeg.index(b"\xff\xc0")
    arith_jpeg = base_jpeg[:sof_at + 1] + b"\xc9" \
        + base_jpeg[sof_at + 2:]             # arithmetic: dims tier
    from big_data_bowl___2023_spark.multimodal import gif as gifmod
    real_gif = gifmod.make_gif((img // 32) * 32)   # <=256 colors
    gif_hdr = (b"GIF89a" + (24).to_bytes(2, "little")
               + (16).to_bytes(2, "little") + b"\x00\x00\x00")
    junk = b"\x00PDF-ish junk the bridge cannot classify" * 16
    # template mix -> expected decoder attribution (baseline AND
    # progressive JPEG decode for real; arithmetic JPEG, frame-less
    # GIF and the MP4/MP3/FLAC container walkers represent the
    # metadata tiers)
    templates = (
        [("png", codecs.make_png(img))] * 2
        + [("bmp", codecs.make_bmp(img))] * 2
        + [("jpeg", base_jpeg)] * 2
        + [("jpeg", prog_jpeg)] * 2
        + [("jpeg-dims", arith_jpeg)] * 1
        + [("gif", real_gif)] * 2
        + [("gif-dims", gif_hdr)] * 1
        + [("wav", codecs.make_wav(tone, 8000))] * 2
        + [("y4m", codecs.make_y4m(clip))] * 1
        + [("mp4-dims", containers.make_mp4(5.0, 600, 320, 240))] * 1
        + [("mp4-dims", containers.make_mp4(2.0, 8000, audio=True,
                                            brand=b"M4A "))] * 1
        + [("mp3-dims", containers.make_mp3(4, xing=True,
                                            id3_bytes=32))] * 1
        + [("flac-dims", containers.make_flac(80000, 8000, 1))] * 1
        + [("ogg-dims", containers.make_ogg("opus", 48000, 1,
                                            48000))] * 1
        + [("avi-dims", containers.make_avi(160, 120, 50))] * 1
        + [("heif-dims", containers.make_heif(64, 48))] * 1
        + [("avif-dims", containers.make_heif(32, 32,
                                              brand=b"avif"))] * 1
        + [("tiff-dims", b"II*\x00\x08\x00\x00\x00\x02\x00"
            + b"\x00\x01\x03\x00\x01\x00\x00\x00\x40\x00\x00\x00"
            + b"\x01\x01\x03\x00\x01\x00\x00\x00\x30\x00\x00\x00"
            + b"\x00\x00\x00\x00")] * 1
        + [("mkv-dims", containers.make_mkv("webm", 320, 240,
                                            4.0))] * 1
        + [("pdf-meta", b"%PDF-1.6\n1 0 obj << /Type /Page >>\n"
            b"2 0 obj << /Type/Page >>\ntrailer %%EOF")] * 1
        + [("unknown-stub", junk)] * 1)
    per_16 = {}
    for tier, _ in templates:
        per_16[tier] = per_16.get(tier, 0) + 1

    for scale in scales:
        rows = [(f"/bucket/{i}-{r}.bin", 0, len(payload),
                 bytearray(payload))
                for i, (_tier, payload) in enumerate(templates)
                for r in range(64 * scale)]
        files = spark.createDataFrame(
            rows, "path string, modificationTime long, "
                  "length long, content binary") \
            .repartition(spark.sparkContext.defaultParallelism)
        media = media_from_binary_files(files).localCheckpoint()
        n = media.count()
        by_modality = {r["modality"]: r["count"] for r in
                       media.groupBy("modality").count().collect()}

        t0 = time.time()
        by_decoder = {r["decoder"]: r["count"] for r in
                      decode_media(media)
                      .groupBy("decoder").count().collect()}
        t_dec = time.time() - t0
        expected = {tier: cnt * 64 * scale
                    for tier, cnt in per_16.items()}
        if by_decoder != expected:
            raise SystemExit(
                f"attribution mismatch at scale {scale}: "
                f"{by_decoder} != {expected}")

        t0 = time.time()
        n_feat = extract_features(media).count()
        t_feat = time.time() - t0
        t0 = time.time()
        n_rez = resize_media(media, max_side=32).count()
        t_rez = time.time() - t0
        t0 = time.time()
        n_frames = frame_sample(media, max_frames=4).count()
        t_frames = time.time() - t0

        print(json.dumps({
            "scale": scale, "n_media": n,
            "by_modality": by_modality,
            "attribution_exact": True, "by_decoder": by_decoder,
            "decode_sec": round(t_dec, 2),
            "features_sec": round(t_feat, 2), "n_features": n_feat,
            "resize_sec": round(t_rez, 2), "n_resized": n_rez,
            "frame_sample_sec": round(t_frames, 2),
            "n_frames": n_frames,
        }), flush=True)


def marker_legs(spark, emb0, scales) -> None:
    """Delete-marker search path at scale. At each scale: build a
    float index, time a 64-query search with no markers, with 1k
    markers and with ~110k markers — cold (the first search pins the
    marker snapshot) and warm (the cached snapshot is reused) — then
    time `compact_index` applying the markers physically and a
    post-compaction search. Claims under test: markers cost one pin
    per marker-dir state, not one job per search, and compaction
    returns search to the no-marker floor."""
    import shutil
    import tempfile

    from big_data_bowl___2023_spark.similarity import (
        ann_index_search,
        build_ann_index,
        delete_from_index,
    )
    from big_data_bowl___2023_spark.streaming.ann_index_stream import (
        compact_index,
    )

    queries = emb0.limit(64).localCheckpoint()

    def timed_search(work):
        t0 = time.time()
        n = ann_index_search(spark, f"{work}/f", queries, 10).count()
        return time.time() - t0, n

    for scale in scales:
        emb = scaled(emb0, scale, replicate_embeddings) \
            .localCheckpoint()
        n = emb.count()
        all_ids = emb.select("vec_id").distinct().localCheckpoint()
        work = tempfile.mkdtemp(prefix="annmark_")
        try:
            build_ann_index(emb, f"{work}/f")
            t_none, rows_none = timed_search(work)

            delete_from_index(spark, f"{work}/f", all_ids.limit(1_000))
            t_1k_cold, _ = timed_search(work)
            t_1k_warm, _ = timed_search(work)

            n_many = min(110_000, n - 1_000)
            delete_from_index(spark, f"{work}/f", all_ids.limit(n_many))
            t_many_cold, rows_many = timed_search(work)
            t_many_warm, _ = timed_search(work)

            t0 = time.time()
            compact_index(spark, f"{work}/f")
            t_compact = time.time() - t0
            t_after, rows_after = timed_search(work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({
            "scale": scale, "n_emb": n,
            "search_rows": rows_none,
            "no_marker_sec": round(t_none, 2),
            "markers_1k_cold_sec": round(t_1k_cold, 2),
            "markers_1k_warm_sec": round(t_1k_warm, 2),
            "n_markers": n_many,
            "markers_cold_sec": round(t_many_cold, 2),
            "markers_warm_sec": round(t_many_warm, 2),
            "markers_rows": rows_many,
            "compact_apply_sec": round(t_compact, 2),
            "post_compact_sec": round(t_after, 2),
            "post_compact_rows": rows_after,
        }), flush=True)


def quant_crossover_legs(spark, dims) -> None:
    """Quantized-tier crossover measurement (VERDICT r14 #5): the
    int8 screen's payoff regime ("byte-bound scans, ≳1M × ≳256 d")
    was asserted from the 64×/64-dim leg, never measured at high
    dims — this leg measures it. SYNTHETIC and sf-independent: a
    deterministic pseudo-random corpus (xxhash64-derived uniform
    components, full-rank — a low-rank construction would collapse
    the cell layout) at n ∈ {32768, 131072} × the given dims
    (default 64/256/512), a persistent float and quantized index per
    point, then cold + warm-median-of-3 of `ann_index_search`
    vs `ann_index_search_quantized` (int8 screen) over the same 16
    queries. One JSON line per point with
    the probed-corpus bytes and the quant/float warm ratio; the
    crossover is the first point where the ratio drops below 1.
    The measured conclusion is stated in the
    `ann_index_search_quantized` docstring."""
    import shutil
    import statistics
    import tempfile

    from big_data_bowl___2023_spark.similarity import (
        ann_index_search,
        ann_index_search_quantized,
        build_ann_index,
    )

    for d in dims:
        for n in (32768, 131072):
            vecs = (spark.range(n)
                    .select(F.col("id").alias("vec_id"),
                            F.transform(
                                F.sequence(F.lit(0), F.lit(d - 1)),
                                lambda i: (F.abs(F.xxhash64(
                                    F.col("id"), i)) % 10007)
                                / 10007.0 - 0.5)
                            .alias("embedding"))
                    .repartition(32)).localCheckpoint()
            queries = vecs.limit(16).localCheckpoint()
            work = tempfile.mkdtemp(prefix="qxover_")
            rec = {"n": n, "dim": d,
                   "corpus_mib": round(n * d * 8 / 2**20, 1)}
            try:
                t0 = time.time()
                build_ann_index(vecs, f"{work}/f", dim=d,
                                warn_skew=False)
                rec["build_float_sec"] = round(time.time() - t0, 2)
                t0 = time.time()
                build_ann_index(vecs, f"{work}/q", dim=d,
                                quantize=True, warn_skew=False)
                rec["build_quant_sec"] = round(time.time() - t0, 2)
                for tier in ("float", "quant"):
                    def search():
                        if tier == "float":
                            return ann_index_search(
                                spark, f"{work}/f", queries, 10)
                        return ann_index_search_quantized(
                            spark, f"{work}/q", queries, 10)
                    t0 = time.time()
                    search().count()
                    rec[f"{tier}_cold_sec"] = round(
                        time.time() - t0, 2)
                    warm = []
                    for _ in range(3):
                        t0 = time.time()
                        search().count()
                        warm.append(time.time() - t0)
                    rec[f"{tier}_warm_sec"] = round(
                        statistics.median(warm), 2)
                rec["quant_over_float_warm"] = round(
                    rec["quant_warm_sec"]
                    / max(rec["float_warm_sec"], 1e-9), 3)
            finally:
                shutil.rmtree(work, ignore_errors=True)
            print(json.dumps({"stress": "quant_crossover", **rec}),
                  flush=True)


def hybrid_legs(spark, docs0, emb0, scales) -> None:
    """Hybrid-serving legs (VERDICT r10 #5): the bench's
    `hybrid_index_topk` extra runs the FLOAT tier at a 2k-vector
    corpus where the quantized tier's second scan is pure overhead —
    this leg gives the SERVING shape (warm `hybrid_topk` over a
    persistent index) a scale number for both tiers, so the
    int8-screen payoff claim rests on measurements, not the 64×
    pure-index leg alone.

    Corpus: embeddings joined to documents on id (text for the BM25
    leg, vector for the dense leg), replicated with BOTH the
    vector perturbation and the token re-suffixing, then
    localCheckpoint'd; a fixed 16-query batch. Per scale × tier:
    cold shot (first call pays planning + index meta reads) then
    median of 3 warm shots — the serving number. The pure dense legs
    (`ann_index_search[_quantized]`, same queries) are timed too:
    the tier crossover lives in the dense leg; the BM25 leg is
    tier-independent corpus-sized work that dilutes it."""
    import shutil
    import statistics
    import tempfile

    from big_data_bowl___2023_spark.similarity import (
        ann_index_search,
        ann_index_search_quantized,
        build_ann_index,
    )
    from big_data_bowl___2023_spark.similarity.fusion import (
        hybrid_topk,
    )

    base = (emb0.join(
        docs0.select(F.col("doc_id").alias("vec_id"), "text"),
        "vec_id"))

    def repl(b, r):
        out = replicate_embeddings(b, r)
        if r == 0:
            return out
        return out.withColumn(
            "text",
            F.array_join(
                F.transform(F.split(F.col("text"), " "),
                            lambda w: F.concat(w, F.lit(f"_{r}"))),
                " "))

    for scale in scales:
        corpus = scaled(base, scale, repl) \
            .withColumnRenamed("vec_id", "doc_id").localCheckpoint()
        n = corpus.count()
        queries = (corpus.limit(16)
                   .select(F.col("doc_id").alias("query_id"),
                           F.col("text").alias("query_text"),
                           "embedding").localCheckpoint())
        work = tempfile.mkdtemp(prefix="hybidx_")
        rec = {"scale": scale, "n_corpus": n}
        try:
            build_ann_index(corpus, f"{work}/f", id_col="doc_id")
            build_ann_index(corpus, f"{work}/q", id_col="doc_id",
                            quantize=True)
            for tier, dense, idx in (("float", "index", "f"),
                                     ("quant", "index_quantized",
                                      "q")):
                if tier == "float":
                    def search(q):
                        return ann_index_search(
                            spark, f"{work}/f", q, 10,
                            id_col="query_id")
                else:
                    def search(q):
                        return ann_index_search_quantized(
                            spark, f"{work}/q", q, 10,
                            id_col="query_id")
                t0 = time.time()
                search(queries).count()
                rec[f"dense_{tier}_cold_sec"] = round(
                    time.time() - t0, 2)
                warm = []
                for _ in range(3):
                    t0 = time.time()
                    search(queries).count()
                    warm.append(time.time() - t0)
                rec[f"dense_{tier}_warm_sec"] = round(
                    statistics.median(warm), 2)

                def hyb():
                    return hybrid_topk(
                        corpus, queries, k=10, dense=dense,
                        index_dir=f"{work}/{idx}").count()

                t0 = time.time()
                hyb()
                rec[f"hybrid_{tier}_cold_sec"] = round(
                    time.time() - t0, 2)
                warm = []
                for _ in range(3):
                    t0 = time.time()
                    hyb()
                    warm.append(time.time() - t0)
                rec[f"hybrid_{tier}_warm_sec"] = round(
                    statistics.median(warm), 2)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(rec), flush=True)


def product_legs(spark, docs0, scales) -> None:
    """Document-product legs only at the requested scales — the 64x
    evidence run (embedding legs excluded: see module docstring)."""
    for scale in scales:
        docs = scaled(docs0, scale, replicate_documents) \
            .localCheckpoint()
        n_docs = docs.count()
        legs = run_document_legs(derive_multiline(docs))
        print(json.dumps({"scale": scale, "n_docs": n_docs, **legs}),
              flush=True)


def substring_legs(spark, docs0, scales) -> None:
    """ExactSubstr doubling evidence (E110): the derived corpus gives
    every doc the planted corpus-wide boilerplate line — at scale S
    that is ONE gram family with 5000·S occurrences, the hottest
    possible key — plus organic within-replica repeats. Wall should
    track token count (map-side gram hashing + partial-aggregated
    min/count — no per-hash window), and the removal interval volume
    should track n_docs (each doc loses its boiler copy except the
    canonical's)."""
    from big_data_bowl___2023_spark.dedup.substrings import (
        repeated_substring_spans,
        scrub_repeated_substrings,
    )

    for scale in scales:
        docs = scaled(docs0, scale, replicate_documents) \
            .localCheckpoint()
        n_docs = docs.count()
        corpus = derive_multiline(docs)
        t0 = time.time()
        n_spans = repeated_substring_spans(corpus, 8).count()
        t_spans = time.time() - t0
        t0 = time.time()
        out = scrub_repeated_substrings(corpus, 8)
        n_tokens_out = out.select(
            F.sum(F.size(F.split(F.trim("text"), r"\s+")))
             .alias("t")).collect()[0]["t"]
        t_scrub = time.time() - t0
        print(json.dumps({
            "scale": scale, "n_docs": n_docs,
            "substr_spans": n_spans,
            "substr_spans_sec": round(t_spans, 2),
            "tokens_out": int(n_tokens_out),
            "substr_scrub_sec": round(t_scrub, 2)}), flush=True)


def bpe_legs(spark, docs0, scales) -> None:
    """BPE scaling evidence (E104, VERDICT r9 #7). Claims under test:
    the word-TYPE counting pass is the only corpus-sized stage (wall
    ~linear in tokens); training is corpus-size-INDEPENDENT once the
    ``max_types`` cap bites (the driver merge loop sees at most
    max_types rows — the leg uses a deliberately small cap so the
    synthetic vocabulary exceeds it inside the sweep); apply is one
    map-side Arrow pass whose per-TASK word memo (`bpe.MEMO_CAP`,
    falls back to recomputation when full) keeps executor memory
    bounded — wall must stay ~linear, not blow up, past the cap.

    Corpus: replicas are id-offset copies of the base docs (NO
    per-replica token suffix — the doc-id suffix below already makes
    replicas distinct, and offset ids are all 8 digits so word length
    does not grow with scale, a confound the first cut of this leg
    had), then every token is suffixed with its doc id — the testdata
    vocabulary is ~31 words, far too small for any cap to bite raw.
    Distinct types ≈ 31 × n_docs. The memo is PER TASK, so the
    number that decides overflow is the max per-PARTITION distinct
    word count, which this leg MEASURES (approx_count_distinct by
    spark_partition_id — a review finding: the first cut compared
    the GLOBAL type count against the per-task cap and claimed a
    fallback that never ran). The corpus is repartition(16)-ed
    (a real shuffle — coalesce cannot SPLIT the base table's few
    parent partitions, so per-partition cardinality would stay flat
    at ~one replica's vocabulary) so per-partition cardinality grows
    with scale: ≈ 31·n_docs/16, crossing MEMO_CAP=500k at 64×."""
    from big_data_bowl___2023_spark.functions.bpe import (
        MEMO_CAP,
        apply_bpe,
        train_bpe,
        word_frequencies,
    )

    max_types = 200_000
    for scale in scales:
        reps = [docs0.select(
                    (F.col("doc_id") + 10_000_000 * (r + 1))
                    .alias("doc_id"), "text")
                for r in range(scale)]
        docs = reps[0]
        for rdf in reps[1:]:
            docs = docs.unionByName(rdf)
        docs = docs.select(
            "doc_id",
            F.concat_ws(" ", F.transform(
                F.split(F.trim("text"), r"\s+"),
                lambda w: F.concat(w, F.lit("_"),
                                   F.col("doc_id").cast("string"))))
            .alias("text")).repartition(16).localCheckpoint()
        n_docs = docs.count()
        max_part_types = (docs.select(
            F.spark_partition_id().alias("p"),
            F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
            .groupBy("p")
            .agg(F.approx_count_distinct("w").alias("d"))
            .agg(F.max("d").alias("m")).collect()[0]["m"])
        t0 = time.time()
        wf = word_frequencies(docs).localCheckpoint()
        n_types = wf.count()
        t_wf = time.time() - t0
        t0 = time.time()
        merges = train_bpe(wf, num_merges=60, max_types=max_types)
        n_merges = merges.count()
        t_train = time.time() - t0
        t0 = time.time()
        n_tokens = apply_bpe(docs, merges).select(
            F.sum(F.size("bpe_tokens")).alias("t")).collect()[0]["t"]
        t_apply = time.time() - t0
        print(json.dumps({
            "scale": scale, "n_docs": n_docs,
            "distinct_types": n_types,
            "types_capped": n_types > max_types,
            "max_types": max_types,
            "max_partition_types": int(max_part_types),
            "memo_cap_exceeded": int(max_part_types) > MEMO_CAP,
            "word_freq_sec": round(t_wf, 2),
            "n_merges": n_merges,
            "train_sec": round(t_train, 2),
            "tokens_out": int(n_tokens),
            "apply_sec": round(t_apply, 2)}), flush=True)


def colloc_legs(spark, docs0, scales) -> None:
    """Collocations scaling evidence (E119, VERDICT r10 #4). The
    bigram-formation scan is a ``zip_with`` higher-order fold —
    CodegenFallback-INTERPRETED per row, the family's twice-measured
    perf trap — and it is corpus-sized, so the claim "fine at sf0.1"
    needs a slope. Three bigram-formation strategies over the SAME
    replicated corpus, identical pair counts asserted:

    * ``zip`` — the shipped map-side ``zip_with`` scan;
    * ``post`` — exploded postings self-joined on (doc_id, pos+1):
      the plan the module rejected in-build (a corpus-positional
      shuffle join); timed to keep the rejection honest;
    * ``arrow`` — a mapInPandas kernel (python ``str.split`` — the
      exact ``norm_tokens`` convention — emitting pair rows), the
      family's escape hatch if the interpreted fold dominates.

    Plus the full ``collocations()`` end-to-end wall. One JSON line
    per scale."""
    from big_data_bowl___2023_spark.operators.collocations import (
        bigram_counts,
        collocations,
    )

    def arrow_bigrams(docs):
        import pandas as pd

        def gen(batches):
            for pdf in batches:
                lefts, rights = [], []
                for t in pdf["text"]:
                    words = (t or "").lower().split()
                    lefts.extend(words[:-1])
                    rights.extend(words[1:])
                yield pd.DataFrame({"left": lefts, "right": rights})

        return (docs.select("text")
                .mapInPandas(gen, "left string, right string")
                .groupBy("left", "right")
                .agg(F.count(F.lit(1)).alias("n")))

    def posting_bigrams(docs):
        tok = docs.select(
            "doc_id",
            F.posexplode(
                F.filter(F.split(F.regexp_replace(
                    F.trim(F.lower("text")), r"\s+", " "), " "),
                    lambda t: t != ""))
            .alias("pos", "word"))
        a = tok.select("doc_id", "pos", F.col("word").alias("left"))
        b = tok.select("doc_id",
                       (F.col("pos") - 1).alias("pos"),
                       F.col("word").alias("right"))
        return (a.join(b, ["doc_id", "pos"])
                .groupBy("left", "right")
                .agg(F.count(F.lit(1)).alias("n")))

    for scale in scales:
        docs = scaled(docs0, scale, replicate_documents) \
            .localCheckpoint()
        n_docs = docs.count()
        t0 = time.time()
        n_zip = bigram_counts(docs).count()
        t_zip = time.time() - t0
        t0 = time.time()
        n_arrow = arrow_bigrams(docs).count()
        t_arrow = time.time() - t0
        t0 = time.time()
        n_post = posting_bigrams(docs).count()
        t_post = time.time() - t0
        assert n_zip == n_arrow == n_post, \
            (n_zip, n_arrow, n_post)
        t0 = time.time()
        n_coll = collocations(docs, min_count=5, metric="npmi").count()
        t_full = time.time() - t0
        print(json.dumps({
            "scale": scale, "n_docs": n_docs,
            "distinct_bigrams": n_zip,
            "bigram_zipwith_sec": round(t_zip, 2),
            "bigram_arrow_sec": round(t_arrow, 2),
            "bigram_postings_sec": round(t_post, 2),
            "collocations_rows": n_coll,
            "collocations_sec": round(t_full, 2)}), flush=True)


def main() -> None:
    # position-independent parsing: integer args are --product scales,
    # the (single) non-integer non-flag arg is sf_dir — so
    # `--product 16 64 /data/sf0.1` and `/data/sf0.1 --product 16`
    # both mean what they say instead of crashing on int(sf_dir)
    import re

    argv = sys.argv[1:]
    want_product = "--product" in argv
    want_vector = "--vector" in argv
    want_substr = "--substr" in argv
    want_index = "--index" in argv
    want_bpe = "--bpe" in argv
    want_colloc = "--colloc" in argv
    want_hybrid = "--hybrid" in argv
    want_markers = "--markers" in argv
    want_media = "--media" in argv
    want_media_mix = "--media-mix" in argv
    want_stream_ingest = "--stream-ingest" in argv
    want_quantx = "--quant-crossover" in argv
    want_codec_floor = "--codec-floor" in argv
    if want_codec_floor:
        # Spark-free: the per-core decode floor — a JVM would only
        # add noise to a single-thread number
        codec_floor_legs()
        return
    if sum([want_product, want_vector, want_substr, want_index,
            want_bpe, want_colloc, want_hybrid,
            want_markers, want_media, want_media_mix,
            want_stream_ingest, want_quantx]) > 1:
        raise SystemExit("--product/--vector/--substr/--index/--bpe"
                         "/--colloc/--hybrid/--markers/--media"
                         "/--media-mix/--stream-ingest/--quant-crossover "
                         "are exclusive modes")
    scales: list[int] = []
    paths: list[str] = []
    for a in argv:
        if a in ("--product", "--vector", "--substr", "--index",
                 "--bpe", "--colloc", "--hybrid", "--markers",
                 "--media", "--media-mix", "--stream-ingest",
                 "--quant-crossover"):
            continue
        if re.fullmatch(r"[0-9]+", a):      # positive ints only
            scales.append(int(a))
        elif a.startswith("-"):
            raise SystemExit(
                f"unknown flag {a!r} (only --product / --vector "
                "/ --substr / --index / --bpe / --colloc / --hybrid"
                " / --markers / --media / --media-mix "
                "/ --stream-ingest)")
        else:
            paths.append(a)
    if any(sc < 1 for sc in scales):
        raise SystemExit(f"scales must be >= 1, got {scales}")
    if len(paths) > 1:
        raise SystemExit(f"at most one sf_dir argument, got {paths}")
    if scales and not (want_product or want_vector or want_substr
                       or want_index or want_bpe or want_colloc
                       or want_hybrid or want_markers
                       or want_media or want_media_mix
                       or want_stream_ingest or want_quantx):
        raise SystemExit("scale arguments require --product/--vector"
                         "/--substr/--index/--bpe/--colloc/--hybrid"
                         "/--markers/--media/--media-mix"
                         "/--stream-ingest")
    product_scales = (scales or [16, 64]) if want_product else None
    sf_dir = paths[0] if paths else "/root/testdata/sf0.1"
    spark = get_spark("stress")
    if want_quantx:
        # scale args are DIMS for this mode (synthetic corpus,
        # sf-independent — no table load)
        quant_crossover_legs(spark, scales or [64, 256, 512])
        spark.stop()
        return
    if want_vector:
        emb0 = load_table(spark, sf_dir, "embeddings").cache()
        emb0.count()
        vector_legs(emb0, scales or [16, 64, 256])
        spark.stop()
        return
    if want_index:
        emb0 = load_table(spark, sf_dir, "embeddings").cache()
        emb0.count()
        index_legs(spark, emb0, scales or [16, 64])
        spark.stop()
        return
    if want_markers:
        emb0 = load_table(spark, sf_dir, "embeddings").cache()
        emb0.count()
        marker_legs(spark, emb0, scales or [64])
        spark.stop()
        return
    if want_media:
        docs0 = load_table(spark, sf_dir, "documents").cache()
        docs0.count()
        media_legs(spark, docs0, scales or [4, 16])
        spark.stop()
        return
    if want_media_mix:
        media_mix_legs(spark, scales or [4, 64])
        spark.stop()
        return
    if want_stream_ingest:
        docs0 = load_table(spark, sf_dir, "documents").cache()
        docs0.count()
        stream_ingest_legs(spark, docs0, scales or [1, 4, 16])
        spark.stop()
        return
    docs0 = load_table(spark, sf_dir, "documents").cache()
    docs0.count()
    if want_substr:
        substring_legs(spark, docs0, scales or [16, 64])
        spark.stop()
        return
    if want_bpe:
        bpe_legs(spark, docs0, scales or [1, 4, 16, 64])
        spark.stop()
        return
    if want_colloc:
        colloc_legs(spark, docs0, scales or [4, 16, 64])
        spark.stop()
        return
    if want_hybrid:
        emb0 = load_table(spark, sf_dir, "embeddings").cache()
        emb0.count()
        hybrid_legs(spark, docs0, emb0, scales or [4, 64])
        spark.stop()
        return
    if product_scales is not None:
        product_legs(spark, docs0, product_scales)
        spark.stop()
        return
    emb0 = load_table(spark, sf_dir, "embeddings").cache()
    emb0.count()

    for scale in SCALES:
        emb = scaled(emb0, scale, replicate_embeddings).localCheckpoint()
        docs = scaled(docs0, scale, replicate_documents).localCheckpoint()
        n_emb, n_docs = emb.count(), docs.count()

        v = _normalized(emb, "embedding", "vec_id").localCheckpoint()
        planes = scaled_n_planes(n_emb, 32)
        t0 = time.time()
        n_cand = lsh_candidate_pairs(v, 64, 16, planes).count()
        t_cand = time.time() - t0

        # threshold 0.8 = tail regime: at 64 dims random-pair cosine
        # std is ~0.12, so 0.4 sits in the distribution bulk and the
        # TRUE pair count of any self-similar corpus grows ~n² — a
        # property of the output, not the engine. The stress question
        # is engine cost, so measure where output stays sparse.
        t0 = time.time()
        n_lsh_pairs = dd.cosine_near_dup_pairs_lsh(
            emb, 0.8, n_tables=16, max_bucket=100_000).count()
        t_lsh = time.time() - t0

        if scale <= 4:  # exact O(n^2) kernel: bounded-block check only
            t0 = time.time()
            n_exact = dd.cosine_near_dup_pairs(emb, 0.8).count()
            t_exact = time.time() - t0
        else:
            n_exact, t_exact = None, None

        t0 = time.time()
        n_mh = dd.minhash_band_pairs(docs, 0.3, max_bucket=100_000).count()
        t_mh = time.time() - t0

        legs = run_document_legs(derive_multiline(docs))

        print(json.dumps({
            "scale": scale, "n_emb": n_emb, "n_docs": n_docs,
            "n_planes": planes, "n_blocks": scaled_n_blocks(n_emb),
            "lsh_candidates": n_cand,
            "cand_per_vec": round(n_cand / n_emb, 2),
            "lsh_candidates_sec": round(t_cand, 2),
            "lsh_pairs": n_lsh_pairs, "lsh_sec": round(t_lsh, 2),
            "exact_pairs": n_exact,
            "exact_sec": round(t_exact, 2) if t_exact else None,
            "minhash_pairs": n_mh, "minhash_sec": round(t_mh, 2),
            **legs,
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
