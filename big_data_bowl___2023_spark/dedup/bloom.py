"""Mergeable Bloom-filter membership artifacts.

The membership complement of the Misra-Gries frequency summaries
(``operators.heavy``) and the HLL cardinality sketches
(``operators.cardinality``): "have we seen this fingerprint / URL /
benchmark shingle before?" over a growing corpus, answered map-side.

At 100 TB the exact form of that question — an anti-join of every
ingest batch against a multi-billion-row fingerprint index — shuffles
the batch AND probes the index every time. A Bloom filter is a
bounded bit array with **zero false negatives**: a key the filter has
never seen always reports "definitely not present", and a key it has
seen always reports "maybe present" (false positives at a chosen
rate). So the index compresses to megabytes, broadcasts to every
executor, and the ingest gate becomes a map-side scan filter.

Spark shape — every stage stays out of Python except bounded
bit-array folds:

* **hashing is JVM codegen**: two ``xxhash64`` columns (the second
  seeded by an extra literal) computed before any Python stage, so
  build and probe agree by construction and the per-row hash work is
  whole-stage-codegen, never per-row Python. Positions derive by
  double hashing ``(h1 + i*h2') mod m`` (Kirsch & Mitzenmacher 2006,
  "Less Hashing, Same Performance"), with ``h2' = h2|1`` to dodge the
  ``h2 ≡ 0`` degeneracy; the i-loop runs vectorized in numpy over
  Arrow batches.
* **the artifact is SPARSE**: one ``(word_idx, bits)`` row per
  non-zero 64-bit word, built per-partition with ``mapInPandas``
  (zero shuffle) and combined with a map-side-combinable
  ``groupBy(word_idx).agg(bit_or)`` — the only shuffle, bounded by
  the number of set words, not by input rows. Sparse rows persist as
  parquet and merge across ingest batches with union + ``bit_or``
  (bitwise OR is associative/commutative/idempotent — re-adding a
  batch is harmless), the same growing-corpus move as
  ``heavy.merge_summaries`` / ``cardinality.merge_cardinality``.
* **probing is map-side**: the dense byte form (≤ ``num_bits``/8
  bytes, guarded) rides to executors as a broadcast/closure constant;
  an Arrow-batched pandas UDF tests ``k`` bits per row. No shuffle,
  no join.

NULL keys hash to the empty-input ``xxhash64`` value (Spark skips
NULL columns), so they are EXCLUDED from the filter on build and
probe as SQL-unknown: :func:`might_contain` returns NULL for a NULL
key (three-valued logic), and the prefilter modes document which side
NULL rows land on.

Sizing: for ``n`` keys at false-positive rate ``p``,
``m = -n ln p / (ln 2)^2`` bits and ``k = (m/n) ln 2`` hashes
(:func:`bloom_parameters`). 1 M keys at 1 % fpr ≈ 1.2 MB; 1 B keys at
1 % ≈ 1.2 GB — above the broadcast guard, so shard the key space (one
filter per id-hash shard) before reaching for that size.

Reference scope note: north-star extension (SURVEY.md §2 extensions);
the reference has no membership-filter surface.
"""

from __future__ import annotations

import math
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Dense form must broadcast comfortably: 256 MiB of bits ≈ 179 M keys
# at 1% fpr. Bigger membership sets should shard the key space.
MAX_BITS = 256 * 1024 * 1024 * 8

_H2_SEED = 0x9E37  # literal mixed into the second xxhash64 column


class BloomParams(NamedTuple):
    num_bits: int
    num_hashes: int


def bloom_parameters(expected_keys: int, fpr: float = 0.01
                     ) -> BloomParams:
    """Optimal (num_bits, num_hashes) for ``expected_keys`` distinct
    keys at false-positive rate ``fpr``. num_bits is rounded up to a
    multiple of 64 (whole words)."""
    if expected_keys <= 0:
        raise ValueError(f"expected_keys must be positive, "
                         f"got {expected_keys}")
    if not (0.0 < fpr < 1.0):
        raise ValueError(f"fpr must be in (0, 1), got {fpr}")
    m = int(math.ceil(-expected_keys * math.log(fpr)
                      / (math.log(2.0) ** 2)))
    m = ((m + 63) // 64) * 64
    if m > MAX_BITS:
        raise ValueError(
            f"{expected_keys} keys at fpr={fpr} needs {m} bits "
            f"(> {MAX_BITS}); shard the key space into independent "
            f"filters instead of one giant broadcast")
    k = max(1, int(round(m / expected_keys * math.log(2.0))))
    return BloomParams(m, k)


def _hash_cols(df: DataFrame, key_col: str) -> DataFrame:
    """Attach the two codegen hash columns build and probe share."""
    return df.withColumn("__h1", F.xxhash64(F.col(key_col))) \
             .withColumn("__h2", F.xxhash64(F.col(key_col),
                                            F.lit(_H2_SEED)))


def _positions(h1: np.ndarray, h2: np.ndarray, num_bits: int,
               num_hashes: int) -> Iterator[np.ndarray]:
    """Yield the k bit positions per row, vectorized. uint64 wrap is
    the intended mod-2^64 double-hash arithmetic."""
    u1 = h1.astype(np.int64).view(np.uint64)
    u2 = h2.astype(np.int64).view(np.uint64) | np.uint64(1)
    for i in range(num_hashes):
        yield ((u1 + np.uint64(i) * u2)
               % np.uint64(num_bits)).astype(np.int64)


_SPARSE_SCHEMA = T.StructType([
    T.StructField("word_idx", T.LongType(), False),
    T.StructField("bits", T.LongType(), False),
    T.StructField("num_bits", T.LongType(), False),
    T.StructField("num_hashes", T.IntegerType(), False),
])


def bloom_summary(df: DataFrame, key_col: str, num_bits: int,
                  num_hashes: int) -> DataFrame:
    """(word_idx, bits, num_bits, num_hashes): sparse non-zero-word
    form of the Bloom filter over ``key_col``'s non-NULL values — the
    per-batch artifact. Zero-shuffle per-partition build, then one
    bounded ``bit_or`` combine keyed on word_idx (map-side partial
    agg). Word 0 is always emitted (bits may be 0) so the artifact is
    self-describing even for an empty input."""
    if num_bits <= 0 or num_bits % 64:
        raise ValueError(f"num_bits must be a positive multiple of "
                         f"64, got {num_bits}")
    if num_bits > MAX_BITS:
        raise ValueError(f"num_bits {num_bits} exceeds the dense "
                         f"broadcast guard {MAX_BITS}; shard the key "
                         f"space")
    if num_hashes <= 0:
        raise ValueError(f"num_hashes must be positive, "
                         f"got {num_hashes}")
    hashed = _hash_cols(df, key_col) \
        .filter(F.col(key_col).isNotNull()).select("__h1", "__h2")
    n_words = num_bits // 64

    def build(batches: Iterator[pd.DataFrame]
              ) -> Iterator[pd.DataFrame]:
        words = np.zeros(n_words, dtype=np.uint64)
        for pdf in batches:
            if not len(pdf):
                continue
            h1 = pdf["__h1"].to_numpy()
            h2 = pdf["__h2"].to_numpy()
            for pos in _positions(h1, h2, num_bits, num_hashes):
                np.bitwise_or.at(words, pos // 64,
                                 np.uint64(1) << (pos % 64).astype(np.uint64))
        idx = np.flatnonzero(words)
        yield pd.DataFrame({
            "word_idx": pd.array(idx, dtype="int64"),
            "bits": pd.array(words[idx].view(np.int64), dtype="int64"),
            "num_bits": pd.array([num_bits] * len(idx), dtype="int64"),
            "num_hashes": pd.array([num_hashes] * len(idx),
                                   dtype="int32"),
        })

    # Literal anchor row (word 0, bits 0): keeps the artifact
    # self-describing even when the input is empty (an empty plan
    # collapses to zero partitions, so the mapInPandas function may
    # never run). bit_or folds it into the real word 0 harmlessly.
    anchor = df.sparkSession.range(1).select(
        F.lit(0).cast("long").alias("word_idx"),
        F.lit(0).cast("long").alias("bits"),
        F.lit(num_bits).cast("long").alias("num_bits"),
        F.lit(num_hashes).cast("int").alias("num_hashes"))
    per_part = hashed.mapInPandas(build, _SPARSE_SCHEMA) \
                     .unionByName(anchor)
    return (per_part
            .groupBy("word_idx", "num_bits", "num_hashes")
            .agg(F.bit_or("bits").alias("bits"))
            .select("word_idx", "bits", "num_bits", "num_hashes"))


def merge_blooms(*summaries: DataFrame) -> DataFrame:
    """Fold several :func:`bloom_summary` artifacts (SAME num_bits /
    num_hashes) into one artifact with the same schema. OR is
    idempotent, so overlapping batches are safe. This stays lazy, so
    a parameter MISMATCH is not detected here — the grouped
    ``bit_or`` simply keeps mixed-parameter rows distinct, and the
    error surfaces when :func:`bloom_bytes` densifies the artifact
    (probe time, or immediately if you densify to validate)."""
    from ..operators._fold import fold_union

    out = fold_union(summaries, "merge_blooms")
    return (out.groupBy("word_idx", "num_bits", "num_hashes")
               .agg(F.bit_or("bits").alias("bits"))
               .select("word_idx", "bits", "num_bits", "num_hashes"))


def bloom_bytes(summary: DataFrame) -> tuple[bytes, BloomParams]:
    """Materialize the dense little-endian byte form of an artifact:
    (bytes of length num_bits/8, params). Accepts a merged artifact
    OR a plain union of per-batch artifacts (an append-only parquet
    dir of bloom_summary outputs read back as one DataFrame):
    duplicate word_idx rows OR together here, so an ingest loop can
    append one summary per batch and never rewrite old rows —
    :func:`merge_blooms` then becomes optional compaction. The
    collect is bounded by total non-zero words across batches and the
    dense array by the MAX_BITS guard. Raises if the artifact mixes
    parameters (mismatched merges)."""
    rows = summary.collect()
    if not rows:
        raise ValueError("empty bloom artifact: bloom_summary always "
                         "emits word 0, so this input is not a "
                         "bloom_summary output")
    params = {(r["num_bits"], r["num_hashes"]) for r in rows}
    if len(params) > 1:
        raise ValueError(f"bloom artifact mixes parameters {params}; "
                         f"filters built with different num_bits/"
                         f"num_hashes cannot be merged or probed "
                         f"together")
    num_bits, num_hashes = next(iter(params))
    if num_bits > MAX_BITS:
        raise ValueError(f"num_bits {num_bits} exceeds {MAX_BITS}")
    words = np.zeros(num_bits // 64, dtype=np.int64)
    for r in rows:
        words[r["word_idx"]] |= r["bits"]
    return (words.view(np.uint64).astype("<u8").tobytes(),
            BloomParams(int(num_bits), int(num_hashes)))


def might_contain(df: DataFrame, key_col: str, summary: DataFrame,
                  out_col: str = "maybe_in_set",
                  broadcast_handle: list | None = None) -> DataFrame:
    """df + boolean ``out_col``: False ⇒ key definitely NOT in the
    filtered set (the hard guarantee), True ⇒ maybe (false positives
    at the built fpr), NULL for NULL keys (membership of NULL is
    SQL-unknown). Map-side: codegen hashes + one Arrow-batched pandas
    UDF over the broadcast dense bits — zero shuffle, zero join.

    Each call ships one dense broadcast (MB-scale). One-shot callers
    can leave cleanup to the ContextCleaner (the broadcast is freed
    when this plan is GC'd), but LONG-RUNNING callers probing every
    micro-batch should pass ``broadcast_handle`` (a list) and call
    ``.unpersist()`` on the appended Broadcast once the batch's
    actions finish — otherwise un-freed 100 MB-class blocks pile up
    between GC cycles."""
    dense, params = bloom_bytes(summary)
    num_bits, num_hashes = params
    # A real broadcast, not closure capture: the dense form is
    # MB-scale and must ship to executors once, not per task.
    bc = df.sparkSession.sparkContext.broadcast(dense)
    if broadcast_handle is not None:
        broadcast_handle.append(bc)

    @F.pandas_udf(T.BooleanType())
    def probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        if not len(h1):
            return pd.Series([], dtype=object)
        words = np.frombuffer(bc.value, dtype="<u8")
        hit = np.ones(len(h1), dtype=bool)
        a1 = h1.to_numpy()
        a2 = h2.to_numpy()
        for pos in _positions(a1, a2, num_bits, num_hashes):
            w = words[pos // 64]
            hit &= (w >> (pos % 64).astype(np.uint64)) \
                & np.uint64(1) != 0
        return pd.Series(hit)

    hashed = _hash_cols(df, key_col)
    flag = F.when(F.col(key_col).isNull(), F.lit(None).cast("boolean")) \
            .otherwise(probe("__h1", "__h2"))
    return hashed.withColumn(out_col, flag).drop("__h1", "__h2")


def bloom_prefilter(df: DataFrame, key_col: str, summary: DataFrame,
                    keep: str = "maybe") -> DataFrame:
    """Scan-filter ``df`` by filter membership, map-side.

    * ``keep="maybe"`` — rows whose key MAY be in the set: a
      guaranteed SUPERSET of the true members (zero false negatives).
      The candidate cut before an exact confirm join.
    * ``keep="definitely_not"`` — rows guaranteed novel. The cheap
      ingest gate when dropping ~fpr of genuinely-novel rows is an
      acceptable price for skipping the exact join entirely.

    NULL-key rows are dropped by BOTH modes (membership unknown);
    route them explicitly if they matter."""
    if keep not in ("maybe", "definitely_not"):
        raise ValueError(f"keep must be 'maybe' or 'definitely_not', "
                         f"got {keep!r}")
    flagged = might_contain(df, key_col, summary, "__maybe")
    cond = F.col("__maybe") if keep == "maybe" else ~F.col("__maybe")
    return flagged.filter(cond).drop("__maybe")

