"""Joins (SURVEY.md §2.3 J1–J9).

The reference does every join as an in-memory base-R ``merge`` hash
join; here all keys are explicit (natural-join inference is a schema-
change hazard, SURVEY §7.4) and small dimension sides are broadcast so
the frame-grain fact table never shuffles for them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def equi_join(left: DataFrame, right: DataFrame, keys: Sequence[str],
              how: str = "inner") -> DataFrame:
    """J1/J2/J4: explicit-key equi-join (DLC:25-27; MBE:37-68). The
    composite frame-grain keys (gameId, playId, nflId) shuffle both
    sides; AQE picks sort-merge vs shuffled-hash and handles skew."""
    return left.join(right, list(keys), how)


def left_join_fill(left: DataFrame, right: DataFrame, keys: Sequence[str],
                   fill: dict | None = None) -> DataFrame:
    """J5: left outer + NA fill — the reference's flag-attach pattern
    (MBE:89, 134-135, 144 then NA→0 at MBE:136-137, 145)."""
    out = left.join(right, list(keys), "left")
    return out.na.fill(fill) if fill else out


def anti_join(left: DataFrame, right: DataFrame,
              keys: Sequence[str]) -> DataFrame:
    """J7/U2: key-wise difference (dplyr anti_join, DLC:47)."""
    return left.join(right, list(keys), "left_anti")


def semi_join(left: DataFrame, right: DataFrame,
              keys: Sequence[str]) -> DataFrame:
    """J8: existence filter. The reference emulates this with
    dedup-then-inner-merge (MBE:140-141); ``left_semi`` expresses the
    intent directly and never duplicates or widens rows."""
    return left.join(right, list(keys), "left_semi")


def self_join_back(detail: DataFrame, derived: DataFrame,
                   keys: Sequence[str], how: str = "inner") -> DataFrame:
    """J9: join a derived aggregate back to its own detail lineage
    (MBE:68, 148-149). Aliases disambiguate the shared lineage."""
    d = detail.alias("detail")
    g = derived.alias("derived")
    cond = [F.col(f"detail.{k}") == F.col(f"derived.{k}") for k in keys]
    joined = d.join(g, cond, how)
    drop = [F.col(f"derived.{k}") for k in keys]
    return joined.drop(*drop)


def write_bucketed(df: DataFrame, table: str, keys: Sequence[str],
                   num_buckets: int = 16,
                   sort_keys: Sequence[str] | None = None) -> None:
    """Persist a bucketed (and bucket-sorted) catalog table.

    Bucketing pre-shuffles data by join key at WRITE time: two tables
    bucketed on the same keys with the same bucket count join with NO
    exchange (and with sortBy, no sort) — the co-located-join layout
    for fact⋈fact joins repeated across many queries at 100 TB, e.g.
    tracking ⋈ scouting on (gameId, playId, nflId). Verified by
    plan assertion in tests (no Exchange under SortMergeJoin).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # A fresh session's in-memory catalog forgets managed tables but
    # their warehouse directories persist; clear the stale location.
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith(("file:", "/")):
        import shutil
        path = warehouse.removeprefix("file:")
        shutil.rmtree(f"{path}/{table.lower()}", ignore_errors=True)
    w = (df.write.mode("overwrite")
         .bucketBy(num_buckets, *keys)
         .sortBy(*(sort_keys or keys)))
    w.saveAsTable(table)


def salted_join(skewed: DataFrame, other: DataFrame,
                keys: Sequence[str], salt_on: str,
                n_salts: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join with salting for a skewed key distribution.

    The skewed side gets a deterministic salt derived from a row
    identity column (``salt_on``) — no RNG, reproducible; the other
    side is replicated n_salts×. Each hot key's rows spread over
    n_salts shuffle partitions instead of one straggler task. AQE's
    skew-join handles moderate skew automatically; salting is the
    explicit tool for the pathological keys AQE cannot split (single
    huge key within one partition of a non-sort-merge join).

    Only ``inner`` and ``left`` (skewed side preserved) are supported:
    for right/full outer joins every unmatched replica row would emit
    ``n_salts`` duplicate null-extended rows — a silent correctness
    bug, so those modes raise instead.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: "
            "outer-preserving the replicated side would duplicate "
            "unmatched rows n_salts times")
    salted = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_on)), F.lit(n_salts)))
    replicas = other.crossJoin(
        F.broadcast(
            other.sparkSession.range(n_salts)
            .select(F.col("id").cast("int").alias("__salt"))))
    out = salted.join(replicas, [*keys, "__salt"], how)
    return out.drop("__salt")
