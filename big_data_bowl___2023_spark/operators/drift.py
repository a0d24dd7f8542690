"""Distribution drift detection between dataset snapshots (PSI).

When a corpus refreshes (new crawl, new pipeline version), the
question before retraining is whether feature distributions moved.
The standard score is the Population Stability Index: bucket the
REFERENCE snapshot into equal-population quantile bins, share-count
both snapshots against those same bins, and

    PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref)

with the usual reading: < 0.1 stable, 0.1–0.25 moderate shift,
> 0.25 action required.

Spark shape: one pass over each snapshot per report (all columns
folded into a single exploded groupBy) — reference bin
edges come from the exact ``percentile`` aggregate below
EXACT_EDGES_MAX_ROWS (deterministic, oracle-matched) and
``approxQuantile`` above it — auto-selected so the 100 TB default is
never the full-materialization path — bucket assignment is a codegen
comparison chain (the same shape as ``sampling.quantile_buckets``),
and the per-column shares are a pair of tiny aggregations joined on
the bucket id. NULLs are their own bucket, and float NaN its own
(a drift in nullability — or NaN rate — is drift).

Archived-snapshot variant: when both snapshots already left t-digest
artifacts behind (``operators.quantiles`` / the artifact store),
``quantiles.psi_from_digests`` computes the same PSI from the
artifacts alone — neither snapshot rescanned; parity with this
module is tested.

Reference scope note: north-star extension (SURVEY.md §2
extensions); the reference has no monitoring surface.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.io import read_json_artifact, write_json_artifact

_EPS = 1e-6     # share smoothing: empty bins contribute finitely

# exact_edges auto-selection: above this reference row count the exact
# ``percentile`` aggregate (full per-column group materialization) is
# the wrong default and the report switches to approxQuantile — the
# scale path a 100 TB reference must take. One count() job, trivial
# next to either edge computation.
EXACT_EDGES_MAX_ROWS = 5_000_000


def _all_edges(reference: DataFrame, cols: list, n_buckets: int,
               exact: bool) -> dict:
    """column -> deduped ascending edge list, ALL columns in one pass
    (one percentile aggregate, or one multi-column approxQuantile)."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    if exact:
        row = reference.agg(*[
            F.percentile(F.col(c), F.array(*[F.lit(q) for q in qs]))
            .alias(f"e_{i}") for i, c in enumerate(cols)]).first()
        raw = {c: list(row[f"e_{i}"] or [])
               for i, c in enumerate(cols)}
    else:
        multi = reference.approxQuantile(list(cols), qs, 1e-3)
        raw = dict(zip(cols, multi))
    out: dict = {}
    for c, edges in raw.items():
        ded: list[float] = []
        for e in edges:
            # dedupe (constant/low-cardinality columns tie edges);
            # drop non-finite edges — a NaN-polluted reference would
            # otherwise poison the whole comparison chain (NaN fails
            # every <=, breaking the monotone dedupe too)
            if (e is not None and math.isfinite(e)
                    and (not ded or e > ded[-1])):
                ded.append(float(e))
        out[c] = ded
    return out


def _is_float(df: DataFrame, col: str) -> bool:
    return df.schema[col].dataType.simpleString() in ("float", "double")


def _bucket(col: str, edges: list[float],
            is_float: bool = False) -> F.Column:
    """NULL → bucket −1, NaN (float columns) → bucket −2: NaN fails
    every ``<=`` edge comparison and would otherwise silently land in
    the top value bucket, conflating a NaN-rate rise with high-value
    drift — the module's stance is that nullability drift (and its
    float cousin) is drift, so each gets its own bin."""
    b = F.lit(len(edges))                  # top bucket
    for i in reversed(range(len(edges))):
        b = F.when(F.col(col) <= F.lit(edges[i]), F.lit(i)).otherwise(b)
    if is_float:
        b = F.when(F.isnan(F.col(col)), F.lit(-2)).otherwise(b)
    return F.when(F.col(col).isNull(), F.lit(-1)).otherwise(b)


def _all_shares(df: DataFrame, edges_by_col: dict,
                group_col: str | None = None) -> dict:
    """{(column, bucket): count} — or {(group, column, bucket): count}
    with ``group_col`` — for every column in ONE scan: each row
    explodes to (column, bucket) pairs, one groupBy. The single
    bucket-assignment code path for every batch report (the streaming
    monitor shares the ``_bucket`` chain)."""
    pairs = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 _bucket(c, e, _is_float(df, c)).alias("bucket"))
        for c, e in edges_by_col.items()])
    gsel = [F.col(group_col).alias("g")] if group_col else []
    gkey = ["g"] if group_col else []
    rows = (df.select(*gsel, F.explode(pairs).alias("p"))
            .groupBy(*gkey, F.col("p.column").alias("column"),
                     F.col("p.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n")).collect())
    if group_col:
        return {(r.g, r.column, r.bucket): r.n for r in rows}
    return {(r.column, r.bucket): r.n for r in rows}


def _psi_from_share_dicts(ref_sh: dict, cur_sh: dict) -> dict:
    """{key_prefix: (psi, n_buckets_observed)} from two share dicts
    keyed by (*prefix, bucket) — prefix is (column,) for the flat
    report, (group, column) for the grouped one. Single pass over
    each dict (totals + observed-bucket index), shared smoothing —
    the one PSI-arithmetic code path every report uses."""
    n_ref: dict = {}
    n_cur: dict = {}
    buckets: dict = {}
    for k, n in ref_sh.items():
        p = k[:-1]
        n_ref[p] = n_ref.get(p, 0) + n
        buckets.setdefault(p, set()).add(k[-1])
    for k, n in cur_sh.items():
        p = k[:-1]
        n_cur[p] = n_cur.get(p, 0) + n
        buckets.setdefault(p, set()).add(k[-1])
    out = {}
    for p, bs in buckets.items():
        psi = 0.0
        for b in bs:
            pr = max(ref_sh.get(p + (b,), 0)
                     / max(n_ref.get(p, 0), 1), _EPS)
            q = max(cur_sh.get(p + (b,), 0)
                    / max(n_cur.get(p, 0), 1), _EPS)
            psi += (q - pr) * math.log(q / pr)
        out[p] = (round(psi, 6), len(bs))
    return out


def _resolve_exact(reference: DataFrame,
                   exact_edges: bool | None) -> bool:
    """exact_edges=None → auto: exact ``percentile`` edges only while
    the reference fits comfortably (≤ EXACT_EDGES_MAX_ROWS), else the
    approxQuantile scale path — so the default a 100 TB caller gets is
    never the full-materialization aggregate."""
    if exact_edges is not None:
        return exact_edges
    # "rows <= MAX?" needs a bounded probe, not a full count() of a
    # possibly-100 TB reference: LIMIT MAX+1 stops scanning as soon
    # as enough rows surface, and comparing ITS count answers the
    # threshold question exactly.
    probe = reference.limit(EXACT_EDGES_MAX_ROWS + 1).count()
    return probe <= EXACT_EDGES_MAX_ROWS


def psi_report(reference: DataFrame, current: DataFrame,
               cols: Sequence[str], n_buckets: int = 10,
               exact_edges: bool | None = None) -> DataFrame:
    """(column, psi, n_buckets_used): one PSI per numeric column,
    bucketed on the REFERENCE snapshot's quantile edges (NULL is its
    own bucket, id −1; float NaN its own bucket, id −2).
    ``n_buckets_used`` counts the bins actually OBSERVED in either
    share table — including the NULL/NaN bins when populated — the
    same convention as :func:`psi_report_categorical`.
    ``exact_edges=False`` switches the edge computation to
    ``approxQuantile`` for corpus-scale references — bucket SEMANTICS
    are identical, only edge placement is approximate; the default
    (None) auto-selects by reference size (EXACT_EDGES_MAX_ROWS).
    Job count is independent of ``len(cols)``: one edge pass over the
    reference, then one bucket-share scan per snapshot (rows explode
    to (column, bucket) pairs, one groupBy)."""
    spark = reference.sparkSession
    cols = list(cols)
    exact = _resolve_exact(reference, exact_edges)
    edges_by_col = _all_edges(reference, cols, n_buckets, exact)
    ref_sh = _all_shares(reference, edges_by_col)
    cur_sh = _all_shares(current, edges_by_col)
    table = _psi_from_share_dicts(ref_sh, cur_sh)
    rows = [(c, *table.get((c,), (0.0, 0))) for c in cols]
    return spark.createDataFrame(rows,
                                 "column string, psi double, "
                                 "n_buckets_used int")


def drifted_columns(reference: DataFrame, current: DataFrame,
                    cols: Sequence[str], threshold: float = 0.25,
                    n_buckets: int = 10,
                    exact_edges: bool | None = None) -> list[str]:
    """Columns whose PSI crosses ``threshold`` — the retrain/alert
    trigger list. ``exact_edges`` forwards to :func:`psi_report`
    (False = the corpus-scale approx mode, None = auto by size)."""
    rep = psi_report(reference, current, cols, n_buckets, exact_edges)
    return [r.column for r in rep.collect() if r.psi >= threshold]


def psi_report_grouped(reference: DataFrame, current: DataFrame,
                       cols: Sequence[str], group_col: str,
                       n_buckets: int = 10,
                       exact_edges: bool | None = None,
                       max_groups: int = 10_000) -> DataFrame:
    """(``group_col``, column, psi, n_buckets_used): per-group PSI —
    mix shift PER SOURCE, the question a corpus-wide report averages
    away (a stable global distribution can hide one source drifting up
    while another drifts down). Bin edges come from the WHOLE
    reference (one pass), so every group is scored against the same
    yardstick and group PSIs are comparable; each snapshot then takes
    ONE (group, column, bucket) share scan. A group present in only
    one snapshot is scored against the smoothed-empty other side —
    appearing/vanishing sources read as large PSI, which is the right
    alert. Driver-side arithmetic is bounded by groups × cols ×
    (buckets + 2) rows: ``group_col`` must be low-cardinality (source
    labels, shard families), not an id — ``max_groups`` enforces it
    (one cheap partial-agg count over the UNION of both snapshots'
    group sets) so an id column fails fast instead of collecting
    millions of share rows."""
    from pyspark.sql import types as T

    if group_col in ("column", "psi", "n_buckets_used"):
        raise ValueError(
            f"group_col '{group_col}' collides with a report output "
            f"column — alias it first")
    spark = reference.sparkSession
    cols = list(cols)
    n_groups = (reference.select(group_col)
                .unionByName(current.select(group_col))
                .distinct().count())
    if n_groups > max_groups:
        raise ValueError(
            f"group_col '{group_col}' has {n_groups} distinct values "
            f"across the two snapshots (> max_groups={max_groups}); "
            f"the grouped report collects groups x cols x buckets "
            f"share rows on the driver — pass a low-cardinality "
            f"grouping (source labels), or raise max_groups "
            f"deliberately")
    exact = _resolve_exact(reference, exact_edges)
    edges_by_col = _all_edges(reference, cols, n_buckets, exact)
    ref_sh = _all_shares(reference, edges_by_col, group_col)
    cur_sh = _all_shares(current, edges_by_col, group_col)
    table = _psi_from_share_dicts(ref_sh, cur_sh)
    groups = sorted({g for (g, _) in table},
                    key=lambda g: (g is None, g))
    rows = [(g, c, *table[(g, c)])
            for g in groups for c in cols if (g, c) in table]
    # programmatic schema: an f-string DDL would choke on group
    # column names that aren't bare identifiers
    schema = T.StructType([
        T.StructField(group_col,
                      reference.schema[group_col].dataType),
        T.StructField("column", T.StringType()),
        T.StructField("psi", T.DoubleType()),
        T.StructField("n_buckets_used", T.IntegerType()),
    ])
    return spark.createDataFrame(rows, schema)


def psi_report_categorical(reference: DataFrame, current: DataFrame,
                           cols: Sequence[str],
                           max_categories: int = 50) -> DataFrame:
    """(column, psi, n_categories_used): PSI over CATEGORICAL columns
    — label-shift / source-mix drift. Bins are the reference's top
    ``max_categories`` values by frequency (deterministic: count desc,
    value asc); everything else folds into an OTHER bin and NULL is
    its own bin, so a new category surging in the current snapshot
    shows up as OTHER-share growth rather than silently vanishing.
    ``n_categories_used`` counts the bins actually OBSERVED in either
    share table (__other__/__null__ included only when populated) —
    the same convention as :func:`psi_report`. Two tiny aggregations
    per column, same smoothing and reading as :func:`psi_report`."""
    spark = reference.sparkSession
    rows = []
    for col in cols:
        top = [r[0] for r in
               (reference.filter(F.col(col).isNotNull())
                .groupBy(col).count()
                .orderBy(F.desc("count"), F.asc(col))
                .limit(max_categories).collect())]
        bin_expr = (F.when(F.col(col).isNull(), F.lit("__null__"))
                    .when(F.col(col).isin(*[F.lit(t) for t in top])
                          if top else F.lit(False),
                          F.col(col).cast("string"))
                    .otherwise(F.lit("__other__")))

        def shares(df):
            return {r.b: r.n for r in
                    df.groupBy(bin_expr.alias("b"))
                    .agg(F.count(F.lit(1)).alias("n")).collect()}

        cr = shares(reference)
        cc = shares(current)
        nr, nc = sum(cr.values()), sum(cc.values())
        psi = 0.0
        for b in set(cr) | set(cc):
            p = max(cr.get(b, 0) / max(nr, 1), _EPS)
            q = max(cc.get(b, 0) / max(nc, 1), _EPS)
            psi += (q - p) * math.log(q / p)
        rows.append((col, round(psi, 6), len(set(cr) | set(cc))))
    return spark.createDataFrame(rows,
                                 "column string, psi double, "
                                 "n_categories_used int")


def bucket_shares_stream(stream: DataFrame, edges_by_col: dict
                         ) -> DataFrame:
    """Streaming side of drift monitoring: bucket a stream against
    FROZEN reference edges (``_all_edges`` output persisted from the
    reference snapshot — centroid-artifact pattern) and maintain
    running (column, bucket) counts as a streaming aggregation. The
    bucket chain is the same codegen expression the batch report
    uses, so batch and stream shares are definitionally consistent.
    Complete/update-mode sink; feed the latest table to
    :func:`psi_from_shares` against the reference's shares."""
    pairs = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 _bucket(c, e, _is_float(stream, c)).alias("bucket"))
        for c, e in edges_by_col.items()])
    return (stream.select(F.explode(pairs).alias("p"))
            .groupBy(F.col("p.column").alias("column"),
                     F.col("p.bucket").alias("bucket"))
            .count())


def psi_from_shares(ref_shares: dict, cur_rows) -> dict:
    """{column: psi} from precomputed share tables: ``ref_shares`` is
    the {(column, bucket): count} dict (``_all_shares`` of the
    reference), ``cur_rows`` an iterable of (column, bucket, count)
    rows — e.g. the collected streaming share table. Pure driver-side
    arithmetic over tiny inputs."""
    cur: dict = {}
    for r in cur_rows:
        cur[(r[0], r[1])] = r[2]
    return {p[0]: psi for p, (psi, _) in
            _psi_from_share_dicts(ref_shares, cur).items()}


def schema_diff(reference: DataFrame, current: DataFrame) -> dict:
    """{'added': [...], 'removed': [...], 'retyped': [(col, ref_type,
    cur_type), ...]}: structural drift between snapshots — the check
    that runs BEFORE any value-level PSI (a retyped or vanished
    column is drift no bucket share will surface). Pure metadata,
    zero jobs."""
    ref_t = {f.name: f.dataType.simpleString()
             for f in reference.schema.fields}
    cur_t = {f.name: f.dataType.simpleString()
             for f in current.schema.fields}
    return {
        "added": sorted(set(cur_t) - set(ref_t)),
        "removed": sorted(set(ref_t) - set(cur_t)),
        "retyped": sorted((c, ref_t[c], cur_t[c])
                          for c in set(ref_t) & set(cur_t)
                          if ref_t[c] != cur_t[c]),
    }


def category_bins(reference: DataFrame, cols: Sequence[str],
                  max_categories: int = 50) -> dict:
    """column -> reference top-K category list (deterministic order)
    — the frozen-artifact form of the categorical bins, for streaming
    monitors and cross-run reuse (persist as JSON like PQ codebooks)."""
    out = {}
    for col in cols:
        out[col] = [r[0] for r in
                    (reference.filter(F.col(col).isNotNull())
                     .groupBy(col).count()
                     .orderBy(F.desc("count"), F.asc(col))
                     .limit(max_categories).collect())]
    return out


def category_shares_stream(stream: DataFrame, bins_by_col: dict
                           ) -> DataFrame:
    """Streaming (column, bucket, count) over FROZEN categorical bins
    (top-K / __other__ / __null__ — same binning as
    :func:`psi_report_categorical`); feed the latest table to
    :func:`psi_from_shares` against the reference's shares."""
    pairs = []
    for c, top in bins_by_col.items():
        bin_expr = (F.when(F.col(c).isNull(), F.lit("__null__"))
                    .when(F.col(c).isin(*[F.lit(t) for t in top])
                          if top else F.lit(False),
                          F.col(c).cast("string"))
                    .otherwise(F.lit("__other__")))
        pairs.append(F.struct(F.lit(c).alias("column"),
                              bin_expr.alias("bucket")))
    return (stream.select(F.explode(F.array(*pairs)).alias("p"))
            .groupBy(F.col("p.column").alias("column"),
                     F.col("p.bucket").alias("bucket"))
            .count())


def save_drift_artifacts(spark, path: str, edges_by_col: dict,
                         bins_by_col: dict | None = None) -> None:
    """Persist the frozen monitoring reference — numeric quantile
    edges (``_all_edges``) and optional categorical top-K bins
    (``category_bins``) — as one JSON artifact through the Hadoop
    FileSystem API (local/HDFS/object store), the same pattern as the
    PQ codebook artifacts: monitors across runs and streaming
    restarts must bucket against the SAME reference, so the bins are
    a versioned output of the reference snapshot, not something
    recomputed per run."""
    write_json_artifact(spark, path, {"edges": edges_by_col,
                                      "bins": bins_by_col or {}})


def load_drift_artifacts(spark, path: str) -> tuple[dict, dict]:
    """(edges_by_col, bins_by_col) back from
    :func:`save_drift_artifacts` — float round trip exact (json
    repr doubles)."""
    payload = read_json_artifact(spark, path)
    return payload["edges"], payload["bins"]


def embedding_psi_report(reference: DataFrame, current: DataFrame,
                         vec_col: str = "embedding", dim: int = 64,
                         n_proj: int = 8, seed: int = 7,
                         n_buckets: int = 10,
                         exact_edges: bool | None = None
                         ) -> DataFrame:
    """(projection, psi, n_buckets_used): PSI per seeded JL
    projection of an EMBEDDING column — drift monitoring for vector
    pipelines (encoder swap, upstream preprocessing change, corpus
    composition shift), where per-coordinate PSI over 64-4096 raw
    dims is noise and a single scalar is blind.

    Composition, not new machinery: `similarity.projection`'s
    deterministic Rademacher matrix (pure derived state — the same
    seed reproduces the same projections on any engine) maps each
    vector to ``n_proj`` scalars map-side; `psi_report` then scores
    each projection's 1-D marginal against the reference's quantile
    bins. A mean or covariance shift in the embedding distribution
    moves some projection's marginal with high probability; this is
    a SCREEN, not a certificate — a shift engineered to preserve all
    ``n_proj`` sampled marginals passes it (raise ``n_proj`` or vary
    ``seed`` across runs to shrink that escape hatch). NULL vectors
    land in PSI's NULL bucket (nullability drift IS drift); a
    wrong-length vector errors (the projection's guard)."""
    from ..similarity.projection import project_embeddings

    names = [f"proj_{j}" for j in range(n_proj)]

    def marginals(df: DataFrame) -> DataFrame:
        p = project_embeddings(df.select(vec_col), n_proj, seed,
                               vec_col, "__p", dim)
        return p.select(*[F.col("__p")[j].alias(n)
                          for j, n in enumerate(names)])

    # psi_report actions the reference up to three times (size
    # resolve, edge pass, share pass) and the current twice — pin the
    # projected marginals so the JL folds run once per side (the
    # engine's fan-out discipline)
    from ..session import pin

    rep = psi_report(pin(marginals(reference)),
                     pin(marginals(current)),
                     names, n_buckets, exact_edges)
    return rep.withColumnRenamed("column", "projection")


def embedding_drift(reference: DataFrame, current: DataFrame,
                    vec_col: str = "embedding", dim: int = 64,
                    n_proj: int = 8, seed: int = 7,
                    threshold: float = 0.25,
                    n_buckets: int = 10,
                    exact_edges: bool | None = None) -> dict:
    """Scalar verdict over :func:`embedding_psi_report`:
    {"max_psi", "mean_psi", "n_projections", "drifted":
    [projections ≥ threshold]} — the alert-feed face (the report has
    ``n_proj`` rows, so the collect is bounded by construction)."""
    rows = embedding_psi_report(reference, current, vec_col, dim,
                                n_proj, seed, n_buckets,
                                exact_edges).collect()
    psis = [r["psi"] for r in rows]
    return {"max_psi": round(max(psis), 6),
            "mean_psi": round(sum(psis) / len(psis), 6),
            "n_projections": len(psis),
            "drifted": sorted(r["projection"] for r in rows
                              if r["psi"] >= threshold)}
