"""Duplicate-cluster resolution: transitive closure over near-dup pairs.

Every near-dup stage in this package (minhash/simhash/ngram/embedding)
emits PAIRS, but production dedup needs COMPONENTS: a~b and b~c must
collapse into one cluster even though (a, c) was never emitted, and
exactly one representative per cluster survives.

Implemented as alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014):

* each round is two grouped passes (two shuffles) over the edge set;
* converges in O(log n) rounds on any graph — near-dup clusters
  (tiny diameter) converge in 2-3;
* intermediate edge sets stay linear in the input: no component is
  ever materialized on a single worker, which is what keeps this safe
  at 100 TB when one boilerplate page collides with millions of
  documents (a single giant component). A naive "collect pairs and
  union-find on the driver" dies exactly there.

Each iteration ends in a ``session.pin(truncate=True)`` (a local or
reliable checkpoint by durability mode) — iterative self-joins
otherwise grow an exponential logical plan and stall the driver in
analysis long before any executor works (same lesson as
pipelines/nfl.py's fan-out DAG).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import pin

MAX_ROUNDS = 20

# Edge-count bound under which the transitive closure runs as a
# driver union-find over the collected edge list instead of the
# distributed star loop. The loop's per-round cost is dominated by
# FIXED job latency on small graphs (measured 2.6 s for an 85-edge
# set at sf0.1 — two grouped passes + checkpoint + checksum per
# round, ~0.05 s as a collect + union-find), while the collect is
# provably bounded: the gate is bought with the edge COUNT the loop
# already computes for its fixpoint checksum, never assumed — the
# same measured-size pattern as embedding.GATHER_CEILING_ROWS.
# 100k edges ≈ a few MB on the driver; above the
# bound (any real corpus) the scale-safe star loop runs unchanged.
DRIVER_EDGE_BOUND = 100_000


def _normalize_edges(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Undirected edge list → (u, v) with u != v, deduplicated."""
    return (pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .distinct())


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
               .select("u", F.least("u", "mn").alias("m")))
    return (sym.join(mins, "u")
               .filter(F.col("v") > F.col("u"))
               .select(F.col("v").alias("u"), F.col("m").alias("v"))
               .filter(F.col("u") != F.col("v"))
               .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high→low, then connect every low neighbor of u
    (and u itself) to min(Γ⁻(u) ∪ {u})."""
    o = edges.select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v"))
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    nbr = o.join(mins, "u").select(F.col("v").alias("u"),
                                   F.col("m").alias("v"))
    self_ = mins.select(F.col("u"), F.col("m").alias("v"))
    return (nbr.union(self_)
               .filter(F.col("u") != F.col("v"))
               .distinct())


def _checksum(edges: DataFrame) -> tuple[int, int, int]:
    row = edges.agg(F.count(F.lit(1)).alias("c"),
                    F.countDistinct("u").alias("du"),
                    F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0))
                     .alias("h")).collect()[0]
    return int(row.c), int(row.du), int(row.h)


def _is_star_union(edges: DataFrame) -> bool:
    """True iff no edge TARGET is also an edge SOURCE (one semi-join
    over the already-materialized round output). Callers must have
    established that every source has exactly one edge (count ==
    distinct-source count, free from :func:`_checksum`)."""
    return (edges.alias("e")
                 .join(edges.select("u").alias("s"),
                       F.col("e.v") == F.col("s.u"), "left_semi")
                 .isEmpty())


def _driver_components(edges: DataFrame) -> DataFrame:
    """Union-find over a COLLECTED edge list — the small-graph tier
    of :func:`connected_components`, reached only under
    ``DRIVER_EDGE_BOUND`` (the caller buys the collect with the edge
    count it already has). Union-by-min-root + path compression, so
    every node labels with its component MINIMUM — bit-identical to
    the star loop's fixpoint (pytest-pinned both ways). Python's
    str/int ordering matches Spark's binary string / numeric
    ordering (UTF-8 is code-point-order-preserving), so min-roots
    agree across tiers."""
    rows = edges.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for row in rows:
        u, v = row[0], row[1]
        nodes.add(u)
        nodes.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    out_schema = T.StructType([
        T.StructField("node", edges.schema[0].dataType),
        T.StructField("component", edges.schema[1].dataType),
    ])
    return edges.sparkSession.createDataFrame(
        [(n, find(n)) for n in sorted(nodes)], out_schema)


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b") -> DataFrame:
    """(node, component) for every node that appears in ``pairs``,
    where component = the minimum node id of its connected component.

    Size-tiered (r16, guide §1.2): the normalized edge count — already
    computed for the fixpoint checksum — picks the execution tier.
    At or under ``DRIVER_EDGE_BOUND`` distinct edges the closure runs
    as a driver union-find over the collected list (a bounded, few-MB
    collect; the star loop's per-round cost on such graphs is almost
    entirely fixed job latency — measured 2.6 s vs 0.05 s on an
    85-edge set). Above the bound — any corpus-scale graph — the
    alternating star loop below runs unchanged; nothing about the
    tier choice is data-dependent beyond the measured count, and both
    tiers produce identical (node, component) rows (pytest-pinned).

    Alternates large-star / small-star until the edge set reaches a
    fixpoint. Two stop tests per round, both over the round's pinned
    output (no driver-side edge materialization):

    * identity — count + distinct-source count + order-independent
      hash unchanged from the previous round (one 1-row action);
    * early star detection (r16) — every round output orients edges
      root-ward (target < source, see the star lemmas above), so the
      edge set is a fixpoint as soon as it is a union of DISJOINT
      stars: every source has exactly one edge (count ==
      distinct-source count, free from the same 1-row action) and no
      target is itself a source (one semi-join over the pinned
      output). Another large-star/small-star round over such a set
      is the identity — large-star re-emits each (leaf, root), and
      small-star's inverted minimum is the root itself — so stopping
      here returns bit-identical components while saving the whole
      final "confirm nothing changed" round (2 grouped passes + a
      checkpoint over the edge set, the dominant per-round cost at
      scale). The test must NOT run on the raw normalized input:
      pre-round edges are unoriented, and a root listed as a SOURCE
      — e.g. the single edge (1, 2) — passes the star shape test
      but is not a fixpoint of the round function.
    """
    edges = pin(_normalize_edges(pairs, a_col, b_col), truncate=True)
    prev = _checksum(edges)
    # the driver tier needs Python's ordering to agree with Spark's
    # min/least semantics — guaranteed for integral and BINARY-
    # collated string ids, the only id families the dedup stages
    # emit; anything else stays on the distributed loop. Strings are
    # gated by EXACT type equality, not isinstance (ADVICE r16): on
    # Spark 4.x a collation-tagged StringType (e.g. UTF8_LCASE) is
    # still a StringType instance, but its min/least uses collation
    # order while Python compares code points — so only the default
    # binary collation qualifies. Doubles stay distributed too (NaN
    # orders differently).
    _int_dt = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    _id_dt = edges.schema[0].dataType
    if (prev[0] <= DRIVER_EDGE_BOUND
            and _id_dt == edges.schema[1].dataType
            and (isinstance(_id_dt, _int_dt)
                 or _id_dt == T.StringType())):
        return _driver_components(edges)
    for _ in range(MAX_ROUNDS):
        edges = pin(_small_star(_large_star(edges)), truncate=True)
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
        if cur[0] == cur[1] and _is_star_union(edges):
            break
    roots = edges.select(F.col("u").alias("node"),
                         F.col("v").alias("component"))
    self_rows = roots.select(F.col("component").alias("node"),
                             F.col("component"))
    return roots.union(self_rows).distinct()


def resolve_clusters(docs: DataFrame, pairs: DataFrame,
                     id_col: str = "doc_id", a_col: str = "doc_a",
                     b_col: str = "doc_b") -> DataFrame:
    """Every doc labeled with its duplicate-cluster id (component min;
    singletons label themselves). One left join against the component
    map — the map is tiny relative to the corpus (only docs that
    collided), so Catalyst broadcasts it in the common case."""
    comp = connected_components(pairs, a_col, b_col)
    labels = comp.select(F.col("node").alias(id_col),
                         F.col("component").alias("cluster_id"))
    return (docs.join(labels, id_col, "left")
                .withColumn("cluster_id",
                            F.coalesce("cluster_id", F.col(id_col))))


def canonical_docs(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id", prefer_col: str | None = None,
                   a_col: str = "doc_a", b_col: str = "doc_b") -> DataFrame:
    """Keep exactly one representative per duplicate cluster.

    Default keeps the min id; with ``prefer_col`` keeps the highest
    value of that column (quality score, length, …) with id as the
    deterministic tiebreak. Single window over the cluster key — no
    join-back."""
    labeled = resolve_clusters(docs, pairs, id_col, a_col, b_col)
    order = ([F.col(prefer_col).desc()] if prefer_col else []) \
        + [F.col(id_col).asc()]
    w = Window.partitionBy("cluster_id").orderBy(*order)
    return (labeled.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1)
                   .drop("__rn", "cluster_id"))


def source_overlap_matrix(pairs: DataFrame, docs: DataFrame,
                          id_col: str = "doc_id",
                          source_col: str = "source",
                          a_col: str = "doc_a",
                          b_col: str = "doc_b") -> DataFrame:
    """(source_a, source_b, n_pairs): how many near-duplicate pairs
    connect each pair of sources — the audit that answers "which
    crawls/dumps duplicate each other" before deciding per-source
    keep priorities (``resolve_clusters`` preference columns,
    ``cap_per_group`` quotas). The diagonal (source_a == source_b) is
    within-source duplication.

    Source pairs are canonicalized unordered (least/greatest), so the
    matrix is upper-triangular and a pair is never double-counted.

    Scale shape: ``docs`` is pruned to (id, source) BEFORE joining —
    text never enters either join — and the pair table is already
    bounded by whatever dedup path produced it (banding, star guards).
    Two id-keyed joins + one tiny groupBy; join strategy left to AQE
    (the id→source side may be broadcast-able or not depending on
    corpus size)."""
    src = docs.select(F.col(id_col).alias("__id"),
                      F.col(source_col).alias("__src"))
    labeled = (pairs
               .select(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
               .join(src.withColumnRenamed("__id", "__a")
                     .withColumnRenamed("__src", "__sa"), "__a")
               .join(src.withColumnRenamed("__id", "__b")
                     .withColumnRenamed("__src", "__sb"), "__b"))
    # least/greatest SKIP nulls (a NULL-source doc would collapse a
    # cross pair onto the other source's diagonal); canonicalize with
    # a null-safe order instead — NULL sorts first, so it stays a
    # distinct "unknown source" row in the matrix
    a_first = (F.col("__sa").isNull()
               | (F.col("__sb").isNotNull()
                  & (F.col("__sa") <= F.col("__sb"))))
    return (labeled
            .select(F.when(a_first, F.col("__sa"))
                    .otherwise(F.col("__sb")).alias("source_a"),
                    F.when(a_first, F.col("__sb"))
                    .otherwise(F.col("__sa")).alias("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_pairs")))
