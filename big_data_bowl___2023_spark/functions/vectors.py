"""Vector (embedding-column) expressions — similarity-search surface
over ``array<float>`` columns (FIXTURES.md §B ``embeddings``).

Everything is built-in higher-order functions (``zip_with`` /
``aggregate``): JVM-side, no UDF, no Arrow hop. Float32 inputs are
cast to double first so the arithmetic (and the left-to-right fold
order) is reproducible across engines — the oracle computes the same
dot product in the same order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ via zip_with + left-fold aggregate."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs (no ANSI div/0)."""
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)
                  ).otherwise(F.lit(0.0))


def l2_normalize(vec: Column) -> Column:
    """Unit-scale a vector once so pairwise cosine becomes a single
    dot product. In an O(n²) pair kernel this removes two norm folds
    per PAIR (they were being recomputed n times per vector) — the
    difference between 100 s and 30 s at sf0.1, and between feasible
    and not at corpus scale.

    PRECONDITION: a positive finite norm. A zero-norm input yields
    NaN components, and Spark sorts NaN GREATEST, so a NaN cosine
    would satisfy every ``>= threshold`` filter and top every
    ranking (the round-7 ADVICE finding). Callers filter degenerate
    rows FIRST with :func:`has_unit_normalizable` — a row-level
    norm-fold predicate, which measured ~20-25% cheaper on the
    sf0.1 dedup bench than guarding inside this expression (the
    when()-wrapped variant re-evaluates the norm fold per row in an
    interpreted higher-order-function branch).

    The norm must be hoisted OUT of the per-element lambda: a
    ``transform(vec, x -> x / n)`` embeds the O(d) norm fold in the
    lambda body, and interpreted higher-order functions have no
    common-subexpression elimination, so the fold re-runs per
    ELEMENT — O(d²) per row (measured 19x slower at 200k x dim 64).
    ``array_repeat(n, size(vec))`` evaluates the fold exactly once
    per row; the zip_with division then computes the same ``x / n``
    per element, so results stay bit-identical to the naive form
    (and to the DuckDB oracle's arithmetic)."""
    n = norm(vec)
    return F.zip_with(vec, F.array_repeat(n, F.size(vec)),
                      lambda x, m: x / m)


def has_unit_normalizable(vec: Column) -> Column:
    """Predicate: ``vec`` has a positive norm and no NaN component —
    the precondition for :func:`l2_normalize`. Applied as a plain
    row filter before normalization (one extra norm fold per row,
    pushed ahead of the transform), so degenerate vectors drop out
    of pair/search paths instead of surfacing NaN similarities; see
    dedup.embedding._normalized for the engine-wide policy."""
    n = norm(vec)
    # finite too: an Inf component gives norm=Inf (not NaN, > 0), and
    # Inf/Inf in the transform is NaN again — the exact leak the
    # predicate exists to stop
    return ~F.isnan(n) & (n > 0) & (n < F.lit(float("inf")))


def stack_batch(values) -> "numpy.ndarray":
    """Stack an Arrow-batch column of array<double> rows into one
    (n, dim) float64 matrix — THE conversion every numpy kernel
    (GEMM prefilters, einsum screens, assignment/scoring kernels)
    uses. One definition so a future change (dtype pin, ragged-row
    guard) lands everywhere at once instead of drifting across
    copy-pasted sites."""
    import numpy as np

    return np.asarray([np.asarray(x) for x in values],
                      dtype=np.float64)


def gather_unit_matrix(v, id_col: str = "id", vec_col: str = "u"):
    """Gather a (small-enough) vector table driver-side as
    ``(sorted_ids, perm, matrix)`` — the shared machinery of every
    broadcast-gather kernel (candidate prefilter, pair scoring).
    ``matrix[perm[i]]`` is the vector of ``sorted_ids[i]``. Arrow
    transfer via toPandas (NOT collect: 512k Row objects of boxed
    floats cost several times the 260 MB matrix in transient driver
    memory). The caller owns the broadcast of the returned triple
    and its lifetime (see the eager-unpersist convention in
    streaming/curation.py)."""
    import numpy as np

    pdf = v.select(id_col, vec_col).toPandas()
    M = stack_batch(pdf[vec_col])
    # ids resolve through int64 searchsorted downstream: a string id
    # would crash here opaquely, and a non-integer numeric would
    # silently TRUNCATE (1.2 and 1.7 collide → wrong vectors). The
    # rest of the family treats id type as the caller's contract, so
    # fail loudly instead of miscomputing.
    if pdf[id_col].dtype.kind not in "iu":
        raise TypeError(
            f"gather-based kernels need integer ids; {id_col!r} has "
            f"dtype {pdf[id_col].dtype} — cast ids to long (the pair "
            f"entry points route non-integer ids through the id-keyed "
            f"join instead)")
    ids = pdf[id_col].to_numpy(dtype="int64")
    order = np.argsort(ids, kind="stable")
    return ids[order], order, M


def resolve_gathered_ids(sorted_ids, perm, col):
    """Vectorized id → matrix-row resolve against a gathered table:
    ``(rows, ok)`` where ``rows[i]`` indexes the matrix and ``ok[i]``
    is False for ids absent from the table (the caller masks those
    pairs out — matching what a join drops implicitly). searchsorted
    (C, O(log n) per id) — a pandas ``.map(dict)`` first cut measured
    +45 s at 47M pairs."""
    import numpy as np

    hi = len(sorted_ids)
    raw = col.to_numpy(dtype="int64")
    pos = np.searchsorted(sorted_ids, raw)
    pos_c = np.minimum(pos, hi - 1)
    ok = (pos < hi) & (sorted_ids[pos_c] == raw)
    return perm[pos_c], ok
