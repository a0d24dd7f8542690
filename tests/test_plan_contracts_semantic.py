"""FAST-tier plan-shape contracts for the embedding/SemDeDup verify
stage (moved out of the slow-marked recall suites in round 8 so the
default ``pytest -q`` run guards the broadcast strategy — the round-7
fix these pin was merged with only slow-tier coverage). The verify
has one strategy: a plain candidate→vector join whose strategy AQE
picks, so no broadcast hint may appear over its candidates; the
screen in front of it reads vectors from a gathered broadcast matrix
or through an id-keyed join, chosen by id type and corpus size.

The broadcast-subtree assertion walks the analyzed-plan TREE (by
indent depth), not string line-adjacency: Spark is free to interpose
Project/Filter nodes between the hint and its materialized child, and
the round-7 ADVICE flagged the adjacency form as version-fragile.
"""

from __future__ import annotations

import re

from big_data_bowl___2023_spark.dedup.semantic import (
    kmeans_assign,
    semantic_dup_pairs,
)
from big_data_bowl___2023_spark.sources.io import load_table

THRESH = 0.4

_NODE = re.compile(r"^(?P<prefix>(?:[:| ]*)(?:[+:]- )?)")


def _subtrees(plan: str, needle: str):
    """For every line containing ``needle``, yield the list of lines
    forming its subtree (all following lines with strictly deeper
    tree indentation) — tolerant of Spark's `:-`/`+-`/`:  ` art."""
    lines = plan.splitlines()
    depths = [len(_NODE.match(ln).group("prefix")) for ln in lines]
    for i, ln in enumerate(lines):
        if needle not in ln:
            continue
        sub = []
        for j in range(i + 1, len(lines)):
            if depths[j] <= depths[i] and lines[j].strip():
                break
            sub.append(lines[j])
        yield ln, sub


def test_semantic_verify_never_pins_raw_candidates(spark, sf_dir):
    """The round-6 scale defect: semantic_dup_pairs used to force-
    broadcast the RAW within-cluster pair set (~target_cluster/2 rows
    per corpus vector — linear in n). The raw candidates must flow
    through the vectorized prefilter (AQE joins), and the only
    permitted broadcast pin is over the materialized, counted
    survivor set — asserted on the plan TREE: each hint's subtree
    must bottom out in a LogicalRDD scan with no live Join under
    the hint."""
    from big_data_bowl___2023_spark.dedup.embedding import _np_prefilter
    from big_data_bowl___2023_spark.dedup.minhash import band_candidates

    emb = load_table(spark, sf_dir, "embeddings").limit(400)
    df = semantic_dup_pairs(emb, THRESH, k=8, dim=64, n=400)
    plan = df._jdf.queryExecution().analyzed().toString()
    hints = list(_subtrees(plan, "ResolvedHint"))
    assert len(hints) <= 1
    for ln, sub in hints:
        joined = "\n".join(sub)
        assert "LogicalRDD" in joined, f"{ln}\n{joined}"
        assert "Join" not in joined, (
            "broadcast hint sits over a live candidate-join subtree:"
            f"\n{ln}\n{joined}")
    # and the screening stage itself on its join path (the one the
    # gather rule takes past the ceiling): raw candidates reach the
    # einsum prefilter through plain AQE joins — MapInPandas present,
    # zero broadcast hints anywhere in that plan
    assigned = kmeans_assign(emb, k=8, dim=64)
    cand = band_candidates(assigned.select("id", "cluster"), None,
                           band_cols=("cluster",), id_col="id",
                           out_cols=("vec_a", "vec_b"))
    pre = _np_prefilter(assigned.select("id", "u"), cand, THRESH, None)
    pre_plan = pre._jdf.queryExecution().analyzed().toString()
    assert "MapInPandas" in pre_plan
    assert "ResolvedHint" not in pre_plan


def test_verify_exact_strategy_invariant(spark, sf_dir):
    """_verify_exact's one strategy: no broadcast hint over the
    candidates (AQE picks the join at run time), and the verified
    pairs and 6-dp cosines equal the numpy reference over the same
    candidates."""
    from big_data_bowl___2023_spark.dedup.embedding import (
        _gemm_candidates,
        _normalized,
        _verify_exact,
    )
    from big_data_bowl___2023_spark.session import pin
    from vector_reference import round6, vectors

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    v = pin(_normalized(emb, "embedding", "vec_id"))
    cand = _gemm_candidates(v, THRESH, 4)
    out = _verify_exact(v, cand, THRESH)
    got = {(r.vec_a, r.vec_b, r.cosine) for r in out.collect()}
    u = vectors(v, "id", "u")
    want = set()
    for r in cand.collect():
        d = float(u[r.vec_a] @ u[r.vec_b])
        if d >= THRESH:
            want.add((r.vec_a, r.vec_b, round6(d)))
    assert got == want and got
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
