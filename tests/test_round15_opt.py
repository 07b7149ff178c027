"""Round-15 optimization pins: the bounded RRF leg window and the
minhash verify's once-per-document shingling. (The SemDeDup gram-kernel
pins live in tests/test_semdedup.py.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gluestick_spark import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-r15-opt")


def test_rrf_leg_truncation_bounds_the_rank_window(spark):
    """rrf_fuse(leg_k=) on a single-query leg must (a) keep the exact
    fused result of rank-then-filter — including ties straddling the
    truncation boundary, where (score, id) total order decides — and
    (b) k-bound the rank window structurally: the physical plan takes
    the leg's top-leg_k rows (TakeOrderedAndProject) BELOW the window,
    never sorting the whole leg in one partition."""
    from gluestick_spark.llm.retrieval import rrf_fuse

    # 100-row leg; scores collide in coarse buckets so the boundary rank
    # (leg_k=7 below) falls inside a tie group decided by id asc
    leg = spark.createDataFrame(
        [(i, float(i % 5)) for i in range(100)], "doc_id long, s double"
    )
    out = rrf_fuse([(leg, "s", False)], "doc_id", k_const=60, leg_k=7)
    got = {r["doc_id"]: r["rrf_score"] for r in out.collect()}
    # hand ranks: s desc, id asc — the whole top-7 sits inside the
    # 20-member s=4.0 tie group (ids 4, 9, 14, …), decided by id asc
    c = lambda r: 10**9 // (60 + r)  # noqa: E731
    assert got == {4 + 5 * j: c(j + 1) for j in range(7)}
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan
    # without leg_k the full ranking is demanded -> no truncation node
    full = rrf_fuse([(leg, "s", False)], "doc_id", k_const=60)
    fplan = full._sc._jvm.PythonSQLUtils.explainString(
        full._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" not in fplan


def test_minhash_verify_shingles_survivor_docs_once(spark):
    """The exact-Jaccard verify computes shingle sets once per candidate
    DOCUMENT per side (corpus semi-joined to the pinned pair ids) —
    never per pair occurrence (unbounded on dup-heavy corpora: the 10x
    replica probe measured 48 s vs 12 s) and never over every corpus
    document. Pins: (a) the candidate chain is pinned (ExistingRDD in
    the final plan, so the signature/bucket stages run once for the two
    semi-joins + pair join); (b) exactly TWO shingle computations (one
    per side) appear in the final plan — the shingle expression's
    'concat_ws( , slice(' spine is its stable fingerprint; (c) results
    equal brute force on a dup-heavy fixture."""
    from itertools import combinations

    from gluestick_spark.llm.dedup import minhash_near_dup_pairs
    from gluestick_spark.llm.text import shingles_expr
    from pyspark.sql import functions as F

    rows = [(i, f"the quick brown fox jumps over the lazy dog rep{i % 3}")
            for i in range(12)] + [(100, "an entirely different document "
            "about spark shuffles and joins at scale")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_near_dup_pairs(df, "text", "doc_id", threshold=0.7)
    got = {(r["a"], r["b"]): r["jaccard"] for r in out.collect()}
    # brute force over all pairs with the same shingle/jaccard exprs
    sh = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", F.array_distinct(shingles_expr(F.col("text"), 3)).alias("sh")
        ).collect()
    }
    def jac(a, b):
        sa, sb = set(sh[a]), set(sh[b])
        return len(sa & sb) / len(sa | sb) if sa | sb else 0.0
    want = {
        (a, b): jac(a, b)
        for a, b in combinations(sorted(sh), 2)
        if jac(a, b) >= 0.7
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    # AQE prints the final AND the initial plan; count in the final only
    plan = plan.split("== Initial Plan ==")[0]
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert plan.count("concat_ws( , slice(") == 2
