"""Round-15 optimization pins: the bounded RRF leg window. (The minhash
verify's once-per-document shingling pin lives in tests/test_near_dups.py,
the SemDeDup gram-kernel pins in tests/test_semdedup.py.)"""

from __future__ import annotations

import pytest

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
