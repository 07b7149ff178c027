"""llm/cluster.py — deterministic k-means and IVF unit tests (SemDeDup:
tests/test_semdedup.py).

Beyond-reference operators (the pandas reference has no vector ops);
the determinism contract (integer quantization, exact int64 distance
algebra, hash-seeded init) is what makes the DuckDB oracle in
__spark_entry__.py able to replay the full Lloyd iteration bit-for-bit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gluestick_spark.llm.cluster import (
    int_dot_expr,
    kmeans,
    quantize_vec_expr,
)

SF_DIR = "/root/testdata/sf0.001"


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "id long, v array<double>")


def test_quantize_floor_half_up(spark):
    df = _vecs(spark, [(1, [0.0014, -0.0015, 1.9996])])
    got = df.select(quantize_vec_expr(F.col("v")).alias("q")).first()["q"]
    # floor(x*1000 + 0.5): 1.9 -> 1, -1.0 -> -1 (floor, not trunc), 2000.1 -> 2000
    assert got == [1, -1, 2000]


def test_int_dot_exact(spark):
    df = spark.createDataFrame(
        [(1, [3, -2, 1000000], [4, 5, 1000000])], "id long, a array<long>, b array<long>"
    )
    got = df.select(int_dot_expr(F.col("a"), F.col("b")).alias("d")).first()["d"]
    assert got == 3 * 4 - 2 * 5 + 1000000 * 1000000


def test_kmeans_partition_invariance(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = kmeans(e, "embedding", "vec_id", k=4, iters=1)
    b = kmeans(e.repartition(7, "label"), "embedding", "vec_id", k=4, iters=1)
    rows_a = sorted((r["vec_id"], r["cid"]) for r in a.collect())
    rows_b = sorted((r["vec_id"], r["cid"]) for r in b.collect())
    assert rows_a == rows_b
    assert len(rows_a) == e.count()


def test_kmeans_k_ge_n(spark):
    # k larger than the row count: every row seeds its own cluster and
    # (with 0 iters) each point is its own nearest centroid.
    df = _vecs(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])])
    out = kmeans(df, "v", "id", k=10, iters=0)
    got = {r["id"]: r["cid"] for r in out.collect()}
    assert len(got) == 3 and len(set(got.values())) == 3


def test_kmeans_empty_input(spark):
    df = _vecs(spark, []).where(F.lit(False))
    out = kmeans(df, "v", "id", k=3, iters=1)
    assert out.count() == 0
    assert out.columns == ["id", "cid"]


def test_kmeans_tie_breaks_to_smallest_cid(spark):
    # Point [0,0] is exactly equidistant from the two seeds; the struct
    # array_min tie-break must pick the smaller cluster id.
    df = _vecs(spark, [(1, [1.0, 0.0]), (2, [-1.0, 0.0]), (3, [0.0, 0.0])])
    out, state = kmeans(df, "v", "id", k=2, iters=0, return_state=True)
    got = {r["id"]: r["cid"] for r in out.collect()}
    assert got[3] == 0
    assert len(state) == 2 and all(n == 1 for _, n in state)


def test_kmeans_empty_cluster_keeps_state(spark):
    # All points identical: after one update, one cluster holds everything
    # and the other keeps its seed state instead of dividing by zero.
    df = _vecs(spark, [(i, [1.0, 1.0]) for i in range(1, 6)])
    out, state = kmeans(df, "v", "id", k=2, iters=1, return_state=True)
    assert out.count() == 5
    counts = sorted(n for _, n in state)
    assert counts == [1, 5]  # untouched seed keeps n=1


def test_kmeans_validates_args(spark):
    df = _vecs(spark, [(1, [1.0])])
    with pytest.raises(ValueError):
        kmeans(df, "v", "id", k=0)
    with pytest.raises(ValueError):
        kmeans(df, "v", "id", k=1, iters=-1)


def test_kmeans_assignment_plan_is_narrow(spark):
    # The returned assignment is a pure map over the pinned points —
    # no join/exchange (the 100 TB contract: k·(d+1) ints of driver state,
    # never a shuffle per assignment).
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = kmeans(e, "embedding", "vec_id", k=4, iters=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_kmeans_join_assign_equivalent(spark):
    # The broadcast-join assignment (large-k physical strategy) must
    # produce bit-identical assignments to the literal expression,
    # including the exact-tie -> smallest-cid rule.
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    lit_rows = sorted(
        (r["vec_id"], r["cid"])
        for r in kmeans(e, "embedding", "vec_id", k=5, iters=2, assign="literal").collect()
    )
    join_rows = sorted(
        (r["vec_id"], r["cid"])
        for r in kmeans(e, "embedding", "vec_id", k=5, iters=2, assign="join").collect()
    )
    assert lit_rows == join_rows

    tie = _vecs(spark, [(1, [1.0, 0.0]), (2, [-1.0, 0.0]), (3, [0.0, 0.0])])
    got = {r["id"]: r["cid"] for r in kmeans(tie, "v", "id", k=2, iters=0, assign="join").collect()}
    assert got[3] == 0  # equidistant tie still breaks to smallest cid


def test_kmeans_join_assign_plan_shape(spark):
    # join mode: centroid side is BROADCAST and the argmin collapse is
    # partially aggregated — exactly one exchange of N rows, never N·k.
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = kmeans(e, "embedding", "vec_id", k=4, iters=0, assign="join")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan  # map-side combine before the exchange


def test_kmeans_assign_validated(spark):
    df = _vecs(spark, [(1, [1.0])])
    with pytest.raises(ValueError):
        kmeans(df, "v", "id", k=1, iters=0, assign="bogus").collect()


# ---------------------------------------------------------------------------
# ivf_topk_exact
# ---------------------------------------------------------------------------

def test_ivf_exact_full_probe_equals_brute_force(spark):
    from gluestick_spark.llm.cluster import ivf_topk_exact

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = list(e.where("vec_id = 0").first()["embedding"])
    # nprobe = n_clusters: nothing pruned -> exact quantized top-k
    full = ivf_topk_exact(e, "embedding", "vec_id", q, k=5, n_clusters=4, nprobe=4).collect()
    rows = e.select("vec_id", "embedding").collect()

    def qz(v):
        from math import floor
        return [floor(x * 1000 + 0.5) for x in v]

    qq = qz(q)
    brute = sorted(
        (sum((a - b) ** 2 for a, b in zip(qz(r["embedding"]), qq)), r["vec_id"])
        for r in rows
    )[:5]
    assert [(r["ivf_dist"], r["vec_id"]) for r in full] == brute


def test_ivf_exact_probe_subset_of_full(spark):
    from gluestick_spark.llm.cluster import ivf_topk_exact

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = list(e.where("vec_id = 1").first()["embedding"])
    pruned = ivf_topk_exact(e, "embedding", "vec_id", q, k=50, n_clusters=4, nprobe=1).collect()
    full = ivf_topk_exact(e, "embedding", "vec_id", q, k=500, n_clusters=4, nprobe=4).collect()
    full_d = {r["vec_id"]: r["ivf_dist"] for r in full}
    # every pruned result is a true distance (pruning never fabricates)
    assert all(full_d[r["vec_id"]] == r["ivf_dist"] for r in pruned)
    # the query's own cluster is always probed -> query itself found
    assert pruned[0]["vec_id"] == 1 and pruned[0]["ivf_dist"] == 0


def test_ivf_exact_validates(spark):
    from gluestick_spark.llm.cluster import ivf_topk_exact

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError):
        ivf_topk_exact(e, "embedding", "vec_id", [0.0] * 64, nprobe=0)


def test_ivf_exact_plan_take_ordered_no_shuffle(spark):
    from gluestick_spark.llm.cluster import ivf_topk_exact

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = ivf_topk_exact(e, "embedding", "vec_id", [0.1] * 64, k=3, n_clusters=4, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan  # literal assign: narrow scan
