"""int8 scalar-quantized (SQ) ANN serving: the quantizer, direct and
indexed top-k (``llm/similarity.py``), the IVF×SQ index — build, append,
commit bracket, rebalance, delete, batched serving (``llm/cluster.py``) —
and the one scoring fold they share.

Every single-query path scores with ``similarity._sq_score_expr``: one
higher-order fold holding the query literals, so a new query compiles no
class and no generated method outgrows the JIT limit. The in-query IVF
paths' probed-cell filter (``ivf_cells.in_probes``) compiles nothing per
probe set either. The codegen tests read Spark's own code-generator
metrics; the formula test pins the scores to the unrolled form the fold
replaced.
"""

from __future__ import annotations

import math
import os
import random

import pytest
from pyspark.sql import functions as F

from gluestick_spark.llm.similarity import (
    quantize_embeddings,
    quantize_query,
    sq_quantize_exprs,
    sq_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _sin_emb(spark, n=300, dim=8):
    rows = [
        (i, [math.sin(0.31 * i + j) + 0.01 * ((i * (j + 2)) % 5) for j in range(dim)])
        for i in range(n)
    ]
    return _emb(spark, rows)


def _skewed_embeddings(spark, n=400, dim=8):
    rows = []
    for i in range(n):
        if i % 5 != 0:  # 80%: hot region with tiny deterministic jitter
            v = [1.0 + 0.001 * ((i * (j + 3)) % 7) for j in range(dim)]
        else:  # 20%: spread by angle
            v = [math.sin(0.7 * i + j) for j in range(dim)]
        rows.append((i, [float(x) for x in v]))
    return _emb(spark, rows)


def _topk_ids(df):
    return [tuple(r) for r in df.collect()]


# -------------------------------------------------------- quantizer ----


def test_quantize_query_matches_engine_quantizer(spark):
    rng = random.Random(5)
    vecs = [
        [0.37, -1.92, 0.003, 1.92],
        [0.0] * 4,  # zero vector: scale 0, all-zero codes
        [-0.5, -3.25, -1e-9, -2.0],  # all negative
        [-2.5, 2.5, 1.25, -0.01],  # both ends of the ±127 clamp
    ] + [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(200)]
    e = _emb(spark, list(enumerate(vecs)))
    rows = {
        r["vec_id"]: r
        for r in quantize_embeddings(e, "embedding", "vec_id").collect()
    }
    assert len(rows) == len(vecs)
    for i, vec in enumerate(vecs):
        scale, codes = quantize_query(vec)
        assert rows[i]["scale"] == pytest.approx(scale, abs=0.0)  # bit-identical
        assert [int(c) for c in rows[i]["qvec"]] == codes
    assert quantize_query(vecs[1]) == (0.0, [0, 0, 0, 0])
    assert min(quantize_query(vecs[2])[1]) == -127
    assert quantize_query(vecs[3])[1][:2] == [-127, 127]


def test_sq_encoder_folds_row_max_once(spark):
    # Lambda bodies get no common-subexpression elimination: a row max
    # referenced inside the per-element lambda is re-folded for every
    # element (O(d²) per row). It must be bound once, outside it.
    _, codes = sq_quantize_exprs(F.col("embedding"))
    plan = (
        _emb(spark, [(1, [1.0, -2.0])])
        .select(codes.alias("q"))
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert plan.count("array_max(") == 1


def test_sq_quantization_error_bound(spark):
    """Dequantized values are within scale/2 of the originals — the
    int8 quantizer's defining guarantee (floor(x/s + 0.5) rounds to the
    nearest code, codes clamp only beyond |x| = amax)."""
    from gluestick_spark.llm.similarity import (
        dequantize_expr,
        quantize_embeddings,
    )

    rows = [(i, [((i * 37 + j * 11) % 200 - 100) / 25.0 for j in range(16)])
            for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    enc = quantize_embeddings(df, "embedding", "vec_id")
    joined = df.join(enc, "vec_id").select(
        "vec_id", "scale",
        F.arrays_zip(
            F.col("embedding"), dequantize_expr(F.col("qvec"), F.col("scale"))
        ).alias("z"),
    )
    bad = joined.select(
        F.filter(
            "z", lambda p: F.abs(p["embedding"] - p["1"]) > F.col("scale") / 2 + F.lit(1e-12)
        ).alias("viol")
    ).where(F.size("viol") > 0)
    assert bad.count() == 0


# --------------------------------------- direct and indexed sq_topk ----


def test_sq_topk_ordering_and_scores(spark):
    e = _emb(
        spark,
        [
            (0, [1.0, 0.0]),     # query: aligned with itself
            (1, [2.0, 0.0]),     # same direction, bigger norm -> top score
            (2, [0.0, 1.0]),     # orthogonal -> 0
            (3, [-1.0, 0.0]),    # opposite -> negative
        ],
    )
    got = sq_topk(e, "embedding", "vec_id", [1.0, 0.0], k=4).collect()
    ids = [r["vec_id"] for r in got]
    assert ids[0] == 1 and set(ids[:2]) == {0, 1}
    scores = {r["vec_id"]: r["score"] for r in got}
    assert scores[1] == pytest.approx(2.0, abs=0.02)
    assert scores[0] == pytest.approx(1.0, abs=0.02)
    assert scores[2] == pytest.approx(0.0, abs=1e-12)
    assert scores[3] == pytest.approx(-1.0, abs=0.02)


def test_sq_topk_zero_vectors_score_zero(spark):
    e = _emb(spark, [(1, [0.0, 0.0]), (2, [1.0, 1.0])])
    scores = {
        r["vec_id"]: r["score"]
        for r in sq_topk(e, "embedding", "vec_id", [1.0, 1.0], k=2).collect()
    }
    assert scores[1] == 0.0
    # zero QUERY kills every score too
    all_zero = sq_topk(e, "embedding", "vec_id", [0.0, 0.0], k=2).collect()
    assert all(r["score"] == 0.0 for r in all_zero)


def test_sq_topk_no_shuffle_plan(spark):
    e = _emb(spark, [(i, [float(i), 1.0]) for i in range(20)])
    plan = (
        sq_topk(e, "embedding", "vec_id", [1.0, 0.0], k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_sq_indexed_equals_direct(spark, tmp_dir):
    import os

    from gluestick_spark.llm.similarity import materialize_sq, sq_topk_indexed

    e = _emb(spark, [(i, [float((i * 7) % 13), float((i * 3) % 5), 1.0])
                     for i in range(40)])
    q = [1.0, 2.0, 0.5]
    direct = sq_topk(e, "embedding", "vec_id", q, k=8).collect()
    path = os.path.join(tmp_dir, "sqidx")
    materialize_sq(e, "embedding", path)
    indexed = sq_topk_indexed(spark, path, q, k=8).collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in indexed]
    # the index stores int8 codes + one scale, never the float vectors
    cols = set(spark.read.parquet(path).columns)
    assert cols == {"vec_id", "scale", "qvec"}


# ------------------------------------------------ in-query IVF x SQ ----


def test_sq_ivf_subset_of_full_sq(spark):
    from gluestick_spark.llm.cluster import sq_ivf_topk

    # two well-separated clusters; query sits in cluster A — with
    # nprobe=1 the pruned ranking must be a prefix-consistent subset of
    # the full SQ ranking restricted to cluster A
    rows = [(i, [10.0 + (i % 5) * 0.1, 10.0]) for i in range(10)]
    rows += [(100 + i, [-10.0 - (i % 5) * 0.1, -10.0]) for i in range(10)]
    e = _emb(spark, rows)
    q = [10.0, 10.0]
    pruned = sq_ivf_topk(e, "embedding", "vec_id", q, k=5,
                         n_clusters=2, nprobe=1, iters=2)
    ids = [r["vec_id"] for r in pruned.collect()]
    assert len(ids) == 5 and all(i < 100 for i in ids)  # far cluster pruned
    full = sq_topk(e.where(F.col("vec_id") < 100), "embedding", "vec_id", q, k=5)
    assert ids == [r["vec_id"] for r in full.collect()]  # identical ranking


def test_sq_ivf_nprobe_all_equals_sq_topk(spark):
    from gluestick_spark.llm.cluster import sq_ivf_topk

    rows = [(i, [float((i * 7) % 13), float((i * 3) % 5), 1.0])
            for i in range(30)]
    e = _emb(spark, rows)
    q = [1.0, 2.0, 0.5]
    ivf = sq_ivf_topk(e, "embedding", "vec_id", q, k=8,
                      n_clusters=4, nprobe=4, iters=1)
    full = sq_topk(e, "embedding", "vec_id", q, k=8)
    assert [tuple(r) for r in ivf.collect()] == [tuple(r) for r in full.collect()]


def test_sq_ivf_validates(spark):
    from gluestick_spark.llm.cluster import sq_ivf_topk

    e = _emb(spark, [(1, [1.0, 0.0])])
    with pytest.raises(ValueError):
        sq_ivf_topk(e, "embedding", "vec_id", [1.0, 0.0], nprobe=0)


# ----------------------------------------- persisted IVF x SQ index ----


def test_sq_ivf_index_requires_router_commit(spark, tmp_dir):
    """_ROUTER.json is written LAST (atomic replace) — a torn build has
    no router and serving refuses loudly instead of probing a
    half-written index (the band-index lesson applied)."""
    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_topk_indexed,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q = list(emb.first()["embedding"])
    path = os.path.join(tmp_dir, "idx")
    materialize_sq_ivf(emb, "embedding", "vec_id", path, n_clusters=4)
    assert sq_ivf_topk_indexed(spark, path, q, k=3, nprobe=2).count() == 3
    os.remove(os.path.join(path, "_ROUTER.json"))
    with pytest.raises(ValueError, match="uncommitted"):
        sq_ivf_topk_indexed(spark, path, q, k=3, nprobe=2)


def test_sq_ivf_append_serves_like_rebuild(spark, tmp_dir):
    """sq_ivf_append assigns the new batch against the FROZEN persisted
    router and appends codes into the cell directories — serving the
    grown index must equal in-query sq_ivf_topk over the union with the
    same router geometry... which a rebuild can't give (it would retrain
    on the union), so the honest check is: append(half2) onto
    index(half1) ≡ an index built from half1's router applied to both
    halves = every half2 vector present, scored identically to its
    standalone quantization."""
    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_append,
        sq_ivf_topk_indexed,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    mid = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).first()[0]
    h1, h2 = emb.where(F.col("vec_id") <= mid), emb.where(F.col("vec_id") > mid)
    q = list(emb.first()["embedding"])
    path = os.path.join(tmp_dir, "idx")
    materialize_sq_ivf(h1, "embedding", "vec_id", path, n_clusters=4)
    before = {r["vec_id"] for r in
              sq_ivf_topk_indexed(spark, path, q, k=50, nprobe=4).collect()}
    sq_ivf_append(h2, "embedding", "vec_id", path)
    after = sq_ivf_topk_indexed(spark, path, q, k=10**6, nprobe=4)
    got = {r["vec_id"]: r["score"] for r in after.collect()}
    # with all cells probed, EVERY vector of both halves is served
    assert set(got) == {r["vec_id"] for r in emb.collect()}
    assert before <= set(got)
    # appended vectors score exactly as their standalone SQ quantization
    from gluestick_spark.llm.similarity import sq_topk

    direct = {r["vec_id"]: r["score"]
              for r in sq_topk(h2, "embedding", "vec_id", q, k=10**6).collect()}
    assert all(got[v] == s for v, s in direct.items())
    # appending to a torn index refuses loudly
    os.remove(os.path.join(path, "_ROUTER.json"))
    with pytest.raises(ValueError, match="uncommitted"):
        sq_ivf_append(h2, "embedding", "vec_id", path)


def test_sq_ivf_index_empty_corpus(spark, tmp_dir):
    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_topk_indexed,
    )

    emb = spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).where(F.lit(False))
    path = os.path.join(tmp_dir, "idx")
    materialize_sq_ivf(emb, "embedding", "vec_id", path, n_clusters=4)
    out = sq_ivf_topk_indexed(spark, path, [0.1, 0.2], k=3, nprobe=2)
    assert out.count() == 0
    assert out.columns == ["vec_id", "score"]


def test_sq_ivf_append_commit_bracket(spark, tmp_dir):
    """A missing _ROUTER.json (torn BUILD) refuses loudly in serving and
    append; a successful append leaves the router in place. (Append-torn
    state is owned by the _APPEND_INPROGRESS manifest since r11 — see
    test_append_manifest_* below.)"""
    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_append,
        sq_ivf_topk_indexed,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    mid = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).first()[0]
    h1 = emb.where(F.col("vec_id") <= mid)
    h2 = emb.where(F.col("vec_id") > mid)
    q = list(emb.first()["embedding"])
    path = os.path.join(tmp_dir, "idx")
    materialize_sq_ivf(h1, "embedding", "vec_id", path, n_clusters=4)
    router = os.path.join(path, "_ROUTER.json")

    # successful append re-commits the marker and serves the new rows
    sq_ivf_append(h2, "embedding", "vec_id", path)
    assert os.path.isfile(router)
    assert sq_ivf_topk_indexed(spark, path, q, k=3, nprobe=4).count() == 3

    # torn append: marker gone mid-append -> everything refuses loudly
    os.remove(router)
    with pytest.raises(ValueError, match="uncommitted"):
        sq_ivf_topk_indexed(spark, path, q, k=3, nprobe=4)
    with pytest.raises(ValueError, match="uncommitted"):
        sq_ivf_append(h2, "embedding", "vec_id", path)


def test_sq_ivf_torn_append_self_heals(spark, tmp_dir):
    """ADVICE r10: a torn append (sidecar present, unmanifested cell
    files) refuses serving loudly, and a RETRIED append rolls the torn
    batch back and re-appends — final index ≡ the clean-append index,
    no rebuild needed."""
    import json
    import shutil

    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_append,
        sq_ivf_topk_indexed,
    )
    from gluestick_spark.llm.index_commit import SIDECAR, _list_cell_files

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    mid = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).first()[0]
    h1 = emb.where(F.col("vec_id") <= mid)
    h2 = emb.where(F.col("vec_id") > mid)
    q = list(h2.first()["embedding"])
    path = os.path.join(tmp_dir, "idx")
    materialize_sq_ivf(h1, "embedding", "vec_id", path, n_clusters=4)
    pre_files = _list_cell_files(os.path.join(path, "cells"))

    sq_ivf_append(h2, "embedding", "vec_id", path)
    want = [r["vec_id"] for r in
            sq_ivf_topk_indexed(spark, path, q, k=5, nprobe=4).collect()]

    # simulate: that append TORE — sidecar holds the pre-append manifest,
    # so every h2 cell file is unmanifested
    with open(os.path.join(path, SIDECAR), "w") as f:
        json.dump({"files": pre_files, "cells": "cells"}, f)
    with pytest.raises(ValueError, match="in-progress or torn"):
        sq_ivf_topk_indexed(spark, path, q, k=5, nprobe=4)

    # retried append self-heals: rollback to pre_files, then re-append
    sq_ivf_append(h2, "embedding", "vec_id", path)
    got = [r["vec_id"] for r in
           sq_ivf_topk_indexed(spark, path, q, k=5, nprobe=4).collect()]
    assert got == want
    assert not os.path.exists(os.path.join(path, SIDECAR))
    shutil.rmtree(path)


def test_sq_ivf_rebalance_splits_and_serves(spark, tmp_dir):
    """Forced-skew append sequence → rebalance: the hot cell splits, the
    nprobe=all probe stays identical to exhaustive SQ scoring (no row
    lost or duplicated through the move), partition pruning still rides
    the scan, and append-after-rebalance routes into live cells only."""
    import json
    import os

    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_append,
        sq_ivf_topk_indexed,
    )
    from gluestick_spark.llm.rebalance import cell_sizes, sq_ivf_rebalance
    from gluestick_spark.llm.similarity import quantize_embeddings, sq_topk

    emb = _skewed_embeddings(spark)
    h1 = emb.where("vec_id < 100")
    h2 = emb.where("vec_id >= 100")
    path = os.path.join(tmp_dir, "sq_idx")
    # small router trained on the early slice, then a skewed append
    materialize_sq_ivf(h1, "embedding", "vec_id", path, n_clusters=4)
    sq_ivf_append(h2, "embedding", "vec_id", path)

    sizes0 = cell_sizes(spark, os.path.join(path, "cells"))
    q = [1.0] * 8  # query in the hot region
    n_cells0 = len(json.load(open(os.path.join(path, "_ROUTER.json")))["state"])
    before = _topk_ids(sq_ivf_topk_indexed(spark, path, q, k=10, nprobe=n_cells0))

    rep = sq_ivf_rebalance(spark, path, max_cell_rows=120, split_factor=2)
    assert rep["split"], rep  # the hot cell must have split
    meta = json.load(open(os.path.join(path, "_ROUTER.json")))
    assert sorted(meta["dead"]) == rep["split"]
    sizes1 = cell_sizes(spark, os.path.join(path, "cells"))
    assert sum(sizes1.values()) == sum(sizes0.values())  # content preserved
    assert max(sizes1.values()) < max(sizes0.values())  # skew reduced
    for cid in rep["split"]:  # dead dirs gone
        assert cid not in sizes1

    # nprobe=all (live) probe identical before/after the move AND equal
    # to exhaustive int8 scoring — the oracle-row contract
    n_live = len(meta["state"]) - len(meta["dead"])
    after = _topk_ids(sq_ivf_topk_indexed(spark, path, q, k=10, nprobe=n_live))
    assert after == before
    enc = quantize_embeddings(emb, "embedding", "vec_id")
    from gluestick_spark.llm.similarity import _sq_score_topk, quantize_query

    qs, qc = quantize_query(q)
    brute = _topk_ids(_sq_score_topk(
        enc.select(F.col("vec_id"), F.col("scale").alias("__sc__"),
                   F.col("qvec").alias("__qv__")), "vec_id", qs, qc, 10))
    assert after == brute

    # pruned probe still prunes: nprobe=1 reads one cell directory
    plan = sq_ivf_topk_indexed(spark, path, q, k=3, nprobe=1)._jdf \
        .queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # append-after-rebalance: new rows land in LIVE cells only and the
    # grown index still matches exhaustive scoring at nprobe=all
    extra = spark.createDataFrame(
        [(1000 + i, [1.0 + 0.0005 * i] * 8) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    sq_ivf_append(extra, "embedding", "vec_id", path)
    sizes2 = cell_sizes(spark, os.path.join(path, "cells"))
    assert all(cid not in sizes2 for cid in meta["dead"])
    grown = _topk_ids(sq_ivf_topk_indexed(spark, path, q, k=10, nprobe=n_live))
    enc2 = quantize_embeddings(emb.unionByName(extra), "embedding", "vec_id")
    brute2 = _topk_ids(_sq_score_topk(
        enc2.select(F.col("vec_id"), F.col("scale").alias("__sc__"),
                    F.col("qvec").alias("__qv__")), "vec_id", qs, qc, 10))
    assert grown == brute2


def test_sq_ivf_delete_serves_survivors_and_vacuum_purges(spark, tmp_dir):
    """Delete propagation (VERDICT r13 #2): tombstoned ids vanish from
    serving immediately; vacuum physically purges exactly the affected
    cells, drops fully-dead ones, clears the tombstones, and the probe
    answer is unchanged before/after vacuum — and equals exhaustive SQ
    scoring over the surviving rows."""
    import os

    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_append,
        sq_ivf_topk_indexed,
    )
    from gluestick_spark.llm.index_delete import (
        TOMBSTONES,
        sq_ivf_delete,
        tombstones,
        vacuum_deleted,
    )
    from gluestick_spark.llm.similarity import sq_topk

    emb = _sin_emb(spark)
    path = os.path.join(tmp_dir, "sq_idx")
    materialize_sq_ivf(
        emb.where("vec_id < 100"), "embedding", "vec_id", path, n_clusters=4
    )
    sq_ivf_append(emb.where("vec_id >= 100"), "embedding", "vec_id", path)

    q = [1.0] * 8
    # plant the delete set to INCLUDE the full corpus's top-3 — the test
    # cannot pass by accident
    top_full = [r["vec_id"] for r in sq_topk(emb, "embedding", "vec_id", q, 3).collect()]
    doom_pred = F.col("vec_id").isin(top_full) | (F.col("vec_id") % 7 == 3)
    doomed = emb.where(doom_pred).select("vec_id")
    n_doomed = doomed.count()
    assert sq_ivf_delete(spark, path, doomed) == n_doomed
    # idempotent re-delete
    assert sq_ivf_delete(spark, path, doomed) == n_doomed

    survivors = emb.where(~doom_pred)
    brute = [
        tuple(r) for r in sq_topk(survivors, "embedding", "vec_id", q, 10).collect()
    ]
    got = [
        tuple(r)
        for r in sq_ivf_topk_indexed(spark, path, q, k=10, nprobe=4).collect()
    ]
    assert got == brute
    assert not any(v in top_full for v, _ in got)

    # vacuum: physical purge, atomic per-cell swap, tombstones cleared
    rep = vacuum_deleted(spark, path)
    assert rep["rows_purged"] == n_doomed
    assert tombstones(spark, path, "vec_id") is None
    assert not os.path.isdir(os.path.join(path, TOMBSTONES))
    left = spark.read.parquet(os.path.join(path, "cells"))
    assert left.where(doom_pred).count() == 0
    assert left.count() == 300 - n_doomed
    got2 = [
        tuple(r)
        for r in sq_ivf_topk_indexed(spark, path, q, k=10, nprobe=4).collect()
    ]
    assert got2 == brute
    # vacuum with nothing to do is a no-op
    assert vacuum_deleted(spark, path)["rows_purged"] == 0


def test_sq_batch_keeps_partition_pruning(spark, tmp_dir):
    """The batched cells scan still carries the cid PartitionFilter —
    batching must not cost the single-query path's pruning."""
    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_topk_indexed_batch,
    )

    emb = _sin_emb(spark, n=200)
    path = os.path.join(tmp_dir, "bprune")
    materialize_sq_ivf(emb, "embedding", "vec_id", path, n_clusters=4)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = sq_ivf_topk_indexed_batch(
        spark, path, queries, "embedding", "query_id", k=5, nprobe=2
    )
    plan = top._jdf.queryExecution().executedPlan().toString()
    pruned = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln
        and "PartitionFilters:" in ln
        and "cid" in ln.split("PartitionFilters:")[1].split("]")[0]
    ]
    assert pruned, plan


# ------------------------------------------- scoring: one fold, no codegen ----


def _compiles(spark) -> int:
    """Classes compiled by Spark's code generator so far in this JVM."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _gauss_emb(spark, n, dim, seed):
    rng = random.Random(seed)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(n)]
    return _emb(spark, rows)


def _unrolled_score(qscale, qcodes):
    """The unrolled scoring expression the fold replaced: one
    left-associated int64 term per dimension, then ``(idot·sc)·qscale``."""
    idot = F.expr(
        " + ".join(
            f"CAST(element_at(__qv__, {i + 1}) AS BIGINT) * {int(c)}L"
            for i, c in enumerate(qcodes)
        )
        or "0L"
    )
    return idot.cast("double") * F.col("__sc__") * F.lit(float(qscale))


def test_sq_distinct_queries_compile_nothing(spark, tmp_dir):
    """Every query-dependent literal sits inside the higher-order fold,
    which runs outside generated code: once a plan shape has compiled, a
    new query against the same index compiles no class, on the indexed
    and on the direct path."""
    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_topk_indexed,
    )

    emb = _gauss_emb(spark, 300, 16, seed=3)
    path = os.path.join(tmp_dir, "idx")
    materialize_sq_ivf(emb, "embedding", "vec_id", path, n_clusters=4)
    rng = random.Random(4)
    qs = [[rng.gauss(0.0, 1.0) for _ in range(16)] for _ in range(3)]
    sq_ivf_topk_indexed(spark, path, qs[0], k=5, nprobe=2).collect()
    sq_topk(emb, "embedding", "vec_id", qs[0], k=5).collect()
    before = _compiles(spark)
    for q in qs[1:]:
        assert len(sq_ivf_topk_indexed(spark, path, q, k=5, nprobe=2).collect()) == 5
        assert len(sq_topk(emb, "embedding", "vec_id", q, k=5).collect()) == 5
    assert _compiles(spark) == before


@pytest.mark.parametrize("op", ["ivf_topk_exact", "sq_ivf_topk"])
def test_in_query_ivf_new_probe_sets_compile_nothing(spark, op):
    """The in-query IVF paths filter the probed cells with one array
    literal, so queries that probe new cell sets compile no class (an
    ``isin`` filter inlined each probe set into generated code)."""
    from gluestick_spark.llm import cluster

    emb = _gauss_emb(spark, 300, 16, seed=6)
    _, state = cluster.kmeans(
        emb, "embedding", "vec_id", k=8, iters=1, scale=1000,
        return_state=True,
    )
    rng = random.Random(7)
    sets, qs = set(), []
    while len(qs) < 4:
        q = [rng.gauss(0.0, 1.0) for _ in range(16)]
        probes = tuple(sorted(cluster._select_probes(state, q, 1000, 2)[0]))
        if probes not in sets:
            sets.add(probes)
            qs.append(q)
    topk = getattr(cluster, op)
    run = lambda q: topk(emb, "embedding", "vec_id", q, k=5, n_clusters=8).collect()
    run(qs[0])
    before = _compiles(spark)
    for q in qs[1:]:
        assert len(run(q)) == 5
    assert _compiles(spark) == before


def test_sq_scoring_generated_methods_stay_jit_sized(spark, tmp_dir):
    """No generated method of the 64-d scoring plan exceeds HotSpot's
    8,000-byte JIT limit (the unrolled dot compiled to one ~13.5 KB
    method that ran interpreted)."""
    import re

    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_topk_indexed,
    )

    emb = _gauss_emb(spark, 200, 64, seed=5)
    path = os.path.join(tmp_dir, "idx")
    materialize_sq_ivf(emb, "embedding", "vec_id", path, n_clusters=4)
    q = list(emb.first()["embedding"])
    for top in (
        sq_ivf_topk_indexed(spark, path, q, k=5, nprobe=2),
        sq_topk(emb, "embedding", "vec_id", q, k=5),
    ):
        text = spark._jvm.PythonSQLUtils.explainString(
            top._jdf.queryExecution(), "codegen"
        )
        sizes = [int(s) for s in re.findall(r"maxMethodCodeSize:(\d+)", text)]
        assert sizes and max(sizes) <= 8000, sizes


def test_sq_scores_equal_unrolled_formula(spark):
    """Seeded scores equal the unrolled formula bit for bit: ±127 codes
    (every vector's largest coordinate quantizes to ±127), a zero stored
    vector (scale 0.0) and the all-zero query (scale 0.0)."""
    from gluestick_spark.llm.similarity import _sq_score_topk

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(64)]) for i in range(150)]
    rows += [(150, [0.0] * 64), (151, [-3.0] * 32 + [3.0] * 32)]
    enc = quantize_embeddings(
        _emb(spark, rows), "embedding", "vec_id", out_col="__qv__",
        scale_col="__sc__",
    )
    base = [rng.gauss(0.0, 1.0) for _ in range(64)]
    queries = [
        base,
        [x * 1e-7 for x in base],  # the scale prints in exponent form
        [x * 1e20 for x in base],
        [-2.5, 2.5] + [rng.uniform(-2.5, 2.5) for _ in range(62)],
        [0.0] * 64,
    ]
    for q in queries:
        qscale, qcodes = quantize_query(q)
        got = {
            r["vec_id"]: r["score"]
            for r in _sq_score_topk(enc, "vec_id", qscale, qcodes, len(rows)).collect()
        }
        want = {
            r["vec_id"]: r["s"]
            for r in enc.select(
                "vec_id", _unrolled_score(qscale, qcodes).alias("s")
            ).collect()
        }
        assert got == want
        assert all(
            math.copysign(1.0, got[i]) == math.copysign(1.0, want[i]) for i in got
        )
    assert quantize_query(queries[3])[1][:2] == [-127, 127]
    assert quantize_query(queries[4]) == (0.0, [0] * 64)
    assert set(got.values()) == {0.0}


def test_sq_dimension_mismatch_raises(spark, tmp_dir):
    """A query shorter or longer than the stored vectors raises, naming
    both dimensions: on the router-backed path before any job, on the
    direct path in the plan. Neither compiles a class."""
    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_topk_indexed,
    )

    emb = _gauss_emb(spark, 120, 8, seed=6)
    path = os.path.join(tmp_dir, "idx")
    materialize_sq_ivf(emb, "embedding", "vec_id", path, n_clusters=4)
    q = list(emb.first()["embedding"])
    sq_ivf_topk_indexed(spark, path, q, k=3).collect()
    sq_topk(emb, "embedding", "vec_id", q, k=3).collect()
    sc = spark.sparkContext
    before = _compiles(spark)
    for bad in (q[:5], q + [0.5, -0.5]):
        sc.setJobGroup("sq_dim_mismatch", "mismatched query")
        try:
            with pytest.raises(
                ValueError,
                match=f"query dimension {len(bad)} does not match index dimension 8",
            ):
                sq_ivf_topk_indexed(spark, path, bad, k=3)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup("sq_dim_mismatch")) == []
        with pytest.raises(
            Exception,
            match=f"query dimension {len(bad)} does not match index dimension 8",
        ):
            sq_topk(emb, "embedding", "vec_id", bad, k=3).collect()
    assert _compiles(spark) == before
