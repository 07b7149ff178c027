"""llm/cluster.py — SemDeDup: the within-corpus op, the cross-corpus op,
the persisted reference and the stream judged against it, and the Arrow
gram kernel behind all four.

The kernel pins check that it reproduces the pairwise join form it
replaced: the null/ragged-vector null-dot behavior (zip_with pads the
shorter array with null, so such pairs never match), the strict-id
leader rule, and exactness past int64 (where the join form would have
raised under ANSI, the kernel computes with Python ints).
"""

from __future__ import annotations

import ast
import json
import math
import os
import pathlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from gluestick_spark.llm.cluster import (
    _assign_df,
    _prepare,
    _semdedup_capped,
    _semdedup_judge,
    _semdedup_verdicts,
    _SSD_LEDGER,
    append_semdedup_ref,
    int_dot_expr,
    materialize_semdedup_ref,
    semdedup,
    semdedup_against,
)
from gluestick_spark.llm.index_commit import (
    SEMDEDUP_REF,
    SIDECAR,
    begin_append,
    load_meta,
)
from gluestick_spark.llm.ivf_cells import Cells, read_probed
from gluestick_spark.streaming.pipeline import (
    read_streaming_dedup_output,
    stream_from_directory,
    streaming_semdedup,
)

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "gluestick_spark"

# default-run sizes of the two slow brute-force checks
SMALL_N = 60
SMALL_CAP = 10


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "id long, v array<double>")


def _emb(spark, n=300, dim=8):
    rows = [
        (i, [math.sin(0.31 * i + j) + 0.01 * ((i * (j + 2)) % 5) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


# ---------------- semdedup: within-corpus ---------------------------------


def test_semdedup_known_geometry(spark):
    # id=2 is a near-duplicate of id=1 (cos ~ 1); id=3 orthogonal, id=4
    # antipodal. k=1 -> single cluster, pure pairwise semantics.
    df = _vecs(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.999, 0.01]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),
        ],
    )
    out = semdedup(df, "v", "id", k=1, iters=1, threshold=0.9)
    keep = {r["id"]: r["keep"] for r in out.collect()}
    assert keep == {1: True, 2: False, 3: True, 4: True}


def test_semdedup_leader_is_smallest_id(spark):
    # Three mutual near-dups: only the smallest id survives.
    df = _vecs(
        spark,
        [(7, [1.0, 0.0]), (9, [0.998, 0.002]), (5, [0.997, 0.001]), (2, [0.0, 1.0])],
    )
    out = semdedup(df, "v", "id", k=1, iters=1, threshold=0.9)
    keep = {r["id"]: r["keep"] for r in out.collect()}
    assert keep == {5: True, 7: False, 9: False, 2: True}


@pytest.mark.parametrize("op", ["semdedup", "semdedup_against"])
@pytest.mark.parametrize("bad", [1.5, 1.004, -0.004])
def test_semdedup_threshold_validated(spark, op, bad):
    # the RAW float is range-checked: 1.004 / -0.004 must not round into
    # range, in either batch op (the stream's check is the same helper)
    df = _vecs(spark, [(1, [1.0])])
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        if op == "semdedup":
            semdedup(df, "v", "id", threshold=bad)
        else:
            semdedup_against(df, df, "v", "id", threshold=bad)


def test_semdedup_max_cluster_size_cap(spark):
    """VERDICT r10 #2: the giant-cluster cap. On clusters within the
    cap, capped ≡ uncapped; oversized clusters emit NO rows (unjudged,
    never a silent keep); invalid caps raise."""
    rng = np.random.default_rng(7)
    # two tight far-apart blobs: ids 0..19 around e1 (big), 100..104
    # around e2 (small) — kmeans k=2 separates them deterministically
    rows = [(i, [1.0 + float(rng.normal(0, 0.01)), float(rng.normal(0, 0.01))])
            for i in range(20)]
    rows += [(100 + i, [float(rng.normal(0, 0.01)), 1.0 + float(rng.normal(0, 0.01))])
             for i in range(5)]
    df = _vecs(spark, rows)

    uncapped = {r["id"]: (r["cid"], r["keep"])
                for r in semdedup(df, "v", "id", k=2, iters=2,
                                  threshold=0.9).collect()}
    sizes: dict[int, int] = {}
    for cid, _ in uncapped.values():
        sizes[cid] = sizes.get(cid, 0) + 1
    big_cid = max(sizes, key=lambda c: sizes[c])
    assert sorted(sizes.values()) == [5, 20]

    capped = {r["id"]: (r["cid"], r["keep"])
              for r in semdedup(df, "v", "id", k=2, iters=2, threshold=0.9,
                                max_cluster_size=10).collect()}
    # big cluster unjudged -> absent; small cluster identical verdicts
    assert set(capped) == {i for i, (c, _) in uncapped.items() if c != big_cid}
    assert all(capped[i] == uncapped[i] for i in capped)

    # cap above every cluster -> capped ≡ uncapped exactly
    loose = {r["id"]: (r["cid"], r["keep"])
             for r in semdedup(df, "v", "id", k=2, iters=2, threshold=0.9,
                               max_cluster_size=1000).collect()}
    assert loose == uncapped

    with pytest.raises(ValueError, match="max_cluster_size"):
        semdedup(df, "v", "id", max_cluster_size=0)


def test_semdedup_negative_cosine_never_drops(spark):
    # dot <= 0 short-circuits: antipodal vectors are NOT near-dups even
    # at threshold 0 (cos must be strictly positive to drop).
    df = _vecs(spark, [(1, [1.0, 0.0]), (2, [-1.0, 0.0])])
    out = semdedup(df, "v", "id", k=1, iters=0, threshold=0.0)
    assert all(r["keep"] for r in out.collect())


# ---------------- the Arrow gram kernel ----------------------------------


def _pts(spark, rows):
    """(id, q, cid) -> the pts frame the kernel consumes; xx = q·q or
    NULL exactly as int_dot_expr computes it (null element -> null)."""
    def xx(q):
        if q is None or any(v is None for v in q):
            return None
        return sum(v * v for v in q)

    return spark.createDataFrame(
        [(i, q, xx(q), c) for i, q, c in rows],
        "__id__ long, __q__ array<long>, __xx__ long, cid int",
    )


def test_kernel_null_ragged_and_leader_rule(spark):
    rows = [
        (1, [1000, 0, 0], 0),
        (2, [1000, 0, 0], 0),    # dup of 1 (earlier id) -> dropped
        (3, [1000, 0], 0),       # shorter: never matches 3-dim rows
        (4, [1000, 0], 0),       # dup of 3 -> dropped
        (5, None, 0),            # null vector: inert
        (6, [1000, None, 0], 0), # null element: inert
        (7, [0, 1000, 0], 0),    # orthogonal: kept
        (8, [1000, 0, 0], 1),    # other cluster: its own leader, kept
    ]
    got = {
        r["__id__"]: r["keep"]
        for r in _semdedup_verdicts(
            _pts(spark, rows), num=81, den=100, within=True
        ).collect()
    }
    assert got == {
        1: True, 2: False, 3: True, 4: False,
        5: True, 6: True, 7: True, 8: True,
    }


def test_kernel_against_sides(spark):
    # side 0 = reference (id NULL, never emitted), side 1 = corpus
    both = spark.createDataFrame(
        [
            (None, [1000, 0], 1000000, 0, 0),   # ref anchor
            (None, None, None, 0, 0),           # null ref: matches nothing
            (1, [1000, 10], 1000100, 0, 1),     # near anchor -> dropped
            (2, [0, 1000], 1000000, 0, 1),      # orthogonal -> kept
            (3, None, None, 0, 1),              # null corpus row: kept
            (4, [1000, 0], 1000000, 1, 1),      # cluster with no ref -> kept
        ],
        "__id__ long, __q__ array<long>, __xx__ long, cid int, __side__ int",
    )
    got = {
        r["__id__"]: r["keep"]
        for r in _semdedup_verdicts(both, num=81, den=100, within=False).collect()
    }
    assert got == {1: False, 2: True, 3: True, 4: True}


def test_kernel_object_fallback_past_int64(spark):
    # magnitudes where den·dot² overflows int64: the kernel must fall
    # back to exact Python-int arithmetic (the join form would raise
    # under ANSI) and still decide the near-duplicate correctly —
    # end-to-end through semdedup (clean vectors, so kmeans trains fine)
    big = 2.0e4  # q = 2e7 after scale=1000 -> xx ~ 1.2e15, den*xx^2 ~ 1e32
    rows = [
        (1, [big, big, big]),
        (2, [big, big, big]),          # exact dup of 1 -> dropped
        (3, [big, -big, 0.0]),         # far from 1 -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["keep"]
        for r in semdedup(
            df, "embedding", "vec_id", k=1, iters=0, threshold=0.9
        ).collect()
    }
    assert got == {1: True, 2: False, 3: True}


def test_kernel_empty_input_schema(spark):
    empty = _pts(spark, []).where(F.lit(False))
    out = _semdedup_verdicts(empty, num=81, den=100, within=True)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["__id__", "cid", "keep"]


# ---------------- semdedup_against: cross-corpus -------------------------


def test_semdedup_against_contract(spark):
    """Corpus rows near a reference row (same cluster, cosine above τ)
    are flagged keep=false; far rows survive; empty reference keeps
    everything; the reference-cell cap drops judgment loudly (no output
    row), never silently keeps."""
    # two well-separated directions; corpus has near-copies of ref dir A
    ref = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [0.99, 0.01, 0.0, 0.0]),   # ~dup of ref 100
            (2, [0.0, 0.0, 1.0, 0.0]),     # orthogonal to both
            (3, [0.01, 0.98, 0.0, 0.0]),   # ~dup of ref 101
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["keep"]
        for r in semdedup_against(
            corpus, ref, "embedding", "vec_id", k=2, iters=2, threshold=0.9
        ).collect()
    }
    assert got[1] is False and got[3] is False and got[2] is True

    # empty reference: everything kept, cid NULL
    empty = ref.where("vec_id < 0")
    all_keep = semdedup_against(
        corpus, empty, "embedding", "vec_id", k=2, threshold=0.9
    ).collect()
    assert all(r["keep"] for r in all_keep)
    assert all(r["cid"] is None for r in all_keep)

    # reference-cell cap: cap=1 removes any ref cell with 2+ rows — rows
    # assigned there emit NO output (unjudged), the loud contract
    ref2 = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (102, [0.98, 0.02, 0.0, 0.0]),
         (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    capped = semdedup_against(
        corpus, ref2, "embedding", "vec_id", k=2, iters=2,
        threshold=0.9, max_cluster_size=1,
    ).collect()
    judged = {r["vec_id"] for r in capped}
    assert 1 not in judged  # its ref cell (two A-direction rows) was capped
    assert {r["vec_id"]: r["keep"] for r in capped}.get(3) is False


# ---------------- persisted reference and the stream ----------------------


def _skewed_emb(spark, n):
    # skewed: 80% of vectors cluster tightly (one hot reference cell) so
    # the max_cluster_size cap is guaranteed to bite
    rows = []
    for i in range(n):
        if i % 5 != 0:
            v = [1.0 + 0.001 * ((i * (j + 3)) % 7) for j in range(8)]
        else:
            v = [math.sin(0.7 * i + j) for j in range(8)]
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _check_stream_equals_batch(spark, tmp_dir, size, cap, batches):
    """Stream the corpus rows of ``_skewed_emb(size)``, one micro-batch
    per condition in ``batches``, against a reference persisted with
    ``cap``: the union of the batches equals semdedup_against
    row-for-row, and the cap leaves some corpus rows unjudged in both.
    Returns (reference path, staged source dir, corpus, reference)."""
    emb = _skewed_emb(spark, size)
    ref = emb.where("vec_id % 3 = 0")
    cor = emb.where("vec_id % 3 != 0")
    refp = os.path.join(tmp_dir, "ref")
    materialize_semdedup_ref(
        ref, "embedding", "vec_id", refp, k=4, iters=2, max_cluster_size=cap
    )

    stage = os.path.join(tmp_dir, "src")
    out = os.path.join(tmp_dir, "out")
    ckpt = os.path.join(tmp_dir, "ckpt")
    schema = cor.schema
    for cond in batches:
        cor.where(cond).coalesce(1).write.mode("append").parquet(stage)
        q = streaming_semdedup(
            stream_from_directory(spark, stage, schema),
            refp, "embedding", "vec_id", out, ckpt, threshold=0.9,
        )
        q.awaitTermination()
    got = sorted(
        map(tuple, read_streaming_dedup_output(spark, out).collect())
    )
    want = sorted(
        map(
            tuple,
            semdedup_against(
                cor, ref, "embedding", "vec_id",
                k=4, iters=2, threshold=0.9, max_cluster_size=cap,
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    # the cap actually bit: some corpus rows are unjudged
    assert len(got) < cor.count()
    return refp, stage, cor, ref


def test_streaming_semdedup_equals_batch(spark, tmp_dir):
    """Stream ≡ batch exactly (stateless per batch, frozen reference):
    two micro-batches of corpus embeddings judged against the persisted
    reference reproduce semdedup_against row-for-row; capped reference
    cells leave their corpus rows UNJUDGED in both; a torn reference
    (no meta) refuses loudly; an empty reference keeps everything."""
    refp, stage, cor, ref = _check_stream_equals_batch(
        spark, tmp_dir, 240, 35, ("vec_id <= 120", "vec_id > 120")
    )
    schema = cor.schema
    out = os.path.join(tmp_dir, "out")
    ckpt = os.path.join(tmp_dir, "ckpt")

    # torn reference refuses
    os.remove(os.path.join(refp, "_SEMDEDUP_META.json"))
    with pytest.raises(ValueError, match="torn or absent"):
        streaming_semdedup(
            stream_from_directory(spark, stage, schema),
            refp, "embedding", "vec_id", out, ckpt,
        )

    # empty reference: all rows keep, cid NULL (stream matches batch)
    refp2 = os.path.join(tmp_dir, "ref_empty")
    materialize_semdedup_ref(
        ref.where("vec_id < 0"), "embedding", "vec_id", refp2, k=4
    )
    out2 = os.path.join(tmp_dir, "out2")
    ckpt2 = os.path.join(tmp_dir, "ckpt2")
    q = streaming_semdedup(
        stream_from_directory(spark, stage, schema),
        refp2, "embedding", "vec_id", out2, ckpt2,
    )
    q.awaitTermination()
    rows = read_streaming_dedup_output(spark, out2).collect()
    assert len(rows) == cor.count()
    assert all(r["keep"] and r["cid"] is None for r in rows)


def test_streaming_semdedup_equals_batch_small(spark, tmp_dir):
    """The default-run size of the stream ≡ batch check: one micro-batch."""
    _check_stream_equals_batch(
        spark, tmp_dir, SMALL_N, SMALL_CAP, ("vec_id >= 0",)
    )


def test_streaming_semdedup_validates_raw_threshold(spark, tmp_dir):
    """ADVICE r14 #5: 1.004 / -0.004 must raise on the RAW float, not
    silently round into range."""
    ref = _emb(spark, n=40)
    ref_path = os.path.join(tmp_dir, "ref")
    materialize_semdedup_ref(ref, "embedding", "vec_id", ref_path, k=2, iters=1)
    src = os.path.join(tmp_dir, "src")
    _emb(spark, n=10).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    for bad in (1.004, -0.004, 1.5):
        with pytest.raises(ValueError, match=r"\[0, 1\]"):
            streaming_semdedup(
                stream, ref_path, "embedding", "vec_id",
                os.path.join(tmp_dir, "out"), os.path.join(tmp_dir, "ck"),
                threshold=bad,
            )


def test_semdedup_ref_cell_pruning_is_structural(spark, tmp_dir):
    """VERDICT r14 #4 plan gate: the per-batch judge's reference scan
    carries the batch's cid literals as a PartitionFilter — pruning is
    structural, not dynamic."""
    ref = _emb(spark, n=120)
    ref_path = os.path.join(tmp_dir, "ref")
    materialize_semdedup_ref(ref, "embedding", "vec_id", ref_path, k=4, iters=1)
    judge = _semdedup_judge(ref_path, "embedding", "vec_id", 0.7)
    plan = judge(ref.where("vec_id < 6"))._jdf.queryExecution().executedPlan().toString()
    filters = [
        ln.split("PartitionFilters:")[1].split("]")[0]
        for ln in plan.splitlines()
        if "FileScan" in ln and "PartitionFilters:" in ln
    ]
    assert any("cid" in f and " IN (" in f for f in filters), plan
    # and only the probed cells' rows come back
    cells = read_probed(spark, Cells(ref_path), [0, 2], "vec_id")
    assert set(
        r["cid"] for r in cells.select("cid").distinct().collect()
    ) <= {0, 2}


def _check_append_equals_union(spark, tmp_dir, size):
    """append_semdedup_ref grows the frozen reference: the cell contents
    equal assigning the UNION against the frozen router (append ≡
    rebuild-with-same-router), the capped set re-derives from true
    totals (a cell crossing the cap stops being judged; an empty cell
    gaining rows starts), and streaming verdicts against the appended
    reference equal the union-reference brute semantics. ``size`` is
    the number of embeddings split into build, append and corpus rows."""
    emb = _emb(spark, n=size)
    ref1 = emb.where("vec_id % 3 = 0 AND vec_id % 6 = 0")
    ref2 = emb.where("vec_id % 3 = 0 AND vec_id % 6 <> 0")
    cor = emb.where("vec_id % 3 <> 0")
    ref_path = os.path.join(tmp_dir, "ref")
    # pick the cap ADAPTIVELY so the append provably crosses it on the
    # fullest cell: build once uncapped to read the true counts, then
    # rebuild with cap = max build count + 1 (deterministic build ⇒
    # identical counts)
    materialize_semdedup_ref(
        ref1, "embedding", "vec_id", ref_path, k=4, iters=1
    )
    with open(os.path.join(ref_path, SEMDEDUP_REF.marker)) as f:
        cap = max(json.load(f)["counts"]) + 1
    materialize_semdedup_ref(
        ref1, "embedding", "vec_id", ref_path, k=4, iters=1,
        max_cluster_size=cap,
    )
    with open(os.path.join(ref_path, SEMDEDUP_REF.marker)) as f:
        meta = json.load(f)
    state = [(list(map(int, s)), int(n)) for s, n in meta["state"]]
    capped_before = _semdedup_capped(ref_path, meta)

    n2 = ref2.count()
    assert append_semdedup_ref(ref2, "embedding", "vec_id", ref_path) == n2
    capped_after = _semdedup_capped(ref_path, meta)

    # union truth, frozen router
    union_pts = _assign_df(
        _prepare(ref1.unionByName(ref2), "embedding", "vec_id", meta["scale"]),
        state, meta["assign"],
    ).localCheckpoint()
    sizes = {
        int(r["cid"]): int(r["n"])
        for r in union_pts.groupBy("cid").count().withColumnRenamed("count", "n").collect()
    }
    expect_capped = {
        c for c in range(len(state)) if sizes.get(c, 0) == 0 or sizes[c] > cap
    }
    assert capped_after == expect_capped
    # the append must actually CHANGE the capped set (cross or uncap) —
    # otherwise this test isn't exercising re-derivation
    assert capped_after != capped_before

    # cells on disk == union assignment minus BUILD-capped cells (their
    # build rows were never written; appended rows in capped cells are
    # physically present but serving-excluded)
    cells = spark.read.parquet(os.path.join(ref_path, "cells"))
    ref1_pts = _assign_df(
        _prepare(ref1, "embedding", "vec_id", meta["scale"]), state, meta["assign"]
    )
    kept_build = ref1_pts.where(~F.col("cid").isin(sorted(capped_before)))
    ref2_pts = _assign_df(
        _prepare(ref2, "embedding", "vec_id", meta["scale"]), state, meta["assign"]
    )
    expect_cells = kept_build.unionByName(ref2_pts).select(
        F.col("cid").cast("int"),
        F.col("__q__").alias("qr"),
        F.col("__xx__").alias("xxr"),
    )
    cells = cells.select(F.col("cid").cast("int"), "qr", "xxr")
    assert (
        cells.exceptAll(expect_cells).count() == 0
        and expect_cells.exceptAll(cells).count() == 0
    )

    # streaming verdicts over the corpus == union-reference semantics
    stage = os.path.join(tmp_dir, "src")
    out = os.path.join(tmp_dir, "out")
    ckpt = os.path.join(tmp_dir, "ckpt")
    cor.coalesce(1).write.mode("append").parquet(stage)
    q = streaming_semdedup(
        stream_from_directory(spark, stage, cor.schema),
        ref_path, "embedding", "vec_id", out, ckpt, threshold=0.9,
    )
    q.awaitTermination()
    got = {
        (r["vec_id"], r["cid"], r["keep"])
        for r in read_streaming_dedup_output(spark, out).collect()
    }
    # brute: corpus assigned on frozen router; capped cells unjudged;
    # match = exact int64 rational cosine vs any union-ref row in-cell
    cpts = _assign_df(
        _prepare(cor, "embedding", "vec_id", meta["scale"]), state, meta["assign"]
    ).where(~F.col("cid").isin(sorted(expect_capped))).localCheckpoint()
    rpts = union_pts.where(~F.col("cid").isin(sorted(expect_capped))).select(
        "cid", F.col("__q__").alias("qr"), F.col("__xx__").alias("xxr")
    )
    dot = int_dot_expr(F.col("__q__"), F.col("qr"))
    t = 90
    matched = (
        cpts.join(rpts, "cid")
        .where(dot > 0)
        .where(
            F.lit(10000).cast("long") * dot * dot
            > F.lit(t * t).cast("long") * F.col("__xx__") * F.col("xxr")
        )
        .select("__id__").distinct().withColumn("__m__", F.lit(True))
    )
    expect = {
        (r["__id__"], r["cid"], r["keep"])
        for r in cpts.select("__id__", "cid")
        .join(matched, "__id__", "left")
        .select(
            "__id__", "cid",
            F.coalesce(~F.col("__m__"), F.lit(True)).alias("keep"),
        )
        .collect()
    }
    assert got == expect


def test_append_semdedup_ref_equals_frozen_router_union(spark, tmp_dir):
    """The full-size append ≡ union check."""
    _check_append_equals_union(spark, tmp_dir, size=240)


def test_append_semdedup_ref_equals_frozen_router_union_small(spark, tmp_dir):
    """The default-run size of the append ≡ union check."""
    _check_append_equals_union(spark, tmp_dir, size=SMALL_N)


def test_append_semdedup_ref_torn_append_refuses_and_heals(spark, tmp_dir):
    """A torn reference append is refused by serving and rolled back
    (cells AND count ledger together) by the next append — the ANN
    bracket discipline applied to the semdedup reference."""
    emb = _emb(spark, n=120)
    ref_path = os.path.join(tmp_dir, "ref")
    materialize_semdedup_ref(
        emb.where("vec_id % 2 = 0"), "embedding", "vec_id", ref_path,
        k=2, iters=1,
    )
    pre_cells = {
        (r["cid"], tuple(r["qr"]), r["xxr"])
        for r in spark.read.parquet(os.path.join(ref_path, "cells")).collect()
    }
    # simulate a torn append: bracket opened, cell + ledger junk landed,
    # no commit
    begin_append(ref_path)
    cdirs = [
        d for d in os.listdir(os.path.join(ref_path, "cells"))
        if d.startswith("cid=")
    ]
    junk = os.path.join(ref_path, "cells", cdirs[0], "part-torn.parquet")
    spark.createDataFrame(
        [([1, 2], 5)], "qr array<bigint>, xxr bigint"
    ).coalesce(1).write.mode("overwrite").parquet(junk + ".dir")
    os.rename(
        os.path.join(
            junk + ".dir",
            [f for f in os.listdir(junk + ".dir") if f.endswith(".parquet")][0],
        ),
        junk,
    )
    ldir = os.path.join(ref_path, "cells", _SSD_LEDGER)
    os.makedirs(ldir, exist_ok=True)
    with open(os.path.join(ldir, "torn.json"), "w") as f:
        json.dump({"counts": {"0": 1}}, f)

    src = os.path.join(tmp_dir, "src")
    emb.where("vec_id % 2 = 1").coalesce(1).write.parquet(src)
    with pytest.raises(ValueError, match="in-progress or torn append"):
        streaming_semdedup(
            stream_from_directory(
                spark, src, spark.read.parquet(src).schema
            ),
            ref_path, "embedding", "vec_id",
            os.path.join(tmp_dir, "out"), os.path.join(tmp_dir, "ck"),
        )
    # a retried append rolls the torn batch back first
    n = append_semdedup_ref(
        emb.where("vec_id % 2 = 1").limit(0), "embedding", "vec_id", ref_path
    )
    assert n == 0
    assert not os.path.isfile(os.path.join(ref_path, SIDECAR))
    assert not os.path.exists(os.path.join(ldir, "torn.json"))
    assert not os.path.exists(junk)
    post_cells = {
        (r["cid"], tuple(r["qr"]), r["xxr"])
        for r in spark.read.parquet(os.path.join(ref_path, "cells")).collect()
    }
    assert post_cells == pre_cells


def test_materialize_semdedup_ref_bad_cap_keeps_committed_reference(spark, tmp_dir):
    """A refused cap leaves the committed reference serving: the cap is
    checked before the rebuild drops the marker, and before any job."""
    ref = _emb(spark, n=40)
    path = os.path.join(tmp_dir, "ref")
    materialize_semdedup_ref(ref, "embedding", "vec_id", path, k=2, iters=1)
    before = load_meta(SEMDEDUP_REF, path, serving=True)
    sc = spark.sparkContext
    sc.setJobGroup("bad-cap", "bad-cap")
    try:
        with pytest.raises(ValueError, match="max_cluster_size"):
            materialize_semdedup_ref(
                ref, "embedding", "vec_id", path, k=2, iters=1,
                max_cluster_size=0,
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert load_meta(SEMDEDUP_REF, path, serving=True) == before
    assert list(sc.statusTracker().getJobIdsForGroup("bad-cap")) == []


# ---------------- one rule, one store -------------------------------------


def _function_source(path: pathlib.Path, name: str) -> str:
    src = path.read_text()
    (fn,) = [
        node
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef) and node.name == name
    ]
    return ast.get_source_segment(src, fn)


def test_semdedup_rules_written_once():
    """Source scan, no Spark: the threshold rational is written once,
    only the IVF cell store writes partitioned cells, and the SemDeDup
    family (llm/cluster.py and streaming_semdedup) does its file I/O
    through fsio and ivf_cells."""
    sources = {p: p.read_text() for p in sorted(PACKAGE.rglob("*.py"))}
    assert sum(s.count("round(threshold * 100)") for s in sources.values()) == 1
    writers = [
        str(p.relative_to(PACKAGE))
        for p, s in sources.items()
        if ".write.partitionBy(" in "".join(s.split())
    ]
    assert writers == [os.path.join("llm", "ivf_cells.py")]
    family = sources[PACKAGE / "llm" / "cluster.py"] + _function_source(
        PACKAGE / "streaming" / "pipeline.py", "streaming_semdedup"
    )
    assert "open(" not in family and "os.replace(" not in family
