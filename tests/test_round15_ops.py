"""Round-15 operator tests.

Phase A — ADVICE r14 closures + VERDICT r14 plan-posture fixes:
- vacuum_deleted: hidden swap dirs + crash recovery + batched rewrites
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F


def _emb(spark, n=300, dim=8):
    rows = [
        (i, [math.sin(0.31 * i + j) + 0.01 * ((i * (j + 2)) % 5) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


# ---------------- vacuum: batched rewrites + crash recovery ----------------


def test_vacuum_mass_delete_batched_rewrites(spark, tmp_dir):
    """A mass takedown touching many cells completes in O(groups) rewrite
    jobs (batch_cells groups), with identical survivors to the unbatched
    semantics, no visible leftover dirs in the cells root, and correct
    per-cell rewritten/dropped accounting (VERDICT r14 #5)."""
    from gluestick_spark.llm.cluster import materialize_sq_ivf, sq_ivf_topk_indexed
    from gluestick_spark.llm.index_delete import sq_ivf_delete, vacuum_deleted
    from gluestick_spark.llm.similarity import sq_topk

    emb = _emb(spark, n=400)
    path = os.path.join(tmp_dir, "mass_idx")
    materialize_sq_ivf(emb, "embedding", "vec_id", path, n_clusters=12)
    cells_root = os.path.join(path, "cells")
    pre_cells = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(cells_root)
        if d.startswith("cid=")
    )
    assert len(pre_cells) >= 8  # the mass-delete scenario needs many cells

    doom_pred = F.col("vec_id") % 3 != 0  # ~2/3 of every cell
    doomed = emb.where(doom_pred).select("vec_id")
    n_doomed = doomed.count()
    assert sq_ivf_delete(spark, path, doomed) == n_doomed

    # small batch size forces multiple groups through the staged path
    rep = vacuum_deleted(spark, path, batch_cells=4)
    assert rep["rows_purged"] == n_doomed
    assert sorted(rep["cells_rewritten"] + rep["cells_dropped"]) == pre_cells

    # nothing transient left behind: only live cid= dirs in the root
    assert all(
        d.startswith(("cid=", "_", "."))  # _/._ are hidden to Spark
        for d in os.listdir(cells_root)
    )
    assert not any("__rewriting__" in d or "__old__" in d for d in os.listdir(cells_root))

    survivors = emb.where(~doom_pred)
    left = spark.read.parquet(cells_root)
    assert left.count() == survivors.count()
    q = [1.0] * 8
    brute = [tuple(r) for r in sq_topk(survivors, "embedding", "vec_id", q, 10).collect()]
    got = [
        tuple(r)
        for r in sq_ivf_topk_indexed(spark, path, q, k=10, nprobe=12).collect()
    ]
    assert got == brute


def test_vacuum_recovers_stranded_old_cell(spark, tmp_dir):
    """ADVICE r14 #1: a crash between the two fallback renames leaves the
    live cell dir absent with survivors stranded in ``.__old__`` —
    vacuum entry must restore it (and clean completed-swap leftovers)
    rather than permanently stop serving those rows. The hidden names
    are healed and never flip partition discovery."""
    from gluestick_spark.llm.cluster import materialize_sq_ivf, sq_ivf_topk_indexed
    from gluestick_spark.llm.index_delete import sq_ivf_delete, vacuum_deleted
    from gluestick_spark.llm.similarity import sq_topk

    emb = _emb(spark, n=200)
    path = os.path.join(tmp_dir, "crash_idx")
    materialize_sq_ivf(emb, "embedding", "vec_id", path, n_clusters=4)
    cells_root = os.path.join(path, "cells")
    live = sorted(d for d in os.listdir(cells_root) if d.startswith("cid="))
    assert len(live) >= 3

    # simulate the torn two-rename window on one cell (r15 hidden name)
    torn = live[0]
    os.rename(
        os.path.join(cells_root, torn),
        os.path.join(cells_root, "_" + torn + ".__old__"),
    )
    # and a COMPLETED swap's leftover on another (live dir still present)
    import shutil

    leftover_src = os.path.join(cells_root, live[1])
    leftover = os.path.join(cells_root, "_" + live[1] + ".__old__")
    shutil.copytree(leftover_src, leftover)

    # the hidden __old__ dir is invisible to partition discovery even
    # BEFORE recovery
    doomed = emb.where(F.col("vec_id") % 11 == 5).select("vec_id")
    n_doomed = doomed.count()
    sq_ivf_delete(spark, path, doomed)
    rep = vacuum_deleted(spark, path)

    # every cell dir restored/live again; all transient dirs gone
    after = sorted(d for d in os.listdir(cells_root) if d.startswith("cid="))
    assert after == live
    assert not any(
        "__old__" in d or "__rewriting__" in d for d in os.listdir(cells_root)
    )
    # the stranded cell's rows serve again (minus the genuinely doomed)
    assert rep["rows_purged"] == n_doomed
    survivors = emb.where(F.col("vec_id") % 11 != 5)
    assert spark.read.parquet(cells_root).count() == survivors.count()
    q = [1.0] * 8
    brute = [tuple(r) for r in sq_topk(survivors, "embedding", "vec_id", q, 5).collect()]
    got = [
        tuple(r)
        for r in sq_ivf_topk_indexed(spark, path, q, k=5, nprobe=4).collect()
    ]
    assert got == brute


# ---------------- batched retrieval serving (VERDICT r14 #2/#3) ----------


def _served_index(spark, family, path, emb, id_col="vec_id"):
    """Build an index of ``family`` over ``emb`` (ids in ``id_col``),
    tombstone a slice of it, and return (batch, single) serving calls
    plus the nprobe that probes every live cell."""
    from gluestick_spark.llm import cluster, index_delete, pq, similarity

    emb = emb.withColumnRenamed("vec_id", id_col)
    doomed = emb.where(f"{id_col} % 7 = 3").select(id_col)
    if family == "sq":
        cluster.materialize_sq_ivf(emb, "embedding", id_col, path, n_clusters=4)
        index_delete.sq_ivf_delete(spark, path, doomed)
        batch, single = (
            cluster.sq_ivf_topk_indexed_batch,
            cluster.sq_ivf_topk_indexed,
        )
    elif family == "pq":
        pq.materialize_pq_ivf(
            emb, "embedding", id_col, path, m=4, n_codes=8, n_clusters=4,
            store_vectors=True,
        )
        index_delete.pq_ivf_delete(spark, path, doomed)
        batch, single = pq.pq_ivf_topk_indexed_batch, pq.pq_ivf_topk_indexed
    else:
        # a None slot: a rebalanced-away centroid is never assigned or probed
        cents = similarity.random_hyperplanes(8, 4, seed=7)
        cents.insert(1, None)
        similarity.materialize_ivf(emb, "embedding", cents, path, id_col=id_col)
        index_delete.ivf_delete(spark, path, doomed, id_col=id_col)
        return (
            lambda q, **kw: similarity.ivf_topk_indexed_batch(
                spark, path, q, cents, "query_id", **kw
            ),
            lambda v, **kw: similarity.ivf_topk_indexed(
                spark, path, v, cents, **kw
            ),
            4,
        )
    return (
        lambda q, **kw: batch(spark, path, q, "embedding", "query_id", **kw),
        lambda v, **kw: single(spark, path, v, **kw),
        4,
    )


@pytest.mark.parametrize("family", ["sq", "pq", "plain"])
def test_batch_equals_single_query_serving(spark, tmp_dir, family):
    """Batched serving ≡ per-query single serving for each IVF family
    at PARTIAL and exhaustive nprobe with tombstones active: probe
    selection, scoring and tie rules agree term-for-term, to the exact
    (id, score) per query. Also with an ``id_col=`` override under
    tombstones (the tombstone read must use the STORED id column) and,
    for PQ, the IVFADC+R rerank path and its store_vectors refusal."""
    emb = _emb(spark, n=160)
    qids = [0, 3, 17]
    qrows = emb.where(F.col("vec_id").isin(qids)).collect()
    qvecs = {r["vec_id"]: list(r["embedding"]) for r in qrows}
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in qrows],
        "query_id long, embedding array<double>",
    )

    def check(batch, single, **kw):
        res = batch(queries, **kw)
        got: dict = {q: [] for q in qids}
        for r in res.collect():
            got[r["query_id"]].append(tuple(r)[1:])
        for qid in qids:
            one = single(qvecs[qid], **kw)
            assert one.columns == res.columns[1:], (kw, one.columns)
            assert got[qid] == [tuple(r) for r in one.collect()], (kw, qid)
            assert got[qid], (kw, qid)

    k = 6
    batch, single, n_live = _served_index(
        spark, family, os.path.join(tmp_dir, "idx"), emb
    )
    for nprobe in (2, n_live):
        check(batch, single, k=k, nprobe=nprobe)
    if family == "pq":
        check(batch, single, k=k, nprobe=2, rerank=12)

    # the caller's id column name differs from the one the index stores
    if family == "plain":
        # the plain family serves under its stored id column: store "doc"
        batch, single, _ = _served_index(
            spark, family, os.path.join(tmp_dir, "doc"), emb, id_col="doc"
        )
    check(batch, single, k=k, nprobe=2, id_col="doc")

    if family == "pq":
        from gluestick_spark.llm.pq import (
            materialize_pq_ivf,
            pq_ivf_topk_indexed_batch,
        )

        path2 = os.path.join(tmp_dir, "no_vectors")
        materialize_pq_ivf(
            emb, "embedding", "vec_id", path2, m=4, n_codes=8, n_clusters=4
        )
        with pytest.raises(ValueError, match="store_vectors"):
            pq_ivf_topk_indexed_batch(
                spark, path2, queries, "embedding", "query_id", k=3, rerank=5
            )


def test_bm25_batch_equals_single_query(spark):
    """bm25_topk_batch per query ≡ bm25_topk (same tokenizer, same
    stats, same tf/df); scores compared on a 1e-6 floor — per-doc sums
    of doubles are aggregation-order-sensitive at the last ulp."""
    import math

    from gluestick_spark.llm.retrieval import bm25_topk, bm25_topk_batch

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qs = [
        (1, "spark merge join window"),
        (2, "fast hash filter data"),
        (3, "the stream window sort"),
        (4, "Spark JOIN"),
    ]
    qdf = spark.createDataFrame(qs, "qid long, qtext string")
    batch = bm25_topk_batch(d, "text", "doc_id", qdf, "qid", "qtext", k=8)
    got: dict = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append(
            (r["doc_id"], math.floor(r["bm25"] * 1e6) / 1e6)
        )
    for qid, qtext in qs:
        single = [
            (r["doc_id"], math.floor(r["bm25"] * 1e6) / 1e6)
            for r in bm25_topk(d, "text", "doc_id", qtext, k=8).collect()
        ]
        assert got.get(qid, []) == single, qid


def test_rrf_fuse_per_query_equals_per_query_single(spark):
    """rrf_fuse(query_col=) groups ranks and fusion per query: each
    query's fused list equals single-query rrf_fuse over that query's
    legs, and k bounds EACH query's output."""
    from gluestick_spark.llm.retrieval import bm25_topk_batch, rrf_fuse

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qs = [(1, "spark merge join window"), (2, "fast hash filter data")]
    qdf = spark.createDataFrame(qs, "qid long, qtext string")
    batch = bm25_topk_batch(d, "text", "doc_id", qdf, "qid", "qtext", k=40)
    leg1 = batch.select(
        "qid", "doc_id", (F.floor(F.col("bm25") * 100) / 100).alias("s")
    )
    leg2 = batch.select("qid", "doc_id", (-F.col("bm25")).alias("s"))
    fused = rrf_fuse(
        [(leg1, "s", False), (leg2, "s", True)], "doc_id", k=5,
        query_col="qid",
    )
    rows = fused.collect()
    for qid, _ in qs:
        per = [
            (r["doc_id"], r["rrf_score"], r["n_legs"])
            for r in rows
            if r["qid"] == qid
        ]
        assert 0 < len(per) <= 5
        l1 = leg1.where(F.col("qid") == qid).drop("qid")
        l2 = leg2.where(F.col("qid") == qid).drop("qid")
        single = [
            (r["doc_id"], r["rrf_score"], r["n_legs"])
            for r in rrf_fuse(
                [(l1, "s", False), (l2, "s", True)], "doc_id", k=5
            ).collect()
        ]
        assert per == single, qid


# ---------------- checksum-validated PII (VERDICT r14 #7) ----------


def test_luhn_and_iban_validation_known_vectors(spark):
    """Published checksum test vectors: real-shaped valid numbers pass,
    off-by-one forgeries fail, lookalike digit runs are never candidates,
    and redact_validated_expr replaces ONLY the valid matches."""
    from gluestick_spark.llm.pii import (
        iban_valid_expr,
        luhn_valid_expr,
        redact_validated_expr,
        valid_cards_expr,
        valid_ibans_expr,
    )

    luhn_cases = [
        ("4539148803436467", True),   # Visa test PAN
        ("4539148803436468", False),  # last digit off
        ("5500000000000004", True),   # Mastercard test PAN
        ("378282246310005", True),    # Amex (15 digits)
        ("1234567890123456", False),
        ("79927398713", False),       # valid Luhn but < 13 digits
    ]
    got = {
        r["d"]: r["ok"]
        for r in spark.createDataFrame(luhn_cases, "d string, want boolean")
        .select("d", luhn_valid_expr(F.col("d")).alias("ok"))
        .collect()
    }
    for d, want in luhn_cases:
        assert got[d] == want, d

    iban_cases = [
        ("DE89370400440532013000", True),
        ("DE89370400440532013001", False),
        ("GB82WEST12345698765432", True),
        ("FR1420041010050500013M02606", True),
        ("GB82WEST12345698765431", False),
    ]
    got = {
        r["s"]: r["ok"]
        for r in spark.createDataFrame(iban_cases, "s string, want boolean")
        .select("s", iban_valid_expr(F.col("s")).alias("ok"))
        .collect()
    }
    for v, want in iban_cases:
        assert got[v] == want, v

    # end-to-end: only the checksum-valid matches are found/redacted
    txt = (
        "order 1234-5678-9012-3456 card 5500-0000-0000-0004 "
        "wire DE89370400440532013000 not DE89370400440532013001"
    )
    row = spark.createDataFrame([(txt,)], "text string").select(
        valid_cards_expr(F.col("text")).alias("c"),
        valid_ibans_expr(F.col("text")).alias("i"),
        redact_validated_expr(F.col("text")).alias("r"),
    ).first()
    assert row["c"] == ["5500-0000-0000-0004"]
    assert row["i"] == ["DE89370400440532013000"]
    assert row["r"] == (
        "order 1234-5678-9012-3456 card <CARD> "
        "wire <IBAN> not DE89370400440532013001"
    )
