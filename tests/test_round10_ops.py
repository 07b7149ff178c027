"""Round-10 contracts: the four ADVICE-r9 fixes, then the round's new
operators (each also has a driver-oracle row where SQL-expressible)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ----------------------------------- ADVICE 3: resample non-string class --


def test_resample_to_ratio_int_class_labels(spark):
    """ADVICE r9 (low): the weights frame's schema must derive from the
    data's class column — integer labels must work, not TypeError."""
    from gluestick_spark.llm.sampling import resample_to_ratio

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(90)], "k long, cls int"
    )
    out = resample_to_ratio(df, "k", "cls", {0: 2, 1: 1})
    counts = {r["cls"]: r["n"] for r in out.groupBy("cls").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # n_0 = n_1 = 30; u = min(30//2, 30//1) = 15 -> 30:15
    assert counts == {0: 30, 1: 15}


# ------------------------------------ VERDICT 2: persisted IVF x PQ index --


def test_pq_ivf_append_serves_like_frozen_rebuild(spark, tmp_dir):
    """pq_ivf_append assigns + encodes the new batch against the FROZEN
    persisted router/codebooks and appends into the cell directories —
    after append(half2) onto index(half1), every half2 vector is present
    and scored identically to encoding it standalone under half1's
    geometry (the sq_ivf_append contract, applied to PQ)."""
    from gluestick_spark.llm.pq import (
        materialize_pq_ivf,
        pq_ivf_append,
        pq_ivf_topk_indexed,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    mid = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).first()[0]
    h1 = emb.where(F.col("vec_id") <= mid)
    h2 = emb.where(F.col("vec_id") > mid)
    q_h2 = list(h2.first()["embedding"])
    path = os.path.join(tmp_dir, "idx")
    materialize_pq_ivf(h1, "embedding", "vec_id", path, m=4, n_codes=8,
                       n_clusters=4, iters=1)
    before = {r["vec_id"] for r in
              pq_ivf_topk_indexed(spark, path, q_h2, k=5, nprobe=4).collect()}
    pq_ivf_append(h2, "embedding", "vec_id", path)
    after = pq_ivf_topk_indexed(spark, path, q_h2, k=5, nprobe=4).collect()
    # the query vector itself (in half2) is now present with the minimal
    # ADC self-distance, and ids from both halves are reachable
    assert after[0]["vec_id"] == h2.first()["vec_id"]
    assert {r["vec_id"] for r in after} != before

    # torn-append bracket: marker removed mid-append -> refuse loudly
    router = os.path.join(path, "_ROUTER.json")
    assert os.path.isfile(router)  # re-committed after the append
    os.remove(router)
    with pytest.raises(ValueError, match="uncommitted"):
        pq_ivf_topk_indexed(spark, path, q_h2, k=5, nprobe=4)
    with pytest.raises(ValueError, match="uncommitted"):
        pq_ivf_append(h2, "embedding", "vec_id", path)


# ------------------------------ ADVICE r10: dsir w_max winsorization ------


def test_dsir_w_cap_winsorizes_outlier(spark):
    """ADVICE r10: a single outlier weight must not collapse corpus-wide
    acceptance. w_cap_quantile caps at the exact order statistic
    ceil(q*n); w_cap_ppm pins the cap absolutely; docs at/above the cap
    saturate at keep-probability 1 (always kept)."""
    import hashlib
    from math import ceil

    from gluestick_spark.llm.sampling import dsir_sample

    def khash(key: str, seed: str = "") -> int:
        return int(hashlib.md5(f"{key}\x1f{seed}".encode()).hexdigest()[:15], 16)

    # target dominated by "rare" grams that only doc 0 in raw carries ->
    # doc 0's weight is a corpus-wide outlier
    raw_rows = [(0, "zzz qqq zzz qqq zzz")] + [
        (i, "common words here again") for i in range(1, 40)
    ]
    tgt_rows = [(i, "zzz qqq") for i in range(30)]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")

    base = {
        r["doc_id"]: (r["dsir_weight_ppm"], r["kept"])
        for r in dsir_sample(
            raw, "doc_id", "text", tgt, n_buckets=16, return_all=True
        ).collect()
    }
    weights = {d: w for d, (w, _) in base.items()}
    w_out = weights[0]
    assert w_out == max(weights.values()) and w_out > min(weights.values())

    # quantile cap: exact order statistic at ceil(q*n) over doc weights
    q = 0.9
    ws = sorted(weights.values())
    cap = ws[ceil(q * len(ws)) - 1]
    assert cap < w_out
    got = {
        r["doc_id"]: r["kept"]
        for r in dsir_sample(
            raw, "doc_id", "text", tgt, n_buckets=16, return_all=True,
            w_cap_quantile=q,
        ).collect()
    }
    want = {
        d: float(khash(str(d))) * float(cap) < float(w) * float(1 << 60)
        for d, w in weights.items()
    }
    assert got == want
    assert got[0]  # the outlier saturates at acceptance 1
    # winsorizing can only RAISE acceptance for the non-outliers
    assert all(got[d] or not base[d][1] for d in weights)

    # absolute override takes precedence
    got_abs = {
        r["doc_id"]: r["kept"]
        for r in dsir_sample(
            raw, "doc_id", "text", tgt, n_buckets=16, return_all=True,
            w_cap_ppm=1, w_cap_quantile=q,
        ).collect()
    }
    assert all(got_abs.values())  # cap=1 -> every weight saturates

    import pytest as _pytest
    with _pytest.raises(ValueError, match="w_cap_ppm"):
        dsir_sample(raw, "doc_id", "text", tgt, w_cap_ppm=0)
    with _pytest.raises(ValueError, match="w_cap_quantile"):
        dsir_sample(raw, "doc_id", "text", tgt, w_cap_quantile=1.5)


# ----------------------- ADVICE r10: _APPEND_INPROGRESS manifest bracket --


def test_append_manifest_rollback_unit(tmp_dir):
    """index_commit primitives on plain files: begin snapshots the cell
    listing, rollback deletes unmanifested files, prunes dirs the torn
    batch created, and is idempotent."""
    from gluestick_spark.llm.index_commit import (
        SIDECAR,
        begin_append,
        commit_append,
        require_committed,
        rollback_torn_append,
    )

    idx = os.path.join(tmp_dir, "idx")
    os.makedirs(os.path.join(idx, "cells", "cid=0"))
    old = os.path.join(idx, "cells", "cid=0", "part-old.parquet")
    open(old, "w").write("old")

    begin_append(idx)
    require_error = False
    try:
        require_committed(idx, "test")
    except ValueError:
        require_error = True
    assert require_error  # serving refuses while the bracket is open

    # torn batch: a new file in an existing cell + a whole new cell dir
    new1 = os.path.join(idx, "cells", "cid=0", "part-new.parquet")
    open(new1, "w").write("new")
    os.makedirs(os.path.join(idx, "cells", "cid=7"))
    new2 = os.path.join(idx, "cells", "cid=7", "part-new2.parquet")
    open(new2, "w").write("new2")

    assert rollback_torn_append(idx)
    assert os.path.isfile(old)
    assert not os.path.exists(new1)
    assert not os.path.exists(os.path.join(idx, "cells", "cid=7"))
    assert not os.path.isfile(os.path.join(idx, SIDECAR))
    assert not rollback_torn_append(idx)  # idempotent no-op

    # clean bracket: begin + commit leaves no sidecar
    begin_append(idx)
    commit_append(idx)
    require_committed(idx, "test")  # no raise


def test_pq_ivf_torn_append_self_heals(spark, tmp_dir):
    """Same manifest protocol on the PQ index."""
    import json

    from gluestick_spark.llm.pq import (
        materialize_pq_ivf,
        pq_ivf_append,
        pq_ivf_topk_indexed,
    )
    from gluestick_spark.llm.index_commit import SIDECAR, _list_cell_files

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    mid = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).first()[0]
    h1 = emb.where(F.col("vec_id") <= mid)
    h2 = emb.where(F.col("vec_id") > mid)
    q = list(h2.first()["embedding"])
    path = os.path.join(tmp_dir, "idx")
    materialize_pq_ivf(h1, "embedding", "vec_id", path, m=4, n_codes=8,
                       n_clusters=4, iters=1)
    pre_files = _list_cell_files(os.path.join(path, "cells"))

    pq_ivf_append(h2, "embedding", "vec_id", path)
    want = [r["vec_id"] for r in
            pq_ivf_topk_indexed(spark, path, q, k=5, nprobe=4).collect()]

    with open(os.path.join(path, SIDECAR), "w") as f:
        json.dump({"files": pre_files, "cells": "cells"}, f)
    with pytest.raises(ValueError, match="in-progress or torn"):
        pq_ivf_topk_indexed(spark, path, q, k=5, nprobe=4)

    pq_ivf_append(h2, "embedding", "vec_id", path)
    got = [r["vec_id"] for r in
           pq_ivf_topk_indexed(spark, path, q, k=5, nprobe=4).collect()]
    assert got == want
    assert not os.path.exists(os.path.join(path, SIDECAR))


# ----------------------------------- VERDICT 6: quantized-ANN recall audit


def test_ann_recall_audit_shape_and_determinism(spark):
    """One report row per index type; recall_bp in [0, 10000]; SQ (pure
    int8 quantization loss) must dominate the pruned/coded variants on
    the same exact reference; re-runs audit the SAME sample (pytest-
    pinned evidence class — no SQL oracle, float reference)."""
    from gluestick_spark.llm.similarity import ann_recall_audit

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    out = ann_recall_audit(emb, "embedding", "vec_id", k=10, n_queries=3)
    rows = {r["index_type"]: r for r in out.collect()}
    assert set(rows) == {"sq", "sq_ivf", "pq"}
    for r in rows.values():
        assert r["n_queries"] == 3 and r["n_exact"] == 30
        assert 0 <= r["n_hit"] <= r["n_exact"]
        assert 0 <= r["recall_bp"] <= 10000
    # int8 SQ loses almost nothing; pruning/coding can only lose more
    assert rows["sq"]["recall_bp"] >= 9000
    assert rows["sq"]["recall_bp"] >= rows["sq_ivf"]["recall_bp"]
    again = ann_recall_audit(emb, "embedding", "vec_id", k=10, n_queries=3)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_ann_recall_audit_vacuous_contract(spark):
    """Empty sample -> zero queries -> recall_bp 10000 (vacuous recall,
    stated contract — same as the LSH audit's no-true-pairs case)."""
    from gluestick_spark.llm.similarity import ann_recall_audit

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    out = ann_recall_audit(emb.where("vec_id < 0"), "embedding", "vec_id", k=5)
    assert [
        (r["n_queries"], r["n_exact"], r["recall_bp"]) for r in out.collect()
    ] == [(0, 0, 10000)] * 3
    # with rerank set the vacuous report covers pq_r too
    out_r = ann_recall_audit(
        emb.where("vec_id < 0"), "embedding", "vec_id", k=5, rerank=20
    )
    assert [r["index_type"] for r in out_r.collect()] == [
        "sq", "sq_ivf", "pq", "pq_r",
    ]


# ------------------------------------- VERDICT r10 #6: IVFADC+R rerank ----


def test_pq_rerank_indexed_equals_direct_and_lifts_recall(spark, tmp_dir):
    """rerank=R re-scores the top-R ADC candidates with the exact int64
    L2 on the stored quantized vectors: indexed ≡ direct (shared
    _rerank_tail), the audit shows a recall@10 lift over raw ADC, and
    the guards refuse loudly (no stored vectors / R < k)."""
    from gluestick_spark.llm.pq import (
        materialize_pq_ivf,
        pq_ivf_topk,
        pq_ivf_topk_indexed,
    )
    from gluestick_spark.llm.similarity import ann_recall_audit

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q = list(emb.where(F.col("vec_id") == 7).first()["embedding"])
    path = os.path.join(tmp_dir, "idx")
    materialize_pq_ivf(emb, "embedding", "vec_id", path, m=4, n_codes=8,
                       n_clusters=4, iters=1, store_vectors=True)
    got = pq_ivf_topk_indexed(spark, path, q, k=5, nprobe=2, rerank=20).collect()
    want = pq_ivf_topk(emb, "embedding", "vec_id", q, k=5, m=4, n_codes=8,
                       n_clusters=4, nprobe=2, iters=1, rerank=20).collect()
    assert got == want
    # the query vector itself is in the corpus: refinement ranks it first
    # with exact distance 0 (raw ADC need not)
    assert got[0]["vec_id"] == 7 and got[0]["rerank_dist"] == 0

    audit = {
        r["index_type"]: r["recall_bp"]
        for r in ann_recall_audit(
            emb, "embedding", "vec_id", k=10, n_queries=4, nprobe=2, rerank=50
        ).collect()
    }
    assert audit["pq_r"] > audit["pq"]  # deterministic sample: 4000 vs 2000

    with pytest.raises(ValueError, match="rerank must be >= k"):
        pq_ivf_topk_indexed(spark, path, q, k=10, rerank=5)
    path2 = os.path.join(tmp_dir, "idx2")
    materialize_pq_ivf(emb, "embedding", "vec_id", path2, m=4, n_codes=8,
                       n_clusters=4, iters=1)  # no vectors stored
    with pytest.raises(ValueError, match="store_vectors"):
        pq_ivf_topk_indexed(spark, path2, q, k=5, rerank=20)


# -------------------------------- VERDICT 8: streaming quality filter -----


def test_streaming_quality_filter_stream_equals_batch(spark, tmp_dir):
    """Frozen weights + no cross-batch state => the union of per-batch
    outputs equals batch classifier_score + threshold EXACTLY; kept and
    rejected partition the corpus."""
    from gluestick_spark.llm.classifier import classifier_score
    from gluestick_spark.streaming.pipeline import (
        read_streaming_dedup_output,
        stream_from_directory,
        streaming_quality_filter,
    )

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    weights = [((b * 13) % 11 - 5) / 5.0 for b in range(32)]
    stage = os.path.join(tmp_dir, "src")
    out, rej = os.path.join(tmp_dir, "out"), os.path.join(tmp_dir, "rej")
    ckpt = os.path.join(tmp_dir, "ckpt")
    mid = d.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    for cond in (F.col("doc_id") <= mid, F.col("doc_id") > mid):
        d.where(cond).coalesce(1).write.mode("append").parquet(stage)
        q = streaming_quality_filter(
            stream_from_directory(spark, stage, d.schema),
            "text", "doc_id", weights, 0.05, out, rej, ckpt,
        )
        q.awaitTermination()
    kept = read_streaming_dedup_output(spark, out)
    rejected = read_streaming_dedup_output(spark, rej)
    batch = classifier_score(d, "text", weights)
    want_kept = {
        (r["doc_id"], r["clf_score"])
        for r in batch.where("clf_score >= 0.05").collect()
    }
    got_kept = {(r["doc_id"], r["clf_score"]) for r in kept.collect()}
    assert got_kept == want_kept
    assert kept.count() + rejected.count() == d.count()
    assert 0 < kept.count() < d.count()  # the threshold actually splits


# -------------------------------- VERDICT 9: unicode-robust tokenizer -----


def test_normalize_text_expr_crawl_artifacts(spark):
    """NBSP/fullwidth/zero-width artifacts silently glue or split tokens
    under the raw \\s+ split; the opt-in normalizer folds them."""
    from gluestick_spark.llm.text import tokens_expr

    rows = [
        (1, "a b"),                       # NBSP: raw = 1 glued token
        (2, "x​yz"),                      # ZWSP glues -> one clean token
        (3, "ｈｅｌｌｏ ｗｏｒｌｄ"),            # fullwidth folds to ascii
        (4, "p q　r"),                # thin + ideographic spaces
        (5, "﻿lead trail‍"),         # BOM / ZWJ strips
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    raw = {r["i"]: r["toks"] for r in df.select(
        "i", tokens_expr(F.col("t")).alias("toks")).collect()}
    norm = {r["i"]: r["toks"] for r in df.select(
        "i", tokens_expr(F.col("t"), normalize=True).alias("toks")).collect()}
    assert raw[1] == ["a b"] and norm[1] == ["a", "b"]
    assert norm[2] == ["xyz"]
    assert norm[3] == ["hello", "world"]
    assert norm[4] == ["p", "q", "r"]
    assert norm[5] == ["lead", "trail"]
    # opt-in: default path untouched
    assert raw[3] == ["ｈｅｌｌｏ", "ｗｏｒｌｄ"]


# ------------------------------------------ topic-balanced selection ------


def test_cluster_balanced_sample_caps_exactly(spark):
    """Every cluster is capped at EXACTLY n (whole if smaller); membership
    is deterministic and the kept ids are a subset of the cluster's."""
    from gluestick_spark.llm.cluster import cluster_balanced_sample, kmeans

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    out = cluster_balanced_sample(emb, "embedding", "vec_id", 12, k=4, iters=1)
    sizes = {r["cid"]: r["n"] for r in out.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    full = {r["cid"]: r["n"] for r in kmeans(
        emb, "embedding", "vec_id", k=4, iters=1).groupBy("cid").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {c: min(12, n) for c, n in full.items()}
    again = cluster_balanced_sample(emb, "embedding", "vec_id", 12, k=4, iters=1)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
    # a different seed draws a different (same-sized) sample
    other = cluster_balanced_sample(
        emb, "embedding", "vec_id", 12, k=4, iters=1, seed="x"
    )
    assert sorted(map(tuple, out.collect())) != sorted(map(tuple, other.collect()))


# ----------------------------------------------- LSH geometry planner -----


def test_plan_lsh_geometry_s_curve():
    """Divisor-grid S-curve planning (MMDS §3.4): known inflections and
    the lean contracts."""
    from gluestick_spark.llm.dedup import (
        lsh_candidate_probability,
        plan_lsh_geometry,
    )

    # num_perm=64: b=16,r=4 -> 0.5; b=8,r=8 -> ~0.771; b=4,r=16 -> ~0.917
    b, r, t = plan_lsh_geometry(64, 0.7, "balanced")
    assert (b, r) == (8, 8) and abs(t - (1 / 8) ** (1 / 8)) < 1e-12
    b, r, t = plan_lsh_geometry(64, 0.7, "recall")
    assert (b, r) == (16, 4) and t <= 0.7  # most bands under threshold
    b, r, t = plan_lsh_geometry(64, 0.7, "precision")
    assert (b, r) == (8, 8) and t >= 0.7   # fewest bands above threshold
    # the curve at the planned geometry behaves like an S-curve
    lo = lsh_candidate_probability(0.4, 8, 8)
    hi = lsh_candidate_probability(0.9, 8, 8)
    assert lo < 0.01 and hi > 0.95
    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold"):
        plan_lsh_geometry(64, 1.5)
    with _pytest.raises(ValueError, match="lean"):
        plan_lsh_geometry(64, 0.7, "yolo")


# ------------------------------------------ Gopher rule battery (L115) ----


def test_gopher_quality_flags_rules(spark):
    """Each Gopher rule fires on its crafted violator and passes on the
    clean document; ratio rules are exact integer comparisons."""
    from gluestick_spark.llm.text import gopher_quality_flags

    good = ("the data and the model have to be of good size with that "
            "margin " * 8).strip()             # 88 words, stopword-rich
    rows = [
        (1, good),
        (2, "short text"),                     # word count
        (3, ("a b c " * 30).strip()),          # mean word len < 3, no stopwords
        (4, good + " " + "# " * 20),           # symbol ratio
        (5, good + "\n" + "\n".join(f"- item {i}" for i in range(19))),  # >90% bullets
        (6, good + "\n" + "\n".join(f"line {i}..." for i in range(9))),  # ellipsis
        (7, good + " " + "123 456 789 " * 10), # alpha ratio
        (8, None),                             # null text: fails word count only
    ]
    df = spark.createDataFrame(rows, "i long, text string")
    out = {r["i"]: r for r in gopher_quality_flags(df, "text").collect()}
    assert out[1]["gopher_pass"]
    assert not out[2]["f_word_count"]
    assert not out[3]["f_mean_word_len"] and not out[3]["f_stopwords"]
    assert not out[4]["f_symbol_ratio"] and out[1]["f_symbol_ratio"]
    assert not out[5]["f_bullet_lines"] and out[1]["f_bullet_lines"]
    assert not out[6]["f_ellipsis_lines"] and out[1]["f_ellipsis_lines"]
    assert not out[7]["f_alpha_words"] and out[1]["f_alpha_words"]
    assert not out[8]["f_word_count"] and out[8]["f_symbol_ratio"]
    assert all(not out[i]["gopher_pass"] for i in range(2, 9))


def test_gopher_bullet_threshold_is_papers_90pct(spark):
    """ADVICE r10: the bullet rule is Rae et al.'s — remove docs with
    MORE than 90% bullet-started lines. Exactly 90% passes; 95% fails."""
    from gluestick_spark.llm.text import gopher_quality_flags

    body = "the data and the model have to be of good size " * 5
    rows = [
        (1, body + "\n" + "\n".join(f"- item {i}" for i in range(9))),   # 9/10
        (2, body + "\n" + "\n".join(f"- item {i}" for i in range(19))),  # 19/20
    ]
    df = spark.createDataFrame(rows, "i long, text string")
    out = {r["i"]: r for r in gopher_quality_flags(df, "text").collect()}
    assert out[1]["f_bullet_lines"]       # 10*9 <= 9*10 (exactly 90%)
    assert not out[2]["f_bullet_lines"]   # 10*19 > 9*20


def test_gopher_alpha_mode_unicode_and_route(spark):
    """VERDICT r10 #5: alpha_mode='unicode' counts \\p{L} letters;
    'route' dispatches per document by lang_id — zh docs get the
    unicode class, English (and und) keep the paper-literal ASCII."""
    import pytest as _pytest
    from gluestick_spark.llm.text import gopher_quality_flags

    zh = "的 是 了 在 我 " * 12                  # 60 unicode-letter words
    en = "the data and the model have to be of good size with that " * 5
    df = spark.createDataFrame([(1, zh), (2, en)], "i long, text string")

    ascii_out = {r["i"]: r for r in gopher_quality_flags(df, "text").collect()}
    assert not ascii_out[1]["f_alpha_words"]      # ASCII class zeroes zh
    assert ascii_out[2]["f_alpha_words"]

    uni = {r["i"]: r for r in
           gopher_quality_flags(df, "text", alpha_mode="unicode").collect()}
    assert uni[1]["f_alpha_words"] and uni[2]["f_alpha_words"]

    routed = {r["i"]: r for r in
              gopher_quality_flags(df, "text", alpha_mode="route").collect()}
    assert routed[1]["f_alpha_words"]             # lang=zh → \p{L}
    assert routed[2]["f_alpha_words"]             # lang=en → ASCII path

    with _pytest.raises(ValueError, match="alpha_mode"):
        gopher_quality_flags(df, "text", alpha_mode="latin1")


# --------------------------------- VERDICT 4: triangle hub-degree cap -----


def test_triangle_cap_equivalent_on_bounded_graph(spark):
    """VERDICT r9 #4: on a graph whose max degree is within the cap,
    capped ≡ uncapped exactly — the cap only ever removes genuinely
    over-degree hubs, never changes counts on the survivors' subgraph."""
    from gluestick_spark.operators.graph import triangle_count

    # two disjoint 4-cliques bridged by one edge: max degree 4
    edges = []
    for base in (0, 10):
        for i in range(4):
            for j in range(i + 1, 4):
                edges.append((base + i, base + j))
    edges.append((0, 10))
    e = spark.createDataFrame(edges, "src long, dst long")
    exact = sorted(map(tuple, triangle_count(e).collect()))
    capped = sorted(map(tuple, triangle_count(e, max_degree=4).collect()))
    assert exact == capped
    # every clique node sits in C(3,2)=3 triangles
    assert all(n == 3 for _, n in exact)


def test_triangle_cap_drops_hub_exactly(spark):
    """A super-hub over the cap is removed with its edges; the result is
    EXACT on the induced subgraph (the hub emits no row, its exclusive
    neighbors lose their hub triangles, independent triangles stay)."""
    from gluestick_spark.operators.graph import triangle_count

    # hub 99 connected to 0..9 (degree 10); ring edges 0-1, 1-2 close
    # hub triangles; plus an independent triangle (20,21,22)
    edges = [(99, i) for i in range(10)] + [(0, 1), (1, 2)]
    edges += [(20, 21), (21, 22), (20, 22)]
    e = spark.createDataFrame(edges, "src long, dst long")
    exact = {r["node"]: r["n_triangles"] for r in triangle_count(e).collect()}
    assert exact[99] == 2 and exact[20] == 1
    capped = {
        r["node"]: r["n_triangles"]
        for r in triangle_count(e, max_degree=5).collect()
    }
    assert 99 not in capped  # dropped loudly: no row, not a zero
    # survivors' subgraph: 0-1, 1-2 remain (no triangle), indep stays
    assert capped[20] == capped[21] == capped[22] == 1
    assert capped[0] == capped[1] == capped[2] == 0
    with pytest.raises(ValueError, match="max_degree"):
        triangle_count(e, max_degree=0)
