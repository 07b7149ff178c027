"""LLM-pipeline operator tests: dedup, similarity, text analysis, multimodal."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gluestick_spark.llm import (
    attach_binary_metadata,
    bpe_token_count_expr,
    cosine_topk,
    decode_image_features,
    exact_dedup,
    fingerprint_expr,
    ivf_topk,
    jaccard_expr,
    lang_id_expr,
    lsh_ann_topk,
    quality_score_expr,
    sample_frames,
    word_count_expr,
)
from gluestick_spark.llm.similarity import random_hyperplanes

SF = "/root/testdata/sf0.001"


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [Row(doc_id=3, text="same"), Row(doc_id=1, text="same"), Row(doc_id=2, text="other")]
    )
    out = exact_dedup(df, "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]


def test_jaccard_expr(spark):
    df = spark.createDataFrame([Row(a=["x", "y", "z"], b=["y", "z", "w"])])
    assert abs(df.select(jaccard_expr(F.col("a"), F.col("b")).alias("j")).first()["j"] - 0.5) < 1e-9


def test_cosine_topk_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = list(emb.where("vec_id = 0").first()["embedding"])
    top = cosine_topk(emb, "embedding", q, k=3).collect()
    assert top[0]["vec_id"] == 0
    assert abs(top[0]["similarity"] - 1.0) < 1e-9
    assert top[0]["similarity"] >= top[1]["similarity"] >= top[2]["similarity"]


def test_lsh_ann_subset_of_bruteforce_space(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = list(emb.where("vec_id = 0").first()["embedding"])
    approx = lsh_ann_topk(emb, "embedding", q, k=5, num_planes=8, multiprobe=2).collect()
    assert approx[0]["vec_id"] == 0  # query vector always in its own bucket
    exact = {r["vec_id"]: r["similarity"] for r in cosine_topk(emb, "embedding", q, k=500).collect()}
    for r in approx:
        assert abs(exact[r["vec_id"]] - r["similarity"]) < 1e-9


def test_ivf_topk(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = list(emb.where("vec_id = 0").first()["embedding"])
    cents = random_hyperplanes(len(q), 4, seed=7)
    top = ivf_topk(emb, "embedding", q, cents, k=3, nprobe=4).collect()
    # nprobe = all centroids → identical to brute force
    exact = cosine_topk(emb, "embedding", q, k=3).collect()
    assert [r["vec_id"] for r in top] == [r["vec_id"] for r in exact]


def test_train_ivf_centroids_end_to_end(spark):
    """MLlib-trained codebook feeds ivf_topk; with nprobe covering every
    trained centroid the probe equals brute force."""
    from gluestick_spark.llm.similarity import train_ivf_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = list(emb.where("vec_id = 0").first()["embedding"])
    cents = train_ivf_centroids(emb, "embedding", n_centroids=4, max_iter=5, seed=3)
    assert len(cents) == 4 and len(cents[0]) == len(q)
    top = ivf_topk(emb, "embedding", q, cents, k=3, nprobe=4).collect()
    exact = cosine_topk(emb, "embedding", q, k=3).collect()
    assert [r["vec_id"] for r in top] == [r["vec_id"] for r in exact]


def test_text_stats_and_lang(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the dog, with 42 others!"),
            Row(doc_id=2, text="el que los una por el que"),
            Row(doc_id=3, text=""),
        ]
    )
    out = df.select(
        "doc_id",
        word_count_expr(F.col("text")).alias("w"),
        bpe_token_count_expr(F.col("text")).alias("b"),
        lang_id_expr(F.col("text")).alias("lang"),
        quality_score_expr(F.col("text")).alias("q"),
        fingerprint_expr(F.col("text")).alias("fp"),
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[1]["w"] == 8
    assert rows[1]["b"] == 10  # words + number + comma + bang
    assert rows[1]["lang"] == "en"
    assert rows[2]["lang"] == "es"
    assert rows[3]["lang"] == "und"
    assert 0.0 <= rows[1]["q"] <= 1.0
    assert len(rows[1]["fp"]) == 32


def test_lang_id_cjk(spark):
    """zh markers are substring counts (ASCII \\b never fires inside CJK)."""
    df = spark.createDataFrame(
        [Row(doc_id=1, text="我是学生了的"), Row(doc_id=2, text="the cat is the cat")]
    )
    out = {r["doc_id"]: r["lang"] for r in df.select(
        "doc_id", lang_id_expr(F.col("text")).alias("lang")).collect()}
    assert out[1] == "zh"
    assert out[2] == "en"


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [Row(id=1, text="alpha beta gamma"), Row(id=2, text="gamma  alpha beta beta")]
    )
    fps = [r["fp"] for r in df.select(fingerprint_expr(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_rolling_hash_winnow_fingerprint(spark):
    from gluestick_spark.llm import rolling_hashes_expr, winnow_fingerprint_expr

    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base),  # identical -> identical fp
            Row(doc_id=3, text=base.replace("lazy", "sleepy")),  # local edit
            Row(doc_id=4, text="totally different content here entirely"),
            Row(doc_id=5, text=""),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            rolling_hashes_expr(F.col("text"), 3).alias("h"),
            winnow_fingerprint_expr(F.col("text"), 3, 2).alias("fp"),
        ).collect()
    }
    # 13 words -> 11 trigram shingles
    assert len(out[1]["h"]) == 11
    assert out[1]["fp"] == out[2]["fp"]
    assert out[1]["fp"] != out[4]["fp"]
    # local edit: shingle hash multiset mostly shared (only 3 shingles touch the edit)
    shared = set(out[1]["h"]) & set(out[3]["h"])
    assert len(shared) >= len(out[1]["h"]) - 4
    # empty doc: deterministic single zero hash
    assert out[5]["h"] == [0]


def test_multimodal_metadata_and_decode(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="hello world")])
    b = df.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    meta = attach_binary_metadata(b, "payload", "image", "image/png").first()["media_meta"]
    assert meta["n_bytes"] == 11
    assert len(meta["sha256"]) == 64
    feats = decode_image_features(b, "payload", ["doc_id"]).first()["features"]
    assert 64 <= feats["width"] < 256
    assert feats["channels"] == 3
    # deterministic fake
    feats2 = decode_image_features(b, "payload", ["doc_id"]).first()["features"]
    assert feats == feats2


def test_decode_audio_features(spark):
    from gluestick_spark.llm.multimodal import decode_audio_features, fake_audio_decoder

    df = spark.createDataFrame([Row(doc_id=1, text="hello world"), Row(doc_id=2, text="bye")])
    b = df.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    rows = {r["doc_id"]: r["features"] for r in decode_audio_features(b, "payload", ["doc_id"]).collect()}
    assert rows[1]["sample_rate"] in (8000, 16000, 22050, 44100)
    assert rows[1]["n_channels"] in (1, 2)
    assert 0.0 <= rows[1]["rms_level"] <= 1.0
    # distributed result equals the record-level decoder output
    expected = fake_audio_decoder(b"hello world")
    assert rows[1].asDict() == expected
    # injectable decoder
    custom = decode_audio_features(
        b, "payload", ["doc_id"],
        decoder=lambda p: {"sample_rate": 1, "n_channels": 1, "duration_s": 0.0, "rms_level": 0.5},
    ).first()["features"]
    assert custom["sample_rate"] == 1


def test_resize_images_plumbing(spark):
    from gluestick_spark.llm import resize_images

    df = spark.createDataFrame([Row(doc_id=1, text="hello world"), Row(doc_id=2, text="bye")])
    b = df.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    out = resize_images(b, "payload", ["doc_id"], width=16, height=8).collect()
    assert len(out) == 2
    for r in out:
        assert len(r["resized"]) == 16 * 8
        assert r["media_meta"]["n_bytes"] == 16 * 8
        assert r["media_meta"]["modality"] == "image"
    # deterministic fake
    again = resize_images(b, "payload", ["doc_id"], width=16, height=8).collect()
    assert {bytes(r["resized"]) for r in out} == {bytes(r["resized"]) for r in again}


def test_sample_frames_requires_extractor(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="x")])
    b = df.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    with pytest.raises(Exception, match="frame_extractor"):
        sample_frames(b, "payload", ["doc_id"]).collect()
    out = sample_frames(
        b, "payload", ["doc_id"], frame_extractor=lambda data, n: [data, data]
    ).collect()
    assert [r["frame_idx"] for r in out] == [0, 1]


def test_pure_python_xxh64_matches_spark(spark):
    """tools/xxh64.py is the independent oracle for xxhash64-dependent
    operators — its output must be bit-identical to Spark's."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.xxh64 import xxh64

    samples = ["", "a", "abc", "hello world", "x" * 100, "übergrößé", "tok" * 11]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    assert got == [xxh64(s.encode("utf-8")) for s in samples]


def test_lsh_geometry_scales_with_corpus():
    """Piece width must grow with corpus size (expected bucket width held
    near target) — the fixed-fan-out design was the round-3 scale hazard."""
    from gluestick_spark.llm.dedup import lsh_geometry

    assert lsh_geometry(500) == 5
    assert lsh_geometry(2_000) == 7
    assert lsh_geometry(1_000_000) == 16 or lsh_geometry(1_000_000) == 15
    # monotone non-decreasing in n, clamped
    widths = [lsh_geometry(n) for n in (10, 100, 10_000, 10**6, 10**9)]
    assert widths == sorted(widths)
    assert widths[0] == 4 and widths[-1] == 15
    # expected bucket width n/2^bits stays within ~2x of target in the
    # unclamped regime
    for n in (1_000, 50_000, 400_000):
        bits = lsh_geometry(n, target_bucket=16)
        assert n / 2**bits <= 16 < 2 * n / 2**bits + 16


def test_connected_components_transitive(spark):
    """A~B~C chains to one component even when A,C never pair directly;
    separate clusters stay separate."""
    from gluestick_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [Row(a=1, b=2), Row(a=2, b=3), Row(a=3, b=4), Row(a=10, b=11), Row(a=20, b=21)]
    )
    comps = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_cluster_dedup_keeps_one_per_component(spark):
    """Transitive clusters collapse to their min id; the greedy pair-drop
    would keep nothing of {2,3,4} chained off 1 — cluster_dedup keeps the
    representative and rows that pair with nobody."""
    from gluestick_spark.llm.dedup import cluster_dedup

    df = spark.createDataFrame([Row(doc_id=i, text=f"d{i}") for i in [1, 2, 3, 4, 10, 99]])
    pairs = spark.createDataFrame([Row(a=1, b=2), Row(a=2, b=3), Row(a=3, b=4), Row(a=10, b=4)])
    kept = sorted(r["doc_id"] for r in cluster_dedup(df, pairs, "doc_id").collect())
    assert kept == [1, 99]


def test_cluster_dedup_matches_bruteforce_components(spark):
    """End-to-end on real data: components over verified minhash pairs at
    sf0.001 equal a pure-Python union-find over the same pairs."""
    from gluestick_spark.llm.dedup import cluster_dedup, minhash_near_dup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = minhash_near_dup_pairs(docs, "text", "doc_id", threshold=0.8)
    pair_rows = [(r["a"], r["b"]) for r in pairs.collect()]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for a, b in pair_rows:
        union(a, b)
    # union-find roots are not guaranteed to be the component min mid-stream;
    # canonicalize by grouping
    groups: dict[int, list[int]] = {}
    for n in parent:
        groups.setdefault(find(n), []).append(n)
    expect_drop = sorted(n for g in groups.values() for n in g if n != min(g))

    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    kept = {r["doc_id"] for r in cluster_dedup(docs, pairs, "doc_id").collect()}
    assert sorted(all_ids - kept) == expect_drop


def test_connected_components_deep_chain_and_nonconvergence(spark, monkeypatch):
    """Star contraction halves tree heights per alternation: a 100-node
    chain (diameter 99 — min-label propagation would need 99 rounds)
    converges in O(log n) rounds within the default budget. An exhausted
    budget raises instead of silently returning split clusters, and a
    non-positive budget is rejected at entry. The distributed loop is
    FORCED here (threshold 0) — small graphs normally short-circuit to
    driver-side union-find and never consult max_iter. Each round checks
    convergence with one emptiness check: the whole call runs fewer jobs
    than the 104 of the two-check rounds (count, then exceptAll)."""
    from test_index_commit import _jobs

    from gluestick_spark.llm import dedup
    from gluestick_spark.llm.dedup import connected_components

    monkeypatch.setattr(dedup, "_CC_LOCAL_MAX_EDGES", 0)
    chain = spark.createDataFrame([Row(a=i, b=i + 1) for i in range(99)])
    rows = []
    jobs = _jobs(spark, lambda: rows.extend(connected_components(chain).collect()))
    comps = {r["id"]: r["component"] for r in rows}
    assert set(comps.values()) == {0} and len(comps) == 100
    assert jobs < 104

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(chain, max_iter=0)


def test_connected_components_local_matches_distributed(spark, monkeypatch):
    """The r15 size switch: driver-side union-find (small graphs) and the
    star-contraction loop produce the IDENTICAL (id, min-of-component)
    labeling — checked on a graph mixing chains, a star, a cycle,
    reversed/duplicate edges and an isolated pair."""
    from gluestick_spark.llm import dedup
    from gluestick_spark.llm.dedup import connected_components

    edges = (
        [Row(a=i, b=i + 1) for i in range(0, 20)]          # chain
        + [Row(a=100, b=x) for x in range(101, 110)]        # star
        + [Row(a=200, b=201), Row(a=201, b=202), Row(a=202, b=200)]  # cycle
        + [Row(a=301, b=300), Row(a=300, b=301)]            # reversed dup
        + [Row(a=400, b=401)]
    )
    pairs = spark.createDataFrame(edges)
    local = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    monkeypatch.setattr(dedup, "_CC_LOCAL_MAX_EDGES", 0)
    dist = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert local == dist and local[19] == 0 and local[109] == 100
    assert local[202] == 200 and local[300] == 300 and local[401] == 400


def test_chunk_documents_windows_and_overlap(spark):
    """Token windows: stride = chunk-overlap; consecutive full chunks share
    exactly `overlap` tokens; a tail fully inside the previous window is
    suppressed; short and empty docs behave as documented."""
    from gluestick_spark.llm import chunk_documents

    words = " ".join(f"w{i}" for i in range(20))  # 20 tokens
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=words),
            Row(doc_id=2, text="only four short tokens"),
            Row(doc_id=3, text=""),
        ]
    )
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=8, overlap=3)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}

    # doc 1: stride 5, starts 0,5,10,15 (tail 15: 20-15=5 > 3 overlap -> kept)
    d1 = sorted(k[1] for k in rows if k[0] == 1)
    assert d1 == [0, 1, 2, 3]
    c0, c1 = rows[(1, 0)], rows[(1, 1)]
    assert c0["chunk_text"].split() == [f"w{i}" for i in range(8)]
    assert c1["chunk_text"].split() == [f"w{i}" for i in range(5, 13)]
    # consecutive full chunks share exactly `overlap` tokens
    assert set(c0["chunk_text"].split()) & set(c1["chunk_text"].split()) == {
        "w5", "w6", "w7"
    }
    assert rows[(1, 3)]["n_tokens"] == 5  # tail: w15..w19

    # doc 2: single window covers everything
    assert [k[1] for k in rows if k[0] == 2] == [0]
    assert rows[(2, 0)]["n_tokens"] == 4

    # doc 3: empty doc -> one empty chunk
    assert rows[(3, 0)]["chunk_text"] == "" and rows[(3, 0)]["n_tokens"] == 0


def test_chunk_documents_suppresses_contained_tail(spark):
    """A tail window that adds no tokens beyond the previous window's
    overlap is not emitted (n - s <= overlap)."""
    from gluestick_spark.llm import chunk_documents

    # 10 tokens, chunk 8, overlap 6 -> stride 2; starts 0,2,4 kept
    # (n-s>6 for s in {0,2} plus s=0 rule; s=4: 10-4=6 NOT > 6 -> dropped;
    # s in {6,8} likewise)
    words = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([Row(doc_id=1, text=words)])
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=8, overlap=6)
    ids = sorted(r["chunk_id"] for r in out.collect())
    assert ids == [0, 1]


def test_kmv_distinct_exact_below_k(spark):
    """Groups with fewer than k distinct values are counted exactly."""
    from gluestick_spark.llm.sketch import kmv_distinct

    df = spark.createDataFrame(
        [Row(g="a", v=i % 7) for i in range(100)] + [Row(g="b", v=i % 3) for i in range(30)]
    )
    out = {r["g"]: r["n_distinct_est"] for r in kmv_distinct(df, "v", k=64, group_cols=["g"]).collect()}
    assert out == {"a": 7.0, "b": 3.0}


def test_kmv_distinct_estimates_above_k(spark):
    """Above k the estimate lands within the sketch's error bounds
    (deterministic for a fixed input — no flakiness)."""
    from gluestick_spark.llm.sketch import kmv_distinct

    n = 5000
    df = spark.range(n).select(F.col("id").alias("v"))
    est = kmv_distinct(df, "v", k=256).first()["n_distinct_est"]
    assert abs(est - n) / n < 0.2  # se ~ 1/sqrt(254) ≈ 6.3%; 20% is >3 sigma
    # deterministic: same input -> bit-identical estimate
    est2 = kmv_distinct(df, "v", k=256).first()["n_distinct_est"]
    assert est == est2


def test_kmv_sketch_mergeability(spark):
    """KMV is mergeable: the union of two sketches' K-min hash sets,
    re-truncated to K, equals the K-min set of the combined data — the
    property that makes the sketch maintainable incrementally. Checked on
    the actual portable hash values."""
    from gluestick_spark.llm.sketch import kmv_hash_expr

    k = 128
    a = spark.range(0, 3000).select(F.col("id").alias("v"))
    b = spark.range(2000, 6000).select(F.col("id").alias("v"))

    def kmins(df):
        hs = df.select(kmv_hash_expr(F.col("v")).alias("h")).distinct()
        return sorted(r["h"] for r in hs.orderBy("h").limit(k).collect())

    merged = sorted(set(kmins(a)) | set(kmins(b)))[:k]
    assert merged == kmins(a.union(b))


def test_chunk_documents_null_text(spark):
    """NULL text behaves exactly like the empty string: one empty chunk."""
    from gluestick_spark.llm import chunk_documents

    df = spark.createDataFrame([Row(doc_id=1, text=None), Row(doc_id=2, text="a b")])
    rows = {r["doc_id"]: r for r in chunk_documents(df, "text", "doc_id").collect()}
    assert rows[1]["chunk_text"] == "" and rows[1]["n_tokens"] == 0
    assert rows[2]["n_tokens"] == 2


def test_kmv_distinct_ignores_nulls(spark):
    from gluestick_spark.llm.sketch import kmv_distinct

    df = spark.createDataFrame([Row(v=1), Row(v=2), Row(v=None), Row(v=2)])
    assert kmv_distinct(df, "v", k=16).first()["n_distinct_est"] == 2.0


def test_kmv_merge_bit_identical_and_estimate(spark):
    """The materialized-sketch API obeys the merge law end to end:
    kmv_merge over per-half sketches is BIT-IDENTICAL to a from-scratch
    sketch of the union, and kmv_estimate of the merged sketch equals
    kmv_distinct over the union — per group, saturated and unsaturated."""
    from gluestick_spark.llm.sketch import (
        kmv_distinct,
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    k = 32
    # group "big": 500 distinct (saturated); group "small": 10 (exact path)
    full = spark.range(500).select(
        F.lit("big").alias("g"), F.col("id").alias("v")
    ).union(
        spark.range(10).select(F.lit("small").alias("g"), F.col("id").alias("v"))
    )
    half_a = full.where((F.col("v") % 2) == 0)
    half_b = full.where((F.col("v") % 2) == 1)  # overlap-free split; dupes
    half_b = half_b.union(half_a.limit(5))      # ...plus overlap rows

    merged = kmv_merge(
        kmv_sketch(half_a, "v", k, ["g"]).unionByName(kmv_sketch(half_b, "v", k, ["g"])),
        k,
        ["g"],
    )
    scratch = kmv_sketch(full, "v", k, ["g"])
    got = {r["g"]: r["kmv"] for r in merged.collect()}
    want = {r["g"]: r["kmv"] for r in scratch.collect()}
    assert got == want

    est = {r["g"]: r["n_distinct_est"] for r in kmv_estimate(merged, k, ["g"]).collect()}
    direct = {r["g"]: r["n_distinct_est"] for r in kmv_distinct(full, "v", k, ["g"]).collect()}
    assert est == direct
    assert est["small"] == 10.0


def test_hash_sample_deterministic_and_partition_invariant(spark):
    """Hash sampling is a pure function of the key: identical membership
    across runs and across repartitioning (df.sample is neither), and the
    rate lands near the target."""
    from gluestick_spark.llm.sampling import hash_sample

    df = spark.range(2000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    a = sorted(r["k"] for r in hash_sample(df, "k", 0.3).collect())
    b = sorted(r["k"] for r in hash_sample(df.repartition(17), "k", 0.3).collect())
    assert a == b
    assert 0.25 < len(a) / 2000 < 0.35
    # different seeds → genuinely different subsets
    c = sorted(r["k"] for r in hash_sample(df, "k", 0.3, seed="s2").collect())
    assert c != a


def test_hash_split_exhaustive_consistent_nesting(spark):
    """Every row gets exactly one split; same key ⇒ same split (leakage
    guard); growing the FIRST split's weight never evicts its keys
    (nesting stability)."""
    from gluestick_spark.llm.sampling import hash_split

    df = spark.range(3000).select((F.col("id") % 1000).alias("k"), F.col("id").alias("v"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = hash_split(df, "k", w)
    per_key = out.groupBy("k").agg(F.countDistinct("split").alias("n")).collect()
    assert all(r["n"] == 1 for r in per_key)
    counts = {r["split"]: r["c"] for r in out.groupBy("split").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == {"train", "val", "test"} and sum(counts.values()) == 3000
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]

    train1 = {r["k"] for r in out.where("split = 'train'").select("k").collect()}
    out2 = hash_split(df, "k", {"train": 0.9, "val": 0.05, "test": 0.05})
    train2 = {r["k"] for r in out2.where("split = 'train'").select("k").collect()}
    assert train1 <= train2

    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "k", {"a": 0.5, "b": 0.4})


def test_pack_documents_semantics(spark):
    """Sharded greedy packing: bins are contiguous hash-ordered runs whose
    exclusive running sum crosses budget boundaries; per-bin totals never
    exceed budget + max_doc - 1; pack ids are unique across shards;
    assignment is partition-invariant; pack_pos is 1..bin_size."""
    from gluestick_spark.llm.packing import pack_documents

    df = spark.range(400).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 5).alias("toks")
    )
    out = pack_documents(df, "toks", budget=100, key_col="doc_id", n_shards=4)
    rows = out.collect()
    assert len(rows) == 400 and len({(r["doc_id"]) for r in rows}) == 400

    import collections
    bins = collections.defaultdict(list)
    for r in rows:
        bins[r["pack_id"]].append(r)
    max_doc = 41  # 36 + 5
    for pid, members in bins.items():
        total = sum(m["toks"] for m in members)
        assert total <= 100 + max_doc - 1, (pid, total)
        assert sorted(m["pack_pos"] for m in members) == list(range(1, len(members) + 1))
    # non-trivial packing: bins hold multiple docs on average
    assert len(bins) < 150

    out2 = pack_documents(df.repartition(13), "toks", budget=100, key_col="doc_id", n_shards=4)
    a = {(r["doc_id"], r["pack_id"], r["pack_pos"]) for r in rows}
    b = {(r["doc_id"], r["pack_id"], r["pack_pos"]) for r in out2.collect()}
    assert a == b

    with pytest.raises(ValueError, match="budget"):
        pack_documents(df, "toks", budget=0, key_col="doc_id")


def test_pack_documents_python_reference(spark):
    """Differential check vs a per-shard python reference of the exact
    documented semantics (hash order, exclusive cumsum, floor(start/budget))."""
    from gluestick_spark.llm.packing import _BIN_STRIDE, pack_documents
    from gluestick_spark.llm.sampling import _keyed_hash

    df = spark.range(200).select(F.col("id").alias("k"), (F.col("id") % 23 + 1).alias("t"))
    hv = {r["k"]: r["h"] for r in df.select("k", _keyed_hash(F.col("k"), "").alias("h")).collect()}
    toks = {r["k"]: r["t"] for r in df.collect()}

    want = {}
    shards = {}
    for k in hv:
        shards.setdefault(hv[k] % 8, []).append(k)
    for shard, ks in shards.items():
        ks.sort(key=lambda k: (hv[k], k))
        run = 0
        for k in ks:
            want[k] = shard * _BIN_STRIDE + run // 50
            run += toks[k]

    got = {r["k"]: r["pack_id"] for r in pack_documents(df, "t", 50, "k", n_shards=8).collect()}
    assert got == want


def test_mix_corpora_rates_and_determinism(spark):
    """rate<1 down-samples by key hash; rate>1 emits full replicas + an
    independent fractional replica; zero-rate sources vanish; output is
    identical across runs/partitionings."""
    from gluestick_spark.llm.sampling import mix_corpora

    web = spark.range(1000).select(F.col("id").alias("k"), F.lit("w").alias("t"))
    code = spark.range(1000, 1200).select(F.col("id").alias("k"), F.lit("c").alias("t"))
    out = mix_corpora({"web": (web, 0.4), "code": (code, 2.5)}, "k")
    rows = out.collect()

    n_web = sum(1 for r in rows if r["mix_source"] == "web")
    assert 0.3 * 1000 < n_web < 0.5 * 1000
    code_rows = [r for r in rows if r["mix_source"] == "code"]
    reps = {r["mix_replica"] for r in code_rows}
    assert reps == {0, 1, 2}
    n_by_rep = {i: sum(1 for r in code_rows if r["mix_replica"] == i) for i in reps}
    assert n_by_rep[0] == 200 and n_by_rep[1] == 200 and 60 < n_by_rep[2] < 140

    again = mix_corpora({"web": (web.repartition(7), 0.4), "code": (code, 2.5)}, "k")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))

    with pytest.raises(ValueError, match="rate"):
        mix_corpora({"web": (web, -0.1)}, "k")


def test_token_frequencies_and_vocab(spark):
    """Exact occurrence + document frequencies; vocabulary ids are
    contiguous rank-ordered (count desc, token asc) and deterministic."""
    from gluestick_spark.llm.text import build_vocab, token_frequencies

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat the dog"),
            Row(doc_id=2, text="The cat sat"),
            Row(doc_id=3, text="dog runs"),
        ]
    )
    f = {r["token"]: (r["n_occurrences"], r["n_docs"])
         for r in token_frequencies(df, "text", id_col="doc_id").collect()}
    assert f["the"] == (3, 2)      # lowercased: "The" folds in
    assert f["cat"] == (2, 2)
    assert f["dog"] == (2, 2)
    assert f["sat"] == (1, 1)

    v = build_vocab(df, "text", max_size=3, id_col="doc_id")
    rows = sorted(v.collect(), key=lambda r: r["token_id"])
    assert [r["token"] for r in rows] == ["the", "cat", "dog"]  # tie: cat < dog
    assert [r["token_id"] for r in rows] == [0, 1, 2]

    cut = token_frequencies(df, "text", id_col="doc_id", min_count=2)
    assert {r["token"] for r in cut.collect()} == {"the", "cat", "dog"}


def test_contamination_pairs_and_decontaminate(spark):
    """N-gram overlap flags docs containing benchmark text (≥min_overlap
    shared distinct n-grams); unrelated docs and too-short docs don't fire;
    decontaminate drops exactly the flagged ids."""
    from gluestick_spark.llm.decontam import contamination_pairs, decontaminate

    bench_text = "what is the capital of france paris is the capital of france"
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="intro text " + bench_text + " trailing words here"),
            Row(doc_id=2, text="The capital OF France Paris is widely known today"),  # partial, case-folded
            Row(doc_id=3, text="a completely unrelated document about spark shuffles and joins"),
            Row(doc_id=4, text="too short"),
        ]
    )
    bench = spark.createDataFrame([Row(bid=100, q=bench_text)])

    pairs = {
        (r["doc_id"], r["bench_id"]): r["n_shared"]
        for r in contamination_pairs(corpus, bench, "text", "doc_id", "q", "bid", n=5).collect()
    }
    # the bench item has 7 DISTINCT 5-grams (one repeats); doc 1 embeds all
    assert pairs[(1, 100)] == 7
    assert (2, 100) in pairs                           # shares "the capital of france paris"-ish grams
    assert (3, 100) not in pairs and (4, 100) not in pairs

    kept = sorted(
        r["doc_id"]
        for r in decontaminate(corpus, bench, "text", "doc_id", "q", "bid", n=5, min_overlap=3).collect()
    )
    assert kept == [2, 3, 4] or kept == [3, 4]  # doc2 drops iff it clears min_overlap=3
    assert 1 not in kept


def test_pii_redaction_and_counts(spark):
    """Emails, IPv4s, and SSN-shaped ids are replaced by placeholder
    tokens; counts audit per-pattern fire rates; clean text is unchanged."""
    from gluestick_spark.llm.pii import pii_counts_expr, redact_pii_expr

    df = spark.createDataFrame(
        [
            Row(id=1, text="mail me at jo.doe+x@corp.example.org or 10.0.0.1 ok"),
            Row(id=2, text="ssn 123-45-6789 twice 987-65-4321."),
            Row(id=3, text="nothing sensitive here, just 1.5 and v2.0.1 tags"),
        ]
    )
    counts = pii_counts_expr(F.col("text"))
    out = {r["id"]: r for r in df.select(
        "id", redact_pii_expr(F.col("text")).alias("red"),
        counts["email"].alias("e"), counts["ipv4"].alias("ip"), counts["ssn"].alias("s"),
    ).collect()}
    assert out[1]["red"] == "mail me at <EMAIL> or <IP> ok"
    assert (out[1]["e"], out[1]["ip"]) == (1, 1)
    assert out[2]["red"] == "ssn <SSN> twice <SSN>."
    assert out[2]["s"] == 2
    assert out[3]["red"] == out[3]["red"] and out[3]["e"] == 0 and out[3]["ip"] == 0
    assert "1.5" in out[3]["red"]  # version-ish tokens survive


def test_bm25_topk_reference(spark):
    """Differential check vs a direct python Okapi BM25 computation: same
    scores (1e-9), same ranking; docs without any query term excluded."""
    import math

    from gluestick_spark.llm.retrieval import bm25_topk

    texts = {
        1: "spark shuffle join optimizer shuffle",
        2: "spark spark spark streaming watermark",
        3: "completely unrelated words entirely here now",
        4: "the shuffle of a deck of cards",
    }
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in texts.items()])
    q = "spark shuffle"
    got = {r["doc_id"]: r["bm25"] for r in bm25_topk(df, "text", "doc_id", q, k=10).collect()}

    k1, b = 1.2, 0.75
    toks = {i: t.split() for i, t in texts.items()}
    N = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / N
    want = {}
    for term in {"spark", "shuffle"}:
        dfreq = sum(1 for v in toks.values() if term in v)
        idf = math.log((N - dfreq + 0.5) / (dfreq + 0.5) + 1)
        for i, v in toks.items():
            tf = v.count(term)
            if tf:
                want[i] = want.get(i, 0.0) + idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
    assert set(got) == set(want) and 3 not in got
    for i in want:
        assert abs(got[i] - want[i]) < 1e-9, i
    ranked = sorted(got, key=lambda i: (-got[i], i))
    assert ranked[0] in (1, 2)

    with pytest.raises(ValueError, match="query"):
        bm25_topk(df, "text", "doc_id", "   ")


def test_repetition_stats_reference(spark):
    """Gopher-style repetition signals vs hand-computed values: duplicate
    line fractions (occurrence- and char-weighted) and top-2-gram char
    coverage; empty docs are all zeros."""
    from gluestick_spark.llm.repetition import repetition_stats

    doc1 = "spam line\nreal content here\nspam line\nmore text"
    doc2 = "buy now buy now buy now"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=doc1), Row(doc_id=2, text=doc2), Row(doc_id=3, text="")]
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, "text", "doc_id").collect()}

    # doc1: 4 lines, "spam line" twice → 2/4 dup; chars: 2*9 dup of (9+17+9+9)=44
    assert abs(out[1]["dup_line_frac"] - 0.5) < 1e-9
    assert abs(out[1]["dup_line_char_frac"] - 18 / 44) < 1e-9
    # doc2: 2-grams of 6 tokens → 5 grams; "buy now" occurs 3x, len 7;
    # chars = 23 → 21/23
    assert abs(out[2]["top_ngram_char_frac"] - 21 / 23) < 1e-9
    assert out[3]["dup_line_frac"] == 0.0 and out[3]["top_ngram_char_frac"] == 0.0


def test_pca_project_variance_and_shape(spark):
    """PCA: projection has the requested width; the leading component
    captures a planted dominant direction (projected variance along PC1 ≫
    PC2); projecting twice with the same model is deterministic."""
    import random

    from gluestick_spark.llm.similarity import pca_project, train_pca

    rng = random.Random(5)
    rows = []
    for i in range(300):
        t = rng.gauss(0, 10)          # dominant direction (1,1,1,1)/2
        noise = [rng.gauss(0, 0.1) for _ in range(4)]
        rows.append(Row(vec_id=i, embedding=[t / 2 + n for n in noise]))
    df = spark.createDataFrame(rows)

    model = train_pca(df, "embedding", k=2)
    out = pca_project(df, "embedding", model)
    sample = out.select("pca").collect()
    assert all(len(r["pca"]) == 2 for r in sample)
    import statistics

    v1 = statistics.pvariance([r["pca"][0] for r in sample])
    v2 = statistics.pvariance([r["pca"][1] for r in sample])
    assert v1 > 50 * v2

    again = pca_project(df, "embedding", model).select("pca").collect()
    assert [r["pca"] for r in again] == [r["pca"] for r in sample]


def test_shuffle_write_deterministic_global_order(spark, tmp_dir):
    """Materialized shuffle: reading files back in sorted-name order
    streams rows in seeded-hash order; same seed → identical order across
    partitionings; new seed → a genuinely different permutation."""
    import os

    from gluestick_spark.llm.sampling import shuffle_write

    df = spark.range(2000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))

    def read_order(path):
        order = []
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet"):
                import pyarrow.parquet as pq

                t = pq.read_table(os.path.join(path, f))
                order.extend(t.column("k").to_pylist())
        return order

    p1 = os.path.join(tmp_dir, "s1")
    shuffle_write(df, p1, "k", seed="e0", n_files=6)
    o1 = read_order(p1)
    assert sorted(o1) == list(range(2000)) and o1 != list(range(2000))

    p2 = os.path.join(tmp_dir, "s2")
    shuffle_write(df.repartition(13), p2, "k", seed="e0", n_files=6)
    assert read_order(p2) == o1  # partitioning-invariant

    p3 = os.path.join(tmp_dir, "s3")
    shuffle_write(df, p3, "k", seed="e1", n_files=6)
    assert read_order(p3) != o1  # new epoch, new permutation


def test_unigram_nll_reference(spark):
    """CCNet-style unigram NLL vs a hand computation: common-token docs
    score lower than rare-token docs; empty docs NULL."""
    import math

    from gluestick_spark.llm.text import unigram_nll

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the the the cat"),
            Row(doc_id=2, text="zyx qwv"),
            Row(doc_id=3, text=""),
        ]
    )
    out = {r["doc_id"]: r for r in unigram_nll(df, "text", "doc_id", alpha=0.5).collect()}

    counts = {"the": 3, "cat": 1, "zyx": 1, "qwv": 1}
    T, V, a = 6, 4, 0.5
    lp = {t: math.log((c + a) / (T + a * V)) for t, c in counts.items()}
    want1 = -(3 * lp["the"] + lp["cat"]) / 4
    want2 = -(lp["zyx"] + lp["qwv"]) / 2
    assert abs(out[1]["nll"] - want1) < 1e-9
    assert abs(out[2]["nll"] - want2) < 1e-9
    assert out[1]["nll"] < out[2]["nll"]          # common words → lower nll
    assert out[3]["nll"] is None and out[3]["n_tokens"] == 0


def test_stratified_sample_exact_counts_deterministic(spark):
    """Exactly n per stratum (all rows when the stratum is smaller),
    identical across partitionings; a new seed draws a different sample."""
    from gluestick_spark.llm.sampling import stratified_sample

    df = spark.range(900).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("src")
    ).union(spark.range(900, 902).select(F.col("id"), F.lit("tiny")))
    out = stratified_sample(df, "k", ["src"], 50)
    counts = {r["src"]: r["c"] for r in out.groupBy("src").agg(F.count("*").alias("c")).collect()}
    assert counts == {"0": 50, "1": 50, "2": 50, "tiny": 2}

    a = sorted(r["k"] for r in out.collect())
    b = sorted(r["k"] for r in stratified_sample(df.repartition(11), "k", ["src"], 50).collect())
    assert a == b
    c = sorted(r["k"] for r in stratified_sample(df, "k", ["src"], 50, seed="2").collect())
    assert c != a
