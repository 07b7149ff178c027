"""The near-dup family: MinHash LSH (self, cross-corpus, persisted band
index), SimHash, hyperplane-LSH embeddings, phash/audio Hamming LSH and
the fingerprint stream, and the source scan that keeps their banded-LSH
join, piece splitter and verifies written once."""

from __future__ import annotations

import ast
import os
import pathlib
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gluestick_spark.llm import (
    embedding_dedup,
    embedding_near_dups,
    jaccard_expr,
    minhash_dedup,
    minhash_lsh_candidates,
    simhash_expr,
    simhash_near_dups,
)

SF = "/root/testdata/sf0.001"
PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "gluestick_spark"
_FAMILY = (
    PACKAGE / "llm" / "dedup.py",
    PACKAGE / "llm" / "multimodal.py",
    PACKAGE / "streaming" / "pipeline.py",
)
_BUCKET_KEYS = {"band", "bucket", "seg", "chunk", "piece"}
# Most jobs per trigger seen, over 3 runs on the data of the
# fingerprint-stream test below, once the segment state was read below
# the batch id with no distinct.
FP_JOBS_MAX = (8, 11)


# -------- MinHash LSH: candidates, verify, cap --------------------------


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    near = base.replace("lazy", "sleepy")
    far = "completely different words about spark dataframes and shuffle partitions at scale"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=near), Row(doc_id=3, text=far)]
    )
    cands = {(r["a"], r["b"]) for r in minhash_lsh_candidates(df, "text", "doc_id").collect()}
    assert (1, 2) in cands
    out = minhash_dedup(df, "text", "doc_id", threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3]  # 2 dropped as near-dup of 1


def test_minhash_deterministic(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = sorted(map(tuple, minhash_lsh_candidates(docs, "text", "doc_id").collect()))
    b = sorted(map(tuple, minhash_lsh_candidates(docs, "text", "doc_id").collect()))
    assert a == b


def test_minhash_bucket_cap_degenerate_corpus(spark):
    """A boilerplate-heavy corpus (2k identical docs) must not go quadratic:
    with max_bucket set, the hot bucket is dropped before the self-join and
    the candidate count stays bounded; distinct docs still pair up."""
    base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    rows = [Row(doc_id=i, text="boilerplate header please ignore this page") for i in range(2000)]
    rows += [Row(doc_id=9001, text=base), Row(doc_id=9002, text=base.replace("lazy", "sleepy"))]
    df = spark.createDataFrame(rows)
    cands = minhash_lsh_candidates(df, "text", "doc_id", max_bucket=100)
    got = {(r["a"], r["b"]) for r in cands.collect()}
    assert (9001, 9002) in got
    # uncapped would be ~2M boilerplate pairs; the cap drops that bucket
    assert len(got) < 1000


def test_minhash_near_dup_pairs_matches_brute_force(spark):
    from gluestick_spark.llm.dedup import minhash_near_dup_pairs
    from gluestick_spark.llm.text import shingles_expr

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = {
        (r["a"], r["b"])
        for r in minhash_near_dup_pairs(docs, "text", "doc_id", threshold=0.8).collect()
    }
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(shingles_expr(F.col("text"), 3)).alias("sh"),
    )
    l, r = sh.alias("l"), sh.alias("r")
    brute = (
        l.join(r, F.col("l.id") < F.col("r.id"))
        .where(jaccard_expr(F.col("l.sh"), F.col("r.sh")) >= 0.8)
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
    )
    assert pairs == {(x["a"], x["b"]) for x in brute.collect()}


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


def test_minhash_band_buckets_equal_column_built_form(spark):
    """The permutation literal and the band structs are parsed from SQL
    text in one call each; band buckets equal the Column-API form they
    replaced (same INT literal types, same xxhash64 children), as a
    multiset and as a schema."""
    from gluestick_spark.llm.dedup import (
        _MINHASH_P,
        _minhash_perms,
        minhash_band_buckets,
    )
    from gluestick_spark.llm.text import bind_row, shingles_expr

    num_perm, bands = 64, 16
    perms = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
        for a, b in _minhash_perms(num_perm)
    ])
    hs = F.transform(
        F.array_distinct(shingles_expr(F.col("text"), 3)),
        lambda s: F.pmod(F.xxhash64(s), F.lit(_MINHASH_P)),
    )
    sig = bind_row(hs, lambda hsv: F.transform(perms, lambda p: F.array_min(
        F.transform(hsv, lambda h: F.pmod(h * p["a"] + p["b"], F.lit(_MINHASH_P)))
    )))
    rows = num_perm // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[
                F.element_at("__sig__", b * rows + r + 1) for r in range(rows)
            ]).alias("bucket"),
        )
        for b in range(bands)
    ])
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    want = docs.select(
        F.col("doc_id").alias("__id__"), sig.alias("__sig__")
    ).select("__id__", F.explode(band_structs).alias("bb")).select(
        "__id__", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    got = minhash_band_buckets(docs, "text", "doc_id", num_perm, bands)
    assert got.schema == want.schema
    assert got.count() == docs.count() * bands
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# -------- SimHash -------------------------------------------------------


def test_simhash_identical_and_near(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta theta"),
            Row(doc_id=3, text="alpha beta gamma delta epsilon zeta eta iota"),
        ]
    )
    sigs = {r["doc_id"]: r["s"] for r in df.select("doc_id", simhash_expr(F.col("text")).alias("s")).collect()}
    assert sigs[1] == sigs[2]

    def ham(x: int, y: int) -> int:
        return bin((x ^ y) & (2**64 - 1)).count("1")

    # one-word change moves the signature, but much less than a random doc
    other = simhash_expr(F.lit("totally unrelated corpus of shuffle partitions and executors"))
    sig_other = df.limit(1).select(other.alias("s")).first()["s"]
    assert 0 < ham(sigs[1], sigs[3]) < ham(sigs[1], sig_other)
    # identical docs are always found by the banded search
    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_near_dups(df, "text", "doc_id", max_hamming=16).collect()}
    assert pairs[(1, 2)] == 0


def test_simhash_fixture_replica_matches_spark(spark):
    """The pure-Python simhash replica (fixture generator) must reproduce
    simhash_near_dups exactly — checked at sf0.001, a different scale than
    the sf0.01 fixture itself."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.make_oracle_fixtures import simhash_pairs_py

    d = spark.read.parquet(f"{SF}/documents.parquet").where(F.col("doc_id") < 100)
    got = sorted(
        (r["a"], r["b"], r["hamming"])
        for r in simhash_near_dups(d, "text", "doc_id", max_hamming=8).collect()
    )
    docs = {r["doc_id"]: r["text"] for r in d.select("doc_id", "text").collect()}
    assert got == simhash_pairs_py(docs, max_hamming=8)


def test_simhash_adaptive_chunks_full_recall(spark):
    """chunks=None resolves to max_hamming+1 — the widest banding that still
    guarantees full recall: verified output == brute-force all-pairs
    hamming, independent of geometry."""
    d = spark.read.parquet(f"{SF}/documents.parquet").where(F.col("doc_id") < 120)
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in simhash_near_dups(d, "text", "doc_id", max_hamming=6).collect()
    }
    sigs = d.select("doc_id", simhash_expr(F.col("text")).alias("s"))
    l, r = sigs.alias("l"), sigs.alias("r")
    ham = F.bit_count(F.col("l.s").bitwiseXOR(F.col("r.s")))
    brute = (
        l.join(r, F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"), ham.alias("hamming")
        )
        .where(F.col("hamming") <= 6)
    )
    assert got == {(x["a"], x["b"], x["hamming"]) for x in brute.collect()}


def test_simhash_embedding_bucket_cap(spark):
    rows = [Row(doc_id=i, text="same words every single time") for i in range(500)]
    rows += [Row(doc_id=9001, text="alpha beta gamma delta epsilon zeta eta theta")]
    df = spark.createDataFrame(rows)
    capped = simhash_near_dups(df, "text", "doc_id", max_hamming=3, max_bucket=50)
    assert capped.count() == 0  # the one hot bucket exceeded the cap

    from gluestick_spark.llm.dedup import embedding_near_dups

    vecs = [Row(vec_id=i, embedding=[1.0, 0.0, 0.0, 0.0]) for i in range(200)]
    vecs += [Row(vec_id=901, embedding=[0.9, 0.1, 0.0, 0.0])]
    vdf = spark.createDataFrame(vecs)
    out = embedding_near_dups(
        vdf, "embedding", "vec_id", threshold=0.99, dim=4, num_planes=8, max_bucket=50
    )
    assert out.count() == 0


# -------- hyperplane-LSH embeddings -------------------------------------


def _vec_df(spark):
    base = [float(i % 7) - 3.0 for i in range(16)]
    near = list(base)
    near[0] += 0.01
    far = [float((i * 3) % 5) - 2.0 for i in range(16)]
    return spark.createDataFrame(
        [Row(vec_id=1, embedding=base), Row(vec_id=2, embedding=near), Row(vec_id=3, embedding=far)]
    )


def test_embedding_near_dups_finds_near_pair(spark):
    df = _vec_df(spark)
    pairs = embedding_near_dups(df, "embedding", "vec_id", threshold=0.99, dim=16).collect()
    assert [(r["a"], r["b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["cosine"] > 0.99


def test_embedding_dedup_drops_higher_id(spark):
    df = _vec_df(spark)
    out = embedding_dedup(df, "embedding", "vec_id", threshold=0.99, dim=16)
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 3]


def test_embedding_near_dups_infers_dim(spark):
    df = _vec_df(spark)
    pairs = embedding_near_dups(df, "embedding", "vec_id", threshold=0.99)
    assert pairs.count() == 1


def test_embedding_near_dups_adaptive_recall(spark):
    """Adaptive geometry must keep high recall on genuine near-duplicates:
    plant jittered copies (cos ≈ 0.999) of real sf0.001 embeddings and
    require ≥95% of the planted pairs back at threshold 0.95."""
    import numpy as np

    from gluestick_spark.llm.dedup import embedding_near_dups

    base = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    rows = base.collect()
    rng = np.random.default_rng(7)
    planted = [
        Row(
            vec_id=r["vec_id"] + 100_000,
            embedding=[
                float(x) for x in (np.asarray(r["embedding"]) + rng.normal(0, 0.01, 64))
            ],
        )
        for r in rows
    ]
    df = spark.createDataFrame(rows + planted, base.schema)
    pairs = {
        (r["a"], r["b"])
        for r in embedding_near_dups(df, "embedding", "vec_id", threshold=0.95).collect()
    }
    hits = sum((r["vec_id"], r["vec_id"] + 100_000) in pairs for r in rows)
    assert hits / len(rows) >= 0.95


def test_embedding_near_dups_caps_signature_at_63_bits(spark):
    """The hyperplane signature is a long, so it holds at most 63 sign
    bits. The adaptive geometry caps the piece width at 63 // chunks
    (5 chunks at n = 10**6 give 5 × 12 planes, not 5 × 15), and an
    explicit num_planes above 63 is refused before any Spark job."""
    df = spark.createDataFrame(
        [
            Row(id=1, v=[1.0, 0.5, -0.2]),
            Row(id=2, v=[1.0, 0.5, -0.2]),
            Row(id=3, v=[-1.0, 0.3, 0.9]),
        ]
    )
    pairs = embedding_near_dups(df, "v", "id", dim=3, chunks=5, n=10**6).collect()
    assert [(r["a"], r["b"]) for r in pairs] == [(1, 2)]
    sc = spark.sparkContext
    sc.setJobGroup("wide-planes", "wide-planes")
    try:
        with pytest.raises(ValueError, match="<= 63"):
            embedding_near_dups(df, "v", "id", dim=3, num_planes=64, n=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("wide-planes")) == []


# -------- cross-corpus dedup and the persisted band index ---------------


def test_dedup_against_drops_only_cross_corpus_dups(spark):
    from gluestick_spark.llm.dedup import cross_corpus_near_dup_pairs, dedup_against

    base = "the quick brown fox jumps over the lazy dog again and again"
    ref = spark.createDataFrame(
        [(100, base), (101, "completely different reference text here entirely")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base + " extra"),          # near-dup of ref 100 -> dropped
            (2, "novel content one of a kind nothing shared with anything"),
            (3, "novel content one of a kind nothing shared with anything"),
            # 2 and 3 duplicate EACH OTHER but match nothing in ref -> both kept
        ],
        "doc_id long, text string",
    )
    pairs = cross_corpus_near_dup_pairs(new, ref, "text", "doc_id", threshold=0.6)
    got_pairs = {(r.new_id, r.ref_id) for r in pairs.collect()}
    assert got_pairs == {(1, 100)}  # oriented (new, ref); no within-side pairs
    survivors = sorted(r.doc_id for r in
                       dedup_against(new, ref, "text", "doc_id", threshold=0.6).collect())
    assert survivors == [2, 3]  # within-new dups deliberately kept


def test_dedup_against_overlapping_id_spaces(spark):
    # same ids on both sides must not confuse the orientation
    from gluestick_spark.llm.dedup import dedup_against

    t = "shared text body that is identical on both sides of the fence"
    ref = spark.createDataFrame([(1, t)], "doc_id long, text string")
    new = spark.createDataFrame([(1, t), (2, "something else entirely unrelated")],
                                "doc_id long, text string")
    survivors = sorted(r.doc_id for r in
                       dedup_against(new, ref, "text", "doc_id", threshold=0.8).collect())
    assert survivors == [2]


def test_band_index_indexed_equals_direct(spark, tmp_dir):
    """dedup_against_indexed must be row-identical to dedup_against: the
    candidate+verify tail is shared, only the reference side's signing is
    swapped for a parquet read."""
    from gluestick_spark.llm.dedup import (
        dedup_against,
        dedup_against_indexed,
        materialize_band_index,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    new = d.where("doc_id % 2 = 1")
    ref = d.where("doc_id % 2 = 0")
    idx = os.path.join(tmp_dir, "band_idx")
    materialize_band_index(ref, "text", "doc_id", idx)
    direct = sorted(
        r.doc_id for r in dedup_against(new, ref, "text", "doc_id", 0.8).collect()
    )
    indexed = sorted(
        r.doc_id
        for r in dedup_against_indexed(spark, new, idx, "text", "doc_id", 0.8).collect()
    )
    assert indexed == direct and len(direct) > 0


def test_band_index_indexed_equals_direct_small(spark, tmp_dir):
    """Default-run form of test_band_index_indexed_equals_direct on the
    first 120 sf0.001 documents plus three planted near-copies: the
    indexed pairs equal the direct pairs, Jaccard included."""
    from gluestick_spark.llm.dedup import (
        cross_corpus_near_dup_pairs,
        cross_corpus_near_dup_pairs_indexed,
        materialize_band_index,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").where("doc_id < 120")
    ref = d.where("doc_id % 2 = 0").select("doc_id", "text")
    planted = ref.where("doc_id < 6").select(
        (F.col("doc_id") + 100_001).alias("doc_id"),
        F.concat("text", F.lit(" dup")).alias("text"),
    )
    new = d.where("doc_id % 2 = 1").select("doc_id", "text").unionByName(planted)
    idx = os.path.join(tmp_dir, "band_idx")
    materialize_band_index(ref, "text", "doc_id", idx)
    direct = sorted(
        map(tuple, cross_corpus_near_dup_pairs(new, ref, "text", "doc_id", 0.8).collect())
    )
    indexed = sorted(
        map(
            tuple,
            cross_corpus_near_dup_pairs_indexed(
                spark, new, idx, "text", "doc_id", 0.8
            ).collect(),
        )
    )
    assert indexed == direct
    assert {(n, r) for n, r, _ in direct} >= {(100_001, 0), (100_003, 2), (100_005, 4)}


def test_band_index_append_and_geometry_guard(spark, tmp_dir):
    from gluestick_spark.llm.dedup import (
        cross_corpus_near_dup_pairs,
        cross_corpus_near_dup_pairs_indexed,
        materialize_band_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    ref1 = spark.createDataFrame([(100, base)], "doc_id long, text string")
    ref2 = spark.createDataFrame(
        [(200, "an entirely different second reference batch of text")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base + " extra"),
         (2, "an entirely different second reference batch of text too")],
        "doc_id long, text string",
    )
    idx = os.path.join(tmp_dir, "idx")
    materialize_band_index(ref1, "text", "doc_id", idx)
    got1 = {
        (r.new_id, r.ref_id)
        for r in cross_corpus_near_dup_pairs_indexed(
            spark, new, idx, "text", "doc_id", 0.6
        ).collect()
    }
    assert got1 == {(1, 100)}
    # O(batch) append: only ref2 is signed; the index now covers both
    materialize_band_index(ref2, "text", "doc_id", idx, mode="append")
    got2 = {
        (r.new_id, r.ref_id)
        for r in cross_corpus_near_dup_pairs_indexed(
            spark, new, idx, "text", "doc_id", 0.6
        ).collect()
    }
    assert got2 == {(1, 100), (2, 200)}
    # and matches the direct two-batch computation
    both = ref1.union(ref2)
    direct = {
        (r.new_id, r.ref_id)
        for r in cross_corpus_near_dup_pairs(new, both, "text", "doc_id", 0.6).collect()
    }
    assert got2 == direct
    # geometry drift is refused, never silently compared
    with pytest.raises(ValueError, match="geometry mismatch"):
        materialize_band_index(ref2, "text", "doc_id", idx, num_perm=32, mode="append")


def test_band_index_requires_commit_marker(spark, tmp_dir):
    """ADVICE r8 (low): a torn rebuild (crash between the bands and
    shingles overwrites) must fail LOUDLY on read, not silently serve a
    mixed-corpora index."""
    from gluestick_spark.llm.dedup import (
        dedup_against_indexed,
        materialize_band_index,
    )

    docs = spark.createDataFrame(
        [(i, f"unique document body number {i} " * 3) for i in range(8)],
        "doc_id long, text string",
    )
    path = os.path.join(tmp_dir, "bidx")
    materialize_band_index(docs, "text", "doc_id", path)
    marker = os.path.join(path, "_INDEX_COMMIT")
    assert os.path.isfile(marker)
    # sanity: committed index serves
    assert dedup_against_indexed(spark, docs, path, "text", "doc_id").count() == 0
    # torn rebuild: marker gone, read must raise
    os.remove(marker)
    with pytest.raises(ValueError, match="uncommitted"):
        dedup_against_indexed(spark, docs, path, "text", "doc_id")


def test_band_index_append_recommits(spark, tmp_dir):
    from gluestick_spark.llm.dedup import (
        dedup_against_indexed,
        materialize_band_index,
    )

    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"unique document body number {i} " * 3) for i in range(lo, hi)],
        "doc_id long, text string",
    )
    path = os.path.join(tmp_dir, "bidx")
    materialize_band_index(mk(0, 6), "text", "doc_id", path)
    materialize_band_index(mk(6, 12), "text", "doc_id", path, mode="append")
    assert os.path.isfile(os.path.join(path, "_INDEX_COMMIT"))
    # a doc duplicated from the appended half is caught
    dup = mk(6, 7)
    assert dedup_against_indexed(spark, dup, path, "text", "doc_id").count() == 0


# -------- phash / audio Hamming LSH and the fingerprint stream ----------


def test_phash_near_dups_injected_hasher_and_guarantee(spark):
    """Hamming-LSH recall is pigeonhole-exact for hamming < bands: with
    an injected hasher producing controlled bit flips, every qualifying
    pair is found with its exact distance; parameter guards raise."""
    from gluestick_spark.llm.multimodal import phash_near_dups

    def near_hasher(b: bytes) -> int:
        import hashlib as h

        base = int.from_bytes(
            h.sha256(b[:4]).digest()[:8], "big", signed=True
        )
        for i in range(b[-1] % 4):  # 0..3 bit flips by payload tail
            base ^= 1 << (i * 7)
        return base

    p = spark.createDataFrame(
        [(i, bytes([1, 2, 3, 4, i % 4])) for i in range(12)],
        "doc_id long, payload binary",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dups(
            p, "payload", "doc_id", max_hamming=2, bands=4, hasher=near_hasher
        ).collect()
    }
    # flips f_a vs f_b differ in |f_a - f_b| bits (nested flip sets)
    for a in range(12):
        for b in range(a + 1, 12):
            d = abs(a % 4 - b % 4)
            if d <= 2:
                assert got[(a, b)] == d, (a, b, d, got.get((a, b)))
            else:
                assert (a, b) not in got
    with pytest.raises(ValueError, match="max_hamming < bands"):
        phash_near_dups(p, "payload", "doc_id", max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        phash_near_dups(p, "payload", "doc_id", max_hamming=2, bands=5)


def test_phash_cluster_dedup_transitive(spark):
    """A~B and B~C (but never A~C directly) must collapse to one
    survivor — transitive closure, not greedy pair-drop. Injected
    hasher builds the chain: flips {0,1}, {1,2} pair within hamming 2
    but {0,2} is 2 apart too... use 1-bit steps with max_hamming=1 so
    A~B, B~C pair and A~C (2 bits) does NOT."""
    from gluestick_spark.llm.multimodal import phash_cluster_dedup

    def chain_hasher(b: bytes) -> int:
        if b[0] == 9:  # the far-away singleton: different base entirely
            return -0x7654_3210_0FED_CBA9
        base = 0x1234_5678_9ABC_0000
        for i in range(b[-1]):  # payload tail = number of 1-bit flips
            base ^= 1 << (i * 9)
        return base

    p = spark.createDataFrame(
        [(i, bytes([7, i])) for i in range(3)] + [(9, bytes([9, 0]))],
        "doc_id long, payload binary",
    )
    kept = sorted(
        r["doc_id"]
        for r in phash_cluster_dedup(
            p, "payload", "doc_id", max_hamming=1, bands=4, hasher=chain_hasher
        ).collect()
    )
    # docs 0,1,2 form a chain (0~1, 1~2, NOT 0~2) -> one survivor (min id 0);
    # doc 9 hashes to a different base entirely -> untouched
    assert kept == [0, 9], kept


def test_banded_hamming_pairs_single_band(spark):
    """bands=1 is one 64-bit piece: with max_hamming=0 exactly the equal
    hashes pair, sign bit included (its piece mask once overflowed a
    long literal)."""
    from gluestick_spark.llm.multimodal import banded_hamming_pairs

    h = spark.createDataFrame([(1, -5), (2, -5), (3, 7)], "id long, h long")
    got = banded_hamming_pairs(h, "id", "h", max_hamming=0, bands=1).collect()
    assert [tuple(r) for r in got] == [(1, 2, 0)]


def test_audio_near_dups_chain_collapse(spark):
    """Injectable fingerprint with controlled bit flips: A~B and B~C are
    within max_hamming but A~C is NOT — pigeonhole recall finds both
    edges, and the transitive-closure dedup still collapses the chain
    to one survivor (min id). Singletons survive untouched."""
    from gluestick_spark.llm.multimodal import (
        audio_cluster_dedup,
        audio_near_dups,
    )

    base = 0x0123456789ABCDEF
    fp = {
        b"A": base,
        b"B": base ^ 0b111,            # 3 flips from A (edge)
        b"C": base ^ 0b111 ^ (0b11 << 20),  # 2 flips from B, 5 from A
        b"D": base ^ ((1 << 40) - 1),  # far from everything
    }

    def hasher(payload: bytes) -> int:
        v = fp[payload]
        return v - (1 << 64) if v >= (1 << 63) else v

    d = spark.createDataFrame(
        [(1, b"A"), (2, b"B"), (3, b"C"), (4, b"D")],
        "doc_id long, payload binary",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in audio_near_dups(
            d, "payload", "doc_id", max_hamming=3, bands=4, hasher=hasher
        ).collect()
    }
    assert pairs == {(1, 2): 3, (2, 3): 2}  # A~C (5 bits) correctly absent

    kept = sorted(
        r["doc_id"]
        for r in audio_cluster_dedup(
            d, "payload", "doc_id", max_hamming=3, bands=4, hasher=hasher
        ).collect()
    )
    assert kept == [1, 4]  # chain A-B-C collapses to A; D survives

    # exact-duplicate payloads always pair at hamming 0 (default hasher)
    dd = spark.createDataFrame(
        [(1, b"same"), (2, b"same"), (3, b"other")],
        "doc_id long, payload binary",
    )
    got = audio_near_dups(dd, "payload", "doc_id").collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(1, 2, 0)]

    # image and audio fingerprints of one payload must differ (distinct
    # sha256 projections) — the multimodal-parity seam contract
    from gluestick_spark.llm.multimodal import fake_audio_fingerprint, fake_phash

    assert fake_phash(b"same") != fake_audio_fingerprint(b"same")


def test_streaming_fingerprint_dedup_cross_batch_chain(spark, tmp_dir):
    """Chain A~B (batch 1) then C~B (batch 2), with A~C too far: C must
    drop even though B was itself dropped — the state keeps DROPPED
    rows' fingerprints, which is what makes cross-batch chains collapse
    like the batch transitive closure. NULL payloads pass through."""
    import os

    from gluestick_spark.streaming.pipeline import (
        read_streaming_dedup_output,
        stream_from_directory,
        streaming_fingerprint_dedup,
    )

    base = 0x0123456789ABCDEF
    fp = {
        b"A": base,
        b"B": base ^ 0b111,                 # 3 flips from A
        b"C": base ^ 0b111 ^ (0b11 << 20),  # 2 from B, 5 from A
        b"D": base ^ ((1 << 40) - 1),       # far from everything
    }

    def hasher(payload: bytes) -> int:
        v = fp[payload]
        return v - (1 << 64) if v >= (1 << 63) else v

    stage = os.path.join(tmp_dir, "src")
    out = os.path.join(tmp_dir, "out")
    state = os.path.join(tmp_dir, "state")
    ckpt = os.path.join(tmp_dir, "ckpt")
    batch1 = spark.createDataFrame(
        [(1, b"A"), (2, b"B"), (5, None)], "doc_id long, payload binary"
    )
    batch2 = spark.createDataFrame(
        [(3, b"C"), (4, b"D")], "doc_id long, payload binary"
    )
    schema = batch1.schema
    for b in (batch1, batch2):
        b.coalesce(1).write.mode("append").parquet(stage)
        q = streaming_fingerprint_dedup(
            stream_from_directory(spark, stage, schema),
            "payload", "doc_id", state, out, ckpt,
            max_hamming=3, bands=4, hasher=lambda p: hasher(bytes(p)),
        )
        q.awaitTermination()
    kept = sorted(
        r["doc_id"]
        for r in read_streaming_dedup_output(spark, out).collect()
    )
    # A kept; B dropped (A~B); C dropped via state match on dropped B;
    # D far -> kept; NULL payload (5) passes through unjudged
    assert kept == [1, 4, 5]

    # batch twin agrees: phash_cluster_dedup over the union keeps {1,4}
    # among judged rows (5 is unjudgeable there too — NULL hash)
    from gluestick_spark.llm.multimodal import phash_cluster_dedup

    union = batch1.unionByName(batch2).where("payload IS NOT NULL")
    batch_kept = sorted(
        r["doc_id"]
        for r in phash_cluster_dedup(
            union, "payload", "doc_id",
            max_hamming=3, bands=4, hasher=lambda p: hasher(bytes(p)),
        ).collect()
    )
    assert batch_kept == [1, 4]


def test_streaming_fingerprint_dedup_chain_jobs_per_trigger(spark, tmp_dir):
    """Default-run form of test_streaming_fingerprint_dedup_cross_batch_chain
    (the same two batches, without the batch-twin run): C drops against
    the state row of the dropped B, and no trigger runs more Spark jobs,
    counted by the query's job group, than FP_JOBS_MAX."""
    from gluestick_spark.streaming.pipeline import (
        read_streaming_dedup_output,
        stream_from_directory,
        streaming_fingerprint_dedup,
    )

    base = 0x0123456789ABCDEF
    fp = {
        b"A": base,
        b"B": base ^ 0b111,                 # 3 flips from A
        b"C": base ^ 0b111 ^ (0b11 << 20),  # 2 from B, 5 from A
        b"D": base ^ ((1 << 40) - 1),       # far from everything
    }

    def hasher(payload: bytes) -> int:
        v = fp[bytes(payload)]
        return v - (1 << 64) if v >= (1 << 63) else v

    stage, out, state, ckpt = (
        os.path.join(tmp_dir, x) for x in ("src", "out", "state", "ckpt")
    )
    batch1 = spark.createDataFrame(
        [(1, b"A"), (2, b"B"), (5, None)], "doc_id long, payload binary"
    )
    batch2 = spark.createDataFrame(
        [(3, b"C"), (4, b"D")], "doc_id long, payload binary"
    )
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    for b in (batch1, batch2):
        b.coalesce(1).write.mode("append").parquet(stage)
        q = streaming_fingerprint_dedup(
            stream_from_directory(spark, stage, batch1.schema),
            "payload", "doc_id", state, out, ckpt,
            max_hamming=3, bands=4, hasher=hasher,
        )
        q.awaitTermination()
        jobs.append(len(tracker.getJobIdsForGroup(str(q.runId))))
    kept = sorted(r["doc_id"] for r in read_streaming_dedup_output(spark, out).collect())
    assert kept == [1, 4, 5]
    assert all(j <= m for j, m in zip(jobs, FP_JOBS_MAX)), jobs


# -------- one banded-LSH join -------------------------------------------


def _top_level_calls(tree: ast.Module):
    """(enclosing top-level function name, Call node) for every call."""
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef):
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    yield fn.name, node


def _joins_on_bucket_key(call: ast.Call) -> bool:
    on = call.args[1] if len(call.args) > 1 else next(
        (k.value for k in call.keywords if k.arg == "on"), None
    )
    if on is None:
        return False
    if isinstance(on, ast.Name):
        return on.id == "keys"
    return any(
        isinstance(n, ast.Constant) and n.value in _BUCKET_KEYS for n in ast.walk(on)
    )


def test_one_banded_lsh_join():
    """Source scan, no Spark, over the near-dup family's three modules:
    only _candidate_join joins on a bucket key (no hand-built "l.band" /
    "l.chunk" conditions or ["band", "seg"] joins elsewhere), the
    Hamming verify's bit_count( is written once, and jaccard_expr is
    called only by the Jaccard verify and lsh_recall_audit's brute
    force."""
    sources = {p: p.read_text() for p in _FAMILY}
    bucket_joins, jaccard_callers = set(), set()
    for src in sources.values():
        assert not re.search(r"[\"'][lr]\.(band|bucket|seg|chunk|piece)[\"']", src)
        for fn, call in _top_level_calls(ast.parse(src)):
            f = call.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name == "join" and _joins_on_bucket_key(call):
                bucket_joins.add(fn)
            if name == "jaccard_expr":
                jaccard_callers.add(fn)
    assert bucket_joins == {"_candidate_join"}
    assert sum(s.count("bit_count(") for s in sources.values()) == 1
    assert jaccard_callers == {"_jaccard_verify", "lsh_recall_audit"}
