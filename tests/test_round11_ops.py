"""Round-11 contracts: the round's new operator surfaces (streaming
state compaction moved to tests/test_stream_state.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ----------------------------- r11: cross-corpus n-gram novelty -----------


def test_novelty_scores_known_geometry(spark):
    """novelty_ppm = floored ppm share of distinct n-grams absent from
    the reference; short docs (< n tokens) get 0 grams and NULL novelty;
    exact duplicates of reference text score 0."""
    from gluestick_spark.llm.decontam import novelty_scores

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),          # all 3 grams known
            (2, "entirely novel text never seen before"),  # all novel
            (3, "the quick brown cat sleeps"),         # 1 known of 3
            (4, "too short"),                          # < 3 tokens
            (5, None),                                 # null text
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           novelty_scores(corpus, ref, "text", "doc_id", n=3).collect()}
    assert out[1]["n_grams"] == 3 and out[1]["n_novel"] == 0
    assert out[1]["novelty_ppm"] == 0
    assert out[2]["n_grams"] == 4 and out[2]["n_novel"] == 4
    assert out[2]["novelty_ppm"] == 1_000_000
    assert out[3]["n_grams"] == 3 and out[3]["n_novel"] == 2
    assert out[3]["novelty_ppm"] == 666_666  # floor(1e6 * 2/3)
    assert out[4]["n_grams"] == 0 and out[4]["novelty_ppm"] is None
    assert out[5]["n_grams"] == 0 and out[5]["novelty_ppm"] is None


# ----------------------------- r11: schema-drift guard --------------------


def test_schema_drift_classes_and_guard(spark):
    """All four change classes detected (by name; nested types compare by
    simpleString); the breaking-drift guard raises on dropped/
    type_changed, tolerates added by default, and strict mode rejects
    added too."""
    from gluestick_spark.operators.expectations import (
        assert_no_breaking_drift,
        schema_drift,
    )

    before = spark.createDataFrame(
        [(1, "a", 2.0, [1])], "id long, name string, score double, tags array<int>"
    )
    after = (
        before.drop("name")
        .withColumn("extra", F.lit(True))
        .withColumn("score", F.col("score").cast("float"))
    )
    d = {r["column"]: r for r in schema_drift(before, after).collect()}
    assert d["name"]["change"] == "dropped" and d["name"]["type_after"] is None
    assert d["extra"]["change"] == "added" and d["extra"]["type_before"] is None
    assert d["score"]["change"] == "type_changed"
    assert (d["score"]["type_before"], d["score"]["type_after"]) == ("double", "float")
    assert d["id"]["change"] == "unchanged" and d["tags"]["change"] == "unchanged"

    with pytest.raises(ValueError, match="name: dropped"):
        assert_no_breaking_drift(before, after)
    # added-only drift passes by default, raises in strict mode
    widened = before.withColumn("extra", F.lit(1))
    assert_no_breaking_drift(before, widened)  # no raise
    with pytest.raises(ValueError, match="extra: added"):
        assert_no_breaking_drift(before, widened, allow_added=False)
    assert_no_breaking_drift(before, before)  # identical: no raise


# ----------------------------- r11: corpus-level n-gram overlap -----------


def test_corpus_gram_overlap_known_sets(spark):
    """Exact set algebra on a crafted pair: shared/total gram counts,
    Jaccard and containment ppm; empty-union NULL contract."""
    from gluestick_spark.llm.decontam import corpus_gram_overlap

    a = spark.createDataFrame(
        [(1, "the quick brown fox jumps")], "doc_id long, text string"
    )  # grams: {the quick brown, quick brown fox, brown fox jumps} = 3
    b = spark.createDataFrame(
        [(2, "the quick brown fox sleeps"), (3, "entirely different text here")],
        "doc_id long, text string",
    )  # grams: {the quick brown, quick brown fox, brown fox sleeps,
    #           entirely different text, different text here} = 5
    r = corpus_gram_overlap(a, b, "text", n=3).collect()[0]
    assert (r["n_grams_a"], r["n_grams_b"], r["n_shared"]) == (3, 5, 2)
    assert r["jaccard_ppm"] == 333_333          # floor(1e6 * 2/6)
    assert r["containment_a_in_b_ppm"] == 666_666  # floor(1e6 * 2/3)

    empty = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    r2 = corpus_gram_overlap(empty, empty, "text", n=3).collect()[0]
    assert r2["n_grams_a"] == 0 and r2["jaccard_ppm"] is None


# ----------------------------- r11: exact-k deterministic sampling --------


def test_sample_exact_k_contract(spark):
    """Exactly min(k, n) rows; membership invariant to partitioning;
    reservoir-stable under corpus growth (a new key evicts at most one);
    different seeds give different draws; plan is TakeOrdered."""
    from gluestick_spark.llm.sampling import sample_exact_k

    d = spark.range(1000).select(F.col("id").alias("k"))
    got = sample_exact_k(d, "k", 50)
    ids = sorted(r["k"] for r in got.collect())
    assert len(ids) == 50
    # partition-invariant
    ids2 = sorted(r["k"] for r in sample_exact_k(d.repartition(7), "k", 50).collect())
    assert ids2 == ids
    # k > n -> everything
    assert sample_exact_k(d.where("k < 10"), "k", 50).count() == 10
    # reservoir stability: growing the corpus keeps a subset relationship
    bigger = sorted(
        r["k"] for r in
        sample_exact_k(spark.range(2000).select(F.col("id").alias("k")), "k", 50).collect()
    )
    kept = set(ids) & set(bigger)
    assert len(kept) >= 20  # old members only leave by eviction, not reshuffle
    # seeded independence
    seeded = sorted(r["k"] for r in sample_exact_k(d, "k", 50, seed="x").collect())
    assert seeded != ids
    plan = sample_exact_k(d, "k", 50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must be"):
        sample_exact_k(d, "k", 0)
