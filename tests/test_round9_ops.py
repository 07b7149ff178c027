"""Round-9 fixes and additions: resample_to_ratio zero-class contract.
(The versioned-table tests live in tests/test_versioned.py, the
band-index commit-marker tests in tests/test_near_dups.py, the persisted
IVF x SQ index tests in tests/test_sq_serving.py.)"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

# ----------------------------------------- resample_to_ratio contract -----


def test_resample_to_ratio_zero_class_yields_empty(spark):
    """ADVICE r8 (low): a weighted class with zero rows means the exact
    ratio is unachievable at any volume — u=0, empty output, not a
    silently wrong 5:3:0 mix."""
    from gluestick_spark.llm.sampling import resample_to_ratio

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(40)], "id long, c string"
    )
    out = resample_to_ratio(df, "id", "c", {"a": 2, "b": 1, "ghost": 1})
    assert out.count() == 0


def test_resample_to_ratio_still_exact_on_present_classes(spark):
    from gluestick_spark.llm.sampling import resample_to_ratio

    df = spark.createDataFrame(
        [(i, ["a", "a", "a", "b", "b", "c"][i % 6]) for i in range(120)],
        "id long, c string",
    )
    out = resample_to_ratio(df, "id", "c", {"a": 3, "b": 2, "c": 1})
    counts = {r["c"]: r["n"] for r in out.groupBy("c").agg(F.count("*").alias("n")).collect()}
    # n_a=60,w=3 -> 20; n_b=40,w=2 -> 20; n_c=20,w=1 -> 20; u=20
    assert counts == {"a": 60, "b": 40, "c": 20}


# --------------------------------------------- corr_matrix width split ----


def _wide_frame(spark, p, rows=500):
    return spark.range(rows).select(
        *[
            ((F.col("id") * (k + 3)) % (17 + k)).cast("double").alias(f"c{k}")
            for k in range(p - 1)
        ],
        F.lit(7.0).alias("const"),
    )


def test_correlation_matrix_split_matches_single_aggregate(spark):
    """VERDICT r8 task 7 (equivalence half): at a width the single
    aggregate still handles (p=20, 210 terms), forcing the chunked path
    must produce EXACTLY the same results — same moment math, same
    driver-side division, NULL for the constant column."""
    from gluestick_spark.operators.profile import correlation_matrix

    p = 20
    df = _wide_frame(spark, p)
    cols = [f"c{k}" for k in range(p - 1)] + ["const"]
    single = correlation_matrix(df, cols, max_agg_terms=10**6).collect()
    split = correlation_matrix(df, cols, max_agg_terms=40).collect()
    assert len(single) == len(split) == p * (p - 1) // 2
    sm = {(r["col_a"], r["col_b"]): r["corr"] for r in single}
    pm = {(r["col_a"], r["col_b"]): r["corr"] for r in split}
    assert sm == pm
    assert all(v is None for (a, b), v in sm.items() if "const" in (a, b))


def test_correlation_matrix_p64_survives_via_split(spark):
    """VERDICT r8 task 7 (guard half): p=64 is 2080 aggregate terms — a
    single aggregate at that width killed the JVM in this very test
    suite's first draft. The default max_agg_terms must route it through
    the chunked path and the values must match numpy's corrcoef."""
    from gluestick_spark.operators.profile import correlation_matrix

    p = 64
    df = _wide_frame(spark, p, rows=300)
    cols = [f"c{k}" for k in range(p - 1)] + ["const"]
    out = correlation_matrix(df, cols).collect()  # default guard
    assert len(out) == p * (p - 1) // 2

    import numpy as np

    mat = np.array(
        [[((i * (k + 3)) % (17 + k)) for k in range(p - 1)] for i in range(300)],
        dtype="float64",
    )
    ref = np.corrcoef(mat, rowvar=False)
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in out}
    idx = {f"c{k}": k for k in range(p - 1)}
    for (a, b), v in got.items():
        if "const" in (a, b):
            assert v is None
        else:
            assert abs(v - ref[idx[a], idx[b]]) < 1e-9, (a, b, v)


# -------------------------------------------- substring overlap spans -----


def _spanset(out):
    return {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
        for r in out.collect()
    }


def test_substring_spans_exact_boundaries(spark):
    """Two docs share a 12-token passage at different offsets; with k=8
    the 5 overlapping window hits per doc must merge into ONE maximal
    span with exact [start, end) — the suffix-array guarantee the
    rolling-window + merge composition must reproduce."""
    from gluestick_spark.llm.spans import substring_overlap_spans

    shared = " ".join(f"s{i}" for i in range(12))
    a = "a0 a1 a2 " + shared + " a3 a4"          # span at tokens [3, 15)
    b = shared + " b0 b1 b2 b3 b4 b5 b6 b7 b8"   # span at tokens [0, 12)
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    out = substring_overlap_spans(df, "doc_id", "text", k=8)
    assert _spanset(out) == {(1, 3, 15, 12), (2, 0, 12, 12)}


def test_substring_spans_cross_doc_only(spark):
    """A passage repeated INSIDE one document but never in another must
    produce no spans — this operator is the cross-document variant."""
    from gluestick_spark.llm.spans import substring_overlap_spans

    rep = " ".join(f"r{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, rep + " mid " + rep), (2, "totally different words here entirely " * 3)],
        "doc_id long, text string",
    )
    out = substring_overlap_spans(df, "doc_id", "text", k=8)
    assert out.count() == 0


def test_substring_spans_disjoint_spans_stay_separate(spark):
    """Two shared passages separated by unshared tokens must come back
    as TWO spans, not one merged blob."""
    from gluestick_spark.llm.spans import substring_overlap_spans

    p1 = " ".join(f"p{i}" for i in range(9))
    p2 = " ".join(f"q{i}" for i in range(9))
    df = spark.createDataFrame(
        [
            (1, p1 + " x1 x2 x3 " + p2),
            (2, p1 + " y1 y2 y3 y4 " + p2),
        ],
        "doc_id long, text string",
    )
    out = substring_overlap_spans(df, "doc_id", "text", k=8)
    spans = _spanset(out)
    assert {(d, e - s) for d, s, e, _ in spans} == {(1, 9), (2, 9)}
    assert len(spans) == 4  # two per doc


def test_substring_spans_cap_drops_pathological_gram(spark):
    """A gram above max_occurrences is dropped LOUDLY from detection
    (stated contract): with the boilerplate in every doc and a cap below
    its frequency, no spans come back; raising the cap finds them."""
    from gluestick_spark.llm.spans import substring_overlap_spans

    boiler = " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame(
        [(i, f"u{i} " + boiler + f" v{i}") for i in range(10)],
        "doc_id long, text string",
    )
    capped = substring_overlap_spans(df, "doc_id", "text", k=8, max_occurrences=5)
    assert capped.count() == 0
    uncapped = substring_overlap_spans(df, "doc_id", "text", k=8, max_occurrences=64)
    assert uncapped.count() == 10  # the boiler span in every doc


def test_substring_index_decontamination(spark, tmp_dir):
    """Cross-corpus exact-substring check: a new doc embedding a
    reference passage is flagged with exact span boundaries; clean docs
    are not; a torn index refuses loudly; append extends coverage in
    O(batch)."""
    from gluestick_spark.llm.spans import (
        materialize_substring_index,
        substring_spans_against,
    )

    bench_text = " ".join(f"eval{i}" for i in range(12))
    ref = spark.createDataFrame(
        [(100, "r0 r1 " + bench_text + " r2")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (1, "n0 n1 n2 " + bench_text + " n3"),  # contaminated: [3, 15)
            (2, "completely original new words here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    path = os.path.join(tmp_dir, "ssidx")
    materialize_substring_index(ref, "doc_id", "text", path, k=8)
    out = _spanset(substring_spans_against(spark, new, path, "doc_id", "text"))
    assert out == {(1, 3, 15, 12)}
    # append a second reference batch; doc 2's text now contaminates
    ref2 = spark.createDataFrame(
        [(101, "completely original new words here nothing shared at all")],
        "doc_id long, text string",
    )
    materialize_substring_index(ref2, "doc_id", "text", path, k=8, mode="append")
    out2 = _spanset(substring_spans_against(spark, new, path, "doc_id", "text"))
    assert (2, 0, 9, 9) in out2 and (1, 3, 15, 12) in out2
    os.remove(os.path.join(path, "_INDEX_COMMIT"))
    with pytest.raises(ValueError, match="uncommitted"):
        substring_spans_against(spark, new, path, "doc_id", "text")


def test_substring_dedup_keeps_first_occurrence_only(spark):
    """Lee et al. removal: the corpus-first occurrence (min (doc, start)
    per span string) keeps the passage; every other occurrence is cut;
    span-free docs pass through untouched."""
    from gluestick_spark.llm.spans import substring_dedup

    shared = " ".join(f"s{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, "a0 a1 " + shared + " a2"),
            (2, shared + " b0 b1 b2 b3 b4 b5 b6"),
            (3, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(df, k=8).collect()}
    # doc 1 wins (smallest doc id) and keeps the passage
    assert out[1]["text_clean"] == "a0 a1 " + shared + " a2"
    assert out[1]["n_removed"] == 0
    # doc 2 loses its copy
    assert out[2]["text_clean"] == "b0 b1 b2 b3 b4 b5 b6"
    assert out[2]["n_removed"] == 10
    # untouched doc
    assert out[3]["n_removed"] == 0 and out[3]["text_clean"].startswith("c0")
    assert {r["n_tokens"] for r in out.values()} == {13, 17, 10}


# ----------------------------------------------- classifier scoring -------


def test_classifier_score_strategies_identical(spark):
    """literal (zero-shuffle fold) and join (broadcast weight table) are
    physical strategies over the same math — identical scores, including
    the bias fallback for a gram-less document."""
    from gluestick_spark.llm.classifier import classifier_score

    d = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "lorem ipsum dolor sit amet"),
            (3, "the the the"),
            (4, "   "),  # no grams -> bias
            (5, "single"),  # unigram only, no bigrams
        ],
        "id long, text string",
    )
    w = [((b * 13) % 9 - 4) / 4.0 for b in range(32)]
    lit = classifier_score(d, "text", w, bias=0.25, assign="literal")
    jn = classifier_score(d, "text", w, bias=0.25, assign="join", id_col="id")
    lm = {r["id"]: r["clf_score"] for r in lit.collect()}
    jm = {r["id"]: r["clf_score"] for r in jn.collect()}
    assert lm == jm
    assert lm[4] == 0.25
    # literal path is shuffle-free
    plan = lit._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_classifier_score_monotone_in_weights(spark):
    """A document whose grams all land on positively-weighted buckets
    scores higher than one on negatively-weighted buckets — sanity that
    the gather indexes the right buckets."""
    from gluestick_spark.llm.classifier import classifier_score, hashed_ngrams_expr

    d = spark.createDataFrame([(1, "alpha beta gamma")], "id long, text string")
    buckets = d.select(
        F.explode(hashed_ngrams_expr(F.col("text"), 16)).alias("b")
    ).collect()
    hot = {r["b"] for r in buckets}
    w_pos = [1.0 if b in hot else -1.0 for b in range(16)]
    w_neg = [-1.0 if b in hot else 1.0 for b in range(16)]
    sp = classifier_score(d, "text", w_pos).first()["clf_score"]
    sn = classifier_score(d, "text", w_neg).first()["clf_score"]
    assert sp == 1.0 and sn == -1.0
