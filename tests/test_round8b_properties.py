"""Cross-operator properties for the round-8 second wave: algebraic
invariants that hold for ALL inputs (roundtrips, bounds, closures),
complementing the per-op hand-computed tests."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_pivot_melt_roundtrip(spark):
    """melt(pivot(x)) recovers the original cells for complete data."""
    from gluestick_spark.operators.pivot import melt, pivot_table

    rows = [(f"k{i % 4}", f"t{j}", float(i * 10 + j))
            for i in range(8) for j in range(3)]
    df = spark.createDataFrame(rows, "k string, t string, v double")
    wide = pivot_table(df, ["k"], "t", "v", ["t0", "t1", "t2"], agg="sum")
    long = melt(wide, ["k"], ["t0", "t1", "t2"], var_name="t", value_name="v")
    want = {(r["k"], r["t"]): r["s"] for r in
            df.groupBy("k", "t").agg(F.sum("v").alias("s")).collect()}
    got = {(r["k"], r["t"]): r["v"] for r in long.collect()}
    assert got == want


def test_containment_dominates_jaccard(spark):
    """For any pair the directed containment from the smaller shingle
    set is >= the Jaccard similarity (|A∩B|/|A| >= |A∩B|/|A∪B|) — when
    the frequency cap does not bind."""
    from gluestick_spark.llm.dedup import containment_pairs, jaccard_expr
    from gluestick_spark.llm.text import shingles_expr

    rows = [(i, " ".join(f"w{(i * 5 + k) % 17}" for k in range(6)))
            for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = containment_pairs(df, "text", "doc_id", shingle_n=1,
                              tau_pct=1, max_doc_freq=1000)
    sh = df.select(
        "doc_id",
        F.array_distinct(shingles_expr(F.col("text"), 1)).alias("sh"),
    )
    j = (
        pairs.join(sh.select(F.col("doc_id").alias("src"),
                             F.col("sh").alias("sa")), "src")
        .join(sh.select(F.col("doc_id").alias("dst"),
                        F.col("sh").alias("sb")), "dst")
        .select("src", "dst", "containment",
                jaccard_expr(F.col("sa"), F.col("sb")).alias("jac"))
    )
    bad = j.where(F.col("containment") < F.col("jac") - 1e-12)
    assert bad.count() == 0


def test_lpa_labels_closed_over_nodes(spark):
    """Every emitted label is itself a node id (labels only ever copy
    existing ids — the closure LPA's determinism depends on)."""
    from gluestick_spark.operators.graph import label_propagation

    pairs = [(f"n{i}", f"n{(i * 3 + 1) % 11}") for i in range(25)]
    e = spark.createDataFrame(pairs + [(b, a) for a, b in pairs],
                              "src string, dst string")
    out = label_propagation(e, iters=4)
    nodes = {r["node"] for r in out.collect()}
    labels = {r["label"] for r in out.collect()}
    assert labels <= nodes


def test_cube_subtotal_integrity(spark):
    """Each dimension's subtotal rows sum to the grand total — the
    defining CUBE identity, for every aggregate column."""
    from gluestick_spark.operators.pivot import cube_agg

    rows = [(f"l{i % 3}", f"s{i % 2}", i) for i in range(20)]
    df = spark.createDataFrame(rows, "lang string, src string, v long")
    out = cube_agg(df, ["lang", "src"], {"s": F.sum("v"),
                                         "n": F.count("*")}).collect()
    grand = [r for r in out if r["g_lang"] == 1 and r["g_src"] == 1][0]
    for flag, other in (("g_lang", "g_src"), ("g_src", "g_lang")):
        subs = [r for r in out if r[flag] == 0 and r[other] == 1]
        assert sum(r["s"] for r in subs) == grand["s"]
        assert sum(r["n"] for r in subs) == grand["n"]


def test_url_dedup_idempotent(spark):
    """Deduping an already-deduped frame changes nothing (canonical
    URLs are stable under re-canonicalization of themselves)."""
    from gluestick_spark.llm.web import url_dedup

    rows = [(i, f"https://S{i % 4}.com:443/p/{i % 6}/?utm_source={i}&id={i % 6}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    once = url_dedup(df, "url", "doc_id")
    twice = url_dedup(once.withColumnRenamed("canonical_url", "url2")
                      .select("doc_id", F.col("url2").alias("url")),
                      "url", "doc_id")
    assert {r["doc_id"] for r in once.collect()} == \
           {r["doc_id"] for r in twice.collect()}


def test_drift_tv_symmetry_and_range(spark):
    """tv_contrib is symmetric in (ref, cur) and every p/q/tv lies in
    [0, 1]."""
    from gluestick_spark.operators.profile import distribution_drift

    a = spark.createDataFrame([(i % 7,) for i in range(70)], "x long")
    b = spark.createDataFrame([((i * 3) % 9,) for i in range(40)], "x long")
    ab = {r["bin"]: r["tv_contrib"]
          for r in distribution_drift(a, b, "x", 0, 10, 5).collect()}
    ba = {r["bin"]: r["tv_contrib"]
          for r in distribution_drift(b, a, "x", 0, 10, 5).collect()}
    assert ab == ba
    rows = distribution_drift(a, b, "x", 0, 10, 5).collect()
    for r in rows:
        assert 0.0 <= r["p"] <= 1.0 and 0.0 <= r["q"] <= 1.0
        assert 0.0 <= r["tv_contrib"] <= 1.0


def test_entity_matches_self_join_is_identity(spark):
    """Matching a table against itself returns each row matched to
    itself at score 10000 (best-match, any sane threshold)."""
    from gluestick_spark.operators.linkage import entity_matches

    df = spark.createDataFrame(
        [(i, f"name {i} {'x' * (i % 5)}", f"b{i % 3}") for i in range(20)],
        "id long, name string, blk string",
    )
    right = df.select(F.col("id").alias("rid"), "name", "blk")
    got = {r["rid"]: (r["id"], r["score_bp"]) for r in entity_matches(
        df, right, "id", "rid", [("name", "name", 3)],
        F.col("blk"), F.col("blk"), threshold_pct=90).collect()}
    assert got == {i: (i, 10000) for i in range(20)}
