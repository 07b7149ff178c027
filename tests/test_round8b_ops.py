"""Round-8 late additions: label propagation communities, temperature
(alpha) corpus sampling, centroid-distance outliers. (The int8-SQ ANN
tests live in tests/test_sq_serving.py.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gluestick_spark.llm.cluster import centroid_outliers
from gluestick_spark.llm.sampling import alpha_sample
from gluestick_spark.operators.graph import label_propagation


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _sym(pairs):
    return pairs + [(b, a) for a, b in pairs]


# ------------------------------------------------- label propagation ----


def test_lpa_zero_iters_identity(spark):
    e = _edges(spark, _sym([("a", "b")]))
    got = {r["node"]: r["label"] for r in label_propagation(e, iters=0).collect()}
    assert got == {"a": "a", "b": "b"}


def test_lpa_one_iter_hand_computed(spark):
    # triangle a-b-c plus pendant d on c (symmetric).
    # in-neighbor labels after round 1 (ties -> smallest label):
    #   a <- {b, c}    -> b
    #   b <- {a, c}    -> a
    #   c <- {a, b, d} -> a
    #   d <- {c}       -> c
    e = _edges(spark, _sym([("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")]))
    got = {r["node"]: r["label"] for r in label_propagation(e, iters=1).collect()}
    assert got == {"a": "b", "b": "a", "c": "a", "d": "c"}


def test_lpa_no_in_edges_keeps_label(spark):
    # directed a -> b only: a has no in-edges and keeps its own label
    e = _edges(spark, [("a", "b")])
    got = {r["node"]: r["label"] for r in label_propagation(e, iters=2).collect()}
    assert got["a"] == "a"
    assert got["b"] in {"a", "b"}


def test_lpa_majority_beats_tiebreak(spark):
    # z has in-neighbors {a, b, b2} where b and b2 both carry label
    # sentinels via self-contained graph: give z two in-edges from the
    # "y" side and one from "a" — majority label wins over smaller label
    e = _edges(spark, [("y1", "z"), ("y2", "z"), ("a", "z"),
                       ("y0", "y1"), ("y0", "y2")])
    # after iter 1: y1, y2 adopt y0's label; z sees {y1, y2, a} -> tie
    # counts all 1 -> min label "a". After iter 2: z sees labels
    # {y0, y0, a} -> majority y0 (despite "a" < "y0").
    got = {r["node"]: r["label"] for r in label_propagation(e, iters=2).collect()}
    assert got["z"] == "y0"


def test_lpa_partition_invariance(spark):
    pairs = _sym([(f"n{i}", f"n{(i * 7) % 23}") for i in range(40)])
    e = _edges(spark, pairs)
    a = {(r["node"], r["label"])
         for r in label_propagation(e.repartition(1), iters=3).collect()}
    b = {(r["node"], r["label"])
         for r in label_propagation(e.repartition(17), iters=3).collect()}
    assert a == b


def test_lpa_validates(spark):
    with pytest.raises(ValueError):
        label_propagation(_edges(spark, [("a", "b")]), iters=-1)


def test_lpa_no_window_in_plan(spark):
    # the per-node argmax is min(struct(-n, label)), never a row_number
    e = _edges(spark, _sym([("a", "b"), ("b", "c")]))
    plan = (
        label_propagation(e, iters=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


# -------------------------------------------------------- alpha_sample ----


def _docs(spark, sizes):
    rows = []
    i = 0
    for grp, n in sizes.items():
        for _ in range(n):
            rows.append((i, grp))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_alpha_one_keeps_everything(spark):
    d = _docs(spark, {"en": 20, "fr": 5})
    assert alpha_sample(d, "lang", "doc_id", alpha=1.0).count() == 25


def test_alpha_smallest_group_fully_kept(spark):
    d = _docs(spark, {"en": 40, "fr": 4})
    out = alpha_sample(d, "lang", "doc_id", alpha=0.5)
    fr = out.where(F.col("lang") == "fr").count()
    assert fr == 4  # rate exactly 1.0 for the min group
    en = out.where(F.col("lang") == "en").count()
    assert 0 < en < 40  # sqrt(4/40) ~ 0.316 -> strictly downsampled


def test_alpha_monotone_nesting(spark):
    # thresholds grow with alpha, so member sets nest:
    # sample(0) subset-of sample(0.5) subset-of sample(1)
    d = _docs(spark, {"en": 60, "fr": 10, "de": 25})
    s0 = {r["doc_id"] for r in
          alpha_sample(d, "lang", "doc_id", alpha=0.0).collect()}
    s5 = {r["doc_id"] for r in
          alpha_sample(d, "lang", "doc_id", alpha=0.5).collect()}
    s1 = {r["doc_id"] for r in
          alpha_sample(d, "lang", "doc_id", alpha=1.0).collect()}
    assert s0 <= s5 <= s1


def test_alpha_partition_invariance(spark):
    d = _docs(spark, {"en": 50, "fr": 8, "zh": 17})
    a = {r["doc_id"] for r in
         alpha_sample(d.repartition(1), "lang", "doc_id", 0.5).collect()}
    b = {r["doc_id"] for r in
         alpha_sample(d.repartition(13), "lang", "doc_id", 0.5).collect()}
    assert a == b


def test_alpha_validates(spark):
    d = _docs(spark, {"en": 3})
    with pytest.raises(ValueError):
        alpha_sample(d, "lang", "doc_id", alpha=1.5)


def test_alpha_no_unpartitioned_window(spark):
    d = _docs(spark, {"en": 10, "fr": 3})
    plan = (
        alpha_sample(d, "lang", "doc_id", 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan  # the global min rides a broadcast crossJoin


# --------------------------------------------------- centroid_outliers ----


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_outliers_find_the_far_point(spark):
    rows = [(i, [0.0 + i * 0.01, 0.0]) for i in range(10)]
    rows += [(100 + i, [10.0 + i * 0.01, 10.0]) for i in range(10)]
    rows.append((999, [100.0, 100.0]))  # the outlier
    got = centroid_outliers(
        _vecs(spark, rows), "embedding", "vec_id", k=2, iters=2, top_n=1
    ).collect()
    assert got[0]["vec_id"] == 999
    assert got[0]["dist_q"] > 0


def test_outliers_topn_and_ordering(spark):
    rows = [(i, [float(i), 0.0]) for i in range(30)]
    got = centroid_outliers(
        _vecs(spark, rows), "embedding", "vec_id", k=3, iters=1, top_n=5
    ).collect()
    assert len(got) == 5
    dists = [r["dist_q"] for r in got]
    assert dists == sorted(dists, reverse=True)


def test_outliers_literal_join_strategies_agree(spark):
    rows = [(i, [float(i % 7), float(i % 5)]) for i in range(40)]
    v = _vecs(spark, rows)
    lit = centroid_outliers(v, "embedding", "vec_id", k=4, iters=2,
                            top_n=40, assign="literal").collect()
    join = centroid_outliers(v, "embedding", "vec_id", k=4, iters=2,
                             top_n=40, assign="join").collect()
    assert [tuple(r) for r in lit] == [tuple(r) for r in join]


def test_outliers_empty_input(spark):
    v = _vecs(spark, []).where(F.lit(False))
    assert centroid_outliers(v, "embedding", "vec_id", k=2, top_n=5).count() == 0


# ------------------------------------------------------- pivot / melt ----


def test_pivot_hand_computed(spark):
    from gluestick_spark.operators.pivot import pivot_table

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "x", 2.0), ("a", "y", 5.0), ("b", "y", 7.0)],
        "k string, t string, v double",
    )
    got = {
        r["k"]: (r["x"], r["y"])
        for r in pivot_table(df, ["k"], "t", "v", ["x", "y"], agg="sum").collect()
    }
    assert got == {"a": (3.0, 5.0), "b": (None, 7.0)}


def test_pivot_fill_and_unlisted_values_ignored(spark):
    from gluestick_spark.operators.pivot import pivot_table

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "zzz", 9.0)], "k string, t string, v double"
    )
    got = pivot_table(df, ["k"], "t", "v", ["x", "y"], agg="count", fill=0).collect()
    assert len(got) == 1
    assert (got[0]["x"], got[0]["y"]) == (1, 0)  # zzz ignored, empty cell -> 0


def test_pivot_validates(spark):
    from gluestick_spark.operators.pivot import pivot_table

    df = spark.createDataFrame([("a", "x", 1.0)], "k string, t string, v double")
    with pytest.raises(ValueError):
        pivot_table(df, ["k"], "t", "v", [])
    with pytest.raises(ValueError):
        pivot_table(df, ["k"], "t", "v", ["x"], agg="median")
    with pytest.raises(ValueError):
        pivot_table(df, [], "t", "v", ["x"])


def test_pivot_single_scan_plan(spark):
    # explicit values -> NO eager distinct job, one scan, one aggregate
    from gluestick_spark.operators.pivot import pivot_table

    df = spark.createDataFrame(
        [("a", "x", 1.0)], "k string, t string, v double"
    )
    plan = (
        pivot_table(df, ["k"], "t", "v", ["x", "y"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan ") <= 1


def test_melt_keeps_nulls_and_is_narrow(spark):
    from gluestick_spark.operators.pivot import melt

    df = spark.createDataFrame(
        [(1, 2.0, None), (2, None, 3.0)], "id long, a double, b double"
    )
    out = melt(df, ["id"], ["a", "b"])
    rows = {(r["id"], r["variable"]): r["value"] for r in out.collect()}
    assert len(rows) == 4  # NULL cells kept (pandas contract)
    assert rows[(1, "b")] is None and rows[(2, "a")] is None
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure narrow projection


def test_melt_validates(spark):
    from gluestick_spark.operators.pivot import melt

    df = spark.createDataFrame([(1, 2.0)], "id long, a double")
    with pytest.raises(ValueError):
        melt(df, ["id"], [])


# ------------------------------------------------- containment_pairs ----


def _cdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_directional(spark):
    from gluestick_spark.llm.dedup import containment_pairs

    d = _cdocs(spark, [(1, "x y"), (2, "x y z")])
    # shingle_n=1 -> token sets. C(1->2) = 2/2 = 1.0; C(2->1) = 2/3.
    got = containment_pairs(d, "text", "doc_id", shingle_n=1,
                            tau_pct=80, max_doc_freq=10).collect()
    assert [(r["src"], r["dst"], r["containment"]) for r in got] == [(1, 2, 1.0)]
    both = containment_pairs(d, "text", "doc_id", shingle_n=1,
                             tau_pct=60, max_doc_freq=10).collect()
    assert {(r["src"], r["dst"]) for r in both} == {(1, 2), (2, 1)}


def test_containment_threshold_inclusive(spark):
    from gluestick_spark.llm.dedup import containment_pairs

    # C(1->2) = 2/4 = exactly 50%
    d = _cdocs(spark, [(1, "a b c d"), (2, "a b e f")])
    got = containment_pairs(d, "text", "doc_id", shingle_n=1,
                            tau_pct=50, max_doc_freq=10).collect()
    assert {(r["src"], r["dst"]) for r in got} == {(1, 2), (2, 1)}
    assert all(r["containment"] == 0.5 for r in got)


def test_containment_stop_shingle_suppression(spark):
    from gluestick_spark.llm.dedup import containment_pairs

    # "common" appears in all 4 docs -> df=4 > cap=3 -> dropped from BOTH
    # numerator and denominator; docs 1/2 then share their only rare gram
    d = _cdocs(spark, [
        (1, "common unique1"),
        (2, "common unique1"),
        (3, "common other3"),
        (4, "common other4"),
    ])
    got = containment_pairs(d, "text", "doc_id", shingle_n=1,
                            tau_pct=80, max_doc_freq=3).collect()
    assert {(r["src"], r["dst"]) for r in got} == {(1, 2), (2, 1)}
    assert all(r["n_src"] == 1 and r["n_common"] == 1 for r in got)


def test_containment_all_stop_shingles_unjudgeable(spark):
    from gluestick_spark.llm.dedup import containment_pairs

    d = _cdocs(spark, [(i, "same text") for i in range(5)])
    got = containment_pairs(d, "text", "doc_id", shingle_n=1,
                            tau_pct=80, max_doc_freq=3).collect()
    assert got == []  # every gram is frequent -> no doc can be judged


def test_containment_partition_invariance(spark):
    from gluestick_spark.llm.dedup import containment_pairs

    rows = [(i, f"w{i % 5} w{(i + 1) % 7} w{(i + 2) % 3} tail{i % 4}")
            for i in range(40)]
    d = _cdocs(spark, rows)
    a = {(r["src"], r["dst"]) for r in containment_pairs(
        d.repartition(1), "text", "doc_id", 1, 60, 30).collect()}
    b = {(r["src"], r["dst"]) for r in containment_pairs(
        d.repartition(13), "text", "doc_id", 1, 60, 30).collect()}
    assert a == b


def test_containment_validates(spark):
    from gluestick_spark.llm.dedup import containment_pairs

    d = _cdocs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        containment_pairs(d, "text", "doc_id", tau_pct=0)
    with pytest.raises(ValueError):
        containment_pairs(d, "text", "doc_id", max_doc_freq=1)


def test_containment_no_cartesian(spark):
    from gluestick_spark.llm.dedup import containment_pairs

    d = _cdocs(spark, [(1, "a b"), (2, "b c")])
    plan = (
        containment_pairs(d, "text", "doc_id", shingle_n=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


# -------------------------------------------- canonical URLs / dedup ----


def _canon(spark, urls):
    from gluestick_spark.llm.web import canonical_url_expr

    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "id long, url string")
    rows = df.select(canonical_url_expr(F.col("url")).alias("c")).collect()
    return [r["c"] for r in rows]


def test_canonical_url_rules(spark):
    got = _canon(spark, [
        "https://WWW.Site.com:443/p/1/?utm_source=x&id=1#top",  # all noise
        "http://site.com:80/a",                                  # default port
        "http://site.com:8080/a",                                # real port kept
        "https://u:pw@site.com/a",                               # userinfo drop
        "https://site.com/p?b=2&a=1",                            # param sort
        "https://site.com/",                                     # bare root
        "not a url",                                             # parse failure
        "https://site.com/x?utm_campaign=1&gclid=2&fbclid=3&ref=4",  # all tracked
    ])
    assert got[0] == "https://www.site.com/p/1?id=1"
    assert got[1] == "http://site.com/a"
    assert got[2] == "http://site.com:8080/a"
    assert got[3] == "https://site.com/a"
    assert got[4] == "https://site.com/p?a=1&b=2"
    assert got[5] == "https://site.com"
    assert got[6] is None
    assert got[7] == "https://site.com/x"


def test_canonical_url_keeps_www_and_case_path(spark):
    # host case-folds, path case does NOT (paths are case-sensitive)
    got = _canon(spark, ["HTTPS://WWW.SITE.COM/Path/A"])
    assert got[0] == "https://www.site.com/Path/A"


def test_url_dedup_min_id_wins_and_nulls_kept(spark):
    from gluestick_spark.llm.web import url_dedup

    df = spark.createDataFrame(
        [
            (5, "https://site.com/p?id=1&utm_source=a"),
            (3, "https://site.com/p/?id=1#x"),
            (9, "https://site.com/other"),
            (7, "junk one"),
            (8, "junk two"),
        ],
        "doc_id long, url string",
    )
    got = {r["doc_id"]: r["canonical_url"]
           for r in url_dedup(df, "url", "doc_id").collect()}
    assert set(got) == {3, 9, 7, 8}  # 5 collapsed into 3; junk all kept
    assert got[3] == "https://site.com/p?id=1"
    assert got[7] is None


def test_url_dedup_partition_invariance(spark):
    from gluestick_spark.llm.web import url_dedup

    rows = [(i, f"https://s{i % 3}.com/p/{i % 10}?utm_source={i}&id={i % 10}")
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    a = {r["doc_id"] for r in url_dedup(df.repartition(1), "url", "doc_id").collect()}
    b = {r["doc_id"] for r in url_dedup(df.repartition(17), "url", "doc_id").collect()}
    assert a == b and len(a) == 30  # 3 hosts x 10 pages


# ------------------------------------------------------------ cube_agg ----


def test_cube_hand_computed_with_null_dim_value(spark):
    from gluestick_spark.operators.pivot import cube_agg

    df = spark.createDataFrame(
        [("en", "web", 1), ("en", "book", 2), (None, "web", 4)],
        "lang string, src string, v int",
    )
    out = cube_agg(df, ["lang", "src"], {"s": F.sum("v")}).collect()
    by_key = {(r["lang"], r["src"], r["g_lang"], r["g_src"]): r["s"] for r in out}
    # 3 cells + 2 lang-subtotals (en, NULL) + 2 src-subtotals + 1 grand
    assert len(out) == 8
    assert by_key[("en", "web", 0, 0)] == 1
    assert by_key[(None, None, 1, 1)] == 7          # grand total
    assert by_key[("en", None, 0, 1)] == 3          # en subtotal
    # NULL DATA value stays distinguishable from the subtotal rows:
    assert by_key[(None, None, 0, 1)] == 4          # lang=NULL data subtotal
    assert by_key[(None, "web", 1, 0)] == 5         # src=web subtotal (en+NULL)


def test_cube_validates(spark):
    from gluestick_spark.operators.pivot import cube_agg

    df = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(ValueError):
        cube_agg(df, [], {"n": F.count("*")})
    with pytest.raises(ValueError):
        cube_agg(df, ["k"], {})
    with pytest.raises(ValueError):
        cube_agg(df, ["k"] * 6, {"n": F.count("*")})


# -------------------------------------------------- distribution_drift ----


def test_drift_hand_computed(spark):
    from gluestick_spark.operators.profile import distribution_drift

    ref = spark.createDataFrame([(i,) for i in [1, 1, 5, 9]], "x long")
    cur = spark.createDataFrame([(i,) for i in [1, 9, 9, 9]], "x long")
    out = {r["bin"]: r for r in distribution_drift(
        ref, cur, "x", lo=0, hi=10, n_bins=2).collect()}
    # bins: [0,5) and [5,10]; ref = 2/2 split, cur = 1/3
    assert (out[0]["n_ref"], out[0]["n_cur"]) == (2, 1)
    assert (out[1]["n_ref"], out[1]["n_cur"]) == (2, 3)
    assert out[0]["p"] == 0.5 and out[0]["q"] == 0.25
    assert out[0]["tv_contrib"] == 0.25
    # total variation = half the sum of contribs
    assert sum(r["tv_contrib"] for r in out.values()) / 2 == 0.25


def test_drift_null_bin_and_clamping(spark):
    from gluestick_spark.operators.profile import distribution_drift

    ref = spark.createDataFrame([(None,), (-50,), (999,)], "x long")
    cur = spark.createDataFrame([(5,)], "x long")
    out = {r["bin"]: r for r in distribution_drift(
        ref, cur, "x", lo=0, hi=10, n_bins=2).collect()}
    assert out[-1]["n_ref"] == 1          # NULL bin
    assert out[0]["n_ref"] == 1           # -50 clamps into bin 0
    assert out[1]["n_ref"] == 1           # 999 clamps into the top bin
    assert out[1]["n_cur"] == 1


def test_drift_identical_sides_zero_tv(spark):
    from gluestick_spark.operators.profile import distribution_drift

    d = spark.createDataFrame([(i % 10,) for i in range(100)], "x long")
    out = distribution_drift(d, d, "x", lo=0, hi=10, n_bins=5).collect()
    assert all(r["tv_contrib"] == 0.0 for r in out)


def test_drift_validates_and_no_window(spark):
    from gluestick_spark.operators.profile import distribution_drift

    d = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError):
        distribution_drift(d, d, "x", lo=5, hi=5)
    with pytest.raises(ValueError):
        distribution_drift(d, d, "x", lo=0, hi=1, n_bins=0)
    plan = (
        distribution_drift(d, d, "x", lo=0, hi=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan  # totals ride broadcast crossJoins


# ---------------------------------------------- streaming url dedup ----


def test_streaming_url_dedup_state_and_nulls(spark, tmp_dir):
    import os

    from gluestick_spark.streaming.pipeline import (
        stream_from_directory,
        streaming_url_dedup,
    )

    stage = os.path.join(tmp_dir, "src")
    out = os.path.join(tmp_dir, "out")
    state = os.path.join(tmp_dir, "state")
    ckpt = os.path.join(tmp_dir, "ckpt")
    df1 = spark.createDataFrame(
        [(1, "https://s.com/p?id=1&utm_source=a"), (2, "junk a")],
        "doc_id long, url string",
    )
    # batch 2: doc 3 duplicates doc 1's page (tracking noise), doc 4 new
    df2 = spark.createDataFrame(
        [(3, "https://s.com/p/?id=1#f"), (4, "https://s.com/q"), (5, "junk b")],
        "doc_id long, url string",
    )
    schema = df1.schema
    for d in (df1, df2):
        d.coalesce(1).write.mode("append").parquet(stage)
        q = streaming_url_dedup(
            stream_from_directory(spark, stage, schema),
            "url", "doc_id", state, out, ckpt,
        )
        q.awaitTermination()
    got = {r["doc_id"]: r["canonical_url"]
           for r in spark.read.parquet(out).collect()}
    # 3 dropped (same canonical page as 1, seen in batch 1's state);
    # junk rows (NULL canonical) always pass
    assert set(got) == {1, 2, 4, 5}
    assert got[1] == "https://s.com/p?id=1" and got[2] is None


# --------------------------------------------------------- html clean ----


def test_strip_html_rules(spark):
    from gluestick_spark.llm.html import strip_html_expr

    df = spark.createDataFrame(
        [
            ("<p>Hello <b>world</b></p>",),
            ("<script>var x = '<p>not text</p>';</script>Visible",),
            ("<style>p { color: red }</style>Styled",),
            ("<!-- secret -->Shown",),
            ("A &amp;amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;end",),
            ("a\n\n  b\t\tc",),
        ],
        "h string",
    )
    got = [r["t"] for r in df.select(strip_html_expr(F.col("h")).alias("t")).collect()]
    assert got[0] == "Hello world"
    assert got[1] == "Visible"          # script CONTENT dropped, not just tags
    assert got[2] == "Styled"
    assert got[3] == "Shown"
    # &amp; unescaped LAST: "&amp;amp;" -> "&amp;", never "&"
    assert got[4] == 'A &amp; B <tag> "q" \'s\' end'
    assert got[5] == "a b c"


def test_extract_links_both_quote_styles(spark):
    from gluestick_spark.llm.html import extract_links_expr

    df = spark.createDataFrame(
        [('<a href="https://a.com/x">1</a><a HREF=\'/rel/2\'>2</a><img src="i.png">',)],
        "h string",
    )
    got = df.select(extract_links_expr(F.col("h")).alias("l")).collect()[0]["l"]
    assert got == ["https://a.com/x", "/rel/2"]


def test_html_to_text_narrow_plan(spark):
    from gluestick_spark.llm.html import html_to_text

    df = spark.createDataFrame([(1, "<p>x</p>")], "id long, html string")
    out = html_to_text(df, "html")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure narrow projection
    assert set(out.columns) == {"id", "html", "text", "links"}


# ------------------------------------------------------ entity linkage ----


def test_entity_matches_hand_computed(spark):
    from gluestick_spark.operators.linkage import entity_matches

    master = spark.createDataFrame(
        [(1, "alice smith", "NY"), (2, "bob jones", "NY"), (3, "carol", "CA")],
        "mid long, name string, state string",
    )
    incoming = spark.createDataFrame(
        [(10, "alice smyth", "NY"),   # 1 edit from master 1
         (11, "zzzz qqqq", "NY"),     # matches nobody
         (12, "carol", "CA")],        # exact
        "iid long, name string, state string",
    )
    got = {r["iid"]: (r["mid"], r["score_bp"]) for r in entity_matches(
        master, incoming, "mid", "iid", [("name", "name", 1)],
        F.col("state"), F.col("state"), threshold_pct=80,
    ).collect()}
    assert got[10][0] == 1
    assert got[10][1] == 9090  # floor((11-1)*10000/11)
    assert got[12] == (3, 10000)
    assert 11 not in got


def test_entity_matches_blocking_prevents_cross_block(spark):
    from gluestick_spark.operators.linkage import entity_matches

    master = spark.createDataFrame([(1, "same name", "A")],
                                   "mid long, name string, blk string")
    incoming = spark.createDataFrame([(9, "same name", "B")],
                                     "iid long, name string, blk string")
    out = entity_matches(master, incoming, "mid", "iid",
                         [("name", "name", 1)], F.col("blk"), F.col("blk"))
    assert out.count() == 0  # identical names, different blocks


def test_entity_matches_best_ties_to_smallest_master(spark):
    from gluestick_spark.operators.linkage import entity_matches

    master = spark.createDataFrame([(7, "x", "A"), (3, "x", "A")],
                                   "mid long, name string, blk string")
    incoming = spark.createDataFrame([(1, "x", "A")],
                                     "iid long, name string, blk string")
    got = entity_matches(master, incoming, "mid", "iid",
                         [("name", "name", 1)], F.col("blk"),
                         F.col("blk")).collect()
    assert len(got) == 1 and got[0]["mid"] == 3


def test_entity_matches_null_fields_and_validation(spark):
    from gluestick_spark.operators.linkage import entity_matches

    master = spark.createDataFrame([(1, None, "A")],
                                   "mid long, name string, blk string")
    incoming = spark.createDataFrame([(9, None, "A"), (8, "ab", "A")],
                                     "iid long, name string, blk string")
    got = {r["iid"]: r["score_bp"] for r in entity_matches(
        master, incoming, "mid", "iid", [("name", "name", 2)],
        F.col("blk"), F.col("blk"), threshold_pct=90).collect()}
    assert got == {9: 10000}  # both-NULL compares identical; "ab" vs "" is 0
    with pytest.raises(ValueError):
        entity_matches(master, incoming, "mid", "iid", [],
                       F.col("blk"), F.col("blk"))
    with pytest.raises(ValueError):
        entity_matches(master, incoming, "mid", "iid",
                       [("name", "name", 0)], F.col("blk"), F.col("blk"))


# ---------------------------------------------------- lsh recall audit ----


def test_lsh_recall_audit_perfect_on_near_dups(spark):
    from gluestick_spark.llm.dedup import lsh_recall_audit

    # 10 clusters of 3 near-identical docs; each group's body is built
    # from its own disjoint vocabulary so cross-group Jaccard ~ 0 and
    # within-group ~ 0.9 — every true pair should be surfaced by the
    # default banding (j >> the j>=0.5 target)
    rows = []
    for g in range(10):
        base = " ".join(f"g{g}w{k}" for k in range(14))
        for v in range(3):
            rows.append((g * 10 + v, f"{base} tail{v}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = lsh_recall_audit(
        df, "text", "doc_id", threshold=0.6, sample_rate=1.0
    ).collect()[0]
    assert got["n_sampled"] == 30
    assert got["n_exact"] == 30       # 10 groups x C(3,2)
    assert got["n_hit"] == got["n_exact"]
    assert got["recall_bp"] == 10000
    assert got["n_candidates"] >= got["n_hit"]


def test_lsh_recall_audit_vacuous_and_consistency(spark):
    from gluestick_spark.llm.dedup import lsh_recall_audit

    # all-distinct corpus: no true pairs -> vacuous recall 10000
    rows = [(i, f"totally unique document number {i} about topic {i * i}")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = lsh_recall_audit(
        df, "text", "doc_id", threshold=0.9, sample_rate=1.0
    ).collect()[0]
    assert got["n_exact"] == 0 and got["recall_bp"] == 10000
    assert got["n_hit"] <= got["n_exact"] or got["n_exact"] == 0


def test_lsh_recall_audit_sample_determinism(spark):
    from gluestick_spark.llm.dedup import lsh_recall_audit

    rows = [(i, f"doc {i % 6} body shared tail words here") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = lsh_recall_audit(df.repartition(1), "text", "doc_id",
                         sample_rate=0.5, seed="s").collect()[0]
    b = lsh_recall_audit(df.repartition(13), "text", "doc_id",
                         sample_rate=0.5, seed="s").collect()[0]
    assert tuple(a) == tuple(b)  # same sample, same counts, any partitioning


# ------------------------------------------------- contact normalization ----


def _norm_emails(spark, vals):
    from gluestick_spark.functions.contacts import normalize_email_expr

    df = spark.createDataFrame([(v,) for v in vals], "e string")
    return [r["n"] for r in
            df.select(normalize_email_expr(F.col("e")).alias("n")).collect()]


def test_normalize_email_rules(spark):
    got = _norm_emails(spark, [
        "  J.Doe+crm@GMAIL.com ",       # trim+case+tag+gmail dots
        "j.doe@googlemail.com",          # googlemail fold + dots
        "j.doe@company.com",             # dots SIGNIFICANT off-gmail
        "a+b+c@x.co.uk",                 # multi-+ strips from first +
        "not-an-email",                  # reject
        "+tag@gmail.com",                # local strips to empty -> reject
        "UPPER@EXAMPLE.ORG",
    ])
    assert got[0] == "jdoe@gmail.com"
    assert got[1] == "jdoe@gmail.com"
    assert got[2] == "j.doe@company.com"
    assert got[3] == "a@x.co.uk"
    assert got[4] is None
    assert got[5] is None
    assert got[6] == "upper@example.org"


def _norm_phones(spark, vals, **kw):
    from gluestick_spark.functions.contacts import normalize_phone_expr

    df = spark.createDataFrame([(v,) for v in vals], "p string")
    return [r["n"] for r in
            df.select(normalize_phone_expr(F.col("p"), **kw).alias("n")).collect()]


def test_normalize_phone_rules(spark):
    got = _norm_phones(spark, [
        "(415) 555-0123",        # national 10 -> +1
        "+44 20 7946 0958",      # keeps its cc
        "0044 20 7946 0958",     # 00 prefix == +
        "415-555-012",           # 9 digits, no cc -> reject
        "CALL-NOW",              # letters -> reject
        "+1 (415) 555.0123",
    ])
    assert got[0] == "+14155550123"
    assert got[1] == "+442079460958"
    assert got[2] == "+442079460958"
    assert got[3] is None
    assert got[4] is None
    assert got[5] == "+14155550123"


def test_normalize_phone_default_cc_param(spark):
    got = _norm_phones(spark, ["040 1234567"], default_cc="49",
                       national_len=10)
    assert got == ["+490401234567"]
