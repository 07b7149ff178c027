"""Round-8 fixes and additions: exact-PSL registered domains, compat
parametrized-dtype casting, heavy_hitters deterministic ordering. (The
versioned-table tests live in tests/test_versioned.py.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# --------------------------------------------- exact-PSL domains ----------


def test_with_registered_domain_suffix_table(spark):
    """The broadcast suffix table resolves long-tail public suffixes the
    20-suffix regexp approximation misses (.com.sg, .co.il), matches
    3-label suffixes, and passes bare-suffix/IP/single-label hosts
    through."""
    from gluestick_spark.llm.web import with_registered_domain

    sfx = spark.createDataFrame(
        [("com",), ("org",), ("co.uk",), ("com.sg",), ("co.il",),
         ("uk",), ("sg",), ("il",), ("act.edu.au",), ("au",)],
        "suffix string",
    )
    cases = [
        ("https://news.bbc.co.uk/x", "bbc.co.uk"),
        ("https://www.shop.example.com.sg/", "example.com.sg"),
        ("http://portal.gov.co.il", "gov.co.il"),
        ("http://a.b.example.com", "example.com"),
        ("https://school.act.edu.au/", "school.act.edu.au"),  # 3-label sfx
        ("http://co.uk", "co.uk"),             # bare public suffix
        ("http://10.1.2.3/x", "10.1.2.3"),
        ("http://localhost:8080/", "localhost"),
        ("nonsense", None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    out = {
        r.i: r.domain
        for r in with_registered_domain(df, "url", suffixes=sfx).collect()
    }
    assert out[0] == "bbc.co.uk"
    assert out[1] == "example.com.sg"
    assert out[2] == "gov.co.il"
    assert out[3] == "example.com"
    # 3-label suffix: registrable = 4 labels -> school.act.edu.au
    assert out[4] == "school.act.edu.au"
    assert out[5] == "co.uk"
    assert out[6] == "10.1.2.3"
    assert out[7] == "localhost"
    assert out[8] is None


def test_with_registered_domain_default_matches_expr(spark):
    from gluestick_spark.llm.web import (
        registered_domain_expr,
        with_registered_domain,
    )

    urls = [
        "https://news.bbc.co.uk/x",
        "http://a.b.example.com",
        "http://10.1.2.3/x",
        None,
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r.domain for r in with_registered_domain(df, "url").collect()]
    want = [
        r.d
        for r in df.select(
            registered_domain_expr(F.col("url")).alias("d")
        ).collect()
    ]
    assert got == want


def test_with_registered_domain_suffix_join_is_broadcast(spark):
    from gluestick_spark.llm.web import with_registered_domain

    sfx = spark.createDataFrame([("com",), ("co.uk",)], "suffix string")
    df = spark.createDataFrame([("http://a.example.com",)], "url string")
    plan = (
        with_registered_domain(df, "url", suffixes=sfx)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --------------------------------------------- compat dtype parsing -------


def test_cast_df_from_schema_parametrized_polars_dtype(spark):
    """ADVICE r7: map_pd_type_to_polars('datetime') returns a parametrized
    Datetime instance; its str() form must still cast on a Spark frame."""
    from gluestick_spark.compat import cast_df_from_schema

    df = spark.createDataFrame([("2024-01-02 03:04:05",)], "ts string")
    out = cast_df_from_schema(
        df, {"ts": "Datetime(time_unit='ns', time_zone='UTC')"}
    )
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.first()["ts"] is not None
    # parametrized SPARK type strings still pass through intact
    out2 = cast_df_from_schema(
        spark.createDataFrame([("1.25",)], "x string"), {"x": "decimal(10,2)"}
    )
    assert dict(out2.dtypes)["x"] == "decimal(10,2)"


def test_cast_df_from_schema_via_map_pd_type_roundtrip(spark):
    """The natural reference flow map_pd_type_to_polars -> cast_df_from_schema
    works end-to-end on a Spark frame for datetime columns (polars absent or
    present — only the dtype's string form is consumed on the Spark path)."""
    from gluestick_spark.compat import cast_df_from_schema, map_pd_type_to_polars

    try:
        dt = map_pd_type_to_polars("Datetime")
    except NotImplementedError:
        pytest.skip("polars not installed; string-form path covered above")
    df = spark.createDataFrame([("2024-01-02 03:04:05",)], "ts string")
    out = cast_df_from_schema(df, {"ts": dt})
    assert dict(out.dtypes)["ts"] == "timestamp"


# --------------------------------------------- heavy_hitters ordering -----


def test_heavy_hitters_output_ordered(spark):
    """ADVICE r7: the completeness guard's join + window pass must not
    cost the documented (count desc, term asc) output order."""
    from gluestick_spark.llm.sketch import heavy_hitters

    rows = (
        [("apple",)] * 50 + [("banana",)] * 30 + [("cherry",)] * 20
        + [(f"rare{i}",) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "term string")
    got = heavy_hitters(df, "term", k=3, capacity=64).collect()
    assert [(r.term, r.n) for r in got] == [
        ("apple", 50), ("banana", 30), ("cherry", 20)
    ]


# --------------------------------------------------- funnel analysis ------


def test_funnel_strict_order_and_window(spark):
    from datetime import datetime

    from gluestick_spark.operators.funnels import funnel_counts, funnel_times

    T = datetime
    rows = [
        # u1 completes in order
        (1, T(2024, 1, 1, 10), "A"), (1, T(2024, 1, 1, 11), "B"),
        (1, T(2024, 1, 1, 12), "C"),
        # u2: B before A -> only A counts (strict order)
        (2, T(2024, 1, 1, 9), "B"), (2, T(2024, 1, 1, 10), "A"),
        # u3: tie timestamps never chain
        (3, T(2024, 1, 1, 10), "A"), (3, T(2024, 1, 1, 10), "B"),
        # u4: B outside the 2-hour window anchored at first A
        (4, T(2024, 1, 1, 10), "A"), (4, T(2024, 1, 1, 13), "B"),
        # u5: B after the SECOND A, within (t0, t0+2h] of the FIRST -> counts
        (5, T(2024, 1, 1, 10), "A"), (5, T(2024, 1, 1, 10, 20), "A"),
        (5, T(2024, 1, 1, 10, 30), "B"),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, ev string")
    got = {
        r.step: r.n_users
        for r in funnel_counts(
            df, "u", "ts", "ev", ["A", "B", "C"], within_seconds=7200
        ).collect()
    }
    assert got == {"A": 5, "B": 2, "C": 1}

    t = {r.u: (r.t_0, r.t_1, r.t_2) for r in funnel_times(
        df, "u", "ts", "ev", ["A", "B", "C"], within_seconds=7200
    ).collect()}
    assert t[1] == (T(2024, 1, 1, 10), T(2024, 1, 1, 11), T(2024, 1, 1, 12))
    assert t[2][0] is not None and t[2][1] is None
    assert t[3][1] is None            # tie does not chain
    assert t[4][1] is None            # outside window
    assert t[5][1] == T(2024, 1, 1, 10, 30)  # anchored at EARLIEST A


def test_funnel_counts_non_increasing_and_one_shuffle(spark):
    from gluestick_spark.functions.datetimes import as_timestamp
    from gluestick_spark.operators.funnels import funnel_counts, funnel_times

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev = e.select(
        "user_id", "event_type", as_timestamp(e, "ts").cast("timestamp").alias("ts")
    )
    out = funnel_counts(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"])
    rows = sorted((r.step_index, r.n_users) for r in out.collect())
    counts = [n for _, n in rows]
    assert counts == sorted(counts, reverse=True) and counts[0] > 0
    # plan shape: exactly one keyed exchange, no window, no Python
    plan = funnel_times(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_funnel_rejects_bad_steps(spark):
    from gluestick_spark.operators.funnels import funnel_counts

    df = spark.createDataFrame([(1, None, "A")], "u long, ts timestamp, ev string")
    with pytest.raises(ValueError, match=">= 2 steps"):
        funnel_counts(df, "u", "ts", "ev", ["A"])
    with pytest.raises(ValueError, match="distinct"):
        funnel_counts(df, "u", "ts", "ev", ["A", "A"])


# ------------------------------------------- exact-ratio resampling -------


def test_resample_to_ratio_exact_counts(spark):
    from gluestick_spark.llm.sampling import resample_to_ratio

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source"
    )
    out = resample_to_ratio(d, "doc_id", "source", {"src0": 3, "src1": 1})
    counts = {r.source: r.n for r in out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # exact 3:1 at max volume; classes outside the weights dropped
    assert set(counts) == {"src0", "src1"}
    assert counts["src0"] == 3 * counts["src1"] and counts["src1"] > 0
    # deterministic + partition-invariant membership
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in resample_to_ratio(
            d.repartition(7), "doc_id", "source", {"src0": 3, "src1": 1}
        ).collect()
    )
    assert a == b
    # different seed -> different draw (same counts)
    c = sorted(
        r.doc_id
        for r in resample_to_ratio(
            d, "doc_id", "source", {"src0": 3, "src1": 1}, seed="s2"
        ).collect()
    )
    assert c != a and len(c) == len(a)


def test_resample_to_ratio_rejects_bad_weights(spark):
    from gluestick_spark.llm.sampling import resample_to_ratio

    d = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError, match="non-empty"):
        resample_to_ratio(d, "doc_id", "source", {})
    with pytest.raises(ValueError, match="positive ints"):
        resample_to_ratio(d, "doc_id", "source", {"a": 0})
    with pytest.raises(ValueError, match="positive ints"):
        resample_to_ratio(d, "doc_id", "source", {"a": 1.5})


# ---------------------------------------------------------------------------
# collocations (llm/text.py)
# ---------------------------------------------------------------------------

def test_collocations_hand_computed(spark):
    from gluestick_spark.llm.text import collocations

    # "a b" ×3, "b c" ×1 → bigrams: (a,b)=3, (b,c)=1, N=4
    # margins: left a=3, b=1; right b=3, c=1
    d = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b c")], "doc_id long, text string"
    )
    rows = {(r["left"], r["right"]): r for r in collocations(d, "text", min_count=1).collect()}
    assert rows[("a", "b")]["n_pair"] == 3
    assert rows[("a", "b")]["lift"] == (3.0 * 4.0) / (3.0 * 3.0)
    assert rows[("b", "c")]["lift"] == (1.0 * 4.0) / (1.0 * 1.0)


def test_collocations_min_count_prunes_output_not_margins(spark):
    from gluestick_spark.llm.text import collocations

    d = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    out = collocations(d, "text", min_count=2).collect()
    assert [(r["left"], r["right"]) for r in out] == [("a", "b")]
    # margin for left 'a' counts the pruned (a,c) too: lt=3, not 2
    assert out[0]["lift"] == (2.0 * 3.0) / (3.0 * 2.0)


def test_collocations_no_global_window(spark):
    from gluestick_spark.llm.text import collocations

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = collocations(d, "text", k=10)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # total rides broadcast crossJoin
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# transition_matrix (operators/sessions.py)
# ---------------------------------------------------------------------------

def test_transition_matrix_hand_computed(spark):
    from gluestick_spark.operators.sessions import transition_matrix

    d = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (2, 1, "a"), (2, 2, "b")],
        "k long, t long, s string",
    )
    rows = {(r["from_state"], r["to_state"]): (r["n"], r["p"])
            for r in transition_matrix(d, "k", "s", ["t"]).collect()}
    # a->b twice (both keys), b->a once; totals: from a = 2, from b = 1
    assert rows == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}


def test_transition_matrix_probs_sum_to_one(spark):
    from pyspark.sql import functions as F
    from gluestick_spark.functions.datetimes import as_timestamp
    from gluestick_spark.operators.sessions import transition_matrix

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev = ev.withColumn("ts", as_timestamp(ev, "ts"))
    out = transition_matrix(ev, "user_id", "event_type", ["ts", "event_id"])
    sums = out.groupBy("from_state").agg(F.sum("p").alias("sp")).collect()
    assert sums and all(abs(r["sp"] - 1.0) < 1e-9 for r in sums)


def test_transition_matrix_requires_order(spark):
    from gluestick_spark.operators.sessions import transition_matrix

    d = spark.createDataFrame([(1, 1, "a")], "k long, t long, s string")
    with pytest.raises(ValueError, match="order_by"):
        transition_matrix(d, "k", "s", [])


def test_transition_matrix_single_keyed_window(spark):
    from gluestick_spark.operators.sessions import transition_matrix

    d = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b")], "k long, t long, s string"
    )
    plan = (
        transition_matrix(d, "k", "s", ["t"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the corpus is scanned exactly once (a totals JOIN would re-derive
    # the whole event pipeline a second time)
    assert plan.count("Scan ExistingRDD") == 1
    assert "partial_count" in plan  # map-side combine on the pair agg
