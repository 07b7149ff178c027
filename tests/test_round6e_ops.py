"""Round-6 batch 6: hive-partitioned writes, small-file compaction,
streaming CDC."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from gluestick_spark.sinks.layout import compact_files, write_hive_partitioned


def test_write_hive_partitioned_dirs_and_file_count(spark, tmp_dir):
    df = spark.createDataFrame(
        [(d, i, float(i)) for d in ("a", "b") for i in range(50)],
        "src string, id long, v double",
    ).repartition(8)
    path = os.path.join(tmp_dir, "part")
    write_hive_partitioned(df, path, ["src"], sort_cols=["id"])
    dirs = sorted(os.path.basename(p) for p in glob.glob(os.path.join(path, "src=*")))
    assert dirs == ["src=a", "src=b"]
    for d in dirs:
        files = glob.glob(os.path.join(path, d, "*.parquet"))
        assert len(files) == 1  # no task×partition small-file explosion
    back = spark.read.parquet(path)
    assert back.count() == 100
    # partition pruning: a src filter reads one directory only
    plan = (
        back.where(F.col("src") == "a")._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "src#" in plan


def test_compact_files_preserves_rows_atomically(spark, tmp_dir):
    path = os.path.join(tmp_dir, "small")
    # simulate a streaming sink: 10 tiny files
    for i in range(10):
        spark.range(i * 10, (i + 1) * 10).coalesce(1).write.mode("append").parquet(path)
    before = glob.glob(os.path.join(path, "*.parquet"))
    assert len(before) >= 10
    n_files = compact_files(spark, path, target_rows_per_file=50)
    assert n_files == 2
    after = glob.glob(os.path.join(path, "*.parquet"))
    assert len(after) == 2
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == list(range(100))
    assert not os.path.exists(path + ".__old__")
    assert not os.path.exists(path + ".__compacting__")


def test_exchange_dirs_atomic_swap(tmp_dir):
    """renameat2(RENAME_EXCHANGE) works on this filesystem: both trees
    swap in one syscall — the path is never absent."""
    from gluestick_spark.fsio import _exchange_dirs

    a, b = os.path.join(tmp_dir, "a"), os.path.join(tmp_dir, "b")
    os.makedirs(a), os.makedirs(b)
    open(os.path.join(a, "ina"), "w").close()
    open(os.path.join(b, "inb"), "w").close()
    assert _exchange_dirs(a, b)
    assert os.path.exists(os.path.join(a, "inb"))
    assert os.path.exists(os.path.join(b, "ina"))


def test_compact_files_recovers_crashed_fallback_swap(spark, tmp_dir):
    """Crash injection: a fallback swap killed between the two renames
    leaves the data under .__old__ and the canonical path absent. The
    next compact_files call must roll it back and complete normally."""
    path = os.path.join(tmp_dir, "small")
    for i in range(4):
        spark.range(i * 10, (i + 1) * 10).coalesce(1).write.mode("append").parquet(path)
    # simulate the mid-swap crash state
    os.rename(path, path + ".__old__")
    assert not os.path.exists(path)
    n_files = compact_files(spark, path, target_rows_per_file=40)
    assert n_files == 1
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == list(range(40))
    assert not os.path.exists(path + ".__old__")


def test_compact_files_refuses_hive_partitioned_dir(spark, tmp_dir):
    """Running compaction on a hive-partitioned dataset must raise, not
    silently rewrite it as one unpartitioned file."""
    import pytest

    path = os.path.join(tmp_dir, "hive")
    df = spark.range(20).select("id", (F.col("id") % 2).cast("string").alias("src"))
    df.write.partitionBy("src").parquet(path)
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_files(spark, path, target_rows_per_file=10)
    # layout untouched
    assert sorted(
        d for d in os.listdir(path) if d.startswith("src=")
    ) == ["src=0", "src=1"]


def test_compact_files_empty_dir_raises(spark, tmp_dir):
    import pytest

    path = os.path.join(tmp_dir, "empty")
    os.makedirs(path)
    with pytest.raises(ValueError, match="no .*data files"):
        compact_files(spark, path, target_rows_per_file=10)


def test_streaming_cdc_emits_changes_only(spark, tmp_dir):
    from gluestick_spark.streaming.pipeline import streaming_cdc

    flat = os.path.join(tmp_dir, "feed")
    os.makedirs(flat)
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b2 = spark.createDataFrame([(1, "a"), (2, "b2"), (3, "c")], "k long, v string")
    for i, b in enumerate((b1, b2)):
        tmp = os.path.join(tmp_dir, f"w{i}")
        b.coalesce(1).write.parquet(tmp)
        (part,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        os.rename(os.path.join(tmp, part), os.path.join(flat, f"batch_{i}.parquet"))

    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", "1")
        .parquet(flat)
    )
    snap = os.path.join(tmp_dir, "snap")
    changes = os.path.join(tmp_dir, "changes")
    os.makedirs(snap)
    q = streaming_cdc(
        stream, "feed", snap, "k", changes,
        checkpoint_dir=os.path.join(tmp_dir, "ck"),
    )
    q.awaitTermination()

    got = sorted(
        (r.batch_id, r.k, r.change, r.new_v)
        for r in spark.read.parquet(changes).collect()
    )
    # batch 0: everything is an insert (empty snapshot); batch 1: only the
    # changed/new keys — key 1 unchanged emits nothing, absence != delete
    assert got == [
        (0, 1, "insert", "a"),
        (0, 2, "insert", "b"),
        (1, 2, "update", "b2"),
        (1, 3, "insert", "c"),
    ]
    # snapshot advanced to the latest state
    from gluestick_spark.sources.reader import read_snapshots

    final = sorted(map(tuple, read_snapshots(spark, "feed", snap).collect()))
    assert final == [(1, "a"), (2, "b2"), (3, "c")]


def test_streaming_cdc_collapses_multi_dump_trigger(spark, tmp_dir):
    """One trigger picking up TWO dump files with overlapping keys: the
    batch is collapsed keep-last per key (order_col highest wins) before
    table_diff — no duplicate-key multiplication through the full-outer
    join, one change row per key."""
    from gluestick_spark.sources.reader import read_snapshots
    from gluestick_spark.streaming.pipeline import streaming_cdc

    flat = os.path.join(tmp_dir, "feed2")
    os.makedirs(flat)
    d1 = spark.createDataFrame([(1, 10, "a"), (2, 10, "b")], "k long, seq long, v string")
    d2 = spark.createDataFrame([(1, 20, "a2"), (3, 20, "c")], "k long, seq long, v string")
    for i, b in enumerate((d1, d2)):
        tmp = os.path.join(tmp_dir, f"x{i}")
        b.coalesce(1).write.parquet(tmp)
        (part,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        os.rename(os.path.join(tmp, part), os.path.join(flat, f"dump_{i}.parquet"))

    # NO maxFilesPerTrigger: availableNow sweeps both dumps into one batch
    stream = spark.readStream.schema("k long, seq long, v string").parquet(flat)
    snap = os.path.join(tmp_dir, "snap2")
    changes = os.path.join(tmp_dir, "changes2")
    os.makedirs(snap)
    q = streaming_cdc(
        stream, "feed2", snap, "k", changes,
        checkpoint_dir=os.path.join(tmp_dir, "ck2"),
        order_col="seq",
    )
    q.awaitTermination()

    got = sorted(
        (r.k, r.change, r.new_v) for r in spark.read.parquet(changes).collect()
    )
    # key 1 appears in both dumps: exactly ONE insert with the seq=20 value
    assert got == [(1, "insert", "a2"), (2, "insert", "b"), (3, "insert", "c")]
    final = sorted((r.k, r.v) for r in read_snapshots(spark, "feed2", snap).collect())
    assert final == [(1, "a2"), (2, "b"), (3, "c")]


# -------------------------------------------------------- feature prep -----


def test_equi_depth_bin_quartiles(spark):
    from gluestick_spark.operators.features import equi_depth_bin

    df = spark.createDataFrame([(float(i),) for i in range(1, 9)], "v double")
    binned, edges = equi_depth_bin(df, "v", 4)
    assert edges == [2.75, 4.5, 6.25]
    got = {r.v: r.v_bin for r in binned.collect()}
    assert got == {1.0: 0, 2.0: 0, 3.0: 1, 4.0: 1, 5.0: 2, 6.0: 2, 7.0: 3, 8.0: 3}


def test_equi_depth_bin_ties_share_bin_and_null(spark):
    from gluestick_spark.operators.features import equi_depth_bin

    df = spark.createDataFrame(
        [(5.0,), (5.0,), (5.0,), (5.0,), (None,)], "v double"
    )
    binned, _ = equi_depth_bin(df, "v", 2)
    rows = binned.collect()
    bins = {r.v_bin for r in rows if r.v is not None}
    assert len(bins) == 1  # equal values never split across bins
    assert [r.v_bin for r in rows if r.v is None] == [None]


def test_scale_features_zscore_and_minmax(spark):
    from gluestick_spark.operators.features import scale_features

    df = spark.createDataFrame(
        [(0.0, 10.0), (10.0, 10.0)], "x double, c double"
    )
    z, params = scale_features(df, ["x", "c"], "zscore")
    got = sorted((r.x, r.x_scaled, r.c_scaled) for r in z.collect())
    assert got == [(0.0, -1.0, 0.0), (10.0, 1.0, 0.0)]  # constant col -> 0
    assert params["x"] == (5.0, 5.0)
    mm, p2 = scale_features(df, ["x"], "minmax")
    assert sorted(r.x_scaled for r in mm.collect()) == [0.0, 1.0]
    assert p2["x"] == (0.0, 10.0)


def test_balance_classes_downsamples_to_minority(spark):
    from gluestick_spark.llm.sampling import balance_classes

    rows = [(i, "big") for i in range(50)] + [(100 + i, "small") for i in range(5)]
    df = spark.createDataFrame(rows, "id long, label string")
    out = balance_classes(df, "id", "label")
    counts = {r.label: r.n for r in out.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"big": 5, "small": 5}
    # deterministic: same seed -> same members
    a = sorted(r.id for r in balance_classes(df, "id", "label").collect())
    b = sorted(r.id for r in balance_classes(df.repartition(7), "id", "label").collect())
    assert a == b


# ------------------------------------------------- review-fix regressions --


def test_expectations_duplicate_labels_disambiguated(spark):
    from gluestick_spark.operators.expectations import check_expectations

    df = spark.createDataFrame([("abc",), ("zzz",)], "s string")
    out = {r.rule: r.n_violations for r in check_expectations(
        df,
        [
            {"rule": "matches", "col": "s", "pattern": "^a"},
            {"rule": "matches", "col": "s", "pattern": "c$"},
        ],
    ).collect()}
    assert out == {"matches:s": 1, "matches:s#2": 1}


def test_fuzzy_null_block_rows_never_match(spark):
    from gluestick_spark.llm.fuzzy import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "abc", None), (2, "abc", None), (3, "abd", None), (4, "abc", "en"),
         (5, "abd", "en")],
        "id long, t string, lang string",
    )
    got = sorted((r.a, r.b) for r in
                 edit_distance_pairs(df, "id", "t", 2, block_cols=["lang"]).collect())
    assert got == [(4, 5)]  # NULL-block rows match nothing, in EITHER stage


def test_hive_partitioned_files_per_partition_actually_splits(spark, tmp_dir):
    from gluestick_spark.sinks.layout import write_hive_partitioned

    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(400)], "src string, id long, v double"
    ).repartition(8)
    path = os.path.join(tmp_dir, "p4")
    write_hive_partitioned(df, path, ["src"], files_per_partition=4)
    files = glob.glob(os.path.join(path, "src=a", "*.parquet"))
    # ~files_per_partition (hash collisions can merge a shard pair)
    assert 2 <= len(files) <= 4


def test_equi_depth_bin_empty_raises(spark):
    import pytest as _pytest

    from gluestick_spark.operators.features import equi_depth_bin

    df = spark.createDataFrame([], "v double")
    with _pytest.raises(ValueError, match="no non-null values"):
        equi_depth_bin(df, "v", 4)


def test_cluster_size_histogram(spark):
    from gluestick_spark.llm.dedup import cluster_size_histogram

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 8), (8, 7)], "a long, b long"
    )  # one 3-cluster, two 2-clusters
    got = {r.cluster_size: r.n_clusters for r in cluster_size_histogram(pairs).collect()}
    assert got == {3: 1, 2: 2}


# ------------------------------------------------------------ merge_into ---


def test_merge_into_all_clauses(spark):
    from gluestick_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "keep", 10.0), (2, "upd", 20.0), (3, "del", 30.0), (4, "noop", 40.0)],
        "k long, tag string, v double",
    )
    source = spark.createDataFrame(
        [(2, "src2", 99.0), (3, "src3", 0.0), (5, "new", 50.0)],
        "k long, tag string, v double",
    )
    out = merge_into(
        target,
        source,
        "k",
        when_matched_update={"v": F.col("t.v") + F.col("s.v")},
        update_condition=F.col("s.v") > 0,
        when_matched_delete=F.col("t.tag") == "del",
        when_not_matched_insert=True,
    )
    got = sorted(map(tuple, out.collect()))
    assert got == [
        (1, "keep", 10.0),     # unmatched target survives
        (2, "upd", 119.0),     # update clause: v += s.v, tag NOT in map -> kept
        (4, "noop", 40.0),
        (5, "new", 50.0),      # insert takes source values
    ]  # k=3 deleted; k=3's update never evaluated (delete wins)


def test_merge_into_conditional_insert_and_no_update(spark):
    from gluestick_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, 1.0)], "k long, v double")
    source = spark.createDataFrame([(2, -5.0), (3, 7.0)], "k long, v double")
    out = merge_into(
        target, source, "k", when_not_matched_insert=F.col("s.v") > 0
    )
    assert sorted(map(tuple, out.collect())) == [(1, 1.0), (3, 7.0)]


def test_merge_into_null_clause_conditions_keep_rows(spark):
    """SQL MERGE semantics: a clause condition evaluating to NULL is NOT
    satisfied — the row falls through unchanged. Regression test for the
    NULL-poisoning bug where a NULL delete condition made `keep` NULL and
    where() silently dropped (i.e. deleted) the matched row."""
    from gluestick_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, "a", 1.0)], "k long, tag string, v double")
    # source flag is NULL -> delete condition s.flag is NULL, not true
    source = spark.createDataFrame(
        [(1, None, 9.0)], "k long, flag string, v double"
    )
    out = merge_into(
        target, source, "k",
        when_matched_delete=F.col("s.flag") == "x",
    )
    assert sorted(map(tuple, out.collect())) == [(1, "a", 1.0)]

    # NULL update condition -> no update, row unchanged (not dropped)
    out2 = merge_into(
        target, source, "k",
        when_matched_update={"v": F.col("s.v")},
        update_condition=F.col("s.flag") == "x",
    )
    assert sorted(map(tuple, out2.collect())) == [(1, "a", 1.0)]

    # NULL insert condition -> unmatched source row is NOT inserted
    src2 = spark.createDataFrame([(2, None, 9.0)], "k long, flag string, v double")
    out3 = merge_into(
        target, src2, "k",
        when_not_matched_insert=F.col("s.flag") == "x",
    )
    assert sorted(map(tuple, out3.collect())) == [(1, "a", 1.0)]


# ------------------------------------------- burst suppression / encode ----


def test_suppress_duplicates_chain_semantics(spark):
    import datetime as dt

    from gluestick_spark.operators.sessions import suppress_duplicates

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "keep"),                                   # starts burst
        (1, t0 + dt.timedelta(seconds=30), "drop"),        # within 60s
        (1, t0 + dt.timedelta(seconds=55), "drop"),        # chain extends
        (1, t0 + dt.timedelta(seconds=140), "keep"),       # gap 85s > 60
        (2, t0, "keep"),                                   # other key
    ]
    df = spark.createDataFrame(
        [(k, ts, tag) for k, ts, tag in rows], "k long, ts timestamp, tag string"
    )
    got = sorted((r.k, r.tag) for r in
                 suppress_duplicates(df, ["k"], "ts", 60.0).collect())
    assert got == [(1, "keep"), (1, "keep"), (2, "keep")]


def test_suppress_duplicates_single_exchange(spark):
    import datetime as dt

    from gluestick_spark.operators.sessions import suppress_duplicates

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "k long, ts timestamp"
    )
    plan = (
        suppress_duplicates(df, ["k"], "ts", 60.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_encode_tokens_roundtrip_and_oov(spark):
    from gluestick_spark.llm.text import build_vocab, encode_tokens

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b zz"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    vocab = build_vocab(docs, "text", max_size=10)  # a:0 b:1 c:2 zz:3 by rank
    ids = {r.token: r.token_id for r in vocab.collect()}
    enc = {r.doc_id: (list(r.token_ids), r.n_tokens)
           for r in encode_tokens(docs, "text", "doc_id", vocab).collect()}
    assert enc[1] == ([ids["a"], ids["b"], ids["a"], ids["c"]], 4)
    assert enc[3] == ([], 0) and enc[4] == ([], 0)
    # OOV drop vs unk substitution
    small = vocab.where(F.col("token") != "zz")
    enc_drop = encode_tokens(docs, "text", "doc_id", small)
    assert enc_drop.where(F.col("doc_id") == 2).collect()[0].n_tokens == 1
    enc_unk = encode_tokens(docs, "text", "doc_id", small, unk_id=99)
    assert list(enc_unk.where(F.col("doc_id") == 2).collect()[0].token_ids) == [ids["b"], 99]
