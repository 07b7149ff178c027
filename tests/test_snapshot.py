"""Snapshot/state operator tests — ports of the reference scenarios
(FIXTURES.md F6/F7/F10; reference tests/function_tests/test_etl_utils_snapshot.py)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from gluestick_spark import read_snapshots, snapshot_records, upsert
from gluestick_spark.operators.snapshot import drop_redundant, merge_id_df


def test_first_write_creates_snapshot(spark, tmp_dir):
    df = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    out = snapshot_records(spark, df, "s", tmp_dir, pk="id")
    assert out.count() == 2
    assert os.path.exists(os.path.join(tmp_dir, "s.snapshot.parquet"))


def test_merge_incoming_wins(spark, tmp_dir):
    snapshot_records(spark, spark.createDataFrame([Row(id=1, v="old"), Row(id=2, v="keep")]), "s", tmp_dir, pk="id")
    out = snapshot_records(spark, spark.createDataFrame([Row(id=1, v="new"), Row(id=3, v="add")]), "s", tmp_dir, pk="id")
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {1: "new", 2: "keep", 3: "add"}
    # persisted state matches returned state
    persisted = {r["id"]: r["v"] for r in read_snapshots(spark, "s", tmp_dir).collect()}
    assert persisted == got


def test_composite_pk(spark, tmp_dir):
    snapshot_records(spark, spark.createDataFrame([Row(a=1, b=1, v="x"), Row(a=1, b=2, v="y")]), "c", tmp_dir, pk=["a", "b"])
    out = snapshot_records(spark, spark.createDataFrame([Row(a=1, b=2, v="z")]), "c", tmp_dir, pk=["a", "b"])
    got = {(r["a"], r["b"]): r["v"] for r in out.collect()}
    assert got == {(1, 1): "x", (1, 2): "z"}


def test_just_new_returns_incoming_only(spark, tmp_dir):
    snapshot_records(spark, spark.createDataFrame([Row(id=1, v="a")]), "jn", tmp_dir, pk="id")
    out = snapshot_records(spark, spark.createDataFrame([Row(id=2, v="b")]), "jn", tmp_dir, pk="id", just_new=True)
    assert [r["id"] for r in out.collect()] == [2]
    assert read_snapshots(spark, "jn", tmp_dir).count() == 2


def test_overwrite_replaces_state(spark, tmp_dir):
    snapshot_records(spark, spark.createDataFrame([Row(id=1, v="a")]), "ow", tmp_dir, pk="id")
    snapshot_records(spark, spark.createDataFrame([Row(id=9, v="z")]), "ow", tmp_dir, pk="id", overwrite=True)
    got = [r["id"] for r in read_snapshots(spark, "ow", tmp_dir).collect()]
    assert got == [9]


def test_schema_evolution_on_merge(spark, tmp_dir):
    # reference test_pl_lazyframe_reader.py:339-451: added/dropped/reordered cols
    snapshot_records(spark, spark.createDataFrame([Row(id=1, v="a")]), "ev", tmp_dir, pk="id")
    out = snapshot_records(
        spark, spark.createDataFrame([Row(id=2, extra=True, v="b")]), "ev", tmp_dir, pk="id"
    )
    assert set(out.columns) == {"id", "v", "extra"}
    got = {r["id"]: r["extra"] for r in out.collect()}
    assert got[1] is None and got[2] is True


def test_coerce_types_to_incoming(spark, tmp_dir):
    snapshot_records(spark, spark.createDataFrame([Row(id=1, n="10")]), "ct", tmp_dir, pk="id")
    out = snapshot_records(
        spark, spark.createDataFrame([Row(id=2, n=20)]), "ct", tmp_dir, pk="id", coerce_types=True
    )
    assert dict(out.dtypes)["n"] == "bigint"


def test_upsert_keep_last_within_batch(spark):
    snap = spark.createDataFrame([Row(id=1, v="old")])
    inc = spark.createDataFrame([Row(id=1, v="first"), Row(id=1, v="second")])
    got = {r["id"]: r["v"] for r in upsert(snap, inc, "id").collect()}
    assert got == {1: "second"}


def test_drop_redundant_flow(spark, tmp_dir):
    df1 = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    out1 = drop_redundant(spark, df1, "cdc", tmp_dir, pk="id")
    assert out1.count() == 2  # first run: everything is new

    # resubmit identical + one changed + one new
    df2 = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="CHANGED"), Row(id=3, v="c")])
    out2 = drop_redundant(spark, df2, "cdc", tmp_dir, pk="id", updated_flag=True)
    got = {r["id"]: r["_updated"] for r in out2.collect()}
    assert got == {2: True, 3: False}  # id=1 dropped as redundant


def test_drop_redundant_result_survives_cache_clear(spark, tmp_dir):
    # the increment's result is pinned, not cached: clearing the cache must
    # not send it back to the hash snapshot the increment swapped out
    full = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    drop_redundant(spark, full, "s", tmp_dir, pk="id").count()
    incr = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="B"), Row(id=3, v="c")])
    out = drop_redundant(spark, incr, "s", tmp_dir, pk="id", updated_flag=True)
    spark.catalog.clearCache()
    assert out.count() == 2
    assert {r["id"]: r["_updated"] for r in out.collect()} == {2: True, 3: False}


def test_merge_id_df(spark):
    ids = spark.createDataFrame(
        [
            Row(InputId="10", RemoteId=100),
            Row(InputId="10", RemoteId=101),  # keep-last wins
            Row(InputId="20", RemoteId=200),
        ]
    )
    df = spark.createDataFrame([Row(externalId="10", x=1), Row(externalId="30", x=2)])
    out = merge_id_df(df, ids, "remote_pk")
    got = {r["externalId"]: r["remote_pk"] for r in out.collect()}
    assert got["10"] == 101
    assert got["30"] is None


def test_atomic_write_leaves_no_partial(spark, tmp_dir):
    df = spark.createDataFrame([Row(id=i, v=str(i)) for i in range(100)])
    snapshot_records(spark, df, "at", tmp_dir, pk="id")
    snapshot_records(spark, df.withColumn("v", F.concat(F.col("v"), F.lit("!"))), "at", tmp_dir, pk="id")
    leftovers = [f for f in os.listdir(tmp_dir) if ".tmp-" in f or ".lock" in f]
    assert leftovers == []
    assert read_snapshots(spark, "at", tmp_dir).count() == 100


def test_crash_between_swap_renames_keeps_history(spark, tmp_dir):
    """A crash between the renames of the swap fallback (a non-default
    ``fs`` takes it) must not lose the snapshot: the next
    snapshot_records reads the parked history back and upserts onto it."""
    import pytest

    from gluestick_spark.fsio import LocalFS
    from gluestick_spark.operators.snapshot import _write_snapshot

    class CrashOnSecondRename(LocalFS):
        renames = 0

        def rename(self, src, dst):
            self.renames += 1
            if self.renames == 2:
                raise OSError("killed between renames")
            super().rename(src, dst)

    def ids(*vals):
        return spark.createDataFrame([Row(id=i, v=str(i)) for i in vals])

    snapshot_records(spark, ids(1, 2), "cr", tmp_dir, pk="id")
    with pytest.raises(OSError, match="killed"):
        _write_snapshot(ids(9), "cr", tmp_dir, fs=CrashOnSecondRename())
    out = snapshot_records(spark, ids(3), "cr", tmp_dir, pk="id")
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]
    assert not any(f.endswith(".__old__") for f in os.listdir(tmp_dir))
