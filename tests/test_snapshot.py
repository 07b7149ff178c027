"""Snapshot/state operator tests — ports of the reference scenarios
(FIXTURES.md F6/F7/F10; reference tests/function_tests/test_etl_utils_snapshot.py)."""

from __future__ import annotations

import os

import pytest

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



def test_heal_swap_drops_parked_single_file(tmp_dir):
    """A swap fallback that crashed after its last rename can leave the
    replaced single-file snapshot parked; healing deletes the file."""
    from gluestick_spark.fsio import heal_swap

    dst = os.path.join(tmp_dir, "f.snapshot.parquet")
    os.makedirs(dst)
    with open(dst + ".__old__", "wb") as f:
        f.write(b"PAR1")
    heal_swap(dst)
    assert os.listdir(tmp_dir) == ["f.snapshot.parquet"]

# ---------------------------------------------------------------------------
# drop_redundant against a pure-Python replay of its rule
# ---------------------------------------------------------------------------


def _py_hash(row: dict) -> str:
    """row_hash_expr in Python: md5 of the sorted columns' string forms,
    NULLs skipped (concat_ws)."""
    import hashlib

    parts = [str(row[c]) for c in sorted(row) if row[c] is not None]
    return hashlib.md5("".join(parts).encode()).hexdigest()


class _CdcReplay:
    """The CDC rule, one increment at a time. With a PK: the batch keeps
    its first row per PK (NULLs group together); a row is kept unless its
    PK has no NULL part and the state holds its hash under that PK;
    ``_updated`` marks a kept row whose NULL-free PK the state holds; the
    state then maps every batch PK (NULL groups included) to the batch's
    hash. Without a PK: a row is kept unless the state holds its hash; the
    first state lists the kept hashes, later states are distinct."""

    def __init__(self, pk):
        self.pk = pk
        self.state = None

    def sync(self, rows):
        if self.pk:
            first = {}
            for r in rows:
                first.setdefault(tuple(r[c] for c in self.pk), r)
            rows = list(first.values())
        hashed = [(r, _py_hash(r)) for r in rows]
        if self.state is None:
            kept = [dict(r) for r, _ in hashed]
            if self.pk:
                self.state = {tuple(r[c] for c in self.pk): h for r, h in hashed}
            else:
                self.state = [h for _, h in hashed]
            return kept
        kept = []
        if self.pk:
            for r, h in hashed:
                k = tuple(r[c] for c in self.pk)
                null = any(v is None for v in k)
                if null or self.state.get(k) != h:
                    kept.append({**r, "_updated": not null and k in self.state})
            for r, h in hashed:
                self.state[tuple(r[c] for c in self.pk)] = h
        else:
            seen = set(self.state)
            kept = [dict(r) for r, h in hashed if h not in seen]
            self.state = sorted(seen | {h for _, h in hashed})
        return kept

    def state_rows(self):
        if self.pk:
            return [(*k, h) for k, h in self.state.items()]
        return [(h,) for h in self.state]


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty()


@pytest.mark.parametrize(
    "pk, updated_flag, use_csv",
    [
        ("a", True, False),
        (["a", "b"], True, True),
        (None, True, False),
        (None, False, True),
    ],
    ids=["pk-updated", "composite-updated-csv", "hash-only", "hash-only-csv"],
)
def test_drop_redundant_matches_python_replay(spark, tmp_dir, pk, updated_flag, use_csv):
    """A full sync and five seeded increments: kept rows, ``_updated`` and
    the hash state equal the replay's (exceptAll both ways). Keys come
    from a small domain with NULLs, so batches hold duplicate PKs, NULL
    and composite PKs, unchanged, changed and new rows."""
    import random

    rng = random.Random(7)
    pk_list = [pk] if isinstance(pk, str) else list(pk or [])
    schema = "a int, b int, v string"
    replay = _CdcReplay(pk_list)
    for step in range(6):
        rows = [
            {
                "a": rng.choice([None, 0, 1, 2, 3, 4, 5]),
                "b": rng.choice([None, 0, 1]),
                "v": rng.choice([None, "x", "y"]),
            }
            for _ in range(14)
        ]
        want = replay.sync(rows)
        got = drop_redundant(
            spark,
            spark.createDataFrame([tuple(r.values()) for r in rows], schema),
            "rp",
            tmp_dir,
            pk=pk,
            updated_flag=updated_flag,
            use_csv=use_csv,
        )
        cols = ["a", "b", "v"]
        if step and updated_flag and pk_list:
            cols.append("_updated")
        want_schema = schema + (", _updated boolean" if "_updated" in cols else "")
        want_df = spark.createDataFrame([tuple(r[c] for c in cols) for r in want], want_schema)
        assert _same_rows(got.select(*cols), want_df), step
        if step:
            # the key columns lead, as this operator has always returned them
            assert got.columns == pk_list + [c for c in cols if c not in pk_list]

        state = read_snapshots(spark, "rp.hash", tmp_dir)
        state_cols = pk_list + ["hash"]
        state_schema = ", ".join(f"{c} {'string' if c == 'hash' else 'int'}" for c in state_cols)
        typed = state.select(
            *[F.col(c).cast("string" if c == "hash" else "int") for c in state_cols]
        )
        assert _same_rows(typed, spark.createDataFrame(replay.state_rows(), state_schema)), step


def test_drop_redundant_csv_state_matches_zero_padded_string_pk(spark, tmp_dir):
    """A CSV hash state is read by inference, so the string PK "007" comes
    back as the int 7. The diff still matches it, as an equi-join of the
    two columns does: an unchanged re-sync keeps only the new row."""
    schema = "k string, v string"
    rows = [("007", "a"), ("010", "b")]
    drop_redundant(spark, spark.createDataFrame(rows, schema), "z", tmp_dir, pk="k", use_csv=True)
    out = drop_redundant(
        spark, spark.createDataFrame(rows + [("011", "c")], schema), "z", tmp_dir,
        pk="k", updated_flag=True, use_csv=True,
    )
    assert [tuple(r) for r in out.collect()] == [("011", "c", False)]


def test_drop_redundant_writes_stored_key_at_widest_type(spark, tmp_dir):
    """A state key stored at a wider type than the batch's PK column (a
    bigint above 2**31 against an int batch, as CSV-inferred input
    gives) is written back at the widest type, as an upsert's union
    writes it: the increment does not overflow, and the state keeps the
    key."""
    big = 2**40
    drop_redundant(spark, spark.createDataFrame([(big, "a"), (1, "b")], "k long, v string"), "wk", tmp_dir, pk="k")
    out = drop_redundant(
        spark, spark.createDataFrame([(1, "b"), (2, "c")], "k int, v string"), "wk", tmp_dir,
        pk="k", updated_flag=True,
    )
    assert [tuple(r) for r in out.collect()] == [(2, "c", False)]
    state = read_snapshots(spark, "wk.hash", tmp_dir)
    assert state.schema["k"].dataType.typeName() == "long"
    assert sorted(r["k"] for r in state.collect()) == [1, 2, big]


# ---------------------------------------------------------------------------
# Job gates: a parquet snapshot is a committed store, and an increment
# diffs its hash state in one join
# ---------------------------------------------------------------------------


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted by a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_committed_snapshot_reads_with_no_job(spark, tmp_dir):
    """The marker records the schema, so the read infers nothing (an
    inferring read runs one footer job)."""
    df = spark.createDataFrame([Row(id=1, v="a", x=1.5)])
    snapshot_records(spark, df, "j0", tmp_dir, pk="id")
    assert os.path.isfile(os.path.join(tmp_dir, "j0.snapshot.parquet", "_SNAPSHOT.json"))
    assert _jobs(spark, lambda: read_snapshots(spark, "j0", tmp_dir)) == 0
    assert read_snapshots(spark, "j0", tmp_dir).schema == spark.read.parquet(
        os.path.join(tmp_dir, "j0.snapshot.parquet")
    ).schema


# Jobs of a warm increment (drop_redundant + snapshot_records, 200 rows
# against 1,000) when the hash state was diffed by an anti-join, an
# _updated join and an upsert, and every snapshot read inferred its
# schema: 14.
INCREMENT_JOBS_MAX = 6


def test_warm_increment_job_bound(spark, tmp_dir):
    def sync(lo, hi, tag):
        batch = spark.range(lo, hi).select(
            F.col("id").alias("pk"), F.concat(F.lit(tag), (F.col("id") % 7).cast("string")).alias("v")
        )
        kept = drop_redundant(spark, batch, "w", tmp_dir, pk="pk", updated_flag=True)
        snapshot_records(spark, kept, "w", tmp_dir, pk="pk")

    sync(0, 1000, "a")
    sync(900, 1100, "b")  # warm-up increment
    jobs = _jobs(spark, lambda: sync(1000, 1200, "c"))
    assert jobs <= INCREMENT_JOBS_MAX, jobs
    assert read_snapshots(spark, "w.hash", tmp_dir).count() == 1200


# Jobs of the second streaming_snapshot_upsert trigger (2 rows upserted
# into 2) when every snapshot read inferred its schema.
SNAPSHOT_UPSERT_TRIGGER_JOBS_BEFORE = 4


def test_streaming_snapshot_upsert_trigger_reads_no_footer(spark, tmp_dir):
    from gluestick_spark.streaming.pipeline import stream_from_directory, streaming_snapshot_upsert

    src, snap, ckpt = (os.path.join(tmp_dir, x) for x in ("src", "snap", "ckpt"))
    schema = "id long, v string"
    jobs = []
    for rows in ([(1, "a"), (2, "b")], [(2, "B2"), (3, "c")]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        q = streaming_snapshot_upsert(
            stream_from_directory(spark, src, spark.createDataFrame([], schema).schema), "s", snap, "id", ckpt
        )
        q.awaitTermination(120)
        jobs.append(len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))))
    got = {r["id"]: r["v"] for r in read_snapshots(spark, "s", snap).collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}
    assert jobs[1] < SNAPSHOT_UPSERT_TRIGGER_JOBS_BEFORE, jobs


# ---------------------------------------------------------------------------
# Legacy snapshots and torn writes
# ---------------------------------------------------------------------------


def test_markerless_snapshot_dir_upserts_into_committed(spark, tmp_dir):
    """A snapshot directory written before markers is read by inference;
    the next upsert commits it with a marker."""
    path = os.path.join(tmp_dir, "old.snapshot.parquet")
    spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]).write.parquet(path)
    assert _jobs(spark, lambda: read_snapshots(spark, "old", tmp_dir)) == 1
    out = snapshot_records(spark, spark.createDataFrame([Row(id=2, v="B"), Row(id=3, v="c")]), "old", tmp_dir, pk="id")
    assert {r["id"]: r["v"] for r in out.collect()} == {1: "a", 2: "B", 3: "c"}
    assert os.path.isfile(os.path.join(path, "_SNAPSHOT.json"))
    assert _jobs(spark, lambda: read_snapshots(spark, "old", tmp_dir)) == 0


def test_reference_single_file_snapshot_upserts_into_committed(spark, tmp_dir):
    """The reference writes one ``{stream}.snapshot.parquet`` file. It is
    read by inference, and the upsert replaces it with a committed
    snapshot directory, leaving nothing behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(tmp_dir, "ref.snapshot.parquet")
    pq.write_table(pa.table({"id": [1, 2], "v": ["a", "b"]}), path)
    assert {r["id"]: r["v"] for r in read_snapshots(spark, "ref", tmp_dir).collect()} == {1: "a", 2: "b"}
    snapshot_records(spark, spark.createDataFrame([Row(id=2, v="B")]), "ref", tmp_dir, pk="id")
    assert os.path.isfile(os.path.join(path, "_SNAPSHOT.json"))
    assert {r["id"]: r["v"] for r in read_snapshots(spark, "ref", tmp_dir).collect()} == {1: "a", 2: "B"}
    assert os.listdir(tmp_dir) == ["ref.snapshot.parquet"]


def test_unpublished_snapshot_write_is_never_read(spark, tmp_dir):
    """A write killed after its data and before its marker leaves a temp
    directory that no read sees: the committed snapshot is still read,
    typed by its own marker, and the next write succeeds."""
    from gluestick_spark.fsio import LocalFS
    from gluestick_spark.operators.snapshot import _write_snapshot

    class CrashBeforeMarker(LocalFS):
        def write_text_atomic(self, p, s):
            raise OSError("killed before the marker")

    snapshot_records(spark, spark.createDataFrame([Row(id=1, v="a")]), "tw", tmp_dir, pk="id")
    with pytest.raises(OSError, match="killed"):
        _write_snapshot(spark.createDataFrame([Row(id=9, n=9.0)]), "tw", tmp_dir, fs=CrashBeforeMarker())
    assert any(".tmp-" in f for f in os.listdir(tmp_dir))
    assert _jobs(spark, lambda: read_snapshots(spark, "tw", tmp_dir)) == 0
    assert [tuple(r) for r in read_snapshots(spark, "tw", tmp_dir).collect()] == [(1, "a")]
    out = snapshot_records(spark, spark.createDataFrame([Row(id=2, v="b")]), "tw", tmp_dir, pk="id")
    assert sorted(r["id"] for r in out.collect()) == [1, 2]
