"""Versioned tables (``operators/versioned.py``): the exclusive-mkdir
claim, the one ``_COMMITTED`` marker per version, time travel,
merge-on-read delete chains and vacuum."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F
from test_index_commit import _jobs

from gluestick_spark.fsio import MemoryFS
from gluestick_spark.llm.index_commit import SCHEMAS, TABLE_VERSION, publish
from gluestick_spark.operators.versioned import (
    _DELETES_DIR,
    _claim_version,
    _vdir,
    _write_version,
    compact_version,
    delete_where,
    latest_version,
    list_versions,
    published_versions,
    read_versioned,
    vacuum_versions,
    write_versioned,
)

# ------------------------------------------------------ publish + read ----


def test_versioned_write_read_time_travel(spark, tmp_dir):
    path = os.path.join(tmp_dir, "tbl")
    v1 = write_versioned(spark.range(5), path)
    v2 = write_versioned(spark.range(10), path)
    assert (v1, v2) == (1, 2) and latest_version(path) == 2
    assert read_versioned(spark, path).count() == 10          # latest
    assert read_versioned(spark, path, 1).count() == 5        # time travel
    # vacuum keeps the newest `keep` and reports what it removed
    write_versioned(spark.range(3), path)
    assert vacuum_versions(path, keep=2) == [1]
    assert list_versions(path) == [2, 3]
    assert read_versioned(spark, path, 2).count() == 10       # survivor intact
    with pytest.raises(ValueError, match="not published"):
        read_versioned(spark, path, 1)


def test_versioned_marker_is_the_only_publication_record(spark, tmp_dir):
    """Each version's ``_COMMITTED`` marker alone publishes it: the table
    root holds nothing but the version directories, and a version whose
    marker is gone is no longer published or latest."""
    path = os.path.join(tmp_dir, "tbl")
    write_versioned(spark.range(3), path)
    write_versioned(spark.range(7), path)
    assert sorted(os.listdir(path)) == ["v=1", "v=2"]
    assert published_versions(path) == [1, 2]
    os.remove(os.path.join(_vdir(path, 2), TABLE_VERSION.marker))
    assert published_versions(path) == [1]
    assert latest_version(path) == 1
    assert read_versioned(spark, path).count() == 3


def test_versioned_out_of_order_publish_latest_is_highest(spark, tmp_dir):
    """Two concurrent claims that publish out of order: latest is the
    higher number whichever published last, and both stay readable."""
    path = os.path.join(tmp_dir, "tbl")
    write_versioned(spark.range(2), path)                     # v=1
    slow, fast = _claim_version(path), _claim_version(path)
    assert (slow, fast) == (2, 3)
    _write_version(spark.range(30), path, fast)
    assert latest_version(path) == 3
    _write_version(spark.range(20), path, slow)               # publishes last
    assert published_versions(path) == [1, 2, 3]
    assert latest_version(path) == 3
    assert read_versioned(spark, path).count() == 30
    assert read_versioned(spark, path, 2).count() == 20


def test_versioned_reads_run_no_job(spark, tmp_dir):
    """Opening a flat version and a two-delta chain is typed by the
    recorded schemas: no footer-inference job runs."""
    d = spark.createDataFrame(
        [(i, f"u{i % 3}") for i in range(30)], "id long, user string"
    )
    path = os.path.join(tmp_dir, "tbl")
    write_versioned(d, path)
    delete_where(spark, path, "id % 5 = 0", "id")
    delete_where(spark, path, F.col("user") == "u1", "id")
    frames = []
    assert _jobs(spark, lambda: frames.append(read_versioned(spark, path, 1))) == 0
    assert _jobs(spark, lambda: frames.append(read_versioned(spark, path))) == 0
    flat, chain = frames
    assert flat.schema == spark.read.parquet(_vdir(path, 1)).schema
    want = sorted(i for i in range(30) if i % 5 and i % 3 != 1)
    assert sorted(r["id"] for r in chain.collect()) == want


def test_versioned_parent_layout_raises(spark, tmp_dir):
    """A table written before versions were committed stores (a marker
    holding the bare version number, a table-level pointer and log) is
    refused with an error naming its path, never read."""
    path = os.path.join(tmp_dir, "old")
    spark.range(5).write.parquet(_vdir(path, 1))
    with open(os.path.join(_vdir(path, 1), "_COMMITTED"), "w") as f:
        f.write("1")
    for name in ("_LATEST", "_COMMITS"):
        with open(os.path.join(path, name), "w") as f:
            f.write("1\n")
    older = re.escape(f"versioned table at {path} is in an older layout")
    with pytest.raises(ValueError, match=older):
        read_versioned(spark, path)
    with pytest.raises(ValueError, match=older):
        delete_where(spark, path, "id = 1", "id")


# ------------------------------------------------- claims + crash leftovers


def test_versioned_crash_leftover_not_published(spark, tmp_dir):
    path = os.path.join(tmp_dir, "tbl2")
    write_versioned(spark.range(4), path)
    # simulate a crash AFTER the data write but BEFORE the marker: a v=2
    # directory exists, only v=1 is published
    spark.range(99).write.parquet(_vdir(path, 2))
    assert latest_version(path) == 1
    assert read_versioned(spark, path).count() == 4           # old state visible
    with pytest.raises(ValueError, match="not published"):
        read_versioned(spark, path, 2)                        # typo can't read it
    assert vacuum_versions(path, keep=1) == []                # never vacuumed
    # the next write supersedes the leftover and publishes cleanly
    v = write_versioned(spark.range(7), path)
    assert v == 3 and read_versioned(spark, path).count() == 7


def test_versioned_buried_torn_version_stays_unreadable(spark, tmp_dir):
    """A torn v=N (crash before commit) must stay unreadable even AFTER a
    later write publishes v=N+1 and buries it."""
    path = os.path.join(tmp_dir, "tbl")
    write_versioned(spark.range(4), path)  # v=1 published
    # crash between data write and marker: a complete-LOOKING v=2
    # directory (parquet + _SUCCESS) that was never published
    spark.range(99).write.parquet(_vdir(path, 2))
    # later writer claims v=3 and publishes it — v=2 is now buried
    v = write_versioned(spark.range(7), path)
    assert v == 3
    assert published_versions(path) == [1, 3]
    assert read_versioned(spark, path).count() == 7
    with pytest.raises(ValueError, match="not published"):
        read_versioned(spark, path, 2)
    # vacuum never touches a FRESH buried leftover (it may be a slow
    # in-flight writer still writing a lower number)...
    assert 2 not in vacuum_versions(path, keep=2)
    assert os.path.isdir(_vdir(path, 2))
    # ...but removes it once it has aged past the grace period
    deleted = vacuum_versions(path, keep=2, unpublished_grace_seconds=0.0)
    assert 2 in deleted
    assert not os.path.isdir(_vdir(path, 2))
    assert read_versioned(spark, path, 1).count() == 4  # survivors intact
    assert read_versioned(spark, path, 3).count() == 7


def test_versioned_exclusive_claim_skips_taken_numbers(spark, tmp_dir):
    """The version number is claimed with an exclusive mkdir: a directory
    already on disk (a concurrent writer's claim) is never reused."""
    path = os.path.join(tmp_dir, "tbl")
    write_versioned(spark.range(2), path)             # v=1
    os.mkdir(_vdir(path, 2))                          # concurrent claim
    v = write_versioned(spark.range(3), path)
    assert v == 3                                     # claim not stolen
    assert published_versions(path) == [1, 3]


def test_versioned_protocol_over_memory_fs():
    """The claim, the marker and vacuum run over MemoryFS. The parquet
    payload is a data-plane write and stays on the local disk — the seam
    owns only the control files, so the protocol functions take fs=
    while Spark writes to the real path."""
    fs = MemoryFS()
    path = "/tbl"
    # two published versions + one torn claim via the seam
    for _ in range(2):
        vdir = _vdir(path, _claim_version(path, fs=fs))
        fs.write_text(f"{vdir}/part-0.parquet", "x")
        publish(TABLE_VERSION, vdir, {SCHEMAS: {}}, fs=fs)
    torn = _claim_version(path, fs=fs)  # no marker
    fs.write_text(f"{_vdir(path, torn)}/part-0.parquet", "x")

    assert list_versions(path, fs=fs) == [1, 2, 3]
    assert published_versions(path, fs=fs) == [1, 2]
    assert latest_version(path, fs=fs) == 2

    # vacuum: keep=1 deletes v=1 (published, old); v=3 is NEWER than the
    # latest version so it is never touched regardless of age
    assert vacuum_versions(path, keep=1, fs=fs) == [1]
    assert not fs.isdir(f"{path}/v=1")
    assert fs.isdir(f"{path}/v=3")
    assert published_versions(path, fs=fs) == [2]


# ----------------------------------------------------------------- vacuum --


def test_versioned_vacuum_spares_inflight_claim(spark, tmp_dir):
    """A buried unpublished claim inside the grace window is an in-flight
    writer, not garbage — vacuum must not rmtree under it; after it ages
    out, it goes."""
    path = os.path.join(tmp_dir, "tbl")
    write_versioned(spark.range(2), path)  # v=1 published
    os.mkdir(_vdir(path, 2))  # slow writer's claim, mid-write
    write_versioned(spark.range(4), path)  # fast writer publishes v=3
    assert vacuum_versions(path, keep=10) == []  # claim spared
    assert os.path.isdir(_vdir(path, 2))
    # age the claim past the grace window
    old = 1.0
    os.utime(_vdir(path, 2), (old, old))
    assert vacuum_versions(path, keep=10) == [2]


def test_vacuum_sees_committer_v1_staging_activity(spark, tmp_dir):
    """With FileOutputCommitter v1 an in-flight writer's task files land
    under v=N/_temporary/... and never touch v=N's own mtime — staleness
    must be judged from the newest mtime anywhere under the tree, or
    vacuum rmtree's a live write."""
    path = os.path.join(tmp_dir, "tbl")
    write_versioned(spark.range(2), path)  # v=1 published
    claim = _vdir(path, 2)
    os.mkdir(claim)  # slow writer's claim
    write_versioned(spark.range(4), path)  # fast writer publishes v=3
    # simulate committer-v1 staging: nested task file is FRESH, but the
    # claimed top dir itself is old
    staging = os.path.join(claim, "_temporary", "0", "task_0")
    os.makedirs(staging)
    with open(os.path.join(staging, "part-0.parquet"), "w") as f:
        f.write("x")
    old = 1.0
    os.utime(claim, (old, old))
    # grace=60s: top-dir mtime alone says "ancient", tree mtime says live
    assert vacuum_versions(path, keep=10, unpublished_grace_seconds=60.0) == []
    assert os.path.isdir(claim)
    # age the WHOLE tree out -> now it is garbage
    for dirpath, _dirs, files in os.walk(claim):
        os.utime(dirpath, (old, old))
        for name in files:
            os.utime(os.path.join(dirpath, name), (old, old))
    assert vacuum_versions(path, keep=10, unpublished_grace_seconds=60.0) == [2]


# -------------------------------------------------- merge-on-read delete ---


def test_versioned_delete_chain_compact_vacuum(spark, tmp_dir):
    """delete_where writes a delete VECTOR (O(matched keys), no table
    rewrite); read resolves chained deltas; time travel still sees the
    pre-delete state; compact_version materializes; vacuum is
    chain-aware (never removes a retained delta's base) and completes
    the physical purge after compaction; a torn delta stays invisible."""
    d = spark.createDataFrame(
        [(i, f"u{i % 7}", float(i)) for i in range(100)],
        "id long, user string, v double",
    )
    path = os.path.join(tmp_dir, "vt")
    assert write_versioned(d, path) == 1

    v2 = delete_where(spark, path, "id % 10 = 3", "id")
    assert v2 == 2
    # the delta holds ONLY the vector — no data rewrite — and its marker
    # names the base and the keys
    with open(os.path.join(_vdir(path, 2), TABLE_VERSION.marker)) as f:
        assert '"base": 1, "keys": ["id"]' in f.read()
    assert spark.read.parquet(
        os.path.join(_vdir(path, 2), _DELETES_DIR)
    ).count() == 10
    assert read_versioned(spark, path).count() == 90
    assert read_versioned(spark, path, 1).count() == 100  # time travel

    v3 = delete_where(spark, path, F.col("user") == "u2", "id")
    assert v3 == 3
    got = sorted(r["id"] for r in read_versioned(spark, path).collect())
    want = sorted(
        i for i in range(100) if i % 10 != 3 and i % 7 != 2
    )
    assert got == want

    # chain-aware vacuum: keep=1 retains v3, whose chain is {2, 1} —
    # nothing may be removed
    assert vacuum_versions(path, keep=1, unpublished_grace_seconds=0) == []
    assert read_versioned(spark, path, 1).count() == 100

    # compaction flattens; vacuum then purges the pre-delete history
    v4 = compact_version(spark, path)
    assert v4 == 4
    assert sorted(r["id"] for r in read_versioned(spark, path).collect()) == want
    assert compact_version(spark, path) == 4  # flat: no-op
    gone = vacuum_versions(path, keep=1, unpublished_grace_seconds=0)
    assert gone == [1, 2, 3]
    assert list_versions(path) == [4]
    # physical purge complete: the deleted ids exist nowhere on disk
    left = spark.read.parquet(_vdir(path, 4))
    assert left.where("id % 10 = 3 OR user = 'u2'").count() == 0

    # torn delta: claim + vector, no commit marker -> invisible
    os.makedirs(_vdir(path, 5))
    spark.createDataFrame([(1,)], "id long").write.parquet(
        os.path.join(_vdir(path, 5), _DELETES_DIR)
    )
    assert read_versioned(spark, path).count() == len(want)
    with pytest.raises(ValueError, match="not published"):
        read_versioned(spark, path, 5)
