"""The persisted-store commit protocol (``llm/index_commit.py``) and the
directory swap (``fsio.swap_dir``).

The first half runs on :class:`~gluestick_spark.fsio.MemoryFS` without
Spark, so the protocol's call sequence is pinned in the default run.
The second half drives the stores through Spark for the crash windows
that used to differ from store to store."""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from gluestick_spark import fsio
from gluestick_spark.fsio import LOCAL_FS, MemoryFS, heal_swap, swap_dir
from gluestick_spark.llm.index_commit import (
    BAND_INDEX,
    GRAM_STATE,
    SIDECAR,
    SQ_IVF,
    begin_append,
    begin_rebuild,
    load_meta,
    publish,
)

IDX = "/idx"


def _committed(fs, store=SQ_IVF, meta=None):
    meta = meta or {"scale": 1000, "state": [[[1, 2], 3]], "id_col": "vec_id"}
    begin_rebuild(store, IDX, fs=fs)
    publish(store, IDX, meta, fs=fs)
    return meta


# ----------------------------- MemoryFS, no Spark -----------------------------


def test_begin_publish_load_round_trip():
    fs = MemoryFS()
    begin_rebuild(SQ_IVF, IDX, fs=fs)
    with pytest.raises(ValueError, match="uncommitted.*torn or absent"):
        load_meta(SQ_IVF, IDX, fs=fs)
    meta = {"scale": 1000, "state": [[[1, 2], 3]], "id_col": "vec_id"}
    publish(SQ_IVF, IDX, meta, fs=fs)
    # the marker keeps its name and holds the meta JSON verbatim
    assert json.loads(fs.read_text(IDX + "/_ROUTER.json")) == meta
    assert load_meta(SQ_IVF, IDX, fs=fs) == meta
    # a rebuild drops the marker before any part is written
    begin_rebuild(SQ_IVF, IDX, fs=fs)
    assert not fs.exists(IDX + "/_ROUTER.json")
    with pytest.raises(ValueError, match="uncommitted.*torn or absent"):
        load_meta(SQ_IVF, IDX, fs=fs)


def test_append_geometry_checked_against_committed_meta():
    fs = MemoryFS()
    geo = {"num_perm": 64, "bands": 16, "shingle_n": 3}
    _committed(fs, BAND_INDEX, geo)
    with pytest.raises(ValueError, match="geometry mismatch"):
        begin_rebuild(BAND_INDEX, IDX, dict(geo, num_perm=32), fs=fs)
    # a refused append leaves the committed store serving
    assert load_meta(BAND_INDEX, IDX, fs=fs) == geo
    begin_rebuild(BAND_INDEX, IDX, geo, fs=fs)
    assert not fs.exists(IDX + "/_INDEX_COMMIT")


def test_append_to_torn_store_refuses():
    fs = MemoryFS()
    fs.makedirs(IDX)
    geo = {"n": 3, "buckets": None, "bloom_m_bits": 64, "bloom_k": 3}
    with pytest.raises(ValueError, match="uncommitted.*torn or absent"):
        begin_rebuild(GRAM_STATE, IDX, geo, fs=fs)


def test_parent_layout_band_index_still_loads():
    """Indexes written before the fold also carry ``_META.json``; the
    ``_INDEX_COMMIT`` marker has held the same JSON all along."""
    fs = MemoryFS()
    fs.makedirs(IDX)
    geo = {"num_perm": 64, "bands": 16, "shingle_n": 3}
    fs.write_text(IDX + "/_META.json", json.dumps(geo))
    fs.write_text(IDX + "/_INDEX_COMMIT", json.dumps(geo))
    assert load_meta(BAND_INDEX, IDX, fs=fs) == geo
    begin_rebuild(BAND_INDEX, IDX, geo, fs=fs)  # append accepts it too


def test_rebuild_rolls_back_torn_append():
    fs = MemoryFS()
    _committed(fs)
    fs.makedirs(IDX + "/cells/cid=0")
    fs.write_text(IDX + "/cells/cid=0/part-0.parquet", "old")
    begin_append(IDX, fs=fs)
    fs.makedirs(IDX + "/cells/cid=1")
    fs.write_text(IDX + "/cells/cid=1/part-torn.parquet", "torn")
    with pytest.raises(ValueError, match="in-progress or torn"):
        load_meta(SQ_IVF, IDX, fs=fs, serving=True)
    begin_rebuild(SQ_IVF, IDX, fs=fs)
    assert not fs.exists(IDX + "/" + SIDECAR)
    assert not fs.exists(IDX + "/cells/cid=1")
    assert fs.isfile(IDX + "/cells/cid=0/part-0.parquet")


def _tree(fs, root, name):
    fs.makedirs(root)
    fs.write_text(f"{root}/{name}", name)


def test_swap_dir_fallback_on_memory_fs():
    fs = MemoryFS()
    _tree(fs, "/d/live", "old.parquet")
    _tree(fs, "/d/live.__compacting__", "new.parquet")
    swap_dir("/d/live.__compacting__", "/d/live", fs=fs)
    assert fs.listdir("/d/live") == ["new.parquet"]
    assert fs.listdir("/d") == ["live"]


def test_swap_dir_heals_a_crash_between_renames():
    fs = MemoryFS()
    # the fallback crashed after moving the live tree aside
    _tree(fs, "/d/live.__old__", "old.parquet")
    heal_swap("/d/live", fs=fs)
    assert fs.listdir("/d") == ["live"]
    assert fs.listdir("/d/live") == ["old.parquet"]
    # the fallback crashed after publishing: the parked tree is garbage
    _tree(fs, "/d/live.__old__", "stale.parquet")
    heal_swap("/d/live", fs=fs)
    assert fs.listdir("/d") == ["live"]
    # swap_dir heals on entry, with a caller-chosen hidden parking name
    fs.rename("/d/live", "/d/_live.__old__")
    _tree(fs, "/d/stage", "new.parquet")
    swap_dir("/d/stage", "/d/live", "/d/_live.__old__", fs=fs)
    assert fs.listdir("/d") == ["live"]
    assert fs.listdir("/d/live") == ["new.parquet"]


def test_swap_dir_local_fallback(tmp_dir, monkeypatch):
    monkeypatch.setattr(fsio, "_exchange_dirs", lambda a, b: False)
    live, new = os.path.join(tmp_dir, "live"), os.path.join(tmp_dir, "new")
    for d, f in ((live, "a"), (new, "b")):
        os.makedirs(d)
        open(os.path.join(d, f), "w").close()
    swap_dir(new, live, fs=LOCAL_FS)
    assert os.listdir(live) == ["b"]
    assert sorted(os.listdir(tmp_dir)) == ["live"]


# ------------------------------ Spark-backed stores ---------------------------


def _emb(spark, n=120, dim=8):
    rows = [
        (i, [math.sin(0.31 * i + j) + 0.01 * ((i * (j + 2)) % 5) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _no_exchange_crashed_swap(monkeypatch, path):
    """Force the rename fallback and leave ``path`` as a crash between
    its first two renames leaves it: parked at ``.__old__`` only."""
    monkeypatch.setattr(fsio, "_exchange_dirs", lambda a, b: False)
    os.rename(path, path + ".__old__")


def test_compact_sketch_log_heals_crashed_swap(spark, tmp_dir, monkeypatch):
    from gluestick_spark.llm.sketch import kmv_merge, kmv_sketch
    from gluestick_spark.streaming.pipeline import compact_sketch_log, read_sketch_log

    d = spark.createDataFrame(
        [(i, f"g{i % 97}") for i in range(600)], "doc_id long, g string"
    )
    log_dir = os.path.join(tmp_dir, "sketch_log.parquet")
    for b in range(3):
        kmv_sketch(d.where(F.col("doc_id") % 3 == b), "g", 64).withColumn(
            "__batch__", F.lit(b).cast("long")
        ).write.mode("append").parquet(log_dir)

    def merged():
        log = read_sketch_log(spark, log_dir).distinct().drop("__batch__")
        return list(kmv_merge(log, 64).first()["kmv"])

    want = merged()
    _no_exchange_crashed_swap(monkeypatch, log_dir)
    compact_sketch_log(spark, log_dir, "kmv", 64)
    assert merged() == want
    assert not os.path.exists(log_dir + ".__old__")
    assert not os.path.exists(log_dir + ".__compacting__")


def test_compact_fingerprint_state_heals_crashed_swap(spark, tmp_dir, monkeypatch):
    from gluestick_spark.streaming.pipeline import compact_fingerprint_state

    seg_path = os.path.join(tmp_dir, "fp_segments.parquet")
    rows = [(b, s, (b * 31 + s) % 7) for b in range(4) for s in range(5)]
    for batch in range(2):
        spark.createDataFrame(
            [r + (batch,) for r in rows],
            "band int, seg long, __h__ long, __batch__ long",
        ).write.mode("append").parquet(seg_path)
    _no_exchange_crashed_swap(monkeypatch, seg_path)
    assert compact_fingerprint_state(spark, tmp_dir) == len(rows)
    got = {
        (r["band"], r["seg"], r["__h__"])
        for r in spark.read.parquet(seg_path).collect()
    }
    assert got == set(rows)
    assert not os.path.exists(seg_path + ".__old__")


def test_semdedup_rebuild_over_torn_append_then_append(spark, tmp_dir):
    """A rebuild clears a torn append's sidecar. Left in place, it makes
    serving refuse the rebuilt reference, and the next append's rollback
    deletes every rebuilt cell file (the manifest names only the files
    of the build before)."""
    from gluestick_spark.llm.index_commit import _list_cell_files
    from gluestick_spark.llm.cluster import (
        append_semdedup_ref,
        materialize_semdedup_ref,
    )

    emb = _emb(spark)
    ref1, ref2 = emb.where("vec_id % 2 = 0"), emb.where("vec_id % 2 = 1")
    path = os.path.join(tmp_dir, "ref")
    materialize_semdedup_ref(ref1, "embedding", "vec_id", path, k=2, iters=1)
    pre_files = _list_cell_files(os.path.join(path, "cells"))
    append_semdedup_ref(ref2, "embedding", "vec_id", path)
    # tear the append: the sidecar manifests the pre-append listing
    with open(os.path.join(path, SIDECAR), "w") as f:
        json.dump({"files": pre_files, "cells": "cells"}, f)

    materialize_semdedup_ref(ref1, "embedding", "vec_id", path, k=2, iters=1)
    assert not os.path.isfile(os.path.join(path, SIDECAR))
    append_semdedup_ref(ref2, "embedding", "vec_id", path)
    cells = spark.read.parquet(os.path.join(path, "cells"))
    assert cells.count() == emb.count()


@pytest.mark.parametrize("kind", ["band", "substring"])
def test_append_to_torn_text_index_refuses(spark, tmp_dir, kind):
    """An append needs a committed index: a rebuild torn after dropping
    ``_INDEX_COMMIT`` must not take a batch from another corpus."""
    from gluestick_spark.llm.dedup import materialize_band_index
    from gluestick_spark.llm.spans import materialize_substring_index

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 40}" for j in range(30))) for i in range(12)],
        "doc_id long, text string",
    )
    path = os.path.join(tmp_dir, kind)
    if kind == "band":
        build = lambda d, **kw: materialize_band_index(  # noqa: E731
            d, "text", "doc_id", path, **kw
        )
    else:
        build = lambda d, **kw: materialize_substring_index(  # noqa: E731
            d, "doc_id", "text", path, k=8, **kw
        )
    build(docs.where("doc_id < 6"))
    assert not os.path.exists(os.path.join(path, "_META.json"))
    os.remove(os.path.join(path, "_INDEX_COMMIT"))
    with pytest.raises(ValueError, match="torn or absent"):
        build(docs.where("doc_id >= 6"), mode="append")
