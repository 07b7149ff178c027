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
    CORPUS_SKETCH,
    GRAM_STATE,
    SEMDEDUP_REF,
    SIDECAR,
    SQ_IVF,
    SUBSTRING_INDEX,
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
    from gluestick_spark.streaming.pipeline import _write_batch, compact_sketch_log

    d = spark.createDataFrame(
        [(i, f"g{i % 97}") for i in range(600)], "doc_id long, g string"
    )
    log_dir = os.path.join(tmp_dir, "sketch_log.parquet")
    for b in range(3):
        sketch = kmv_sketch(d.where(F.col("doc_id") % 3 == b), "g", 64)
        _write_batch(sketch, log_dir, "__batch__", b)

    def merged():
        log = spark.read.parquet(log_dir).drop("__batch__")
        return list(kmv_merge(log, 64).first()["kmv"])

    want = merged()
    _no_exchange_crashed_swap(monkeypatch, log_dir)
    compact_sketch_log(spark, log_dir, "kmv", 64)
    assert merged() == want
    assert not os.path.exists(log_dir + ".__old__")
    assert not os.path.exists(log_dir + ".__compacting__")


def test_compact_stream_state_heals_crashed_swap(spark, tmp_dir, monkeypatch):
    from gluestick_spark.streaming.pipeline import _write_batch, compact_stream_state

    seg_path = os.path.join(tmp_dir, "fp_segments.parquet")
    rows = [(b, s, (b * 31 + s) % 7) for b in range(4) for s in range(5)]
    for batch in range(3):
        segs = spark.createDataFrame(rows, "band int, seg long, __h__ long")
        _write_batch(segs, seg_path, "__batch__", batch)
    _no_exchange_crashed_swap(monkeypatch, seg_path)
    assert set(compact_stream_state(spark, tmp_dir)) == {"fp_segments.parquet"}
    folded = spark.read.parquet(os.path.join(seg_path, "__batch__=-1"))
    assert sorted(map(tuple, folded.collect())) == sorted(rows)
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


# ------------------------------ recorded schemas ------------------------------
# Every store kind records the schema of each part it wrote, and every read
# of a committed store goes through ``read_store`` with that schema.

_SCHEMA_GEO = {"num_perm": 64, "bands": 16, "shingle_n": 3}


def test_append_geometry_check_ignores_recorded_schemas():
    fs = MemoryFS()
    entry = {"type": "struct", "fields": []}
    _committed(fs, BAND_INDEX, dict(_SCHEMA_GEO, schemas={"bands": entry}))
    begin_rebuild(BAND_INDEX, IDX, _SCHEMA_GEO, fs=fs)
    assert not fs.exists(IDX + "/_INDEX_COMMIT")


def _docs(spark, lo, hi):
    """Docs in five families of near-duplicates: one doc differs from
    another of its family in its last word only."""
    return spark.createDataFrame(
        [
            (i, " ".join([f"w{i % 5 * 40 + j}" for j in range(30)] + [f"x{i}"]))
            for i in range(lo, hi)
        ],
        "doc_id long, text string",
    )


def _build(spark, kind: str, path: str) -> None:
    from gluestick_spark.llm.cluster import materialize_semdedup_ref, materialize_sq_ivf
    from gluestick_spark.llm.dedup import materialize_band_index
    from gluestick_spark.llm.pq import materialize_pq_ivf
    from gluestick_spark.llm.spans import materialize_substring_index
    from gluestick_spark.streaming.pipeline import (
        materialize_corpus_sketch,
        materialize_gram_state,
    )

    emb, docs = _emb(spark), _docs(spark, 0, 12)
    if kind == "sq":
        materialize_sq_ivf(emb, "embedding", "vec_id", path, n_clusters=4)
    elif kind in ("pq", "pq_vectors"):
        materialize_pq_ivf(
            emb, "embedding", "vec_id", path, m=4, n_codes=8, n_clusters=4,
            store_vectors=kind == "pq_vectors",
        )
    elif kind == "semdedup":
        materialize_semdedup_ref(emb, "embedding", "vec_id", path, k=4, iters=1)
    elif kind == "band":
        materialize_band_index(docs, "text", "doc_id", path)
    elif kind == "substring":
        materialize_substring_index(docs, "doc_id", "text", path, k=8)
    elif kind == "gram":
        materialize_gram_state(docs, path, "text", n=3, bloom_m_bits=1 << 12)
    else:
        materialize_corpus_sketch(docs, path, "text", n=3, k=64)


_STORE_KINDS = {
    # kind: (Store, parts)
    "sq": (SQ_IVF, ["cells"]),
    "pq": (SQ_IVF, ["cells"]),  # PQ_IVF shares the _ROUTER.json marker
    "pq_vectors": (SQ_IVF, ["cells"]),
    "semdedup": (SEMDEDUP_REF, ["cells"]),
    "band": (BAND_INDEX, ["bands", "shingles"]),
    "substring": (SUBSTRING_INDEX, ["windows", "docs"]),
    "gram": (GRAM_STATE, ["ref_grams", "bloom_words.parquet"]),
    "sketch": (CORPUS_SKETCH, ["sketch.parquet"]),
}


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """One committed store of every kind, built once per module."""
    root = tmp_path_factory.mktemp("stores")
    out = {}
    for kind in _STORE_KINDS:
        path = str(root / kind)
        _build(spark, kind, path)
        out[kind] = path
    return out


def _copy(src: str, dst: str, drop_schemas: bool = False) -> str:
    import shutil

    shutil.copytree(src, dst)
    if drop_schemas:
        for name in os.listdir(dst):
            if name.startswith("_") and os.path.isfile(os.path.join(dst, name)):
                with open(os.path.join(dst, name)) as f:
                    meta = json.load(f)
                if isinstance(meta, dict) and meta.pop("schemas", None):
                    with open(os.path.join(dst, name), "w") as f:
                        json.dump(meta, f)
    return dst


@pytest.mark.parametrize("kind", sorted(_STORE_KINDS))
def test_recorded_schema_reads_like_inference(spark, stores, kind):
    """The typed read of each part returns the schema an inferring read
    of the same directory returns, column order and nullability
    included; the recorded entry is the only marker change."""
    from gluestick_spark.llm.index_commit import read_store, recorded_schema

    store, parts = _STORE_KINDS[kind]
    meta = load_meta(store, stores[kind])
    assert sorted(meta["schemas"]) == sorted(parts)
    for part in parts:
        root = os.path.join(stores[kind], part)
        typed = read_store(spark, root, recorded_schema(meta, part))
        assert typed.schema == spark.read.parquet(root).schema, part


def test_tombstones_read_like_inference(spark, stores, tmp_dir):
    """Tombstones read with the id field of the recorded cells schema,
    which is what inference returns; a pre-schema index with tombstones
    serves the same rows."""
    from gluestick_spark.llm.index_delete import sq_ivf_delete
    from gluestick_spark.llm.ivf_cells import TOMBSTONES, tombstones

    path = _copy(stores["sq"], os.path.join(tmp_dir, "sq"))
    doomed = _emb(spark).where("vec_id % 7 = 3").select(F.col("vec_id").cast("int"))
    sq_ivf_delete(spark, path, doomed)
    t = tombstones(spark, path, "vec_id")
    assert t.schema == spark.read.parquet(os.path.join(path, TOMBSTONES)).schema
    assert t.count() == doomed.count()
    legacy = _copy(path, os.path.join(tmp_dir, "legacy"), drop_schemas=True)
    assert _serve(spark, "sq", legacy) == _serve(spark, "sq", path)


def _serve(spark, kind: str, path: str) -> list:
    """What each store kind serves, as sorted rows."""
    from gluestick_spark.llm.cluster import (
        _semdedup_judge,
        sq_ivf_topk_indexed,
        sq_ivf_topk_indexed_batch,
    )
    from gluestick_spark.llm.dedup import cross_corpus_near_dup_pairs_indexed
    from gluestick_spark.llm.pq import pq_ivf_topk_indexed, pq_ivf_topk_indexed_batch
    from gluestick_spark.llm.spans import substring_spans_against

    q = [0.5] * 8
    queries = _emb(spark, n=4).withColumnRenamed("vec_id", "qid")
    if kind == "sq":
        frames = [
            sq_ivf_topk_indexed(spark, path, q, k=20, nprobe=4),
            sq_ivf_topk_indexed_batch(spark, path, queries, "embedding", "qid", k=5, nprobe=4),
        ]
    elif kind in ("pq", "pq_vectors"):
        rerank = 10 if kind == "pq_vectors" else None
        frames = [
            pq_ivf_topk_indexed(spark, path, q, k=5, nprobe=4, rerank=rerank),
            pq_ivf_topk_indexed_batch(
                spark, path, queries, "embedding", "qid", k=5, nprobe=4, rerank=rerank
            ),
        ]
    elif kind == "semdedup":
        frames = [_semdedup_judge(path, "embedding", "vec_id", 0.9)(_emb(spark, n=40))]
    elif kind == "band":
        frames = [
            cross_corpus_near_dup_pairs_indexed(
                spark, _docs(spark, 10, 20), path, "text", "doc_id", 0.5
            )
        ]
    elif kind == "substring":
        frames = [substring_spans_against(spark, _docs(spark, 10, 20), path)]
    else:
        return [_serve_stream(spark, kind, path)]
    return [sorted(map(tuple, f.collect())) for f in frames]


def _serve_stream(spark, kind: str, path: str) -> list:
    import tempfile

    from gluestick_spark.streaming.pipeline import (
        stream_from_directory,
        streaming_corpus_drift,
        streaming_novelty,
    )

    d = _docs(spark, 6, 20)
    with tempfile.TemporaryDirectory() as tmp:
        stage, out, ckpt, state = (os.path.join(tmp, x) for x in ("s", "o", "c", "st"))
        d.coalesce(1).write.parquet(stage)
        stream = stream_from_directory(spark, stage, d.schema)
        if kind == "gram":
            q = streaming_novelty(stream, path, "doc_id", "text", out, ckpt)
        else:
            q = streaming_corpus_drift(stream, path, "text", out, ckpt, state)
        q.awaitTermination()
        return sorted(map(tuple, spark.read.parquet(out).collect()))


@pytest.mark.parametrize("kind", sorted(_STORE_KINDS))
def test_pre_schema_store_serves_identical_rows(spark, stores, tmp_dir, kind):
    """A store committed before schemas were recorded (its marker has no
    ``schemas`` entry) is read by inference and serves the same rows."""
    legacy = _copy(stores[kind], os.path.join(tmp_dir, kind), drop_schemas=True)
    store, _ = _STORE_KINDS[kind]
    assert "schemas" not in load_meta(store, legacy)
    assert _serve(spark, kind, legacy) == _serve(spark, kind, stores[kind])


@pytest.mark.parametrize("kind", ["sq", "pq", "band", "substring"])
def test_append_with_drifted_id_type_raises(spark, stores, tmp_dir, kind):
    """An append whose id column has another type than the recorded one
    raises before writing, and the store keeps serving its old rows.
    (SemDeDup reference cells hold no id column.)"""
    from gluestick_spark.llm.cluster import sq_ivf_append
    from gluestick_spark.llm.dedup import materialize_band_index
    from gluestick_spark.llm.pq import pq_ivf_append
    from gluestick_spark.llm.spans import materialize_substring_index

    path = _copy(stores[kind], os.path.join(tmp_dir, kind))
    want = _serve(spark, kind, path)
    emb = _emb(spark, n=20).withColumn("vec_id", F.col("vec_id").cast("int") + 500)
    docs = _docs(spark, 30, 34).withColumn("doc_id", F.col("doc_id").cast("int"))
    append = {
        "sq": lambda: sq_ivf_append(emb, "embedding", "vec_id", path),
        "pq": lambda: pq_ivf_append(emb, "embedding", "vec_id", path),
        "band": lambda: materialize_band_index(docs, "text", "doc_id", path, mode="append"),
        "substring": lambda: materialize_substring_index(
            docs, "doc_id", "text", path, k=8, mode="append"
        ),
    }[kind]
    with pytest.raises(ValueError, match="does not match the recorded"):
        append()
    assert _serve(spark, kind, path) == want


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


# Jobs of a batch top-k on the _serve queries before the read was typed.
BATCH_TOPK_JOBS_BEFORE = {"sq": 8, "pq": 13}


def test_indexed_topk_reads_run_no_inference_job(spark, stores):
    """A single indexed top-k query runs one job (its result), not one
    more to infer the cells schema; a batch top-k runs one job fewer
    than before the read was typed."""
    from gluestick_spark.llm.cluster import sq_ivf_topk_indexed, sq_ivf_topk_indexed_batch
    from gluestick_spark.llm.pq import pq_ivf_topk_indexed, pq_ivf_topk_indexed_batch

    q = [0.5] * 8
    single = {
        "sq": lambda: sq_ivf_topk_indexed(spark, stores["sq"], q, k=5, nprobe=2).collect(),
        "pq": lambda: pq_ivf_topk_indexed(spark, stores["pq"], q, k=5, nprobe=2).collect(),
        "pq_rerank": lambda: pq_ivf_topk_indexed(
            spark, stores["pq_vectors"], q, k=5, nprobe=2, rerank=10
        ).collect(),
    }
    assert {name: _jobs(spark, fn) for name, fn in single.items()} == dict.fromkeys(single, 1)
    queries = _emb(spark, n=4).withColumnRenamed("vec_id", "qid")
    batch = {
        "sq": lambda: sq_ivf_topk_indexed_batch(
            spark, stores["sq"], queries, "embedding", "qid", k=5, nprobe=2
        ).collect(),
        "pq": lambda: pq_ivf_topk_indexed_batch(
            spark, stores["pq"], queries, "embedding", "qid", k=5, nprobe=2
        ).collect(),
    }
    got = {name: _jobs(spark, fn) for name, fn in batch.items()}
    assert got == {k: v - 1 for k, v in BATCH_TOPK_JOBS_BEFORE.items()}, got


# Jobs of a single SQ top-k on a tombstoned index while the tombstones
# were read through a distinct.
TOMBSTONED_TOPK_JOBS_BEFORE = 3


def test_tombstoned_topk_anti_joins_ids_without_distinct(spark, stores, tmp_dir):
    """A single SQ top-k on a tombstoned index, with ids tombstoned
    twice, drops them by one left-anti join, which needs no distinct: it
    serves the top rows of the untouched index minus the tombstoned ids,
    with fewer jobs than while the ids were read through a distinct."""
    from gluestick_spark.llm.cluster import sq_ivf_topk_indexed
    from gluestick_spark.llm.index_delete import sq_ivf_delete

    path = _copy(stores["sq"], os.path.join(tmp_dir, "sq"))
    doomed = _emb(spark).where("vec_id % 7 = 3").select(F.col("vec_id").cast("int"))
    sq_ivf_delete(spark, path, doomed)
    sq_ivf_delete(spark, path, doomed.where("vec_id < 40"))
    q = [0.5] * 8
    gone = {r["vec_id"] for r in doomed.collect()}
    full = sq_ivf_topk_indexed(spark, stores["sq"], q, k=120, nprobe=2).collect()
    want = [tuple(r) for r in full if r["vec_id"] not in gone][:5]
    got = []
    jobs = _jobs(
        spark,
        lambda: got.extend(
            tuple(r) for r in sq_ivf_topk_indexed(spark, path, q, k=5, nprobe=2).collect()
        ),
    )
    assert got == want
    assert jobs < TOMBSTONED_TOPK_JOBS_BEFORE, jobs


# The reads of library stores that keep inference, by (module, function):
# user input and its catalog coercion, snapshots (their format is to
# change), the marker-less plain-IVF and materialize_sq families, the
# public audit of a caller-named cells directory, and the public readers
# of stream output and sketch logs.
_INFERRING_READS = {
    ("llm/index_commit.py", "read_store"),
    ("sources/reader.py", "get_parquet"),
    ("sources/reader.py", "get"),
    ("sources/reader.py", "read_parquet_folder"),
    ("sources/reader.py", "read_snapshots"),
    ("llm/similarity.py", "sq_topk_indexed"),
    ("llm/rebalance.py", "ivf_rebalance"),
    ("llm/rebalance.py", "cell_sizes"),
    ("streaming/pipeline.py", "_fold_batches"),
    ("streaming/pipeline.py", "compact_sketch_log"),
    ("streaming/pipeline.py", "read_streaming_dedup_output"),
    ("streaming/pipeline.py", "bin_counts_from_state"),
}


def _method_calls(path, methods):
    """(outermost function, receiver source) of each call of a method
    named in ``methods``."""
    import ast

    tree = ast.parse(path.read_text())
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if fn is None and isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in methods
            ):
                out.append((name, ast.unparse(child.func.value)))
            visit(child, name)

    visit(tree, None)
    return out


def _parquet_reads(path):
    """(outermost function, passes a schema) of each ``read.parquet(``."""
    return [
        (fn, ".schema(" in receiver)
        for fn, receiver in _method_calls(path, {"parquet"})
        if ".read" in receiver
    ]


def test_one_store_read():
    """No module merges parquet schemas, and every parquet read that
    passes no schema is the one store read or a named inferring read."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "gluestick_spark"
    merges, untyped = [], set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if "mergeSchema" in path.read_text():
            merges.append(rel)
        for fn, typed in _parquet_reads(path):
            if not typed:
                untyped.add((rel, fn))
    assert merges == []
    assert untyped - _INFERRING_READS == set()


# The one driver-side state file written outside the commit protocol, by
# (module, function): the SemDeDup append ledger, a count file per batch
# written inside the append bracket.
_STATE_WRITES = {("llm/cluster.py", "append_semdedup_ref")}


def test_one_state_writer():
    """Only ``llm/index_commit.py`` and ``fsio.py`` write driver-side
    state files (``write_text`` / ``write_text_atomic``); every other
    module commits through them, apart from the named exception."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "gluestick_spark"
    writes = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel in ("llm/index_commit.py", "fsio.py"):
            continue
        methods = {"write_text", "write_text_atomic"}
        writes.update((rel, fn) for fn, _ in _method_calls(path, methods))
    assert writes - _STATE_WRITES == set()
