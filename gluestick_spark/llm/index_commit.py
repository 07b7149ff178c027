"""One commit protocol for every persisted store.

A committed store is a directory of Spark-written parts plus one meta
JSON, its **marker**, published last. The marker holds the store's
geometry (router state, codebooks, shingle or n-gram sizes, ...), so a
reader that finds it has everything it needs and a reader that does not
refuses. The protocol is three calls, all through the ``fs=`` seam:

- :func:`begin_rebuild` opens a build: it rolls back any open
  ``_APPEND_INPROGRESS`` sidecar (below), in append mode checks the
  caller's geometry against the committed meta, then drops the marker.
  From here until :func:`publish`, readers refuse the store.
- :func:`publish` writes the marker atomically (``write_text_atomic``)
  — the commit point.
- :func:`load_meta` is the one marker reader: it raises a single
  message ("uncommitted … torn or absent") when the marker is missing
  and returns the meta otherwise; ``serving=True`` also refuses a store
  with an open append (:func:`require_committed`).

The parts themselves are read by :func:`read_store` only (below).

Stores and their markers (:class:`Store`; names and JSON schemas are
stable on-disk contracts):

- sq-ivf / pq-ivf index (``materialize_sq_ivf`` / ``materialize_pq_ivf``):
  ``_ROUTER.json``
- band index (``materialize_band_index``) and substring index
  (``materialize_substring_index``): ``_INDEX_COMMIT``
- semdedup reference (``llm/cluster.py:materialize_semdedup_ref``):
  ``_SEMDEDUP_META.json``
- gram state (``materialize_gram_state``): ``_GRAM_META.json``
- reference sketch (``materialize_corpus_sketch``): ``_SKETCH_META.json``
- versioned table version (``operators/versioned.py:write_versioned``,
  ``delete_where``): ``v=N/_COMMITTED``, one per version; a delta's
  marker also names its ``base`` version and ``keys``
- parquet snapshot (``operators/snapshot.py:_write_snapshot``, under every
  ``snapshot_records`` / ``drop_redundant`` state and the snapshot-swap
  stream handlers): ``_SNAPSHOT.json``, published into the new snapshot
  directory before ``fsio.swap_dir`` publishes data and marker together.
  It records only the schema; a marker-less snapshot (written before
  markers, the reference's single-file ``.snapshot.parquet``, or a
  ``prepare_snapshot_write`` caller's write) is read by inference

Band and substring indexes written before this layout also carry a
``_META.json`` copy of the same JSON; it is ignored.

The marker also records, under ``schemas``, the schema of each part
directory the build wrote (``cells``, ``bands``, ``shingles``,
``windows``, ``docs``, ``ref_grams``, ``bloom_words.parquet``,
``sketch.parquet``, a version's or a snapshot's ``data``, a version's
``deletes.parquet``), as an
inferring read of that directory returns it (:func:`schema_entry`). The
entry is part of the marker's on-disk contract: :func:`read_store` is
the one read of a committed store and types the scan from it, so a read
runs no footer-inference job. An explicit schema reads a column the
files lack as NULL, so the guard sits on the write side: every append
compares its frame with the recorded entry before it writes
(:func:`check_append`). A store committed before schemas were recorded
has no entry and is read by inference, in :func:`read_store` only.

Appends to the routered families (``sq_ivf_append``, ``pq_ivf_append``,
``append_semdedup_ref``, deletes, rebalance sub-cells, the router-less
``ivf_append``) do not drop the marker. They are bracketed by an
``_APPEND_INPROGRESS`` sidecar (a batch manifest, ADVICE r10):

- :func:`begin_append` snapshots the current cell-file listing into the
  sidecar (atomic) BEFORE the append writes anything, rolling back any
  prior torn batch first.
- :func:`commit_append` removes the sidecar — the grown index is live.
- :func:`rollback_torn_append` deletes every cell file NOT named in the
  manifest (parquet appends only ever ADD uniquely-named part files, so
  "not in the manifest" exactly identifies the torn batch), prunes any
  partition directories the torn batch created, and removes the
  sidecar. Idempotent — safe to crash during rollback and re-run.
- :func:`require_committed` is the serving-side guard: an index with a
  sidecar present is mid-append or torn and must not be probed.

A retried append therefore self-heals — roll back, re-append — and the
worst-case loss is the one unacknowledged batch, never the index. A
rebuild rolls the sidecar back too (:func:`begin_rebuild`): a stale
manifest naming only pre-rebuild files would otherwise make the next
append's rollback delete every rebuilt cell file. The manifest is file
METADATA (relative paths only), O(part files) not O(rows).

Directory rewrites (compaction, vacuum) are the other primitive:
:func:`gluestick_spark.fsio.swap_dir`.

The default seam is the local filesystem; an object-store backend must
make ``write_text_atomic`` (the marker and sidecar publish) ATOMIC or
the crash-safety claims are void. See the fsio module docstring for the
per-backend contract.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, IntegralType, StructField, StructType

from ..fsio import LOCAL_FS, StateFS

SIDECAR = "_APPEND_INPROGRESS"
SCHEMAS = "schemas"


class Store(NamedTuple):
    """A committed store kind: how errors name it, its marker file, and
    the function that (re)creates it."""

    what: str
    marker: str
    build_fn: str


ROUTER = "_ROUTER.json"
SQ_IVF = Store("sq-ivf index", ROUTER, "materialize_sq_ivf")
PQ_IVF = Store("pq-ivf index", ROUTER, "materialize_pq_ivf")
BAND_INDEX = Store("band index", "_INDEX_COMMIT", "materialize_band_index")
SUBSTRING_INDEX = Store(
    "substring index", "_INDEX_COMMIT", "materialize_substring_index"
)
SEMDEDUP_REF = Store(
    "semdedup reference", "_SEMDEDUP_META.json", "materialize_semdedup_ref"
)
GRAM_STATE = Store("gram state", "_GRAM_META.json", "materialize_gram_state")
CORPUS_SKETCH = Store(
    "reference sketch", "_SKETCH_META.json", "materialize_corpus_sketch"
)
TABLE_VERSION = Store("versioned table version", "_COMMITTED", "write_versioned")
SNAPSHOT = Store("snapshot", "_SNAPSHOT.json", "snapshot_records")


def load_meta(
    store: Store, path: str, fs: StateFS = LOCAL_FS, serving: bool = False
) -> dict:
    """The committed meta of the store at ``path``; raises when the
    marker is missing (a crashed or running build). ``serving=True``
    also refuses an open append (:func:`require_committed`)."""
    marker = os.path.join(path, store.marker)
    if not fs.isfile(marker):
        raise ValueError(
            f"{store.what} at {path} is uncommitted: {store.marker} is torn "
            f"or absent (crashed or running build) — run {store.build_fn}"
        )
    if serving:
        require_committed(path, store.what, fs)
    return json.loads(fs.read_text(marker))


def begin_rebuild(
    store: Store,
    path: str,
    append_geometry: dict | None = None,
    fs: StateFS = LOCAL_FS,
) -> None:
    """Open a (re)build of the store at ``path``: roll back any torn
    append, check ``append_geometry`` against the committed meta when
    appending (the store must then be committed), and drop the marker so
    readers refuse until :func:`publish`. Only the geometry is compared;
    the recorded schemas are checked per part by :func:`check_append`."""
    fs.makedirs(path)
    rollback_torn_append(path, fs=fs)
    if append_geometry is not None:
        stored = load_meta(store, path, fs)
        stored.pop(SCHEMAS, None)
        if stored != append_geometry:
            raise ValueError(
                f"{store.what} geometry mismatch: stored {stored}, "
                f"got {append_geometry}"
            )
    marker = os.path.join(path, store.marker)
    if fs.isfile(marker):
        fs.remove(marker)


def publish(
    store: Store, path: str, meta: dict, fs: StateFS = LOCAL_FS
) -> None:
    """Commit the store: write its marker atomically. A build records,
    next to the geometry, each part directory it wrote and its
    :func:`schema_entry` under ``meta[SCHEMAS]``."""
    fs.write_text_atomic(os.path.join(path, store.marker), json.dumps(meta))


def schema_entry(df: DataFrame, partition: str | None = None) -> dict:
    """The recorded schema of a part directory written from ``df``:
    ``df.schema`` (no job) as an inferring read of the directory returns
    it — every field nullable, and the ``partition`` column last. Stores
    partition by cell id, whose directory values infer as int."""
    fields = [f for f in df.schema.fields if f.name != partition]
    if partition is not None:
        dtype = df.schema[partition].dataType
        if isinstance(dtype, IntegralType):
            dtype = IntegerType()
        fields.append(StructField(partition, dtype))
    text = StructType(fields).json()
    for key in ("nullable", "containsNull", "valueContainsNull"):
        text = text.replace(f'"{key}":false', f'"{key}":true')
    return json.loads(text)


def _recorded(meta: dict | None, part: str) -> dict | None:
    return (meta or {}).get(SCHEMAS, {}).get(part)


def recorded_schema(meta: dict | None, part: str) -> StructType | None:
    """The schema ``meta`` records for ``part``; None for a store
    committed before schemas were recorded (or no marker at all)."""
    entry = _recorded(meta, part)
    return None if entry is None else StructType.fromJson(entry)


def read_store(spark, root: str, schema: StructType | None) -> DataFrame:
    """The one read of a committed store's part directory ``root``,
    typed by its recorded ``schema`` (:func:`recorded_schema`): no
    footer-inference job. A store committed before schemas were recorded
    passes None and is read by inference — the only schema-less read of
    a committed store."""
    if schema is None:
        return spark.read.parquet(root)
    return spark.read.schema(schema).parquet(root)


def build_meta(
    store: Store,
    path: str,
    mode: str,
    geometry: dict,
    parts: dict[str, DataFrame],
    fs: StateFS = LOCAL_FS,
) -> dict:
    """The meta a build of a store with an append mode publishes. On
    ``mode="append"`` it is the committed meta, after each frame of
    ``parts`` (part name → frame about to be written) is checked
    against its recorded schema (:func:`check_append`); otherwise it is
    ``geometry`` with the schema entry of each part."""
    if mode != "append":
        return {**geometry, SCHEMAS: {p: schema_entry(f) for p, f in parts.items()}}
    meta = load_meta(store, path, fs)
    for part, frame in parts.items():
        check_append(store, path, meta, part, schema_entry(frame))
    return meta


def check_append(
    store: Store, path: str, meta: dict, part: str, entry: dict
) -> None:
    """Refuse, before anything is written, an append to ``part`` whose
    frame (:func:`schema_entry`) differs from the recorded schema in a
    field name or type: a typed read would turn the drift into silent
    NULLs or a failed scan. A store without a recorded schema is not
    checked."""
    recorded = _recorded(meta, part)
    if recorded is not None and recorded != entry:
        raise ValueError(
            f"{store.what} at {path}: the appended {part} schema "
            f"{StructType.fromJson(entry).simpleString()} does not match "
            f"the recorded {StructType.fromJson(recorded).simpleString()}"
        )


def _cells_root(path: str, cells: str) -> str:
    return os.path.join(path, cells)


def _list_cell_files(root: str, fs: StateFS = LOCAL_FS) -> list[str]:
    out: list[str] = []
    if not fs.isdir(root):
        return out
    for dirpath, _dirs, files in fs.walk(root):
        rel = os.path.relpath(dirpath, root)
        for fn in files:
            out.append(fn if rel == "." else os.path.join(rel, fn))
    return sorted(out)


def rollback_torn_append(path: str, fs: StateFS = LOCAL_FS) -> bool:
    """Undo a torn/unacknowledged append: delete cell files not in the
    manifest, prune partition dirs it created, drop the sidecar.
    Returns True iff a torn batch was rolled back.

    The sidecar is SELF-DESCRIBING: it records which root its manifest
    lists (``cells``), so a torn DELETE (manifest = tombstone files)
    healed by an append's rollback is compared against the tombstone
    files, never against the cell files."""
    side = os.path.join(path, SIDECAR)
    if not fs.isfile(side):
        return False
    manifest_doc = json.loads(fs.read_text(side))
    manifest = set(manifest_doc["files"])
    root = _cells_root(path, manifest_doc["cells"])
    for rel in _list_cell_files(root, fs):
        # the sidecar lives under root itself when cells='.' (the plain-IVF
        # layout) — it is protocol state, never a torn data file; it is
        # removed once, below, after the rollback completes
        if rel == SIDECAR:
            continue
        if rel not in manifest:
            fs.remove(os.path.join(root, rel))
    if fs.isdir(root):
        for dirpath, _dirs, files in fs.walk(root, topdown=False):
            if dirpath != root and not fs.listdir(dirpath):
                fs.rmdir(dirpath)
    fs.remove(side)
    return True


def begin_append(
    path: str, cells: str = "cells", fs: StateFS = LOCAL_FS
) -> None:
    """Open the append bracket: roll back any torn batch, then snapshot
    the pre-append cell listing into the sidecar (atomic)."""
    rollback_torn_append(path, fs)
    side = os.path.join(path, SIDECAR)
    fs.write_text_atomic(
        side,
        json.dumps(
            {
                "files": _list_cell_files(_cells_root(path, cells), fs),
                "cells": cells,
            }
        ),
    )


def commit_append(path: str, fs: StateFS = LOCAL_FS) -> None:
    """Close the bracket — the appended batch is live."""
    fs.remove(os.path.join(path, SIDECAR))


def require_committed(path: str, what: str, fs: StateFS = LOCAL_FS) -> None:
    """Serving-side guard: refuse to probe an index whose last append
    never committed (or is running right now — single-writer contract)."""
    if fs.isfile(os.path.join(path, SIDECAR)):
        raise ValueError(
            f"{what} at {path} has an in-progress or torn append "
            f"({SIDECAR} present) — retry the append (it rolls the torn "
            "batch back and re-appends), or remove the sidecar after "
            "rolling back manually. Serving a half-appended index would "
            "return rows from an unacknowledged batch."
        )
