"""Incremental state operators: snapshot upsert, CDC drop_redundant, id merge.

Parity targets (citations into /root/reference):
- ``snapshot_records``: gluestick/etl_utils.py:193-269 — read snapshot →
  union → optional type coercion to incoming dtypes → keep-last dedup on PK
  → atomic write; ``just_new`` / ``overwrite`` modes.
- polars variant uses anti-join + relaxed diagonal concat
  (readers/pl_reader.py:103-164) — same result for unique-PK snapshots; we
  use the union + window form which also handles duplicate PKs inside one
  incoming batch.
- ``drop_redundant``: gluestick/etl_utils.py:299-367 — row-hash CDC against
  a hash snapshot; optional ``_updated`` flag for previously-seen PKs.
- ``merge_id_from_snapshot``: gluestick/etl_utils.py:855-922 — left join
  df.externalId = snapshot.InputId, project RemoteId → pk.
- atomic writes: gluestick/snapshot_lock.py:13-47 — here: write the merged
  result to a temp dir, atomically swap it into place
  (:func:`gluestick_spark.fsio.swap_dir`).

Keep-last ordering contract (SURVEY §4.2.1): snapshot rows get source
priority 0, incoming rows 1; within the incoming batch, later rows win via
``monotonically_increasing_id`` (positional within the batch read order).

Scale notes: the union+window plan shuffles once on PK. Snapshots are stored
partitioned parquet; at cluster scale the swap directory lives on an object
store and the same rename protocol applies (directory-level atomic commit).
The id-lookup join broadcasts the deduped snapshot side (naturally small).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..fsio import LOCAL_FS, StateFS, heal_swap, swap_dir
from ..functions.hashing import row_hash_expr
from ..partitioning import pin
from ..sources.reader import read_snapshots
from .union import union_relaxed

__all__ = [
    "snapshot_records",
    "drop_redundant",
    "merge_id_from_snapshot",
    "upsert",
    "prepare_snapshot_write",
    "finish_snapshot_write",
]

_SRC = "__src_priority__"
_ORD = "__ord__"


def _snapshot_path(snapshot_dir: str, stream: str, use_csv: bool = False) -> str:
    ext = "csv" if use_csv else "parquet"
    return os.path.join(snapshot_dir, f"{stream}.snapshot.{ext}")


def _write_snapshot(
    df: DataFrame,
    stream: str,
    snapshot_dir: str,
    use_csv: bool = False,
    fs: StateFS = LOCAL_FS,
) -> None:
    """Materialize to a temp dir, then publish it with
    :func:`~gluestick_spark.fsio.swap_dir` (a plain rename for the first
    snapshot).

    Mirrors the crash-safety intent of the reference's lock-file rename
    protocol (snapshot_lock.py:13-47): a killed job leaves either the old
    snapshot or the new one, never a torn file. A crash between the
    renames of the swap's fallback parks the old snapshot under
    swap_dir's ``.__old__`` name, and :func:`read_snapshots` (like the
    next write) moves it back with :func:`~gluestick_spark.fsio.heal_swap`
    — the history is never dropped. The swap rides the injectable ``fs=``
    seam (:mod:`gluestick_spark.fsio`).
    """
    fs.makedirs(snapshot_dir, exist_ok=True)
    final = _snapshot_path(snapshot_dir, stream, use_csv)
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if use_csv:
        # RFC 4180 quote-escaping to match read_snapshots' csv reader
        writer.option("header", "true").option("escape", '"').csv(tmp)
    else:
        writer.option("compression", "zstd").parquet(tmp)
    heal_swap(final, fs=fs)
    if fs.exists(final):
        swap_dir(tmp, final, fs=fs)
    else:
        fs.rename(tmp, final)


LOCK_SUFFIX = ".hg.partial_written.lock"


def prepare_snapshot_write(canonical_path: str, fs: StateFS = LOCAL_FS) -> str:
    """Public lock-rename protocol, step 1 (reference snapshot_lock.py:13-29):
    move any existing snapshot (file OR Spark output directory) aside to the
    ``.lock`` path and return the path to write to. This is the standalone
    API for callers doing their own writes; ``_write_snapshot`` publishes
    through :func:`~gluestick_spark.fsio.swap_dir` instead."""
    lock_path = canonical_path + LOCK_SUFFIX
    if fs.exists(canonical_path):
        fs.rename(canonical_path, lock_path)
    return lock_path


def finish_snapshot_write(
    lock_path: str, canonical_path: str, fs: StateFS = LOCAL_FS
) -> None:
    """Step 2 (reference snapshot_lock.py:31-47): commit by renaming the lock
    path to the canonical path. Only call after a successful write."""
    fs.rename(lock_path, canonical_path)


def upsert(snapshot: DataFrame, incoming: DataFrame, pk: str | list[str]) -> DataFrame:
    """Union + keep-last-by-PK. Incoming wins over snapshot; later incoming
    rows win over earlier ones. One shuffle (window on PK)."""
    pk_list = [pk] if isinstance(pk, str) else list(pk)
    snap = snapshot.withColumn(_SRC, F.lit(0)).withColumn(_ORD, F.lit(0).cast("long"))
    inc = incoming.withColumn(_SRC, F.lit(1)).withColumn(_ORD, F.monotonically_increasing_id())
    merged = union_relaxed(snap, inc)
    w = Window.partitionBy(*[F.col(f"`{c}`") for c in pk_list]).orderBy(
        F.col(_SRC).desc(), F.col(_ORD).desc()
    )
    return (
        merged.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .drop("__rn__", _SRC, _ORD)
    )


def _coerce_to_incoming_types(merged: DataFrame, incoming_schema: T.StructType) -> DataFrame:
    """coerce_types=True: cast merged columns to the incoming batch's types
    (bool→boolean, ints→Int64 in the reference; here a plain cast to the
    incoming Spark type — etl_utils.py:238-253)."""
    types = {f.name: f.dataType for f in incoming_schema.fields}
    cols = []
    for f in merged.schema.fields:
        target = types.get(f.name)
        if target is not None and target != f.dataType:
            cols.append(F.col(f"`{f.name}`").cast(target).alias(f.name))
        else:
            cols.append(F.col(f"`{f.name}`"))
    return merged.select(*cols)


def snapshot_records(
    spark: SparkSession,
    stream_data: DataFrame | None,
    stream: str,
    snapshot_dir: str,
    pk: str | list[str] = "id",
    just_new: bool = False,
    use_csv: bool = False,
    coerce_types: bool = False,
    localize_datetime_types: bool = False,
    overwrite: bool = False,
) -> DataFrame | None:
    """Upsert ``stream_data`` into the persistent snapshot for ``stream``.

    Returns the merged snapshot (or just the incoming data when
    ``just_new``/``overwrite``), mirroring etl_utils.py:193-269.
    ``localize_datetime_types`` is a no-op here: the session timezone is
    pinned UTC and TimestampType is always an instant.
    """
    snapshot = read_snapshots(spark, stream, snapshot_dir)

    if not overwrite and stream_data is not None and snapshot is not None:
        merged = upsert(snapshot, stream_data, pk)
        if coerce_types:
            merged = _coerce_to_incoming_types(merged, stream_data.schema)
        _write_snapshot(merged, stream, snapshot_dir, use_csv)
        if just_new:
            return stream_data
        # re-read the committed snapshot so the returned plan doesn't depend
        # on the (now possibly rewritten) input paths
        return read_snapshots(spark, stream, snapshot_dir)

    if stream_data is not None:
        _write_snapshot(stream_data, stream, snapshot_dir, use_csv)
        return stream_data

    if just_new or overwrite:
        return stream_data
    return snapshot


def drop_redundant(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    output_dir: str,
    pk: str | list[str] | None = None,
    updated_flag: bool = False,
    use_csv: bool = False,
) -> DataFrame:
    """Drop rows whose content hash was seen in a previous run
    (etl_utils.py:299-367).

    Plan shape: hash projection → left-anti join vs hash snapshot on
    pk+hash (or hash alone) → optional ``_updated`` flag via a left join on
    the snapshot PKs → hash snapshot upsert.
    """
    pk_list = [pk] if isinstance(pk, str) else list(pk or [])
    if pk_list:
        # PK must be unique: keep first occurrence (reference drop_duplicates)
        w = Window.partitionBy(*pk_list).orderBy(F.monotonically_increasing_id())
        df = df.withColumn("__rn__", F.row_number().over(w)).where(F.col("__rn__") == 1).drop("__rn__")

    data_cols = [c for c in df.columns]
    hashed = df.withColumn("hash", row_hash_expr(data_cols))

    hash_snap = read_snapshots(spark, f"{name}.hash", output_dir)
    result = hashed
    if hash_snap is not None:
        if pk_list:
            hash_snap = hash_snap.dropDuplicates(pk_list)
        # No broadcast hint: the hash snapshot has one row per row EVER seen —
        # at scale it is the same order as the incoming batch, so forcing a
        # broadcast is an executor OOM. AQE broadcasts it when it measures
        # genuinely small and shuffle-joins otherwise.
        join_keys = pk_list + ["hash"] if pk_list else ["hash"]
        result = hashed.join(hash_snap.select(*join_keys), on=join_keys, how="left_anti")
        if updated_flag and pk_list:
            seen = hash_snap.select(*pk_list).dropDuplicates(pk_list).withColumn(
                "_updated", F.lit(True)
            )
            result = result.join(seen, on=pk_list, how="left").withColumn(
                "_updated", F.coalesce(F.col("_updated"), F.lit(False))
            )

    # Pin eagerly before the hash-snapshot swap: the result plan references
    # the OLD snapshot files, which the upsert below replaces. Without the
    # pin, collecting the returned DataFrame later would hit
    # FAILED_READ_FILE on the swapped-out files.
    result = pin(result, eager=True)

    snap_cols = pk_list + ["hash"] if pk_list else ["hash"]
    snapshot_records(
        spark,
        result.select(*snap_cols),
        f"{name}.hash",
        output_dir,
        pk=snap_cols if not pk_list else pk_list,
        use_csv=use_csv,
    )
    return result.drop("hash")


def merge_id_df(df: DataFrame, ids: DataFrame, pk: str) -> DataFrame:
    """Core of merge_id_from_snapshot: ids (InputId, RemoteId) deduped
    keep-last, broadcast left join on df.externalId, RemoteId → ``pk``.

    The broadcast hint assumes the id map is small (one row per remote
    entity id this flow has posted — thousands, not billions). If a flow
    ever accumulates an id map near executor memory, drop the hint and let
    AQE pick the join side."""
    from .union import keep_last

    ids = keep_last(ids.select("InputId", "RemoteId"), "InputId")
    merged = df.join(F.broadcast(ids), df["externalId"] == ids["InputId"], "left").drop(
        "InputId"
    )
    return merged.withColumnRenamed("RemoteId", pk)


def merge_id_from_snapshot(
    spark: SparkSession,
    df: DataFrame,
    snapshot_dir: str,
    stream: str,
    flow_id: str,
    pk: str,
) -> DataFrame:
    """Backfill target ids: left join df.externalId = snapshot.InputId,
    project RemoteId → ``pk`` (etl_utils.py:855-922). Snapshot side deduped
    keep-last on InputId and broadcast (naturally small)."""
    if not pk:
        raise ValueError(f"No PK found for '{stream}'. Cannot merge.")
    if "externalId" not in df.columns:
        raise ValueError(f"'externalId' missing for '{stream}'. Cannot merge.")

    prefix = f"{stream}_{flow_id}"
    snap = read_snapshots(spark, prefix, snapshot_dir)
    if snap is None:
        return df
    return merge_id_df(df, snap, pk)
