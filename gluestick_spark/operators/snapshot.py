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

A parquet snapshot is a committed store (``index_commit.SNAPSHOT``): its
``_SNAPSHOT.json`` marker records the schema, so
:func:`~gluestick_spark.sources.reader.read_snapshots` reads it with no
job. ``drop_redundant`` diffs the batch against its hash state in one
join, which also yields the ``_updated`` flag and the next hash state.

Scale notes: the union+window plan shuffles once on PK. The diff join
scans and shuffles the whole hash state once per increment, and its pin
holds every stored (key, hash) pair plus the batch (about 164 MB at 1M
state rows, SCALEPROBE.md ``cdc_state_growth``) for as long as the
caller holds the kept rows. Snapshots are stored
partitioned parquet; at cluster scale the swap directory lives on an object
store and the same rename protocol applies (directory-level atomic commit).
The id-lookup join broadcasts the deduped snapshot side (naturally small).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..fsio import LOCAL_FS, StateFS, heal_swap, swap_dir
from ..functions.hashing import row_hash_expr
from ..llm.index_commit import SCHEMAS, SNAPSHOT, publish, schema_entry
from ..partitioning import pin
from ..sources.reader import read_snapshots
from .union import union_relaxed, widest_common_type

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
_KEY = "__key__"  # the PK as one struct column in drop_redundant
_STATE = "__state__"  # prefix of the hash state's columns in its diff join


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

    A parquet snapshot is a committed store: after the data, the temp dir
    gets its ``_SNAPSHOT.json`` marker (``index_commit.SNAPSHOT``, meta
    ``{"schemas": {"data": schema_entry(df)}}``), and the swap publishes
    data and marker together, so :func:`read_snapshots` types its read
    from the marker and runs no job. A temp dir holding data but no
    marker is never read: readers only see the swapped-in directory. CSV
    snapshots carry no marker.

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
        publish(SNAPSHOT, tmp, {SCHEMAS: {"data": schema_entry(df)}}, fs)
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

    Plan shape: keep-first dedup of the batch on ``pk`` → row hash → one
    full outer join with the hash state (``dropDuplicates`` on the key) on
    the key — ``pk``, or ``hash`` when there is no PK — pinned eagerly,
    because the new state replaces the files it reads. From the pinned
    join:

    - kept rows: the incoming rows with no stored hash or a different one;
    - ``_updated`` (``updated_flag`` with a PK): a stored row matched;
    - the new hash state: the incoming hash where there is one, else the
      stored hash (distinct on ``hash`` without a PK), written as one
      narrow job.

    NULL keys: the join is NULL-safe, so the state keeps one row per NULL
    key group, the incoming hash winning; but a row with a NULL key part
    is always kept and never ``_updated`` (a NULL key never equals a
    stored one). A key column the state holds at another type (a CSV
    state is read by inference) is compared at the two types' common
    type, as an equi-join compares it, and written back at their widest
    type, as an upsert's union writes it.

    The pin holds the state's (key, hash) pairs plus the batch, and the
    returned frame reads from it, so those blocks stay on the executors
    while the caller holds the frame (and are lost with an executor, as
    any ``localCheckpoint``). The state is scanned and shuffled once per
    increment. The first run (no state) pins the hashed batch and writes
    it as the state.
    """
    pk_list = [pk] if isinstance(pk, str) else list(pk or [])
    data_cols = list(df.columns)
    key = _KEY if pk_list else "hash"
    state_name = f"{name}.hash"
    hash_snap = read_snapshots(spark, state_name, output_dir)

    def col(c: str) -> Column:
        return F.col(f"`{c}`")

    def key_type(types: dict) -> T.StructType:
        # every field nullable, so both sides of the join share one type
        return T.StructType([T.StructField(c, types[c]) for c in pk_list])

    batch_types = {c: df.schema[c].dataType for c in pk_list}
    if pk_list:
        # PK must be unique: keep first occurrence (reference drop_duplicates).
        # The PK travels as one struct column: grouping and equality on a
        # struct are NULL-safe, and the dedup, the state's dropDuplicates and
        # the diff join below all hash-partition on it, so the join adds no
        # exchange.
        w = Window.partitionBy(_KEY).orderBy(F.monotonically_increasing_id())
        df = (
            df.withColumn(_KEY, F.struct(*map(col, pk_list)).cast(key_type(batch_types)))
            .withColumn("__rn__", F.row_number().over(w))
            .where(F.col("__rn__") == 1)
            .drop("__rn__")
        )
    hashed = df.withColumn("hash", row_hash_expr(data_cols))

    if hash_snap is None:
        result = pin(hashed.drop(_KEY), eager=True)
        _write_snapshot(result.select(*pk_list, "hash"), state_name, output_dir, use_csv)
        return result.drop("hash")

    # A key column the state holds at another type (a CSV state is read by
    # inference, so "007" comes back as 7) is compared at the common type,
    # as an equi-join of the two columns compares it. The analyzer does
    # this for plain columns but refuses a struct<k: string> = struct<k:
    # int> comparison, so the struct sides are cast here.
    stored_types = {c: hash_snap.schema[c].dataType for c in pk_list}
    cmp_types = {c: _common_type(spark, t, stored_types[c]) for c, t in batch_types.items()}

    def cmp_key(c: str, types: dict) -> Column:
        return col(c) if types == cmp_types else col(c).cast(key_type(cmp_types))

    # No broadcast hint: the hash snapshot has one row per row EVER seen —
    # at scale it is the same order as the incoming batch, so forcing a
    # broadcast is an executor OOM.
    stored = hash_snap.select(
        *([F.struct(*map(col, pk_list)).alias(_STATE + _KEY)] if pk_list else []),
        col("hash").alias(_STATE + "hash"),
    ).dropDuplicates([_STATE + key])
    # Pin eagerly before the hash-snapshot swap: the join reads the OLD
    # snapshot files, which the write below replaces.
    if pk_list:
        on = cmp_key(_KEY, batch_types) == cmp_key(_STATE + _KEY, stored_types)
    else:
        on = col("hash") == col(_STATE + "hash")
    joined = pin(hashed.join(stored, on, "full_outer"), eager=True)

    seen = col(_STATE + "hash").isNotNull()
    null_key = F.lit(False)
    for c in pk_list:
        null_key = null_key | col(c).isNull()
    # the incoming hash is never NULL (md5), so it marks the batch's rows
    fresh = joined.where(
        col("hash").isNotNull()
        & (~seen | (col("hash") != col(_STATE + "hash")) | null_key)
    )
    # key columns lead, the column order this operator has always returned
    out = [col(c) for c in pk_list + [c for c in data_cols if c not in pk_list]]
    if updated_flag and pk_list:
        out.append((seen & ~null_key).alias("_updated"))

    # a key column is written at the widest type of its batch and stored
    # types, as a union of the two would write it
    wide = {c: widest_common_type(t, stored_types[c]) for c, t in batch_types.items()}
    state = joined.select(
        *[
            F.coalesce(col(c).cast(t), col(_STATE + _KEY).getField(c).cast(t)).alias(c)
            for c, t in wide.items()
        ],
        F.coalesce(col("hash"), col(_STATE + "hash")).alias("hash"),
    )
    _write_snapshot(state if pk_list else state.distinct(), state_name, output_dir, use_csv)
    return fresh.select(*out)


def _common_type(spark: SparkSession, a: T.DataType, b: T.DataType) -> T.DataType:
    """The type Spark brings an ``a`` and a ``b`` value to before it
    compares them (no job: the schema of an empty projection)."""
    if a == b:
        return a
    probe = spark.range(0).select(F.coalesce(F.lit(None).cast(a), F.lit(None).cast(b)))
    return probe.schema[0].dataType


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
