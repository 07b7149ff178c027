"""Write-layout optimization: sorted (clustered), bucketed, and Z-ordered
parquet writes.

At 100 TB the biggest query-time lever is what the WRITER did: parquet
row-group min/max statistics only prune scans when values are clustered.
``write_sorted`` range-partitions on the cluster keys and sorts within
each partition before writing — every output file owns a disjoint key
range, so a reader's ``WHERE key = …`` / ``BETWEEN`` touches one (or few)
files instead of all of them. This is the Z-order-lite layout every
warehouse write path applies for single-dimension clustering.

Plan shape: ONE range exchange (sampled boundaries) + in-partition sort —
the same cost as any global sort, paid once at write time; every
subsequent scan gets file- and row-group-level pruning for free
(`PushedFilters` + parquet stats).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "write_sorted",
    "write_bucketed",
    "zvalue_expr",
    "write_zordered",
    "write_hive_partitioned",
    "compact_files",
]


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write ``df`` clustered on ``sort_cols``: range-partitioned into
    ``n_files`` (default: current shuffle-partition conf) output files,
    each covering a disjoint sorted key range."""
    if not sort_cols:
        raise ValueError("sort_cols must be non-empty")
    if n_files is not None:
        part = df.repartitionByRange(n_files, *sort_cols)
    else:
        part = df.repartitionByRange(*sort_cols)
    part.sortWithinPartitions(*sort_cols).write.mode(mode).format(fmt).save(path)


def _catalog_locations(spark) -> set[str]:
    """Real paths of every location any session-catalog table points at
    (managed or external). Temp views carry no location and are
    skipped."""
    import os

    locs: set[str] = set()
    for db in spark.catalog.listDatabases():
        try:
            tables = spark.catalog.listTables(db.name)
        except Exception:
            continue
        for t in tables:
            if t.isTemporary or not t.namespace:
                continue
            qual = ".".join([*t.namespace, t.name])
            try:
                rows = spark.sql(
                    f"DESCRIBE TABLE EXTENDED {qual}"
                ).collect()
            except Exception:
                continue
            for r in rows:
                if r["col_name"] == "Location" and r["data_type"]:
                    from urllib.parse import urlparse

                    p = urlparse(r["data_type"]).path or r["data_type"]
                    locs.add(os.path.realpath(p))
    return locs


def _clear_orphaned_managed_location(spark, table: str) -> None:
    """Remove a stale MANAGED-table warehouse directory left behind by a
    killed prior run: the catalog has no entry for ``table`` but its
    default location still exists on disk, so ``saveAsTable`` fails with
    ``LOCATION_ALREADY_EXISTS``. Only the simple ``tbl`` / ``db.tbl``
    local-warehouse case is handled, and only when NO catalog table (in
    any database — an EXTERNAL table may legally sit on the default
    path, ADVICE r13 #3) references the directory: clearing is
    restricted to true orphans. Default-database tables live directly
    under the warehouse root (``wh/tbl``, not ``wh/default.db/tbl``) —
    the path rule Spark itself applies."""
    import os
    import shutil
    from urllib.parse import urlparse

    if spark.catalog.tableExists(table):
        return  # real table: saveAsTable(overwrite) handles it
    parts = table.lower().split(".")
    if len(parts) > 2:
        return
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    if not wh:
        return
    db = parts[0] if len(parts) == 2 else spark.catalog.currentDatabase()
    tbl = parts[-1]
    loc = (
        os.path.join(wh, tbl)
        if db == "default"
        else os.path.join(wh, f"{db}.db", tbl)
    )
    if not os.path.isdir(loc):
        return
    if os.path.realpath(loc) in _catalog_locations(spark):
        return  # some table (possibly external, other name) lives there
    shutil.rmtree(loc, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Persist ``df`` as a BUCKETED table: rows are hash-partitioned on
    ``bucket_cols`` into ``n_buckets`` files per write task, and the
    bucketing spec is recorded in the catalog.

    This is the co-located-join primitive: two tables bucketed on the same
    key with the same bucket count join with **zero Exchange** — at 100 TB
    the bucketed layout converts every repeated fact⋈fact / fact⋈dim join
    on that key from a full shuffle into a local zip of bucket files (the
    single biggest recurring-cost saving a warehouse layout can buy).
    Optional ``sort_cols`` additionally sorts within buckets, enabling
    sort-merge joins with no sort step. Requires a session catalog
    (``saveAsTable``); read back with ``spark.table(table)``.
    """
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if mode == "overwrite":
        _clear_orphaned_managed_location(df.sparkSession, table)
    w = df.write.mode(mode).format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def zvalue_expr(
    cols: list[Column | str],
    ranges: list[tuple[float, float]],
    bits: int = 16,
) -> Column:
    """Z-order (Morton) curve value: each column is scaled to a
    ``bits``-bit integer over its ``(lo, hi)`` range (values clamped), and
    the columns' bits are interleaved into one long — nearby points in
    N-dimensional space get nearby z-values.

    This is what makes MULTI-column clustering work: ``write_sorted`` on
    (a, b) prunes only on ``a`` (lexicographic order scatters ``b``);
    sorting on the z-value keeps files tight in BOTH dimensions, so either
    predicate prunes. ``ranges`` are caller-supplied, not sampled:
    deterministic output, no extra scan, and stable file layout across
    incremental writes (derive them once from domain knowledge or a
    one-time profile — `operators/profile.py`).

    Pure integer Catalyst arithmetic (shift/mask/multiply), whole-stage
    codegen, engine-portable for the oracle. ``bits × len(cols)`` must fit
    in 63 bits (e.g. 2 cols × 16 bits, 4 cols × 8 bits).
    """
    if len(cols) != len(ranges):
        raise ValueError("cols and ranges must align")
    if not cols or bits * len(cols) > 63:
        raise ValueError(f"need 1 <= {bits}*{len(cols)} dims*bits <= 63")
    scaled = []
    top = (1 << bits) - 1
    for c, (lo, hi) in zip(cols, ranges):
        c = F.col(c) if isinstance(c, str) else c
        if not hi > lo:
            raise ValueError(f"range must have hi > lo, got ({lo}, {hi})")
        u = (c.cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
        q = F.floor(u * (1 << bits)).cast("long")
        scaled.append(F.greatest(F.lit(0), F.least(F.lit(top), q)))
    n = len(scaled)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * n + i)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    ranges: list[tuple[float, float]],
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write ``df`` clustered on the Z-order curve over ``cols`` — the
    multi-dimensional version of :func:`write_sorted`: one range exchange
    on the z-value + in-partition sort, then the helper column is dropped
    at write. Readers filtering on ANY of ``cols`` get file/row-group
    pruning from parquet min/max stats because each file covers a compact
    hyper-rectangle-ish region of the key space."""
    z = df.withColumn("__z__", zvalue_expr(list(cols), ranges, bits))
    if n_files is not None:
        part = z.repartitionByRange(n_files, "__z__")
    else:
        part = z.repartitionByRange("__z__")
    (
        part.sortWithinPartitions("__z__")
        .drop("__z__")
        .write.mode(mode)
        .format(fmt)
        .save(path)
    )


def write_hive_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    files_per_partition: int = 1,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Hive-style directory partitioning (``path/col=value/…``) — the
    layout that turns a partition-key predicate into PartitionFilters:
    the scan LISTS only matching directories, so a day/tenant/source
    filter over 100 TB touches exactly its own files, before any
    row-group statistics are even consulted (the coarse complement to
    :func:`write_sorted`'s intra-file clustering — compose them: partition
    by the coarse key, sort by the fine one).

    One repartition on (partition key [+ hash shard]) aligns writer tasks
    with output directories so each partition directory gets
    ~``files_per_partition`` files (approximate: (dir, shard) pairs can
    hash-collide into one reducer) — not one file per (task × partition),
    the accidental small-file explosion of a naive ``partitionBy`` write.
    Optional ``sort_cols`` sorts within each file for row-group pruning on
    a second key. Keep partition keys LOW-cardinality (day, source,
    tenant-bucket — not user id): every distinct value is a directory, and
    millions of directories break listing long before Spark.
    """
    if not partition_cols:
        raise ValueError("partition_cols must be non-empty")
    if files_per_partition < 1:
        raise ValueError(f"files_per_partition must be >= 1, got {files_per_partition}")
    keys = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        # shard from ALL columns: hashing only the partition key would be
        # constant within a directory and silently collapse every
        # partition back to one file. The partition count is EXPLICIT
        # (distinct-dirs × shards, one small aggregate to learn it):
        # an expression-only repartition lets AQE coalesce the small
        # shuffle back together and re-merge the shards.
        shard = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            F.lit(files_per_partition),
        )
        n_dirs = df.select(*partition_cols).distinct().count()
        part = df.repartition(max(1, n_dirs) * files_per_partition, *keys, shard)
    else:
        part = df.repartition(*keys)
    if sort_cols:
        part = part.sortWithinPartitions(*partition_cols, *sort_cols)
    part.write.mode(mode).format(fmt).partitionBy(*partition_cols).save(path)


def compact_files(
    spark,
    path: str,
    target_rows_per_file: int,
    fmt: str = "parquet",
) -> int:
    """Compact a FLAT local-filesystem directory of small files into
    ~``target_rows_per_file`` files — the small-file remedy for
    streaming/incremental sinks (every micro-batch writes a file; a month
    later the LISTING dominates query time and each task reads a few KB).
    Returns the new file count.

    Commit protocol: the rewrite goes to a temp dir next to ``path``,
    then :func:`~gluestick_spark.fsio.swap_dir` publishes it — an ATOMIC
    directory exchange where the kernel has one, else the rename
    fallback whose crash window the next call heals
    (:func:`~gluestick_spark.fsio.heal_swap`) before doing anything else.

    Scope guards (not silent): raises on a hive-partitioned layout (no
    top-level data files but partition subdirectories — compacting that
    through one coalesce would DESTROY the partition layout; compact each
    leaf directory instead) and on an empty/non-matching directory. The
    directory must be on a local filesystem — object-store/HDFS paths
    need a table format's commit protocol, not POSIX renames.

    Row count comes from parquet footers (driver-side metadata, no Spark
    job); the rewrite itself is one coalesce write — coalesce, not
    repartition, so compaction never shuffles, it only concatenates
    partitions."""
    import math
    import os
    import shutil

    from ..fsio import heal_swap, swap_dir

    if target_rows_per_file < 1:
        raise ValueError("target_rows_per_file must be >= 1")
    import pyarrow.parquet as pq

    heal_swap(path)
    entries = os.listdir(path)
    files = [f for f in entries if f.endswith(f".{fmt}")]
    subdirs = [
        d
        for d in entries
        if os.path.isdir(os.path.join(path, d)) and not d.startswith((".", "_"))
    ]
    if not files:
        if subdirs:
            raise ValueError(
                f"compact_files: no top-level *.{fmt} files in {path} but "
                f"partition subdirectories exist ({subdirs[:3]}…) — this looks "
                "hive-partitioned; compacting it flat would destroy the "
                "partition layout. Compact each leaf directory instead."
            )
        raise ValueError(f"compact_files: no *.{fmt} data files in {path}")
    n_rows = sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in files
    ) if fmt == "parquet" else spark.read.format(fmt).load(path).count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    tmp = path.rstrip("/") + ".__compacting__"
    shutil.rmtree(tmp, ignore_errors=True)
    spark.read.format(fmt).load(path).coalesce(n_files).write.format(fmt).save(tmp)
    swap_dir(tmp, path)
    return n_files
