"""Partition-balance and pinning helpers.

``ensure_min_partitions`` is the engine's one rule for CPU-heavy per-row
operators (JSON parsing, hashing, shingling): make sure the work can use
every core *before* spending CPU. A small or single-row-group parquet scan
yields fewer splits than cores — locally a 10 MB file is ONE task and a
64-permutation MinHash runs on one thread of 32. At real scale (100 TB,
thousands of row groups) the scan already has more splits than the
parallelism floor and this is a pure no-op — large inputs never pay the
extra shuffle.

Partitioning on the operator's key column(s) makes the exchange reusable:
a downstream groupBy/join on the same key satisfies its ClusteredDistribution
requirement from this shuffle instead of adding another.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["ensure_min_partitions", "pin", "salted_join"]


def ensure_min_partitions(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition to ``defaultParallelism`` iff the plan currently has fewer
    partitions.

    The count comes from ``df.rdd.getNumPartitions()``. On a plan without
    a shuffle that launches no job. On a plan that contains a shuffle,
    adaptive execution runs the shuffle stages first to size the final
    partitions — one job before the caller's own action (measured on
    ``exact_dedup`` output over the sf0.01 documents, 4 cores: 1 job,
    0.14–0.32 s warm)."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    if key_cols:
        return df.repartition(p, *[F.col(f"`{c}`") for c in key_cols])
    return df.repartition(p)


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once for every later reader: the engine's one
    way to reuse a frame (``localCheckpoint``).

    - Lazy by default: the first action over the pinned plan materializes
      it, so pinning schedules no extra job. (Under adaptive execution a
      plan with a shuffle still runs its shuffle map stages when the pin
      is taken; the pinned result itself waits for the first action.)
    - ``eager=True`` runs a job now. Use it only where the inputs are
      about to be overwritten, or where a driver loop must cut lineage
      before its next action.
    - A pin is not persist-then-unpersist. An ``unpersist`` before a
      function returns its lazy plan voids the cache, and every consumer
      re-derives the frame (3-iteration label propagation read its
      source 46 times that way). ``persist`` is only right when the
      function itself runs every action on the frame and then unpersists.
    - A pin is not fault-tolerant: the lineage is cut, so nothing can
      recompute a lost block. After an executor that holds pinned blocks
      is lost, the next job that reads them fails with
      ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` once its task attempts
      (4 by default) are spent; it does not restart.
    """
    return df.localCheckpoint(eager=eager)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the skewed side's hot keys spread over ``salt`` shards.

    The skewed side gets a uniform random shard id; the other side is
    replicated ``salt`` times (one row per shard) so every (key, shard)
    partition joins locally. Row-for-row equivalent to
    ``skewed.join(other, on, how)`` for inner/left joins.

    When to use: AQE's skew-join (``spark.sql.adaptive.skewJoin``) already
    splits oversized *partitions* at runtime and is the default answer —
    reach for explicit salting only when a single key's rows exceed executor
    memory in a sort-merge join, or in streaming joins where AQE doesn't
    apply. Cost: ``salt``× replication of ``other`` — keep it for small-to-
    medium dimension sides (a broadcast-sized ``other`` needs no salting at
    all; let the broadcast join handle skew for free).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    # canonical implementation lives in operators/skew.py (round-6 home);
    # this alias keeps the original call shape (list keys, left_outer)
    from gluestick_spark.operators.skew import salted_join as _impl

    return _impl(
        skewed, other, on, how="left" if how == "left_outer" else how, salt=salt
    )
