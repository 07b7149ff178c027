"""IVF cell store: how the three persisted ANN index families and the
SemDeDup reference lay out, write and read their cells.

An IVF index is a directory of parquet cells partitioned by cell id,
next to its protocol state (:mod:`gluestick_spark.llm.index_commit`):

- plain IVF (``llm/similarity.py``): cells at the index root, partition
  column ``centroid_id``; the caller owns the float centroid list.
- IVF×SQ (``llm/cluster.py``) and IVF×PQ (``llm/pq.py``): cells under
  ``cells/``, partition column ``cid``, committed by ``_ROUTER.json``.
  SQ keeps its centroid state under ``state``, PQ under ``router`` next
  to ``codebooks``; both list rebalanced-away cells under ``dead``.
- SemDeDup reference (``llm/cluster.py:materialize_semdedup_ref``):
  cells under ``cells/`` holding (``qr``, ``xxr``), partition column
  ``cid``, committed by ``_SEMDEDUP_META.json``, which keeps the
  centroid state under ``state`` (:func:`encode_state`) beside the
  per-cell build ``counts`` and the ``max_cluster_size`` cap they are
  judged against (``llm/cluster.py:_capped_cells``). Appends add a
  count ledger under ``cells/_append_counts/`` inside the append
  bracket. It has no tombstones and no rebalance.

Tombstoned ids (``_tombstones.parquet``, :mod:`.index_delete`) sit at
the index root; the underscore keeps them and the ``_APPEND_INPROGRESS``
sidecar out of Spark's partition discovery.

This module owns the mechanics every family shares:

- :func:`write_cells` — the partitioned cell write of a build, an
  append, a rebalance and a vacuum rewrite.
- :func:`append_bracket` / :func:`append_cells` — writes inside the
  ``_APPEND_INPROGRESS`` manifest: a torn prior batch is rolled back
  first, and a crash leaves the sidecar, so serving refuses and the next
  writer rolls the batch back.
- :func:`load_router` / :func:`publish_router` — the router decode
  (integer state, ``dead`` set, live ``(cid, state)`` list) and its
  re-publication after a rebalance.
- :func:`read_probed` — the partition-pruned probe read, typed by the
  cells schema the router records
  (:func:`~gluestick_spark.llm.index_commit.read_store`), with tombstoned
  ids anti-joined out under the index's stored id column.
- :func:`batch_topk` — batched serving: probes exploded per query, one
  lazily pinned probe frame, the probed-cell union collected, one pruned
  read, one join, per-query top-k.

What differs per family stays in its module: the encoder projection,
probe selection, the score or distance expression and its direction,
PQ's ADC table and re-rank, and the result column names.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..partitioning import pin
from .index_commit import (
    PQ_IVF,
    ROUTER,
    SQ_IVF,
    Store,
    begin_append,
    check_append,
    commit_append,
    load_meta,
    publish,
    read_store,
    recorded_schema,
    schema_entry,
)

TOMBSTONES = "_tombstones.parquet"

State = list[tuple[list[int], int]]  # (sum vector, count) per cell id


class Cells(NamedTuple):
    """Cell layout of the index at ``path``: ``subdir`` is the cells
    directory under it (``"."`` when the cells sit at the root) and
    ``part`` the partition column."""

    path: str
    subdir: str = "cells"
    part: str = "cid"

    @property
    def root(self) -> str:
        if self.subdir == ".":
            return self.path
        return os.path.join(self.path, self.subdir)


def plain_cells(path: str) -> Cells:
    """The router-less plain family's layout."""
    return Cells(path, ".", "centroid_id")


def write_cells(
    df: DataFrame, cells: Cells, mode: str, root: str | None = None
) -> dict:
    """Write ``df`` partitioned by the cell column under ``root``
    (default: the cells root) and return the schema entry a build
    records for it. The repartition on the cell column coalesces each
    cell into whole files instead of every task writing a sliver of
    every cell."""
    (
        df.repartition(F.col(cells.part))
        .write.partitionBy(cells.part)
        .mode(mode)
        .parquet(root or cells.root)
    )
    return schema_entry(df, cells.part)


@contextmanager
def append_bracket(path: str, subdir: str = "cells"):
    """Run the body inside the ``_APPEND_INPROGRESS`` manifest of the
    files under ``subdir``. Opening rolls back a torn prior batch; the
    sidecar is removed only when the body returns."""
    begin_append(path, cells=subdir)
    yield
    commit_append(path)


def append_cells(
    df: DataFrame, cells: Cells, store: Store | None = None, meta: dict | None = None
) -> None:
    """Append ``df`` into the cell directories inside the append
    bracket. With the committed ``meta`` of ``store``, a frame whose
    schema drifted from the recorded cells schema raises first."""
    if store is not None:
        check_append(store, cells.path, meta, cells.subdir, schema_entry(df, cells.part))
    with append_bracket(cells.path, cells.subdir):
        write_cells(df, cells, "append")


_STATE_KEY = {SQ_IVF: "state", PQ_IVF: "router"}


class Router(NamedTuple):
    """A committed ``_ROUTER.json``: the raw ``meta``, the decoded
    centroid ``state`` and the ``dead`` (rebalanced-away) cell ids."""

    meta: dict
    state: State
    dead: frozenset[int]

    @property
    def id_col(self) -> str:
        return self.meta["id_col"]

    @property
    def scale(self) -> int:
        return self.meta["scale"]

    @property
    def live(self) -> list[tuple[int, tuple[list[int], int]]]:
        """``(cid, state)`` of every cell a row may be routed to."""
        return [
            (cid, sn) for cid, sn in enumerate(self.state) if cid not in self.dead
        ]


def decode_state(raw: list) -> State:
    return [(list(map(int, s)), int(n)) for s, n in raw]


def encode_state(state: State) -> list:
    return [[list(map(int, s)), int(n)] for s, n in state]


def load_router(store: Store, path: str, serving: bool = True) -> Router:
    """The committed router of an sq-ivf or pq-ivf index. ``serving``
    also refuses an index with an open append."""
    meta = load_meta(store, path, serving=serving)
    return Router(
        meta,
        decode_state(meta[_STATE_KEY[store]]),
        frozenset(meta.get("dead", [])),
    )


def publish_router(
    store: Store, path: str, router: Router, state: State, dead: list[int]
) -> None:
    """Commit ``router`` with a new centroid state and dead list."""
    meta = {**router.meta, _STATE_KEY[store]: encode_state(state), "dead": dead}
    publish(store, path, meta)


def check_topk(nprobe: int, k: int) -> None:
    if nprobe < 1 or k < 1:
        raise ValueError("nprobe >= 1 and k >= 1 required")


def in_probes(col: str, probes: list[int]) -> Column:
    """``col`` is one of ``probes``: the in-query cell filter, with the
    probes as one array literal, so a new probe set reuses the compiled
    classes (``isin`` inlines its list into generated code, one class
    per distinct set). A stored index prunes with ``isin`` instead
    (:func:`read_probed`), where the list is a partition filter."""
    return F.array_contains(F.lit(probes).cast("array<int>"), F.col(col))


def read_cells(spark, cells: Cells, meta: dict | None) -> DataFrame:
    """Every cell row, typed by the cells schema recorded in ``meta``
    (inferred for a marker-less or pre-schema index)."""
    return read_store(spark, cells.root, recorded_schema(meta, cells.subdir))


def _tombstones(
    spark, path: str, id_col: str, meta: dict | None
) -> DataFrame | None:
    """The tombstoned ids as written, repeats included: a left-anti join
    needs no distinct, so callers that count take one."""
    root = os.path.join(path, TOMBSTONES)
    if not os.path.isdir(root) or not any(
        f.endswith(".parquet") for f in os.listdir(root)
    ):
        return None
    schema = recorded_schema(meta, "cells")
    if schema is not None:
        schema = StructType([schema[id_col]])
    return read_store(spark, root, schema).select(id_col)


def tombstones(spark, path: str, id_col: str) -> DataFrame | None:
    """The index's tombstoned ids as a 1-column frame (``id_col``), or
    None when nothing was ever deleted (or a vacuum cleared them). The
    read is typed by the id field of the recorded cells schema when the
    index has a router that records one; a plain or pre-schema index's
    tombstones are read by inference."""
    meta = None
    if os.path.isfile(os.path.join(path, ROUTER)):
        meta = load_meta(SQ_IVF, path)
    t = _tombstones(spark, path, id_col, meta)
    return None if t is None else t.distinct()


def read_probed(
    spark, cells: Cells, probes: list[int], id_col: str, meta: dict | None = None
) -> DataFrame:
    """The rows of the probed cells, with stored column names, read with
    the cells schema recorded in the committed ``meta`` — no inference
    job (a plain or pre-schema index, ``meta`` None or without a
    schema, is read by inference). The ``part IN (probes)`` filter rides
    the scan as a partition filter, so only the probed directories are
    read. Tombstoned ids are dropped by one anti-join on the stored id
    column ``id_col``, which is the column the tombstones were written
    under, read with that field of the recorded schema; cost
    O(candidates)."""
    df = read_cells(spark, cells, meta).where(F.col(cells.part).isin(probes))
    t = _tombstones(spark, cells.path, id_col, meta)
    return df if t is None else df.join(t, id_col, "left_anti")


def empty_topk(
    ids: DataFrame, out_id: str, cols: list[tuple[str, str]]
) -> DataFrame:
    """The empty batch result: the query-id column of ``ids``, a long
    ``out_id`` and each ``(name, type)`` of ``cols``."""
    out = ids.limit(0).withColumn(out_id, F.lit(None).cast("long"))
    for name, dtype in cols:
        out = out.withColumn(name, F.lit(None).cast(dtype))
    return out


class Rank(NamedTuple):
    """One per-query ranking stage of :func:`batch_topk`: ``expr``
    (over a candidate row) becomes result column ``col`` of type
    ``dtype``; each query keeps its first ``keep`` rows by (``col``,
    id)."""

    col: str
    dtype: str
    expr: Column
    ascending: bool
    keep: int


def batch_topk(
    spark,
    cells: Cells,
    id_col: str,
    queries: DataFrame,
    carry: list[str],
    probes: Column,
    query_id_col: str,
    out_id: str,
    ranks: list[Rank],
    meta: dict | None = None,
) -> DataFrame:
    """Batched top-k over an IVF index in a bounded number of jobs.

    ``queries`` holds one row per query with ``__qid__`` and the
    ``carry`` columns the ranks read; ``probes`` is the per-query array
    of probe cells; ``meta`` is the index's committed router meta, whose
    cells schema types the read (None for the plain family). Each query
    row is exploded over its probes and pinned lazily: the probe frame
    feeds both the probed-cell collect and the join, and the collect
    materializes it (an eager pin would cost one more job). The union of
    probed cells, bounded by the cell count, prunes the cell scan to
    literal partitions; one join on the partition column pairs queries
    with candidates, whose stored id ``id_col`` is renamed to
    ``out_id``. The ranks then apply in order, each as a per-query
    window. Returns (``query_id_col``, ``out_id``,
    rank columns...), ordered by query, the last rank and id."""

    def order(r: Rank) -> Column:
        return F.col(r.col).asc() if r.ascending else F.col(r.col).desc()

    part = cells.part
    qx = pin(queries.select(*carry, F.explode(probes).alias(part)))
    probed = sorted({r[part] for r in qx.select(part).distinct().collect()})
    if not probed:
        return empty_topk(
            queries.select(F.col("__qid__").alias(query_id_col)),
            out_id,
            [(r.col, r.dtype) for r in ranks],
        )
    cand = qx.join(read_probed(spark, cells, probed, id_col, meta), part)
    if out_id != id_col:
        cand = cand.withColumnRenamed(id_col, out_id)
    for r in ranks:
        w = Window.partitionBy("__qid__").orderBy(order(r), F.col(out_id).asc())
        cand = (
            cand.withColumn(r.col, r.expr)
            .withColumn("__rn__", F.row_number().over(w))
            .where(F.col("__rn__") <= r.keep)
        )
    return cand.select(
        F.col("__qid__").alias(query_id_col),
        F.col(out_id),
        *[F.col(r.col) for r in ranks],
    ).orderBy(F.asc(query_id_col), order(ranks[-1]), F.col(out_id).asc())
