"""IVF cell rebalance — maintenance for grown ANN indexes (VERDICT r12 #4).

``ivf_append`` / ``sq_ivf_append`` / ``pq_ivf_append`` grow cells
unbounded: the router is frozen (serving consistency), so under
distribution drift a hot cell eventually dominates every probe that
selects it — the giant-cluster pathology the serving path has no cap
for. ``*_rebalance(path)`` bounds it without a rebuild:

1. **Audit** cell sizes from the stored index (one ``groupBy(cid)``
   count over the cells — k rows to the driver, never data).
2. **Split** each cell above ``max_cell_rows`` (default 4× the mean):
   reconstruct that cell's vectors from its stored payload (exact for
   raw-vector IVF, dequantized for SQ, codebook-decoded for PQ), train
   a ``split_factor``-way sub-router on JUST those rows with the same
   replayable integer-Lloyd :func:`~gluestick_spark.llm.cluster.kmeans`
   the build used, and re-route only that cell's rows among the new
   sub-centroids. Rows are moved VERBATIM (payload columns unchanged —
   never re-encoded, so quantization error does not compound).
3. **Commit** through the cell store
   (:mod:`gluestick_spark.llm.ivf_cells`, which owns the cell layout):

   - sub-cell rows are APPENDED into brand-new ``cid`` directories
     with :func:`~gluestick_spark.llm.ivf_cells.append_cells` — a torn
     write rolls back by the normal path and the old router still
     serves the intact old cells;
   - the new router (split cids tombstoned in ``dead``, sub-centroid
     states appended) is then published atomically
     (:func:`~gluestick_spark.llm.ivf_cells.publish_router`) — THE
     commit point of the rebalance;
   - the dead cell directories are dropped last, best-effort (routered
     families only; the router-less plain family defers this to
     :func:`ivf_vacuum` / the next rebalance, because ITS durable
     commit point is the caller persisting the returned list).

   Every serving read filters ``cid IN (live probes)``, so each crash
   window is safe: new dirs unreferenced by the old router are never
   probed, and a lingering dead dir after a crash-before-cleanup is
   excluded by the probe filter (its rows already live in the
   sub-cells). :func:`_prune_stale_cells` removes both kinds of orphan
   at the start of the next rebalance — the self-heal.

Dead cells stay in the router as tombstones (``dead`` list) so cid
indices remain stable: appends assign new rows against the LIVE entries
only (``_assign_expr(..., cids=...)``) and probe selection skips dead
cids — a rebalanced index keeps answering identically to exhaustive
scoring at ``nprobe = n_live`` (oracle-checked: the nprobe=all probe
equals brute-force quantized scoring, which proves no row was lost or
duplicated through the move).

Scale shape: audit is one columnar count; each split reads ONE cell
(partition-pruned scan), trains on its rows, and writes O(cell) — the
corpus and every healthy cell are untouched. Repeated calls keep
splitting until all cells fit; a cell of byte-identical vectors cannot
be split (one sub-centroid) and is reported under ``unsplittable``
instead of churning — collapse exact duplicates upstream if that
happens.
"""

from __future__ import annotations

import math
import os
import shutil
from fractions import Fraction
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cluster import _assign_expr, int_dot_expr, kmeans, quantize_vec_expr
from .index_commit import PQ_IVF, SQ_IVF, Store, rollback_torn_append
from .ivf_cells import (
    Cells,
    append_cells,
    load_router,
    plain_cells,
    publish_router,
    read_cells,
)
from .text import bind_row

__all__ = [
    "cell_sizes",
    "ivf_rebalance",
    "ivf_vacuum",
    "sq_ivf_rebalance",
    "pq_ivf_rebalance",
]


def cell_sizes(spark, cells_root: str, part_col: str = "cid") -> dict[int, int]:
    """Audit: rows per cell directory — one column-pruned count over the
    partition column (k rows to the driver, never data)."""
    if not os.path.isdir(cells_root):
        return {}
    df = spark.read.parquet(cells_root)
    return {
        int(r[part_col]): int(r["n"])
        for r in df.groupBy(part_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _prune_stale_cells(
    cells_root: str, n_state: int, dead: set[int], part_col: str = "cid"
) -> list[int]:
    """Self-heal: drop cell dirs that are tombstoned (crash after router
    publish, before cleanup) or beyond the router (crash after a sub-cell
    append committed, before the router publish). Serving never reads
    either kind (probe filter), so removal is safe at any time."""
    pruned = []
    if not os.path.isdir(cells_root):
        return pruned
    for entry in os.listdir(cells_root):
        if not entry.startswith(f"{part_col}="):
            continue
        try:
            cid = int(entry.split("=", 1)[1])
        except ValueError:
            continue
        if cid in dead or cid >= n_state:
            shutil.rmtree(os.path.join(cells_root, entry), ignore_errors=True)
            pruned.append(cid)
    return sorted(pruned)


def _distinct_means(state: list[tuple[list[int], int]]) -> int:
    """Number of distinct centroid positions (exact rational compare)."""
    seen = set()
    for s, n in state:
        if n > 0:
            seen.add(tuple(Fraction(v, n) for v in s))
    return len(seen)


def _pick_oversized(
    sizes: dict[int, int],
    dead: set[int],
    max_cell_rows: int | None,
) -> tuple[list[int], int]:
    live = {cid: n for cid, n in sizes.items() if cid not in dead}
    if not live:
        return [], 0
    threshold = (
        max_cell_rows
        if max_cell_rows is not None
        else max(1, -(-4 * sum(live.values()) // len(live)))  # ceil(4·mean)
    )
    return sorted(cid for cid, n in live.items() if n > threshold), threshold


def _cosine_assign_expr(
    sub: list[tuple[list[int], int]], labels: list[int], scale: int
):
    """argmax-cosine assignment against sub-centroid literals — the
    plain-IVF family's SERVING geometry (``ivf_assign`` /
    ``_probe_centroids`` normalize; ADVICE r13 #4). Each sub-centroid
    mean ``s/(n·scale)`` is L2-normalized (the ``n·scale`` factor
    cancels: ``ŝ = s/||s||``) and re-quantized at the same scale, so
    the per-row work is one exact int64 dot per sub-centroid and the
    argmax (ties → smallest cid, via lexicographic ``array_min`` on
    ``(-dot, cid)``) is deterministic and replayable."""
    structs = []
    for cid, (s, _n) in zip(labels, sub):
        norm = math.sqrt(sum(v * v for v in s))
        qc = (
            [0] * len(s)
            if norm == 0
            else [math.floor(v / norm * scale + 0.5) for v in s]
        )
        dot = int_dot_expr(
            F.col("__q__"), F.array(*[F.lit(int(v)).cast("long") for v in qc])
        )
        structs.append(F.struct((-dot).alias("d"), F.lit(cid).alias("cid")))
    return F.array_min(F.array(*structs))["cid"]


def _split_one(
    cell: DataFrame,
    recon,
    id_col: str,
    payload_cols: list[str],
    part_col: str,
    scale: int,
    split_factor: int,
    labels: list[int],
    assign_fn=None,
):
    """Train a sub-router on one oversized cell's reconstructed vectors
    and re-route its rows among the new global cids. Returns
    (moved_frame, sub_state) or (None, None) when the cell is
    unsplittable (all vectors identical). ``assign_fn(sub, labels)``
    overrides the integer-L2 assignment for families whose serving
    geometry differs (plain IVF serves cosine)."""
    vecd = cell.withColumn("__v__", recon)
    _, sub = kmeans(
        vecd, "__v__", id_col, k=split_factor, iters=1, scale=scale,
        return_state=True,
    )
    if not sub or _distinct_means(sub) < 2:
        return None, None
    q = quantize_vec_expr(F.col("__v__"), scale)
    assign = (
        assign_fn(sub, labels[: len(sub)])
        if assign_fn is not None
        else _assign_expr(sub, cids=labels[: len(sub)])
    )
    moved = (
        vecd.withColumn("__q__", q)
        .withColumn("__xx__", int_dot_expr(F.col("__q__"), F.col("__q__")))
        .withColumn(part_col, assign)
        .select(*payload_cols, part_col)
    )
    return moved, sub


def _rebalance_core(
    spark,
    cells: Cells,
    state: list[tuple[list[int], int]],
    dead: set[int],
    recon,
    id_col: str,
    payload_cols: list[str],
    scale: int,
    max_cell_rows: int | None,
    split_factor: int,
    commit,
    drop_dead_dirs: bool = True,
    assign_fn=None,
    meta: dict | None = None,
) -> dict:
    """Shared rebalance engine over the index's ``cells``, read with the
    cells schema recorded in the committed router ``meta`` (None for the
    marker-less plain family); ``recon`` is the vector reconstruction
    expression over a stored row, and
    ``commit(new_state, new_dead)`` commits the router atomically (or,
    for the router-less plain-IVF family, records the caller-visible
    centroid update). ``drop_dead_dirs=False`` defers split-cell
    directory removal to the next maintenance call — required when
    ``commit`` is NOT the durable commit point (plain IVF: the caller
    persisting the returned list is), because deleting the old dirs
    before that would strand the moved rows if the caller crashes
    first."""
    if split_factor < 2:
        raise ValueError(f"split_factor must be >= 2, got {split_factor}")
    part_col = cells.part
    _prune_stale_cells(cells.root, len(state), dead, part_col)
    sizes = cell_sizes(spark, cells.root, part_col)
    oversized, threshold = _pick_oversized(sizes, dead, max_cell_rows)
    report = {
        "cells": sizes,
        "threshold": threshold,
        "split": [],
        "unsplittable": [],
        "new_cids": [],
    }
    if not oversized:
        return report
    rows = read_cells(spark, cells, meta)
    next_cid = len(state)
    frames, new_states, split_cids = [], [], []
    for cid in oversized:
        cell = rows.where(F.col(part_col) == cid)  # partition-pruned
        labels = list(range(next_cid, next_cid + split_factor))
        moved, sub = _split_one(
            cell, recon, id_col, payload_cols, part_col, scale,
            split_factor, labels, assign_fn=assign_fn,
        )
        if moved is None:
            report["unsplittable"].append(cid)
            continue
        frames.append(moved)
        new_states.extend(sub)
        split_cids.append(cid)
        report["new_cids"].extend(labels[: len(sub)])
        next_cid += len(sub)
    if not frames:
        return report
    append_cells(reduce(lambda a, b: a.unionByName(b), frames), cells)
    commit(state + new_states, sorted(dead | set(split_cids)))
    if drop_dead_dirs:
        for cid in split_cids:  # best-effort; _prune_stale_cells self-heals
            shutil.rmtree(
                os.path.join(cells.root, f"{part_col}={cid}"),
                ignore_errors=True,
            )
    report["split"] = split_cids
    return report


def _rebalance_routered(
    spark,
    store: Store,
    path: str,
    max_cell_rows: int | None,
    split_factor: int,
    layout,
) -> dict:
    """Rebalance an sq-ivf or pq-ivf index: ``layout(meta)`` gives the
    family's vector reconstruction over a stored row and its payload
    columns besides the id."""
    rollback_torn_append(path)  # never bake a torn batch into the split
    router = load_router(store, path, serving=False)
    recon, payload = layout(router.meta)
    return _rebalance_core(
        spark, Cells(path), router.state, set(router.dead), recon,
        router.id_col, [router.id_col, *payload], router.scale,
        max_cell_rows, split_factor,
        lambda state, dead: publish_router(store, path, router, state, dead),
        meta=router.meta,
    )


def sq_ivf_rebalance(
    spark,
    path: str,
    max_cell_rows: int | None = None,
    split_factor: int = 2,
) -> dict:
    """Rebalance a :func:`~gluestick_spark.llm.cluster.materialize_sq_ivf`
    index grown skewed by appends — see the module docstring for the
    protocol. Vectors are reconstructed by dequantizing the stored int8
    codes (``qvec·scale`` — the payload itself moves verbatim). Returns
    the audit report: ``{cells, threshold, split, unsplittable,
    new_cids}``."""
    from .similarity import dequantize_expr

    return _rebalance_routered(
        spark, SQ_IVF, path, max_cell_rows, split_factor,
        lambda meta: (
            dequantize_expr(F.col("qvec"), F.col("scale")), ["scale", "qvec"]
        ),
    )


def _pq_decode_expr(meta: dict):
    """Codebook-decoded (approximate) vector from a stored PQ code array:
    per subspace j, the literal table lookup ``books[j][code[j]]`` as
    floats (sums/(n·scale)), concatenated — the same reconstruction ADC
    scoring is algebra over."""
    scale = meta["scale"]
    subs = []
    for j, book in enumerate(meta["codebooks"]):
        tab = F.array(
            *[
                F.array(
                    *[F.lit(float(v) / (n * scale)) for v in s]
                )
                for s, n in book
            ]
        )
        subs.append(
            F.element_at(tab, F.element_at(F.col("code"), j + 1) + 1)
        )
    return F.concat(*subs)


def pq_ivf_rebalance(
    spark,
    path: str,
    max_cell_rows: int | None = None,
    split_factor: int = 2,
) -> dict:
    """Rebalance a :func:`~gluestick_spark.llm.pq.materialize_pq_ivf`
    index — module-docstring protocol. Vectors are reconstructed from
    the stored codes via the persisted codebooks (or from ``qvec`` when
    the index was built with ``store_vectors=True`` — exacter, free);
    payload columns move verbatim, codes are never re-encoded."""

    def layout(meta: dict):
        if not meta.get("store_vectors"):
            return _pq_decode_expr(meta), ["code"]
        scale = float(meta["scale"])
        recon = F.transform(
            F.col("qvec"), lambda x: x.cast("double") / F.lit(scale)
        )
        return recon, ["code", "qvec"]

    return _rebalance_routered(
        spark, PQ_IVF, path, max_cell_rows, split_factor, layout
    )


def _unit_vectors(vec: Column) -> Column:
    """``vec`` scaled onto the unit sphere (spherical-kmeans training +
    cosine-faithful sub-centroid directions); zero vectors pass through
    unscaled. The norm is bound once per row — referenced inside the
    per-element lambda it would re-fold the vector for every element."""
    v = vec.cast("array<double>")
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return bind_row(
        nrm,
        lambda n: F.when(
            n > F.lit(0.0), F.transform(v, lambda x: x / n)
        ).otherwise(v),
    )


def ivf_rebalance(
    spark,
    path: str,
    centroids: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell_rows: int | None = None,
    split_factor: int = 2,
    scale: int = 1000,
) -> tuple[list, dict]:
    """Rebalance a raw-vector :func:`~gluestick_spark.llm.similarity.
    materialize_ivf` index. This family keeps no router file — the
    caller owns the centroid list — so the function RETURNS the updated
    list: split slots become ``None`` tombstones (``_probe_centroids`` /
    ``ivf_assign`` skip them) and sub-centroids append at the end; pass
    the returned list to every subsequent ``ivf_append`` /
    ``ivf_topk_indexed``. Stored vectors are exact, so sub-routers train
    on the true data — L2-NORMALIZED first, and moved rows are assigned
    with the same argmax-cosine rule ``ivf_assign`` serves with (ADVICE
    r13 #4: an integer-L2 sub-router would let rows land in sub-cells
    the cosine probe ranks low, degrading recall at ``nprobe <
    n_live``). Returns ``(new_centroids, report)``.

    Crash contract (this family shares ``ivf_append``'s
    ``_APPEND_INPROGRESS`` manifest bracket with ``cells='.'`` — ADVICE
    r13 #1): any TORN PRIOR APPEND is rolled back at entry, so an
    unacknowledged batch is never baked into the split and the stale
    manifest can never misclassify moved rows as torn. The sub-cell
    write itself runs inside a fresh bracket — a crash mid-write leaves
    the sidecar in place (probes refuse via ``require_committed``; the
    next append/rebalance rolls the torn sub-cells back). After the
    bracket commits, the OLD split-cell directories are intentionally
    LEFT IN PLACE: the durable commit point is the caller persisting
    the returned list, and until then the old list must stay fully
    servable (tombstoned cids are never probed under the new list, so
    the duplicates are invisible). Reclaim them with :func:`ivf_vacuum`
    after persisting the new list — or let the next ``ivf_rebalance``'s
    ``_prune_stale_cells`` self-heal."""
    rollback_torn_append(path)  # never bake in a torn batch
    cents = list(centroids)
    state = [
        ([0] * (len(c) if c else 1), 1) if c is None else c for c in cents
    ]  # length only; assignment below never uses this
    dead = {i for i, c in enumerate(cents) if c is None}
    new_out: dict = {}

    recon = _unit_vectors(F.col(vec_col))

    def commit_state(new_state, new_dead):
        new_out["state"] = new_state
        new_out["dead"] = set(new_dead)

    cells = plain_cells(path)
    payload = [
        c for c in spark.read.parquet(path).columns if c != cells.part
    ]
    report = _rebalance_core(
        spark, cells, state, dead, recon, id_col, payload, scale,
        max_cell_rows, split_factor, commit_state, drop_dead_dirs=False,
        assign_fn=lambda sub, labels: _cosine_assign_expr(sub, labels, scale),
    )
    if not report["split"]:
        return cents, report
    new_state, new_dead = new_out["state"], new_out["dead"]
    out: list = []
    for i in range(len(new_state)):
        if i in new_dead:
            out.append(None)
        elif i < len(cents):
            out.append(cents[i])
        else:  # appended sub-centroid: integer state → float mean
            s, n = new_state[i]
            out.append([float(v) / (n * scale) for v in s])
    return out, report


def ivf_vacuum(path: str, centroids: list, part_col: str = "centroid_id") -> list[int]:
    """Reclaim a rebalanced plain-IVF index's dead cell directories —
    call AFTER the returned centroid list from :func:`ivf_rebalance` has
    been durably persisted (the family's commit point; see the
    ivf_rebalance crash contract). Removes every ``centroid_id=N`` dir
    whose slot is a ``None`` tombstone or beyond the list (orphan
    sub-cells of a rebalance whose list was never persisted). Safe at
    any time: probes filter to live cids and never read either kind.
    Returns the pruned cids."""
    dead = {i for i, c in enumerate(centroids) if c is None}
    return _prune_stale_cells(path, len(centroids), dead, part_col)
