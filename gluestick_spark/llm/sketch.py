"""Deterministic sketching: distinct counts (K-minimum-values) and
frequent items (Space-Saving candidates + exact verify).

Spark's built-in ``approx_count_distinct`` (HLL++) is the default answer at
scale, but its estimates are engine-internal — no other system reproduces
them, so they can't be oracle-checked and can't be merged with sketches
built elsewhere. This module implements the classic **KMV (theta-style)
sketch** over a portable hash instead:

    h(x) = first 60 bits of md5(x)   — identical in Spark
           (``conv(substr(md5, 1, 15), 16, 10)``) and DuckDB
           (``CAST('0x' || substr(md5, 1, 15) AS UBIGINT)``)

Per group keep the K smallest distinct hash values. If fewer than K hashes
exist the distinct count is EXACT; otherwise the K-th smallest hash h_(K)
estimates the density of a uniform [0, 2⁶⁰) sample:

    estimate = (K − 1) · 2⁶⁰ / h_(K)

Fully deterministic → exactly reproducible by the DuckDB oracle, and
mergeable (the union of two groups' K-mins, re-truncated to K, is the
sketch of the union) for incremental/streaming maintenance.

Scale shape: distinct-hash reduction (one keyed shuffle, map-side
combine) → per-group rank window (sort-based, bounded state) → O(K) rows
per group. No collect, no unbounded per-group buffers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..partitioning import pin

__all__ = [
    "kmv_hash_expr",
    "kmv_distinct",
    "kmv_sketch",
    "kmv_merge",
    "kmv_estimate",
    "heavy_hitters",
    "kll_sketch",
    "kll_merge",
    "kll_quantiles",
]

_KMV_SPACE = float(1 << 60)


def kmv_hash_expr(col):
    """Portable 60-bit uniform hash (see module docstring)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def kmv_distinct(
    df: DataFrame,
    col: str,
    k: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Approximate distinct count of ``col`` per group via a KMV sketch.

    Returns (*group_cols, ``n_distinct_est`` double). Exact when a group
    has fewer than ``k`` distinct values; standard error ≈ 1/√(k−2)
    otherwise (~12.7% at k=64; raise k for tighter bounds — cost is O(k)
    rows per group, not a wider shuffle).
    """
    gcols = list(group_cols or [])
    # NULLs don't count (COUNT(DISTINCT) semantics — and Spark ranks nulls
    # first while DuckDB ranks them last, so letting one through would also
    # skew the k-th hash differently per engine). Two-phase rank inside
    # _k_min_hashes bounds every per-group sort.
    ranked = _k_min_hashes(df, col, k, gcols)
    agg = ranked.groupBy(*gcols).agg(
        F.max("__rn__").alias("__m__"),
        F.max(F.when(F.col("__rn__") == k, F.col("__h__"))).alias("__hk__"),
    )
    est = F.when(
        F.col("__m__") < k, F.col("__m__").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / F.col("__hk__").cast("double"))
    return agg.select(*gcols, est.alias("n_distinct_est"))


def _k_min_hashes(df: DataFrame, col: str, k: int, gcols: list[str]) -> DataFrame:
    """Per-group k smallest distinct hashes, ranked — the shared core of
    :func:`kmv_distinct` and :func:`kmv_sketch` (same two-phase rank: a
    partition-local prune bounds the final per-group sort at k×P rows)."""
    hs = (
        df.where(F.col(col).isNotNull())
        .select(*gcols, kmv_hash_expr(F.col(col)).alias("__h__"))
        .distinct()
    )
    wp = Window.partitionBy(*gcols, "__p__").orderBy(F.col("__h__").asc())
    pruned = (
        hs.withColumn("__p__", F.spark_partition_id())
        .withColumn("__prn__", F.row_number().over(wp))
        .where(F.col("__prn__") <= k)
        .drop("__p__", "__prn__")
    )
    w = Window.partitionBy(*gcols).orderBy(F.col("__h__").asc())
    return pruned.withColumn("__rn__", F.row_number().over(w)).where(F.col("__rn__") <= k)


def kmv_sketch(
    df: DataFrame,
    col: str,
    k: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Materialize the KMV sketch itself: (*group_cols, ``kmv`` —
    sorted array<long> of the ≤k smallest distinct hashes of ``col``).

    The sketch is a value: persist it with a snapshot, ship it across
    systems (the hash is portable — see module docstring), and **merge** it
    with later sketches (:func:`kmv_merge`) instead of rescanning history.
    The collect_list is bounded at k elements per group by the rank filter,
    so no unbounded per-group buffer exists."""
    gcols = list(group_cols or [])
    ranked = _k_min_hashes(df, col, k, gcols)
    return ranked.groupBy(*gcols).agg(
        F.array_sort(F.collect_list("__h__")).alias("kmv")
    )


def kmv_merge(
    sketches: DataFrame,
    k: int = 64,
    group_cols: list[str] | None = None,
    sketch_col: str = "kmv",
) -> DataFrame:
    """Merge any number of KMV sketch rows per group into one sketch.

    Merge law: the k smallest of a union equals the k smallest of the
    union of each part's k smallest — so ``kmv_merge(kmv_sketch(A) ∪
    kmv_sketch(B))`` is BIT-IDENTICAL to ``kmv_sketch(A ∪ B)``. This is
    what makes incremental/streaming distinct counts ride the snapshot
    machinery: sketch each increment, store, merge on read.

    Plan: explode (≤k rows per input sketch) → distinct → per-group rank
    ≤ k → sorted collect. All shuffles on the group key."""
    gcols = list(group_cols or [])
    hs = (
        sketches.select(*gcols, F.explode(F.col(sketch_col)).alias("__h__"))
        .distinct()
    )
    w = Window.partitionBy(*gcols).orderBy(F.col("__h__").asc())
    ranked = hs.withColumn("__rn__", F.row_number().over(w)).where(F.col("__rn__") <= k)
    return ranked.groupBy(*gcols).agg(
        F.array_sort(F.collect_list("__h__")).alias(sketch_col)
    )


def kmv_estimate(
    sketches: DataFrame,
    k: int = 64,
    group_cols: list[str] | None = None,
    sketch_col: str = "kmv",
) -> DataFrame:
    """Distinct-count estimate from materialized sketches — pure per-row
    arithmetic (no shuffle): exact size when the sketch is unsaturated,
    else (k−1)·2⁶⁰/h₍k₎. Estimates from merged sketches match a
    from-scratch :func:`kmv_distinct` over the union exactly."""
    gcols = list(group_cols or [])
    arr = F.col(sketch_col)
    est = F.when(
        F.size(arr) < k, F.size(arr).cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / F.element_at(arr, k).cast("double")
    )
    return sketches.select(*gcols, est.alias("n_distinct_est"))


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 20,
    capacity: int = 4096,
    count_col: str = "n",
) -> DataFrame:
    """Global top-``k`` most frequent values of ``col`` with EXACT counts,
    without ever materializing the full ``value → count`` table — the
    frequent-items primitive (corpus vocabulary heads, hot URLs/domains,
    skewed-key discovery before a join).

    Two-pass candidate-generation + exact-verify:

    1. **Candidates** — per Arrow partition, a Space-Saving summary
       (Metwally et al.) of at most ``capacity`` counters: bounded memory
       per task regardless of the true cardinality. A value with global
       frequency > N/``capacity`` is guaranteed to exceed the threshold in
       at least one partition, so the union of per-partition candidate
       sets is a superset of every such value; with ``capacity`` sized so
       that N/``capacity`` is below the k-th frequency, the top-k are all
       candidates. When a partition sees fewer than ``capacity`` distinct
       values (the common case for vocabularies), its summary is exact.
    2. **Verify** — one more scan counts ONLY the candidates exactly:
       broadcast hash semi-join (the candidate set is ≤ capacity ×
       partitions rows, deduped) then a hash aggregate with map-side
       combine.

    Final order is (count desc, value asc) — a total order, so the
    ``limit(k)`` boundary is deterministic and the result is reproducible
    by an exact-count oracle. The top-k itself is
    ``TakeOrderedAndProject`` — no global sort.

    **Completeness guarantee, checked at runtime.** Space-Saving's error
    contract: any value absent from a partition's summary has a true
    count in that partition of at most the summary's minimum counter
    value (≤ N_p/``capacity``). Each partition therefore emits its
    post-scan minimum counter (0 when it never evicted — then the
    summary is exact); the SUM of those minima is a hard upper bound on
    the global count of ANY non-candidate value. The returned plan
    verifies ``k-th verified count > bound`` (or bound == 0) and RAISES
    at materialization when the guarantee fails — a too-small
    ``capacity`` can no longer silently drop a true top-k member; the
    error message says what capacity to retry with. The check is free:
    the bound is a one-row aggregate over the (tiny, capacity-bounded)
    candidate summary, broadcast onto the ≤ k result rows.

    This is the one Python crossing in the sketch family; it's
    Arrow-batched ``mapInPandas`` over a single projected column (never
    row-at-a-time), and it exists because a bounded-memory streaming
    summary is genuinely outside Catalyst's aggregate model — the
    JVM-side alternative (full groupBy count) shuffles the entire
    cardinality, which is exactly what this operator avoids at 100 TB.
    The summary is pinned eagerly (capacity × partitions rows, tiny) so
    its two consumers — the candidate join and the error-bound
    aggregate — cost ONE corpus scan, not two.
    """
    if k < 1 or capacity < 1:
        raise ValueError(f"k and capacity must be >= 1, got {k}, {capacity}")
    terms = df.where(F.col(col).isNotNull()).select(
        F.col(col).cast("string").alias("__t__")
    )

    def _space_saving(batches):
        import heapq

        import pandas as pd

        # counters holds the live summary; heap is a lazy min-index over
        # it ((count, term) entries go stale when a counter is bumped —
        # stale tops are popped on demand, and the heap is rebuilt from
        # the live dict when it outgrows 4×capacity). Eviction is
        # O(log capacity) amortized; the naive min(counters, key=...)
        # scan was O(capacity) per eviction — quadratic-ish on
        # high-cardinality columns where nearly every new value evicts.
        counters: dict[str, int] = {}
        heap: list[tuple[int, str]] = []
        evicted = False
        for pdf in batches:
            for term, cnt in pdf["__t__"].value_counts().items():
                c = int(cnt)
                if term in counters:
                    counters[term] += c
                    heapq.heappush(heap, (counters[term], term))
                elif len(counters) < capacity:
                    counters[term] = c
                    heapq.heappush(heap, (c, term))
                else:
                    # Space-Saving eviction: replace the minimum counter;
                    # the newcomer inherits min + its batch count (an upper
                    # bound — fine, candidates are exactly recounted).
                    evicted = True
                    while heap[0][1] not in counters or counters[heap[0][1]] != heap[0][0]:
                        heapq.heappop(heap)
                    mv, mk = heapq.heappop(heap)
                    del counters[mk]
                    counters[term] = mv + c
                    heapq.heappush(heap, (mv + c, term))
                if len(heap) > 4 * capacity:
                    heap = [(v, t) for t, v in counters.items()]
                    heapq.heapify(heap)
        # Counter rows (__err__ NULL) + one sentinel row (__t__ NULL)
        # carrying this partition's non-candidate count bound.
        err = min(counters.values()) if evicted and counters else 0
        yield pd.DataFrame(
            {
                "__t__": list(counters.keys()) + [None],
                "__err__": [None] * len(counters) + [err],
            }
        )

    summary = pin(
        terms.mapInPandas(_space_saving, "__t__ string, __err__ long"),
        eager=True,
    )
    candidates = summary.where(F.col("__t__").isNotNull()).select("__t__").distinct()
    bound_df = summary.agg(
        F.coalesce(F.sum("__err__"), F.lit(0)).alias("__bound__")
    )
    exact = terms.join(F.broadcast(candidates), "__t__").groupBy("__t__").agg(
        F.count(F.lit(1)).alias(count_col)
    )
    topk = exact.orderBy(F.col(count_col).desc(), F.col("__t__").asc()).limit(k)
    w = Window.partitionBy()
    checked = (
        topk.join(F.broadcast(bound_df))
        .withColumn("__minc__", F.min(count_col).over(w))
        .withColumn("__nres__", F.count(F.lit(1)).over(w))
    )
    complete = (F.col("__bound__") == 0) | (
        (F.col("__nres__") == k) & (F.col("__minc__") > F.col("__bound__"))
    )
    guard = F.when(complete, F.col("__t__")).otherwise(
        F.raise_error(
            F.concat_ws(
                " ",
                F.lit("heavy_hitters: top-k completeness not guaranteed —"),
                F.lit("k-th verified count"),
                F.col("__minc__").cast("string"),
                F.lit("<= non-candidate bound"),
                F.col("__bound__").cast("string"),
                F.lit(f"(or fewer than k={k} candidates);"),
                F.lit(f"retry with capacity > {2 * capacity}"),
            )
        )
    )
    # the broadcast-join + window pass above makes the earlier topk
    # ordering plan-incidental — re-assert the documented deterministic
    # order (count desc, term asc) as the final operator
    return checked.select(guard.alias(col), count_col).orderBy(
        F.col(count_col).desc(), F.col(col).asc()
    )


# ---------------------------------------------------------------------------
# KLL-style mergeable quantile sketch
# ---------------------------------------------------------------------------
#
# ``grouped_percentiles``/``table_stats`` compute EXACT percentiles — a
# per-group sort that is fine per query but wrong for 100 TB PROFILING,
# where you want to sketch once, persist a few KB per group, and merge
# increments forever (the KMV posture applied to quantiles). This is a
# KLL/MRL-family compactor hierarchy (Karnin-Lang-Liberty 2016): level l
# holds items of weight 2^l in a buffer of capacity ~k·(2/3)^(H−1−l); a
# full buffer sorts and promotes alternating items to level l+1.
# Randomness is replaced by a per-level alternating parity (the classic
# deterministic MRL device), so a sketch is a pure function of insertion
# order — reproducible, and pinned by an error-bound pytest battery
# rather than an SQL oracle (sketch contents are not SQL-expressible;
# the L101 precedent). Weight is conserved EXACTLY: an odd buffer leaves
# one item behind (alternating end), so the flattened weighted item set
# always sums to n — tested, and the device that keeps rank targets
# meaningful after any merge chain.
#
# Stopping rule: _compress compacts overfull levels only while TOTAL
# size exceeds TOTAL capacity — a deliberate deviation from the paper's
# per-level-overflow trigger (classic KLL compacts any level above its
# own cap immediately). A level may therefore sit above its individual
# cap while the hierarchy as a whole fits; memory stays bounded by the
# same total, but the error CONSTANTS are not the paper's — the error
# contract here is the empirical pytest band (test_sketch quantile
# battery), not Karnin-Lang-Liberty's analytic constant.
#
# Scale shape: one mapInPandas pass builds per-(input-partition, group)
# partial sketches (bounded memory, no shuffle), then ONE keyed shuffle
# moves only the sketches (O(k·log n) doubles each) into a per-group
# applyInPandas merge. These two Arrow crossings are documented
# (PLANAUDIT): a bounded-memory streaming summary is genuinely outside
# Catalyst's aggregate model — the JVM alternative (exact percentile)
# shuffles the full column. Estimation (kll_quantiles) is pure Catalyst:
# explode the (few) sketch rows to weighted items, one tiny window
# cumsum, pick min value with cumulative weight ≥ ⌈p·n⌉.

_KLL_STRUCT = "struct<n: bigint, levels: array<array<double>>, pars: array<int>>"


class _KLLState:
    """Driver/worker-side compactor hierarchy (pure Python, used only
    inside Arrow batches)."""

    __slots__ = ("k", "n", "levels", "pars")

    def __init__(self, k: int):
        self.k = k
        self.n = 0
        self.levels: list[list[float]] = [[]]
        self.pars: list[int] = [0]

    def _cap(self, lvl: int) -> int:
        import math

        h = len(self.levels)
        return max(2, int(math.ceil(self.k * (2.0 / 3.0) ** (h - 1 - lvl))))

    def update(self, v: float) -> None:
        self.levels[0].append(v)
        self.n += 1
        if len(self.levels[0]) >= self._cap(0):
            self._compress()

    def update_many(self, vals) -> None:
        # Bulk insert: extend level 0 with the whole Arrow batch, then
        # compress once. Compacting an oversized buffer in one operation
        # is sound — KLL's rank error is bounded PER COMPACTION (≤ 2^l
        # each), so fewer, larger compactions only tighten the bound;
        # memory stays bounded by the Arrow batch size.
        self.levels[0].extend(vals)
        self.n += len(vals)
        if len(self.levels[0]) >= self._cap(0):
            self._compress()

    def _compress(self) -> None:
        while True:
            if sum(map(len, self.levels)) <= sum(
                self._cap(l) for l in range(len(self.levels))
            ):
                return
            for l in range(len(self.levels)):
                if len(self.levels[l]) >= self._cap(l):
                    buf = sorted(self.levels[l])
                    par = self.pars[l] & 1
                    leftover = []
                    if len(buf) % 2:
                        # odd buffer: one item stays (alternating end) so
                        # promoted weight exactly equals compacted weight
                        leftover = [buf.pop() if par == 0 else buf.pop(0)]
                    promoted = buf[par::2]
                    self.levels[l] = leftover
                    self.pars[l] ^= 1
                    if l + 1 == len(self.levels):
                        self.levels.append([])
                        self.pars.append(0)
                    self.levels[l + 1].extend(promoted)
                    break
            else:
                return

    def merge(self, n: int, levels, pars) -> None:
        self.n += int(n)
        for l, items in enumerate(levels):
            while l >= len(self.levels):
                self.levels.append([])
                self.pars.append(0)
            self.levels[l].extend(float(v) for v in items)
        self._compress()

    def row(self):
        return (
            self.n,
            [list(map(float, lv)) for lv in self.levels],
            list(self.pars),
        )


def kll_sketch(
    df: DataFrame,
    col: str,
    k: int = 200,
    group_cols: list[str] | None = None,
    sketch_col: str = "kll",
) -> DataFrame:
    """Mergeable quantile sketch of ``col`` per group: (*group_cols,
    ``sketch_col`` struct<n, levels, pars>). ~k·log(n/k) doubles per
    group; rank error empirically ≤ ~2/k·n at k=200 (pytest battery).
    NULLs don't count (percentile semantics). Persist it, ship it,
    merge increments with :func:`kll_merge`, read quantiles any time
    with :func:`kll_quantiles` — never rescan history."""
    if k < 8:
        raise ValueError(f"k must be >= 8, got {k}")
    gcols = list(group_cols or [])
    src = df.select(*gcols, F.col(col).cast("double").alias("__v__"))
    gfields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in src.schema.fields[: len(gcols)]
    )
    schema = (gfields + ", " if gfields else "") + f"{sketch_col} {_KLL_STRUCT}"

    def _partials(batches):
        import pandas as pd

        states: dict[tuple, _KLLState] = {}

        def upd(key: tuple, vals: list) -> None:
            st = states.get(key)
            if st is None:
                # register the group even when all its rows are null: an
                # all-null group must surface as an n=0 sketch, not vanish
                st = states[key] = _KLLState(k)
            if vals:
                st.update_many(vals)

        for pdf in batches:
            if gcols:
                # vectorized per-group bulk insert (the per-row Python
                # loop was the hot path); dropna=False keeps null-keyed
                # groups — Spark's final groupBy reconciles them
                for key, sub in pdf.groupby(gcols, dropna=False, sort=False):
                    if not isinstance(key, tuple):
                        key = (key,)
                    upd(key, sub["__v__"].dropna().tolist())
            else:
                upd((), pdf["__v__"].dropna().tolist())
        if not states:
            # empty partition: yield nothing (an empty pandas frame
            # infers float64 columns, which Arrow refuses to cast)
            return
        out = {c: [] for c in gcols}
        out[sketch_col] = []
        for key, st in states.items():
            for c, v in zip(gcols, key):
                out[c].append(v)
            out[sketch_col].append(st.row())
        yield pd.DataFrame(out)

    partials = src.mapInPandas(_partials, schema)
    return _kll_merge_grouped(partials, k, gcols, sketch_col, schema)


def _kll_merge_grouped(
    sketches: DataFrame, k: int, gcols: list[str], sketch_col: str, schema: str
) -> DataFrame:
    def _merge(pdf):
        import pandas as pd

        st = _KLLState(k)

        def _unpack(r):
            # Arrow hands a struct cell to pandas as a dict; rows built
            # in-process (tests) may be tuples/Rows
            if isinstance(r, dict):
                return r["n"], r["levels"], r["pars"]
            return r[0], r[1], r[2]

        # deterministic merge order: partial arrival order is
        # partition-scheduling noise, so sort by serialized content
        rows = sorted(
            (_unpack(r) for r in pdf[sketch_col]),
            key=lambda r: (r[0], str(r[1]), str(r[2])),
        )
        for n, levels, pars in rows:
            st.merge(n, levels, pars)
        out = {c: [pdf[c].iloc[0]] for c in gcols}
        out[sketch_col] = [st.row()]
        return pd.DataFrame(out)

    return sketches.groupBy(*gcols).applyInPandas(_merge, schema)


def kll_merge(
    sketches: DataFrame,
    k: int = 200,
    group_cols: list[str] | None = None,
    sketch_col: str = "kll",
) -> DataFrame:
    """Merge any number of KLL sketch rows per group into one sketch —
    level-wise concatenation + re-compaction, so incremental profiling
    rides the snapshot machinery exactly like :func:`kmv_merge`. Weight
    (n) is conserved exactly; rank error grows with the merge chain but
    stays within the pytest-pinned band."""
    gcols = list(group_cols or [])
    gfields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in sketches.select(*gcols).schema.fields
    )
    schema = (gfields + ", " if gfields else "") + f"{sketch_col} {_KLL_STRUCT}"
    return _kll_merge_grouped(sketches, k, gcols, sketch_col, schema)


def kll_quantiles(
    sketches: DataFrame,
    probs: list[float],
    group_cols: list[str] | None = None,
    sketch_col: str = "kll",
) -> DataFrame:
    """Quantile estimates from materialized sketches — PURE CATALYST
    (no Python): explode sketch items with weight 2^level, one window
    cumsum per group (over O(k·log n) rows per group, never the data),
    and for each prob p return the smallest item whose cumulative
    weight reaches ⌈p·n⌉. Returns (*group_cols, ``prob`` double,
    ``value`` double); an all-null group (n=0) estimates NULL."""
    from pyspark.sql.window import Window

    if not probs:
        raise ValueError("probs must be non-empty")
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"probs must be in [0, 1], got {p}")
    gcols = list(group_cols or [])
    items = sketches.select(
        *gcols,
        F.col(f"{sketch_col}.n").alias("__n__"),
        F.posexplode_outer(
            F.col(f"{sketch_col}.levels")
        ).alias("__lvl__", "__items__"),
    ).select(
        *gcols,
        "__n__",
        "__lvl__",
        # outer explodes keep empty (n=0) sketches visible as one
        # null-item row — weight 0 so it can never satisfy a target
        F.explode_outer("__items__").alias("__v__"),
    ).select(
        *gcols,
        "__n__",
        F.when(
            F.col("__v__").isNotNull(),
            F.expr("shiftleft(CAST(1 AS BIGINT), __lvl__)"),
        ).otherwise(F.lit(0)).alias("__w__"),
        "__v__",
    )
    w = Window.partitionBy(*gcols).orderBy(F.col("__v__").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = items.withColumn("__cum__", F.sum("__w__").over(w))
    pdf = F.explode(
        F.array(*[F.lit(float(p)) for p in probs])
    ).alias("prob")
    probed = cum.select(*gcols, "__n__", "__cum__", "__v__", pdf)
    target = F.greatest(F.lit(1), F.ceil(F.col("prob") * F.col("__n__")))
    return probed.groupBy(*gcols, "prob").agg(
        F.min(F.when(F.col("__cum__") >= target, F.col("__v__"))).alias("value")
    )
