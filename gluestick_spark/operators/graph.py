"""Graph centrality: deterministic fixed-iteration PageRank.

Beyond-reference operator (the pandas reference at
/root/reference/gluestick has no graph ops; transitive-closure
connected components already live in ``llm/dedup.py``). A training-data
pipeline uses link-graph centrality as a document/domain quality prior
(crawl frontier ordering, CommonCrawl-style harmonic/PageRank weights).

Determinism contract (the same replayable-integer device as
``llm/cluster.py``): ranks are **int64 micro-mass**, never floats.

* Every node starts at ``r0`` (default 10⁹ — "rank 1.0" at 9 decimal
  places).
* One update: ``r'(v) = base + Σ_{u→v} floor(d·r(u) / outdeg(u))``
  with the damping ``d`` an exact percentage — the flow term is
  ``floor((pct·r) / (100·outdeg))`` computed as the IEEE division of
  two exactly-represented int64s, so every engine floors the same
  double. ``base = (100−pct)·r0/100`` is a constant (no division by N
  anywhere).
* Dangling mass (nodes with no out-edges) is dropped, not
  redistributed — the classic simplification, stated so the oracle is
  unambiguous.

Exactness bound: operands stay < 2⁵³ while ``pct · Σr < 2⁵³``, i.e.
**~10⁵ nodes at r0 = 10⁹** (total mass concentrates in the worst
case); shrink ``r0`` for bigger graphs (10⁶ still gives 6 decimal
places at ~10⁸ nodes). Loud ANSI overflow far beyond that.

Scale posture (100 TB): the GraphX/Pregel shuffle pattern — each
iteration is one hash join (ranks ⋈ edges on src, both sides keyed the
same so AQE reuses the exchange) and one map-side-combined groupBy on
dst; shuffle volume ∝ |E| per iteration, never |V|·|E|. Edges are
derived once and pinned (``partitioning.pin``, which states the policy
and its fault-tolerance trade-off; a later reliable checkpoint mode
would attach there). Iterations is a FIXED small constant (the
driver holds no per-node state, unlike kmeans — state stays
distributed in the ranks frame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import pin

__all__ = ["hits", "label_propagation", "pagerank", "triangle_count"]


def _edge_frames(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame]:
    """The pinned simple directed edge set (``__src__``, ``__dst__``; null
    endpoints and duplicates dropped) and its pinned ``node`` set, which
    every iteration of the label / score loops reuses."""
    e = pin(
        edges.select(F.col(src).alias("__src__"), F.col(dst).alias("__dst__"))
        .where(F.col("__src__").isNotNull() & F.col("__dst__").isNotNull())
        .distinct()
    )
    nodes = pin(
        e.select(F.col("__src__").alias("node"))
        .unionAll(e.select(F.col("__dst__").alias("node")))
        .distinct()
    )
    return e, nodes


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) —
    (``node``, ``label``) community assignment after ``iters`` rounds.
    The cheap community detector for interaction graphs: near-duplicate
    site clusters, user cohorts, topic islands in a link graph — the
    grouping prior a corpus auditor reads before choosing dedup keys.

    Determinism contract (this module's device): NO floats and NO random
    tie-breaks anywhere. ``label(v, 0) = v``; each round every node
    adopts the most frequent label among its in-neighbors, ties broken
    to the SMALLEST label (natural ordering of the node type), nodes
    with no in-edges keep their label. Synchronous update on a fixed
    iteration count — replayable in any engine, at the known cost that
    bipartite regions may oscillate rather than converge (callers on
    bipartite graphs: pass an even/odd ``iters`` deliberately).

    Scale posture (100 TB): per round ONE |E|-shuffle hash join
    (labels ⋈ edges on src) and TWO chained map-side-combined
    aggregates — ``groupBy(node, label).count()`` then the per-node
    argmax as ``min(struct(-n, label))`` (struct lexicographic min =
    highest count, ties to smallest label) — no window sort, no
    row_number. Driver holds zero per-node state; edges are pinned
    once and reused every round (GraphX/Pregel shuffle shape).
    """
    if iters < 0:
        raise ValueError("iters >= 0 required")
    e, nodes = _edge_frames(edges, src, dst)
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(iters):
        counts = (
            e.join(labels.withColumnRenamed("node", "__src__"), "__src__")
            .groupBy(F.col("__dst__").alias("node"), "label")
            .agg(F.count("*").alias("__n__"))
        )
        top = (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__n__")).alias("negn"),
                        F.col("label").alias("label"),
                    )
                ).alias("__m__")
            )
            .select("node", F.col("__m__.label").alias("__new__"))
        )
        labels = labels.join(top, "node", "left").select(
            "node", F.coalesce("__new__", "label").alias("label")
        )
    return labels


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    scale: int = 10**6,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) — (``node``, ``hub``,
    ``authority`` as int64 in [0, ``scale``]). The canonical centrality
    for BIPARTITE interaction graphs (users ↔ content): a good hub
    points at good authorities and vice versa.

    Determinism contract (same integer device as :func:`pagerank`):
    scores are int64; each half-step is an exact integer sum over
    in/out-neighbors followed by **max-normalization** ``x ← floor(x ·
    scale / max(x))`` — the floor of an IEEE division of two exact
    int64s, identical in every engine (identical even past 2⁵³: both
    engines round the same int64 to the same IEEE double first), and it
    caps the magnitude so a fixed iteration count can never overflow.
    Bound: the normalization multiplies raw sums (≤ maxdeg·scale) by
    ``scale``, so int64 holds while **maxdeg ≤ 2⁶³/scale² ≈ 9.2·10⁶ at
    scale=10⁶** — shrink ``scale`` for hub degrees beyond that; ANSI
    mode errors loudly, never corrupts.

    Plan shape per iteration: two edge-keyed joins + two map-side-
    combined aggregates (shuffle ∝ |E|). Each half-step's node-keyed
    score frame is pinned and its 1-row max
    collected as driver algorithm state (the kmeans-loop pattern) and
    folded back as a literal: the earlier ``crossJoin(broadcast(max))``
    form read the un-pinned half-step frame TWICE (once under the
    broadcast, once in the join), doubling the physical plan every
    half-step — 2^(2·iters) copies of the first aggregate by the end.
    """
    if iters < 0:
        raise ValueError("iters >= 0 required")
    e, nodes = _edge_frames(edges, src, dst)

    def _norm(df: DataFrame, col: str) -> DataFrame:
        # pin the half-step frame, then fold its 1-row max back as a
        # literal — the same floor(int64·scale / int64) in double, with
        # the max read from driver state instead of a broadcast column
        full = pin(df)
        mx = full.agg(F.max(col).alias("__mx__")).first()[0]
        if mx is None:
            mx = 1  # empty graph: `full` has no rows to normalize
        return full.select(
            "node",
            F.floor(
                (F.col(col) * F.lit(int(scale))).cast("double")
                / F.lit(int(mx)).cast("long").cast("double")
            )
            .cast("long")
            .alias(col),
        )

    hub = nodes.withColumn("hub", F.lit(int(scale)).cast("long"))
    auth = nodes.withColumn("authority", F.lit(int(scale)).cast("long"))
    for _ in range(iters):
        # authority(v) = Σ hub(u) over u→v, then max-normalize
        a_raw = (
            e.join(hub.withColumnRenamed("node", "__src__"), "__src__")
            .groupBy(F.col("__dst__").alias("node"))
            .agg(F.sum("hub").alias("authority"))
        )
        auth = _norm(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce("authority", F.lit(0)).alias("authority")
            ),
            "authority",
        )
        # hub(u) = Σ authority(v) over u→v, then max-normalize
        h_raw = (
            e.join(auth.withColumnRenamed("node", "__dst__"), "__dst__")
            .groupBy(F.col("__src__").alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        hub = _norm(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce("hub", F.lit(0)).alias("hub")
            ),
            "hub",
        )
    return hub.join(auth, "node").select("node", "hub", "authority")


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED simple graph —
    (``node``, ``n_triangles``). Triangles are the local-clustering /
    community-density signal (market-basket co-occurrence cliques,
    link-farm detection in crawl graphs).

    Input edges may be directed/duplicated — they are canonicalized
    (min, max) and deduped first; self-loops are dropped.

    Scale posture: the **degree-orientation** algorithm — every edge is
    oriented from its lower-(degree, node) endpoint to the higher one,
    a total order, so each triangle is generated EXACTLY ONCE at its
    lowest-degree apex. The wedge join then costs Σ_u outdeg(u)² with
    outdeg ≤ O(√|E|) by construction — O(|E|^1.5) worst case instead of
    the Σ deg(u)² hub blowup a naive adjacency join hits on power-law
    graphs (one celebrity node would otherwise square). Three shuffles
    total: degree aggregate, wedge self-join on the apex, closing-edge
    semi-join.

    ``max_degree`` (VERDICT r9 #4) is the loud hub cap — the
    ``containment_pairs`` stop-shingle device applied to graphs. The
    O(|E|^1.5) bound is a TOTAL; a single super-hub inside a dense
    neighborhood can still own the dominant wedge set. With the cap
    set, nodes whose canonical degree exceeds it are REMOVED first
    (with their edges), and the result is EXACT on the capped subgraph
    — the cap is part of the contract, deterministic and
    oracle-replayable, never a silent truncation. Hub nodes emit no
    output rows (they were not judged), exactly like zero-rare-shingle
    documents in ``containment_pairs``. On a graph whose max degree is
    within the cap, capped ≡ uncapped (pytest-pinned). Per-apex wedge
    cost is then ≤ min(max_degree, √|E|)², bounding the worst
    partition regardless of skew.
    """
    if max_degree is not None and max_degree < 1:
        raise ValueError(f"max_degree must be >= 1, got {max_degree}")
    # canonical edges feed three consumers (degrees, orientation join,
    # closing-edge join) — pin them once
    e = pin(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    if max_degree is not None:
        full_deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("__deg__"))
        )
        ok = full_deg.where(F.col("__deg__") <= max_degree).select("node")
        # induced subgraph: both endpoints within the cap; re-pin — the
        # capped edge set again feeds three consumers
        e = pin(
            e.join(ok.withColumnRenamed("node", "a"), "a")
            .join(ok.withColumnRenamed("node", "b"), "b")
        )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("__deg__"))
    )
    # orient by (degree, node) — a total order, so orientation is acyclic
    da = deg.select(F.col("node").alias("a"), F.col("__deg__").alias("__da__"))
    db = deg.select(F.col("node").alias("b"), F.col("__deg__").alias("__db__"))
    ranked = e.join(da, "a").join(db, "b")
    lower_first = (F.col("__da__") < F.col("__db__")) | (
        (F.col("__da__") == F.col("__db__")) & (F.col("a") < F.col("b"))
    )
    oriented = pin(
        ranked.select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    # wedges at apex u: (v, w) with v < w; the triangle closes iff the
    # canonical edge (v, w) exists
    # wedge generation (r15): ONE groupBy(u) aggregate collecting the
    # sorted out-neighborhood, then a narrow pair explosion — instead of
    # the self-join on u, which shuffled the oriented edge set into a
    # hash join just to emit the same Σ outdeg(u)² pairs. The adjacency
    # list per apex is bounded by outdeg ≤ min(max_degree, O(√|E|)) by
    # the orientation, so collect_list never materializes a hub; the
    # exploded (x, y) pairs with x < y are exactly the self-join's wedge
    # multiset (oriented edges are distinct, sort_array gives x < y),
    # and they flow map-side straight into the Bloom probe below.
    # The adjacency frame is tiny (one row per apex, compact lists), so
    # AQE coalesces its shuffle to a handful of partitions — but the
    # explosion below fans each row out to outdeg² wedges, and that
    # work must spread over every core. Re-spread the CHEAP side (list
    # rows) with an explicit count; the wedge stream itself never takes
    # an extra exchange. Salting by apex id keeps hot apexes separated.
    par = oriented.sparkSession.sparkContext.defaultParallelism
    adj = (
        oriented.groupBy("u")
        .agg(F.sort_array(F.collect_list("v")).alias("__vs__"))
        .repartition(max(par, 1) * 2, "u")
    )
    wedges = adj.select(
        F.col("u"),
        F.explode(
            F.expr(
                "flatten(transform(__vs__, (x, i) -> "
                "transform(slice(__vs__, i + 2, size(__vs__)), "
                "y -> struct(x AS x, y AS y))))"
            )
        ).alias("__w__"),
    ).select("u", F.col("__w__.x").alias("x"), F.col("__w__.y").alias("y"))
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    # The closing join's left side is the WEDGE stream — Σ outdeg(u)²
    # rows, the O(|E|^1.5) bulk of the algorithm — of which only the
    # closing fraction survives (4.5% on the sf0.1 part graph: 41M
    # wedges → 1.9M triangles). Guide §3.2: drop definitely-non-closing
    # wedges BEFORE the exchange with a Bloom filter over the canonical
    # edge keys. The filter is map-side (bit_or bitmap + k broadcast
    # word probes, llm/bloom.py), sized from the pinned edge
    # count, and exact-join-verified downstream, so false positives
    # only cost shuffle bytes and the result is unchanged. The edge
    # side then builds a per-partition hash table (shuffle_hash hint)
    # instead of sorting the wedge stream — the build side is the edge
    # set, ≤ the wedge stream by construction at any scale.
    n_edges = e.count()  # e is pinned: one cheap job, and
    # it both sizes the filter and decides whether it pays at all
    if n_edges >= 100_000:
        from ..llm.bloom import bloom_prefilter, bloom_words

        # k=2 probes with a 2× larger bitmap instead of k=3: same FP
        # ballpark ((1−e^(−2n/m))² ≈ 0.3% at m=32n) for one fewer
        # broadcast join over the Σ outdeg² wedge stream — the probe
        # cost scales with the wedges, the bitmap only with |E|.
        m_bits = 64
        while m_bits < min(32 * n_edges, 1 << 28):
            m_bits <<= 1
        words = bloom_words(
            closing.select(F.xxhash64("x", "y").alias("__eh__")),
            "__eh__", m_bits, 2,
        )
        wedges = bloom_prefilter(
            wedges.withColumn("__wh__", F.xxhash64("x", "y")),
            "__wh__", words, m_bits, 2,
        ).drop("__wh__")
    tris = wedges.join(closing.hint("shuffle_hash"), ["x", "y"]).select(
        F.col("u").alias("n1"), F.col("x").alias("n2"), F.col("y").alias("n3")
    )
    # one explode, NOT a 3-way unionAll of tris projections: union branches
    # share no subtree in the physical plan, so the union form re-ran the
    # whole wedge + Bloom + closing-join chain three times (guide §7.2,
    # duplicated subtrees — measured 2× the row's exec time at sf0.1)
    per_node = (
        tris.select(
            F.explode(F.array("n1", "n2", "n3")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    # nodes in no triangle still appear, with 0
    return deg.select("node").join(per_node, "node", "left").select(
        "node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
    r0: int = 10**9,
) -> DataFrame:
    """(``node``, ``rank`` long) after ``iters`` damped updates.

    ``edges`` is a directed edge list; duplicates are collapsed (simple
    graph). Nodes = src ∪ dst. ``damping_pct`` is the damping factor as
    an exact integer percentage (85 = the classic 0.85).
    """
    if iters < 0:
        raise ValueError("iters >= 0 required")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    base = (100 - damping_pct) * r0 // 100

    e, nodes = _edge_frames(edges, src, dst)
    outdeg = e.groupBy("__src__").agg(F.count("*").alias("__deg__"))

    ranks = nodes.withColumn("rank", F.lit(int(r0)).cast("long"))
    for _ in range(iters):
        flow = F.floor(
            (F.lit(int(damping_pct)).cast("long") * F.col("rank")).cast("double")
            / (F.lit(100).cast("long") * F.col("__deg__")).cast("double")
        )
        contrib = (
            e.join(outdeg, "__src__")
            .join(ranks.withColumnRenamed("node", "__src__"), "__src__")
            .groupBy(F.col("__dst__").alias("node"))
            .agg(F.sum(flow).alias("__in__"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(int(base)).cast("long") + F.coalesce("__in__", F.lit(0))).alias(
                "rank"
            ),
        )
    return ranks
