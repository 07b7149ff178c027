"""Fuzzy (edit-distance) self-join — typo-tolerant near-dup detection for
SHORT strings (titles, names, product labels), the record-linkage /
entity-resolution primitive.

Scale design — the naive formulation is an O(N²) cross join with a
per-pair Levenshtein; this implementation layers three classic rewrites:

1. **Exact-group compression.** Real short-string corpora are duplicate-
   heavy (the same title appears thousands of times). All pairwise work
   runs on DISTINCT strings only: one hash aggregate collapses duplicates
   to a representative + member-id list, and pairs expand back afterwards
   — identical-string pairs at distance 0 without a single Levenshtein
   call, and the quadratic candidate stage sees each string once however
   many copies exist. (A 10× duplicate flood multiplies candidate pairs
   100× without this; with it, candidates are unchanged and only the
   OUTPUT — which is genuinely 100× — grows.)
2. **Length blocking.** Edit distance ≤ k implies lengths differ by ≤ k:
   bucket lengths at width k+1, replicate the build side to its bucket ±1
   — every qualifying pair collides in an equi-join on
   (bucket, prefix gram [, block_cols…]), the usual entity-resolution
   move (block first, fuzzy within the block).
3. **Positional q-gram prefix filtering** (ED-Join, Xiao et al. 2008).
   k edit operations destroy at most q·k of a string's positional
   q-grams, and preserved grams shift position by at most k — so two
   strings within distance k must share a gram, at positions differing
   by ≤ k, among the FIRST q·k+1 grams of each when both gram lists are
   sorted by ascending global gram frequency (rarest first). Candidates
   are therefore an equi-join on (length bucket, prefix gram) with a
   |Δpos| ≤ k filter — a uniform-length low-duplicate corpus (names,
   titles) no longer goes quadratic inside its length bucket: random
   distinct strings almost never share a rare prefix gram. The gram
   frequency table is alphabet^q-bounded (tiny) and broadcast.
4. **Threshold verify.** JVM ``levenshtein(a, b, k)`` short-circuits to
   O(k·min(len)) per candidate instead of O(len²), inside whole-stage
   codegen — no Python anywhere.

The quadratic term survives only across DISTINCT strings sharing a
prefix gram inside one (bucket × block) group; supply ``block_cols``
to shrink groups further when the corpus is pathologically self-similar.
Exact-duplicate groups necessarily emit C(m, 2) distance-0 pairs — that
is the operator's contract; run
:func:`~gluestick_spark.llm.dedup.exact_dedup` first if you don't want
them enumerated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import ensure_min_partitions as _parallelize
from ..partitioning import pin

__all__ = ["edit_distance_pairs"]


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """All pairs (``a`` < ``b``, ``dist``) with Levenshtein distance ≤
    ``max_dist`` on ``text_col``, optionally required to match exactly on
    ``block_cols`` first. NULL texts never match (SQL comparison
    semantics)."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    blocks = list(block_cols or [])
    w = max_dist + 1
    # NULL text or NULL block value ⇒ the row matches nothing (uniform SQL
    # join semantics in BOTH stages — a NULL block must not pair in the
    # exact-group stage while vanishing from the candidate join)
    keep = F.col(text_col).isNotNull()
    for c in blocks:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        F.col(id_col).alias("__id__"),
        F.col(text_col).alias("__t__"),
        *[F.col(c) for c in blocks],
    )

    # 1. exact-group compression: one row per distinct (text, blocks…).
    # Pinned: this frame is DISTINCT-STRINGS scale (small next to the
    # corpus) and feeds every later stage — the within-group pairs, the
    # gram/frequency/prefix chain, and both id joins. Without it each
    # consumer re-runs the corpus aggregate (measured ~2.4× the whole
    # operator's wall time at sf0.1).
    groups = pin(
        base.groupBy("__t__", *blocks).agg(
            F.min("__id__").alias("__gid__"),
            F.collect_list("__id__").alias("__ids__"),
        )
    )

    # distance-0 pairs inside each duplicate group: all member pairs, no
    # Levenshtein. Output-bound (these rows ARE the result).
    members = groups.select("__gid__", F.explode("__ids__").alias("__m__"))
    m2 = members.select(
        F.col("__gid__").alias("__gid2__"), F.col("__m__").alias("__m2__")
    )
    within = (
        members.join(m2, members["__gid__"] == m2["__gid2__"])
        .where(F.col("__m__") < F.col("__m2__"))
        .select(
            F.col("__m__").alias("a"),
            F.col("__m2__").alias("b"),
            F.lit(0).alias("dist"),
        )
    )

    # distance > 0 requires the candidate stage; at max_dist=0 the exact
    # groups above ARE the complete answer
    if max_dist == 0:
        return within

    # 2.+3. length blocking × q-gram prefix blocking over DISTINCT strings.
    # q=4: gram diversity grows with |alphabet|^q, and candidate collisions
    # shrink ~quadratically in it — probed 0.71 → <0.4 scale exponent on a
    # distinct uniform-length corpus when moving from q=2 to 3, and on a
    # low-diversity word alphabet (titles drawn from a small vocabulary,
    # where whole q-grams repeat across strings) q=4 measured 3.2× fewer
    # candidate pairs than q=3 for ~30% more prefix rows. The price is a
    # larger short-string class (both ≤ q·k grams ⇒ len ≤ q·(k−1)+1 falls
    # back to plain bucket join) — fine for titles/names; a corpus of
    # millions of DISTINCT ≤(q·(k−1)+1)-char strings should pass
    # block_cols to shrink the fallback.
    q = 4
    reps = groups.select(
        "__gid__", "__t__", (F.length("__t__") / w).cast("long").alias("__lb__"),
        *blocks, "__ids__",
    )
    # Positional q-grams over the NUL-padded string (padding guarantees
    # ≥ 1 gram for every non-null string, the empty string included).
    pad = "\x00" * (q - 1)
    grams = (
        reps.withColumn("__p__", F.concat(F.lit(pad), F.col("__t__"), F.lit(pad)))
        .select(
            "__gid__", "__lb__", *blocks,
            F.expr(
                f"explode(transform(sequence(1, length(__p__) - {q - 1}),"
                f" i -> struct(substring(__p__, i, {q}) AS gram, i AS pos)))"
            ).alias("__g__"),
        )
        .select(
            "__gid__", "__lb__", *blocks,
            F.col("__g__.gram").alias("__gram__"),
            F.col("__g__.pos").alias("__pos__"),
        )
    )
    # `groups` is a pin of an AQE-coalesced aggregate (1-2
    # partitions locally), so this whole gram chain — explode, frequency
    # join, prefix ranking — would otherwise run nearly serial. Keying
    # the respread on __gid__ satisfies the prefix window's required
    # distribution, so the window adds no exchange of its own; at real
    # scale the frame already has >= defaultParallelism partitions and
    # this is a no-op.
    grams = _parallelize(grams, "__gid__")
    # Global gram frequencies: at most |alphabet|^q distinct grams — a
    # broadcast-sized table however large the corpus. Rarest-first prefixes
    # minimize candidate collisions (the ED-Join ordering).
    freq = grams.groupBy("__gram__").agg(F.count(F.lit(1)).alias("__gf__"))
    from pyspark.sql.window import Window

    wrank = Window.partitionBy("__gid__").orderBy(
        F.col("__gf__").asc(), F.col("__gram__").asc(), F.col("__pos__").asc()
    )
    # prefix is (q·k+1) rows per distinct string and feeds both join
    # sides; pin it so the gram/frequency/rank chain runs once
    prefix = pin(
        grams.join(F.broadcast(freq), "__gram__")
        .withColumn("__rn__", F.row_number().over(wrank))
        .where(F.col("__rn__") <= q * max_dist + 1)
        .select("__gid__", "__lb__", *blocks, "__gram__", "__pos__")
    )
    # The candidate join EXPLODES (each shared prefix gram emits a pair):
    # its input bytes are prefix-sized but its output is candidate-sized,
    # so AQE — which sizes post-shuffle partitions by INPUT bytes —
    # coalesces a locally-small prefix to one partition and serializes
    # the explosion plus everything after it. Pre-partitioning the probe
    # side on the join key at the parallelism floor (a no-op once the
    # frame already has >= defaultParallelism partitions, i.e. at real
    # scale) pins the join width: a user repartition is never coalesced,
    # and the build side co-partitions to match.
    probe = _parallelize(prefix, "__lb__", "__gram__")
    build = prefix.select(
        F.col("__gid__").alias("__gid2__"),
        F.col("__gram__").alias("__gram2__"),
        F.col("__pos__").alias("__pos2__"),
        F.explode(
            F.array(F.col("__lb__") - 1, F.col("__lb__"), F.col("__lb__") + 1)
        ).alias("__lb__"),
        *[F.col(c).alias(f"__b_{c}__") for c in blocks],
    )
    cond = [
        probe["__lb__"] == build["__lb__"],
        probe["__gram__"] == build["__gram2__"],
    ] + [probe[c] == build[f"__b_{c}__"] for c in blocks]
    # __gid__ < __gid2__ visits each unordered rep pair once per shared
    # prefix gram; |Δpos| ≤ k is the ED-Join location filter. distinct()
    # collapses multi-gram collisions before the (more expensive) verify.
    cand_long = (
        probe.join(build, cond)
        .where(
            (F.col("__gid__") < F.col("__gid2__"))
            & (F.abs(F.col("__pos__") - F.col("__pos2__")) <= max_dist)
        )
        .select("__gid__", "__gid2__")
    )
    # Prefix-filter blind spot: the shared-gram guarantee needs the LONGER
    # string to carry > q·k grams (k edits destroy ≤ q·k, pigeonhole on
    # the rarest-first order). A pair where BOTH strings have ≤ q·k grams
    # (length ≤ q·(k−1)+1 — e.g. ed("", "a")) can share nothing, so the
    # short×short class falls back to the plain length-bucket join. Short
    # strings are ≤ a handful of characters: the class is alphabet-bounded
    # and its within-bucket quadratic is tiny.
    short_len = q * max_dist - q + 1
    shorts = reps.where(F.length("__t__") <= short_len).select(
        "__gid__", "__lb__", *blocks
    )
    shorts2 = shorts.select(
        F.col("__gid__").alias("__gid2__"),
        F.explode(
            F.array(F.col("__lb__") - 1, F.col("__lb__"), F.col("__lb__") + 1)
        ).alias("__lb__"),
        *[F.col(c).alias(f"__b_{c}__") for c in blocks],
    )
    scond = [shorts["__lb__"] == shorts2["__lb__"]] + [
        shorts[c] == shorts2[f"__b_{c}__"] for c in blocks
    ]
    cand_short = (
        shorts.join(shorts2, scond)
        .where(F.col("__gid__") < F.col("__gid2__"))
        .select("__gid__", "__gid2__")
    )
    # the distinct's output is (id, id) pairs — small bytes per row, so
    # AQE coalesces it hard; respread before the Levenshtein verify so
    # the per-pair threshold DP uses every core (no-op at real scale)
    cand = _parallelize(
        cand_long.unionByName(cand_short).distinct(), "__gid__"
    )
    # Fetch texts + member lists by id — hash joins at candidate scale
    # (carrying member-id arrays through the gram explode would duplicate
    # them q·k+1 times).
    left = reps.select("__gid__", "__t__", "__ids__")
    right = reps.select(
        F.col("__gid__").alias("__gid2__"),
        F.col("__t__").alias("__t2__"),
        F.col("__ids__").alias("__ids2__"),
    )
    joined = cand.join(left, "__gid__").join(right, "__gid2__")
    dist = F.levenshtein(F.col("__t__"), F.col("__t2__"), max_dist)
    rep_pairs = (
        joined.withColumn("__d__", dist)
        # threshold form returns -1 when the distance exceeds max_dist;
        # distinct texts ⇒ never 0, so no overlap with `within`
        .where(F.col("__d__") >= 1)
        .select("__ids__", "__ids2__", "__d__")
    )
    # expand rep pairs to member pairs (output-bound), orienting a < b
    x = F.explode("__ids__").alias("__x__")
    cross = (
        rep_pairs.select(x, "__ids2__", "__d__")
        .select("__x__", F.explode("__ids2__").alias("__y__"), "__d__")
        .select(
            F.least("__x__", "__y__").alias("a"),
            F.greatest("__x__", "__y__").alias("b"),
            F.col("__d__").alias("dist"),
        )
    )
    return within.unionByName(cross)
