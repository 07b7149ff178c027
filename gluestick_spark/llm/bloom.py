"""Pure-Catalyst Bloom pre-filter for hash-keyed joins.

At 100 TB the expensive part of the decontamination / novelty joins
(:mod:`gluestick_spark.llm.decontam`) is shuffling the CORPUS-side gram
stream when the reference side is too large to broadcast. A Bloom filter
built over the reference hashes lets the corpus side drop
definitely-absent grams BEFORE the shuffle; false positives are harmless
because every survivor still passes through the exact hash join
(candidate-generation + exact-verify, the MinHash posture applied to a
join). False NEGATIVES are impossible: a member's k probe bits are all
set by construction, so the filter never drops a true match.

Spark's own runtime bloom pushdown (``BloomFilterAggregate``) is an
internal, optimizer-injected expression — not SQL-addressable in 4.x and
not guaranteed to fire for these plans — so this module builds the same
device from public primitives, JVM-side end to end:

1. **Build** (:func:`bloom_words`): each reference hash sets ``k`` bit
   positions ``pmod(xxhash64(h, i), m_bits)``; positions aggregate to a
   sparse bitmap of (word_index, 64-bit word) rows via ``bit_or`` — one
   map-side-combined aggregate, ≤ ``m_bits/64`` rows total (1 MiB at the
   default m=2²³), independent of reference size.
2. **Probe** (:func:`bloom_prefilter`): the stream side takes ``k``
   broadcast hash joins against the (tiny, pinned) word
   table — all map-side, zero shuffle of the stream — keeping a row only
   if every probed bit is set.

Everything is deterministic (fixed xxhash64 seeds), so plans using the
filter stay oracle-replayable: the filter only removes rows the exact
join would drop anyway.

Sizing: FP rate ≈ (1 − e^(−k·n/m))^k for n distinct reference hashes.
The default (m=2²³ bits, k=3) gives ≤0.1% FP up to n≈300k and ~9% at
n≈2.8M (m/3 — the useful ceiling); size ``m_bits ≥ 16·n`` to stay under
~0.3%. An oversized filter costs only broadcast bytes (m/8), never
correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import pin

__all__ = ["bloom_words", "bloom_prefilter", "should_prefilter"]


def _parse_size_bytes(v: str) -> int:
    """Parse a Spark size conf value ('10485760', '10MB', '1g', '-1')."""
    s = str(v).strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    for suf in ("kb", "mb", "gb", "tb"):
        if s.endswith(suf):
            return int(float(s[:-2]) * units[suf[0]])
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(float(s))


def should_prefilter(
    reference: DataFrame, threshold_bytes: int | None = None
) -> bool:
    """Gate for the Bloom pre-filter: build it only when the REFERENCE
    side is too big to broadcast (VERDICT r12: at any scale where the
    reference grams ride a broadcast hash join — the common decontam
    case, eval sets are small — the filter's extra reference pass + k
    probe joins are pure overhead; the win exists only when the exact
    join would otherwise SHUFFLE the corpus-side gram stream).

    The decision uses Catalyst's own plan statistic
    (``optimizedPlan().stats().sizeInBytes`` — the number Spark's
    planner compares against ``spark.sql.autoBroadcastJoinThreshold``
    for the broadcast decision), so it costs no job: file-backed
    relations report file size × compression estimate, in-memory
    relations their exact byte size. 8-byte gram hashes ≈ raw text
    bytes for natural language, so the raw-reference statistic stands
    in for the gram frame the join actually builds against. Unknown /
    absent statistics come back as a huge sentinel → filter ON
    (conservative at scale); broadcast disabled (threshold −1) → ON
    (every join shuffles, the filter always pays)."""
    if threshold_bytes is None:
        conf = reference.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
        threshold_bytes = _parse_size_bytes(conf)
    if threshold_bytes < 0:
        return True
    try:
        raw = (
            reference._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        size = int(raw if isinstance(raw, int) else str(raw))
    except Exception:
        return True  # no statistic → assume big
    return size > threshold_bytes


def _probe_pos(hash_col: str, i: int, m_bits: int):
    # Independent probe i: xxhash64 re-mixes (hash, i) so the k positions
    # are pairwise independent; pmod keeps them in [0, m_bits).
    return F.pmod(F.xxhash64(F.col(hash_col), F.lit(i)), F.lit(m_bits))


def bloom_words(
    hashes: DataFrame,
    hash_col: str,
    m_bits: int = 1 << 23,
    k: int = 3,
) -> DataFrame:
    """Sparse Bloom bitmap over a long hash column: (``__bw__`` word
    index, ``__bb__`` 64-bit word). ≤ ``m_bits``/64 rows — broadcastable
    regardless of input size. The frame is pinned so the ``k`` probe
    joins of :func:`bloom_prefilter` materialize the
    reference-side aggregate ONCE, not k times."""
    if m_bits < 64 or m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pos = hashes.select(
        F.explode(
            F.array(*[_probe_pos(hash_col, i, m_bits) for i in range(k)])
        ).alias("__pos__")
    )
    words = (
        pos.select(
            F.shiftright(F.col("__pos__"), 6).alias("__bw__"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos__, 64) AS INT))"
            ).alias("__bit__"),
        )
        .groupBy("__bw__")
        .agg(F.bit_or("__bit__").alias("__bb__"))
    )
    return pin(words)


def bloom_prefilter(
    stream: DataFrame,
    hash_col: str,
    words: DataFrame,
    m_bits: int = 1 << 23,
    k: int = 3,
) -> DataFrame:
    """Keep only stream rows whose ``hash_col`` MIGHT be in the set
    ``words`` was built from (same ``m_bits``/``k`` required). Never
    drops a true member; survivors must still be exact-verified.

    Plan shape: ``k`` broadcast hash joins (word-index equi-key) + a bit
    test each — map-side only, the stream is never shuffled here."""
    out = stream
    for i in range(k):
        bw, bb, bp = f"__bw{i}__", f"__bb{i}__", f"__bp{i}__"
        w = words.select(F.col("__bw__").alias(bw), F.col("__bb__").alias(bb))
        out = (
            out.withColumn(bp, _probe_pos(hash_col, i, m_bits))
            .join(F.broadcast(w), F.shiftright(F.col(bp), 6) == F.col(bw))
            .where(
                F.expr(
                    f"(shiftright({bb}, CAST(pmod({bp}, 64) AS INT)) & 1) = 1"
                )
            )
            .drop(bw, bb, bp)
        )
    return out
