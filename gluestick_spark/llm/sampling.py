"""Deterministic hash-based sampling and splitting.

Training-data pipelines need sampling that is (a) reproducible across runs
and engines, (b) stable under repartitioning, and (c) consistent per KEY —
every row of a document/user lands on the same side of a split. Spark's
``df.sample``/``randomSplit`` give none of that (they are seeded per
partition, so a repartition reshuffles membership). This module samples by
the same portable 60-bit md5 hash the KMV sketch uses
(:mod:`gluestick_spark.llm.sketch`): membership is a pure function of the
key value, identical in Spark and DuckDB — so sampled pipelines stay
oracle-checkable end to end.

Scale shape: a narrow projection + filter per row — no shuffle, no state,
trivially pushes through any partitioning. Selectivity benefits flow to
downstream operators exactly like any other filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..partitioning import pin
from .sketch import kmv_hash_expr

__all__ = [
    "hash_sample_expr",
    "hash_sample",
    "hash_split",
    "sample_exact_k",
    "balance_classes",
    "alpha_sample",
    "dsir_sample",
    "mix_corpora",
    "negative_pairs",
    "priority_sample",
    "resample_to_ratio",
    "shuffle_write",
    "stratified_sample",
    "unimax_sample",
]

_SPACE = float(1 << 60)

# dsir_sample: collect the per-bucket gram counts as driver-side state
# (and build the weight table as a literal frame) up to this many
# buckets; past it, stay distributed with pinned aggregates. 64k rows
# of (int, long) ≈ 1 MB — kmeans-state sized, never a data collect.
_WTAB_COLLECT_MAX = 65536


def _keyed_hash(col: Column, seed: str) -> Column:
    # The seed is mixed into the hashed STRING (not xor'd after) so
    # different seeds give independent (not merely shifted) subsets.
    # NULL keys: concat_ws drops nulls, so every NULL key hashes like the
    # bare seed — all null-keyed rows travel together (one consistent
    # sample/split/shard), which is the group-consistency contract applied
    # to the null group.
    return kmv_hash_expr(F.concat_ws("\x1f", col.cast("string"), F.lit(seed)))


def hash_sample_expr(col: Column, rate: float, seed: str = "") -> Column:
    """Boolean membership expression: TRUE for ~``rate`` of distinct key
    values. Deterministic per value: all rows sharing a key are kept or
    dropped together (group-consistent sampling)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return _keyed_hash(col, seed) < F.lit(int(rate * _SPACE))


def hash_sample(df: DataFrame, key_col: str, rate: float, seed: str = "") -> DataFrame:
    """Keep ~``rate`` of the rows, decided by the hash of ``key_col``.

    Unlike ``df.sample`` the result is invariant to partitioning, cluster
    size, and run order — and reproducible in any engine with md5."""
    return df.where(hash_sample_expr(F.col(key_col), rate, seed))


def sample_exact_k(
    df: DataFrame,
    key_col: str,
    k: int,
    seed: str = "",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """EXACTLY ``min(k, n)`` rows, uniformly at random over distinct
    keys — the deterministic reservoir: rank every row by the portable
    keyed hash of ``key_col`` (ties by key) and keep the first ``k``.
    Where :func:`hash_sample` delivers a RATE (±binomial noise in the
    count), this delivers a COUNT — the "give me exactly 10k documents"
    primitive every eval-set / pilot-run / annotation-batch draw needs.
    Membership is a pure function of (key, seed, corpus): invariant to
    partitioning and run order, replayable in any engine with md5, and
    stable under corpus growth in the reservoir sense (a new key evicts
    at most one old key, it never reshuffles the kept set).

    **Uniqueness is a HARD contract** (ADVICE r11): rows sharing a key
    value get identical sort keys, so if a duplicate-key group straddled
    the ``k`` boundary the kept subset would depend on partition/run
    order. Two modes:

    - ``tiebreak_col=None`` (default): ``key_col`` must be unique and
      non-null; this is VERIFIED with one aggregation pass over ``df``
      and violations raise loudly. The check is EMBEDDED IN THE PLAN
      (a 1-row ``raise_error`` guard broadcast onto the result, the
      heavy_hitters device), so it costs nothing until the sample is
      actually materialized — composing plans stays lazy (ADVICE r12).
      The extra pass at materialization is the price of the determinism
      guarantee — at extreme scale, pass a tiebreak instead.
    - ``tiebreak_col=...``: duplicate keys are ordered by the keyed hash
      of the tiebreak value (then the value itself), and the check is
      skipped — determinism then REQUIRES ``(key_col, tiebreak_col)``
      to be unique, which is the caller's contract.

    Plan: ``TakeOrderedAndProject`` — per-partition partial top-k, only
    k rows per partition reach the driver side of the exchange; never a
    global sort of the corpus."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    order = [_keyed_hash(F.col(key_col), seed).asc(), F.col(key_col).asc()]
    if tiebreak_col is not None:
        order += [
            _keyed_hash(F.col(tiebreak_col), seed).asc(),
            F.col(tiebreak_col).asc(),
        ]
        return df.orderBy(*order).limit(k)
    # Lazy uniqueness guard: a 1-row aggregate whose value is consumed by
    # the join predicate, raising at MATERIALIZATION time iff key_col has
    # duplicates or nulls — no eager corpus scan at plan-construction
    # time (the heavy_hitters/priority_sample raise_error device).
    guard = df.agg(
        F.when(
            F.count_distinct(F.col(key_col)) == F.count(F.lit(1)),
            F.lit(1),
        )
        .otherwise(
            F.raise_error(
                F.concat_ws(
                    " ",
                    F.lit(
                        f"sample_exact_k: key_col {key_col!r} is not "
                        "unique/non-null ("
                    ),
                    F.count(F.lit(1)).cast("string"),
                    F.lit("rows,"),
                    F.count_distinct(F.col(key_col)).cast("string"),
                    F.lit(
                        "distinct non-null keys) — the kept subset at the "
                        "k boundary would be partition-order dependent. "
                        "Pass tiebreak_col= (and guarantee the pair is "
                        "unique) or dedupe first."
                    ),
                )
            ).cast("int")
        )
        .alias("__unique_ok__")
    )
    return (
        df.orderBy(*order)
        .limit(k)
        .join(F.broadcast(guard), F.col("__unique_ok__") == F.lit(1), "inner")
        .drop("__unique_ok__")
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test …) by
    hash range: weight fractions partition [0, 2⁶⁰) into contiguous bands.
    Rows sharing a key always land in the same split — the leakage guard a
    random split can't give. Adds ``split_col``; weights must sum to ~1.

    Splits are NESTING-stable: because bands are contiguous and start at 0,
    growing one split's weight only moves keys across the adjacent
    boundary — e.g. train 0.8 → 0.9 keeps every existing train key in
    train (useful when re-cutting a corpus without churning history).
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    h = _keyed_hash(F.col(key_col), seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = h < F.lit(int(acc * _SPACE))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def mix_corpora(
    sources: dict[str, tuple[DataFrame, float]],
    key_col: str,
    seed: str = "",
) -> DataFrame:
    """Deterministic weighted corpus mixing: each named source contributes
    ``rate`` epochs of itself — the up/down-sampling step of a training-mix
    recipe (e.g. web 0.3, code 2.5 means 30% of web, code repeated 2½×).

    ``rate`` < 1 down-samples by key hash (group-consistent, reproducible);
    ``rate`` > 1 emits ⌊rate⌋ full replicas plus a hash-sampled fractional
    replica, each tagged with ``mix_replica`` (0-based) so downstream
    shuffling (:func:`pack_documents`' hash order, seeded per replica)
    interleaves replicas instead of repeating them back-to-back.
    Fractional membership hashes are seeded per (source, replica), so the
    fractional subset is independent of any other source's sampling.

    All sources must share a schema (align columns first — e.g.
    ``union_relaxed``). Output adds ``mix_source`` and ``mix_replica``.
    Plan: a union of filtered narrow projections — no shuffle of its own.
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    parts = []
    for name, (df, rate) in sources.items():
        if rate < 0:
            raise ValueError(f"rate must be >= 0, got {rate} for {name!r}")
        full, frac = int(rate), rate - int(rate)
        for i in range(full):
            parts.append(
                df.withColumn("mix_source", F.lit(name)).withColumn(
                    "mix_replica", F.lit(i)
                )
            )
        if frac > 1e-12:
            member = hash_sample_expr(
                F.col(key_col), frac, seed=f"{seed}|{name}|{full}"
            )
            parts.append(
                df.where(member)
                .withColumn("mix_source", F.lit(name))
                .withColumn("mix_replica", F.lit(full))
            )
    if not parts:
        raise ValueError("all rates are 0 — the mix would be empty")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def alpha_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    alpha: float = 0.5,
    seed: str = "",
) -> DataFrame:
    """Temperature-based corpus rebalancing (the multilingual-LM
    ``p_i ∝ n_i^α`` recipe, XLM-R/mT5 style): derive per-group keep
    rates FROM THE DATA so group shares move from ∝ n_i toward
    ∝ n_i^α, then sample deterministically. Downsample-only
    normalization — the smallest group keeps rate 1.0, every other
    group keeps ``rate_i = (n_min / n_i)^(1−α)`` — so no group is
    ever replicated (compose with :func:`mix_corpora` for rate > 1
    epoch recipes). ``α = 1`` keeps everything (natural mix); ``α = 0``
    equalizes expected group sizes to n_min.

    Unlike :func:`mix_corpora` (caller supplies fixed rates), the rates
    here are data-dependent; membership is still the portable keyed
    hash, so the sample is reproducible across engines, partitionings,
    and runs, and rows sharing a key stay together.

    Determinism note: ``(n_min/n)^(1−α)`` is computed as ``sqrt`` when
    ``1−α = 0.5`` — IEEE 754 requires a correctly-rounded sqrt, so the
    rate (hence the hash threshold, hence the member set) is
    bit-identical in every engine; general ``pow`` is only ~1-ulp and
    is kept for the non-oracle path.

    Scale posture (100 TB): one map-side-combined count aggregate (one
    row per group), the 1-row global min rides a broadcast crossJoin
    (NOT an unpartitioned window — the ``domain_stats`` lesson), and
    the rate table broadcast-joins back onto the corpus: one scan, no
    full shuffle of the data.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    exponent = 1.0 - alpha
    counts = df.groupBy(group_col).agg(F.count("*").alias("__n__"))
    nmin = counts.agg(F.min("__n__").alias("__nmin__"))
    ratio = F.col("__nmin__").cast("double") / F.col("__n__").cast("double")
    rate = (
        F.sqrt(ratio)
        if abs(exponent - 0.5) < 1e-15
        else F.pow(ratio, F.lit(float(exponent)))
    )
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        F.col(group_col), rate.alias("__rate__")
    )
    member = _keyed_hash(F.col(key_col), seed) < F.floor(
        F.col("__rate__") * F.lit(_SPACE)
    ).cast("long")
    return df.join(F.broadcast(rates), group_col).where(member).drop("__rate__")


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_cols: list[str],
    n_per_stratum: int,
    seed: str = "",
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows from every stratum (fewer if the
    stratum is smaller), chosen deterministically: rows rank by the seeded
    portable hash of ``key_col`` within each stratum and the first n win.

    The count-based complement to rate-based :func:`hash_sample` — eval-set
    construction and per-source corpus caps need exact counts, and
    ``df.sampleBy`` gives neither exactness nor run-to-run stability.
    One keyed shuffle (window rank per stratum); re-seeding draws an
    independent sample.
    """
    if n_per_stratum < 1:
        raise ValueError(f"n_per_stratum must be >= 1, got {n_per_stratum}")
    from pyspark.sql.window import Window

    h = _keyed_hash(F.col(key_col), seed)
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") <= n_per_stratum)
        .drop("__rn__")
    )


def balance_classes(
    df: DataFrame,
    key_col: str,
    label_col: str,
    n_per_class: int | None = None,
    seed: str = "",
) -> DataFrame:
    """Deterministically downsample every class to ``n_per_class`` rows
    (default: the MINORITY class size, i.e. full balancing) — the
    imbalanced-label remedy for classifier training sets. Delegates to
    :func:`stratified_sample`, so membership is a pure function of
    (key, seed): reproducible across runs/engines/partitionings, and
    re-seeding draws an independent balanced set.

    When ``n_per_class`` is None one count aggregate finds the minority
    size first (a cheap map-side-combined job over label counts); pass it
    explicitly to keep the plan job-free."""
    if n_per_class is None:
        n_per_class = (
            df.groupBy(label_col)
            .agg(F.count(F.lit(1)).alias("__n__"))
            .agg(F.min("__n__"))
            .first()[0]
        )
        if n_per_class is None:
            raise ValueError("balance_classes on an empty frame")
    return stratified_sample(df, key_col, [label_col], int(n_per_class), seed)


def resample_to_ratio(
    df: DataFrame,
    key_col: str,
    class_col: str,
    weights: dict[str, int],
    seed: str = "",
) -> DataFrame:
    """Downsample classes so output counts follow integer ``weights``
    EXACTLY at the maximum achievable volume — the mixing-recipe step
    ("web:code:math = 5:3:2") that :func:`balance_classes` (uniform
    target) and rate-based :func:`mix_corpora` (approximate, per-source
    rates chosen by hand) can't give. With ``u = min_c ⌊n_c / w_c⌋``,
    class ``c`` keeps exactly ``u·w_c`` rows — the seeded-hash-rank
    smallest, so membership is a pure function of (key, seed):
    reproducible across runs, engines, and partitionings. Classes absent
    from ``weights`` are dropped. Integer arithmetic throughout — no
    float boundary can flip a membership cross-engine.

    A WEIGHTED class with zero rows in the data makes the exact ratio
    unachievable at any volume, so it is treated as ``n_c = 0`` → u = 0
    → EMPTY output (never a silently wrong "5:3:0" mix — ADVICE r8).
    ``key_col`` must be unique per row: duplicate keys tie in the rank
    ordering and membership would then depend on partitioning, not just
    (key, seed).

    Plan: one tiny class-count aggregate (left-joined against the
    weights literal so absent classes count as zero) → broadcast of the
    k_c row per class → ONE keyed window shuffle (rank within class).
    The count aggregate is map-side combined; nothing driver-side."""
    if not weights:
        raise ValueError("weights must be non-empty")
    for c, w in weights.items():
        if not isinstance(w, int) or w < 1:
            raise ValueError(f"weights must be positive ints, got {w!r} for {c!r}")
    from pyspark.sql.window import Window

    wmap = F.create_map(*[x for c, w in weights.items() for x in (F.lit(c), F.lit(w))])
    tagged = df.where(F.col(class_col).isin(list(weights)))
    # left join FROM the weights literal: a weighted class absent from the
    # data contributes n_c = 0, forcing u = 0 (empty output) instead of
    # being silently ignored by a data-side-only groupBy
    from pyspark.sql.types import StructField, StructType

    # schema derived from the DATA frame's class column, not hardcoded
    # string — int/date/etc. class labels build and join cleanly
    # (ADVICE r9: the literal "class string" schema raised TypeError for
    # non-string labels where the old data-side groupBy had worked)
    cls_type = df.schema[class_col].dataType
    wdf = df.sparkSession.createDataFrame(
        [(c,) for c in weights],
        StructType([StructField(class_col, cls_type, True)]),
    )
    observed = tagged.groupBy(class_col).agg(F.count(F.lit(1)).alias("__obs__"))
    counts = wdf.join(observed, class_col, "left").select(
        class_col, F.coalesce(F.col("__obs__"), F.lit(0)).alias("__n__")
    )
    unit = counts.select(
        F.min(F.floor(F.col("__n__") / F.element_at(wmap, F.col(class_col))))
        .cast("long")
        .alias("__u__")
    )
    caps = (
        counts.crossJoin(F.broadcast(unit))
        .select(
            class_col,
            (F.col("__u__") * F.element_at(wmap, F.col(class_col))).alias("__k__"),
        )
    )
    h = _keyed_hash(F.col(key_col), seed)
    w = Window.partitionBy(class_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        tagged.join(F.broadcast(caps), class_col)
        .withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") <= F.col("__k__"))
        .drop("__rn__", "__k__")
    )


def shuffle_write(
    df: DataFrame,
    path: str,
    key_col: str,
    seed: str = "",
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a DETERMINISTIC global shuffle of the corpus: rows are
    written ordered by the seeded portable hash of ``key_col`` — the
    training-order shuffle, reproducible across runs/engines/cluster sizes
    (``df.orderBy(rand())`` is none of those).

    A new epoch order is one more ``shuffle_write`` with a new ``seed`` —
    independent order, same guarantee. Scale shape: delegates to
    :func:`~gluestick_spark.sinks.layout.write_sorted` (one range Exchange
    + in-partition sort), so reading the output files in name order streams
    the corpus in shuffle order with no driver-side ranking; for
    ``mix_corpora`` output, replicas interleave instead of repeating
    back-to-back (hash the (key, mix_replica) pair via a per-replica seed
    upstream, or include ``mix_replica`` in ``key_col``'s derivation).

    The ordering column ``__shuffle_key__`` is persisted with the data
    (the sort column must exist at write time); readers can use it to
    resume an epoch mid-stream, or drop it on read.
    """
    from ..sinks.layout import write_sorted

    out = df.withColumn("__shuffle_key__", _keyed_hash(F.col(key_col), seed))
    write_sorted(out, path, ["__shuffle_key__"], n_files=n_files, mode=mode)


def negative_pairs(
    df: DataFrame,
    idx_col: str,
    n: int,
    k: int = 1,
    seed: str = "",
    suffix: str = "_neg",
) -> DataFrame:
    """Deterministic pseudo-random negative sampling — the contrastive-
    training pair generator (each anchor row gets ``k`` partners drawn
    ~uniformly from the corpus, excluding itself). Returns every anchor
    column plus the partner's columns renamed ``{col}{suffix}`` and the
    draw number ``neg_rank`` (0..k−1).

    Contract: ``idx_col`` must hold DENSE indices 0..n−1 (build them once
    with a ranked projection or carry them from ingest) and ``n`` is the
    corpus size — both caller-supplied so the operator adds NO extra scan
    or global sort. Partner index = portable-hash(idx, draw, seed) mod n,
    skipping self by linear probing one step — a pure projection, so the
    pairing is reproducible across runs/engines/partitionings, and the
    DuckDB oracle re-derives the exact pair set.

    Scale shape: explode ×k (projection) + ONE hash join on the dense
    index to fetch partner payloads. The hash's uniformity spreads the
    join keys evenly — no hot partner, no skew. No randomness at
    execution time (``rand()`` would be neither reproducible nor
    resume-safe).
    """
    if n < 2:
        raise ValueError(f"need n >= 2 to sample negatives, got {n}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    anchors = df.withColumn("neg_rank", F.explode(F.array(*[F.lit(i) for i in range(k)])))
    draw = _keyed_hash(
        F.concat_ws("\x1f", F.col(idx_col).cast("string"), F.col("neg_rank").cast("string")),
        seed,
    )
    partner = F.pmod(draw, F.lit(n))
    # self-collision → next index (mod n): keeps the draw a pure function
    partner = F.when(partner == F.col(idx_col), F.pmod(partner + 1, F.lit(n))).otherwise(
        partner
    )
    anchors = anchors.withColumn("__partner__", partner.cast("long"))
    right = df.select(
        F.col(idx_col).cast("long").alias("__partner__"),
        *[F.col(c).alias(f"{c}{suffix}") for c in df.columns if c != idx_col],
    )
    return anchors.join(right, "__partner__").drop("__partner__")



def dsir_sample(
    df_raw: DataFrame,
    key_col: str,
    text_col: str,
    df_target: DataFrame,
    n_buckets: int = 128,
    use_bigrams: bool = True,
    seed: str = "",
    weight_col: str = "dsir_weight_ppm",
    return_all: bool = False,
    w_cap_ppm: int | None = None,
    w_cap_quantile: float | None = None,
) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): re-weight a raw crawl toward a TARGET distribution
    using hashed n-gram bucket statistics, then keep each document with
    probability proportional to its importance weight. The quality-
    selection family member the classifier (:mod:`llm.classifier`)
    doesn't cover — no labels, no training: the target corpus itself IS
    the specification.

    Estimator (integer-quantized throughout, house determinism style):

    * Per bucket ``b`` (grams hashed with
      :func:`~gluestick_spark.llm.classifier.hashed_ngrams_expr` — the
      portable 60-bit md5): add-one-smoothed likelihood ratio
      ``ratio_b = ((n_T[b]+1)/T) / ((n_R[b]+1)/R)``, quantized to
      ``floor(1e6 · ratio_b)`` int64 ppm. Each division is one IEEE op
      on exact integers — replayable cross-engine (the two-sided form
      avoids the int64 overflow ``(n_T+1)·R`` would hit at corpus
      scale).
    * Per document: the MEAN bucket ratio over its grams —
      ``floor(Σ ratio_ppm / n_grams)`` (exact int64 sum, one IEEE
      division, floored). The arithmetic mean replaces Xie et al.'s
      log-ratio sum (geometric mean) DELIBERATELY: ``ln`` differs in
      the last ulp across engines (the collocations lesson), while the
      mean of exact ratios replays bit-for-bit; both are monotone
      "looks more like the target" scores. Gram-less documents get the
      neutral weight 1e6 (ratio 1.0) — stated contract.
    * Keep decision: seeded-hash rejection sampling with acceptance
      ``min(1, w / w_cap)`` — keep iff ``h(key,seed)·w_cap < w·2^60``
      where h is the portable keyed hash (for ``w ≥ w_cap`` the
      inequality holds for every h, i.e. acceptance saturates at 1).
      Both sides are ONE double multiply of exactly-cast int64s
      (IEEE-deterministic); membership is a pure function of
      (key, seed, corpora), invariant to partitioning.
    * ``w_cap`` defaults to the corpus max weight — which lets a SINGLE
      outlier document collapse everyone else's acceptance (ADVICE
      r10). Winsorize with ``w_cap_quantile`` (e.g. ``0.999``): the cap
      becomes the EXACT order statistic at ``ceil(q·n)`` — an integer
      picked from the data, never an interpolated quantile (which
      differs in the last bit across engines) — so outliers saturate at
      keep-probability 1 instead of deflating the whole corpus. Or pin
      it absolutely with ``w_cap_ppm`` (takes precedence; the 100 TB
      path — no extra pass over the weights).

    Returns the kept rows of ``df_raw`` plus ``weight_col`` (int64 ppm);
    with ``return_all=True``, every raw row comes back with
    ``weight_col`` and a ``kept`` boolean instead (the oracle-row form —
    the keep RULE is checked, not just the survivors).

    Scale shape: two gram explodes feed two B-bounded aggregates
    (map-side combined) whose results — up to ``_WTAB_COLLECT_MAX``
    buckets — COLLECT as driver-side algorithm state (kmeans-loop
    pattern; the function runs those two jobs at call time) and come
    back as a literal broadcast weight table, so no downstream consumer
    ever re-plans the gram aggregates; past the threshold the join form
    runs with the aggregates pinned. Per-doc scoring is ONE keyed
    shuffle into a pinned (key, weight) decision frame; w_max is a
    1-row aggregate broadcast by crossJoin. The gram explode is
    deliberately not materialized (the ``containment_pairs`` trade-off:
    recomputing a projection beats storing several× the corpus)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    from .classifier import hashed_ngrams_expr

    spark = df_raw.sparkSession
    NEUTRAL = 1_000_000

    def grams_of(df: DataFrame, *extra):
        return df.select(
            *extra,
            F.explode(
                hashed_ngrams_expr(F.col(text_col), n_buckets, use_bigrams)
            ).alias("__b__"),
        )

    # The B-row weight table is ALGORITHM STATE, not data (the kmeans
    # driver-loop pattern): the two bucket aggregates collect to the
    # driver (≤ n_buckets rows each) and the per-bucket ratio is computed
    # in Python — bit-identical to the previous join form, since every
    # step is the same correctly-rounded IEEE op on the same exact int64s
    # ((n+1)/tot double divisions, their quotient, floor(1e6·x)). The
    # previous all-DataFrame form referenced nt/nr from both the weight
    # join and their own totals, so the physical plan re-ran the full
    # gram explode over each corpus per reference — 12 corpus scans in
    # one plan at its worst (guide §7.2 duplicated subtrees / §8 decide
    # with small rows). Past _WTAB_COLLECT_MAX buckets the literal table
    # stops being "driver state" and the old join path runs, with the
    # B-bounded aggregates pinned so each is computed once.
    if n_buckets <= _WTAB_COLLECT_MAX:
        # ONE side-tagged aggregate + collect instead of two sequential
        # jobs (r16, guide §2.6): the target and raw gram scans run in
        # the same job's stage set — concurrent, not back-to-back — and
        # the driver pays one scheduling/collect round-trip. The counts
        # are the same exact int64s, so every downstream IEEE step is
        # bit-identical.
        side_counts = (
            grams_of(df_target)
            .select(F.lit(0).alias("__s__"), "__b__")
            .unionByName(
                grams_of(df_raw).select(F.lit(1).alias("__s__"), "__b__")
            )
            .groupBy("__s__", "__b__")
            .agg(F.count(F.lit(1)).alias("__n__"))
            .collect()
        )
        nt_map = {
            int(r["__b__"]): int(r["__n__"])
            for r in side_counts
            if r["__s__"] == 0
        }
        nr_map = {
            int(r["__b__"]): int(r["__n__"])
            for r in side_counts
            if r["__s__"] == 1
        }
        t_tot = float(sum(nt_map.values()) + n_buckets)
        r_tot = float(sum(nr_map.values()) + n_buckets)
        import math as _math

        wtab = spark.createDataFrame(
            [
                (
                    b,
                    int(
                        _math.floor(
                            1000000.0
                            * (
                                (float(nt_map.get(b, 0) + 1) / t_tot)
                                / (float(nr_map.get(b, 0) + 1) / r_tot)
                            )
                        )
                    ),
                )
                for b in range(n_buckets)
            ],
            "__b__ int, __wppm__ long",
        )
    else:
        nt = pin(
            grams_of(df_target)
            .groupBy("__b__")
            .agg(F.count(F.lit(1)).alias("__nt__"))
        )
        nr = pin(
            grams_of(df_raw)
            .groupBy("__b__")
            .agg(F.count(F.lit(1)).alias("__nr__"))
        )
        t_tot = nt.agg(
            (F.coalesce(F.sum("__nt__"), F.lit(0)) + F.lit(n_buckets)).alias("__t_tot__")
        )
        r_tot = nr.agg(
            (F.coalesce(F.sum("__nr__"), F.lit(0)) + F.lit(n_buckets)).alias("__r_tot__")
        )
        buckets = spark.range(n_buckets).select(F.col("id").cast("int").alias("__b__"))
        wtab = (
            buckets.join(nt, "__b__", "left")
            .join(nr, "__b__", "left")
            .crossJoin(F.broadcast(t_tot))
            .crossJoin(F.broadcast(r_tot))
            .select(
                "__b__",
                F.floor(
                    F.lit(1000000.0)
                    * (
                        (
                            (F.coalesce(F.col("__nt__"), F.lit(0)) + F.lit(1)).cast("double")
                            / F.col("__t_tot__").cast("double")
                        )
                        / (
                            (F.coalesce(F.col("__nr__"), F.lit(0)) + F.lit(1)).cast("double")
                            / F.col("__r_tot__").cast("double")
                        )
                    )
                )
                .cast("long")
                .alias("__wppm__"),
            )
        )
    sums = (
        grams_of(df_raw, F.col(key_col).alias("__k__"))
        .join(F.broadcast(wtab), "__b__")
        .groupBy("__k__")
        .agg(F.sum("__wppm__").alias("__sw__"), F.count(F.lit(1)).alias("__n__"))
        .select(
            "__k__",
            F.floor(F.col("__sw__").cast("double") / F.col("__n__").cast("double"))
            .cast("long")
            .alias("__w__"),
        )
    )
    # NOT pinned: scored has two consumers (the cap aggregate and the
    # output), so the gram explode + literal-weight join re-runs once —
    # one extra parallel pass, strictly cheaper than a pin,
    # which under AQE executes every upstream stage serially at call
    # time. With the weight table literal the duplicated subtree is ONLY
    # that pass (it was the full 12-scan bucket-statistics tree before).
    scored = df_raw.join(
        sums, df_raw[key_col] == sums["__k__"], "left"
    ).select(
        *[df_raw[c] for c in df_raw.columns],
        F.coalesce(F.col("__w__"), F.lit(NEUTRAL)).cast("long").alias(weight_col),
    )
    if w_cap_ppm is not None:
        if w_cap_ppm < 1:
            raise ValueError(f"w_cap_ppm must be >= 1, got {w_cap_ppm}")
        wmax = spark.range(1).select(
            F.lit(int(w_cap_ppm)).cast("long").alias("__wmax__")
        )
    elif w_cap_quantile is not None:
        if not (0.0 < w_cap_quantile <= 1.0):
            raise ValueError(
                f"w_cap_quantile must be in (0, 1], got {w_cap_quantile}"
            )
        # exact order statistic at ceil(q*n): the window runs over the
        # AGGREGATED distinct-weight frame (the transition_matrix
        # device), bounded by distinct ppm values, not by corpus rows;
        # at extreme scale pass w_cap_ppm instead and skip this pass.
        from pyspark.sql import Window as _W

        wcounts = scored.groupBy(weight_col).agg(
            F.count(F.lit(1)).alias("__c__")
        )
        ordered = _W.orderBy(F.col(weight_col))
        cum = wcounts.select(
            F.col(weight_col),
            F.sum("__c__")
            .over(ordered.rowsBetween(_W.unboundedPreceding, 0))
            .alias("__cum__"),
            F.sum("__c__")
            .over(
                _W.orderBy(F.lit(1)).rowsBetween(
                    _W.unboundedPreceding, _W.unboundedFollowing
                )
            )
            .alias("__tot__"),
        )
        wmax = cum.where(
            F.col("__cum__")
            >= F.ceil(F.lit(float(w_cap_quantile)) * F.col("__tot__"))
        ).agg(F.min(weight_col).alias("__wmax__"))
    else:
        wmax = scored.agg(F.max(weight_col).alias("__wmax__"))
    kept = (
        _keyed_hash(F.col(key_col), seed).cast("double")
        * F.col("__wmax__").cast("double")
    ) < (F.col(weight_col).cast("double") * F.lit(_SPACE))
    out = scored.crossJoin(F.broadcast(wmax)).select(
        *[F.col(c) for c in df_raw.columns],
        F.col(weight_col),
        kept.alias("kept"),
    )
    if return_all:
        return out
    return out.where(F.col("kept")).drop("kept")


def unimax_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    budget: int,
    max_epochs: float = 4.0,
    seed: str = "",
    epoch_col: str = "epoch",
    weight_col: str | None = None,
) -> DataFrame:
    """UniMax corpus balancing (Chung et al. 2023, arXiv:2304.09151):
    given a total row ``budget`` and a per-source repetition cap
    ``max_epochs``, allocate each source a quota as UNIFORM as the caps
    allow — the budget-driven complement to :func:`alpha_sample`
    (temperature rebalancing, no budget) and :func:`mix_corpora`
    (caller-chosen rates).

    Allocation (the paper's greedy loop, ascending by size): each
    source's cap is ``c_i = ⌊n_i · max_epochs⌋`` rows; sources whose cap
    fits under an equal share are fully allocated, and the remaining
    budget spreads uniformly over the rest. This is exactly
    water-filling, so it has a closed form: the capped set is a PREFIX
    of the cap-ascending order, found here with one window over the
    per-source count frame (one row per source — tiny; the corpus
    itself is never windowed unpartitioned). All arithmetic past the
    one cap multiply is int64 (div/mod with the remainder going to the
    ``rem`` smallest uncapped sources in (cap, source) order), so the
    allocation — and therefore membership — is replayable by any engine.

    Draw: quota ``q_i`` over ``n_i`` rows means ``q_i div n_i`` full
    epochs of every row plus the ``q_i mod n_i`` rows with the smallest
    seeded portable hash (ties by key — ``key_col`` must be unique
    within its group or the boundary rows are partition-order
    dependent, the :func:`sample_exact_k` contract). Output repeats a
    row once per epoch with ``epoch_col`` (0-based) distinguishing
    replicas, so downstream shuffles interleave epochs (the
    :func:`mix_corpora` replica device).

    Total output is ``min(budget, Σ c_i)`` rows — a budget above
    ``max_epochs`` epochs of everything cannot be filled (stated
    contract; the paper's regime).

    ``weight_col`` (optional): budget, caps, and quotas in WEIGHT units
    — the paper's actual regime (token budgets). ``weight_col`` must be
    a non-negative integer column (token/char counts; cast to int64).
    Sizes become ``w_i = Σ weight``, caps ``⌊w_i · max_epochs⌋``, and
    the allocation is unchanged. The draw's fractional epoch becomes
    the greedy hash-rank PREFIX whose cumulative weight stays within
    ``quota mod w_i`` — document-granular budget filling (exact-fit is
    bin packing; the greedy prefix is the standard practice and
    undershoots by less than one document's weight). Per-group totals
    then satisfy ``quota − max_doc_weight < delivered ≤ quota``.

    Scale shape: one map-side-combined count aggregate → pinned
    (one row per source) → window + two scalar aggregates
    over that tiny frame → quota table broadcast onto the corpus → ONE
    keyed shuffle (rank within source) → explode. Nothing driver-side.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if not max_epochs > 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    from pyspark.sql.window import Window

    unit = (
        F.coalesce(F.sum(F.col(weight_col).cast("long")), F.lit(0))
        if weight_col is not None
        else F.count(F.lit(1))
    )
    counts = pin(
        df.groupBy(group_col)
        .agg(unit.alias("__n__"))
        .select(
            group_col,
            "__n__",
            F.floor(F.col("__n__").cast("double") * F.lit(float(max_epochs)))
            .cast("long")
            .alias("__cap__"),
        )
    )
    wo = Window.orderBy(F.col("__cap__").asc(), F.col(group_col).asc())
    frame = counts.select(
        group_col,
        "__n__",
        "__cap__",
        F.row_number().over(wo).alias("__j__"),
        F.sum("__cap__")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__cum__"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("__G__"),
    )
    # group j is capped iff, with all smaller-cap groups fully allocated,
    # its cap fits under the equal share of what's left:
    #   cap_j * (G - j + 1) <= B - (cum_j - cap_j)
    capped = (
        F.col("__cap__") * (F.col("__G__") - F.col("__j__") + 1)
        <= F.lit(budget) - (F.col("__cum__") - F.col("__cap__"))
    )
    bp = frame.agg(
        F.coalesce(
            F.min(F.when(~capped, F.col("__j__"))), F.max("__G__") + 1
        ).alias("__bp__")
    )
    f2 = frame.crossJoin(F.broadcast(bp))
    rprime = f2.agg(
        (
            F.lit(budget)
            - F.coalesce(
                F.sum(F.when(F.col("__j__") < F.col("__bp__"), F.col("__cap__"))),
                F.lit(0),
            )
        ).alias("__R__")
    )
    f3 = f2.crossJoin(F.broadcast(rprime))
    gprime = F.col("__G__") - F.col("__bp__") + 1
    base = F.expr("__R__ div (__G__ - __bp__ + 1)")
    rem = F.col("__R__") % gprime
    quota = F.when(F.col("__j__") < F.col("__bp__"), F.col("__cap__")).otherwise(
        base + F.when(F.col("__j__") - F.col("__bp__") < rem, 1).otherwise(0)
    )
    quotas = f3.select(
        group_col,
        F.col("__n__").alias("__qn__"),
        quota.cast("long").alias("__q__"),
    ).where(F.col("__q__") > 0)

    h = _keyed_hash(F.col(key_col), seed)
    wr = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    if weight_col is not None:
        # fractional epoch = greedy hash-rank prefix within the weight
        # remainder (see docstring); __rn__ holds the cumulative weight
        rank_val = F.sum(
            F.coalesce(F.col(weight_col).cast("long"), F.lit(0))
        ).over(wr.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    else:
        rank_val = F.row_number().over(wr)
    n_copies = (
        F.expr("__q__ div __qn__")
        + F.when(F.col("__rn__") <= F.col("__q__") % F.col("__qn__"), 1).otherwise(0)
    ).cast("int")
    copies = F.when(
        n_copies >= 1, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.join(F.broadcast(quotas), group_col)
        .withColumn("__rn__", rank_val)
        .withColumn(epoch_col, F.explode(copies))
        .withColumn(epoch_col, F.col(epoch_col).cast("long"))
        .drop("__qn__", "__q__", "__rn__")
    )


def priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    seed: str = "",
    est_col: str = "w_est",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement with unbiased subset-sum
    estimates — **priority sampling** (Duffield, Lund & Thorup 2007):
    each row gets priority ``q = w / u`` with ``u = (hash+1)/2⁶⁰`` from
    the seeded portable hash; the k highest-priority rows are kept and
    every kept row carries ``w_est = max(w, τ)`` where τ is the
    (k+1)-th priority. For ANY subset S, Σ_{kept ∩ S} w_est is an
    unbiased estimator of Σ_S w — the device for "sample 10k documents
    but keep token-count accounting honest" (weighted corpus
    subsampling, traffic/size accounting, stratification-free
    summaries). Heavy rows (w > τ) are kept with certainty, exactly as
    the estimator requires; when n ≤ k the sample is the whole frame
    and ``w_est = w`` (exact).

    Determinism contract (the :func:`sample_exact_k` posture): every
    arithmetic step is a single correctly-rounded IEEE op (int64→double
    casts included), so priorities — hence membership, τ, and the
    estimates — are bit-identical in any engine with md5; ties order by
    ``key_col``, which must be unique and non-null (duplicate keys make
    the k boundary partition-order dependent — caller's contract, as
    with ``tiebreak_col``). Weights must be positive; NULL/≤0 weights
    raise at materialization (a silent drop would bias the estimator).

    ``group_cols``: draw k PER GROUP (per-source weighted budgets with
    per-group thresholds τ_g — the stratified form; estimates stay
    unbiased per group and therefore overall). Grouped plan: a
    partition-local rank prunes to ≤ (k+1) rows per (group, input
    partition) BEFORE the keyed shuffle (the ``_k_min_hashes``
    two-phase device), so the per-group sort never sees the corpus.

    Plan (ungrouped): narrow projection → ``TakeOrderedAndProject`` of
    k+1 rows (per-partition partial top-k — never a global sort) → the
    τ row broadcasts back onto the kept k. Re-seeding draws an
    independent sample."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql.window import Window

    w_ok = F.when(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0),
        F.col(weight_col).cast("double"),
    ).otherwise(
        F.raise_error(
            F.concat_ws(
                " ",
                F.lit("priority_sample: weight must be positive, got"),
                F.col(weight_col).cast("string"),
                F.lit("for key"),
                F.col(key_col).cast("string"),
            )
        )
    )
    u_inv = F.lit(_SPACE) / (
        _keyed_hash(F.col(key_col), seed).cast("double") + F.lit(1.0)
    )
    if group_cols:
        gcols = list(group_cols)
        scored = df.withColumn("__q__", w_ok * u_inv)
        wp = Window.partitionBy(*gcols, "__p__").orderBy(
            F.col("__q__").desc(), F.col(key_col).asc()
        )
        pruned = (
            scored.withColumn("__p__", F.spark_partition_id())
            .withColumn("__prn__", F.row_number().over(wp))
            .where(F.col("__prn__") <= k + 1)
            .drop("__p__", "__prn__")
        )
        wg = Window.partitionBy(*gcols).orderBy(
            F.col("__q__").desc(), F.col(key_col).asc()
        )
        ranked = pruned.withColumn("__rn__", F.row_number().over(wg)).where(
            F.col("__rn__") <= k + 1
        )
        tau_g = ranked.groupBy(*gcols).agg(
            F.max(F.when(F.col("__rn__") == k + 1, F.col("__q__"))).alias("__tau__")
        )
        kept = ranked.where(F.col("__rn__") <= k).join(
            F.broadcast(tau_g), gcols, "left"
        )
        return kept.withColumn(
            est_col,
            F.greatest(
                F.col(weight_col).cast("double"),
                F.coalesce("__tau__", F.lit(0.0)),
            ),
        ).drop("__q__", "__rn__", "__tau__")
    topk1 = (
        df.withColumn("__q__", w_ok * u_inv)
        .orderBy(F.col("__q__").desc(), F.col(key_col).asc())
        .limit(k + 1)
    )
    wname = Window.orderBy(F.col("__q__").desc(), F.col(key_col).asc())
    ranked = topk1.withColumn("__rn__", F.row_number().over(wname))
    tau = ranked.agg(
        F.max(F.when(F.col("__rn__") == k + 1, F.col("__q__"))).alias("__tau__")
    )
    kept = ranked.where(F.col("__rn__") <= k).crossJoin(F.broadcast(tau))
    return kept.withColumn(
        est_col,
        F.greatest(
            F.col(weight_col).cast("double"), F.coalesce("__tau__", F.lit(0.0))
        ),
    ).drop("__q__", "__rn__", "__tau__")
