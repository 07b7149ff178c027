"""Benchmark decontamination: flag corpus documents that overlap an
evaluation set.

Training corpora must not contain eval-benchmark text; the standard check
(GPT-3 appendix C, The Pile, FineWeb) is n-gram overlap: a document is
contaminated when it shares ≥ ``min_overlap`` distinct word n-grams with
any benchmark item.

Scale design: the benchmark side is SMALL (thousands of items) and the
corpus is the 100 TB side, so the join must stream the corpus exactly once:

1. both sides → distinct n-gram **hashes** (``xxhash64`` — 8 bytes each,
   never the n-gram strings) via the same tokenizer as the rest of
   :mod:`gluestick_spark.llm.text`;
2. corpus side explodes to (doc, hash) rows; benchmark side collapses to
   distinct (hash, bench_id) rows — a frame proportional to the benchmark,
   which Spark's planner broadcasts (or hash-joins if a huge eval suite);
3. inner join on the hash + groupBy (doc, bench) counting distinct shared
   hashes ≥ ``min_overlap``.

The corpus is touched by one projection + one aggregate; no corpus×corpus
pair ever exists. False positives from hash collisions are ~2⁻⁶⁴ per pair
— negligible against n-gram overlap noise itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import pin
from .bloom import bloom_prefilter, bloom_words, should_prefilter
from .text import bind_row, tokens_expr

__all__ = [
    "ngrams_expr",
    "ngram_hashes_expr",
    "contamination_pairs",
    "decontaminate",
    "novelty_scores",
    "novelty_scores_against",
    "corpus_gram_overlap",
    "corpus_jaccard_kmv",
    "kmv_jaccard_from_sketches",
    "corpus_drift_matrix",
]


def ngrams_expr(col, n: int = 8, lowercase: bool = True):
    """Distinct word ``n``-gram STRINGS of a text column
    (array<string>). Documents shorter than ``n`` tokens produce an
    empty array — too short to witness contamination at this n.

    The token array is BOUND ONCE as a lambda variable (the lang_id
    device — Catalyst does no CSE inside lambda bodies, so referencing
    ``tokens_expr`` directly in the per-index slice re-ran the regexp
    tokenize for EVERY gram position: measured ~1 ms/doc, a 20× tax on
    every consumer of this expression)."""
    toks0 = tokens_expr(col)
    if lowercase:
        toks0 = F.transform(toks0, F.lower)

    def body(toks):
        # NB Spark's sequence(1, k) DESCENDS when k < 1 — short docs must
        # short-circuit to an empty index list, not sequence into
        # slice(…, 0, …).
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        return F.array_distinct(grams)

    return bind_row(toks0, body)


def ngram_hashes_expr(col, n: int = 8, lowercase: bool = True):
    """Distinct xxhash64 hashes of the word ``n``-grams of a text column
    (array<long>) — :func:`ngrams_expr` collapsed to 8-byte join keys
    (the decontamination shape: never ship gram strings)."""
    return F.transform(ngrams_expr(col, n, lowercase), lambda g: F.xxhash64(g))


def _resolve_bloom_m(bloom_m_bits, reference: DataFrame):
    """Resolve the ``'auto'`` bloom sizing default: filter ON (default
    m=2^23) only when Catalyst's statistics say ``reference`` exceeds
    the broadcast threshold (:func:`gluestick_spark.llm.bloom.
    should_prefilter`); a broadcastable reference takes the plain exact
    join — the filter's extra reference pass + k probe joins can't win
    there (VERDICT r12). Explicit int/None values pass through."""
    if bloom_m_bits == "auto":
        return (1 << 23) if should_prefilter(reference) else None
    return bloom_m_bits


def contamination_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    corpus_text: str,
    corpus_id: str,
    bench_text: str,
    bench_id: str,
    n: int = 8,
    min_overlap: int = 1,
    bloom_m_bits: int | None | str = "auto",
    bloom_k: int = 3,
) -> DataFrame:
    """(``doc_id``, ``bench_id``, ``n_shared``) for every corpus document
    sharing ≥ ``min_overlap`` distinct word ``n``-grams with a benchmark
    item. See module docstring for the one-pass join shape.

    ``bloom_m_bits``/``bloom_k`` (default ``'auto'``: the filter builds
    only when Catalyst's size statistic says the reference side exceeds
    the broadcast threshold — see :func:`_resolve_bloom_m`; an int
    forces it on at that size, ``None`` disables): a Bloom filter over the
    benchmark gram hashes (:mod:`gluestick_spark.llm.bloom`) drops
    definitely-clean corpus grams BEFORE the join — at 100 TB, where the
    bench side may exceed the broadcast threshold and the join becomes a
    corpus-gram shuffle, this cuts the shuffled volume to (true overlaps
    + ~0.1% FP); exactness is preserved because every survivor still
    passes the exact hash join (the bench side is read one extra time to
    build the ≤ m/64-row bitmap). Results are bit-identical either way."""
    c = corpus.select(
        F.col(corpus_id).alias("doc_id"),
        F.explode(ngram_hashes_expr(F.col(corpus_text), n)).alias("__g__"),
    )
    b = bench.select(
        F.col(bench_id).alias("bench_id"),
        F.explode(ngram_hashes_expr(F.col(bench_text), n)).alias("__g__"),
    ).distinct()
    bloom_m_bits = _resolve_bloom_m(bloom_m_bits, bench)
    if bloom_m_bits is not None:
        words = bloom_words(b, "__g__", bloom_m_bits, bloom_k)
        c = bloom_prefilter(c, "__g__", words, bloom_m_bits, bloom_k)
    return (
        c.join(b, "__g__")
        .groupBy("doc_id", "bench_id")
        .agg(F.countDistinct("__g__").alias("n_shared"))
        .where(F.col("n_shared") >= min_overlap)
    )


def decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    corpus_text: str,
    corpus_id: str,
    bench_text: str,
    bench_id: str,
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Drop contaminated documents from the corpus (anti-join on the
    flagged ids — the corpus frame itself is never reshuffled)."""
    flagged = (
        contamination_pairs(
            corpus, bench, corpus_text, corpus_id, bench_text, bench_id, n, min_overlap
        )
        .select(F.col("doc_id").alias(corpus_id))
        .distinct()
    )
    return corpus.join(flagged, corpus_id, "left_anti")


def novelty_scores(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str,
    id_col: str,
    ref_text_col: str | None = None,
    n: int = 3,
    bloom_m_bits: int | None | str = "auto",
    bloom_k: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus — the
    decontamination overlap inverted into a curation signal: how much of
    each document is text the reference has never seen?

        novelty_ppm = floor(1e6 · |grams(doc) ∖ grams(ref)| / |grams(doc)|)

    over DISTINCT word ``n``-grams. High-novelty documents are the ones
    worth adding to a corpus that already contains ``reference``
    (continued-pretraining selection, crawl-refresh triage); near-zero
    novelty means the document is paraphrase/boilerplate of known text
    even when no single span is an exact duplicate (the gap between
    this and :func:`~gluestick_spark.llm.dedup.dedup_against`).

    Returns one row per corpus document:
    (``id_col``, ``n_grams``, ``n_novel``, ``novelty_ppm``) — counts are
    exact int64; docs with < n tokens have 0 grams and NULL novelty
    (too short to witness novelty at this n — the
    :func:`ngram_hashes_expr` contract).

    Scale shape (the contamination_pairs posture, reversed): the
    reference collapses ONCE to distinct 8-byte gram hashes (an
    aggregate ∝ reference gram vocabulary, broadcast or hash-joined —
    never the reference text); the corpus streams through one explode +
    one left join on the hash + one per-doc aggregate. Hash collisions
    under-count novelty by ~2⁻⁶⁴ per gram pair — negligible against
    tokenization noise (the decontam argument).

    ``bloom_m_bits``/``bloom_k`` (default ``'auto'``: the filter builds
    only when Catalyst's size statistic says the reference side exceeds
    the broadcast threshold — see :func:`_resolve_bloom_m`; an int
    forces it on at that size, ``None`` disables): with the Bloom filter
    on, the plan is restructured so only grams that MIGHT be seen reach
    the join — per-doc totals come from ``size()`` of the gram array (no
    join needed for definitely-novel grams), and ``n_novel = n_grams −
    n_seen`` with ``n_seen`` counted over the bloom survivors' exact
    inner join. At 100 TB (reference gram vocabulary too big to
    broadcast → the join shuffles corpus grams) this cuts the shuffled
    gram volume to (seen + ~0.1% FP), at the cost of computing the gram
    expression twice (two map-only text passes — cheaper than one
    corpus-gram shuffle). Counts are bit-identical either way: the
    filter only removes rows the exact join would score novel anyway."""
    ref_text = ref_text_col or text_col
    ref_grams = reference.select(
        F.explode(ngram_hashes_expr(F.col(ref_text), n)).alias("__g__")
    ).distinct()
    # resolve 'auto' on the RAW reference relation (its Catalyst size
    # statistic is direct — file size / in-memory bytes — where the
    # exploded gram frame's would be a Generate-node guess)
    bloom_m_bits = _resolve_bloom_m(bloom_m_bits, reference)
    return novelty_scores_against(
        corpus, ref_grams, text_col, id_col, n, bloom_m_bits, bloom_k
    )


def novelty_scores_against(
    corpus: DataFrame,
    ref_grams: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    bloom_m_bits: int | None | str = "auto",
    bloom_k: int = 3,
    bloom_words_df: DataFrame | None = None,
) -> DataFrame:
    """:func:`novelty_scores` against an ALREADY-MATERIALIZED reference
    gram set — the store-once/serve-many form (the
    ``materialize_band_index`` shape): sign the reference once with
    :func:`ngram_hashes_expr` (``n`` must match!), persist the distinct
    hashes, and score every incoming corpus/micro-batch against the
    stored frame without re-tokenizing the reference.

    ``ref_grams`` must be one column ``__g__`` of DISTINCT xxhash64 gram
    hashes — duplicates would multiply the seen-count join. Pass
    ``bloom_words_df`` (a persisted :func:`~gluestick_spark.llm.bloom.
    bloom_words` frame built with the same ``bloom_m_bits``/``bloom_k``)
    to skip rebuilding the filter per call — then the reference table is
    touched ONLY by the pre-filtered exact join.

    Output is at ID grain: one row per DISTINCT ``id_col`` value; rows
    sharing an id combine (gram counts sum over the duplicate rows) —
    identically on the bloom and exact paths."""
    novelty = F.when(
        F.col("n_grams") > 0,
        F.floor(
            F.lit(1000000.0)
            * (F.col("n_novel").cast("double") / F.col("n_grams").cast("double"))
        ).cast("long"),
    )
    bloom_m_bits = _resolve_bloom_m(bloom_m_bits, ref_grams)
    if bloom_m_bits is not None:
        words = (
            bloom_words_df
            if bloom_words_df is not None
            else bloom_words(ref_grams, "__g__", bloom_m_bits, bloom_k)
        )
        totals = (
            corpus.select(
                F.col(id_col).alias("__id__"),
                F.size(ngram_hashes_expr(F.col(text_col), n)).alias("__sz__"),
            )
            # ID grain, matching the exact path's per-ID groupBy — so
            # duplicate ids combine identically on both paths instead of
            # per-row totals meeting a per-ID seen count (n_novel could
            # go negative)
            .groupBy("__id__")
            .agg(F.sum("__sz__").alias("n_grams"))
        )
        doc_grams = corpus.select(
            F.col(id_col).alias("__id__"),
            F.explode(ngram_hashes_expr(F.col(text_col), n)).alias("__g__"),
        )
        seen = (
            bloom_prefilter(doc_grams, "__g__", words, bloom_m_bits, bloom_k)
            .join(ref_grams, "__g__")
            .groupBy("__id__")
            .agg(F.count(F.lit(1)).alias("__n_seen__"))
        )
        return (
            totals.join(seen, "__id__", "left")
            .withColumn(
                "n_novel",
                F.col("n_grams") - F.coalesce("__n_seen__", F.lit(0)),
            )
            .select(
                F.col("__id__").alias(id_col),
                F.col("n_grams").cast("long").alias("n_grams"),
                F.col("n_novel").cast("long").alias("n_novel"),
                novelty.alias("novelty_ppm"),
            )
        )
    doc_grams = corpus.select(
        F.col(id_col).alias("__id__"),
        F.explode(ngram_hashes_expr(F.col(text_col), n)).alias("__g__"),
    )
    per_doc = (
        doc_grams.join(ref_grams.withColumn("__seen__", F.lit(True)), "__g__", "left")
        .groupBy("__id__")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("__seen__").isNull(), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        corpus.select(F.col(id_col).alias("__id__"))
        .distinct()  # ID grain — one output row per distinct id, both paths
        .join(per_doc, "__id__", "left")
        .select(
            F.col("__id__").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            novelty.alias("novelty_ppm"),
        )
    )


def corpus_gram_overlap(
    a: DataFrame,
    b: DataFrame,
    text_col: str,
    b_text_col: str | None = None,
    n: int = 3,
    bloom_m_bits: int | None | str = "auto",
    bloom_k: int = 3,
) -> DataFrame:
    """Corpus-level n-gram overlap — ONE row:
    (``n_grams_a``, ``n_grams_b``, ``n_shared``, ``jaccard_ppm``,
    ``containment_a_in_b_ppm``) over the corpora's DISTINCT word
    n-gram sets. The corpus-diff companion to the per-document
    :func:`novelty_scores`: Jaccard answers "how similar are these two
    corpora" (crawl-refresh dedup planning, mixture design), the
    containment answers "how much of A does B already cover" (is a new
    source worth ingesting?).

    Ratios are ``floor(1e6·x/y)`` — one IEEE divide each on exact int64
    set sizes; an empty union yields NULL jaccard (stated contract).

    Scale shape: each corpus collapses once to distinct 8-byte gram
    hashes (a map-side-combined aggregate — never the text), the shared
    count is one hash join at distinct-gram scale, and the result is
    three 1-row aggregates combined by cross join (no corpus-scale
    shuffle beyond the two distincts).

    ``bloom_m_bits``/``bloom_k`` (default ``'auto'``: the filter builds
    only when Catalyst's size statistic says the reference side exceeds
    the broadcast threshold — see :func:`_resolve_bloom_m`; an int
    forces it on at that size, ``None`` disables): a Bloom filter over
    B's gram hashes pre-filters A's RAW gram stream before both the
    intersection's distinct and its join — at 100 TB that shrinks the
    n_shared branch's two shuffles to (shared + ~0.1% FP) grams, for
    one extra pass over B's grams to build the ≤ m/64-row bitmap (the
    n_grams_a/n_grams_b branches are separate plan consumers either
    way). Counts are bit-identical: FPs die in the exact join."""
    bt = b_text_col or text_col
    ga_raw = a.select(
        F.explode(ngram_hashes_expr(F.col(text_col), n)).alias("__g__")
    )
    ga = ga_raw.distinct()
    gb = b.select(
        F.explode(ngram_hashes_expr(F.col(bt), n)).alias("__g__")
    ).distinct()
    na = ga.agg(F.count(F.lit(1)).alias("n_grams_a"))
    nb = gb.agg(F.count(F.lit(1)).alias("n_grams_b"))
    bloom_m_bits = _resolve_bloom_m(bloom_m_bits, b)
    if bloom_m_bits is not None:
        words = bloom_words(gb, "__g__", bloom_m_bits, bloom_k)
        ga_shared = bloom_prefilter(
            ga_raw, "__g__", words, bloom_m_bits, bloom_k
        ).distinct()
    else:
        ga_shared = ga
    ns = ga_shared.join(gb, "__g__").agg(F.count(F.lit(1)).alias("n_shared"))
    ppm = lambda num, den: F.when(  # noqa: E731
        den > 0,
        F.floor(
            F.lit(1000000.0) * (num.cast("double") / den.cast("double"))
        ).cast("long"),
    )
    union_sz = F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_shared")
    return (
        na.crossJoin(nb)
        .crossJoin(ns)
        .select(
            F.col("n_grams_a").cast("long").alias("n_grams_a"),
            F.col("n_grams_b").cast("long").alias("n_grams_b"),
            F.col("n_shared").cast("long").alias("n_shared"),
            ppm(F.col("n_shared"), union_sz).alias("jaccard_ppm"),
            ppm(F.col("n_shared"), F.col("n_grams_a")).alias(
                "containment_a_in_b_ppm"
            ),
        )
    )


def corpus_jaccard_kmv(
    a: DataFrame,
    b: DataFrame,
    text_col: str,
    b_text_col: str | None = None,
    n: int = 3,
    k: int = 1024,
) -> DataFrame:
    """Corpus-level n-gram Jaccard ESTIMATE from mergeable KMV sketches
    — the 100 TB sibling of :func:`corpus_gram_overlap`: instead of the
    exact distinct-gram intersection join (two corpus-gram distincts +
    a hash join per comparison), each corpus collapses to its k
    smallest portable gram hashes (:mod:`gluestick_spark.llm.sketch` —
    a value you persist once and reuse), and the estimate is pure array
    arithmetic over two k-element sketches:

        S = k smallest of (sketch_A ∪ sketch_B)   — a uniform sample
                                                    of A ∪ B's gram space
        J ≈ |S ∩ sketch_A ∩ sketch_B| / |S|

    (Beyer et al. 2007 / the theta-sketch set-operation rule). Standard
    error ≈ 1/√k (~3.1% at k=1024); EXACT when |grams(A ∪ B)| ≤ k. The
    md5-60-bit hash is engine-portable, so the estimate — unlike
    MinHash's xxhash64 signatures — is replayable by the DuckDB oracle
    bit-for-bit.

    Returns ONE row: (``k_used``, ``n_shared``, ``jaccard_est_ppm``);
    an empty union yields (0, 0, NULL).

    When to use which: pairwise / few comparisons with exact numbers →
    :func:`corpus_gram_overlap`; MANY corpora compared repeatedly
    (mixture design over hundreds of sources, crawl-over-crawl drift
    matrices) → sketch each corpus once here, then every pairwise
    estimate is O(k) — no re-scan, no join. Scale shape per corpus: one
    gram distinct (map-side combined) + the bounded two-phase k-min
    rank; the comparison itself is a broadcast cross join of two 1-row
    frames."""
    from .sketch import kmv_sketch

    bt = b_text_col or text_col
    ga = a.select(F.explode(ngrams_expr(F.col(text_col), n)).alias("__g__"))
    gb = b.select(F.explode(ngrams_expr(F.col(bt), n)).alias("__g__"))
    sa = kmv_sketch(ga, "__g__", k).select(F.col("kmv").alias("__ka__"))
    sb = kmv_sketch(gb, "__g__", k).select(F.col("kmv").alias("__kb__"))
    return kmv_jaccard_from_sketches(a.sparkSession, sa, sb, k)


def kmv_jaccard_from_sketches(
    spark, sa: DataFrame, sb: DataFrame, k: int
) -> DataFrame:
    """The estimator tail of :func:`corpus_jaccard_kmv` over two
    ALREADY-MATERIALIZED 1-row sketch frames (columns ``__ka__`` /
    ``__kb__``, sorted array<long> KMV sketches built with the same k)
    — the serve-many half of the sketch-once pattern. Tolerates empty
    frames (no-row input → empty sketch)."""
    # A sketch frame can arrive EMPTY (a grouped kmv_sketch over no rows
    # emits zero rows; the ungrouped global agg emits one row with []) —
    # a LEFT join from range(1) keeps the comparison total either way,
    # where a crossJoin against a 0-row frame would drop the default row.
    one = spark.range(1)
    sa = one.join(F.broadcast(sa), F.lit(True), "left").select(
        F.coalesce("__ka__", F.array().cast("array<long>")).alias("__ka__")
    )
    sb = one.join(F.broadcast(sb), F.lit(True), "left").select(
        F.coalesce("__kb__", F.array().cast("array<long>")).alias("__kb__")
    )
    u = F.slice(
        F.array_sort(F.array_union(F.col("__ka__"), F.col("__kb__"))),
        1,
        k,
    )
    shared = F.size(
        F.array_intersect(F.array_intersect(u, F.col("__ka__")), F.col("__kb__"))
    )
    k_used = F.size(u)
    est = F.when(
        k_used > 0,
        F.floor(
            F.lit(1000000.0) * (shared.cast("double") / k_used.cast("double"))
        ).cast("long"),
    )
    return (
        sa.crossJoin(F.broadcast(sb))
        .select(
            k_used.cast("long").alias("k_used"),
            shared.cast("long").alias("n_shared"),
            est.alias("jaccard_est_ppm"),
        )
    )


def corpus_drift_matrix(
    df: DataFrame,
    group_col: str,
    text_col: str,
    n: int = 3,
    k: int = 512,
) -> DataFrame:
    """ALL-PAIRS corpus similarity matrix from ONE pass — the mixture-
    design view :func:`corpus_jaccard_kmv` serves pairwise: every
    source slice collapses to its KMV gram sketch in a single grouped
    aggregation over the corpus, then the S×S estimates are pure array
    arithmetic over the S-row sketch frame (broadcast nested-loop on
    ≤ S·k longs — S sources, never corpus data). Returns
    (``src_a`` < ``src_b``, ``k_used``, ``n_shared``,
    ``jaccard_est_ppm``) per unordered pair; s.e. ≈ 1/√k per estimate,
    exact for pairs whose gram union fits in k.

    At 100 TB this is the drift dashboard query: one corpus scan per
    refresh (or zero — merge persisted per-increment sketches with
    :func:`~gluestick_spark.llm.sketch.kmv_merge`), then hundreds of
    sources compare in milliseconds. Deterministic md5 hashing keeps
    the whole matrix oracle-replayable."""
    from .sketch import kmv_sketch

    grams = df.select(
        group_col, F.explode(ngrams_expr(F.col(text_col), n)).alias("__g__")
    )
    # pin the S-row sketch frame (S·k longs): it feeds BOTH sides of the
    # pair join — un-pinned, the corpus gram explode + sketch aggregate
    # ran twice in one plan
    sk = pin(kmv_sketch(grams, "__g__", k, [group_col]))
    a = sk.select(F.col(group_col).alias("src_a"), F.col("kmv").alias("__ka__"))
    b = sk.select(F.col(group_col).alias("src_b"), F.col("kmv").alias("__kb__"))
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    u = F.slice(F.array_sort(F.array_union("__ka__", "__kb__")), 1, k)
    shared = F.size(
        F.array_intersect(F.array_intersect(u, F.col("__ka__")), F.col("__kb__"))
    )
    k_used = F.size(u)
    est = F.when(
        k_used > 0,
        F.floor(
            F.lit(1000000.0) * (shared.cast("double") / k_used.cast("double"))
        ).cast("long"),
    )
    return pairs.select(
        "src_a",
        "src_b",
        k_used.cast("long").alias("k_used"),
        shared.cast("long").alias("n_shared"),
        est.alias("jaccard_est_ppm"),
    )
