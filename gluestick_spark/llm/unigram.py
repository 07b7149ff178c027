"""Unigram-LM (SentencePiece-style) Viterbi segmentation (VERDICT r13
#6).

Complements :mod:`gluestick_spark.llm.bpe` so the packing/token-budget
story (L12/L61) covers both dominant tokenizer families: BPE encodes by
replaying a merge list; the unigram model segments each
whitespace-pre-tokenized word by MAX-SUM dynamic programming over a
piece vocabulary with integer scores — max-product over piece
probabilities IS max-sum over integer log-mass scores, and keeping the
scores integer makes the whole decision exactly replayable in ANSI SQL
(the kmeans-unroll determinism device applied to Viterbi).

Score contract: ``vocab`` maps piece → int64 score, HIGHER is better
(log-probabilities scaled to integers are the canonical instance:
``floor(ln(p)·1e6)``, all negative). Any caller-built integer scoring
works; :func:`subword_vocab` builds one from corpus counts with pure
integer arithmetic (``-(scale DIV count)`` — an inverse-frequency cost,
chosen over ``ln`` so the DRIVER ORACLE can replay vocabulary
construction bit-for-bit; the ln-scored form is pinned by pytest
against a brute-force reference instead).

Decision rule (fully deterministic): dp[0]=0; dp[i] = max over piece
lengths l in 1..L of dp[i−l] + score(word[i−l:i]); ties prefer the
SMALLEST l. Single-character pieces always exist (vocab hit or
``unk_score``), so every word has a path. Words longer than
``max_word_len`` take the documented fallback — one piece (the whole
word) at ``unk_score`` — which both bounds the DP and keeps the SQL
replay (whose unroll depth is ``max_word_len``) total.

Scale shape: the DP runs once per DISTINCT word (the fuzzy.py
compression device) and joins back to word instances — corpus cost is
one tokenize + one distinct + one broadcast join. Per distinct word the
work is one span×vocab broadcast join (≤ W·L rows) and one Catalyst
``aggregate`` fold of ``n ≤ max_word_len`` steps — no Python, no
shuffle beyond the distinct. At 100 TB the distinct-word table is the
natural unit (vocabulary-sized, not corpus-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import pin
from .text import tokens_expr

__all__ = ["subword_vocab", "unigram_segment", "train_unigram_vocab"]

# unreachable-position sentinel: far below any real path score
# (|scores| <= ~5e9 per piece x <= 64 pieces), far above int64 overflow
_SENT = -(10**15)


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(distinct word, instance count) — ONE corpus tokenize + one keyed
    aggregate; every downstream stage of the unigram family runs at
    distinct-word (vocabulary) scale against this frame."""
    return (
        df.select(F.explode(tokens_expr(F.col(text_col))).alias("__w__"))
        .groupBy("__w__")
        .agg(F.count(F.lit(1)).alias("__m__"))
    )


def _vocab_from_word_counts(
    wc: DataFrame, max_piece_len: int, min_count: int, scale: int
) -> DataFrame:
    """Piece counts from (distinct word, multiplicity): a piece's
    instance count is Σ over distinct words of (occurrences in the word)
    × (word instance count) — identical integers to counting every
    instance's substrings, but the substring explosion runs once per
    DISTINCT word instead of once per word instance (the fuzzy.py
    exact-group compression; a 100 TB corpus explodes its vocabulary,
    not its token stream)."""
    spans = (
        wc.select(
            "__w__",
            "__m__",
            F.explode(
                F.sequence(F.lit(0), F.length("__w__") - 1)
            ).alias("__st__"),
        )
        .select(
            "__w__",
            "__m__",
            "__st__",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(max_piece_len),
                        F.length("__w__") - F.col("__st__"),
                    ),
                )
            ).alias("__l__"),
        )
        .select(
            F.substring(
                F.col("__w__"), F.col("__st__") + 1, F.col("__l__")
            ).alias("piece"),
            "__m__",
        )
    )
    counts = spans.groupBy("piece").agg(F.sum("__m__").alias("__n__"))
    kept = counts.where(
        (F.col("__n__") >= min_count) | (F.length("piece") == 1)
    )
    return kept.select(
        "piece",
        F.expr(f"-(CAST({int(scale)} AS BIGINT) div __n__)").alias("score"),
    )


def subword_vocab(
    df: DataFrame,
    text_col: str,
    max_piece_len: int = 4,
    min_count: int = 2,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Integer-cost piece vocabulary from corpus counts: every substring
    of length 1..``max_piece_len`` of every word INSTANCE is counted;
    pieces seen >= ``min_count`` times (single characters always) score
    ``-(scale DIV count)`` — an exact-integer inverse-frequency cost
    (frequent pieces are cheap; the Viterbi max-sum then prefers few,
    frequent pieces). Returns (``piece``, ``score`` long)."""
    if max_piece_len < 1 or min_count < 1 or scale < 1:
        raise ValueError("max_piece_len, min_count, scale must be >= 1")
    return _vocab_from_word_counts(
        _word_counts(df, text_col), max_piece_len, min_count, scale
    )


def _span_score_array(
    words: DataFrame,
    vocab: DataFrame,
    piece_col: str,
    score_col: str,
    max_piece_len: int,
    max_word_len: int,
    unk_score: int,
) -> DataFrame:
    """Per distinct word: a dense W·L score array indexed by
    ``(start)·L + (len−1)`` (missing spans null) — the lookup table the
    DP fold reads. One broadcast join; single-char spans fall back to
    ``unk_score`` so every word stays segmentable."""
    L = max_piece_len
    spans = (
        words.select(
            "__w__",
            F.explode(
                F.sequence(F.lit(0), F.length("__w__") - 1)
            ).alias("__st__"),
        )
        .select(
            "__w__",
            "__st__",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(L), F.length("__w__") - F.col("__st__")),
                )
            ).alias("__l__"),
        )
        .withColumn(
            "piece",
            F.substring(F.col("__w__"), F.col("__st__") + 1, F.col("__l__")),
        )
    )
    v = vocab.select(
        F.col(piece_col).alias("piece"), F.col(score_col).alias("__sc__")
    )
    j = spans.join(F.broadcast(v), "piece", "left").withColumn(
        "__sc__",
        F.when(
            F.col("__l__") == 1,
            F.coalesce(F.col("__sc__"), F.lit(int(unk_score)).cast("long")),
        ).otherwise(F.col("__sc__")),
    ).where(F.col("__sc__").isNotNull())
    # W·L aggregates as SQL text parsed once each: the Column-builder
    # form (max(when(...)) per cell) cost ~1 s of py4j roundtrips per
    # call at W=16, L=4 — the kmeans literal-SQL device. CASE WHEN with
    # no ELSE is exactly when().otherwise-absent (NULL), so the grouped
    # maxima are identical.
    cells = [
        (st, l) for st in range(max_word_len) for l in range(1, L + 1)
    ]
    aggs = [
        F.expr(
            f"max(CASE WHEN __st__ = {st} AND __l__ = {l} THEN __sc__ END)"
            f" AS __s_{st}_{l}__"
        )
        for st, l in cells
    ]
    arr = F.expr(
        "array(" + ", ".join(f"__s_{st}_{l}__" for st, l in cells) + ")"
    )
    return (
        j.groupBy("__w__").agg(*aggs).select("__w__", arr.alias("__sarr__"))
    )


def unigram_segment(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: DataFrame,
    piece_col: str = "piece",
    score_col: str = "score",
    max_piece_len: int = 4,
    max_word_len: int = 16,
    unk_score: int = -5_000_000_000,
    words: DataFrame | None = None,
) -> DataFrame:
    """Viterbi-encode every whitespace word of ``text_col`` against an
    integer-scored piece vocabulary (module docstring for the decision
    rule and determinism contract). Returns one row per word instance:
    (``id_col``, ``word_idx`` 1-based, ``word``, ``pieces``
    array<string>, ``score`` long).

    ``words`` (optional): a single-column frame holding exactly the
    corpus's DISTINCT whitespace words. Callers that already aggregated
    word counts for the vocabulary (``subword_vocab``'s input) pass the
    distinct words here so the DP input never re-derives them from the
    corpus — the train_pq shared-schedule device. When omitted, the
    distinct-word frame is derived from ``df`` and pinned
    (vocabulary-sized; its two consumers, the DP input and the
    long-word fallback, would otherwise each re-run the corpus
    tokenize+distinct)."""
    if max_piece_len < 1 or max_word_len < 1:
        raise ValueError("max_piece_len and max_word_len must be >= 1")
    L, W = max_piece_len, max_word_len
    toks = tokens_expr(F.col(text_col))
    inst = df.select(
        F.col(id_col), F.posexplode(toks).alias("__wi__", "__w__")
    ).select(
        id_col, (F.col("__wi__") + 1).alias("word_idx"), "__w__"
    )
    if words is not None:
        dw = words.select(F.col(words.columns[0]).alias("__w__"))
    else:
        dw = pin(inst.select("__w__").distinct())
    short = dw.where(F.length("__w__") <= W)
    long_ = dw.where(F.length("__w__") > W).select(
        "__w__",
        F.array(F.col("__w__")).alias("pieces"),
        F.lit(int(unk_score)).cast("long").alias("score"),
    )

    sarr = _span_score_array(
        short, vocab, piece_col, score_col, L, W, unk_score
    )

    # DP fold and backtrace as SQL text parsed once (the kmeans
    # literal-SQL device): term-for-term the Column-builder form —
    # CASE branches, struct field order, int/long types and the
    # best.dp/best.negl subtree duplication are all unchanged, so the
    # decision (and every tie) is bit-identical.
    sent = int(_SENT)
    invalid = int(4 * _SENT)

    def _cand(l: int) -> str:
        sc = (
            f"coalesce(element_at(__sarr__, (i - {l}) * {L} + {l}),"
            f" CAST({sent} AS BIGINT))"
        )
        dp_prev = f"element_at(acc, i - {l} + 1).dp"
        return (
            f"IF(i >= {l},"
            f" named_struct('dp', {dp_prev} + {sc}, 'negl', {-l}),"
            f" named_struct('dp', CAST({invalid} AS BIGINT), 'negl', {-l}))"
        )

    best = "array_max(array(" + ", ".join(_cand(l) for l in range(1, L + 1)) + "))"
    dp = F.expr(
        "aggregate(sequence(1, length(__w__)),"
        " array(named_struct('dp', CAST(0 AS BIGINT), 'bp', 0)),"
        f" (acc, i) -> concat(acc, array(named_struct("
        f"'dp', {best}.dp, 'bp', CAST(-({best}.negl) AS INT)))))"
    )

    solved = sarr.withColumn("__dp__", dp)

    # backtrace: W static steps over the per-position backpointers
    bl = "element_at(__dp__, state.pos + 1).bp"
    bt = F.expr(
        f"aggregate(sequence(1, {W}),"
        " named_struct('pos', CAST(length(__w__) AS INT),"
        " 'parts', CAST(array() AS ARRAY<STRING>)),"
        " (state, i) -> IF(state.pos > 0,"
        f" named_struct('pos', state.pos - {bl},"
        f" 'parts', concat(state.parts,"
        f" array(substring(__w__, state.pos - {bl} + 1, {bl})))),"
        " state))"
    )
    seg = solved.select(
        "__w__",
        F.reverse(bt["parts"]).alias("pieces"),
        F.element_at(F.col("__dp__"), F.length("__w__") + 1)["dp"].alias("score"),
    )

    all_words = seg.unionByName(long_)
    return inst.join(F.broadcast(all_words), "__w__").select(
        id_col,
        "word_idx",
        F.col("__w__").alias("word"),
        "pieces",
        "score",
    )


def train_unigram_vocab(
    df: DataFrame,
    text_col: str,
    iters: int = 1,
    max_piece_len: int = 4,
    max_word_len: int = 16,
    min_count: int = 2,
    scale: int = 1_000_000_000,
    unk_score: int = -5_000_000_000,
) -> DataFrame:
    """Viterbi-EM (hard-EM) unigram vocabulary refinement — the trainer
    half of the SentencePiece-style family: start from the
    :func:`subword_vocab` count-based costs, then iterate (E) segment
    every DISTINCT word with the current vocabulary and (M) re-cost each
    piece from its USAGE in the Viterbi segmentations (weighted by word
    instance counts): ``score' = -(scale DIV usage)``. Pieces the
    optimal segmentations stop using are pruned (the EM pruning step);
    single-character pieces are never pruned (reachability — unused
    ones get the worst cost, ``-(scale DIV 1)``), and fallback pieces
    longer than ``max_piece_len`` (unsegmentable long words) never
    enter. Deterministic integers end-to-end — one EM iteration is
    exactly replayable in SQL (the ``unigram_em_vocab`` oracle row).

    Scale shape per iteration: the E-step runs the DP once per DISTINCT
    word (vocabulary-sized, not corpus-sized — instance weights ride a
    precomputed count column); the M-step is one explode + one
    aggregate over the segmentations. Returns (``piece``, ``score``)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # ONE corpus tokenize: the word-count frame feeds the initial
    # vocabulary, the E-step's distinct-word input AND the M-step's
    # usage weights. It is vocabulary-sized (distinct words), so pinning
    # it is the same bounded-state call the per-iteration vocabulary pin
    # below already makes; without the pin each of its three consumers
    # re-runs the corpus aggregate.
    w = pin(_word_counts(df, text_col))
    v = _vocab_from_word_counts(w, max_piece_len, min_count, scale)
    chars = v.where(F.length("piece") == 1).select("piece")
    for _ in range(iters):
        # the E-step's documents ARE the distinct words (each word is one
        # single-token doc), so the pinned word-count frame doubles as
        # unigram_segment's distinct-word input — no re-derive, no
        # per-iteration distinct aggregate
        seg = unigram_segment(
            w.select(
                F.col("__w__").alias("wid"), F.col("__w__").alias("wtext")
            ),
            "wtext",
            "wid",
            v,
            max_piece_len=max_piece_len,
            max_word_len=max_word_len,
            unk_score=unk_score,
            words=w.select("__w__"),
        )
        usage = (
            seg.join(w.withColumnRenamed("__w__", "wid"), "wid")
            .select(F.explode("pieces").alias("piece"), "__m__")
            .groupBy("piece")
            .agg(F.sum("__m__").alias("__u__"))
        )
        merged = usage.join(chars, "piece", "full").select(
            "piece", F.coalesce(F.col("__u__"), F.lit(0)).alias("__u__")
        )
        v = merged.where(
            ((F.col("__u__") >= 1) & (F.length("piece") <= max_piece_len))
            | (F.length("piece") == 1)
        ).select(
            "piece",
            F.expr(
                f"-(CAST({int(scale)} AS BIGINT) div "
                f"greatest(CAST(__u__ AS BIGINT), CAST(1 AS BIGINT)))"
            ).alias("score"),
        )
        v = pin(v)  # vocabulary-sized lineage truncation
    return v
