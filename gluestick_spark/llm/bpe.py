"""Byte-pair-encoding tokenizer training and application — the missing
piece between corpus statistics (``bpe_pair_counts`` gives ONE merge
step's counts) and a usable subword vocabulary: learn the full ordered
merge list from the corpus, then encode text under it.

Algorithm (Sennrich et al. 2016, the reference BPE): words split into
character symbols (+ an end-of-word marker), then repeatedly merge the
globally most frequent adjacent symbol pair. The classic implementation
detail that makes this tractable — and what this port keeps — is
WORD-FREQUENCY COMPRESSION: all pair statistics run over the DISTINCT
word table weighted by occurrence counts, never over the corpus. A 100 TB
corpus has a vocabulary of maybe 10⁷ distinct words; every merge
iteration is one aggregate over that table, not a corpus scan.

Scale shape per iteration: pair counts = posexplode over the distinct-word
symbol arrays → ONE map-side-combined hash aggregate (pair space is
vocabulary-bounded) → ``TakeOrderedAndProject`` top-1 → a driver scalar.
The merge application is a single regexp_replace (lookaround-anchored,
literal-quoted) over the distinct-word table. The loop is inherently
sequential (merge i+1's statistics depend on merge i — this is the
textbook iterative-algorithm case, like k-means); an eager ``pin``
every few iterations truncates the otherwise linearly growing lineage.

``apply_bpe`` encodes via the same distinct-word compression: segment
each DISTINCT word once (Arrow-batched pandas iteration over the small
word table — the per-word merge loop is irreducibly sequential), then one
broadcast join maps every corpus token to its subwords. The corpus itself
is touched exactly once, by the join.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..partitioning import pin

__all__ = ["train_bpe", "apply_bpe"]

_EOW = "▁"  # end-of-word marker (visible, not in tokenized text)


def _word_counts(df: DataFrame, text_col: str, lowercase: bool) -> DataFrame:
    from .text import tokens_expr

    toks = tokens_expr(F.coalesce(F.col(text_col), F.lit("")))
    if lowercase:
        toks = F.transform(toks, F.lower)
    return (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("__n__"))
    )


def _syms_expr(word) -> Column:
    # "low" -> "l o w ▁"  (space-separated symbols + end-of-word)
    chars = F.filter(F.split(word, ""), lambda c: c != "")
    return F.concat_ws(" ", F.concat(chars, F.array(F.lit(_EOW))))


def train_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    lowercase: bool = True,
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn an ordered BPE merge list from the corpus. Returns up to
    ``n_merges`` pairs ``(a, b)`` in merge order (stops early when no
    remaining pair reaches ``min_pair_count``). Ties break on the pair's
    symbols ascending — deterministic across runs and partitionings.

    Iteration cost is O(distinct words), never O(corpus); see module
    docstring. For production-size merge counts (30k+) run on a word
    table sampled or frequency-floored first (``min_count`` in
    :func:`~gluestick_spark.llm.text.token_frequencies` semantics) — the
    loop is driver-sequenced, so wall time is n_merges × one small job.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = pin(
        _word_counts(df, text_col, lowercase).select(
            _syms_expr(F.col("word")).alias("__s__"), "__n__"
        ),
        eager=True,
    )
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        arr = F.split(F.col("__s__"), " ")
        top = (
            words.where(F.size(arr) >= 2)
            .select(
                F.explode(F.sequence(F.lit(0), F.size(arr) - 2)).alias("__i__"),
                "__s__",
                "__n__",
            )
            .select(
                F.element_at(arr, F.col("__i__") + 1).alias("__a__"),
                F.element_at(arr, F.col("__i__") + 2).alias("__b__"),
                "__n__",
            )
            .groupBy("__a__", "__b__")
            .agg(F.sum("__n__").alias("__c__"))
            .orderBy(
                F.col("__c__").desc(), F.col("__a__").asc(), F.col("__b__").asc()
            )
            .limit(1)
            .first()
        )
        if top is None or top["__c__"] < min_pair_count:
            break
        a, b = top["__a__"], top["__b__"]
        merges.append((a, b))
        # merge all non-overlapping left-to-right occurrences of "a b";
        # zero-width lookarounds keep adjacent occurrences mergeable in
        # one pass ("a b a b" -> "ab ab", not "ab a b")
        pat = f"(?<=^| ){re.escape(a)} {re.escape(b)}(?=$| )"
        repl = (a + b).replace("\\", "\\\\").replace("$", "\\$")
        words = words.withColumn(
            "__s__", F.regexp_replace(F.col("__s__"), pat, repl)
        )
        if (i + 1) % checkpoint_every == 0:
            words = pin(words, eager=True)
    return merges


def _segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merging of one word — the standard BPE
    encode loop (driver/executor-local, runs once per DISTINCT word)."""
    syms = list(word) + [_EOW]
    while len(syms) > 1:
        best, best_rank = None, None
        for j in range(len(syms) - 1):
            r = ranks.get((syms[j], syms[j + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = j, r
        if best is None:
            break
        # merge ALL occurrences of that pair left-to-right (one rank pass)
        a, b = syms[best], syms[best + 1]
        out, j = [], 0
        while j < len(syms):
            if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                out.append(a + b)
                j += 2
            else:
                out.append(syms[j])
                j += 1
        syms = out
    return syms


def apply_bpe(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
    lowercase: bool = True,
) -> DataFrame:
    """Encode documents under a learned merge list: returns (``id_col``,
    ``subwords`` array<string>, ``n_subwords``) — document order of
    subwords preserved. Each DISTINCT word is segmented once (Arrow
    batches over the vocabulary-sized word table; the per-word merge loop
    is irreducibly sequential Python, so it runs on the COMPRESSED table)
    and a broadcast join expands the result to the corpus — the corpus is
    scanned once."""
    from .text import tokens_expr

    ranks = {pair: i for i, pair in enumerate(merges)}

    def seg(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "__subs__": [
                        _segment_word(w, ranks) for w in pdf["word"]
                    ],
                }
            )

    toks = tokens_expr(F.coalesce(F.col(text_col), F.lit("")))
    if lowercase:
        toks = F.transform(toks, F.lower)
    ex = df.select(F.col(id_col), F.posexplode(toks).alias("__pos__", "word"))
    vocab = ex.select("word").distinct().mapInPandas(
        seg, "word string, __subs__ array<string>"
    )
    joined = ex.join(F.broadcast(vocab), "word")
    regrouped = (
        joined.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos__", "__subs__"))
                    ),
                    lambda s: s["__subs__"],
                )
            ).alias("subwords")
        )
    )
    base = df.select(id_col)
    return (
        base.join(regrouped, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                "subwords", F.array().cast("array<string>")
            ).alias("subwords"),
        )
        .withColumn("n_subwords", F.size("subwords"))
    )
