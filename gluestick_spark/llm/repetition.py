"""Repetition statistics — the Gopher/MassiveText quality-filter family.

Rae et al. 2021 (Gopher, §A1.1) filter documents by repetition signals:
fraction of duplicate lines, and fraction of characters inside the most
frequent word n-gram. Boilerplate, SEO spam, and template pages light up
on these before any model-based filter runs.

Scale design: per-(doc, unit) counting goes through ONE explode + ONE
hash aggregate (map-side combined — the shuffle carries a row per DISTINCT
line/n-gram per doc, not per occurrence), then one aggregate back to doc
grain. Never a per-doc quadratic scan of the unit array, so a pathological
million-line document costs its size, not its size squared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import bind_row, tokens_expr

__all__ = ["repetition_stats"]


def repetition_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 2,
) -> DataFrame:
    """Per-document repetition signals:

    - ``dup_line_frac``: duplicated lines / total lines (a line is
      duplicated when it appears ≥2 times; all its occurrences count).
    - ``dup_line_char_frac``: characters inside duplicated lines / total
      line characters.
    - ``top_ngram_char_frac``: characters covered by the most frequent
      word ``ngram``-gram (count × gram length) / total characters.

    Empty documents report 0.0 everywhere. Returns
    (id, dup_line_frac, dup_line_char_frac, top_ngram_char_frac).
    """
    d = df.select(F.col(id_col).alias("__id__"), F.col(text_col).alias("__t__"))

    # --- line duplication ---
    lines = F.filter(F.split(F.col("__t__"), "\n"), lambda x: x != F.lit(""))
    ln = d.select("__id__", F.explode(lines).alias("__line__"))
    per_line = ln.groupBy("__id__", "__line__").agg(F.count("*").alias("__c__"))
    line_stats = per_line.groupBy("__id__").agg(
        F.sum("__c__").alias("__nl__"),
        F.sum(F.when(F.col("__c__") >= 2, F.col("__c__")).otherwise(0)).alias("__dl__"),
        F.sum(F.col("__c__") * F.length("__line__")).alias("__lc__"),
        F.sum(
            F.when(F.col("__c__") >= 2, F.col("__c__") * F.length("__line__")).otherwise(0)
        ).alias("__dlc__"),
    )

    # --- top n-gram coverage ---
    # token array bound ONCE as a lambda variable (no CSE inside lambda
    # bodies — referencing the tokenize in the per-index slice re-ran the
    # regexp split once per gram position; the ngram_hashes_expr lesson)
    toks0 = F.transform(tokens_expr(F.col("__t__")), F.lower)
    n = ngram

    def gram_body(toks):
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))

    grams = bind_row(toks0, gram_body)
    g = d.select("__id__", F.length(F.col("__t__")).alias("__chars__"), F.explode(grams).alias("__g__"))
    per_gram = g.groupBy("__id__", "__g__").agg(
        F.count("*").alias("__c__"), F.first("__chars__").alias("__chars__")
    )
    gram_stats = per_gram.groupBy("__id__").agg(
        F.max(F.col("__c__") * F.length("__g__")).alias("__topg__"),
        F.first("__chars__").alias("__chars__"),
    )

    out = (
        d.select("__id__")
        .join(line_stats, "__id__", "left")
        .join(gram_stats, "__id__", "left")
        .select(
            F.col("__id__").alias(id_col),
            F.coalesce(F.col("__dl__") / F.col("__nl__"), F.lit(0.0)).alias(
                "dup_line_frac"
            ),
            F.coalesce(F.col("__dlc__") / F.col("__lc__"), F.lit(0.0)).alias(
                "dup_line_char_frac"
            ),
            F.coalesce(F.col("__topg__") / F.col("__chars__"), F.lit(0.0)).alias(
                "top_ngram_char_frac"
            ),
        )
    )
    return out
