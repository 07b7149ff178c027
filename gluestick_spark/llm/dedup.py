"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point — these must survive 100 TB):
- **exact_dedup**: hash-groupBy. One shuffle on the content hash; keep-min
  representative is a window on the hash key. At scale, AQE handles skew
  (identical boilerplate documents land in one hash bucket).
- **minhash_lsh**: shingle → one xxhash64 → K affine permutations mod 2³¹-1
  (all JVM expressions) → band into B buckets → self-join per bucket →
  verify candidates with exact Jaccard. The *only* pairwise work happens
  inside LSH buckets, never across the full corpus (O(N²) avoided). Bucket
  join is a shuffle on (band_id, band_hash); hot buckets (e.g. empty docs)
  are the skew risk — ``max_bucket`` drops buckets over the cap before the
  self-join (implemented in ``_cap_buckets``, available on every bucketed
  operator here).
- **simhash**: 64-bit signature per doc from token hashes — pure expressions
  (explode-free: aggregate over the token array), near-dups = signatures at
  hamming distance ≤ d found by banding the 64 bits into chunks.
- **ngram_jaccard**: exact verified Jaccard for candidate pairs.

One banded-LSH join serves every near-dup family — MinHash (self,
cross-corpus, persisted band index), SimHash, hyperplane embeddings,
phash/audio (``multimodal.py``) and the MinHash and fingerprint streams
(``streaming/pipeline.py``). Each family keeps only its signature and
its verify: ``_cap_buckets`` trims wide buckets, ``_candidate_join`` is
the one bucket equi-join (optional ``a < b``, distinct), ``_band_pieces``
the one splitter of a 64-bit signature into pieces, and
``_hamming_verify`` / ``_jaccard_verify`` the one verify per similarity.

All hashes are Spark's ``xxhash64`` — deterministic across runs/executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..partitioning import ensure_min_partitions as _parallelize
from ..partitioning import pin
from .text import bind_row, shingles_expr, tokens_expr

__all__ = [
    "exact_dedup",
    "lsh_geometry",
    "plan_lsh_geometry",
    "lsh_candidate_probability",
    "minhash_signature_expr",
    "minhash_band_buckets",
    "minhash_lsh_candidates",
    "minhash_near_dup_pairs",
    "minhash_dedup",
    "cross_corpus_near_dup_pairs",
    "dedup_against",
    "materialize_band_index",
    "dedup_against_indexed",
    "cross_corpus_near_dup_pairs_indexed",
    "connected_components",
    "cluster_dedup",
    "cluster_dedup_by",
    "cluster_size_histogram",
    "simhash_expr",
    "simhash_signature_udf",
    "simhash_near_dups",
    "jaccard_expr",
    "lsh_recall_audit",
    "containment_pairs",
    "embedding_near_dups",
    "embedding_dedup",
]

# Default bucket-width cap for the bucketed self-joins below. A bucket of
# width w contributes w·(w-1)/2 candidate pairs; 8192 bounds any single
# bucket at ~33M pairs — far above anything a healthy signature
# distribution produces (expected width is held near ``target_bucket`` by
# the adaptive geometry), so it only trims degenerate buckets (empty docs,
# boilerplate) that would otherwise go quadratic at corpus scale. It is
# deliberately larger than the whole corpus at every oracle-test scale
# (sf≤0.1 ⇒ N≤5000 docs < 8192), so the exact-oracle comparisons can never
# see it bind.
DEFAULT_MAX_BUCKET = 8192


def lsh_geometry(
    n: int,
    target_bucket: int = 16,
    min_bits: int = 4,
    max_bits: int = 15,
) -> int:
    """Piece width (bits) for a bucketed LSH self-join, sized to corpus ``n``.

    Expected bucket width under a uniform signature is n / 2^bits; holding it
    near ``target_bucket`` keeps the per-bucket self-join constant-cost as the
    corpus grows: bits ≈ log2(n) − log2(target_bucket). A fixed piece width
    (the round-3 design) means bucket width — and candidate pairs — grow
    linearly (quadratically) with n; this is the 100×-scale fix.

    ``max_bits`` defaults to 15 so chunks×bits stays under the 63 sign-safe
    bits of a long signature with the default 4 chunks. Beyond
    n ≈ target·2^15 per-bucket width grows again — cap it with
    ``max_bucket`` (see :data:`DEFAULT_MAX_BUCKET`).
    """
    import math

    if n <= target_bucket:
        return min_bits
    bits = math.ceil(math.log2(n / target_bucket))
    return max(min_bits, min(max_bits, bits))


def plan_lsh_geometry(
    num_perm: int = 64,
    threshold: float = 0.7,
    lean: str = "balanced",
) -> tuple[int, int, float]:
    """Choose MinHash banding ``(bands, rows, curve_threshold)`` from a
    similarity threshold — the standard S-curve planner (Leskovec/
    Rajaraman/Ullman, *Mining of Massive Datasets* §3.4): with ``b``
    bands of ``r`` rows a pair of similarity ``s`` becomes a candidate
    with probability ``1 − (1 − s^r)^b``, whose inflection sits at
    approximately ``(1/b)^(1/r)``. Picking the geometry by hand (the
    bands=16 default) is fine until the threshold moves; at 100 TB a
    mis-leaned curve either floods the verify stage (too much recall)
    or silently drops true pairs (too little).

    ``lean`` breaks the discretization tie the divisor grid forces:

    - ``"balanced"`` — inflection nearest the threshold;
    - ``"recall"``   — nearest inflection AT OR BELOW the threshold (the
      curve is already steep at the target similarity, so true pairs at
      the threshold are reliably surfaced; verify-stage cost rises);
    - ``"precision"`` — nearest inflection AT OR ABOVE the threshold
      (candidate volume bounded; true pairs near the threshold may be
      missed — pair with :func:`lsh_recall_audit`).

    Driver-side pure arithmetic (no data touched); compose with
    :func:`lsh_recall_audit` to MEASURE what the chosen curve delivers
    on the actual shingle distribution."""
    if num_perm < 1:
        raise ValueError(f"num_perm must be >= 1, got {num_perm}")
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if lean not in ("balanced", "recall", "precision"):
        raise ValueError(f"unknown lean {lean!r}")
    cands = []
    for b in range(1, num_perm + 1):
        if num_perm % b == 0:
            r = num_perm // b
            cands.append((b, r, (1.0 / b) ** (1.0 / r)))
    if lean == "recall":
        ok = [c for c in cands if c[2] <= threshold]
        if ok:
            return max(ok, key=lambda c: c[2])  # closest from below
    elif lean == "precision":
        ok = [c for c in cands if c[2] >= threshold]
        if ok:
            return min(ok, key=lambda c: c[2])  # closest from above
    return min(cands, key=lambda c: abs(c[2] - threshold))


def lsh_candidate_probability(s: float, bands: int, rows: int) -> float:
    """P(pair of Jaccard similarity ``s`` becomes an LSH candidate) under
    (bands, rows) banding: ``1 − (1 − s^rows)^bands``. The audit-side
    companion of :func:`plan_lsh_geometry`."""
    return 1.0 - (1.0 - s**rows) ** bands


def _cap_buckets(buckets: DataFrame, key_cols: list[str], max_bucket: int | None) -> DataFrame:
    """Drop LSH buckets wider than ``max_bucket`` before the self-join.

    A bucket of width w contributes w·(w-1)/2 candidate pairs — one degenerate
    bucket (empty docs, boilerplate) makes the join quadratic at corpus scale.
    Docs in an oversized bucket are near-identical under the signature; exact
    hash dedup (:func:`exact_dedup`) already collapses the truly identical
    ones, so dropping the pathological bucket loses only pathological pairs.
    The width count is a window over the same (band, bucket) partitioning the
    join shuffles on, so AQE reuses the exchange.
    """
    if max_bucket is None:
        return buckets
    w = Window.partitionBy(*key_cols)
    return (
        buckets.withColumn("__bw__", F.count("*").over(w))
        .where(F.col("__bw__") <= max_bucket)
        .drop("__bw__")
    )


def _candidate_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    ordered: tuple[str, str] | None = None,
) -> DataFrame:
    """Candidate pairs of a banded LSH index — the one bucket join of
    every near-dup family (MinHash self and cross-corpus, SimHash,
    hyperplane embeddings, phash/audio, and the MinHash and fingerprint
    streams). Equi-join two bucket frames on ``keys``; with ``ordered =
    (a, b)`` keep only ``a < b`` (a self-join reports each pair once);
    drop the keys and take distinct, since a pair colliding in several
    bands is one candidate. Every other column passes through from both
    sides: callers name each side's id column (the fingerprint state has
    none) and carry what their verify needs, such as a Hamming signature.
    Wide buckets are dropped by :func:`_cap_buckets` before the join."""
    pairs = left.join(right, keys)
    if ordered is not None:
        pairs = pairs.where(F.col(ordered[0]) < F.col(ordered[1]))
    return pairs.drop(*keys).distinct()


def _band_pieces(
    df: DataFrame, id_col: str, sig_col: str, pieces: int, bits: int
) -> DataFrame:
    """(``__id__``, ``__h__``, ``band``, ``seg``): the 64-bit signature
    ``sig_col`` cut into ``pieces`` pieces of ``bits`` bits, low bits
    first, one row per piece — the bucket frame of the Hamming-LSH
    families (SimHash, hyperplane embeddings, phash/audio and the
    fingerprint stream state). Two signatures that differ in fewer than
    ``pieces`` of the covered bits agree on a whole piece (pigeonhole).
    ``pieces · bits`` may fall short of 64 (SimHash's 9 pieces of 7
    bits); the top bits then band nowhere. One 64-bit piece masks with
    -1: 2⁶⁴ − 1 is no long literal."""
    mask = -1 if bits == 64 else (1 << bits) - 1
    piece = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col(sig_col), bits * i).bitwiseAND(F.lit(mask)).alias("seg"),
        )
        for i in range(pieces)
    ]
    return df.select(
        F.col(id_col).alias("__id__"),
        F.col(sig_col).alias("__h__"),
        F.explode(F.array(*piece)).alias("__b__"),
    ).select("__id__", "__h__", "__b__.band", "__b__.seg")


def _hamming_verify(pairs: DataFrame, max_hamming: int) -> DataFrame:
    """``pairs`` with ``hamming`` = popcount(``__ha__`` xor ``__hb__``),
    kept where it is at most ``max_hamming`` — the verify of every
    Hamming-LSH family."""
    ham = F.bit_count(F.col("__ha__").bitwiseXOR(F.col("__hb__")))
    return pairs.withColumn("hamming", ham).where(F.col("hamming") <= max_hamming)


def _hamming_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    pieces: int,
    bits: int,
    max_bucket: int | None,
    a: str,
    b: str,
) -> DataFrame:
    """Self near-dup pairs of a 64-bit signature column: (``a`` < ``b``,
    ``hamming``) within ``max_hamming``, via banded pieces, the capped
    candidate join and the Hamming verify."""
    segs = _cap_buckets(
        _band_pieces(hashed, id_col, hash_col, pieces, bits), ["band", "seg"], max_bucket
    )

    def side(id_name: str, h_name: str) -> DataFrame:
        return segs.withColumnRenamed("__id__", id_name).withColumnRenamed("__h__", h_name)

    pairs = _candidate_join(side(a, "__ha__"), side(b, "__hb__"), ["band", "seg"], (a, b))
    return _hamming_verify(pairs, max_hamming).select(a, b, "hamming")


def _shingle_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    ids: DataFrame | None = None,
) -> DataFrame:
    """(``__id__``, ``__sh__``): each document's distinct shingle set.
    With ``ids`` (a one-column frame of candidate ids), only the
    documents whose id it holds: a verify then shingles each candidate
    DOCUMENT once — never per pair occurrence, which is unbounded on
    dup-heavy corpora (a replica family of R contributes C(R,2) pairs;
    the 10x replica probe measured 48 s vs 12 s), and never every corpus
    document. The documents join the distinct ids with an inner join,
    which keeps the rows a semi-join would and runs fewer jobs. Without
    ``ids``, every document, spread over the default parallelism."""
    if ids is None:
        df = _parallelize(df, id_col)
    else:
        df = df.join(ids.select(F.col(ids.columns[0]).alias(id_col)).distinct(), id_col)
    return df.select(
        F.col(id_col).alias("__id__"),
        F.array_distinct(shingles_expr(F.col(text_col), shingle_n)).alias("__sh__"),
    )


def _jaccard_verify(
    cand: DataFrame,
    a: str,
    b: str,
    sh_a: DataFrame,
    sh_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of the (pinned) candidate pairs ``(a, b)``:
    each side's (``__id__``, ``__sh__``) shingle sets — survivors from
    :func:`_shingle_sets` or a persisted store — join to the pairs on
    that side's id. The arrays arrive as real join-output columns, so
    jaccard_expr's two reads (intersect + union) never recompute the
    shingle HOF, which gets no codegen CSE. Returns (``a``, ``b``,
    ``jaccard``) with jaccard ≥ ``threshold``."""

    def side(sh: DataFrame, key: str, col: str) -> DataFrame:
        return sh.select(F.col("__id__").alias(key), F.col("__sh__").alias(col))

    j = cand.join(side(sh_a, a, "__sha__"), a).join(side(sh_b, b, "__shb__"), b)
    return (
        j.withColumn("jaccard", jaccard_expr(F.col("__sha__"), F.col("__shb__")))
        .where(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def exact_dedup(
    df: DataFrame,
    content_cols: str | list[str],
    id_col: str,
) -> DataFrame:
    """Keep one representative row (min ``id_col``) per exact content hash.

    Plan: md5 projection → window on hash ordered by id → filter rank 1.
    Single shuffle, map-side-combinable.
    """
    cols = [content_cols] if isinstance(content_cols, str) else list(content_cols)
    h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
    w = Window.partitionBy("__h__").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__h__", h)
        .withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .drop("__h__", "__rn__")
    )


# MinHash permutation family: each shingle is hashed ONCE (xxhash64 → 31-bit
# via mod p), then permutation i is the affine map h → (aᵢ·h + bᵢ) mod p —
# the standard universal-hashing construction (64 long mul-adds per shingle
# instead of 64 full string hashes; ~4x faster and codegen-friendly).
# p = 2³¹-1 keeps aᵢ·h < 2⁶² so ANSI-mode long arithmetic can't overflow.
_MINHASH_P = 2_147_483_647


def _minhash_perms(num_perm: int, seed: int = 1) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MINHASH_P), rng.randrange(0, _MINHASH_P)) for _ in range(num_perm)]


def minhash_signature_expr(shingles: Column, num_perm: int = 64) -> Column:
    """MinHash signature as a single per-row expression (array<long> of
    length ``num_perm``) — **zero shuffle**.

    The permutation constants live in a literal array and the hashed-shingle
    array is bound as a lambda variable (evaluated once per row — lambda
    bodies get no common-subexpression elimination), so the whole signature
    is one nested loop: ``transform(perms, p -> array_min(transform(hs,
    h -> (h·pₐ + p_b) mod p)))``. Same O(num_perm · shingles) arithmetic as
    an explode + groupBy formulation, but with no N×S-row shuffle — at
    corpus scale that shuffle IS the cost, so the per-row form wins
    asymptotically (and measures faster locally too).

    NOTE — do not "optimize" this into an Arrow pandas_udf (the simhash
    hybrid pattern): in this Spark build, a pandas UDF whose argument is a
    higher-order-function expression loses its ArrowEvalPython extraction
    on every query after the first in a session (the raw PythonUDF lands
    in an interpreted projection → INTERNAL_ERROR "Cannot evaluate
    expression"); reproduced on a vanilla session, reverted here. The
    interpreted-lambda fold costs ~1.9s over 5000 docs at sf0.1 — real but
    not worth a correctness-flaky path.
    """
    # one SQL parse for the whole literal (INT a/b), not ~5 py4j calls per
    # permutation
    perm_arr = F.expr(
        "array({})".format(
            ", ".join(
                f"struct({a} AS a, {b} AS b)" for a, b in _minhash_perms(num_perm)
            )
        )
    )
    hs = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MINHASH_P)))

    def per_row(hsv: Column) -> Column:
        return F.transform(
            perm_arr,
            lambda p: F.array_min(
                F.transform(hsv, lambda h: F.pmod(h * p["a"] + p["b"], F.lit(_MINHASH_P)))
            ),
        )

    return bind_row(hs, per_row)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig array<long>) via :func:`minhash_signature_expr` — one
    narrow projection, no shuffle. Empty docs shingle to ``[""]`` (see
    ``shingles_expr``), so every row gets a well-defined signature."""
    sig = minhash_signature_expr(
        F.array_distinct(shingles_expr(F.col(text_col), shingle_n)), num_perm
    )
    return _parallelize(df, id_col).select(
        F.col(id_col).alias("__id__"), sig.alias("__sig__")
    )


def minhash_band_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(``__id__``, ``band``, ``bucket``) LSH band-bucket rows — the
    persistable half of the LSH index. Two docs are candidates iff they
    share a (band, bucket). bands × N tiny rows, no shuffle of its own;
    the streaming dedup stores exactly this frame as its incremental
    index state."""
    with_sig = minhash_signatures(df, text_col, id_col, num_perm, shingle_n)
    return _explode_bands(with_sig, num_perm, bands)


def _explode_bands(with_sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(``__id__``, band, bucket) rows from a (``__id__``, ``__sig__``)
    signature frame — the banding half of :func:`minhash_band_buckets`,
    shared with the shingle-store-fed index build."""
    rows_per_band = num_perm // bands
    # one SQL parse (INT band ids), not a Column tree per band
    band_structs = F.expr(
        "array({})".format(
            ", ".join(
                "struct({b} AS band, xxhash64({sig}) AS bucket)".format(
                    b=b,
                    sig=", ".join(
                        f"element_at(__sig__, {b * rows_per_band + r + 1})"
                        for r in range(rows_per_band)
                    ),
                )
                for b in range(bands)
            )
        )
    )
    return with_sig.select("__id__", F.explode(band_structs).alias("bb")).select(
        "__id__", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    Returns distinct (``a``, ``b``) id pairs (a < b) that collide in ≥1 band.
    rows = bands × rows_per_band; two docs with Jaccard j collide w.p.
    1-(1-j^r)^b. Defaults (64 perms, 16 bands of 4) target j ≳ 0.5.
    ``max_bucket`` caps bucket width (see :func:`_cap_buckets`) — set it at
    corpus scale to keep one hot bucket from going quadratic.
    """
    buckets = minhash_band_buckets(df, text_col, id_col, num_perm, bands, shingle_n)
    # Materialization point: the self-join below reads `buckets` twice, and
    # without an exchange here each branch would recompute the signatures
    # from the scan (the per-row signature has no shuffle of its own). One
    # repartition on the join keys makes the signature stage a shared
    # shuffle both branches reuse — and the join needs exactly this
    # partitioning anyway, so it adds no extra data movement. Rows are just
    # (id, band, bucket): ~bands×N tiny rows vs the old N×shingles shuffle.
    buckets = buckets.repartition("band", "bucket")
    buckets = _cap_buckets(buckets, ["band", "bucket"], max_bucket)
    return _candidate_join(
        buckets.withColumnRenamed("__id__", "a"),
        buckets.withColumnRenamed("__id__", "b"),
        ["band", "bucket"],
        ("a", "b"),
    )


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (as sets)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def lsh_recall_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    sample_rate: float = 0.1,
    seed: str = "",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Production guardrail for the LSH candidate generator: on a
    deterministic hash sample of the corpus, compute the EXACT
    ≥-threshold pair set (brute force — affordable because it is the
    sample) and the LSH candidate set, and report how many true pairs
    the banding actually surfaced. One row:
    (``n_sampled``, ``n_exact``, ``n_candidates``, ``n_hit``,
    ``recall_bp``) with ``recall_bp = floor(10000·n_hit / n_exact)``
    (10000 when the sample holds no true pairs — vacuous recall).

    Run this on every corpus refresh: banding geometry tuned for one
    shingle distribution silently loses recall when the distribution
    shifts (shorter docs → fewer shingles → noisier signatures), and
    nothing else in a dedup pipeline will tell you.

    Determinism: the sample is the portable keyed hash (re-runs audit
    the SAME sample); counts are exact integers. No SQL oracle — the
    candidate set depends on xxhash64 signatures DuckDB cannot replay
    (same evidence class as PCA/BPE training: pytest-pinned).

    Scale: brute force costs |sample|² pairwise Jaccards — pick
    ``sample_rate ∝ 1/√N`` (or cap the sampled count upstream) for a
    constant-cost audit; the LSH side is the normal banding cost on the
    sample.
    """
    from .sampling import hash_sample

    s = hash_sample(df, id_col, sample_rate, seed)
    sh = pin(_shingle_sets(s, text_col, id_col, shingle_n))
    sha = sh.select(F.col("__id__").alias("a"), F.col("__sh__").alias("__sh_a__"))
    shb = sh.select(F.col("__id__").alias("b"), F.col("__sh__").alias("__sh_b__"))
    exact = pin(
        sha.crossJoin(shb)
        .where(F.col("a") < F.col("b"))
        .where(
            jaccard_expr(F.col("__sh_a__"), F.col("__sh_b__"))
            >= F.lit(float(threshold))
        )
        .select("a", "b")
    )
    cand = minhash_lsh_candidates(
        s, text_col, id_col, num_perm, bands, shingle_n, max_bucket
    )
    hit = exact.join(cand, ["a", "b"], "left_semi")
    counts = (
        s.agg(F.count("*").alias("n_sampled"))
        .crossJoin(F.broadcast(exact.agg(F.count("*").alias("n_exact"))))
        .crossJoin(F.broadcast(cand.agg(F.count("*").alias("n_candidates"))))
        .crossJoin(F.broadcast(hit.agg(F.count("*").alias("n_hit"))))
    )
    recall = F.when(F.col("n_exact") == 0, F.lit(10000).cast("long")).otherwise(
        F.floor(
            (F.col("n_hit") * F.lit(10000)).cast("long").cast("double")
            / F.col("n_exact").cast("double")
        )
    )
    return counts.select(
        "n_sampled", "n_exact", "n_candidates", "n_hit",
        recall.alias("recall_bp"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    tau_pct: int = 80,
    max_doc_freq: int = 20,
) -> DataFrame:
    """Directed near-CONTAINMENT pairs: (``src``, ``dst``, ``n_common``,
    ``n_src``, ``containment``) where ≥ ``tau_pct``% of src's rare
    shingles also appear in dst. The asymmetric dedup case Jaccard
    misses entirely: a short document quoted whole inside a long one
    has tiny Jaccard (|A∩B|/|A∪B| is diluted by B's size) but
    containment |A∩B|/|A| ≈ 1 — quote inclusion, boilerplate wrapping,
    article-plus-comments pages.

    Semantics note (the honest part): both the numerator and |A| are
    counted over the RARE-shingle subset — shingles appearing in more
    than ``max_doc_freq`` documents are dropped FIRST (stop-shingle
    suppression). That is what makes the inverted-index join bounded —
    per-gram join cost ≤ df² ≤ cap·df, so total cost ≤ cap·|grams|,
    linear in the corpus at fixed cap — and the oracle replays the
    same cap, so the filter is part of the contract, not a hidden
    approximation. Documents with ZERO rare shingles (pure boilerplate)
    cannot be judged and emit no pairs.

    Determinism: the threshold test is exact integer arithmetic
    (``100·n_common ≥ tau_pct·n_src``); ``containment`` is the IEEE
    division of two exact int64s. No floats anywhere else.

    Scale posture (100 TB): explode → ONE doc-frequency aggregate
    (map-side combined) → frequency-capped inverted-index self-join
    keyed by shingle → two keyed aggregates. The capped gram frame is
    pinned once (reused by the size count and both join sides); no all-pairs
    stage exists at any step.
    """
    if not 0 < tau_pct <= 100:
        raise ValueError(f"tau_pct must be in (0, 100], got {tau_pct}")
    if max_doc_freq < 2:
        raise ValueError(f"max_doc_freq must be >= 2, got {max_doc_freq}")
    # grams is deliberately NOT materialized: it is evaluated twice (the
    # DF aggregate and the rare join) — at corpus scale recomputing the
    # shingle explosion twice is cheaper than storing it (several× the
    # corpus in exploded strings). rare IS pinned: it is post-cap
    # (bounded) and feeds three downstream uses.
    grams = _parallelize(df, id_col).select(
        F.col(id_col).alias("src"),
        F.explode(
            F.array_distinct(shingles_expr(F.col(text_col), shingle_n))
        ).alias("__g__"),
    )
    gdf = grams.groupBy("__g__").agg(F.count("*").alias("__df__"))
    rare = pin(
        grams.join(gdf.where(F.col("__df__") <= max_doc_freq), "__g__")
        .select("src", "__g__")
    )
    sizes = rare.groupBy("src").agg(F.count("*").alias("n_src"))
    common = (
        rare.join(
            rare.select(F.col("src").alias("dst"), "__g__"), "__g__"
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        common.join(sizes, "src")
        .where(
            F.lit(100).cast("long") * F.col("n_common")
            >= F.lit(int(tau_pct)).cast("long") * F.col("n_src")
        )
        .select(
            "src",
            "dst",
            "n_common",
            "n_src",
            (
                F.col("n_common").cast("double") / F.col("n_src").cast("double")
            ).alias("containment"),
        )
    )
    return out


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Verified near-dup pairs: LSH candidates → exact-Jaccard verify.

    Returns (``a``, ``b``, ``jaccard``) with a < b and jaccard ≥ ``threshold``.
    Unlike the raw candidate set (which carries band-collision false
    positives), this output is exact-similarity-defined: when the banding has
    full recall at ``threshold`` it equals the brute-force all-pairs result,
    which is what the correctness oracle checks.

    At scale the verify joins shingle arrays back in — two
    broadcast-or-shuffle hash joins on the id column, never O(N²).
    """
    # Pinned: (a, b) id pairs only — tiny rows, the connected_components
    # edge pattern — because the verify below references the candidate
    # set three times (two survivor joins + the pair join) and the
    # signature/bucket chain must run once, not three times.
    cand = pin(
        minhash_lsh_candidates(
            df, text_col, id_col, num_perm, bands, shingle_n, max_bucket
        )
    )
    # Exact-Jaccard verify: shingle once per candidate DOCUMENT per side
    # (corpus joined to the distinct pair ids, see _shingle_sets), then
    # hash-join the arrays to the pairs. Survivor-doc scale is
    # min(corpus, 2·pairs) by construction (guide §8: every pass but the
    # last operates on a lightweight proxy / survivors).
    def survivors(key: str) -> DataFrame:
        return _shingle_sets(df, text_col, id_col, shingle_n, cand.select(key))

    return _jaccard_verify(cand, "a", "b", survivors("a"), survivors("b"), threshold)


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate removal: LSH candidates → exact-Jaccard verify →
    drop the higher id of each confirmed pair (union-find-free greedy,
    deterministic). Returns the deduplicated DataFrame."""
    verified = minhash_near_dup_pairs(
        df, text_col, id_col, threshold, num_perm, bands, shingle_n, max_bucket
    )
    drop_ids = verified.select(F.col("b").alias(id_col)).distinct()
    return df.join(drop_ids, on=id_col, how="left_anti")


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond"): for every node u, connect each strictly-larger neighbor to
    min(N(u) ∪ {u}). One groupBy-min + one hash join back on u — no
    collect_list, so a hot node never materializes its adjacency in one task.
    """
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small; for every node u,
    connect u and each smaller neighbor to its minimum smaller neighbor."""
    dir_ = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = dir_.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        dir_.join(mins, "u")
        .where(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .union(mins.select(F.col("u"), F.col("mn").alias("v")))
        .distinct()
    )


_CC_LOCAL_MAX_EDGES = 1 << 16
"""Edge-count threshold below which :func:`connected_components` solves
the graph with driver-side union-find instead of the distributed star
loop. The same size-adaptive strategy switch as a broadcast join: a
verified near-dup pair graph is orders of magnitude smaller than its
corpus, and when it fits comfortably on the driver (64k edges ≈ 1 MB),
every distributed round — two aggregates, two joins, a pin and a
convergence check of SUB-SECOND data — is pure scheduling floor (and at
cluster scale, pure driver round-trips). Above the threshold the
O(log n)-round star contraction runs unchanged. Both paths produce the
identical (id, min-of-component) labeling."""


def _cc_union_find(rows) -> dict:
    """Min-root union-find over collected (u, v) edge rows — the exact
    labeling the star-contraction fixpoint produces."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ru, rv = find(row[0]), find(row[1])
        if ru == rv:
            continue
        lo, hi = (ru, rv) if ru < rv else (rv, ru)
        parent[hi] = lo
    return {x: find(x) for x in parent} | {
        r: r for r in set(parent.values()) if parent.get(r, r) == r
    }


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs via alternating
    large-star/small-star contraction (Kiveris et al., MR-CC). Every node's
    label converges to the smallest id in its component. Returns
    (``id``, ``component``).

    This is the transitive-closure complement to the greedy pair-drop in
    :func:`minhash_dedup`: real corpus dedup clusters A~B~C even when A and
    C never collide directly, then keeps one representative per cluster
    (:func:`cluster_dedup`).

    Scale shape: each round is two groupBy-min aggregates + two hash joins,
    all keyed on node id. Unlike min-label propagation (rounds = component
    diameter — a chain of k successive near-edits needs k rounds),
    star contraction halves tree heights every alternation: **O(log n)
    rounds regardless of diameter**, so a pathological edit-chain corpus
    can't blow the iteration budget. Convergence = the edge set reaching a
    fixpoint (a star forest centered on component minima), checked once
    per round: the symmetric difference of the old and new edge sets (one
    keyed aggregate over their union) is empty; each round's ``pin``
    truncates lineage so plans stay flat across rounds.

    Graphs at or under :data:`_CC_LOCAL_MAX_EDGES` distinct edges skip
    the loop entirely: the collected edge list (bounded, ~1 MB) goes
    through min-root union-find on the driver — identical labels, zero
    distributed rounds (r15; the broadcast-join-style size switch).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # pin + one bounded limit-collect: one job for every graph at or
    # under the local bound (the common case); the collect is bounded to
    # _CC_LOCAL_MAX_EDGES+1 rows, so an oversized graph wastes at most
    # ~1 MB of driver transfer before taking the distributed path
    edges = pin(
        pairs.where(F.col(a_col) != F.col(b_col))
        .select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .distinct()
    )
    probe = edges.limit(_CC_LOCAL_MAX_EDGES + 1).collect()
    if len(probe) <= _CC_LOCAL_MAX_EDGES:
        labels = _cc_union_find(probe)
        spark = pairs.sparkSession
        from pyspark.sql.types import StructField, StructType

        utype = edges.schema["u"].dataType
        schema = StructType(
            [
                StructField("id", utype, True),
                StructField("component", utype, True),
            ]
        )
        return spark.createDataFrame(
            sorted(labels.items()), schema
        )
    # Nodes come from the PINNED edge set, not from `pairs`: the pairs
    # frame is typically an expensive un-cached plan (LSH + verify), and
    # reading it a second time would re-run that whole pipeline when the
    # result is evaluated. Self-pair-only nodes (a == b) carry no edge and
    # need no label (cluster_dedup keeps unlabeled rows as-is).
    nodes = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    for _ in range(max_iter):
        old, edges = edges, pin(_small_star(_large_star(edges)))
        # Both edge sets are distinct, so they are equal iff no edge is in
        # only one of them: one keyed aggregate over their union, one
        # emptiness check (which also materializes the pin)
        moved = (
            old.withColumn("__s__", F.lit(-1))
            .union(edges.withColumn("__s__", F.lit(1)))
            .groupBy("u", "v")
            .agg(F.sum("__s__").alias("__s__"))
            .where(F.col("__s__") != 0)
        )
        if moved.isEmpty():
            break
    else:
        # Fail loudly: returning an unconverged forest would silently split
        # real clusters (under-dedup). O(log n) rounds means hitting this
        # bound indicates a bug or an adversarial graph, not normal data.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            f"raise max_iter"
        )
    # Fixpoint is a star forest: non-root nodes have exactly one edge u→min;
    # roots (component minima, and nodes that arrived in no pair) label
    # themselves.
    return nodes.join(edges, nodes.id == edges.u, "left").select(
        "id", F.coalesce(F.col("v"), F.col("id")).alias("component")
    )


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Keep one representative row (the min id) per near-dup cluster, where
    clusters are the connected components of ``pairs``. Rows in no pair are
    kept as-is. The drop set is (nodes) − (component representatives) — an
    anti-join, never a full-table shuffle of ``df``."""
    comps = connected_components(pairs, a_col, b_col)
    drop_ids = comps.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop_ids, on=id_col, how="left_anti")


def cluster_dedup_by(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_col: str,
    a_col: str = "a",
    b_col: str = "b",
    descending: bool = True,
) -> DataFrame:
    """Like :func:`cluster_dedup`, but the survivor of each near-dup
    cluster is chosen by ``order_col`` (default: highest value wins — e.g.
    a quality score, so dedup keeps the BEST copy, not the lowest id; ties
    break on min id for determinism). Rows in no pair are kept as-is.

    This is the real-pipeline form: corpus dedup that drops the
    higher-quality replica loses data quality for free, and the choice
    costs nothing extra — one join of the component table (pairs-scale,
    not corpus-scale) against df's (id, order) projection, one rank window
    keyed on the component, then the same anti-join as cluster_dedup. df
    is still never fully shuffled.
    """
    from pyspark.sql.window import Window

    comps = connected_components(pairs, a_col, b_col)
    ranked = comps.join(
        df.select(F.col(id_col).alias("id"), F.col(order_col).alias("__o__")),
        "id",
    )
    order_val = F.col("__o__").desc() if descending else F.col("__o__").asc()
    w = Window.partitionBy("component").orderBy(order_val, F.col("id").asc())
    drop_ids = (
        ranked.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") > 1)
        .select(F.col("id").alias(id_col))
    )
    return df.join(drop_ids, on=id_col, how="left_anti")


def cluster_size_histogram(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Dedup telemetry: the distribution of near-dup cluster sizes —
    (``cluster_size``, ``n_clusters``), clusters ≥ 2 only (singletons
    never enter ``pairs``). The report every dedup run should publish:
    a sudden mass of giant clusters means a boilerplate explosion or a
    broken near-dup threshold, caught BEFORE :func:`cluster_dedup` deletes
    most of a corpus.

    Plan: connected components (O(log n) star-contraction rounds), then
    two map-side-combined aggregates over the tiny (id, component) table.
    """
    comps = connected_components(pairs, a_col, b_col)
    sizes = comps.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    dim: int | None = None,
    num_planes: int | None = None,
    chunks: int = 4,
    seed: int = 42,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    target_bucket: int = 16,
    n: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH banding.

    ``num_planes`` seeded random hyperplanes give each vector a sign-bit
    signature; the signature is banded into ``chunks`` pieces and pairs
    agreeing on ≥1 piece (same piece id + value) are candidates — near-equal
    embeddings agree on most sign bits, so by pigeonhole any pair within
    ``chunks-1`` differing bits shares a piece. Candidates are verified with
    exact cosine ≥ ``threshold``. Returns (a, b, cosine) with a < b.

    Scale: buckets carry only (id, band, seg); vectors are joined back
    for the verify step — two hash joins on the id, never an N² cross join.
    Piece width (num_planes/chunks bits) sets bucket fan-out: 2^width
    buckets per chunk, expected width n/2^width. With ``num_planes=None``
    (the default) the width adapts to the corpus via :func:`lsh_geometry`,
    sized from ``n`` — pass it when you already know the corpus size
    (geometry needs only the order of magnitude), else one ``count()`` job
    runs (cheap for a parquet scan, a full materialization for a derived
    frame). This holds expected bucket width near ``target_bucket`` so the
    self-join stays linear as n grows — a fixed geometry makes candidate
    pairs grow as n²/buckets. Recall per piece is
    (1−θ/π)^width for angle θ, so wider pieces trade recall for cost; raise
    ``chunks`` to win it back (overall recall 1−(1−(1−θ/π)^width)^chunks).
    The signature is a long, so it holds at most 63 planes: the adaptive
    width is capped at 63 // ``chunks`` bits, and an explicit
    ``num_planes`` above 63 raises ``ValueError`` before any Spark job.
    """
    from .similarity import cosine_pairs_udf, hyperplane_signature_udf, random_hyperplanes

    if num_planes is not None and num_planes > 63:
        raise ValueError(
            f"num_planes must be <= 63 (the sign-safe bits of a long "
            f"signature), got {num_planes}"
        )
    if dim is None:
        dim = df.select(F.size(F.col(vec_col))).first()[0]
    if num_planes is None:
        bits_per = lsh_geometry(n if n is not None else df.count(), target_bucket)
        num_planes = chunks * min(bits_per, 63 // chunks)
    planes = random_hyperplanes(dim, num_planes, seed)
    bits_per = num_planes // chunks
    sig = hyperplane_signature_udf(planes)(F.col(vec_col))
    base = _parallelize(df, id_col).select(F.col(id_col).alias("__id__"), sig.alias("__sig__"))
    # Materialization point: the bucket self-join below reads this twice;
    # an exchange AFTER the signature UDF makes it a shared shuffle stage
    # (computed once) instead of re-running the UDF over the corpus per
    # branch. Keyed by id — high cardinality — so local parallelism is
    # preserved; the join adds its own tiny (band, seg) exchanges.
    base = base.repartition("__id__")
    keyed = _band_pieces(base, "__id__", "__sig__", chunks, bits_per).drop("__h__")
    keyed = _cap_buckets(keyed, ["band", "seg"], max_bucket)
    cand = _candidate_join(
        keyed.withColumnRenamed("__id__", "a"),
        keyed.withColumnRenamed("__id__", "b"),
        ["band", "seg"],
        ("a", "b"),
    )
    vecs = df.select(F.col(id_col).alias("__id__"), F.col(vec_col).alias("__v__"))
    return (
        cand.join(vecs.withColumnRenamed("__id__", "a").withColumnRenamed("__v__", "__va__"), "a")
        .join(vecs.withColumnRenamed("__id__", "b").withColumnRenamed("__v__", "__vb__"), "b")
        .withColumn("cosine", cosine_pairs_udf()(F.col("__va__"), F.col("__vb__")))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def embedding_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    **kwargs,
) -> DataFrame:
    """Drop the higher id of each embedding-cosine near-dup pair (same
    greedy rule as :func:`minhash_dedup`)."""
    pairs = embedding_near_dups(df, vec_col, id_col, threshold, **kwargs)
    drop_ids = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(drop_ids, on=id_col, how="left_anti")


def simhash_expr(text: Column, bits: int = 64) -> Column:
    """SimHash signature (long) from whitespace tokens.

    For each bit position, sum +1/-1 over token hashes and take the sign.
    Expressed with aggregate() over the token array — one pass, no explode,
    no UDF.
    """
    toks = F.array_distinct(tokens_expr(F.lower(text)))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def bit_sum(i: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1)),
        )

    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(bit_sum(i) > 0, F.lit(1).cast("long") * (2**i if i < 63 else -(2**63))).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def simhash_signature_udf():
    """Arrow-batched SimHash from an ``array<long>`` of token hashes.

    Hybrid split: token strings are hashed JVM-side (``xxhash64`` inside
    codegen); the 64-bit majority vote — which as pure expressions is 64
    array folds per row and overflows whole-stage codegen — is one numpy
    bit-matrix per batch. Bit-identical to :func:`simhash_expr`.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)
    weights = np.uint64(1) << shifts

    def _sig(hashes):
        out = np.zeros(len(hashes), dtype=np.uint64)
        for j, arr in enumerate(hashes):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            out[j] = ((ones * 2 > len(h)) * weights).sum(dtype=np.uint64)
        return pd.Series(out.astype(np.int64))

    _sig.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    return pandas_udf(_sig, "long")


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunks: int | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into ``chunks``
    pieces; pairs agreeing on ≥1 piece are candidates (pigeonhole: any pair
    within hamming ≤ chunks-1 shares a piece); verify by exact hamming
    distance ≤ ``max_hamming``. Returns (a, b, hamming).

    ``chunks=None`` (default) resolves to ``max_hamming + 1`` — the FEWEST
    chunks that still guarantee full recall at ``max_hamming``, hence the
    WIDEST pieces (64//chunks bits) and the largest bucket fan-out
    2^width per chunk. The round-3 fixed ``chunks=8`` gave 8-bit pieces
    (256 buckets) even when 16-bit pieces (65536 buckets) were admissible;
    bucket width — and the self-join — grows as N/2^width, so maximizing
    width is the 100×-scale fix. The pigeonhole guarantee makes the verified
    output exactly the all-pairs hamming ≤ ``max_hamming`` set regardless of
    geometry. For corpora where N/2^width still explodes (64-bit signatures
    cap width at 16 for d ≤ 3), ``max_bucket`` bounds any one bucket's
    contribution (see :func:`_cap_buckets` / :data:`DEFAULT_MAX_BUCKET`).
    """
    if chunks is None:
        # Clamped at 16 chunks (4-bit pieces): beyond max_hamming=15 the
        # full-recall guarantee is unattainable with a 64-bit signature
        # anyway (and at that radius banding barely prunes — candidates
        # approach all-pairs). So recall is guaranteed for max_hamming ≤ 15
        # and best-effort above.
        chunks = min(16, max_hamming + 1)
    token_hashes = F.transform(
        F.array_distinct(tokens_expr(F.lower(F.col(text_col)))), lambda t: F.xxhash64(t)
    )
    base = _parallelize(df, id_col).select(
        F.col(id_col).alias("__id__"),
        simhash_signature_udf()(token_hashes).alias("__sig__"),
    )
    # shared materialization for the two self-join branches (see
    # embedding_near_dups): the exchange sits AFTER the signature UDF so it
    # runs once, keyed by high-cardinality id to keep parallelism
    base = base.repartition("__id__")
    return _hamming_pairs(
        base, "__id__", "__sig__", max_hamming, chunks, 64 // chunks, max_bucket, "a", "b"
    )


def cross_corpus_near_dup_pairs(
    df_new: DataFrame,
    df_ref: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Verified near-dup pairs BETWEEN two corpora — (``new_id``,
    ``ref_id``, ``jaccard``) with jaccard ≥ ``threshold`` — the batch form
    of "does this new crawl overlap the corpus I already have". Unlike the
    self-join family, within-corpus duplicates on either side are NOT
    reported: the join is strictly new × ref, so candidate volume scales
    with cross-corpus bucket collisions only.

    Scale shape mirrors :func:`minhash_lsh_candidates`: each side shuffles
    its (id, band, bucket) rows once (bands × N tiny rows, capped hot
    buckets per side), the candidate join is an equi-join on
    (band, bucket), and the exact-Jaccard verify joins shingles back by
    id. Id spaces may overlap between the corpora — pairs are oriented
    (new, ref), never compared by id order."""
    bn = minhash_band_buckets(df_new, text_col, id_col, num_perm, bands, shingle_n)
    br = minhash_band_buckets(df_ref, text_col, id_col, num_perm, bands, shingle_n)
    cand = _cross_candidates(bn, br, max_bucket)
    sh_new = _shingle_sets(df_new, text_col, id_col, shingle_n, cand.select("new_id"))
    sh_ref = _shingle_sets(df_ref, text_col, id_col, shingle_n, cand.select("ref_id"))
    return _jaccard_verify(cand, "new_id", "ref_id", sh_new, sh_ref, threshold)


def _cross_candidates(bn: DataFrame, br: DataFrame, max_bucket: int | None) -> DataFrame:
    """Pinned (``new_id``, ``ref_id``) candidates of the cross-corpus
    plan: each side's (id, band, bucket) rows shuffled once and capped,
    then the candidate join (cost ∝ cross collisions). The direct and
    index-backed paths share it and the Jaccard verify, so indexed ≡
    direct by construction. Pinned (id pairs only) because the new
    side's survivor join reads it before the verify does."""
    bn = _cap_buckets(bn.repartition("band", "bucket"), ["band", "bucket"], max_bucket)
    br = _cap_buckets(br.repartition("band", "bucket"), ["band", "bucket"], max_bucket)
    return pin(
        _candidate_join(
            bn.withColumnRenamed("__id__", "new_id"),
            br.withColumnRenamed("__id__", "ref_id"),
            ["band", "bucket"],
        )
    )


def dedup_against(
    df_new: DataFrame,
    df_ref: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Drop every ``df_new`` document with a near-duplicate in ``df_ref``
    (the incoming-crawl-vs-existing-corpus filter; the batch sibling of
    ``streaming_minhash_dedup``'s per-batch step). Returns the surviving
    ``df_new`` rows; ``df_ref`` is never modified and within-``df_new``
    duplicates are deliberately kept — run :func:`minhash_dedup` on the
    survivors for that."""
    pairs = cross_corpus_near_dup_pairs(
        df_new, df_ref, text_col, id_col, threshold,
        num_perm, bands, shingle_n, max_bucket,
    )
    doomed = pairs.select(F.col("new_id").alias(id_col)).distinct()
    return df_new.join(doomed, id_col, "left_anti")


# ------------------------------------------------------------------------
# Persisted LSH band index: sign the reference corpus ONCE, reuse it for
# every incoming crawl. materialize writes (band, bucket) rows plus the
# verify-stage shingle sets as parquet; the indexed dedup path reads them
# back instead of re-signing the reference — recurring-crawl ingest cost
# is O(new batch), the reference side untouched (same shape as
# ``similarity.materialize_ivf`` / ``ivf_topk_indexed``).
# ------------------------------------------------------------------------


def materialize_band_index(
    df_ref: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    mode: str = "overwrite",
) -> None:
    """Persist ``df_ref``'s LSH index at ``path``: ``bands/`` holds the
    (``__id__``, band, bucket) rows, ``shingles/`` the per-doc distinct
    shingle sets, the ``_INDEX_COMMIT`` marker the geometry and the
    two parts' schemas. ``mode="append"`` adds a NEW reference batch to
    an existing committed index (O(batch) — nothing is re-signed;
    geometry must match the stored meta, and the batch's frames the
    recorded schemas, or it raises before writing).

    Crash safety (ADVICE r8, :mod:`gluestick_spark.llm.index_commit`):
    the marker is removed FIRST and re-published only after every
    component landed. A crash mid-rebuild leaves no marker, and both
    ``_read_band_index`` and a later append refuse the torn index loudly
    instead of silently mixing band and shingle tables from different
    corpora.

    One corpus pass (overwrite mode): the shingle sets are written
    FIRST, and the band signatures are derived from the just-written
    shingle store instead of re-shingling the corpus — the store IS the
    materialization the second pass needs (identical signatures: the
    stored arrays are the distinct shingle sets the signature fold
    consumes, and min/band-hash do not depend on array order). Append
    mode keeps the direct two-read form — the batch is small by the
    O(batch) contract, and the stored dir then holds OLD batches the
    band derivation must not re-emit."""
    import os as _os

    from .index_commit import (
        BAND_INDEX,
        SCHEMAS,
        begin_rebuild,
        build_meta,
        publish,
        read_store,
        recorded_schema,
        schema_entry,
    )

    geometry = {"num_perm": num_perm, "bands": bands, "shingle_n": shingle_n}
    sh_path = _os.path.join(path, "shingles")
    sh = _shingle_sets(df_ref, text_col, id_col, shingle_n)
    parts = {"shingles": sh}
    if mode == "append":
        parts["bands"] = bb = minhash_band_buckets(
            df_ref, text_col, id_col, num_perm, bands, shingle_n
        )
    meta = build_meta(BAND_INDEX, path, mode, geometry, parts)
    # invalidate BEFORE touching any component: readers fail loudly on a
    # mid-rebuild index rather than joining mismatched halves
    begin_rebuild(BAND_INDEX, path, geometry if mode == "append" else None)
    sh.write.mode(mode).parquet(sh_path)
    if mode == "overwrite":
        stored = read_store(
            df_ref.sparkSession, sh_path, recorded_schema(meta, "shingles")
        )
        bb = _explode_bands(
            stored.select(
                "__id__",
                minhash_signature_expr(F.col("__sh__"), num_perm).alias("__sig__"),
            ),
            num_perm,
            bands,
        )
        meta[SCHEMAS]["bands"] = schema_entry(bb)
    bb.write.mode(mode).parquet(_os.path.join(path, "bands"))
    publish(BAND_INDEX, path, meta)


def _read_band_index(spark, path: str):
    import os as _os

    from .index_commit import BAND_INDEX, load_meta, read_store, recorded_schema

    meta = load_meta(BAND_INDEX, path)
    bands_df, sh_ref = (
        read_store(spark, _os.path.join(path, part), recorded_schema(meta, part))
        for part in ("bands", "shingles")
    )
    return bands_df, sh_ref, meta


def cross_corpus_near_dup_pairs_indexed(
    spark,
    df_new: DataFrame,
    index_path: str,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """:func:`cross_corpus_near_dup_pairs` against a materialized
    reference index — identical result (the candidate+verify tail is the
    same code path); only the new side is signed this run. Geometry comes
    from the index's ``_INDEX_COMMIT`` meta, so a drifted caller can't
    silently compare incompatible signatures."""
    br, sh_ref, meta = _read_band_index(spark, index_path)
    bn = minhash_band_buckets(
        df_new, text_col, id_col, meta["num_perm"], meta["bands"], meta["shingle_n"]
    )
    cand = _cross_candidates(bn, br, max_bucket)
    sh_new = _shingle_sets(df_new, text_col, id_col, meta["shingle_n"], cand.select("new_id"))
    # the persisted shingle store joins as is: reading it is the hash
    # join's probe, not recomputation
    return _jaccard_verify(cand, "new_id", "ref_id", sh_new, sh_ref, threshold)


def dedup_against_indexed(
    spark,
    df_new: DataFrame,
    index_path: str,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """:func:`dedup_against` backed by a materialized reference index —
    the recurring-crawl fast path. Result is identical to the direct
    form; the reference corpus is read as its persisted (band, bucket)
    and shingle-set parquet, never re-signed."""
    pairs = cross_corpus_near_dup_pairs_indexed(
        spark, df_new, index_path, text_col, id_col, threshold, max_bucket
    )
    doomed = pairs.select(F.col("new_id").alias(id_col)).distinct()
    return df_new.join(doomed, id_col, "left_anti")


def component_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    weights: dict[str, float],
    seed: str = "",
    split_col: str = "split",
    component_col: str = "component",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Leakage-safe train/val/test split (r14): near-duplicate
    CONNECTED COMPONENTS never straddle a split boundary. A plain
    :func:`~gluestick_spark.llm.sampling.hash_split` on the row id keeps
    each row's assignment stable but lets two near-identical documents
    land in train AND test — evaluation contamination by construction.
    Here each row is first labeled with its component over ``pairs``
    (:func:`connected_components` min-id labels; rows appearing in no
    pair are their own singleton component), then the split hashes the
    COMPONENT key — every member of a dup cluster travels together,
    with hash_split's contiguous-band nesting stability intact.

    Adds ``component_col`` and ``split_col``. Scale shape: the component
    labeling is the O(log n)-round star contraction over the PAIR graph
    only (near-dup pairs, not the corpus); the join back and the split
    are one keyed join + a narrow projection."""
    from .sampling import hash_split

    comp = connected_components(pairs, a_col, b_col).select(
        F.col("id").alias(id_col), F.col("component").alias(component_col)
    )
    withc = df.join(comp, id_col, "left").withColumn(
        component_col, F.coalesce(F.col(component_col), F.col(id_col))
    )
    return hash_split(withc, component_col, weights, seed=seed, split_col=split_col)
