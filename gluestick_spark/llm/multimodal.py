"""Multimodal column pattern: opaque binary payloads + typed metadata.

Design: image/audio/video payloads are ``binary`` columns accompanied by a
``struct`` metadata column (modality, mime, size, checksum, and
modality-specific fields). Decode / feature-extract / resize / frame-sample
run as Arrow-batched pandas functions over ``mapInPandas`` — the Spark-side
plumbing (schema, batch shape, partitioning) is real; the actual codec call
is stubbed (image/audio libraries are not available in this container) via
``decoder=`` injection: pass a real decoder in production, the default
deterministic fake elsewhere.

Scale notes: payload columns dominate IO — always ``select`` them away
before wide shuffles; metadata-only plans never touch the bytes thanks to
parquet column pruning. ``mapInPandas`` preserves partitioning (no shuffle)
and streams Arrow batches, so executor memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

import hashlib
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _band_pieces, _hamming_pairs, cluster_dedup

__all__ = [
    "MEDIA_METADATA_TYPE",
    "attach_binary_metadata",
    "fake_image_decoder",
    "fake_image_resizer",
    "fake_audio_decoder",
    "decode_image_features",
    "decode_audio_features",
    "resize_images",
    "sample_frames",
    "fake_phash",
    "compute_phash",
    "phash_near_dups",
    "phash_cluster_dedup",
    "banded_hamming_pairs",
    "fingerprint_segments",
    "fake_audio_fingerprint",
    "compute_audio_fingerprint",
    "audio_near_dups",
    "audio_cluster_dedup",
]

MEDIA_METADATA_TYPE = T.StructType(
    [
        T.StructField("modality", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
    ]
)

IMAGE_FEATURES_TYPE = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def attach_binary_metadata(
    df: DataFrame, payload_col: str, modality: str, mime: str, out_col: str = "media_meta"
) -> DataFrame:
    """Typed metadata struct for a binary payload column — pure expressions
    (sha2/length are JVM built-ins), no Python."""
    return df.withColumn(
        out_col,
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(mime).alias("mime"),
            F.length(F.col(payload_col)).cast("long").alias("n_bytes"),
            F.sha2(F.col(payload_col), 256).alias("sha256"),
        ),
    )


def fake_image_decoder(payload: bytes) -> dict[str, Any]:
    """Deterministic stand-in for a real image codec (PIL/libvips are not in
    this container). Derives stable pseudo-dimensions from the payload hash.
    Replace with a real decoder via the ``decoder=`` argument."""
    h = hashlib.sha256(payload).digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "channels": 3,
        "mean_intensity": round(sum(h[:16]) / 16 / 255.0, 6),
    }


def decode_image_features(
    df: DataFrame,
    payload_col: str,
    id_cols: list[str],
    decoder: Callable[[bytes], dict[str, Any]] = fake_image_decoder,
) -> DataFrame:
    """Decode image payloads to a feature struct via mapInPandas.

    Output schema: id_cols + ``features`` struct. Arrow-batched; the
    decoder runs once per row inside the batch loop (vectorize inside the
    decoder for real codecs).
    """
    id_fields = [df.schema[c] for c in id_cols]
    out_schema = T.StructType(list(id_fields) + [T.StructField("features", IMAGE_FEATURES_TYPE)])

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf[payload_col].map(
                lambda b: decoder(bytes(b)) if b is not None else None
            )
            out = pdf[id_cols].copy()
            out["features"] = feats
            yield out

    return df.select(*id_cols, payload_col).mapInPandas(process, out_schema)


AUDIO_FEATURES_TYPE = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms_level", T.DoubleType()),
    ]
)


def fake_audio_decoder(payload: bytes) -> dict[str, Any]:
    """Deterministic stand-in for a real audio codec (ffmpeg/soundfile are
    not in this container). Derives stable pseudo-properties from the payload
    hash. Replace with a real decoder via the ``decoder=`` argument."""
    h = hashlib.sha256(payload).digest()
    sample_rate = (8000, 16000, 22050, 44100)[h[0] % 4]
    n_channels = 1 + h[1] % 2
    # pretend the payload is 16-bit PCM at the derived rate
    duration = len(payload) / (sample_rate * n_channels * 2)
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "duration_s": round(duration, 6),
        "rms_level": round(sum(h[16:32]) / 16 / 255.0, 6),
    }


def decode_audio_features(
    df: DataFrame,
    payload_col: str,
    id_cols: list[str],
    decoder: Callable[[bytes], dict[str, Any]] = fake_audio_decoder,
) -> DataFrame:
    """Decode audio payloads to a feature struct via mapInPandas — same
    plumbing contract as :func:`decode_image_features` (Arrow-batched,
    partition-preserving, payload pruned to the one column needed)."""
    id_fields = [df.schema[c] for c in id_cols]
    out_schema = T.StructType(list(id_fields) + [T.StructField("features", AUDIO_FEATURES_TYPE)])

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf[payload_col].map(
                lambda b: decoder(bytes(b)) if b is not None else None
            )
            out = pdf[id_cols].copy()
            out["features"] = feats
            yield out

    return df.select(*id_cols, payload_col).mapInPandas(process, out_schema)


def fake_image_resizer(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for a real resize (no codec libs in this
    container): returns a stable pseudo-bitmap of exactly ``width*height``
    bytes derived from the payload hash, so output size — the property the
    plumbing cares about — behaves like a real resize."""
    seed = hashlib.sha256(payload).digest()
    reps = (width * height) // len(seed) + 1
    return (seed * reps)[: width * height]


def resize_images(
    df: DataFrame,
    payload_col: str,
    id_cols: list[str],
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], bytes] = fake_image_resizer,
    out_col: str = "resized",
) -> DataFrame:
    """Resize image payloads via mapInPandas: id_cols + ``out_col`` binary +
    refreshed metadata struct for the new payload.

    Same plumbing contract as :func:`decode_image_features` — Arrow-batched,
    partition-preserving (no shuffle), payload pruned to the single column
    needed. Inject a real ``resizer`` (PIL/libvips) in production.
    """
    id_fields = [df.schema[c] for c in id_cols]
    out_schema = T.StructType(
        list(id_fields) + [T.StructField(out_col, T.BinaryType())]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[id_cols].copy()
            out[out_col] = pdf[payload_col].map(
                lambda b: resizer(bytes(b), width, height) if b is not None else None
            )
            yield out

    resized = df.select(*id_cols, payload_col).mapInPandas(process, out_schema)
    return attach_binary_metadata(resized, out_col, "image", "application/octet-stream")


def sample_frames(
    df: DataFrame,
    payload_col: str,
    id_cols: list[str],
    every_n: int = 10,
    frame_extractor: Callable[[bytes, int], list[bytes]] | None = None,
) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emits one row per sampled
    frame (id_cols + frame_idx + frame binary). The extractor is stubbed —
    ``NotImplementedError`` unless injected."""
    id_fields = [df.schema[c] for c in id_cols]
    out_schema = T.StructType(
        list(id_fields)
        + [T.StructField("frame_idx", T.IntegerType()), T.StructField("frame", T.BinaryType())]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                if frame_extractor is None:
                    raise NotImplementedError(
                        "video decoding requires a frame_extractor (codec libs not available)"
                    )
                frames = frame_extractor(bytes(row[payload_col]), every_n)
                for i, fr in enumerate(frames):
                    rows.append({**{c: row[c] for c in id_cols}, "frame_idx": i, "frame": fr})
            yield pd.DataFrame(rows, columns=[*id_cols, "frame_idx", "frame"])

    return df.select(*id_cols, payload_col).mapInPandas(process, out_schema)


def fake_phash(payload: bytes) -> int:
    """Deterministic stand-in for a perceptual image hash (pHash/blockhash
    — real codecs aren't in this container): the first 8 bytes of the
    payload's sha256 as a signed int64. Equal payloads get equal hashes;
    unlike a real pHash, DISTINCT payloads land ~32 bits apart, so only
    exact duplicates cluster — inject a real pHash (or a test hasher with
    controlled bit flips) via ``hasher=`` for perceptual behavior. The
    sha256 form is chosen because the DuckDB oracle can replay it."""
    h = hashlib.sha256(payload).digest()
    return int.from_bytes(h[:8], "big", signed=True)


def compute_phash(
    df: DataFrame,
    payload_col: str,
    id_cols: list[str],
    hasher: Callable[[bytes], int] = fake_phash,
    out_col: str = "phash",
) -> DataFrame:
    """64-bit perceptual hash per payload via the injectable-codec seam
    (Arrow-batched mapInPandas — the documented multimodal crossing).
    NULL payloads hash to NULL."""
    id_fields = [df.schema[c] for c in id_cols]
    out_schema = T.StructType(list(id_fields) + [T.StructField(out_col, T.LongType())])

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[id_cols].copy()
            out[out_col] = pdf[payload_col].map(
                lambda b: hasher(bytes(b)) if b is not None else None
            )
            yield out

    return df.select(*id_cols, payload_col).mapInPandas(process, out_schema)


def phash_near_dups(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hasher: Callable[[bytes], int] = fake_phash,
    max_bucket: int | None = 10000,
) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash Hamming distance —
    the multimodal sibling of SimHash dedup: (``id_a``, ``id_b``,
    ``hamming``) for every pair with ``hamming(phash_a, phash_b) ≤
    max_hamming``, id_a < id_b.

    Candidate generation is Hamming LSH on the 64-bit hash split into
    ``bands`` equal segments: two hashes within ``bands − 1`` bit flips
    MUST agree on at least one whole segment (pigeonhole), so with the
    default (bands=4, max_hamming=3) recall is EXACT — never all-pairs.
    The verify is one JVM expression (popcount of the xor). Segment
    buckets wider than ``max_bucket`` are dropped BEFORE the self-join
    (the MinHash ``_cap_buckets`` contract: one degenerate bucket —
    millions of byte-identical images — makes the join quadratic at
    corpus scale; collapse exact duplicates first if those pairs
    matter).

    Only the hashing crosses to Python (the codec seam); banding, the
    bucket self-join, and the Hamming verify are pure Catalyst — at
    100 TB the shuffle is (band, segment)-keyed candidate pairs, the
    SimHash scale shape. Requires ``max_hamming < bands`` ≤ 64 for the
    recall guarantee."""
    hashed = compute_phash(df, payload_col, [id_col], hasher).where(
        F.col("phash").isNotNull()
    )
    return banded_hamming_pairs(
        hashed, id_col, "phash", max_hamming, bands, max_bucket
    )


def phash_cluster_dedup(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hasher: Callable[[bytes], int] = fake_phash,
    max_bucket: int | None = 10000,
) -> DataFrame:
    """Transitive-closure image dedup: keep ONE row (min id) per
    connected component of the :func:`phash_near_dups` graph — A~B~C
    collapses to A even when A and C never paired directly (the
    :func:`~gluestick_spark.llm.dedup.cluster_dedup` semantics applied
    to perceptual hashes). Rows in no pair survive untouched; the drop
    set is an anti-join, never a full-table shuffle of ``df``.
    Components converge in O(log n) large-star/small-star rounds."""
    pairs = phash_near_dups(
        df, payload_col, id_col, max_hamming, bands, hasher, max_bucket
    )
    return cluster_dedup(df, pairs, id_col, "id_a", "id_b")


def banded_hamming_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = 10000,
) -> DataFrame:
    """Hamming-LSH near-dup pairs over ANY 64-bit fingerprint column —
    backs :func:`phash_near_dups` (images) and :func:`audio_near_dups`
    (audio), and serves any caller with its own signature. It is the
    banded-LSH core SimHash shares (``llm/dedup.py:_hamming_pairs``):
    the hash split into ``bands`` equal segments by the one piece
    splitter (``_band_pieces``); two hashes within ``bands − 1`` bit
    flips MUST agree on a whole segment (pigeonhole → EXACT recall for
    ``max_hamming < bands``); the one candidate join on (band, seg)
    (``_candidate_join``); the one Hamming verify (``_hamming_verify``,
    popcount of the xor). Segment buckets wider than ``max_bucket`` are
    dropped first (the MinHash ``_cap_buckets`` contract). Returns
    (``id_a`` < ``id_b``, ``hamming``)."""
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"need 0 <= max_hamming < bands for exact recall, got "
            f"max_hamming={max_hamming}, bands={bands}"
        )
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64, got {bands}")
    return _hamming_pairs(
        hashed, id_col, hash_col, max_hamming, bands, 64 // bands, max_bucket, "id_a", "id_b"
    )


def fake_audio_fingerprint(payload: bytes) -> int:
    """Deterministic stand-in for an acoustic fingerprint (chromaprint /
    echoprint — audio codecs aren't in this container): the LAST 8
    bytes of the payload's sha256 as a signed int64 — a different
    projection than :func:`fake_phash`'s first-8, so image and audio
    fingerprints of one payload never coincide in tests. Equal payloads
    get equal fingerprints; inject a real fingerprinter via
    ``hasher=``. Replayable by the DuckDB oracle (sha256 hex chars
    49–64)."""
    h = hashlib.sha256(payload).digest()
    return int.from_bytes(h[24:32], "big", signed=True)


def compute_audio_fingerprint(
    df: DataFrame,
    payload_col: str,
    id_cols: list[str],
    hasher: Callable[[bytes], int] = fake_audio_fingerprint,
    out_col: str = "afp",
) -> DataFrame:
    """64-bit acoustic fingerprint per payload via the injectable-codec
    seam — :func:`compute_phash`'s plumbing with the audio defaults
    (Arrow-batched mapInPandas, NULL payloads → NULL)."""
    return compute_phash(df, payload_col, id_cols, hasher, out_col)


def audio_near_dups(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hasher: Callable[[bytes], int] = fake_audio_fingerprint,
    max_bucket: int | None = 10000,
) -> DataFrame:
    """Near-duplicate audio pairs by fingerprint Hamming distance — the
    audio sibling of :func:`phash_near_dups` (VERDICT r12 #6), closing
    image+audio parity for multimodal dedup: (``id_a`` < ``id_b``,
    ``hamming``) for every pair within ``max_hamming`` bit flips of the
    64-bit acoustic fingerprint. Candidates come from the shared
    pigeonhole-exact Hamming LSH (:func:`banded_hamming_pairs` —
    ``max_hamming < bands`` ⇒ no missed pair, never all-pairs); only
    the fingerprinting crosses to Python (the codec seam). At 100 TB
    the shuffle is (band, segment)-keyed candidate pairs — the SimHash
    scale shape."""
    hashed = compute_audio_fingerprint(df, payload_col, [id_col], hasher).where(
        F.col("afp").isNotNull()
    )
    return banded_hamming_pairs(
        hashed, id_col, "afp", max_hamming, bands, max_bucket
    )


def audio_cluster_dedup(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hasher: Callable[[bytes], int] = fake_audio_fingerprint,
    max_bucket: int | None = 10000,
) -> DataFrame:
    """Transitive-closure audio dedup: ONE survivor (min id) per
    connected component of the :func:`audio_near_dups` graph — the
    :func:`phash_cluster_dedup` semantics for audio. Chains A~B~C
    collapse to A even when A and C never paired directly; rows in no
    pair survive untouched (anti-join drop set). O(log n)
    large-star/small-star rounds."""
    pairs = audio_near_dups(
        df, payload_col, id_col, max_hamming, bands, hasher, max_bucket
    )
    return cluster_dedup(df, pairs, id_col, "id_a", "id_b")


def fingerprint_segments(
    hashed: DataFrame, id_col: str, hash_col: str, bands: int
) -> DataFrame:
    """(``__id__``, ``__h__``, ``band``, ``seg``) — the 64-bit
    fingerprint split into ``bands`` equal segments, one row per
    segment: the one piece splitter (``llm/dedup.py:_band_pieces``) at
    64 // ``bands`` bits a piece, as :func:`banded_hamming_pairs` uses
    it. The streaming fingerprint-dedup state
    (``streaming/pipeline.py:streaming_fingerprint_dedup``) stores these
    rows and matches them through the one candidate join."""
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64, got {bands}")
    return _band_pieces(hashed, id_col, hash_col, bands, 64 // bands)
