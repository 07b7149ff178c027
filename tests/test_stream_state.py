"""Persisted stream state: the flat parquet state of the dedup streams
(``streaming_minhash_dedup``, ``streaming_url_dedup``), its compaction,
the refusal of the retired bucketed layout, and the novelty gram store."""

from __future__ import annotations

import os
import pathlib
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
# Most jobs per trigger seen before the bucket joins were folded into
# one, on the data of test_streaming_minhash_dedup_two_batches_equal_batch.
MINHASH_JOBS_MAX = (17, 21)
# Most jobs per trigger seen, over 3 runs on the data of
# test_streaming_url_dedup_two_batches_equal_batch, while the URL state
# was still read through an inferring read and a distinct.
URL_JOBS_MAX = (4, 7)
STREAMING = pathlib.Path(__file__).resolve().parents[1] / "gluestick_spark" / "streaming"


def _parquet_files(path: str) -> list[str]:
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def _urls_df(spark, lo: int, hi: int):
    rows = [
        (i, f"https://www.example.com/page{i % 7}?utm_source=x&id={i % 5}")
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "doc_id long, url string")


def _run_url_stream(spark, d, stage, out, state, ckpt):
    from gluestick_spark.streaming.pipeline import (
        stream_from_directory,
        streaming_url_dedup,
    )

    d.coalesce(1).write.mode("append").parquet(stage)
    q = streaming_url_dedup(
        stream_from_directory(spark, stage, d.schema),
        "url", "doc_id", state, out, ckpt,
    )
    q.awaitTermination()
    return q


def _run_minhash_stream(spark, d, stage, out, state, ckpt, threshold):
    from gluestick_spark.streaming.pipeline import (
        stream_from_directory,
        streaming_minhash_dedup,
    )

    d.coalesce(1).write.mode("append").parquet(stage)
    q = streaming_minhash_dedup(
        stream_from_directory(spark, stage, d.schema),
        "text", "doc_id", state, out, ckpt, threshold=threshold,
    )
    q.awaitTermination()
    return q


def _dirs(tmp_dir):
    return (os.path.join(tmp_dir, x) for x in ("src", "out", "state", "ckpt"))


# ------------------------------------------------- one state layout -------


def test_streaming_never_touches_the_catalog():
    """Stream state is flat parquet under ``state_dir``; no streaming
    module registers, reads or describes a catalog table."""
    needles = ("saveAsTable", "bucketBy(", "spark.catalog", "spark.table(",
               "DESCRIBE FORMATTED")
    hits = [
        (path.name, n, needle)
        for path in sorted(STREAMING.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for needle in needles
        if needle in line
    ]
    assert hits == []


def test_streaming_minhash_dedup_two_batches_equal_batch(spark, tmp_dir):
    """Two micro-batches (monotone ids) keep exactly the batch
    ``minhash_dedup`` keep set of their union, including a batch-2 doc
    that near-duplicates a batch-1 doc that was itself dropped. No
    trigger runs more Spark jobs, counted by the query's job group, than
    before the bucket joins were folded into one (MINHASH_JOBS_MAX, the
    most seen there on this data; pinning the batch's band frame raised
    the counts)."""
    from gluestick_spark.llm.dedup import minhash_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base + " ok"),   # near-dup of 1 → dropped
        Row(doc_id=3, text=base + " ok!"),  # near-dup of 2 (dropped) → dropped
        Row(doc_id=4, text="another unrelated document talking about ducks"),
    ]
    full = spark.createDataFrame(docs)
    stage, out, state, ckpt = _dirs(tmp_dir)
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    for cond in (F.col("doc_id") <= 2, F.col("doc_id") > 2):
        q = _run_minhash_stream(spark, full.where(cond), stage, out, state, ckpt, 0.7)
        jobs.append(len(tracker.getJobIdsForGroup(str(q.runId))))
    streamed = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    batch = sorted(
        r["doc_id"]
        for r in minhash_dedup(full, "text", "doc_id", threshold=0.7).collect()
    )
    assert streamed == batch == [1, 4]
    assert all(j <= m for j, m in zip(jobs, MINHASH_JOBS_MAX)), jobs


def test_streaming_url_dedup_two_batches_equal_batch(spark, tmp_dir):
    """Two micro-batches (monotone ids) emit exactly the batch
    ``url_dedup`` rows of their union: a batch-2 variant of a batch-1
    page is dropped against the state, and NULL-canonical rows pass. No
    trigger runs more Spark jobs, counted by the query's job group, than
    URL_JOBS_MAX."""
    from gluestick_spark.llm.web import url_dedup
    from gluestick_spark.streaming.pipeline import read_streaming_dedup_output

    full = spark.createDataFrame(
        [
            (1, "https://s.com/p?id=1&utm_source=a"),
            (2, "junk a"),
            (3, "https://s.com/p/?id=1#f"),  # same page as 1
            (4, "https://s.com/q"),
            (5, "junk b"),
        ],
        "doc_id long, url string",
    )
    stage, out, state, ckpt = _dirs(tmp_dir)
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    for cond in (F.col("doc_id") <= 2, F.col("doc_id") > 2):
        q = _run_url_stream(spark, full.where(cond), stage, out, state, ckpt)
        jobs.append(len(tracker.getJobIdsForGroup(str(q.runId))))
    cols = ["doc_id", "url", "canonical_url"]
    streamed = sorted(tuple(r) for r in read_streaming_dedup_output(spark, out).select(cols).collect())
    batch = sorted(tuple(r) for r in url_dedup(full, "url", "doc_id").select(cols).collect())
    assert streamed == batch
    assert [r[0] for r in streamed] == [1, 2, 4, 5]
    assert all(j <= m for j, m in zip(jobs, URL_JOBS_MAX)), jobs


def test_streaming_minhash_torn_docs_state_raises(spark, tmp_dir):
    """Band state present but doc state lost (a crash between the two
    state appends, or a partial wipe) must raise the torn-state
    ValueError, not an opaque PATH_NOT_FOUND on every restart."""
    import shutil

    from pyspark.errors import StreamingQueryException

    rows = [(i, f"document body number {i} with shared padding text") for i in range(8)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    stage, out, state, ckpt = _dirs(tmp_dir)
    _run_minhash_stream(spark, d.where("doc_id < 4"), stage, out, state, ckpt, 0.5)

    shutil.rmtree(os.path.join(state, "minhash_docs.parquet"))
    with pytest.raises(StreamingQueryException, match="torn state"):
        _run_minhash_stream(spark, d.where("doc_id >= 4"), stage, out, state, ckpt, 0.5)


@pytest.mark.parametrize(
    "legacy,flat",
    [
        ("url_canon_buckets", "url_canon.parquet"),
        ("minhash_buckets_bt", "minhash_buckets.parquet"),
    ],
)
def test_state_layout_toggle_refused(spark, tmp_dir, legacy, flat):
    """State written in the retired bucketed layout is never dropped
    silently: starting the stream over it, or compacting it, raises and
    names the flat directory its (plain parquet) files belong in."""
    from gluestick_spark.streaming.pipeline import (
        compact_stream_state,
        stream_from_directory,
        streaming_minhash_dedup,
        streaming_url_dedup,
    )

    stage, out, state, ckpt = _dirs(tmp_dir)
    spark.range(3).write.parquet(os.path.join(state, legacy))
    d = spark.createDataFrame([(1, "https://h.com/p")], "doc_id long, text string")
    d.write.parquet(stage)
    stream = stream_from_directory(spark, stage, d.schema)
    start = streaming_url_dedup if legacy == "url_canon_buckets" else streaming_minhash_dedup
    msg = re.escape("move them into " + os.path.join(state, flat))
    with pytest.raises(ValueError, match=msg):
        start(stream, "text", "doc_id", state, out, ckpt)
    with pytest.raises(ValueError, match=msg):
        compact_stream_state(spark, state)
    assert not os.path.exists(ckpt)


def test_streaming_url_dedup_output_tagged_and_replay_dedupable(spark, tmp_dir):
    """ADVICE r8 (low): emitted rows carry __batch_id__, so an
    at-least-once replay (crash between the out_dir append and the state
    append) produces row-identical duplicates that a distinct-on-read
    collapses — read_streaming_dedup_output is that read."""
    from gluestick_spark.streaming.pipeline import read_streaming_dedup_output

    d = spark.createDataFrame(
        [(i, f"https://ex{i % 5}.com/p?utm_source=x&id={i % 5}") for i in range(20)],
        "doc_id long, url string",
    )
    stage, out, state, ckpt = _dirs(tmp_dir)
    _run_url_stream(spark, d, stage, out, state, ckpt)
    raw = spark.read.parquet(out)
    assert "__batch_id__" in raw.columns
    n = raw.count()
    assert n == 5
    # simulate the replay-duplicate window: the same batch's emitted rows
    # appended a second time with the SAME batch id
    raw.write.mode("append").parquet(out)
    assert spark.read.parquet(out).count() == 2 * n
    clean = read_streaming_dedup_output(spark, out)
    assert clean.count() == n
    assert "__batch_id__" not in clean.columns


# ------------------------------------------------------- compaction -------


def test_compact_stream_state_flat_bounds_files_and_keeps_results(spark, tmp_dir):
    """Per-batch appends grow the flat canon-state file count without
    bound; compact_stream_state collapses it, the stream resumes on the
    compacted state, and emitted survivors match an uncompacted
    reference run exactly."""
    from gluestick_spark.streaming.pipeline import (
        compact_stream_state,
        read_streaming_dedup_output,
    )

    def run(base, compact_after=None):
        stage, out, state, ckpt = _dirs(base)
        for b in range(4):
            _run_url_stream(
                spark, _urls_df(spark, b * 10, b * 10 + 10),
                stage, out, state, ckpt,
            )
            if compact_after is not None and b == compact_after:
                n_before = len(_parquet_files(os.path.join(state, "url_canon.parquet")))
                res = compact_stream_state(spark, state, target_rows_per_file=10**6)
                assert res["url_canon.parquet"] >= 1
                n_after = len(_parquet_files(os.path.join(state, "url_canon.parquet")))
                assert n_after < n_before
        return read_streaming_dedup_output(spark, out)

    ref = run(os.path.join(tmp_dir, "ref"))
    got = run(os.path.join(tmp_dir, "cmp"), compact_after=2)
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in ref.collect()
    )


def test_compact_stream_state_bin_counts_additive_after(spark, tmp_dir):
    """Drift bin-count state: compaction is row-preserving, so the
    (bin, batch_id)-keyed replay guard and the additive sums are
    unchanged."""
    from gluestick_spark.streaming.pipeline import (
        bin_counts_from_state,
        compact_stream_state,
        stream_from_directory,
        streaming_bin_counts,
    )

    base = os.path.join(tmp_dir, "e")
    stage = os.path.join(base, "src")
    state, ckpt = os.path.join(base, "state"), os.path.join(base, "ckpt")
    d1 = spark.createDataFrame([(float(i),) for i in range(50)], "x double")
    d2 = spark.createDataFrame([(float(i),) for i in range(50, 80)], "x double")
    for d in (d1, d2):
        d.coalesce(1).write.mode("append").parquet(stage)
        streaming_bin_counts(
            stream_from_directory(spark, stage, d.schema),
            "x", 0.0, 100.0, 10, state, ckpt,
        ).awaitTermination()
    before = sorted(
        (r["bin"], r["n"]) for r in bin_counts_from_state(spark, state).collect()
    )
    res = compact_stream_state(spark, state)
    assert res["bin_counts.parquet"] == 1
    after = sorted(
        (r["bin"], r["n"]) for r in bin_counts_from_state(spark, state).collect()
    )
    assert after == before


# ------------------------------------------------------- gram store -------


def test_gram_state_torn_and_mismatch(spark, tmp_dir):
    """A state dir without _GRAM_META (torn materialize / crash before
    the commit marker) must be refused loudly by both streaming_novelty
    and append-mode materialize; appending with different geometry must
    raise, never silently mix gram spaces."""
    from gluestick_spark.streaming.pipeline import (
        materialize_gram_state,
        stream_from_directory,
        streaming_novelty,
    )

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    state = os.path.join(tmp_dir, "state")
    os.makedirs(state)
    with pytest.raises(ValueError, match="torn or absent"):
        streaming_novelty(
            stream_from_directory(spark, tmp_dir, d.schema),
            state, "doc_id", "text",
            os.path.join(tmp_dir, "o"), os.path.join(tmp_dir, "c"),
        )
    with pytest.raises(ValueError, match="torn or absent"):
        materialize_gram_state(d, state, "text", n=3, mode="append")
    materialize_gram_state(d.limit(20), state, "text", n=3)
    with pytest.raises(ValueError, match="geometry mismatch"):
        materialize_gram_state(d, state, "text", n=5, mode="append")
    # a crash between meta removal and rewrite = torn; rebuild heals
    os.remove(os.path.join(state, "_GRAM_META.json"))
    materialize_gram_state(d.limit(20), state, "text", n=3)
    assert os.path.isfile(os.path.join(state, "_GRAM_META.json"))


# ------------------------------------------------ typed state reads -------


def test_fp_segments_mixed_schema_reads_deterministically(spark, tmp_dir):
    """A pre-r14 untagged fp_segments.parquet appended to by a tagged
    batch has mixed per-file schemas. compact_fingerprint_state reads it
    with the schema the stream appends, so every read surfaces
    __batch__ (untagged rows NULL), whichever footer Spark would pick,
    and the all/partial-NULL tag does not crash it."""
    from gluestick_spark.streaming.pipeline import compact_fingerprint_state

    state_dir = tmp_dir
    seg_path = os.path.join(state_dir, "fp_segments.parquet")
    untagged = spark.createDataFrame(
        [(0, 7, 111), (1, 8, 222)], "band int, seg long, __h__ long"
    )
    untagged.write.mode("append").parquet(seg_path)
    tagged = spark.createDataFrame(
        [(0, 7, 111, 3), (2, 9, 333, 3)],
        "band int, seg long, __h__ long, __batch__ long",
    )
    tagged.write.mode("append").parquet(seg_path)

    n = compact_fingerprint_state(spark, state_dir)
    assert n == 3  # (0,7,111) deduped across the tag boundary
    out = spark.read.parquet(seg_path)
    assert "__batch__" in out.columns
    assert out.agg(F.max("__batch__")).first()[0] == 3

    # all-untagged state: max over no tags falls back to 0, not a crash
    import shutil

    shutil.rmtree(seg_path)
    untagged.write.mode("append").parquet(seg_path)
    assert compact_fingerprint_state(spark, state_dir) == 2
    assert spark.read.parquet(seg_path).agg(F.max("__batch__")).first()[0] == 0


def test_stream_state_reads_like_inference(spark, tmp_dir):
    """Each dedup stream reads its state with the schema of the frame it
    appends; that schema is what an inferring read of the state returns
    (the MinHash buckets and docs, the URL canon set, the fingerprint
    segments, whose compaction reads with ``_FP_STATE``)."""
    from gluestick_spark.llm.dedup import minhash_band_buckets
    from gluestick_spark.llm.multimodal import fake_phash
    from gluestick_spark.llm.web import url_dedup
    from gluestick_spark.streaming.pipeline import (
        _FP_STATE,
        stream_from_directory,
        streaming_fingerprint_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps!")],
        "doc_id long, text string",
    )
    _, out, state, ckpt = _dirs(tmp_dir)
    _run_minhash_stream(spark, docs, os.path.join(tmp_dir, "m"), out, state, ckpt, 0.7)
    batch = docs.select(F.col("doc_id").alias("__id__"), F.col("text").alias("__text__"))
    urls = _urls_df(spark, 0, 6)
    _run_url_stream(spark, urls, os.path.join(tmp_dir, "u"), out + "u", state, ckpt + "u")
    canon = url_dedup(urls, "url", "doc_id").select(F.col("canonical_url").alias("__canon__"))
    payload = spark.createDataFrame(
        [(i, bytes([i % 3] * 8)) for i in range(6)], "doc_id long, payload binary"
    )
    payload.coalesce(1).write.parquet(os.path.join(tmp_dir, "f"))
    streaming_fingerprint_dedup(
        stream_from_directory(spark, os.path.join(tmp_dir, "f"), payload.schema),
        "payload", "doc_id", state, out + "f", ckpt + "f", hasher=fake_phash,
    ).awaitTermination()
    appended = {
        "minhash_buckets.parquet": minhash_band_buckets(batch, "__text__", "__id__").schema,
        "minhash_docs.parquet": batch.schema,
        "url_canon.parquet": canon.schema,
        "fp_segments.parquet": _FP_STATE,
    }
    for name, schema in appended.items():
        loc = os.path.join(state, name)
        typed = spark.read.schema(schema).parquet(loc).schema
        assert typed == spark.read.parquet(loc).schema, name
