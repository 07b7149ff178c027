"""Persisted stream state and output of the appending ``foreachBatch``
streams: the replay rule (each batch overwrites its own partition and
reads state below its id), crash replays, compaction, the refusal of the
retired bucketed and flat layouts, and the novelty gram store."""

from __future__ import annotations

import os
import pathlib
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
# Most jobs per trigger seen, over 3 runs on the data of
# test_streaming_minhash_dedup_two_batches_equal_batch, once state reads
# were bounded below the batch id with no distinct and the batch's band
# frame was pinned (16, 16 every time; the first trigger has run 16 or 17
# jobs on identical code before, so it keeps 17).
MINHASH_JOBS_MAX = (17, 16)
# Most jobs per trigger seen, over 3 runs on the data of
# test_streaming_url_dedup_two_batches_equal_batch.
URL_JOBS_MAX = (4, 5)
STREAMING = pathlib.Path(__file__).resolve().parents[1] / "gluestick_spark" / "streaming"


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

    if d is not None:
        d.coalesce(1).write.mode("append").parquet(stage)
    q = streaming_url_dedup(
        stream_from_directory(spark, stage, _urls_df(spark, 0, 0).schema),
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


def _uncommit(ckpt: str, batch_id: int) -> None:
    """Forget the checkpoint commit of ``batch_id``, as a crash after the
    handler's writes and before the commit leaves it: restarting the
    query re-runs the batch with the same id."""
    for name in (str(batch_id), f".{batch_id}.crc"):
        os.remove(os.path.join(ckpt, "commits", name))


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _partitions(path: str) -> list[str]:
    return sorted(n for n in os.listdir(path) if "=" in n)


def _within_rank_bound(vals: list[float], p: float, v: float, eps: float = 0.05) -> bool:
    """The KLL contract: ``v`` estimates the ``p`` quantile of ``vals``
    within a rank error of ``eps`` of their count."""
    n = len(vals)
    rlo = sum(1 for x in vals if x < v)
    rhi = sum(1 for x in vals if x <= v)
    target = max(1, -(-p * n // 1))
    return rlo + 1 - eps * n <= target <= rhi + eps * n


# ------------------------------------------------- one state layout -------


def test_streaming_never_touches_the_catalog():
    """Stream state is parquet under ``state_dir``; no streaming module
    registers, reads or describes a catalog table."""
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
    MINHASH_JOBS_MAX."""
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
    """Band state present but doc state lost (a partial wipe) must raise
    the torn-state ValueError, not an opaque PATH_NOT_FOUND on every
    restart."""
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


def test_flat_state_and_output_refused(spark, tmp_dir):
    """State or output written flat by the earlier append layout (part
    files at the directory root) is refused by name: by the stream that
    would write batch partitions beside it (Spark would then read only
    the partitions and drop the root rows), by compaction and by the
    readers."""
    from gluestick_spark.llm.multimodal import fake_phash
    from gluestick_spark.streaming.pipeline import (
        bin_counts_from_state,
        compact_stream_state,
        read_streaming_dedup_output,
        stream_from_directory,
        streaming_bin_counts,
        streaming_fingerprint_dedup,
        streaming_url_dedup,
    )

    stage, out, state, ckpt = _dirs(tmp_dir)
    d = spark.createDataFrame([(1, "https://h.com/p")], "doc_id long, url string")
    d.write.parquet(stage)
    stream = stream_from_directory(spark, stage, d.schema)

    def refused(path):
        return pytest.raises(ValueError, match=re.escape(f"flat stream directory {path}:"))

    # a flat out_dir, the way every appending stream wrote it before
    d.withColumn("__batch_id__", F.lit(0).cast("long")).write.parquet(out)
    with refused(out):
        streaming_url_dedup(stream, "url", "doc_id", state, out, ckpt)
    with refused(out):
        read_streaming_dedup_output(spark, out)
    # flat state dirs: URL canon set, fingerprint segments, bin counts
    fresh_out = os.path.join(tmp_dir, "out2")
    canon = os.path.join(state, "url_canon.parquet")
    spark.createDataFrame([("h.com/p", 0)], "__canon__ string, __batch__ long").write.parquet(canon)
    with refused(canon):
        streaming_url_dedup(stream, "url", "doc_id", state, fresh_out, ckpt)
    with refused(canon):
        compact_stream_state(spark, state)
    segs = os.path.join(tmp_dir, "fp", "fp_segments.parquet")
    spark.createDataFrame([(0, 7, 111)], "band int, seg long, __h__ long").write.parquet(segs)
    with refused(segs):
        streaming_fingerprint_dedup(
            stream, "url", "doc_id", os.path.join(tmp_dir, "fp"), fresh_out, ckpt,
            hasher=fake_phash,
        )
    counts = os.path.join(tmp_dir, "bins", "bin_counts.parquet")
    spark.createDataFrame([(0, 3, 0)], "bin int, n long, batch_id int").write.parquet(counts)
    with refused(counts):
        streaming_bin_counts(stream, "doc_id", 0, 10, 2, os.path.join(tmp_dir, "bins"), ckpt)
    with refused(counts):
        bin_counts_from_state(spark, os.path.join(tmp_dir, "bins"))
    assert not os.path.exists(ckpt)


def test_fresh_checkpoint_over_written_dirs_refused(spark, tmp_dir):
    """Output and state directories belong to the checkpoint that wrote
    them. A fresh checkpoint would restart at batch 0, overwrite the old
    batches' partitions and read none of the state below them, so the
    stream refuses to start, names the directory and writes nothing;
    compacted state (only the folded partition left below the newest)
    is refused the same way. The old checkpoint still resumes."""
    from gluestick_spark.streaming.pipeline import compact_stream_state

    stage, out, state, ckpt = _dirs(tmp_dir)
    _run_url_stream(spark, _urls_df(spark, 0, 10), stage, out, state, ckpt)
    _run_url_stream(spark, _urls_df(spark, 10, 20), stage, out, state, ckpt)
    canon = os.path.join(state, "url_canon.parquet")
    before = {p: _partitions(p) for p in (out, canon)}
    fresh = os.path.join(tmp_dir, "ckpt_fresh")

    def refused(path):
        return pytest.raises(
            ValueError, match=re.escape(f"stream directory {path} holds batch partitions")
        )

    with refused(out):
        _run_url_stream(spark, None, stage, out, state, fresh)
    compact_stream_state(spark, state)
    assert _partitions(canon) == ["__batch__=-1", "__batch__=1"]
    with refused(canon):
        _run_url_stream(spark, None, stage, os.path.join(tmp_dir, "out2"), state, fresh)
    assert not os.path.exists(fresh)
    assert _partitions(out) == before[out]
    # a checkpoint that planned fewer batches than the dirs hold
    behind = os.path.join(tmp_dir, "ckpt_behind")
    os.makedirs(os.path.join(behind, "offsets"))
    with open(os.path.join(behind, "offsets", "0"), "w"):
        pass
    with refused(out):
        _run_url_stream(spark, None, stage, out, state, behind)
    _run_url_stream(spark, _urls_df(spark, 20, 25), stage, out, state, ckpt)
    assert _partitions(out) == before[out] + ["__batch_id__=2"]


@pytest.mark.parametrize("kind", ["url", pytest.param("drift", marks=pytest.mark.slow)])
def test_stream_folds_wide_state_itself(spark, tmp_dir, kind):
    """Past the partition count Spark lists without a job of its own
    (``parallelPartitionDiscovery.threshold``, lowered to 2 here), a
    stream folds its state below the newest batch before reading it, so
    no state read ever lists more partitions than that and no stop to
    compact is needed. Output and state (by what readers take of it)
    stay row-identical to a run that never folds."""
    from gluestick_spark.streaming.pipeline import materialize_corpus_sketch

    ref = os.path.join(tmp_dir, "ref_sketch")
    if kind == "drift":
        materialize_corpus_sketch(_mixed_batch(spark, 5), ref, "text", n=3, k=64)
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"

    def run(base, threshold):
        stage, out, state, ckpt = _dirs(base)
        widest = 0
        old = spark.conf.get(key)
        spark.conf.set(key, str(threshold))
        try:
            for b in range(4):
                _mixed_batch(spark, b).coalesce(1).write.mode("append").parquet(stage)
                _start_stream(kind, spark, stage, out, state, ckpt, ref)
                (name,) = os.listdir(state)
                widest = max(widest, len(_partitions(os.path.join(state, name))))
        finally:
            spark.conf.set(key, old)
        return out, os.path.join(state, name), widest

    out, st, widest = run(os.path.join(tmp_dir, "folded"), 2)
    want_out, want_st, want_widest = run(os.path.join(tmp_dir, "raw"), 32)
    assert want_widest == 4 and widest <= 3
    assert _partitions(st)[0].endswith("=-1")
    assert _same_rows(spark.read.parquet(out), spark.read.parquet(want_out))
    assert _same_rows(
        _fold_view(kind, spark.read.parquet(st)), _fold_view(kind, spark.read.parquet(want_st))
    )


def test_state_read_heals_crashed_fold_swap(spark, tmp_dir):
    """A fold whose rename-fallback swap crashed leaves the state moved
    aside to its parking name; the next state read moves it back instead
    of reading no state (which would re-emit duplicates)."""
    stage, out, state, ckpt = _dirs(tmp_dir)
    _run_url_stream(spark, _urls_df(spark, 0, 10), stage, out, state, ckpt)
    canon = os.path.join(state, "url_canon.parquet")
    os.rename(canon, canon + ".__old__")
    # ids 35..44 carry the pages of ids 0..9 (page i % 7, id i % 5)
    _run_url_stream(spark, _urls_df(spark, 35, 45), stage, out, state, ckpt)
    assert not os.path.exists(canon + ".__old__")
    # batch 1 re-emits none of the 10 pages batch 0 kept (an empty frame
    # writes no partition)
    assert _partitions(out) == ["__batch_id__=0"]
    assert spark.read.parquet(out).count() == 10


# ------------------------------------------------ crash replays -------


def _mixed_batch(spark, b: int):
    """Batch ``b`` of ten rows carrying a column for every stream below,
    with duplicates across batches for each dedup stream to drop."""
    rows = [
        (
            i,
            f"shared words about topic {t} and then some more words {t}",
            f"https://ex{i % 6 + 3 * b}.com/p?utm_source=x",
            bytes([i % 5 + 2 * b] * 8),
            float((i * 37) % 100),
        )
        for i in range(10 * b, 10 * b + 10)
        for t in [i % 4 + 2 * b]
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, url string, payload binary, v double"
    )


def _start_stream(kind, spark, stage, out, state, ckpt, ref):
    from gluestick_spark.llm.multimodal import fake_phash
    from gluestick_spark.streaming import pipeline as p

    stream = p.stream_from_directory(spark, stage, _mixed_batch(spark, 0).schema)
    if kind == "url":
        q = p.streaming_url_dedup(stream, "url", "doc_id", state, out, ckpt)
    elif kind == "minhash":
        q = p.streaming_minhash_dedup(stream, "text", "doc_id", state, out, ckpt, threshold=0.5)
    elif kind == "fingerprint":
        q = p.streaming_fingerprint_dedup(
            stream, "payload", "doc_id", state, out, ckpt, hasher=fake_phash
        )
    elif kind == "quantiles":
        q = p.streaming_quantiles(stream, "v", out, ckpt, state, probs=(0.5, 0.9), k=16)
    elif kind == "drift":
        q = p.streaming_corpus_drift(stream, ref, "text", out, ckpt, state)
    else:
        q = p.streaming_bin_counts(stream, "v", 0.0, 100.0, 5, state, ckpt)
    q.awaitTermination()


def _compact(kind, spark, state):
    from gluestick_spark.streaming.pipeline import compact_sketch_log, compact_stream_state

    if kind == "quantiles":
        compact_sketch_log(spark, os.path.join(state, "kll_log.parquet"), "kll", 16)
    elif kind == "drift":
        compact_sketch_log(spark, os.path.join(state, "sketch_log.parquet"), "kmv", 64)
    else:
        compact_stream_state(spark, state)


def _fold_view(kind, rows):
    """What the readers of a state take from ``rows`` (tag dropped): the
    set for set states, per-bin sums, the merged sketch."""
    from gluestick_spark.llm.sketch import kll_merge, kmv_merge

    for tag in ("__batch__", "batch_id"):
        rows = rows.drop(tag)
    if kind == "bin_counts":
        return rows.groupBy("bin").agg(F.sum("n").alias("n"))
    if kind == "quantiles":
        return kll_merge(rows, 16).select("kll.n")
    if kind == "drift":
        return kmv_merge(rows, 64)
    return rows.distinct()


@pytest.mark.parametrize(
    "kind",
    [
        "url",
        pytest.param("minhash", marks=pytest.mark.slow),
        pytest.param("fingerprint", marks=pytest.mark.slow),
        "quantiles",
        "drift",
        "bin_counts",
    ],
)
def test_crash_between_writes_replays_row_identical(spark, tmp_dir, monkeypatch, kind):
    """A crash right after the first write of batch 1 (between the output
    and state writes of the dedup streams, between the sketch-log and
    output writes of the sketch streams, after the one write of the bin
    counts) replays to output and state row-identical to an uninterrupted
    run; so does a replay of the whole batch (commit lost after every
    write), and a compaction between a crash and its replay leaves the
    newest batch raw and every result unchanged."""
    from pyspark.errors import StreamingQueryException

    from gluestick_spark.streaming import pipeline
    from gluestick_spark.streaming.pipeline import materialize_corpus_sketch

    ref = os.path.join(tmp_dir, "ref_sketch")
    if kind == "drift":
        materialize_corpus_sketch(_mixed_batch(spark, 5), ref, "text", n=3, k=64)

    def run(base, batches):
        stage, out, state, ckpt = _dirs(base)
        for b in batches:
            if b is not None:
                _mixed_batch(spark, b).coalesce(1).write.mode("append").parquet(stage)
            _start_stream(kind, spark, stage, out, state, ckpt, ref)
        return out, state, ckpt

    def dirs(out, state):
        """(output dirs, state dirs) of a run; bin counts have no output."""
        outs = [out] if os.path.isdir(out) else []
        return outs, [os.path.join(state, n) for n in sorted(os.listdir(state))]

    want_outs, want_states = dirs(*run(os.path.join(tmp_dir, "want"), [0, 1])[:2])
    want = want_outs + want_states

    base = os.path.join(tmp_dir, "got")
    out, state, ckpt = run(base, [0])
    write = pipeline._write_batch

    def crash_after_first_write(df, path, tag, batch_id):
        write(df, path, tag, batch_id)
        if batch_id == 1:
            raise RuntimeError("crash injected after a write")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "_write_batch", crash_after_first_write)
        with pytest.raises(StreamingQueryException, match="crash injected"):
            run(base, [1])
    assert not os.path.exists(os.path.join(ckpt, "commits", "1"))

    def same_as_uninterrupted():
        got = sum(dirs(out, state), [])
        assert [os.path.basename(p) for p in got] == [os.path.basename(p) for p in want]
        return all(
            _same_rows(spark.read.parquet(a), spark.read.parquet(b)) for a, b in zip(got, want)
        )

    run(base, [None])  # the restart replays batch 1
    assert same_as_uninterrupted()
    _uncommit(ckpt, 1)
    run(base, [None])
    assert same_as_uninterrupted()

    _uncommit(ckpt, 1)
    _compact(kind, spark, state)
    outs, states = dirs(out, state)
    for p in states:
        assert _partitions(p)[0].endswith("=-1")
        assert _partitions(p)[-1].endswith("=1")  # the newest stays raw
    run(base, [None])
    for a, b in zip(outs, want_outs):
        assert _same_rows(spark.read.parquet(a), spark.read.parquet(b))
    for a, b in zip(states, want_states):
        assert _same_rows(
            _fold_view(kind, spark.read.parquet(a)), _fold_view(kind, spark.read.parquet(b))
        )


def test_streaming_url_dedup_output_tagged_and_replay_dedupable(spark, tmp_dir):
    """Emitted rows sit in one ``__batch_id__`` partition per batch. A
    real replay (the batch's commit deleted, the query restarted) re-runs
    the batch with the same id against state that already holds its own
    canon URLs: it reads only the state below its id, so it emits the
    same rows again, and they replace its partition instead of adding a
    copy. read_streaming_dedup_output needs no distinct."""
    from gluestick_spark.streaming.pipeline import read_streaming_dedup_output

    d = spark.createDataFrame(
        [(i, f"https://ex{i % 5}.com/p?utm_source=x&id={i % 5}") for i in range(20)],
        "doc_id long, url string",
    )
    stage, out, state, ckpt = _dirs(tmp_dir)
    _run_url_stream(spark, d, stage, out, state, ckpt)
    raw = spark.read.parquet(out)
    assert "__batch_id__" in raw.columns
    assert _partitions(out) == ["__batch_id__=0"]
    first = raw.collect()
    assert len(first) == 5

    _uncommit(ckpt, 0)
    _run_url_stream(spark, None, stage, out, state, ckpt)
    assert sorted(spark.read.parquet(out).collect()) == sorted(first)
    canon = os.path.join(state, "url_canon.parquet")
    assert spark.read.parquet(canon).count() == 5
    clean = read_streaming_dedup_output(spark, out)
    assert clean.count() == 5
    assert "__batch_id__" not in clean.columns


def test_streaming_bin_counts_additivity_and_replay_guard(spark, tmp_dir):
    """The summed per-batch bin counts equal the batch histogram exactly,
    and a real replay of the last batch replaces its counts instead of
    adding them twice."""
    from gluestick_spark.operators.profile import bin_counts
    from gluestick_spark.streaming.pipeline import (
        bin_counts_from_state,
        stream_from_directory,
        streaming_bin_counts,
    )

    stage, _, state, ckpt = _dirs(tmp_dir)
    df1 = spark.createDataFrame([(i, i % 10) for i in range(50)], "id long, x long")
    df2 = spark.createDataFrame([(100 + i, (i % 10) + 2) for i in range(30)],
                                "id long, x long")

    def run(d=None):
        if d is not None:
            d.coalesce(1).write.mode("append").parquet(stage)
        streaming_bin_counts(
            stream_from_directory(spark, stage, df1.schema),
            "x", 0, 12, 6, state, ckpt,
        ).awaitTermination()
        return {r["bin"]: r["n"] for r in bin_counts_from_state(spark, state).collect()}

    run(df1)
    got = run(df2)
    want = {r["bin"]: r["n"]
            for r in bin_counts(df1.unionByName(df2), "x", 0, 12, 6).collect()}
    assert got == want  # additive state == batch histogram, exactly
    _uncommit(ckpt, 1)
    assert run() == want


def test_streaming_corpus_drift_replay_idempotent(spark, tmp_dir):
    """A real replay of a batch rewrites its sketch-log partition and its
    output row: the log keeps one row and the replayed row is identical.
    Torn reference sketch (no meta) raises."""
    from gluestick_spark.streaming.pipeline import (
        materialize_corpus_sketch,
        stream_from_directory,
        streaming_corpus_drift,
    )

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    a = d.where("doc_id % 2 = 1").select("doc_id", "text")
    ref_dir = os.path.join(tmp_dir, "ref")
    with pytest.raises(ValueError, match="torn or absent"):
        streaming_corpus_drift(
            stream_from_directory(spark, tmp_dir, a.schema),
            ref_dir, "text",
            os.path.join(tmp_dir, "o"), os.path.join(tmp_dir, "c"),
            os.path.join(tmp_dir, "s"),
        )
    materialize_corpus_sketch(d.where("doc_id % 2 = 0"), ref_dir, "text", n=3, k=256)
    stage, out = os.path.join(tmp_dir, "in"), os.path.join(tmp_dir, "out")
    ckpt, state = os.path.join(tmp_dir, "ck"), os.path.join(tmp_dir, "st")
    a.coalesce(1).write.parquet(stage)

    def run():
        streaming_corpus_drift(
            stream_from_directory(spark, stage, a.schema),
            ref_dir, "text", out, ckpt, state,
        ).awaitTermination()
        return spark.read.parquet(out).collect()

    first = run()
    assert len(first) == 1 and first[0]["k_used"] > 0
    _uncommit(ckpt, 0)
    assert run() == first
    assert spark.read.parquet(os.path.join(state, "sketch_log.parquet")).count() == 1


def test_streaming_quantiles_merge_law_and_replay(spark, tmp_dir):
    """The cumulative estimate after the last trigger satisfies the
    one-shot sketch's rank-bound contract over everything streamed, and
    a real replay of the last batch (KLL weights add) leaves the
    estimates and the total weight unchanged: its log partition is
    overwritten, not appended to."""
    from gluestick_spark.llm.sketch import kll_merge
    from gluestick_spark.streaming.pipeline import (
        stream_from_directory,
        streaming_quantiles,
    )

    rows = [(i, float((i * 37) % 1000)) for i in range(2000)]
    d = spark.createDataFrame(rows, "doc_id long, v double")
    stage, out, state, ckpt = _dirs(tmp_dir)

    def run(cond=None):
        if cond is not None:
            d.where(cond).coalesce(1).write.mode("append").parquet(stage)
        streaming_quantiles(
            stream_from_directory(spark, stage, d.schema),
            "v", out, ckpt, state, probs=(0.25, 0.5, 0.9), k=200,
        ).awaitTermination()
        snaps = spark.read.parquet(out)
        last = snaps.agg(F.max("__batch_id__")).first()[0]
        return {
            r["prob"]: r["value"]
            for r in snaps.where(F.col("__batch_id__") == last).collect()
        }

    run("doc_id < 1000")
    est = run("doc_id >= 1000")
    # rank-bound check against the full data (the L124 contract, ε=5%)
    vals = [v for _, v in rows]
    for p, v in est.items():
        assert _within_rank_bound(vals, p, v), (p, v)

    _uncommit(ckpt, 1)
    assert run() == est
    log = spark.read.parquet(os.path.join(state, "kll_log.parquet")).drop("__batch__")
    assert kll_merge(log, 200).first()["kll"]["n"] == 2000


def test_fp_segment_state_compaction_and_replay(spark, tmp_dir):
    """The fingerprint segment state survives a real replay of its last
    batch unchanged (no duplicate segments), and compaction folds it to
    a set with matching exactly invariant — a later chain link against a
    DROPPED row's fingerprint still collapses."""
    from gluestick_spark.streaming.pipeline import (
        compact_stream_state,
        read_streaming_dedup_output,
        stream_from_directory,
        streaming_fingerprint_dedup,
    )

    base = 0x0123456789ABCDEF
    fp = {
        b"A": base,
        b"B": base ^ 0b111,                 # 3 flips from A
        b"C": base ^ 0b111 ^ (0b11 << 20),  # 2 from B, 5 from A
        b"D": base ^ ((1 << 40) - 1),       # far from everything
        b"E": base ^ 0b111 ^ (0b11 << 20) ^ (1 << 33),  # 1 from C
        b"F": base ^ ((1 << 63) - (1 << 22)),           # far
    }

    def hasher(payload: bytes) -> int:
        v = fp[bytes(payload)]
        return v - (1 << 64) if v >= (1 << 63) else v

    stage, out, state, ckpt = _dirs(tmp_dir)
    schema = "doc_id long, payload binary"

    def run(rows=None):
        if rows is not None:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(stage)
        streaming_fingerprint_dedup(
            stream_from_directory(spark, stage, spark.createDataFrame([], schema).schema),
            "payload", "doc_id", state, out, ckpt,
            max_hamming=3, bands=4, hasher=hasher,
        ).awaitTermination()

    run([(1, b"A"), (2, b"B")])
    run([(3, b"C"), (4, b"D")])
    seg_path = os.path.join(state, "fp_segments.parquet")
    assert spark.read.parquet(seg_path).count() == 16  # 4 judged rows x 4 bands

    _uncommit(ckpt, 1)
    run()
    assert spark.read.parquet(seg_path).count() == 16

    assert compact_stream_state(spark, state)["fp_segments.parquet"] >= 2
    assert _partitions(seg_path) == ["__batch__=-1", "__batch__=1"]
    run([(6, b"E"), (7, b"F")])
    kept = sorted(
        r["doc_id"]
        for r in read_streaming_dedup_output(spark, out).collect()
    )
    assert kept == [1, 4, 7]


# ------------------------------------------------------- compaction -------


def test_compaction_never_folds_newest_batch(spark, tmp_dir):
    """compact_stream_state folds the partitions below the newest batch
    into batch -1 (bin counts summed per bin) and leaves the newest
    partition's files untouched; with nothing below the newest but the
    folded partition it does nothing."""
    from gluestick_spark.streaming.pipeline import (
        _write_batch,
        bin_counts_from_state,
        compact_stream_state,
    )

    path = os.path.join(tmp_dir, "bin_counts.parquet")
    for b in range(4):
        counts = spark.createDataFrame([(0, b + 1), (1, 10)], "bin int, n long")
        _write_batch(counts, path, "batch_id", b)
    want = sorted(map(tuple, bin_counts_from_state(spark, tmp_dir).collect()))
    newest = os.path.join(path, "batch_id=3")
    files = sorted(os.listdir(newest))

    assert set(compact_stream_state(spark, tmp_dir)) == {"bin_counts.parquet"}
    assert _partitions(path) == ["batch_id=-1", "batch_id=3"]
    assert sorted(os.listdir(newest)) == files
    folded = spark.read.parquet(os.path.join(path, "batch_id=-1"))
    assert sorted(map(tuple, folded.collect())) == [(0, 6), (1, 30)]
    assert sorted(map(tuple, bin_counts_from_state(spark, tmp_dir).collect())) == want
    assert compact_stream_state(spark, tmp_dir) == {}


def test_compact_stream_state_bounds_partitions_and_keeps_results(spark, tmp_dir):
    """Per-batch partitions grow the canon state's directory count with
    every batch; compact_stream_state folds them to two, the stream
    resumes on the compacted state, and emitted survivors match an
    uncompacted reference run exactly."""
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
                canon = os.path.join(state, "url_canon.parquet")
                assert len(_partitions(canon)) == b + 1
                res = compact_stream_state(spark, state, target_rows_per_file=10**6)
                assert res["url_canon.parquet"] >= 2
                assert _partitions(canon) == ["__batch__=-1", f"__batch__={b}"]
        return read_streaming_dedup_output(spark, out)

    ref = run(os.path.join(tmp_dir, "ref"))
    got = run(os.path.join(tmp_dir, "cmp"), compact_after=2)
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in ref.collect()
    )


def test_compact_stream_state_bin_counts_additive_after(spark, tmp_dir):
    """Drift bin-count state: the fold sums the older batches per bin,
    so the cumulative histogram is unchanged."""
    from gluestick_spark.streaming.pipeline import (
        bin_counts_from_state,
        compact_stream_state,
        stream_from_directory,
        streaming_bin_counts,
    )

    base = os.path.join(tmp_dir, "e")
    stage = os.path.join(base, "src")
    state, ckpt = os.path.join(base, "state"), os.path.join(base, "ckpt")
    for lo, hi in ((0, 50), (50, 80), (80, 90)):
        d = spark.createDataFrame([(float(i),) for i in range(lo, hi)], "x double")
        d.coalesce(1).write.mode("append").parquet(stage)
        streaming_bin_counts(
            stream_from_directory(spark, stage, d.schema),
            "x", 0.0, 100.0, 10, state, ckpt,
        ).awaitTermination()
    before = sorted(
        (r["bin"], r["n"]) for r in bin_counts_from_state(spark, state).collect()
    )
    res = compact_stream_state(spark, state)
    assert set(res) == {"bin_counts.parquet"}
    assert _partitions(os.path.join(state, "bin_counts.parquet")) == [
        "batch_id=-1", "batch_id=2"
    ]
    after = sorted(
        (r["bin"], r["n"]) for r in bin_counts_from_state(spark, state).collect()
    )
    assert after == before


def test_compact_sketch_log_preserves_estimates(spark, tmp_dir):
    """Compacting a KLL sketch log folds every batch below the newest to
    one row per group: the total weight is unchanged and the estimates
    keep the rank bound (the fold changes the merge order, which moves a
    KLL estimate within its bound), a later batch still lands, and a
    recompaction folds it in. KMV kind is exact (idempotent merge)."""
    from gluestick_spark.llm.sketch import (
        kll_merge,
        kll_quantiles,
        kll_sketch,
        kmv_merge,
        kmv_sketch,
    )
    from gluestick_spark.streaming.pipeline import _write_batch, compact_sketch_log

    d = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], float(i % 500)) for i in range(3000)],
        "doc_id long, g string, v double",
    )
    log_dir = os.path.join(tmp_dir, "kll_log.parquet")

    def log_batch(rest: int, b: int) -> None:
        sketch = kll_sketch(d.where(F.col("doc_id") % 3 == rest), "v", 200, ["g"])
        _write_batch(sketch, log_dir, "__batch__", b)

    for b in range(3):
        log_batch(b, b)

    def log():
        return spark.read.parquet(log_dir).drop("__batch__")

    def estimates():
        return sorted(
            map(tuple, kll_quantiles(
                kll_merge(log(), 200, ["g"]), [0.25, 0.5, 0.9], ["g"]
            ).collect())
        )

    def total_n():
        return sum(r["kll"]["n"] for r in kll_merge(log(), 200, ["g"]).collect())

    vals = {g: [float(i % 500) for i in range(3000) if ["a", "b"][i % 2] == g] for g in "ab"}
    assert all(_within_rank_bound(vals[g], p, v) for g, p, v in estimates())
    # batches 0 and 1 fold to one row per group; batch 2 stays raw
    assert compact_sketch_log(spark, log_dir, "kll", 200, ["g"]) == 4
    assert _partitions(log_dir) == ["__batch__=-1", "__batch__=2"]
    assert all(_within_rank_bound(vals[g], p, v) for g, p, v in estimates())
    assert total_n() == 3000

    log_batch(0, 3)
    assert total_n() == 4000
    assert compact_sketch_log(spark, log_dir, "kll", 200, ["g"]) == 4
    assert _partitions(log_dir) == ["__batch__=-1", "__batch__=3"]
    assert total_n() == 4000

    # kmv kind
    klog = os.path.join(tmp_dir, "kmv_log.parquet")
    for b in range(3):
        s = d.where(F.col("doc_id") % 3 == b).selectExpr("CAST(doc_id AS STRING) AS s")
        _write_batch(kmv_sketch(s, "s", 64), klog, "__batch__", b)
    pre = kmv_merge(spark.read.parquet(klog).drop("__batch__"), 64).first()["kmv"]
    assert compact_sketch_log(spark, klog, "kmv", 64) == 2
    post = kmv_merge(spark.read.parquet(klog).drop("__batch__"), 64).first()["kmv"]
    assert list(pre) == list(post)

    with pytest.raises(ValueError, match="kind"):
        compact_sketch_log(spark, klog, "hll", 64)


def test_compact_sketch_log_excludes_inflight_max_batch(spark, tmp_dir):
    """The newest batch may be the one Spark still replays: compaction
    keeps it raw, so its replay (an overwrite of its own partition with
    the other half of its rows) neither double-counts nor loses weight,
    and a recompaction after a later batch folds it."""
    from gluestick_spark.llm.sketch import kll_merge, kll_sketch
    from gluestick_spark.streaming.pipeline import _write_batch, compact_sketch_log

    d = spark.createDataFrame(
        [(i, float(i % 500 + (1000 if i >= 1500 else 0))) for i in range(3000)],
        "doc_id long, v double",
    )
    log_dir = os.path.join(tmp_dir, "kll_log.parquet")

    def log_batch(rows, b: int) -> None:
        _write_batch(kll_sketch(rows, "v", 200), log_dir, "__batch__", b)

    for b in range(2):
        log_batch(d.where(F.col("doc_id") % 3 == b), b)
    # a torn first attempt of batch 2 wrote only part of its rows
    log_batch(d.where((F.col("doc_id") % 3 == 2) & (F.col("doc_id") < 1500)), 2)

    def total_n():
        log = spark.read.parquet(log_dir).drop("__batch__")
        return kll_merge(log, 200).first()["kll"]["n"]

    assert compact_sketch_log(spark, log_dir, "kll", 200) == 2
    assert _partitions(log_dir) == ["__batch__=-1", "__batch__=2"]
    # the replay of batch 2 overwrites its partition with all its rows
    log_batch(d.where(F.col("doc_id") % 3 == 2), 2)
    assert total_n() == 3000
    log_batch(d.where(F.col("doc_id") % 3 == 0), 3)
    assert compact_sketch_log(spark, log_dir, "kll", 200) == 2
    assert total_n() == 4000


def test_compact_sketch_log_single_batch_is_pure_passthrough(spark, tmp_dir):
    """With exactly one (possibly in-flight) batch in the log there is
    nothing below the newest to fold: compaction leaves the log as it
    is and mints no empty merged row."""
    from gluestick_spark.llm.sketch import kmv_sketch
    from gluestick_spark.streaming.pipeline import _write_batch, compact_sketch_log

    d = spark.createDataFrame([(str(i),) for i in range(100)], "s string")
    log_dir = os.path.join(tmp_dir, "kmv_log.parquet")
    _write_batch(kmv_sketch(d, "s", 64), log_dir, "__batch__", 0)
    assert compact_sketch_log(spark, log_dir, "kmv", 64) == 1
    assert _partitions(log_dir) == ["__batch__=0"]


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


def test_stream_state_reads_like_inference(spark, tmp_dir):
    """Each dedup stream reads its state with the schema of the frame it
    writes; that schema is what an inferring read of the state returns
    for the data columns (the MinHash buckets and docs, the URL canon
    set, the fingerprint segments)."""
    from gluestick_spark.llm.dedup import minhash_band_buckets
    from gluestick_spark.llm.multimodal import fake_phash
    from gluestick_spark.llm.web import url_dedup
    from gluestick_spark.streaming.pipeline import (
        _read_batches,
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
    written = {
        "minhash_buckets.parquet": minhash_band_buckets(batch, "__text__", "__id__").schema,
        "minhash_docs.parquet": batch.schema,
        "url_canon.parquet": canon.schema,
        "fp_segments.parquet": spark.createDataFrame(
            [], "band int, seg long, __h__ long"
        ).schema,
    }
    for name, schema in written.items():
        loc = os.path.join(state, name)
        typed = _read_batches(spark, loc, schema, "__batch__", 1).schema
        assert typed == spark.read.parquet(loc).drop("__batch__").schema, name
