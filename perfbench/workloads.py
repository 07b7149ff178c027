"""The three workloads. Each runs closed-loop from one caller: generate the
seeded inputs, then run a fixed plan of operations, timing each one,
checking every output, and tracing when asked.

The plan is fixed (not "repeat until time is up") so every run executes
the same operations in the same order after JVM start; run-to-run spread
is then machine noise, not a varying mix of cold and warm repetitions.
``--seconds`` scales the number of repeated small operations.

A workload returns :class:`Samples`; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gluestick_spark import (
    Reader,
    clear_normalization_cache,
    drop_redundant,
    exact_dedup,
    explode_json_to_cols,
    map_fields_df,
    materialize_sq_ivf,
    minhash_dedup,
    read_snapshots,
    rename,
    snapshot_records,
    sq_ivf_append,
    sq_ivf_topk_indexed,
    to_export,
    to_singer,
)
from gluestick_spark.llm.cluster import sq_ivf_topk_indexed_batch
from gluestick_spark.llm.spans import line_dedup
from gluestick_spark.llm.text import gopher_quality_flags

from . import checks, gen

# Plan sizes, set for --seconds 20 on 4 cores. A full evaluation's 70 runs
# (4 + 22 per workload) must fit in 3420 s, and ~15 s of every run is
# JVM start, diagnostics and shutdown.
ETL_ROWS = 10_000
ETL_INCREMENTS = 1
CORPUS_DOCS = 2_000
CORPUS_BATCH_DOCS = 150
CORPUS_BATCHES = 1
MINHASH_THRESHOLD = 0.7
VEC_BASE = 6_000
VEC_CLUSTERS = 8
VEC_ITERS = 1
VEC_BATCH = 40
TOPK = 10
NPROBE = 2
PLAN_SECONDS = 20.0

EVENT_MAPPING = {
    "event": "event_id",
    "actor": {"user": "user_id", "kind": "event_type"},
    "amount": "value",
}
EVENT_RENAME = {"event_type": "type", "props.k": "k"}


def _repeats(base: int, seconds: float) -> int:
    return max(1, round(base * seconds / PLAN_SECONDS))


@dataclass
class Samples:
    bulk: list[float] = field(default_factory=list)
    step: list[float] = field(default_factory=list)
    rate: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    ratios: dict = field(default_factory=dict)
    figures: dict = field(default_factory=dict)
    input_checksum: str = ""

    def op(self, problems: list[str]) -> None:
        """Count one operation; it failed if its output check found problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(problems[:3])

    def bump(self, key: str, by: float) -> None:
        self.ratios[key] = self.ratios.get(key, 0) + by


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


@contextlib.contextmanager
def _timed(samples: list[float]):
    t0 = time.perf_counter()
    yield
    samples.append(time.perf_counter() - t0)


# ---------------------------------------------------------------------------
# etl_sync
# ---------------------------------------------------------------------------


def _singer_records(path: str) -> int:
    with open(path) as f:
        return sum(line.startswith('{"type": "RECORD"') for line in f)


def _sync(spark, tr, root: str, sync: dict, state: str, out: str, tag: str):
    """One gluestick-style sync; returns the frame drop_redundant kept (it
    persists it). ``tag`` ("full" or "incr") suffixes span names."""
    s, pk = gen.STREAM, gen.STREAM_PK
    with tr.span("Reader.get", "sources.reader"):
        df = Reader(spark, input_dir=sync["dir"], root_dir=root).get(s, catalog_types=True)
    with tr.span("explode_json_to_cols", "operators.restructure"):
        df = explode_json_to_cols(df, "props")
    with tr.span("map_fields_df+rename", "operators.mapping"):
        df = map_fields_df(df, EVENT_MAPPING)
        df = rename(df, {c: EVENT_RENAME.get(c, c) for c in df.columns})
    with tr.span(f"drop_redundant@{tag}", "operators.snapshot"):
        kept = drop_redundant(spark, df, s, state, pk=pk)
    with tr.span(f"snapshot_records@{tag}", "operators.snapshot"):
        snapshot_records(spark, kept, s, state, pk=pk)
    with tr.span(f"to_singer@{tag}", "sinks.singer"):
        to_singer(kept, s, out, keys=pk)
    with tr.span(f"to_export@{tag}", "sinks.export"):
        to_export(kept, s, out, export_format="parquet")
    return kept


def _check_sync(spark, sync: dict, kept, state: str, out: str) -> tuple[list[str], int]:
    """Problems found, and the rows drop_redundant kept."""
    s = gen.STREAM
    snap = read_snapshots(spark, s, state)
    pks = None if sync["kept_pks"] is None else [r[0] for r in kept.select(*gen.STREAM_PK).collect()]
    changed = snap.where(F.col("event_id").isin(list(sync["changed"]))).select("event_id", "value")
    got = {
        "kept_rows": kept.count() if pks is None else len(pks),
        "kept_pks": pks,
        "singer_records": _singer_records(os.path.join(out, "data.singer")),
        "snapshot_rows": snap.count(),
        "snapshot_values": {int(r[0]): float(r[1]) for r in changed.collect()} if sync["changed"] else {},
    }
    bad = checks.check_sync(sync, got)
    if pq.ParquetDataset(os.path.join(out, f"{s}.parquet")).read(columns=[]).num_rows != got["kept_rows"]:
        bad.append("export row count differs from the kept rows")
    return bad, got["kept_rows"]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names)


def etl_sync(spark, tr, work: str, seed: int, seconds: float) -> Samples:
    """One full sync on empty state, then incremental syncs against the
    state it built."""
    sm = Samples()
    root = os.path.join(work, "input")
    syncs = gen.gen_etl(root, seed, ETL_ROWS, _repeats(ETL_INCREMENTS, seconds))
    sm.input_checksum = gen.checksum(root)
    # the explode sample verdict is cached by plan hash: start from the
    # state a fresh process has
    clear_normalization_cache()
    state = _fresh(os.path.join(work, "state"))
    with tr.span("etl_sync", "bench"):
        for i, sync in enumerate(syncs):
            out = _fresh(os.path.join(work, "out", f"sync-{i}"))
            with _timed(sm.step if i else sm.bulk):
                kept = _sync(spark, tr, root, sync, state, out, "incr" if i else "full")
            with tr.span("check", "bench"):
                problems, rows_out = _check_sync(spark, sync, kept, state, out)
            sm.op(problems)
            sm.bump("singer_rows", rows_out)
            if i:
                sm.bump("rows_in", sync["rows"])
                sm.bump("rows_out", rows_out)
                sm.bump("inc_bytes", _dir_bytes(sync["dir"]))
            spark.catalog.clearCache()
    sm.rate.append(ETL_ROWS / sm.bulk[0])
    sm.figures = {
        "sync_full_rows_per_s": (sm.rate[0], "1/s"),
        "sync_incr_s": (statistics.median(sm.step), "s"),
    }
    return sm


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------


def _curate(spark, tr, path: str, out: str) -> None:
    docs = spark.read.parquet(path)
    with tr.span("exact_dedup", "llm.dedup"):
        d = exact_dedup(docs, "text", "doc_id")
    with tr.span("minhash_dedup", "llm.dedup"):
        d = minhash_dedup(d, "text", "doc_id", threshold=MINHASH_THRESHOLD)
    with tr.span("gopher_quality_flags", "llm.text"):
        d = gopher_quality_flags(d, "text").where(F.col("gopher_pass")).select("doc_id", "text")
    with tr.span("line_dedup", "llm.spans"):
        d = line_dedup(d, id_col="doc_id", text_col="text")
    with tr.span("to_export", "sinks.export"):
        to_export(d, "curated", out, export_format="parquet")


def _check_curation(spark, path: str, out: str, truth: dict) -> list[str]:
    exact_kept = exact_dedup(spark.read.parquet(path), "text", "doc_id").count()
    t = pq.read_table(os.path.join(out, "curated.parquet"), columns=["doc_id", "text_clean", "n_removed"])
    exported = {
        int(i): (txt, int(r))
        for i, txt, r in zip(t["doc_id"].to_pylist(), t["text_clean"].to_pylist(), t["n_removed"].to_pylist())
    }
    return checks.check_curation(truth, exact_kept, exported, MINHASH_THRESHOLD)


def corpus_curation(spark, tr, work: str, seed: int, seconds: float) -> Samples:
    """The whole corpus, then small batches (one at ``--seconds 20``),
    each curated by the same exact-dedup, MinHash, Gopher, line-dedup,
    export chain. The corpus is the first call in the process, as for a
    curation job run once: it pays the chain's one-off code generation,
    JIT and Python worker start. The batches run on warm code."""
    sm = Samples()
    root = os.path.join(work, "input")

    def corpus(name: str, n_docs: int, sub_seed: int, id_offset: int) -> tuple[str, dict]:
        p = os.path.join(root, f"{name}.parquet")
        return p, gen.gen_corpus(p, sub_seed, n_docs, id_offset=id_offset)

    full = corpus("documents", CORPUS_DOCS, seed, 0)
    batches = [corpus(f"batch-{b}", CORPUS_BATCH_DOCS, seed * 1000 + b + 1, 10**7 * (b + 1))
               for b in range(_repeats(CORPUS_BATCHES, seconds))]
    sm.input_checksum = gen.checksum(root)
    plan = [(sm.bulk, *full)] + [(sm.step, *b) for b in batches]
    with tr.span("corpus_curation", "bench"):
        for samples, path, tru in plan:
            out = _fresh(os.path.join(work, "out"))
            with _timed(samples):
                _curate(spark, tr, path, out)
            with tr.span("check", "bench"):
                sm.op(_check_curation(spark, path, out, tru))
    sm.rate.append(full[1]["n_docs"] / sm.bulk[0])
    sm.figures = {"curation_docs_per_s": (sm.rate[0], "1/s")}
    return sm


# ---------------------------------------------------------------------------
# vector_serving
# ---------------------------------------------------------------------------


def vector_serving(spark, tr, work: str, seed: int, seconds: float) -> Samples:
    """Build and grow an IVF x SQ index, then serve single and batched
    top-k queries from it. The first single query and the first batch pay
    one-off code generation for their plans; the medians are taken over
    enough calls that this one slow call does not move them."""
    sm = Samples()
    root = os.path.join(work, "input")
    truth = gen.gen_vectors(
        root, seed, VEC_BASE, n_single=_repeats(8, seconds),
        batch_size=VEC_BATCH, n_batches=_repeats(5, seconds),
    )
    sm.input_checksum = gen.checksum(root)
    queries = spark.read.parquet(os.path.join(root, "queries.parquet")).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    index = os.path.join(work, "index")
    with tr.span("vector_serving", "bench"):
        with _timed(sm.bulk):
            with tr.span("materialize_sq_ivf", "llm.cluster.build"):
                materialize_sq_ivf(
                    spark.read.parquet(os.path.join(root, "base.parquet")),
                    "embedding", "vec_id", index, n_clusters=VEC_CLUSTERS, iters=VEC_ITERS,
                )
            with tr.span("sq_ivf_append", "llm.cluster.build"):
                sq_ivf_append(spark.read.parquet(os.path.join(root, "append.parquet")), "embedding", "vec_id", index)

        single = {}
        for qid in truth["single"]:
            with _timed(sm.step), tr.span("sq_ivf_topk_indexed", "llm.cluster.single"):
                rows = sq_ivf_topk_indexed(spark, index, truth["single_vecs"][qid], k=TOPK, nprobe=NPROBE).collect()
            single[qid] = [(int(r["vec_id"]), float(r["score"])) for r in rows]
            sm.op(checks.check_topk(qid, single[qid], TOPK))

        for b, ids in enumerate(truth["batches"]):
            t0 = time.perf_counter()
            with tr.span("sq_ivf_topk_indexed_batch", "llm.cluster.batch"):
                rows = sq_ivf_topk_indexed_batch(
                    spark, index, queries.where(F.col("qid").isin(ids)), "embedding", "qid",
                    k=TOPK, nprobe=NPROBE,
                ).collect()
            sm.rate.append(len(ids) / (time.perf_counter() - t0))
            got: dict[int, list] = {}
            for r in rows:
                got.setdefault(int(r["qid"]), []).append((int(r["vec_id"]), float(r["score"])))
            problems = [p for q in ids for p in checks.check_topk(q, got.get(q, []), TOPK)]
            if b == 0:
                problems += [p for q in single for p in checks.check_agree(q, single[q], got.get(q, []))]
            sm.op(problems)
    sm.figures = {
        "index_build_s": (sm.bulk[0], "s"),
        "topk_single_s": (statistics.median(sm.step), "s"),
        "topk_batch_qps": (statistics.median(sm.rate), "1/s"),
    }
    return sm


WORKLOADS = {
    "etl_sync": etl_sync,
    "corpus_curation": corpus_curation,
    "vector_serving": vector_serving,
}
