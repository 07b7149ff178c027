"""Round-12 contracts: the four ADVICE-r11 fixes, then the round's new
operators (each also has a driver-oracle row where SQL-expressible)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ------------------- ADVICE 1 (medium): rebuild over torn append ---------


def _halves(spark):
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    mid = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).first()[0]
    return emb.where(F.col("vec_id") <= mid), emb.where(F.col("vec_id") > mid)


@pytest.mark.parametrize("kind", ["sq", "pq"])
def test_rebuild_over_torn_append_then_append(spark, tmp_dir, kind):
    """ADVICE r11 (medium): rebuilding over a TORN append must clear the
    stale _APPEND_INPROGRESS sidecar — otherwise its manifest names only
    pre-rebuild part files, and the NEXT append's rollback deletes every
    rebuilt cell file (the index silently serves only the new batch)."""
    import json

    from gluestick_spark.llm.index_commit import SIDECAR, _list_cell_files

    if kind == "sq":
        from gluestick_spark.llm.cluster import (
            materialize_sq_ivf as build,
            sq_ivf_append as append,
            sq_ivf_topk_indexed as probe,
        )

        kw = dict(n_clusters=4)
    else:
        from gluestick_spark.llm.pq import (
            materialize_pq_ivf as build,
            pq_ivf_append as append,
            pq_ivf_topk_indexed as probe,
        )

        kw = dict(m=4, n_codes=8, n_clusters=4, iters=1)

    h1, h2 = _halves(spark)
    q = list(h2.first()["embedding"])
    path = os.path.join(tmp_dir, f"idx_{kind}")

    build(h1, "embedding", "vec_id", path, **kw)
    pre_files = _list_cell_files(os.path.join(path, "cells"))
    append(h2, "embedding", "vec_id", path)
    want = [r["vec_id"] for r in probe(spark, path, q, k=5, nprobe=4).collect()]

    # tear the append: sidecar manifests the pre-append listing
    with open(os.path.join(path, SIDECAR), "w") as f:
        json.dump({"files": pre_files}, f)

    # operator recovers by REBUILDING over the torn index (the recovery
    # the _load_*_router error message suggests) ...
    build(h1, "embedding", "vec_id", path, **kw)
    assert not os.path.isfile(os.path.join(path, SIDECAR)), (
        "rebuild must clear the stale sidecar"
    )
    # ... then appends the new batch. Pre-fix, this rollback deleted
    # every rebuilt cell file (manifest named only pre-rebuild parts).
    append(h2, "embedding", "vec_id", path)
    got = [r["vec_id"] for r in probe(spark, path, q, k=5, nprobe=4).collect()]
    assert got == want
    # and the index serves BOTH halves, not just the appended batch
    n1 = h1.count()
    files = _list_cell_files(os.path.join(path, "cells"))
    assert files, "rebuilt cells must survive the post-rebuild append"
    total = spark.read.option("basePath", os.path.join(path, "cells")).parquet(
        os.path.join(path, "cells")
    ).count()
    assert total == n1 + h2.count()


# ------------- ADVICE 2 / VERDICT 2: sample_exact_k duplicate keys -------


def test_sample_exact_k_duplicate_keys_raise(spark):
    """Non-unique (or null) keys without a tiebreak are a hard error —
    the kept subset at the k boundary would be partition-order
    dependent, breaking the replayability promise. The check is LAZY
    (ADVICE r12): plan construction is free; the raise fires at
    materialization via the plan-embedded raise_error guard."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from gluestick_spark.llm.sampling import sample_exact_k

    # 30 distinct keys, key 7 duplicated 10× — a dup group will straddle
    # most k boundaries
    rows = [(i, i * 100) for i in range(30)] + [(7, 1000 + j) for j in range(10)]
    d = spark.createDataFrame(rows, "k long, payload long")
    plan = sample_exact_k(d, "k", 20)  # building the plan must NOT scan
    with pytest.raises(SparkRuntimeException, match="not unique"):
        plan.collect()
    # null keys also violate the contract (count_distinct drops nulls)
    dn = spark.createDataFrame([(1, 1), (None, 2)], "k long, payload long")
    with pytest.raises(SparkRuntimeException, match="not unique"):
        sample_exact_k(dn, "k", 1).collect()


def test_sample_exact_k_tiebreak_deterministic_across_partitionings(spark):
    """With tiebreak_col, a duplicate-key group straddling the k
    boundary yields the SAME rows under different partitionings."""
    from gluestick_spark.llm.sampling import sample_exact_k

    rows = [(i, i * 100) for i in range(30)] + [(7, 1000 + j) for j in range(10)]
    d = spark.createDataFrame(rows, "k long, payload long")

    def draw(df, k):
        return sorted(
            (r["k"], r["payload"])
            for r in sample_exact_k(df, "k", k, tiebreak_col="payload").collect()
        )

    # sweep k so that some boundary falls INSIDE the dup group
    for k in (5, 10, 15, 20, 25, 35):
        a = draw(d.repartition(1), k)
        b = draw(d.repartition(13, "payload"), k)
        c = draw(d.coalesce(3), k)
        assert a == b == c, k
        assert len(a) == min(k, 40)

    # unique keys: tiebreak draw ≡ default draw (tiebreak only breaks ties)
    u = spark.createDataFrame([(i, -i) for i in range(50)], "k long, payload long")
    got_t = sorted(r["k"] for r in sample_exact_k(u, "k", 9, tiebreak_col="payload").collect())
    got_d = sorted(r["k"] for r in sample_exact_k(u, "k", 9).collect())
    assert got_t == got_d


# --------------------- ADVICE 3: bench _previous_round round parsing ------


def test_previous_round_numeric_sort_and_unpadded_roots(tmp_dir, monkeypatch):
    """ADVICE r11 (low): sidecars must pair with UNPADDED driver roots
    (BENCH_r9.json) and 'newest' must be the numerically largest round —
    lexicographic reverse-sort picks r99 over r100."""
    import json as _json
    import sys

    sys.path.insert(0, "/root/repo")
    import bench

    monkeypatch.setattr(bench, "__file__", os.path.join(tmp_dir, "bench.py"))
    bdir = os.path.join(tmp_dir, ".bench")
    os.makedirs(bdir)

    def put(rel, rec):
        with open(os.path.join(tmp_dir, rel), "w") as f:
            _json.dump(rec, f)

    # round 9: UNPADDED root, padded sidecar (the harness-version split)
    put("BENCH_r9.json", {"sf": 0.1})
    put(
        ".bench/BENCH_r09_full_sf0.1.json",
        {"sf": 0.1, "queries": {"q": 9.0}, "calibration_sec": 1.0},
    )
    qs, tag, _ = bench._previous_round(0.1)
    assert qs == {"q": 9.0} and "BENCH_r09_full" in tag

    # rounds 100 vs 99: numeric order must pick 100
    put("BENCH_r99.json", {"sf": 0.1})
    put("BENCH_r100.json", {"sf": 0.1})
    put(".bench/BENCH_r99_full_sf0.1.json", {"sf": 0.1, "queries": {"q": 99.0}})
    put(".bench/BENCH_r100_full_sf0.1.json", {"sf": 0.1, "queries": {"q": 100.0}})
    qs, tag, _ = bench._previous_round(0.1)
    assert qs == {"q": 100.0} and "BENCH_r100_full" in tag


def test_previous_round_root_artifacts_by_round_and_cores(tmp_dir, monkeypatch):
    """Root artifacts: low-core roots (BENCH_r15_c8.json) sort by their
    round, unparseable names are skipped, and the current round's own
    roots are never the basis."""
    import json as _json
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    monkeypatch.setattr(bench, "__file__", os.path.join(tmp_dir, "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "16")

    def put(rel, q, cpus=None):
        rec = {"sf": 0.1, "queries": {"q": q}}
        if cpus:
            rec["cpus"] = cpus
        with open(os.path.join(tmp_dir, rel), "w") as f:
            _json.dump(rec, f)

    put("BENCH_r14.json", 14.0)
    put("BENCH_r9_c8.json", 9.8, cpus=8)
    put("BENCH_r15_c8.json", 15.8, cpus=8)
    put("BENCH_r16_c8.json", 16.8, cpus=8)
    put("BENCH_r16.json", 16.0)
    put("BENCH_rX_c8.json", 99.0, cpus=8)
    assert bench._previous_round(0.1, cpus=8)[:2] == ({"q": 15.8}, "BENCH_r15_c8.json")
    assert bench._previous_round(0.1, cpus=32)[:2] == ({"q": 14.0}, "BENCH_r14.json")


# -------------------- VERDICT 3: injectable filesystem seam ---------------


def test_append_manifest_protocol_over_memory_fs():
    """The full _APPEND_INPROGRESS bracket — begin / tear / refuse /
    rollback / re-append / commit — runs over an injected in-memory FS:
    proof the protocol touches state files only through the seam."""
    import json

    from gluestick_spark.fsio import MemoryFS
    from gluestick_spark.llm.index_commit import (
        SIDECAR,
        _list_cell_files,
        begin_append,
        commit_append,
        require_committed,
        rollback_torn_append,
    )

    fs = MemoryFS()
    idx = "/idx"
    fs.makedirs(idx + "/cells/cid=0")
    fs.makedirs(idx + "/cells/cid=1")
    fs.write_text(idx + "/cells/cid=0/part-a.parquet", "A")
    fs.write_text(idx + "/cells/cid=1/part-b.parquet", "B")
    require_committed(idx, "mem", fs=fs)  # clean index: no raise

    # clean bracket
    begin_append(idx, fs=fs)
    manifest = json.loads(fs.read_text(idx + "/" + SIDECAR))
    assert sorted(manifest["files"]) == ["cid=0/part-a.parquet", "cid=1/part-b.parquet"]
    fs.write_text(idx + "/cells/cid=0/part-c.parquet", "C")
    commit_append(idx, fs=fs)
    require_committed(idx, "mem", fs=fs)

    # torn bracket: batch files + a NEW partition dir land, no commit
    begin_append(idx, fs=fs)
    fs.makedirs(idx + "/cells/cid=2")
    fs.write_text(idx + "/cells/cid=2/part-d.parquet", "D")
    fs.write_text(idx + "/cells/cid=0/part-e.parquet", "E")
    with pytest.raises(ValueError, match="in-progress or torn"):
        require_committed(idx, "mem", fs=fs)

    assert rollback_torn_append(idx, fs=fs) is True
    assert _list_cell_files(idx + "/cells", fs=fs) == [
        "cid=0/part-a.parquet",
        "cid=0/part-c.parquet",
        "cid=1/part-b.parquet",
    ]
    assert not fs.isdir(idx + "/cells/cid=2")  # torn partition dir pruned
    assert not fs.isfile(idx + "/" + SIDECAR)
    assert rollback_torn_append(idx, fs=fs) is False  # idempotent no-op
    require_committed(idx, "mem", fs=fs)


def test_versioned_pointer_protocol_over_memory_fs(spark, tmp_dir):
    """The versioned-table publication metadata (claim, marker, log,
    pointer flip, vacuum) runs over MemoryFS. The parquet payload is a
    data-plane write and stays on the local disk — the seam owns only
    the control files, so the protocol functions take fs= while Spark
    writes to the real path."""
    from gluestick_spark.fsio import MemoryFS
    from gluestick_spark.operators.versioned import (
        _record_commit,
        latest_version,
        list_versions,
        published_versions,
        vacuum_versions,
    )

    fs = MemoryFS()
    path = "/tbl"
    fs.makedirs(path)
    # simulate two published versions + one torn claim via the seam
    for v in (1, 2):
        fs.mkdir(f"{path}/v={v}")
        fs.write_text(f"{path}/v={v}/part-0.parquet", "x")
        _record_commit(path, v, fs=fs)
        fs.write_text_atomic(f"{path}/_LATEST", str(v))
    fs.mkdir(f"{path}/v=3")  # torn claim: no marker, no pointer
    fs.write_text(f"{path}/v=3/part-0.parquet", "x")

    assert list_versions(path, fs=fs) == [1, 2, 3]
    assert published_versions(path, fs=fs) == [1, 2]
    assert latest_version(path, fs=fs) == 2
    assert fs.read_text(f"{path}/_COMMITS") == "1\n2\n"

    # vacuum: keep=1 deletes v=1 (published, old); v=3 is NEWER than the
    # pointer so it is never touched regardless of age
    deleted = vacuum_versions(path, keep=1, fs=fs)
    assert deleted == [1]
    assert not fs.isdir(f"{path}/v=1")
    assert fs.isdir(f"{path}/v=3")
    assert published_versions(path, fs=fs) == [2]


# ------------------- VERDICT task 4: bloom pre-filter --------------------


def test_bloom_no_false_negative(spark):
    """Every member of the build set must survive the pre-filter (bloom
    FNs are impossible by construction; FPs are harmless — they only
    forward to the exact join). Checked over 5k adversarial longs
    including negatives, 0, and near-collisions."""
    from gluestick_spark.llm.bloom import bloom_prefilter, bloom_words

    members = spark.range(5000).select(
        (F.xxhash64(F.col("id").cast("string")) * F.when(F.col("id") % 3 == 0, -1).otherwise(1)).alias("h")
    )
    words = bloom_words(members, "h", m_bits=1 << 16, k=3)
    survived = bloom_prefilter(members, "h", words, m_bits=1 << 16, k=3)
    assert survived.count() == members.count()


def test_bloom_decontam_identity_and_volume(spark):
    """(a) contamination/novelty/overlap results are bit-identical with
    the bloom on and off; (b) the shuffled-gram-volume gate: with a
    reference DISJOINT from the corpus, the bloom drops ≥90% of corpus
    gram rows before the exact join (the 100 TB shuffle saving)."""
    from gluestick_spark.llm.bloom import bloom_prefilter, bloom_words
    from gluestick_spark.llm.decontam import (
        contamination_pairs,
        corpus_gram_overlap,
        ngram_hashes_expr,
        novelty_scores,
    )

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    bench = d.where(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("bid"), F.col("text").alias("q")
    )
    # bloom_m_bits now defaults to 'auto' (off for a broadcastable
    # reference) — force ON so this stays an on-vs-off identity test
    on = contamination_pairs(
        d, bench, "text", "doc_id", "q", "bid", n=8, bloom_m_bits=1 << 23
    )
    off = contamination_pairs(
        d, bench, "text", "doc_id", "q", "bid", n=8, bloom_m_bits=None
    )
    assert sorted(map(tuple, on.collect())) == sorted(map(tuple, off.collect()))

    ref = d.where(F.col("source") == "src0")
    raw = d.where(F.col("source") != "src0")
    n_on = novelty_scores(raw, ref, "text", "doc_id", n=3, bloom_m_bits=1 << 23)
    n_off = novelty_scores(raw, ref, "text", "doc_id", n=3, bloom_m_bits=None)
    assert sorted(map(tuple, n_on.collect())) == sorted(map(tuple, n_off.collect()))

    a, b = d.where(F.col("source") == "src1"), d.where(F.col("source") == "src2")
    o_on = corpus_gram_overlap(a, b, "text", n=3, bloom_m_bits=1 << 23).collect()
    o_off = corpus_gram_overlap(a, b, "text", n=3, bloom_m_bits=None).collect()
    assert [tuple(r) for r in o_on] == [tuple(r) for r in o_off]

    # volume gate: disjoint reference (grams of REVERSED upper-cased ids
    # — zero overlap with real text grams); the bloom must strip ≥90%
    # of the corpus gram stream before the join.
    fake_ref = spark.range(200).select(
        F.concat_ws(
            " ", *[F.concat(F.lit(f"zq{i}x"), F.col("id")) for i in range(12)]
        ).alias("text")
    )
    ref_grams = fake_ref.select(
        F.explode(ngram_hashes_expr(F.col("text"), 3)).alias("__g__")
    ).distinct()
    corpus_grams = d.select(
        F.explode(ngram_hashes_expr(F.col("text"), 3)).alias("__g__")
    )
    words = bloom_words(ref_grams, "__g__", 1 << 23, 3)
    total = corpus_grams.count()
    surviving = bloom_prefilter(corpus_grams, "__g__", words, 1 << 23, 3).count()
    assert surviving <= total * 0.10, (surviving, total)


# ------------------- VERDICT task 6: KLL quantile sketch -----------------


def _rank_err(xs_sorted, v, p):
    import bisect
    import math

    n = len(xs_sorted)
    rlo = bisect.bisect_left(xs_sorted, v)
    rhi = bisect.bisect_right(xs_sorted, v)
    t = max(1, math.ceil(p * n))
    if rlo + 1 <= t <= rhi:
        return 0.0
    return min(abs(t - (rlo + 1)), abs(t - rhi)) / n


_PROBS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


@pytest.mark.parametrize(
    "dist",
    ["uniform", "zipf", "constant", "sorted", "bimodal"],
)
def test_kll_error_bound_battery(spark, dist):
    """Rank error of the deterministic KLL at k=200 stays under 1% on
    20k values across distribution shapes (theory: ~2/k); weight is
    conserved EXACTLY (Σ items·2^level == n)."""
    import random

    from gluestick_spark.llm.sketch import kll_quantiles, kll_sketch

    random.seed(42)
    n = 20000
    if dist == "uniform":
        vals = [random.random() for _ in range(n)]
    elif dist == "zipf":
        vals = [1.0 / (1 + random.random() * i) for i in range(n)]
    elif dist == "constant":
        vals = [3.25] * n
    elif dist == "sorted":
        vals = [float(i) for i in range(n)]
    else:
        vals = [random.gauss(0, 1) if i % 2 else random.gauss(50, 2) for i in range(n)]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(8)
    sk = kll_sketch(df, "x", k=200)
    (row,) = sk.collect()
    n_s, levels, _ = row["kll"]
    assert n_s == n
    assert sum(len(lv) * (1 << i) for i, lv in enumerate(levels)) == n
    est = {r["prob"]: r["value"] for r in kll_quantiles(sk, _PROBS).collect()}
    xs = sorted(vals)
    for p in _PROBS:
        assert _rank_err(xs, est[p], p) <= 0.01, (dist, p, est[p])


def test_kll_merge_law_and_determinism(spark):
    """kll_merge(sketch(A) ∪ sketch(B)) conserves n exactly and stays
    within 2× the single-pass error band; sketching is deterministic
    for a fixed partitioning (identical bytes on re-run)."""
    import random

    from gluestick_spark.llm.sketch import kll_merge, kll_quantiles, kll_sketch

    random.seed(9)
    data = [(i % 3, random.expovariate(1.0)) for i in range(30000)]
    df = spark.createDataFrame(data, "g int, x double").repartition(8)
    full = kll_sketch(df, "x", k=200, group_cols=["g"])
    parts = kll_sketch(df.where("x < 1.0"), "x", 200, ["g"]).unionByName(
        kll_sketch(df.where("x >= 1.0"), "x", 200, ["g"])
    )
    merged = kll_merge(parts, 200, ["g"])
    n_full = {r["g"]: r["kll"]["n"] for r in full.collect()}
    n_merged = {r["g"]: r["kll"]["n"] for r in merged.collect()}
    assert n_full == n_merged
    import pandas as pd

    pdf = pd.DataFrame(data, columns=["g", "x"])
    est = {
        (r["g"], r["prob"]): r["value"]
        for r in kll_quantiles(merged, _PROBS, ["g"]).collect()
    }
    for g in range(3):
        xs = sorted(pdf[pdf.g == g].x)
        for p in _PROBS:
            assert _rank_err(xs, est[(g, p)], p) <= 0.02, (g, p)

    again = {r["g"]: tuple(r["kll"]) for r in kll_sketch(df, "x", 200, ["g"]).collect()}
    first = {r["g"]: tuple(r["kll"]) for r in full.collect()}
    assert {g: (n, str(l), str(p)) for g, (n, l, p) in first.items()} == {
        g: (n, str(l), str(p)) for g, (n, l, p) in again.items()
    }


def test_kll_nulls_and_empty(spark):
    """NULLs don't count (percentile semantics); an all-null group
    sketches n=0 and estimates NULL."""
    from gluestick_spark.llm.sketch import kll_quantiles, kll_sketch

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 2.0), ("b", None)],
        "g string, x double",
    )
    sk = kll_sketch(df, "x", k=8, group_cols=["g"])
    by_g = {r["g"]: r["kll"] for r in sk.collect()}
    assert by_g["a"]["n"] == 2 and by_g["b"]["n"] == 0
    est = {
        (r["g"], r["prob"]): r["value"]
        for r in kll_quantiles(sk, [0.5], ["g"]).collect()
    }
    assert est[("a", 0.5)] == 1.0 and est[("b", 0.5)] is None


# ------------------- VERDICT task 8: streaming novelty -------------------


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
    materialize_gram_state(d.limit(20), state, "text", n=3, buckets=4)
    with pytest.raises(ValueError, match="geometry mismatch"):
        materialize_gram_state(d, state, "text", n=5, buckets=4, mode="append")
    # a crash between meta removal and rewrite = torn; rebuild heals
    os.remove(os.path.join(state, "_GRAM_META.json"))
    materialize_gram_state(d.limit(20), state, "text", n=3, buckets=4)
    assert os.path.isfile(os.path.join(state, "_GRAM_META.json"))


def test_gram_state_bucketed_zero_exchange(spark, tmp_dir):
    """The bucketed gram-state side of the novelty join must scan with
    ZERO Exchange (the L107 state-table contract): only the (small,
    bloom-filtered) batch side repartitions."""
    from gluestick_spark.llm.decontam import novelty_scores_against
    from gluestick_spark.streaming.pipeline import (
        _read_gram_state_table,
        materialize_gram_state,
    )

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    state = os.path.join(tmp_dir, "state")
    materialize_gram_state(d.where("doc_id % 2 = 0"), state, "text", n=3, buckets=4)
    ref = _read_gram_state_table(spark, state, 4)
    words = spark.read.parquet(os.path.join(state, "bloom_words.parquet"))
    # force the at-scale regime: a reference gram set too big to
    # broadcast (at sf0.001 Spark would broadcast it and the bucketing
    # never comes into play — exactly what does NOT happen at 100 TB)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = novelty_scores_against(
            d.where("doc_id % 2 = 1"), ref, "text", "doc_id",
            n=3, bloom_words_df=words,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    lines = plan.splitlines()
    # the bucketed state scan must exist and be served bucketed ...
    scan_idx = [
        i for i, ln in enumerate(lines)
        if "gram_state_" in ln and "Scan" in ln and "Bucketed: true" in ln
    ]
    assert scan_idx, plan
    # ... and reach its join without an Exchange: walk up the tree from
    # the scan to the nearest Join node — no Exchange may sit between
    def _depth(ln):
        return len(ln) - len(ln.lstrip(" +-:"))

    i = scan_idx[0]
    d0 = _depth(lines[i])
    for j in range(i - 1, -1, -1):
        if _depth(lines[j]) >= d0:
            continue
        assert "Exchange" not in lines[j], plan
        d0 = _depth(lines[j])
        if "Join" in lines[j]:
            break


def test_table_stats_quantile_attachment(spark):
    """table_stats(quantile_cols=) attaches KLL quantile estimates for
    numeric columns (NULL elsewhere) without touching the default
    schema; estimates are within the sketch's rank band of exact."""
    from gluestick_spark.operators.profile import table_stats

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    base = table_stats(d, ["doc_id", "lang", "n_chars"])
    assert base.columns == ["column", "n", "n_null", "n_distinct_est"]
    q = table_stats(
        d, ["doc_id", "lang", "n_chars"], quantile_cols=["n_chars"]
    )
    rows = {r["column"]: r for r in q.collect()}
    assert rows["lang"]["quantiles"] is None
    got = {e["prob"]: e["value"] for e in rows["n_chars"]["quantiles"]}
    xs = sorted(r[0] for r in d.select("n_chars").collect())
    for p, v in got.items():
        assert _rank_err(xs, v, p) <= 0.02, (p, v)
    with pytest.raises(ValueError, match="quantile_cols not in cols"):
        table_stats(d, ["doc_id"], quantile_cols=["n_chars"])


def test_corpus_jaccard_kmv_estimator(spark):
    """KMV corpus Jaccard: exact when the union fits in k; within the
    ~1/√k band otherwise; empty inputs give (0, 0, NULL); estimate is
    invariant to partitioning (sketches are deterministic)."""
    from gluestick_spark.llm.decontam import corpus_gram_overlap, corpus_jaccard_kmv

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    a = d.where(F.col("source").isin("src1", "src2"))
    b = d.where(F.col("source").isin("src0", "src1"))
    exact = corpus_gram_overlap(a, b, "text", n=3).first()["jaccard_ppm"]
    big = corpus_jaccard_kmv(a, b, "text", n=3, k=1_000_000).first()
    assert big["jaccard_est_ppm"] == exact  # unsaturated → exact
    est = corpus_jaccard_kmv(a, b, "text", n=3, k=256).first()
    assert abs(est["jaccard_est_ppm"] - exact) <= 1_000_000 * 3.0 / (256 ** 0.5)
    est2 = corpus_jaccard_kmv(
        a.repartition(7), b.repartition(3), "text", n=3, k=256
    ).first()
    assert tuple(est2) == tuple(est)
    empty = corpus_jaccard_kmv(a.limit(0), b.limit(0), "text", n=3, k=64).first()
    assert tuple(empty) == (0, 0, None)


def test_streaming_corpus_drift_replay_idempotent(spark, tmp_dir):
    """Replay safety is algebraic: merging a duplicate batch sketch into
    the log changes nothing (KMV merge idempotence), so a replayed batch
    emits a byte-identical row. Torn reference sketch (no meta) raises."""
    import pyspark.sql.functions as SF

    from gluestick_spark.llm.sketch import kmv_merge
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
    q = streaming_corpus_drift(
        stream_from_directory(spark, stage, a.schema),
        ref_dir, "text", out, ckpt, state,
    )
    q.awaitTermination()
    first = spark.read.parquet(out).distinct().collect()
    # simulate an at-least-once replay: duplicate the batch sketch log
    # and re-merge — the cumulative sketch must be unchanged
    log = os.path.join(state, "sketch_log.parquet")
    dup = spark.read.parquet(log)
    merged_once = kmv_merge(dup, 256).first()["kmv"]
    merged_dup = kmv_merge(dup.unionByName(dup), 256).first()["kmv"]
    assert merged_once == merged_dup
    assert len(first) == 1 and first[0]["k_used"] > 0


def test_phash_near_dups_injected_hasher_and_guarantee(spark):
    """Hamming-LSH recall is pigeonhole-exact for hamming < bands: with
    an injected hasher producing controlled bit flips, every qualifying
    pair is found with its exact distance; parameter guards raise."""
    from gluestick_spark.llm.multimodal import phash_near_dups

    def near_hasher(b: bytes) -> int:
        import hashlib as h

        base = int.from_bytes(
            h.sha256(b[:4]).digest()[:8], "big", signed=True
        )
        for i in range(b[-1] % 4):  # 0..3 bit flips by payload tail
            base ^= 1 << (i * 7)
        return base

    p = spark.createDataFrame(
        [(i, bytes([1, 2, 3, 4, i % 4])) for i in range(12)],
        "doc_id long, payload binary",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dups(
            p, "payload", "doc_id", max_hamming=2, bands=4, hasher=near_hasher
        ).collect()
    }
    # flips f_a vs f_b differ in |f_a - f_b| bits (nested flip sets)
    for a in range(12):
        for b in range(a + 1, 12):
            d = abs(a % 4 - b % 4)
            if d <= 2:
                assert got[(a, b)] == d, (a, b, d, got.get((a, b)))
            else:
                assert (a, b) not in got
    with pytest.raises(ValueError, match="max_hamming < bands"):
        phash_near_dups(p, "payload", "doc_id", max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        phash_near_dups(p, "payload", "doc_id", max_hamming=2, bands=5)


def test_priority_sample_estimator(spark):
    """Priority sampling: deterministic per seed + repartition-invariant;
    Σ w_est unbiased for the corpus total (mean over fixed seeds — the
    draw is deterministic, so this assertion can never flake); heavy
    rows (w > τ) kept with certainty; non-positive weights raise."""
    import random

    from gluestick_spark.llm.sampling import priority_sample

    random.seed(3)
    rows = [(i, random.randint(1, 100)) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, w long")
    total = sum(w for _, w in rows)
    ests = [
        priority_sample(df, "k", "w", 50, seed=str(s))
        .agg(F.sum("w_est")).first()[0]
        for s in range(40)
    ]
    mean = sum(ests) / len(ests)
    assert abs(mean - total) / total < 0.08, (mean, total)
    a = sorted(map(tuple, priority_sample(df, "k", "w", 50, "x").collect()))
    b = sorted(
        map(tuple, priority_sample(df.repartition(13), "k", "w", 50, "x").collect())
    )
    assert a == b and len(a) == 50
    heavy = df.union(spark.createDataFrame([(999, 10_000_000)], "k long, w long"))
    for s in range(5):
        kept = priority_sample(heavy, "k", "w", 20, str(s)).collect()
        assert any(r["k"] == 999 for r in kept)
        # heavy w > tau  =>  its estimate is its own weight (certainty)
        assert next(r for r in kept if r["k"] == 999)["w_est"] == 10_000_000.0
    small = priority_sample(df.limit(5), "k", "w", 50).collect()
    assert len(small) == 5 and all(r["w_est"] == r["w"] for r in small)
    bad = spark.createDataFrame([(1, 0)], "k long, w long")
    with pytest.raises(Exception, match="weight must be positive"):
        priority_sample(bad, "k", "w", 1).collect()


def test_corpus_drift_matrix_consistency(spark):
    """Matrix entries equal the pairwise estimator exactly (same
    sketches, same rule); no CartesianProduct in the plan (tiny-frame
    pair join is a broadcast nested loop)."""
    from gluestick_spark.llm.decontam import corpus_drift_matrix, corpus_jaccard_kmv

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    m = corpus_drift_matrix(d, "source", "text", n=3, k=128)
    rows = {(r["src_a"], r["src_b"]): r for r in m.collect()}
    n_src = d.select("source").distinct().count()
    assert len(rows) == n_src * (n_src - 1) // 2
    one = rows[("src1", "src2")]
    pw = corpus_jaccard_kmv(
        d.where("source = 'src1'"), d.where("source = 'src2'"), "text", n=3, k=128
    ).first()
    assert (one["k_used"], one["n_shared"], one["jaccard_est_ppm"]) == tuple(pw)
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_priority_sample_grouped(spark):
    """group_cols mode: the grouped draw equals per-group ungrouped
    draws exactly (same priorities, per-group τ); repartition-invariant;
    estimates unbiased per group over fixed seeds."""
    import random

    from gluestick_spark.llm.sampling import priority_sample

    random.seed(5)
    rows = [(i, f"g{i % 4}", random.randint(1, 100)) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, g string, w long")
    got = {}
    for r in priority_sample(df, "k", "w", 20, "s", group_cols=["g"]).collect():
        got.setdefault(r["g"], []).append((r["k"], r["w_est"]))
    for src in sorted(got):
        solo = priority_sample(
            df.where(F.col("g") == src), "k", "w", 20, "s"
        ).collect()
        assert sorted(got[src]) == sorted((r["k"], r["w_est"]) for r in solo)
    a = sorted(
        map(tuple, priority_sample(df, "k", "w", 20, "s", group_cols=["g"]).collect())
    )
    b = sorted(
        map(
            tuple,
            priority_sample(
                df.repartition(11), "k", "w", 20, "s", group_cols=["g"]
            ).collect(),
        )
    )
    assert a == b
    tot = {}
    for _, g, w in rows:
        tot[g] = tot.get(g, 0) + w
    ests = {g: [] for g in tot}
    for sd in range(30):
        for r in (
            priority_sample(df, "k", "w", 20, str(sd), group_cols=["g"])
            .groupBy("g").agg(F.sum("w_est").alias("e")).collect()
        ):
            ests[r["g"]].append(r["e"])
    for g, v in ests.items():
        assert abs(sum(v) / len(v) - tot[g]) / tot[g] < 0.12, g


def test_phash_cluster_dedup_transitive(spark):
    """A~B and B~C (but never A~C directly) must collapse to one
    survivor — transitive closure, not greedy pair-drop. Injected
    hasher builds the chain: flips {0,1}, {1,2} pair within hamming 2
    but {0,2} is 2 apart too... use 1-bit steps with max_hamming=1 so
    A~B, B~C pair and A~C (2 bits) does NOT."""
    from gluestick_spark.llm.multimodal import phash_cluster_dedup

    def chain_hasher(b: bytes) -> int:
        if b[0] == 9:  # the far-away singleton: different base entirely
            return -0x7654_3210_0FED_CBA9
        base = 0x1234_5678_9ABC_0000
        for i in range(b[-1]):  # payload tail = number of 1-bit flips
            base ^= 1 << (i * 9)
        return base

    p = spark.createDataFrame(
        [(i, bytes([7, i])) for i in range(3)] + [(9, bytes([9, 0]))],
        "doc_id long, payload binary",
    )
    kept = sorted(
        r["doc_id"]
        for r in phash_cluster_dedup(
            p, "payload", "doc_id", max_hamming=1, bands=4, hasher=chain_hasher
        ).collect()
    )
    # docs 0,1,2 form a chain (0~1, 1~2, NOT 0~2) -> one survivor (min id 0);
    # doc 9 hashes to a different base entirely -> untouched
    assert kept == [0, 9], kept
