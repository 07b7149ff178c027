"""Empirical scaling probe for the dedup/LSH operators.

Replicates the sf0.1 documents/embeddings tables R× (ids remapped, text
lightly perturbed per replica so the corpus isn't one giant duplicate
class) and times each operator at 1× and R×. A scale-safe operator should
grow ~linearly (exponent ≈ 1 in t ~ N^e); a missing bucket cap or an
accidental cross join shows up as e → 2.

Usage: python tools/scale_probe.py [R]   (default R=10)

Prints one JSON line per operator plus a summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate_docs(df: DataFrame, r: int) -> DataFrame:
    """R copies; ids remapped to stay unique, each replica's text gets a
    replica-tag token appended so replicas are near-dups, not exact dups
    (the realistic hard case for MinHash/SimHash)."""
    n = df.count()
    reps = df.crossJoin(F.broadcast(
        df.sparkSession.range(r).select(F.col("id").alias("__rep__"))
    ))
    return reps.select(
        (F.col("doc_id") + F.col("__rep__") * n).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rep"), F.col("__rep__")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )


def replicate_vecs(df: DataFrame, r: int) -> DataFrame:
    n = df.count()
    reps = df.crossJoin(F.broadcast(
        df.sparkSession.range(r).select(F.col("id").alias("__rep__"))
    ))
    # tiny deterministic per-replica offset on one component keeps replicas
    # near-identical (cosine ≈ 1) without being byte-equal
    bump = (F.col("__rep__").cast("double") / 1e4)
    return reps.select(
        (F.col("vec_id") + F.col("__rep__") * n).alias("vec_id"),
        F.concat(
            F.slice(F.col("embedding"), 1, 63),
            F.array(F.element_at("embedding", 64) + bump),
        ).alias("embedding"),
    )


def replicate_events(df: DataFrame, r: int) -> DataFrame:
    """R copies with remapped event ids and DISJOINT per-replica user ids —
    horizontal growth (more keys, same per-key depth), the realistic shape
    for a bigger corpus. Keyed-window operators should stay ~linear."""
    n = df.count()
    n_users = 1 + df.agg(F.max("user_id")).first()[0]
    reps = df.crossJoin(F.broadcast(
        df.sparkSession.range(r).select(F.col("id").alias("__rep__"))
    ))
    return reps.select(
        (F.col("event_id") + F.col("__rep__") * n).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("__rep__") * n_users).alias("user_id"),
        "event_type",
        "value",
    )


def timed(fn, warm: int = 1) -> tuple[float, int]:
    """(seconds, result rows). Rows matter for reading the exponent: when
    the output itself grows linearly with N (near-dup replicas → each doc
    pairs with its replica siblings), time exponent ≈ 1 is optimal — the
    operator is output-bound, not blowing up."""
    for _ in range(warm):
        fn()
    t0 = time.time()
    rows = fn()
    return round(time.time() - t0, 3), int(rows)


def cdc_state_growth(spark) -> dict:
    """A warm 200-row increment (``drop_redundant`` + ``snapshot_records``,
    100 changed rows and 100 new ones) against a hash state of 10k and of
    1M rows, the state built by a full sync of ``spark.range`` rows. The
    diff scans and shuffles the whole state, and its pin holds every state
    (pk, hash) pair, so the step grows with the state until the state is
    partitioned by key. Also records the bytes the increment leaves pinned
    (``localCheckpoint`` blocks, memory plus disk) while its kept rows are
    still referenced. Prints and returns the JSON record."""
    import shutil
    import tempfile

    from gluestick_spark.operators.snapshot import drop_redundant, snapshot_records

    def rows(lo, hi, tag):
        return spark.range(lo, hi).select(
            F.col("id").alias("pk"),
            F.concat(F.lit(tag), (F.col("id") % 97).cast("string")).alias("v"),
        )

    jsc = spark.sparkContext._jsc.sc()

    def stored() -> dict:
        return {i.id(): i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()}

    def sync(df, state):
        before = stored()
        kept = drop_redundant(spark, df, "s", state, pk="pk")
        snapshot_records(spark, kept, "s", state, pk="pk")
        # blocks pinned by this increment, held while `kept` is referenced
        sync.pinned = sum(b for i, b in stored().items() if i not in before)
        return 200

    times, pinned = {}, {}
    for label, n in (("10k", 10_000), ("1M", 1_000_000)):
        state = tempfile.mkdtemp(prefix="gs_probe_cdc_state_")
        try:
            sync(rows(0, n, "a"), state)
            step = iter(range(2))

            def _incr():
                i = next(step)
                lo = n - 100 + 100 * i  # 100 rows the state holds, 100 new ones
                return sync(rows(lo, lo + 200, f"b{i}"), state)

            times[label], _ = timed(_incr)
            pinned[label] = sync.pinned
        finally:
            shutil.rmtree(state, ignore_errors=True)
    rec = {
        "op": "cdc_state_growth",
        "t_state_10k": times["10k"], "t_state_1M": times["1M"],
        "state_ratio": 100.0,
        "time_ratio": round(times["1M"] / max(times["10k"], 1e-3), 2),
        "pinned_bytes_state_10k": pinned["10k"], "pinned_bytes_state_1M": pinned["1M"],
        "note": "warm 200-row increment: drop_redundant (one pinned full outer join with the hash state) + snapshot_records; both scan the whole state; pinned_bytes = localCheckpoint blocks the increment holds while its kept rows are referenced",
    }
    print(json.dumps(rec), flush=True)
    return rec


def main() -> None:
    r = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    from gluestick_spark import get_spark
    from gluestick_spark.llm.dedup import (
        cluster_dedup,
        exact_dedup,
        embedding_near_dups,
        minhash_dedup,
        minhash_near_dup_pairs,
        simhash_near_dups,
    )

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    docs1 = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    vecs1 = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    # materialize the replicated inputs so replication cost stays out of
    # the operator timings
    docsR = replicate_docs(docs1, r).persist()
    vecsR = replicate_vecs(vecs1, r).persist()
    n1, nR = docs1.count(), docsR.count()
    v1, vR = vecs1.count(), vecsR.count()

    cap = 200  # max_bucket: the 100 TB guard the probe is checking
    ops = {
        "exact_dedup": (
            lambda: exact_dedup(docs1, ["text"], "doc_id").count(),
            lambda: exact_dedup(docsR, ["text"], "doc_id").count(),
        ),
        "minhash_dedup": (
            lambda: minhash_dedup(docs1, "text", "doc_id", max_bucket=cap).count(),
            lambda: minhash_dedup(docsR, "text", "doc_id", max_bucket=cap).count(),
        ),
        "simhash_near_dups": (
            lambda: simhash_near_dups(docs1, "text", "doc_id", max_bucket=cap).count(),
            lambda: simhash_near_dups(docsR, "text", "doc_id", max_bucket=cap).count(),
        ),
        "embedding_near_dups": (
            lambda: embedding_near_dups(
                vecs1, "embedding", "vec_id", threshold=0.95, dim=64, max_bucket=cap
            ).count(),
            lambda: embedding_near_dups(
                vecsR, "embedding", "vec_id", threshold=0.95, dim=64, max_bucket=cap
            ).count(),
        ),
        # transitive-closure dedup: minhash pairs -> connected components ->
        # keep representatives. Replica groups are 10-node near-cliques, so
        # the iterative label propagation converges in ~2 rounds at both
        # scales; the probe catches any superlinear blowup in the loop.
        "cluster_dedup": (
            lambda: cluster_dedup(
                docs1,
                minhash_near_dup_pairs(docs1, "text", "doc_id", threshold=0.7, max_bucket=cap),
                "doc_id",
            ).count(),
            lambda: cluster_dedup(
                docsR,
                minhash_near_dup_pairs(docsR, "text", "doc_id", threshold=0.7, max_bucket=cap),
                "doc_id",
            ).count(),
        ),
    }

    # --- temporal / sketch family (round-4 operators; VERDICT r4 #8) ---
    from pyspark.sql.window import Window as W

    from gluestick_spark.functions.datetimes import as_timestamp
    from gluestick_spark.llm.sketch import kmv_distinct
    from gluestick_spark.operators.asof import asof_join, range_join
    from gluestick_spark.operators.rollup import time_rollup

    ev_raw = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    ev1 = ev_raw.select(
        "event_id", as_timestamp(ev_raw, "ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    evR = replicate_events(ev1, r).persist()
    e1, eR = ev1.count(), evR.count()

    def _asof(ev):
        rn = F.row_number().over(
            W.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
        )
        opens = (
            ev.withColumn("__rn__", rn).where(F.col("__rn__") == 1)
            .select("user_id", "ts", F.col("value").alias("open_v"))
        )
        return asof_join(ev, opens, "user_id", value_cols=["open_v"]).count()

    def _range(ev):
        base = 1704067200
        wins = spark.range(40).select(
            F.col("id").alias("window_id"),
            F.timestamp_seconds(F.lit(base) + F.col("id") * 64800).alias("ws"),
            F.timestamp_seconds(F.lit(base) + F.col("id") * 64800 + 129600).alias("we"),
        )
        return range_join(ev, wins, "ts", "ws", "we", bucket_width=64800).count()

    def _rollup(ev):
        return time_rollup(
            ev, "ts", {"n": F.count("*"), "tv": F.sum("value")}, grains=("hour", "day")
        ).count()

    def _kmv(ev):
        return kmv_distinct(ev, "user_id", k=64, group_cols=["event_type"]).count()

    event_ops = {
        "asof_join": _asof,
        "range_join": _range,
        "time_rollup": _rollup,
        "kmv_distinct": _kmv,
    }
    for name, fn in event_ops.items():
        ops[name] = (lambda f=fn: f(ev1), lambda f=fn: f(evR))

    event_family = set(event_ops)

    # --- round-5 text/sampling family (docs-replica inputs) ---
    from gluestick_spark.llm.decontam import contamination_pairs
    from gluestick_spark.llm.packing import pack_documents
    from gluestick_spark.llm.repetition import repetition_stats
    from gluestick_spark.llm.retrieval import bm25_topk
    from gluestick_spark.llm.text import build_vocab, word_count_expr

    def _pack(d):
        toks = d.select("doc_id", word_count_expr(F.col("text")).cast("long").alias("n"))
        return pack_documents(toks, "n", budget=512, key_col="doc_id").count()

    def _vocab(d):
        return build_vocab(d, "text", max_size=1000, min_count=2, id_col="doc_id").count()

    def _contam(d):
        bench = d.where(F.col("doc_id") % 500 == 0).select(
            F.col("doc_id").alias("bid"), F.col("text").alias("q")
        )
        return contamination_pairs(
            d, bench, "text", "doc_id", "q", "bid", n=8, min_overlap=4
        ).count()

    def _novelty(d):
        # r12: the bloom pre-filter path — reference is a fixed slice, so
        # the ref-side work is constant and the corpus side must scale ~1
        from gluestick_spark.llm.decontam import novelty_scores

        ref = d.where(F.col("doc_id") % 10 == 0)
        raw = d.where(F.col("doc_id") % 10 != 0)
        # count() alone lets Catalyst prune the join; force full eval
        return novelty_scores(raw, ref, "text", "doc_id", n=3).agg(
            F.sum("n_novel")
        ).count()

    def _unimax(d):
        # r12: allocation is per-source-frame work (constant); the rank
        # window + explode must scale ~1 in corpus size
        from gluestick_spark.llm.sampling import unimax_sample

        n = d.count()
        return unimax_sample(
            d, "source", "doc_id", budget=n // 2, max_epochs=2.0
        ).count()

    def _kll(d):
        # r12: partial sketches are map-side; only O(k log n) doubles
        # shuffle — the build must scale ~1
        from gluestick_spark.llm.sketch import kll_sketch

        return kll_sketch(d, "n_chars", k=200, group_cols=["lang"]).count()

    def _drift_matrix(d):
        # r12: one grouped sketch pass; S-row pair arithmetic is constant
        from gluestick_spark.llm.decontam import corpus_drift_matrix

        return corpus_drift_matrix(d, "source", "text", n=3, k=256).count()

    def _phash(d):
        # r12: banded Hamming LSH over planted duplicate payloads —
        # replicas share anchors per replica, so pairs grow ~linearly
        from gluestick_spark.llm.multimodal import phash_near_dups

        anchors = d.select(F.col("doc_id").alias("aid"), F.col("text").alias("atext"))
        p = (
            d.select("doc_id", (F.col("doc_id") - F.col("doc_id") % 7).alias("aid"))
            .join(anchors, "aid")
            .select("doc_id", F.encode("atext", "utf-8").alias("payload"))
        )
        return phash_near_dups(p, "payload", "doc_id").count()

    def _lang_ft(d):
        # r13: training is explode + two map-side-combined aggs; inference
        # a narrow fold — both must scale ~1 (no joins, no row Python)
        from gluestick_spark.llm.text import lang_id_ft, train_lang_id_ft

        m = train_lang_id_ft(
            d.where(F.col("doc_id") % 2 == 0), "text", "lang", n_buckets=512
        )
        return lang_id_ft(d.where(F.col("doc_id") % 2 == 1), "text", m).count()

    def _audio(d):
        # r13: same banded-Hamming core as phash (shared
        # banded_hamming_pairs) over the audio fingerprint projection
        from gluestick_spark.llm.multimodal import audio_near_dups

        anchors = d.select(F.col("doc_id").alias("aid"), F.col("text").alias("atext"))
        p = (
            d.select("doc_id", (F.col("doc_id") - F.col("doc_id") % 5).alias("aid"))
            .join(anchors, "aid")
            .select("doc_id", F.encode("atext", "utf-8").alias("payload"))
        )
        return audio_near_dups(p, "payload", "doc_id").count()

    def _priority(d):
        # r12: TakeOrdered top-(k+1) — per-partition partial top-k, ~flat
        from gluestick_spark.llm.sampling import priority_sample

        return priority_sample(d, "doc_id", "n_chars", k=1000).count()

    def _rep(d):
        return repetition_stats(d, "text", "doc_id").count()

    def _bm25(d):
        return bm25_topk(d, "text", "doc_id", "spark merge join window", k=100).count()

    # --- round-6 family ---
    from gluestick_spark.llm.sketch import heavy_hitters
    from gluestick_spark.llm.spans import segment_dedup
    from gluestick_spark.operators.skew import salted_join

    def _segdedup(d):
        out = segment_dedup(d, "doc_id", "text", seg_words=4)
        # aggregate over the reassembled text IN THE SAME PASS as the row
        # count: a bare count() would let Catalyst ELIMINATE the
        # unique-key left join (count-preserving) and skip the operator.
        row = out.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.length("text_clean")).alias("c")
        ).first()
        return int(row["n"]) if row["c"] is not None else int(row["n"])

    def _hh(d):
        words = d.select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
        return heavy_hitters(words, "w", k=15, capacity=4096).count()

    def _salted(d):
        # self-join docs to a small per-source dim through the salted path;
        # 'source' has ~5 values — maximal skew for the probe
        dim = d.groupBy("source").agg(F.count(F.lit(1)).alias("src_n"))
        return salted_join(
            d.select("doc_id", "source"), dim, "source", salt=8
        ).count()

    from gluestick_spark.llm.fuzzy import edit_distance_pairs
    from gluestick_spark.llm.retrieval import tfidf_vectors
    from gluestick_spark.operators.cdc import table_diff

    def _fuzzy(d):
        from gluestick_spark.llm.text import tokens_expr

        titles = d.select(
            "doc_id",
            F.array_join(F.slice(tokens_expr(F.col("text")), 1, 6), " ").alias("t"),
        )
        return edit_distance_pairs(titles, "doc_id", "t", max_dist=3).count()

    def _tfidf(d, n):
        return tfidf_vectors(d, "text", "doc_id", min_df=2, n_docs=n).count()

    def _cdc(d):
        old = d.where(F.col("doc_id") % 13 != 0).select("doc_id", "source", "n_chars")
        new = d.where(F.col("doc_id") % 11 != 0).select(
            "doc_id", "source",
            (F.col("n_chars") + F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0)).alias("n_chars"),
        )
        return table_diff(old, new, "doc_id").count()

    doc_ops = {
        "pack_documents": _pack,
        "build_vocab": _vocab,
        "contamination_pairs": _contam,
        "novelty_scores": _novelty,
        "unimax_sample": _unimax,
        "kll_sketch": _kll,
        "corpus_drift_matrix": _drift_matrix,
        "phash_near_dups": _phash,
        "lang_id_ft": _lang_ft,
        "audio_near_dups": _audio,
        "priority_sample": _priority,
        "repetition_stats": _rep,
        "bm25_topk": _bm25,
        "segment_dedup": _segdedup,
        "heavy_hitters": _hh,
        "salted_join": _salted,
        "fuzzy_pairs": _fuzzy,
        "cdc_diff": _cdc,
    }
    for name, fn in doc_ops.items():
        ops[name] = (lambda f=fn: f(docs1), lambda f=fn: f(docsR))
    ops["tfidf_vectors"] = (
        lambda: _tfidf(docs1, n1),
        lambda: _tfidf(docsR, nR),
    )

    # Synthetic worst case for fuzzy blocking: DISTINCT strings of ONE
    # uniform length (length bucketing alone is useless — everything lands
    # in one bucket). Base64 of the id's md5 → 24-char strings over a
    # 64-char alphabet. Before the q-gram prefix filter this probe ran
    # >15 min at 10×; the filter makes candidates gram-collision-bound.
    def _fuzzy_distinct(n):
        strs = spark.range(n).select(
            "id", F.base64(F.unhex(F.md5(F.col("id").cast("string")))).alias("t")
        )
        return edit_distance_pairs(strs, "id", "t", max_dist=2).count()

    ops["fuzzy_distinct"] = (
        lambda: _fuzzy_distinct(5000),
        lambda: _fuzzy_distinct(5000 * r),
    )

    # Cross-corpus dedup under the replica flood: odd ids are the incoming
    # crawl, even the existing corpus — every replica group straddles both
    # sides, so cross-side near-dup hits (and therefore drops) grow with
    # the flood. Candidates must stay cross-collision-bounded.
    from gluestick_spark.llm.dedup import dedup_against

    def _dedup_against(d):
        new = d.where(F.col("doc_id") % 2 == 1)
        ref = d.where(F.col("doc_id") % 2 == 0)
        return dedup_against(
            new, ref, "text", "doc_id", threshold=0.7, max_bucket=cap
        ).count()

    ops["dedup_against"] = (
        lambda: _dedup_against(docs1),
        lambda: _dedup_against(docsR),
    )

    # Index-backed variant (VERDICT r7 #9): the reference half is signed
    # ONCE into a persisted band index (outside the timing — that's the
    # point), so the per-crawl cost is sign-new + bucket-join + verify.
    # Compare with dedup_against above: same exponent shape, lower
    # absolute time, reference side untouched at probe time.
    import tempfile

    from gluestick_spark.llm.dedup import (
        dedup_against_indexed,
        materialize_band_index,
    )

    idx1 = tempfile.mkdtemp(prefix="probe_idx1_")
    idxR = tempfile.mkdtemp(prefix="probe_idxR_")
    t0 = time.time()
    materialize_band_index(docs1.where(F.col("doc_id") % 2 == 0), "text", "doc_id", idx1)
    m1 = round(time.time() - t0, 3)
    t0 = time.time()
    materialize_band_index(docsR.where(F.col("doc_id") % 2 == 0), "text", "doc_id", idxR)
    mR = round(time.time() - t0, 3)
    print(json.dumps({"op": "materialize_band_index", "t_1x": m1, f"t_{r}x": mR}), flush=True)

    def _dedup_against_idx(d, idx):
        new = d.where(F.col("doc_id") % 2 == 1)
        return dedup_against_indexed(
            spark, new, idx, "text", "doc_id", threshold=0.7, max_bucket=cap
        ).count()

    ops["dedup_against_indexed"] = (
        lambda: _dedup_against_idx(docs1, idx1),
        lambda: _dedup_against_idx(docsR, idxR),
    )

    # --- round-8 probes (VERDICT r7 #8) ---
    from gluestick_spark.llm.web import cap_per_domain
    from gluestick_spark.operators.cohorts import retention_matrix
    from gluestick_spark.operators.profile import correlation_matrix

    # cohort retention over the replica flood: disjoint per-replica users
    # → more cohort members, same date span; output is (dates × offsets)-
    # bounded, so time should be ~linear in events and us/row will GROW
    # with r (fixed output rows) — read t, not us/row, for this one.
    def _retention(ev):
        return retention_matrix(ev, "user_id", "ts", grain="week").count()

    ops["retention_matrix"] = (lambda: _retention(ev1), lambda: _retention(evR))
    event_family.add("retention_matrix")

    # per-domain capping under the flood: replicas multiply docs per
    # domain (domain cardinality fixed at source×7), so the keyed-window
    # shuffle sees exactly the skew the cap removes; output is capped
    # (≤ 40/domain) — time should track the scan, not the skew.
    def _cap(d):
        u = F.concat(
            F.lit("https://www."), F.col("source"),
            (F.col("doc_id") % 7).cast("string"), F.lit(".example.com/x"),
        )
        return cap_per_domain(
            d.select("doc_id", u.alias("url")), "url", "doc_id", max_per_domain=40
        ).count()

    ops["cap_per_domain"] = (lambda: _cap(docs1), lambda: _cap(docsR))

    # correlation matrix at p=8 and p=32 (C(p,2) covariance terms grow
    # quadratically in WIDTH): both must stay one-scan/one-aggregate and
    # codegen-safe; rows scale with r so the exponent reads row-linearity.
    def _corr(n_rows, p):
        base = spark.range(n_rows)
        cols = [
            (F.pmod(F.xxhash64(F.col("id") + F.lit(i)), F.lit(10_000)) / 100.0).alias(f"c{i}")
            for i in range(p)
        ]
        return correlation_matrix(base.select(*cols), [f"c{i}" for i in range(p)]).count()

    corr_n = 200_000
    ops["corr_matrix_p8"] = (
        lambda: _corr(corr_n, 8),
        lambda: _corr(corr_n * r, 8),
    )
    ops["corr_matrix_p32"] = (
        lambda: _corr(corr_n, 32),
        lambda: _corr(corr_n * r, 32),
    )

    # k-means: each Lloyd iteration is one map-side-combined aggregate →
    # expect ~linear. The timing deliberately includes the driver loop
    # (the iteration aggregates run inside kmeans() itself).
    from gluestick_spark.llm.cluster import kmeans, semdedup

    ops["kmeans_lloyd"] = (
        lambda: kmeans(vecs1, "embedding", "vec_id", k=8, iters=1).count(),
        lambda: kmeans(vecsR, "embedding", "vec_id", k=8, iters=1).count(),
    )

    # SemDeDup in its documented regime: k ∝ N keeps per-cluster size
    # constant, so pairwise cost Σ|c|² grows linearly. k·d at RX exceeds
    # the literal-assignment ceiling → exercises the broadcast-join
    # assignment path. Counting the DROPPED rows forces the pairwise join
    # (output ≈ N·(r−1)/r: replicas collapse to their leader).
    def _semdd(vv, kk):
        out = semdedup(vv, "embedding", "vec_id", k=kk, iters=1, threshold=0.95)
        return out.where(~F.col("keep")).count()

    ops["semdedup_scaled_k"] = (
        lambda: _semdd(vecs1, 8),
        lambda: _semdd(vecsR, 8 * r),
    )

    # --- round-8 additions -------------------------------------------------
    from gluestick_spark.llm.pq import pq_topk, train_pq
    from gluestick_spark.llm.text import collocations
    from gluestick_spark.operators.graph import pagerank, triangle_count
    from gluestick_spark.operators.sessions import transition_matrix
    from gluestick_spark.functions.datetimes import as_timestamp

    # PQ: codebooks are a statistic — train ONCE on the 1x corpus, then
    # probe encode+ADC-search (scan + TakeOrdered → expect ~linear).
    _books = train_pq(vecs1, "embedding", "vec_id", m=4, k=16, iters=1)
    _qv = [0.01 * (i % 7) for i in range(64)]

    ops["pq_encode_search"] = (
        lambda: pq_topk(vecs1, "embedding", "vec_id", _qv, _books, k=10).count(),
        lambda: pq_topk(vecsR, "embedding", "vec_id", _qv, _books, k=10).count(),
    )

    # collocations: pair table is vocabulary-bounded; corpus scan dominates.
    ops["collocations"] = (
        lambda: collocations(docs1, "text", min_count=5, k=100).count(),
        lambda: collocations(docsR, "text", min_count=5, k=100).count(),
    )

    # pagerank: replicated events have DISJOINT per-replica users → |E|
    # grows ~linearly; per-iteration cost ∝ |E|.
    def _pr(ev):
        raw = (
            ev.groupBy("user_id", "event_type").count()
            .where(F.col("count") >= 3)
            .select(
                F.concat(F.lit("u:"), F.col("user_id")).alias("src"),
                F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
            )
        )
        edges = raw.unionAll(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        return pagerank(edges, iters=2).count()

    ops["pagerank"] = (lambda: _pr(ev1), lambda: _pr(evR))
    event_family.add("pagerank")

    # transition matrix: one keyed window + vocab²-bounded aggregate.
    def _tm(ev):
        e2 = ev.withColumn("ts", as_timestamp(ev, "ts"))
        return transition_matrix(e2, "user_id", "event_type", ["ts", "event_id"]).count()

    ops["transition_matrix"] = (lambda: _tm(ev1), lambda: _tm(evR))
    event_family.add("transition_matrix")

    # triangles: banded synthetic graph (node i — i+1..i+8), constant
    # degree, so N scales rows AND edges linearly; degree-oriented wedge
    # join should track ~linearly (wedges/node constant).
    def _tri(n_nodes):
        base = spark.range(n_nodes)
        d = base.crossJoin(
            F.broadcast(spark.range(1, 9).select(F.col("id").alias("__o__")))
        )
        edges = d.select(
            F.col("id").alias("src"), (F.col("id") + F.col("__o__")).alias("dst")
        ).where(F.col("dst") < n_nodes)
        out = triangle_count(edges)
        return out.agg(F.sum("n_triangles")).first()[0] or 0

    tri_n = 60_000
    ops["triangle_count"] = (lambda: _tri(tri_n), lambda: _tri(tri_n * r))

    # --- round-8 second wave ----------------------------------------------
    from gluestick_spark.llm.cluster import centroid_outliers
    from gluestick_spark.llm.sampling import alpha_sample
    from gluestick_spark.llm.similarity import sq_topk
    from gluestick_spark.operators.graph import label_propagation

    # LPA: same click graph as pagerank (disjoint per-replica users →
    # |E| linear); per round one |E|-join + two bounded aggregates.
    def _lpa(ev):
        raw = (
            ev.groupBy("user_id", "event_type").count()
            .where(F.col("count") >= 3)
            .select(
                F.concat(F.lit("u:"), F.col("user_id")).alias("src"),
                F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
            )
        )
        edges = raw.unionAll(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        return label_propagation(edges, iters=3).count()

    ops["label_propagation"] = (lambda: _lpa(ev1), lambda: _lpa(evR))
    event_family.add("label_propagation")

    # SQ ANN: quantize + score + TakeOrdered — one scan, expect ~linear.
    ops["sq_topk"] = (
        lambda: sq_topk(vecs1, "embedding", "vec_id", _qv, k=10).count(),
        lambda: sq_topk(vecsR, "embedding", "vec_id", _qv, k=10).count(),
    )

    # alpha sampling: one count aggregate + broadcast rate join + scan.
    ops["alpha_sample"] = (
        lambda: alpha_sample(docs1, "lang", "doc_id", 0.5).count(),
        lambda: alpha_sample(docsR, "lang", "doc_id", 0.5).count(),
    )

    # containment: replica flood RAISES gram doc-frequencies, so with a
    # FIXED cap more shingles become stop-shingles — join cost stays
    # <= cap·|grams| (linear); output is the surviving pair set.
    from gluestick_spark.llm.dedup import containment_pairs

    ops["containment_pairs"] = (
        lambda: containment_pairs(
            docs1, "text", "doc_id", shingle_n=3, tau_pct=80, max_doc_freq=20
        ).count(),
        lambda: containment_pairs(
            docsR, "text", "doc_id", shingle_n=3, tau_pct=80, max_doc_freq=20
        ).count(),
    )

    # outlier audit: kmeans training (linear aggregates) + one ranking
    # scan + TakeOrdered — expect ~linear in vector count.
    ops["centroid_outliers"] = (
        lambda: centroid_outliers(
            vecs1, "embedding", "vec_id", k=8, iters=1, top_n=50
        ).count(),
        lambda: centroid_outliers(
            vecsR, "embedding", "vec_id", k=8, iters=1, top_n=50
        ).count(),
    )

    # URL canonicalization + dedup: narrow regexp projection + one keyed
    # aggregate — expect ~linear. Synthetic noisy URLs over doc ids.
    from gluestick_spark.llm.web import url_dedup

    def _urls(d):
        u = F.concat(
            F.lit("https://S"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".com:443/p/"), (F.col("doc_id") % 997).cast("string"),
            F.lit("/?utm_source=x&id="), (F.col("doc_id") % 997).cast("string"),
        )
        return url_dedup(d.select("doc_id", u.alias("url")), "url", "doc_id").count()

    ops["url_dedup"] = (lambda: _urls(docs1), lambda: _urls(docsR))

    # entity matching under sane blocking: near-singleton blocks keep the
    # candidate join ~linear (nation-only blocking measured 26.4s at
    # sf0.1 vs 0.8s with the suffix block — the documented trade).
    from gluestick_spark.operators.linkage import entity_matches

    def _em(d):
        # short name-like field (levenshtein is O(len²) per pair — entity
        # fields are names/addresses, never full documents)
        nm = F.substring(F.col("text"), 1, 24)
        master = d.select(F.col("doc_id").alias("mid"), nm.alias("name"))
        inc = d.select((F.col("doc_id") + 10_000_000).alias("iid"),
                       F.concat(nm, F.lit(" z")).alias("name"))
        blk_m = F.pmod(F.xxhash64(F.col("mid")), F.lit(100_000))
        blk_i = F.pmod(F.xxhash64(F.col("iid") - 10_000_000), F.lit(100_000))
        return entity_matches(
            master, inc, "mid", "iid", [("name", "name", 1)],
            blk_m, blk_i, threshold_pct=60,
        ).count()

    ops["entity_matches"] = (lambda: _em(docs1), lambda: _em(docsR))

    # --- round-9 additions --------------------------------------------------
    # entity matching under REALISTIC multi-match blocks (VERDICT r8 task
    # 10): ~10 masters x ~10 incoming per block -> ~100 pairs/block, so
    # the candidate join is ~100x denser than the near-singleton probe
    # above; cost should stay linear in N with a higher constant.
    def _em_multi(d, n):
        nm = F.substring(F.col("text"), 1, 24)
        master = d.select(F.col("doc_id").alias("mid"), nm.alias("name"))
        inc = d.select((F.col("doc_id") + 10_000_000).alias("iid"),
                       F.concat(nm, F.lit(" z")).alias("name"))
        blocks = max(n // 10, 1)
        blk_m = F.pmod(F.col("mid"), F.lit(blocks))
        blk_i = F.pmod(F.col("iid") - 10_000_000, F.lit(blocks))
        return entity_matches(
            master, inc, "mid", "iid", [("name", "name", 1)],
            blk_m, blk_i, threshold_pct=60,
        ).count()

    ops["entity_matches_multiblock"] = (
        lambda: _em_multi(docs1, n1),
        lambda: _em_multi(docsR, nR),
    )

    # funnel: ONE keyed shuffle + per-user sorted-array state machine;
    # disjoint per-replica users -> expect ~linear.
    from gluestick_spark.operators.funnels import funnel_counts

    def _fun(ev):
        return funnel_counts(
            ev, "user_id", "ts", "event_type",
            ["view", "click", "purchase"], within_seconds=7 * 86400,
        ).count()

    ops["funnel_counts"] = (lambda: _fun(ev1), lambda: _fun(evR))
    event_family.add("funnel_counts")

    # pivot: one aggregate, explicit value list (no eager distinct job).
    from gluestick_spark.operators.pivot import cube_agg, pivot_table

    def _piv(ev):
        return pivot_table(
            ev.withColumn("d", F.to_date("ts")),
            ["user_id"], "event_type", "value",
            ["view", "click", "purchase", "signup", "error"],
        ).count()

    ops["events_pivot"] = (lambda: _piv(ev1), lambda: _piv(evR))
    event_family.add("events_pivot")

    # cube: 2^d grouping sets in one pass (d=2 here) — expect ~linear.
    def _cube(d):
        return cube_agg(
            d, ["lang", "source"], {"n": F.count(F.lit(1))}
        ).count()

    ops["docs_cube"] = (lambda: _cube(docs1), lambda: _cube(docsR))

    # substring spans (Lee et al. family): replicas share their WHOLE
    # text -> nearly every window is cross-doc duplicated, so output
    # spans ~ docs and the verify stage touches ~every position — the
    # cost-∝-matches regime the design promises (expect ~linear, higher
    # constant than the cap-starved 1x side).
    from gluestick_spark.llm.spans import substring_overlap_spans

    ops["substring_spans"] = (
        lambda: substring_overlap_spans(
            docs1, "doc_id", "text", k=8, max_occurrences=64
        ).count(),
        lambda: substring_overlap_spans(
            docsR, "doc_id", "text", k=8, max_occurrences=64
        ).count(),
    )

    import math

    summary = {}
    for name, (small, big) in ops.items():
        t1, rows1 = timed(small)
        tR, rowsR = timed(big)
        if name in (
            "embedding_near_dups",
            "kmeans_lloyd",
            "semdedup_scaled_k",
            "pq_encode_search",
            "sq_topk",
            "centroid_outliers",
        ):
            ratio = vR / v1
        elif name == "triangle_count":
            ratio = float(r)
        elif name in event_family:
            ratio = eR / e1
        else:
            ratio = nR / n1
        exponent = round(math.log(max(tR, 1e-3) / max(t1, 1e-3)) / math.log(ratio), 2)
        rec = {
            "op": name,
            "t_1x": t1,
            f"t_{r}x": tR,
            "scale_exponent": exponent,
            "rows_1x": rows1,
            f"rows_{r}x": rowsR,
            # per-output-row cost at RX: distinguishes output-bound growth
            # (flat us/row as output scales) from candidate blowup
            "us_per_row": round(tR * 1e6 / max(rowsR, 1), 2),
        }
        summary[name] = exponent
        print(json.dumps(rec), flush=True)

    # --- round-9 custom probes (not 1x-vs-Rx shaped) -------------------------
    # (a) persisted IVFxSQ serving cost ∝ probed cells, not corpus: build
    # ONE index over the Rx vectors, then time serving at nprobe=2 vs
    # nprobe=8 (all cells). Ratio ~ cells probed; a corpus-bound serve
    # would be flat.
    import shutil
    import tempfile

    from gluestick_spark.llm.cluster import materialize_sq_ivf, sq_ivf_topk_indexed

    idx = tempfile.mkdtemp(prefix="gs_probe_sqivf_")
    try:
        materialize_sq_ivf(vecsR, "embedding", "vec_id", idx, n_clusters=8, iters=1)
        # a distinct query per call, as in serving (a repeated query
        # reuses whatever its first call compiled)
        qs = iter([[0.01 * ((i + j) % 7) for i in range(64)] for j in range(4)])
        t2, _ = timed(lambda: sq_ivf_topk_indexed(spark, idx, next(qs), k=10, nprobe=2).count())
        t8, _ = timed(lambda: sq_ivf_topk_indexed(spark, idx, next(qs), k=10, nprobe=8).count())
        print(json.dumps({
            "op": "sq_ivf_indexed_probed_cells",
            "t_nprobe2": t2, "t_nprobe8": t8,
            "cells_ratio": 4.0,
            "time_ratio": round(t8 / max(t2, 1e-3), 2),
            "note": "distinct query per call; serve cost tracks probed cells (partition-pruned codes scan); corpus-bound would be flat",
        }), flush=True)
    finally:
        shutil.rmtree(idx, ignore_errors=True)

    # (b) streaming url-state growth: the per-batch core of
    # streaming_url_dedup — its state read (the batch partitions below
    # the batch id, read with the appended frame's schema by
    # pipeline._read_batches) and the anti-join — against a state of S
    # and 10S rows in 10 batch partitions. Every earlier batch can hold a
    # match, so no partition is pruned: the scan and the shuffle grow with
    # the state; an O(batch) read needs the state partitioned by key.
    from gluestick_spark.streaming.pipeline import _read_batches

    s_small = 100_000
    state_rows = lambda n: spark.range(n).select(
        F.concat(F.lit("https://h"), (F.col("id") % (n // 2)).cast("string"),
                 F.lit(".com/p"), F.col("id").cast("string")).alias("__canon__"),
        (F.col("id") % 10).alias("__batch__"),
    )
    batch = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://h1.com/p"), F.col("id").cast("string")).alias("canonical_url"),
    ).localCheckpoint()
    canon_schema = batch.select(F.col("canonical_url").alias("__canon__")).schema
    times = {}
    for label, n in (("S", s_small), ("10S", s_small * 10)):
        state_dir = tempfile.mkdtemp(prefix="gs_probe_url_state_")
        canon_path = os.path.join(state_dir, "url_canon.parquet")
        try:
            state_rows(n).write.partitionBy("__batch__").parquet(canon_path)

            def _core():
                seen = _read_batches(spark, canon_path, canon_schema, "__batch__", 10)
                return batch.join(
                    seen, batch["canonical_url"] == seen["__canon__"], "left_anti"
                ).count()

            times[label], _ = timed(_core)
        finally:
            shutil.rmtree(state_dir, ignore_errors=True)
    print(json.dumps({
        "op": "url_state_growth",
        "t_state_S": times["S"], "t_state_10S": times["10S"],
        "state_ratio": 10.0,
        "time_ratio": round(times["10S"] / max(times["S"], 1e-3), 2),
        "note": "per-batch state read (batch partitions below the batch id, explicit schema) + anti-join; no partition is pruned, so the scan and shuffle grow with the state",
    }), flush=True)

    # (b2) hash-CDC state growth (ROADMAP item 1)
    cdc_state_growth(spark)

    # (c) triangle hub-degree cap (VERDICT r9 #4): banded constant-degree
    # graph (N=30k, deg 8) + an embedded dense community (clique of size
    # m). Uncapped wedge work grows ~m^3 with the clique; with
    # max_degree=32 the whole over-degree community is dropped loudly
    # and the cost stays the banded graph's — the cap holds the
    # exponent under skew.
    def _tri_skew(m_clique, cap):
        n_nodes = 30_000
        base = spark.range(n_nodes)
        banded = base.crossJoin(
            F.broadcast(spark.range(1, 9).select(F.col("id").alias("__o__")))
        ).select(
            F.col("id").alias("src"), (F.col("id") + F.col("__o__")).alias("dst")
        ).where(F.col("dst") < n_nodes)
        cl = spark.range(m_clique).select((F.col("id") + 1_000_000).alias("id"))
        clique = cl.alias("l").crossJoin(cl.alias("r")).select(
            F.col("l.id").alias("src"), F.col("r.id").alias("dst")
        ).where(F.col("src") < F.col("dst"))
        edges = banded.unionAll(clique)
        out = triangle_count(edges, max_degree=cap)
        return out.agg(F.sum("n_triangles")).first()[0] or 0

    tri_cap = {}
    for m in (100, 300):
        t_un, n_un = timed(lambda: _tri_skew(m, None))
        t_cap, n_cap = timed(lambda: _tri_skew(m, 32))
        tri_cap[m] = {"t_uncapped": t_un, "tri_uncapped": n_un,
                      "t_capped": t_cap, "tri_capped": n_cap}
    print(json.dumps({
        "op": "triangle_hub_cap",
        "m100": tri_cap[100], "m300": tri_cap[300],
        "uncapped_growth": round(
            tri_cap[300]["t_uncapped"] / max(tri_cap[100]["t_uncapped"], 1e-3), 2),
        "capped_growth": round(
            tri_cap[300]["t_capped"] / max(tri_cap[100]["t_capped"], 1e-3), 2),
        "note": "clique m: wedges ~m^3 uncapped (27x work at 3x m); max_degree=32 drops the over-degree community loudly, cost stays the banded graph's",
    }), flush=True)

    # (d) SemDeDup giant-cluster cap (VERDICT r10 #2): synthetic corpus
    # where HALF the vectors form one tight blob (one kmeans cluster owns
    # 50% of the corpus) and the rest spread over 15 orthogonal axes.
    # Uncapped pairwise cost is dominated by the blob's |c|² ≈ N²/4 —
    # grows ~quadratically with N; with max_cluster_size = N/8 the blob
    # is dropped loudly and cost stays the small clusters' (~linear).
    def _sdd_skew(n, cap):
        half = n // 2
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda j: F.when(
                F.col("id") < half,
                F.when(j == F.lit(0), F.lit(1.0)).otherwise(
                    (F.col("id") % 13).cast("double") / 10000.0
                ),
            ).otherwise(
                F.when(
                    j == (F.col("id") % 15) + 1, F.lit(1.0)
                ).otherwise(F.lit(0.0))
            ),
        )
        vv = spark.range(n).select(
            F.col("id").alias("vec_id"), vec.alias("embedding")
        )
        out = semdedup(
            vv, "embedding", "vec_id", k=16, iters=2, threshold=0.95,
            max_cluster_size=cap,
        )
        return out.where(~F.col("keep")).count()

    sdd_skew = {}
    for n in (3_000, 9_000):
        t_un, d_un = timed(lambda: _sdd_skew(n, None))
        t_cap, d_cap = timed(lambda: _sdd_skew(n, n // 8))
        sdd_skew[n] = {"t_uncapped": t_un, "dropped_uncapped": d_un,
                       "t_capped": t_cap, "dropped_capped": d_cap}
    print(json.dumps({
        "op": "semdedup_giant_cluster_cap",
        "n3000": sdd_skew[3_000], "n9000": sdd_skew[9_000],
        "uncapped_growth": round(
            sdd_skew[9_000]["t_uncapped"]
            / max(sdd_skew[3_000]["t_uncapped"], 1e-3), 2),
        "capped_growth": round(
            sdd_skew[9_000]["t_capped"]
            / max(sdd_skew[3_000]["t_capped"], 1e-3), 2),
        "note": "one cluster owns 50% of the corpus: pairs ~N^2/4 uncapped (9x at 3x N); max_cluster_size=N/8 drops the blob loudly, judged set stays exact",
    }), flush=True)

    print(json.dumps({"summary_exponents": summary, "r": r, "n_docs_1x": n1}))


if __name__ == "__main__":
    main()
