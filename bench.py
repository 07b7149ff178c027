"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall seconds.

Each query is fully materialized via the noop sink (forces execution of the
whole plan without write overhead). First query pays JVM/session warmup;
a tiny warmup action runs first to keep that out of the numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "promo_revenue",
    "events_daily",
    "explode_json_to_cols",
    "snapshot_upsert",
    "keep_last_dedup",
    "row_hash",
    "dedup_exact",
    "dedup_fingerprint",
    "winnow_fingerprint",
    "clean_corpus",
    "minhash_dedup",
    "cluster_dedup",
    "simhash_near_dups",
    "embedding_near_dups",
    "token_stats",
    "chunk_documents",
    "quality_score",
    "cosine_similarity",
    "ann_topk",
    "lsh_ann_topk",
    "ivf_topk",
    "ivf_probe_indexed",
    "event_asof_open",
    "event_asof_close",
    "event_asof_nearest",
    "range_join_windows",
    "time_rollup",
    "kmv_distinct",
    "kmv_merge",
    "hash_split",
    "pack_documents",
    "mix_corpora",
    "build_vocab",
    "contamination_check",
    "pii_redaction",
    "bm25_scores",
    "repetition_stats",
    "profile_numeric",
    "gapfill_daily",
    "sessionize_batch",
    "rolling_zscore",
    "unigram_nll",
    "segment_dedup",
    "heavy_hitters",
    "scd2_merge",
    "salted_join_agg",
    "expectations_audit",
    "zorder_values",
    "value_histogram",
    "negative_pairs",
    "fuzzy_pairs",
    "cdc_diff",
    "bpe_pairs",
    "quantize_embeddings",
    "tfidf_vectors",
    "pool_embeddings",
    "table_stats",
    "equi_depth_bins",
    "scaled_features",
    "balanced_sample",
    "merge_into_orders",
    "suppress_bursts",
    "encoded_docs",
    "packed_encoded_docs",
    "domain_stats",
    "cap_per_domain",
    "domain_split",
    "nll_mix",
    "clipped_values",
    "corr_matrix",
    "robust_scaled",
    "weekly_retention",
    "dedup_against_ref",
    "dedup_against_indexed",
    "bpe_encode",
    "funnel_counts",
    "resample_ratio",
    "kmeans_clusters",
    "semdedup_keep",
    "pq_topk",
    "pagerank_events",
    "collocations",
    "event_transitions",
    "part_triangles",
    "hits_click_graph",
    "ivf_exact_topk",
    "label_communities",
    "sq_topk",
    "alpha_sample",
    "centroid_outliers",
    "events_pivot",
    "melt_part",
    "containment_pairs",
    "url_dedup",
    "docs_cube",
    "length_drift",
    "html_extract",
    "outlink_domains",
    "customer_matches",
    "contact_normalize",
    "sq_ivf_topk",
    # round-9 additions
    "sq_ivf_topk_indexed",
    "pq_ivf_topk_indexed",
    "dsir_sample",
    "unicode_tokens",
    "gopher_quality",
    "line_dedup",
    "cluster_balanced",
    "classifier_score",
    "substring_spans",
    "substring_dedup",
    "quality_mix",
    "substring_decontam",
    "bigram_nll",
    # round-11 additions
    "pq_ivf_rerank",
    "curation_pipeline",
    "novelty_scores",
    "exact_k_sample",
    "corpus_overlap",
    "schema_drift",
    # round-12 additions
    "unimax_sample",
    "quantile_sketch",
    "unimax_tokens",
    "corpus_overlap_kmv",
    "corpus_drift_matrix",
    "phash_near_dups",
    "sq_ivf_rebalanced_topk",
    "lang_id_ft",
    "audio_near_dups",
    "audio_dedup",
    "semdedup_against",
    "streaming_phash_dedup",
    "streaming_quantiles",
    "priority_sample",
    "grouped_priority_sample",
    "phash_dedup",
    # round 14
    "sq_ivf_deleted_topk",
    "rrf_fused_topk",
    "unigram_segment",
    "streaming_semdedup",
    "versioned_delete",
    "component_split",
    "chunked_docs",
    "unigram_em_vocab",
    "pq_ivf_deleted_topk",
    "sq_ivf_batch_topk",
    "pq_ivf_batch_topk",
    "bm25_batch_topk",
    "retrieval_decontam",
    "pii_validated",
    "ivf_batch_topk",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry_mod
    from gluestick_spark import get_spark

    spark = get_spark("gluestick-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM, parquet reader, shuffle + join + agg codegen paths — on
    # the two tiny dimension tables so no headline data is touched
    from pyspark.sql import functions as F

    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    r = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    n.join(r, n.n_regionkey == r.r_regionkey).groupBy("r_name").agg(F.count("*")).collect()

    qs = entry_mod.queries()
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in BENCH_QUERIES:
        # three full runs; report the best. The first run pays one-time
        # whole-stage-codegen compilation (janino), which is noise at any
        # real data scale — steady-state throughput is the signal; min-of-3
        # also absorbs this box's ±20% CPU-contention noise.
        runs = []
        for attempt in range(3):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        cold[name] = runs[0]
        timings[name] = min(runs)

    # Singer-sink throughput on lineitem (the reference's own headline
    # benchmark shape: ~6 primitive columns; bench_to_singer.py measures
    # 500k rows — the reference does ~55k rows/s on this hardware).
    import tempfile

    from gluestick_spark import to_singer

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate", "l_linestatus"
    )
    n_rows = li.count()
    # three runs, best-of — same steady-state methodology as the queries
    # (the first run pays one-time Python-worker + codegen startup, and a
    # single noisy-neighbor window on this box can halve one measurement)
    singer_s = float("inf")
    for _ in range(3):
        with tempfile.TemporaryDirectory() as d:
            t0 = time.time()
            to_singer(li, "lineitem", d, keys=["l_orderkey"])
            singer_s = min(singer_s, time.time() - t0)
    singer_rps = round(n_rows / singer_s)

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # Machine calibration: a FIXED synthetic job (range → hash → keyed agg,
    # no repo code, no input files) whose runtime tracks this box's speed.
    # Compare calibration_sec across rounds to separate machine drift from
    # code changes — a verified failure mode: round-6 re-ran the round-4
    # TREE on the round-6 box and got 1.5-2× the r04 artifact's times for
    # the SAME code, so raw cross-round deltas without this are ambiguous.
    calib = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(0, 20_000_000, 1, 32).select(
            (F.col("id") % 97).alias("k"),
            # pmod keeps the sum inside long range under ANSI mode
            F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("h"),
        ).groupBy("k").agg(F.sum("h")).collect()
        calib = min(calib, time.time() - t0)
    # Per-JOB scheduling latency floor (round-11 finding): sub-second
    # multi-job rows inflate by N_jobs × this floor, while the throughput
    # calibration above barely moves — the two axes must be read together
    # (a window with floor 0.2s vs 0.08s flags every <1s row by +30-60%
    # with IDENTICAL code and a FASTER calibration_sec).
    job_lat = float("inf")
    for _ in range(5):
        t0 = time.time()
        spark.range(10).count()
        job_lat = min(job_lat, time.time() - t0)

    # Same-round min-merge (VERDICT r13 wrong-1): a later run in the same
    # round must never CLOBBER the round's sidecar with a noisier
    # measurement (the driver's post-close run did exactly that in r13,
    # replacing the min-of-3 basis with a 1.1x-noisier single run). Fold
    # the existing same-round sidecar's per-query minima into THIS run
    # before computing anything downstream: keys follow the CURRENT
    # registry (removed queries drop, new ones join), calibration
    # metadata keeps the best of both axes. The recorded round artifact
    # is therefore the round's noise floor — the standard min-of-runs
    # benchmark estimator — and the next round's delta_vs_prev always
    # compares min basis to min basis. merged_runs discloses how many
    # runs the floor aggregates.
    cold_total = round(sum(cold.values()), 3)
    merged_runs = 1
    # ADVICE r14 #4: min-merging across a CODE CHANGE would floor away a
    # genuine regression introduced mid-round — key the merge on a code
    # fingerprint (HEAD sha + working-tree diff hash) so only same-code
    # runs fold; a changed tree starts a fresh basis.
    code_sha = _code_fingerprint()
    # VERDICT r15 #3: the merge key also needs the CORE COUNT — the
    # driver re-runs the bench at a lower $SPARK_GRAFT_CPUS to measure
    # scaling, and folding an 8-core run into a 32-core floor (or vice
    # versa) silently corrupts both. The core count goes into the sidecar
    # FILENAME (a low-core run can never even overwrite the 32-core
    # floor) and is recorded in the result for cross-round pairing.
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        # an empty or non-numeric value must not cost the round its line
        cpus = 32
    try:
        _here = os.path.dirname(os.path.abspath(__file__))
        _side = os.path.join(
            _here,
            ".bench",
            f"BENCH_r{_round_number(_here):02d}_full_sf{sf}_c{cpus}.json",
        )
        if os.path.isfile(_side):
            with open(_side) as f:
                _old = json.load(f)
            if (
                _old.get("sf") == sf_val
                and _old.get("queries")
                and code_sha is not None
                and _old.get("code_sha") == code_sha
                and _old.get("cpus") == cpus
            ):
                _oq = _old["queries"]
                for q in timings:
                    if q in _oq:
                        timings[q] = min(timings[q], float(_oq[q]))
                calib = min(calib, float(_old.get("calibration_sec", calib)))
                job_lat = min(
                    job_lat, float(_old.get("job_latency_ms", 1e12)) / 1000.0
                )
                singer_rps = max(
                    singer_rps, int(_old.get("singer_rows_per_sec", 0))
                )
                cold_total = min(
                    cold_total, float(_old.get("cold_total", cold_total))
                )
                merged_runs = int(_old.get("merged_runs", 1)) + 1
    except Exception:
        merged_runs = 1
    total = round(sum(timings.values()), 3)

    result = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_total": cold_total,
        "singer_rows_per_sec": singer_rps,
        "calibration_sec": round(calib, 3),
        "job_latency_ms": round(job_lat * 1000, 1),
        "sf": sf_val,
        "cpus": cpus,
        "merged_runs": merged_runs,
        "code_sha": code_sha,
    }
    # Regression tracking is best-effort: after the queries have run, nothing
    # (malformed prior BENCH files included) may prevent the JSON line from
    # printing — rounds 2 and 3 both lost their bench artifact to exactly that.
    try:
        prev, prev_round, prev_calib = _previous_round(sf_val, cpus)
        if prev:
            # Drift-normalize (VERDICT r6 #4). The synthetic calibration
            # tracks CPU throughput, but the sub-second queries are
            # scheduler/latency-bound and drift on a DIFFERENT axis
            # (measured: calibration said 0.75× while the median query ran
            # 1.34× — opposite directions). The robust estimate is the
            # MEDIAN per-query ratio over the common set: whatever moved
            # the whole fleet is drift; a genuine code regression moves one
            # query far off that median. Calibration ratio is kept as a
            # reported diagnostic and as the fallback when too few queries
            # overlap. Flagging needs BOTH >10% above drift AND >0.2s
            # absolute — sub-second queries jitter past 10% on pure noise.
            common = sorted(q for q in timings if prev.get(q))
            ratios = sorted(timings[q] / prev[q] for q in common)
            calib_ratio = (calib / prev_calib) if prev_calib else None
            if len(ratios) >= 5:
                drift = ratios[len(ratios) // 2]
            else:
                drift = calib_ratio or 1.0
            deltas = {
                q: round(timings[q] / (prev[q] * drift) - 1, 3) for q in common
            }
            result["delta_vs_prev"] = deltas
            # which artifact the deltas compare against — a skipped/crashed
            # round must not silently shift the basis unnamed (VERDICT r4 #9)
            result["prev_round"] = prev_round
            result["drift_ratio_vs_prev"] = round(drift, 3)
            result["calibration_ratio_vs_prev"] = (
                round(calib_ratio, 3) if calib_ratio else None
            )
            # absolute-gap guard is INCLUSIVE: a gap of exactly 0.2s must
            # not silence the flag (it did for scd2_merge in round 7)
            result["regressions_gt_10pct"] = sorted(
                q
                for q, d in deltas.items()
                if d > 0.10 and timings[q] - prev[q] * drift >= 0.2
            )
            # A uniform fleet-wide code regression would be normalized
            # away by the median-ratio drift estimate. Cross-check: when
            # the fleet median moved >10% but the machine calibration
            # did NOT move correspondingly, that disagreement is itself
            # the signal — flag it instead of silently absorbing it.
            if calib_ratio and drift / calib_ratio >= 1.10:
                result["global_slowdown_suspect"] = round(
                    drift / calib_ratio, 3
                )
    except Exception:
        pass
    # Sidecar artifacts (VERDICT r7 #4): the driver's capture of stdout
    # front-truncates to 2000 chars, losing half the per-query dict each
    # round. Persist the FULL result repo-locally so the next round's
    # comparison basis never degrades to a tail-recovered partial.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        bdir = os.path.join(here, ".bench")
        os.makedirs(bdir, exist_ok=True)
        blob = json.dumps(result, indent=1)
        with open(os.path.join(bdir, f"last_sf{sf}.json"), "w") as f:
            f.write(blob)
        with open(
            os.path.join(bdir, f"run_{int(time.time() * 1000)}_sf{sf}.json"), "w"
        ) as f:
            f.write(blob)
        runs_on_disk = sorted(
            p for p in os.listdir(bdir) if p.startswith("run_")
        )
        for stale in runs_on_disk[:-30]:
            os.remove(os.path.join(bdir, stale))
        # Durable per-round full sidecar (VERDICT r10 #8): the driver's
        # BENCH_r{N}.json is tail-truncated to 2000 chars and has now
        # forced forensic basis recovery twice (r9 value-match, r10
        # delta-match). Write the full result under the ROUND's name.
        # Since r14 the result is ALREADY min-merged with any existing
        # same-round sidecar (see run()), so this write never loses the
        # round's noise floor — every in-session rerun tightens it.
        # Since r16 the name carries the core count (VERDICT r15 #3), so
        # the driver's low-core scaling run gets its own file and can
        # never overwrite or fold into the 32-core floor.
        with open(
            os.path.join(
                bdir,
                f"BENCH_r{_round_number(here):02d}_full_sf{sf}_c{cpus}.json",
            ),
            "w",
        ) as f:
            f.write(blob)
    except Exception:
        pass
    print(json.dumps(result))


def _code_fingerprint() -> str | None:
    """HEAD sha + sha256 of the working-tree diff (empty when clean) —
    two runs share a fingerprint iff they measured the same code, the
    key that gates the same-round sidecar min-merge (ADVICE r14 #4).
    None when git is unavailable (merge then never fires)."""
    import hashlib
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=here, capture_output=True,
            text=True, timeout=30,
        )
        # exclude .bench/ from the diff: the sidecars bench itself writes
        # are git-tracked, so without the exclusion every run changes the
        # fingerprint and the same-round min-merge NEVER fires twice in a
        # row on an uncommitted tree (observed r15: two back-to-back runs
        # of identical code each started a fresh basis)
        diff = subprocess.run(
            ["git", "diff", "HEAD", "--", ".", ":(exclude).bench"],
            cwd=here, capture_output=True,
            timeout=60,
        )
        if head.returncode != 0 or diff.returncode != 0:
            return None
        return (
            head.stdout.strip()
            + "+"
            + hashlib.sha256(diff.stdout).hexdigest()[:16]
        )
    except Exception:
        return None


def _round_number(here: str) -> int:
    """The current round: $SPARK_GRAFT_ROUND when the driver sets it,
    else one past the newest recorded root BENCH artifact (the driver
    writes BENCH_r{N}.json at round close, so mid-round runs land on
    N+1)."""
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is not None:
        return int(rnd)
    import glob as _glob
    import re as _re

    ns = []
    for p in _glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = _re.match(r"BENCH_r(\d+)\.json$", os.path.basename(p))
        if m:
            ns.append(int(m.group(1)))
    return max(ns, default=0) + 1


def _match_sidecar(here: str, recovered: dict[str, float]) -> dict | None:
    """The newest full sidecar run (.bench/run_*.json) whose per-query
    values agree with EVERY tail-recovered pair — i.e. the same run the
    truncated driver artifact captured. None when no sidecar matches."""
    import glob

    for path in sorted(
        glob.glob(os.path.join(here, ".bench", "run_*.json")), reverse=True
    ):
        try:
            with open(path) as f:
                rec = json.load(f)
            qs = rec.get("queries") or {}
            if all(
                abs(qs.get(k, float("nan")) - v) < 1e-9 for k, v in recovered.items()
            ):
                return rec
        except Exception:
            continue
    return None


def _match_sidecar_by_delta(here: str, deltas: dict[str, float]) -> dict | None:
    """Identify the run a tail-recovered DELTA dict came from (the r10
    case: BENCH_r09's 2000-char tail landed inside delta_vs_prev, whose
    values are drift-normalized ratios, often negative): the newest
    (run, basis) sidecar pair whose recomputed per-query deltas
    reproduce EVERY recovered pair at print precision."""
    import glob

    runs = []
    for path in sorted(
        glob.glob(os.path.join(here, ".bench", "run_*.json")), reverse=True
    ):
        try:
            with open(path) as f:
                rec = json.load(f)
            if rec.get("queries"):
                runs.append(rec)
        except Exception:
            continue
    for i, s in enumerate(runs):  # newest first — same preference as values
        sq = s["queries"]
        for b in runs[i + 1 :]:
            bq = b["queries"]
            common = sorted(q for q in sq if bq.get(q))
            if len(common) < 5 or not set(deltas) <= set(common):
                continue
            ratios = sorted(sq[q] / bq[q] for q in common)
            drift = ratios[len(ratios) // 2]
            if all(
                abs(round(sq[q] / (bq[q] * drift) - 1, 3) - v) < 5e-4
                for q, v in deltas.items()
            ):
                return s
    return None


def _previous_round(
    sf_val, cpus: int = 32
) -> tuple[dict[str, float], str | None, float | None]:
    """(per-query seconds, round tag, calibration_sec) from the newest
    parseable BENCH_r*.json at the same SF (round-over-round regression
    tracking; VERDICT r1 #10). The tag names WHICH artifact the basis came
    from, so a skipped/crashed round can't silently shift the comparison
    basis; the calibration lets the caller normalize away machine drift.
    Only a SAME-core-count basis is comparable (VERDICT r15 #3): a
    sidecar with a _c{N} suffix must match `cpus` exactly; a legacy
    unsuffixed sidecar is accepted only when its recorded cpus key is
    absent or matches."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    # Durable full sidecars first (VERDICT r10 #8): .bench/BENCH_r{N}_full
    # carries the COMPLETE result the truncated root artifact lost. Only
    # trusted when the driver actually recorded that round (the root
    # BENCH_r{N}.json exists) — an in-progress round's own sidecar never
    # becomes its own comparison basis.
    import re as _re

    # Sort by PARSED round number, not string order (ADVICE r11: lexical
    # reverse-sort picks r99 over r100), and pair each sidecar with its
    # root via the int round — driver roots may be padded (BENCH_r09) or
    # unpadded (BENCH_r9) depending on harness version.
    def _round_of(p: str) -> int:
        m = _re.match(r"BENCH_r(\d+)_full_sf", os.path.basename(p))
        return int(m.group(1)) if m else -1

    def _cpus_of(p: str):
        m = _re.search(r"_c(\d+)\.json$", os.path.basename(p))
        return int(m.group(1)) if m else None

    for path in sorted(
        glob.glob(os.path.join(here, ".bench", "BENCH_r*_full_sf*.json")),
        # within a round, prefer the cpus-suffixed (new-style) sidecar
        key=lambda p: (_round_of(p), _cpus_of(p) is not None),
        reverse=True,
    ):
        n = _round_of(path)
        if n < 0:
            continue
        # every legacy (unsuffixed, no-cpus-key) sidecar was written by a
        # 32-core run — treat missing metadata as 32, don't hand a
        # low-core run a 32-core comparison basis
        side_cpus = _cpus_of(path)
        if (side_cpus if side_cpus is not None else 32) != cpus:
            continue
        if not any(
            os.path.isfile(os.path.join(here, f"BENCH_r{tag}.json"))
            for tag in (str(n), f"{n:02d}")
        ):
            continue
        try:
            with open(path) as f:
                parsed = json.load(f)
            if parsed.get("cpus") not in (None, cpus):
                continue
            if parsed.get("sf") == sf_val and parsed.get("queries"):
                calib = parsed.get("calibration_sec")
                calib = float(calib) if calib else None
                return (
                    parsed["queries"],
                    os.path.basename(path) + " (durable full sidecar)",
                    calib,
                )
        except Exception:
            continue
    # Low-core roots (BENCH_r16_c8.json) carry the round too; the current
    # round's own roots are never its basis.
    def _root_round(p: str) -> int:
        m = _re.match(r"BENCH_r(\d+)(?:_c\d+)?\.json$", os.path.basename(p))
        return int(m.group(1)) if m else -1

    current = _round_number(here)
    for path in sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=_root_round,
        reverse=True,
    ):
        if not 0 <= _root_round(path) < current:
            continue
        # A prior round's BENCH file can be arbitrarily malformed (crashed
        # harness → "parsed": null, truncated JSON, non-dict top level…);
        # none of that may ever kill the current round's bench.
        try:
            with open(path) as f:
                rec = json.load(f)
            # the driver records its own core count in the root artifact;
            # a different-cpus run (e.g. BENCH_r15_c8.json) is not a
            # comparable basis for this run
            if (rec.get("cpus") or 32) != cpus:
                continue
            parsed = rec.get("parsed") or rec
            if (parsed.get("cpus") or 32) != cpus:
                continue
            if parsed.get("sf") == sf_val and parsed.get("queries"):
                calib = parsed.get("calibration_sec")
                calib = float(calib) if calib else None
                return parsed["queries"], os.path.basename(path), calib
            # Front-truncated driver capture ("parsed": null, last-2000-chars
            # "tail"): recover what survives — the timing pairs before
            # "cold_total" and the calibration scalar — so one corrupt
            # artifact doesn't silently shift the comparison basis a round
            # further back (it did in r06→r04).
            tail = rec.get("tail")
            if tail and rec.get("sf") == sf_val:
                import re

                cut = tail.find('"cold_total"')
                if cut <= 0 and '"delta_vs_prev"' not in tail:
                    # tail landed INSIDE or AFTER the delta_vs_prev dict
                    # (r9's artifact): the recovered pairs are normalized
                    # RATIO deltas (can be negative), which the value
                    # matcher can never hit. Identify the run by
                    # REPRODUCING the deltas from sidecar pairs instead.
                    pairs = re.findall(
                        r'"([a-z0-9_]+)": (-?[0-9.]+)[,}]', tail
                    )
                    meta = {
                        "drift_ratio_vs_prev", "calibration_ratio_vs_prev",
                        "global_slowdown_suspect", "calibration_sec",
                        "cold_total", "value", "sf", "singer_rows_per_sec",
                    }
                    deltas = {
                        k: float(v) for k, v in pairs if k not in meta
                    }
                    if len(deltas) >= 5:
                        full = _match_sidecar_by_delta(here, deltas)
                        if full:
                            return (
                                full["queries"],
                                os.path.basename(path)
                                + " (delta-sidecar-matched)",
                                float(full.get("calibration_sec") or 0)
                                or None,
                            )
                if cut > 0:
                    pairs = re.findall(r'"([a-z0-9_]+)": ([0-9.]+)[,}]', tail[:cut])
                    m = re.search(r'"calibration_sec": ([0-9.]+)', tail)
                    if len(pairs) >= 5:
                        recovered = {k: float(v) for k, v in pairs}
                        # Prefer a FULL sidecar run whose values agree
                        # with every recovered pair — that identifies the
                        # exact run the truncated artifact captured, so
                        # the basis covers the whole query set again.
                        full = _match_sidecar(here, recovered)
                        if full:
                            return (
                                full["queries"],
                                os.path.basename(path) + " (sidecar-matched)",
                                float(full.get("calibration_sec") or 0) or None,
                            )
                        return (
                            recovered,
                            os.path.basename(path) + " (tail-recovered, partial)",
                            float(m.group(1)) if m else None,
                        )
        except Exception:
            continue
    return {}, None, None


if __name__ == "__main__":
    main()
