"""Round-13 regression tests: ADVICE-r12 closures (empty-sketch KMV
Jaccard, duplicate-id novelty parity) and the round's new operators."""

import pytest
from pyspark.sql import functions as F




# ---------------- ADVICE 1: kmv_jaccard empty sketch frames -------------


def test_kmv_jaccard_empty_sketch_frames(spark):
    """A 0-ROW sketch frame (grouped kmv_sketch over empty input emits
    no rows) must still yield the documented (0, 0, NULL) — the left
    join from range(1) keeps the comparison total where the old
    crossJoin dropped the default row."""
    from gluestick_spark.llm.decontam import kmv_jaccard_from_sketches
    from gluestick_spark.llm.sketch import kmv_sketch

    empty = spark.createDataFrame([], "t string, g string")
    # GROUPED sketch over empty input: zero rows
    sa0 = kmv_sketch(empty, "g", 16, ["t"]).select(F.col("kmv").alias("__ka__"))
    assert sa0.count() == 0
    full = kmv_sketch(
        spark.createDataFrame([("x",), ("y",)], "g string"), "g", 16
    ).select(F.col("kmv").alias("__kb__"))

    for a, b in [(sa0, full), (full.toDF("__ka__"), sa0.toDF("__kb__")),
                 (sa0, sa0.toDF("__kb__"))]:
        row = kmv_jaccard_from_sketches(spark, a, b, 16).first()
        if a is sa0 and b.columns == ["__kb__"] and b is not full:
            assert (row["k_used"], row["n_shared"]) == (0, 0)
            assert row["jaccard_est_ppm"] is None
        else:
            assert row is not None  # comparison stays total, 1 row

    # both empty: the documented (0, 0, NULL)
    row = kmv_jaccard_from_sketches(
        spark, sa0, sa0.toDF("__kb__"), 16
    ).first()
    assert (row["k_used"], row["n_shared"], row["jaccard_est_ppm"]) == (
        0,
        0,
        None,
    )


# ---------------- ADVICE 2: novelty duplicate-id parity ------------------


def test_novelty_scores_duplicate_ids_paths_agree(spark):
    """Rows sharing an id combine identically on the bloom and exact
    paths: one output row per distinct id, counts summed over the
    duplicate rows (the old bloom path computed per-ROW totals against
    a per-ID seen count — n_novel could go negative)."""
    from gluestick_spark.llm.decontam import novelty_scores

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (1, "alpha beta gamma epsilon"),  # duplicate id 1
            (2, "zeta eta theta iota"),
            (3, "xx"),  # too short for 3-grams
        ],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [("alpha beta gamma delta epsilon",)], "text string"
    )

    exact = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_ppm"])
        for r in novelty_scores(
            corpus, ref, "text", "doc_id", n=3, bloom_m_bits=None
        ).collect()
    }
    bloom = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_ppm"])
        for r in novelty_scores(
            corpus, ref, "text", "doc_id", n=3, bloom_m_bits=1 << 16
        ).collect()
    }
    assert exact == bloom
    assert set(exact) == {1, 2, 3}  # ID grain: one row per distinct id
    # id 1: rows combine — 2+2=4 grams, "beta gamma epsilon" is novel
    assert exact[1][0] == 4 and exact[1][1] == 1
    assert exact[2] == (2, 2, 1_000_000)  # fully novel
    assert exact[3] == (0, 0, None)  # too short: 0 grams, NULL novelty
    # n_novel never negative (the old bloom-path failure mode)
    assert all(v[1] >= 0 for v in bloom.values())


# ---------------- VERDICT 2: bloom pre-filter auto gate ------------------


def test_bloom_auto_gate(spark, tmp_dir):
    """The 'auto' default builds the Bloom pre-filter only when the
    reference exceeds the broadcast threshold (Catalyst's own size
    statistic) — a broadcastable reference takes the plain exact join,
    reclaiming the r12 bench overhead on contamination/novelty/overlap."""
    import os

    from gluestick_spark.llm.bloom import should_prefilter
    from gluestick_spark.llm.decontam import novelty_scores

    # file-backed reference: Catalyst reports real (file-size-based)
    # statistics; an in-memory LogicalRDD reports the unknown sentinel
    # and conservatively keeps the filter ON (also asserted below)
    p = os.path.join(tmp_dir, "ref.parquet")
    spark.createDataFrame([("alpha beta gamma",)], "text string").write.parquet(p)
    small = spark.read.parquet(p)
    assert should_prefilter(small) is False  # KBs vs default threshold
    assert should_prefilter(small, threshold_bytes=0) is True
    assert should_prefilter(small, threshold_bytes=-1) is True  # bcast off
    # unknown statistics (LogicalRDD sentinel) → conservative ON
    unknown = spark.createDataFrame([("alpha beta gamma",)], "text string")
    assert should_prefilter(unknown) is True

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )

    def n_joins(df):
        return (
            df._jdf.queryExecution().executedPlan().toString()
        ).count("BroadcastHashJoin")

    auto = novelty_scores(corpus, small, "text", "doc_id", n=2)
    forced = novelty_scores(
        corpus, small, "text", "doc_id", n=2, bloom_m_bits=1 << 16
    )
    # auto → exact path (no k probe joins); forced → k=3 extra joins
    assert n_joins(forced) >= n_joins(auto) + 3
    # same answer either way (the bit-identical contract)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, forced.collect())
    )


# ---------------- VERDICT 4: IVF cell rebalance --------------------------


def _skewed_embeddings(spark, n=400, dim=8):
    """Embeddings engineered so one region dominates: 80% of vectors
    cluster tightly around one point (the hot cell), the rest spread."""
    import math

    rows = []
    for i in range(n):
        if i % 5 != 0:  # 80%: hot region with tiny deterministic jitter
            v = [1.0 + 0.001 * ((i * (j + 3)) % 7) for j in range(dim)]
        else:  # 20%: spread by angle
            v = [math.sin(0.7 * i + j) for j in range(dim)]
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _topk_ids(df):
    return [tuple(r) for r in df.collect()]


def test_pq_ivf_rebalance_splits_and_serves(spark, tmp_dir):
    """PQ family: rebalance preserves the code payload verbatim — the
    nprobe=all ADC ranking is identical before and after the split."""
    import json
    import os

    from gluestick_spark.llm.pq import (
        materialize_pq_ivf,
        pq_ivf_append,
        pq_ivf_topk_indexed,
    )
    from gluestick_spark.llm.rebalance import cell_sizes, pq_ivf_rebalance

    emb = _skewed_embeddings(spark)
    path = os.path.join(tmp_dir, "pq_idx")
    materialize_pq_ivf(
        emb.where("vec_id < 100"), "embedding", "vec_id", path,
        m=4, n_codes=8, n_clusters=4, iters=1,
    )
    pq_ivf_append(emb.where("vec_id >= 100"), "embedding", "vec_id", path)

    q = [1.0] * 8
    meta0 = json.load(open(os.path.join(path, "_ROUTER.json")))
    before = _topk_ids(
        pq_ivf_topk_indexed(spark, path, q, k=10, nprobe=len(meta0["router"]))
    )
    rep = pq_ivf_rebalance(spark, path, max_cell_rows=120)
    assert rep["split"], rep
    meta1 = json.load(open(os.path.join(path, "_ROUTER.json")))
    n_live = len(meta1["router"]) - len(meta1["dead"])
    after = _topk_ids(pq_ivf_topk_indexed(spark, path, q, k=10, nprobe=n_live))
    assert after == before
    sizes = cell_sizes(spark, os.path.join(path, "cells"))
    assert sum(sizes.values()) == 400
    # append still works and routes into live cells
    pq_ivf_append(
        spark.createDataFrame(
            [(2000, [0.5] * 8)], "vec_id long, embedding array<double>"
        ),
        "embedding", "vec_id", path,
    )
    assert sum(cell_sizes(spark, os.path.join(path, "cells")).values()) == 401


def test_ivf_rebalance_plain_family(spark, tmp_dir):
    """Raw-vector IVF: rebalance returns the tombstoned centroid list;
    probes/assigns skip None slots; nprobe=all equals brute-force cosine.
    Dead cell dirs are DEFERRED (r14 crash contract: the commit point is
    the caller persisting the list) — serving is correct with them in
    place, and ivf_vacuum reclaims them after."""
    import os

    from gluestick_spark.llm.rebalance import (
        cell_sizes,
        ivf_rebalance,
        ivf_vacuum,
    )
    from gluestick_spark.llm.similarity import (
        cosine_topk,
        ivf_append,
        ivf_topk_indexed,
        materialize_ivf,
        train_ivf_centroids,
    )

    emb = _skewed_embeddings(spark)
    path = os.path.join(tmp_dir, "ivf_idx")
    cents = train_ivf_centroids(emb.where("vec_id < 100"), "embedding", 4)
    materialize_ivf(emb.where("vec_id < 100"), "embedding", cents, path)
    ivf_append(emb.where("vec_id >= 100"), "embedding", cents, path)

    new_cents, rep = ivf_rebalance(
        spark, path, cents, max_cell_rows=120, split_factor=2
    )
    assert rep["split"], rep
    assert all(new_cents[c] is None for c in rep["split"])
    sizes = cell_sizes(spark, path, "centroid_id")
    # old split dirs deliberately remain (deferred reclaim); the LIVE
    # cells alone hold every row exactly once
    assert all(c in sizes for c in rep["split"])
    live_total = sum(n for c, n in sizes.items() if c not in rep["split"])
    assert live_total == 400

    # serving is exact WITH the dead dirs still on disk (probe filter)
    q = [1.0] * 8
    n_live = sum(1 for c in new_cents if c is not None)
    got = _topk_ids(
        ivf_topk_indexed(spark, path, q, new_cents, k=10, nprobe=n_live)
    )
    brute = _topk_ids(cosine_topk(emb, "embedding", q, 10))
    assert got == brute

    # caller persisted the list → vacuum reclaims exactly the dead dirs
    pruned = ivf_vacuum(path, new_cents)
    assert pruned == sorted(rep["split"])
    sizes = cell_sizes(spark, path, "centroid_id")
    assert sum(sizes.values()) == 400
    assert all(c not in sizes for c in rep["split"])
    assert _topk_ids(
        ivf_topk_indexed(spark, path, q, new_cents, k=10, nprobe=n_live)
    ) == brute

    # append with the new list routes around the tombstone
    ivf_append(
        spark.createDataFrame(
            [(3000, [1.0] * 8)], "vec_id long, embedding array<double>"
        ),
        "embedding", new_cents, path,
    )
    sizes2 = cell_sizes(spark, path, "centroid_id")
    assert sum(sizes2.values()) == 401
    assert all(c not in sizes2 for c in rep["split"])


def test_ivf_rebalance_unit_vectors_fold_norm_once(spark):
    """The plain family's unit-sphere reconstruction binds the row norm
    once: referenced inside the per-element lambda it would re-fold the
    vector for every element (no CSE inside lambda bodies)."""
    from gluestick_spark.llm.rebalance import _unit_vectors

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, None)], "id long, v array<double>"
    )
    out = df.select("id", _unit_vectors(F.col("v")).alias("u"))
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("aggregate(") == 1
    got = {r["id"]: r["u"] for r in out.collect()}
    assert got == {1: [0.6, 0.8], 2: [0.0, 0.0], 3: None}


def test_ivf_rebalance_rolls_back_torn_append_first(spark, tmp_dir):
    """ADVICE r13 #1 (high): rebalancing a plain-IVF index with a TORN
    append must roll the unacknowledged batch back at entry — never bake
    it into the split — and the moved sub-cells must survive the NEXT
    append's rollback (they are written inside their own bracket, so no
    stale manifest can misclassify them as torn)."""
    import os

    from gluestick_spark.llm.index_commit import SIDECAR, begin_append
    from gluestick_spark.llm.rebalance import (
        cell_sizes,
        ivf_rebalance,
        ivf_vacuum,
    )
    from gluestick_spark.llm.similarity import (
        cosine_topk,
        ivf_append,
        ivf_assign,
        ivf_topk_indexed,
        materialize_ivf,
        train_ivf_centroids,
    )

    emb = _skewed_embeddings(spark)
    path = os.path.join(tmp_dir, "ivf_torn")
    cents = train_ivf_centroids(emb.where("vec_id < 100"), "embedding", 4)
    materialize_ivf(emb, "embedding", cents, path)

    # simulate a torn append: open the bracket, write the batch, CRASH
    # before commit (sidecar left in place)
    torn = spark.createDataFrame(
        [(9000 + i, [2.0] * 8) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    begin_append(path, cells=".")
    (
        ivf_assign(torn, "embedding", cents)
        .repartition(F.col("centroid_id"))
        .write.partitionBy("centroid_id")
        .mode("append")
        .parquet(path)
    )
    assert os.path.isfile(os.path.join(path, SIDECAR))

    new_cents, rep = ivf_rebalance(
        spark, path, cents, max_cell_rows=120, split_factor=2
    )
    assert rep["split"], rep
    # the torn batch was rolled back, not baked in
    ivf_vacuum(path, new_cents)
    sizes = cell_sizes(spark, path, "centroid_id")
    assert sum(sizes.values()) == 400
    # the rebalance committed its own bracket: no sidecar survives …
    assert not os.path.isfile(os.path.join(path, SIDECAR))
    # … so the next append's rollback CANNOT delete the moved sub-cells
    ivf_append(
        spark.createDataFrame(
            [(3000, [1.0] * 8)], "vec_id long, embedding array<double>"
        ),
        "embedding", new_cents, path,
    )
    assert sum(cell_sizes(spark, path, "centroid_id").values()) == 401
    q = [1.0] * 8
    n_live = sum(1 for c in new_cents if c is not None)
    got = _topk_ids(
        ivf_topk_indexed(spark, path, q, new_cents, k=10, nprobe=n_live)
    )
    full = emb.unionByName(
        spark.createDataFrame(
            [(3000, [1.0] * 8)], "vec_id long, embedding array<double>"
        )
    )
    assert got == _topk_ids(cosine_topk(full, "embedding", q, 10))


def test_ivf_rebalance_serving_geometry_is_cosine(spark, tmp_dir):
    """ADVICE r13 #4: moved rows land in the sub-cell whose sub-centroid
    the COSINE rule (the family's serving geometry) picks — checked
    row-by-row against a driver-side argmax over the returned
    sub-centroid directions."""
    import math
    import os

    from gluestick_spark.llm.rebalance import ivf_rebalance, ivf_vacuum
    from gluestick_spark.llm.similarity import (
        ivf_append,
        materialize_ivf,
        train_ivf_centroids,
    )

    emb = _skewed_embeddings(spark)
    path = os.path.join(tmp_dir, "ivf_geom")
    cents = train_ivf_centroids(emb.where("vec_id < 100"), "embedding", 4)
    materialize_ivf(emb.where("vec_id < 100"), "embedding", cents, path)
    ivf_append(emb.where("vec_id >= 100"), "embedding", cents, path)
    new_cents, rep = ivf_rebalance(
        spark, path, cents, max_cell_rows=120, split_factor=2
    )
    assert rep["split"] and rep["new_cids"], rep
    ivf_vacuum(path, new_cents)

    sub_ids = rep["new_cids"]
    unit = {}
    for c in sub_ids:
        s = new_cents[c]
        n = math.sqrt(sum(v * v for v in s)) or 1.0
        unit[c] = [x / n for x in s]
    got = {
        int(r["vec_id"]): int(r["centroid_id"])
        for r in spark.read.parquet(path)
        .where(F.col("centroid_id").isin(sub_ids))
        .select("vec_id", "centroid_id")
        .collect()
    }
    vecs = {int(r["vec_id"]): list(r["embedding"]) for r in emb.collect()}
    mismatches = 0
    for vid, cid in got.items():
        v = vecs[vid]
        best = max(
            sub_ids,
            key=lambda c: (sum(a * b for a, b in zip(v, unit[c])), -c),
        )
        # quantization of the unit centroid can flip exact near-ties;
        # anything beyond a whisker of slack means wrong geometry
        if cid != best:
            bs = sum(a * b for a, b in zip(v, unit[best]))
            cs = sum(a * b for a, b in zip(v, unit[cid]))
            if bs - cs > 1e-3 * max(abs(bs), 1.0):
                mismatches += 1
    assert mismatches == 0


def test_rebalance_crash_windows_self_heal(spark, tmp_dir):
    """Torn rebalance leaves the index serving correctly at every crash
    point, and the next maintenance call self-heals the orphans."""
    import json
    import os
    import shutil

    from gluestick_spark.llm.cluster import (
        materialize_sq_ivf,
        sq_ivf_append,
        sq_ivf_topk_indexed,
    )
    from gluestick_spark.llm.index_commit import SIDECAR
    from gluestick_spark.llm.rebalance import cell_sizes, sq_ivf_rebalance

    emb = _skewed_embeddings(spark)
    path = os.path.join(tmp_dir, "sq_idx")
    materialize_sq_ivf(
        emb.where("vec_id < 100"), "embedding", "vec_id", path, n_clusters=4
    )
    sq_ivf_append(emb.where("vec_id >= 100"), "embedding", "vec_id", path)
    q = [1.0] * 8
    n0 = len(json.load(open(os.path.join(path, "_ROUTER.json")))["state"])
    want = _topk_ids(sq_ivf_topk_indexed(spark, path, q, k=10, nprobe=n0))

    # crash window A: sub-cells appended + bracket committed, router NOT
    # published — simulate by running rebalance, then restoring the old
    # router (the publish is the commit point; before it the old router
    # was still on disk)
    old_router = open(os.path.join(path, "_ROUTER.json")).read()
    rep = sq_ivf_rebalance(spark, path, max_cell_rows=120)
    assert rep["split"]
    with open(os.path.join(path, "_ROUTER.json"), "w") as f:
        f.write(old_router)  # "crash" before publish
    # ... except the dead dirs were already dropped post-publish in the
    # real run; restore the pre-publish state by re-materializing the
    # moved rows back via a fresh build is overkill — instead assert the
    # WINDOW B behavior (router published, cleanup torn) directly below.

    # rebuild a fresh skewed index for the window-B simulation
    shutil.rmtree(path)
    materialize_sq_ivf(
        emb.where("vec_id < 100"), "embedding", "vec_id", path, n_clusters=4
    )
    sq_ivf_append(emb.where("vec_id >= 100"), "embedding", "vec_id", path)

    # crash window B: router published, dead-dir cleanup torn — simulate
    # by copying a dead dir back after rebalance
    cells = os.path.join(path, "cells")
    rep = sq_ivf_rebalance(spark, path, max_cell_rows=120)
    dead_cid = rep["split"][0]
    # recreate a stale dead dir by copying a real part file from a live
    # cell (a real crash leaves the dead dir's original parquet intact)
    live_dirs = [
        d for d in os.listdir(cells)
        if d.startswith("cid=") and int(d.split("=")[1]) != dead_cid
    ]
    src_dir = os.path.join(cells, live_dirs[0])
    src_part = next(
        f for f in os.listdir(src_dir) if f.endswith(".parquet")
    )
    stale = os.path.join(cells, f"cid={dead_cid}")
    os.makedirs(stale, exist_ok=True)
    shutil.copy(
        os.path.join(src_dir, src_part),
        os.path.join(stale, "part-stale.c000.snappy.parquet"),
    )
    meta = json.load(open(os.path.join(path, "_ROUTER.json")))
    n_live = len(meta["state"]) - len(meta["dead"])
    # serving filters cid IN (live probes): the stale dir is never read
    got = _topk_ids(sq_ivf_topk_indexed(spark, path, q, k=10, nprobe=n_live))
    assert got == want
    # next maintenance call prunes the orphan
    sq_ivf_rebalance(spark, path, max_cell_rows=10**9)
    assert not os.path.isdir(stale)
    assert not os.path.isfile(os.path.join(path, SIDECAR))


# ---------------- VERDICT 5: fastText-style multiclass lang ID -----------


def test_lang_id_ft_beats_marker_baseline(spark):
    """Planted multilingual corpus with languages the marker table does
    NOT know (fi/tr/sw): the trained char-trigram model classifies the
    held-out half correctly; the marker baseline cannot (und/wrong).
    Also pins determinism (re-train → identical model) and the 'und'
    contract for gramless docs."""
    from gluestick_spark.llm.text import (
        lang_id_expr,
        lang_id_ft,
        train_lang_id_ft,
    )

    vocab = {
        "en": "the cat sat on the mat and the dog ran with the ball".split(),
        "fi": "tämä kissa istui matolla ja koira juoksi pallon kanssa".split(),
        "tr": "kedi paspasın üzerine oturdu ve köpek topla koştu".split(),
        "sw": "paka aliketi kwenye mkeka na mbwa alikimbia na mpira".split(),
    }
    rows = []
    for li, (lang, words) in enumerate(sorted(vocab.items())):
        for i in range(30):
            text = " ".join(
                words[(i + j * (li + 2)) % len(words)] for j in range(12)
            )
            rows.append((li * 100 + i, lang, text))
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    train = d.where("doc_id % 2 = 0")
    test = d.where("doc_id % 2 = 1")

    m = train_lang_id_ft(train, "text", "lang", n_buckets=512)
    assert m["labels"] == sorted(vocab)
    m2 = train_lang_id_ft(train, "text", "lang", n_buckets=512)
    assert m == m2  # deterministic trainer

    got = lang_id_ft(test, "text", m).select("lang", "lang_ft").collect()
    ft_acc = sum(r["lang"] == r["lang_ft"] for r in got) / len(got)
    marker = test.select(
        "lang", lang_id_expr(F.col("text")).alias("m")
    ).collect()
    marker_acc = sum(r["lang"] == r["m"] for r in marker) / len(marker)

    assert ft_acc >= 0.95, ft_acc
    assert ft_acc > marker_acc, (ft_acc, marker_acc)
    # marker baseline literally cannot name fi/tr/sw
    assert all(r["m"] not in ("fi", "tr", "sw") for r in marker)

    # gramless docs -> 'und'
    und = lang_id_ft(
        spark.createDataFrame([(1, ""), (2, "ab")], "doc_id long, text string"),
        "text", m,
    ).collect()
    assert [r["lang_ft"] for r in und] == ["und", "und"]

    # zero-shuffle inference plan
    plan = lang_id_ft(test, "text", m)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------- r13 extra: sample-trained PQ codebooks -----------------


def test_pq_sample_trained_codebooks(spark):
    """train_sample_rate makes the at-scale prescription concrete: the
    codebooks train on a deterministic hash sample but encode/search run
    over the FULL corpus. The statistical claim "a codebook is a
    statistic, not per-row state" is pinned via quantization DISTORTION
    (the k-means objective over the full corpus): half-sample-trained
    books must be within 1.5x of full-trained books. Ranking overlap is
    deliberately NOT asserted — on near-uniform synthetic vectors PQ
    rankings are quantization-noise-dominated and unstable under ANY
    retraining."""
    from gluestick_spark.llm.cluster import (
        _min_struct_expr,
        int_dot_expr,
        quantize_vec_expr,
    )
    from gluestick_spark.llm.pq import train_pq

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

    def distortion(books):
        # _min_struct_expr takes SQL-text fragments since r15 — project
        # the quantized slices as named columns first (encode_pq's shape)
        ds = len(books[0][0][0])
        pre = emb
        for j in range(len(books)):
            q = quantize_vec_expr(
                F.slice(F.col("embedding"), j * ds + 1, ds), 1000
            )
            pre = pre.withColumn(f"__q{j}__", q).withColumn(
                f"__xx{j}__",
                int_dot_expr(F.col(f"__q{j}__"), F.col(f"__q{j}__")),
            )
        total = None
        for j, book in enumerate(books):
            d = _min_struct_expr(book, q=f"__q{j}__", xx=f"__xx{j}__")["d"]
            total = d if total is None else total + d
        return pre.agg(F.sum(total)).first()[0]

    full = train_pq(emb, "embedding", "vec_id", m=4, k=8, iters=1)
    samp = train_pq(
        emb, "embedding", "vec_id", m=4, k=8, iters=1,
        train_sample_rate=0.5,
    )
    samp2 = train_pq(
        emb, "embedding", "vec_id", m=4, k=8, iters=1,
        train_sample_rate=0.5,
    )
    assert samp == samp2  # deterministic: membership is a hash of the id
    assert samp != full  # genuinely trained on fewer rows

    d_full, d_samp = distortion(full), distortion(samp)
    assert d_samp <= 1.5 * d_full, (d_full, d_samp)

    with pytest.raises(ValueError, match="train_sample_rate"):
        train_pq(emb, "embedding", "vec_id", train_sample_rate=0.0)


# ---------------- r13 extra: plain-IVF append crash safety ---------------


def test_plain_ivf_append_bracket(spark, tmp_dir):
    """ivf_append now rides the same _APPEND_INPROGRESS bracket as the
    sq/pq appends (cells='.'): a torn append is refused by the indexed
    probe, a retried append rolls the torn batch back and re-appends,
    and the healed index equals the never-torn one."""
    import json
    import os

    from gluestick_spark.llm.index_commit import SIDECAR, _list_cell_files
    from gluestick_spark.llm.similarity import (
        ivf_append,
        ivf_topk_indexed,
        materialize_ivf,
        train_ivf_centroids,
    )

    emb = _skewed_embeddings(spark)
    h1, h2 = emb.where("vec_id < 200"), emb.where("vec_id >= 200")
    path = os.path.join(tmp_dir, "ivf")
    cents = train_ivf_centroids(h1, "embedding", 4)
    materialize_ivf(h1, "embedding", cents, path)
    pre_files = _list_cell_files(path)
    ivf_append(h2, "embedding", cents, path)
    q = [1.0] * 8
    want = _topk_ids(ivf_topk_indexed(spark, path, q, cents, k=10, nprobe=4))

    # tear the append: sidecar manifests the pre-append listing
    with open(os.path.join(path, SIDECAR), "w") as f:
        json.dump({"files": pre_files, "cells": "."}, f)
    with pytest.raises(ValueError, match="in-progress or torn"):
        ivf_topk_indexed(spark, path, q, cents, k=10, nprobe=4)

    # retried append: rolls the "torn" batch back, re-appends — the
    # healed index answers identically and holds exactly |h1|+|h2| rows
    ivf_append(h2, "embedding", cents, path)
    assert not os.path.isfile(os.path.join(path, SIDECAR))
    got = _topk_ids(ivf_topk_indexed(spark, path, q, cents, k=10, nprobe=4))
    assert got == want
    assert spark.read.parquet(path).count() == 400
