"""Seeded input generators for the three benchmark workloads.

Everything is synthesized in-process from ``--seed`` (numpy, pyarrow,
pandas); nothing is downloaded and nothing outside the working directory
is read. The sf0.1 test tables are not part of a checkout, so each
generator draws a table with the distributions measured on its sf0.1
counterpart (``events``, ``documents``, ``embeddings``; the measured
figures are next to each generator) and plants changes and duplicates by
small perturbations of drawn rows, as ``tools/scale_probe.py`` does for
its replicas. Every generator returns the ground truth the output checks
compare against. The program under test only ever sees the files written
here.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# etl_sync: one Singer stream, "events", as CSV with a JSON "props" column
# ---------------------------------------------------------------------------

STREAM = "events"
STREAM_PK = ["event_id"]

_STR = {"type": ["string", "null"]}
CATALOG_PROPS = {
    "event_id": {"type": ["integer", "null"]},
    "ts": {"type": ["string", "null"], "format": "date-time"},
    "user_id": {"type": ["integer", "null"]},
    "event_type": _STR,
    "value": {"type": ["number", "null"]},
    "props": _STR,
}

# Shape of the sf0.1 ``events`` table (100k rows), as measured on it:
# ids 0..n-1 in time order, exponential gaps (mean 25.92 s) from
# 2024-01-01, user ids uniform over 1500, five event types in equal
# shares, value exponential (mean 49.87, median 34.77) rounded to cents,
# props a one-key JSON object {"k": uniform 0..99}.
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
EVENT_GAP_S = 25.92
EVENT_USERS = 1500
EVENT_VALUE_MEAN = 49.87
PROPS_K = 100
_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def _events(rng: np.random.Generator, first_id: int, n: int, t0_us: int = 0) -> pd.DataFrame:
    """``n`` events with ids ``first_id .. first_id+n-1``, the first
    ``t0_us`` microseconds after the epoch."""
    ts = _EPOCH + (t0_us + np.cumsum(rng.exponential(EVENT_GAP_S * 1e6, n))).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n),
            "ts": [t + "Z" for t in np.datetime_as_string(ts, unit="us")],
            "user_id": rng.integers(0, EVENT_USERS, n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(EVENT_VALUE_MEAN, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, PROPS_K, n)],
        }
    )


# each increment re-sends these shares of the full load's row count
CHANGED_SHARE = 0.01
NEW_SHARE = 0.005
UNCHANGED_SHARE = 0.005


def gen_etl(root: str, seed: int, n_rows: int, n_increments: int) -> list[dict]:
    """Write one full-sync input dir of ``n_rows`` events plus
    ``n_increments`` incremental input dirs under ``root``, and a
    ``catalog.json`` beside them.

    Each increment re-sends ``CHANGED_SHARE`` of the rows with a new
    ``value``, ``NEW_SHARE`` rows under new ids and ``UNCHANGED_SHARE`` rows
    exactly as the state holds them. Changed and unchanged rows are drawn
    without replacement from full-load rows no earlier increment touched,
    so an "unchanged" row really equals its stored version. Returns the
    ground truth per sync: its input dir, row count, the ids a CDC step
    must keep (changed + new; None for the full load, which keeps all),
    the new ``value`` of each changed id and the distinct-id count the
    snapshot must hold afterwards.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    catalog = {
        "streams": [
            {
                "stream": STREAM,
                "tap_stream_id": STREAM,
                "key_properties": STREAM_PK,
                "schema": {"type": "object", "properties": CATALOG_PROPS},
            }
        ]
    }
    with open(os.path.join(root, "catalog.json"), "w") as f:
        json.dump(catalog, f)

    def write(df: pd.DataFrame, i: int) -> str:
        d = os.path.join(root, f"sync-{i:04d}")
        os.makedirs(d)
        df.to_csv(os.path.join(d, f"{STREAM}-{i:04d}.csv"), index=False)
        return d

    base = _events(rng, 0, n_rows)
    syncs = [{"dir": write(base, 0), "rows": n_rows, "kept_pks": None, "changed": {}, "distinct_pks": n_rows}]
    order = rng.permutation(n_rows)
    n_chg = max(1, round(n_rows * CHANGED_SHARE))
    n_new = max(1, round(n_rows * NEW_SHARE))
    n_same = max(1, round(n_rows * UNCHANGED_SHARE))
    next_id = n_rows
    t_end = int(EVENT_GAP_S * 1e6 * n_rows)
    for i in range(1, n_increments + 1):
        picks = order[(i - 1) * (n_chg + n_same) : i * (n_chg + n_same)]
        changed = base.iloc[picks[:n_chg]].copy()
        # a fresh draw plus at least a cent, so every changed value differs
        changed["value"] = np.round(changed["value"] + 0.01 + rng.exponential(EVENT_VALUE_MEAN, n_chg), 2)
        new = _events(rng, next_id, n_new, t_end)
        t_end += int(EVENT_GAP_S * 1e6 * n_new)
        next_id += n_new
        batch = pd.concat([changed, new, base.iloc[picks[n_chg:]]], ignore_index=True)
        syncs.append(
            {
                "dir": write(batch.iloc[rng.permutation(len(batch))], i),
                "rows": len(batch),
                "kept_pks": sorted(int(v) for v in pd.concat([changed, new])["event_id"]),
                "changed": {int(k): float(v) for k, v in zip(changed["event_id"], changed["value"])},
                "distinct_pks": next_id,
            }
        )
    return syncs


# ---------------------------------------------------------------------------
# corpus_curation: documents with planted exact / near duplicates
# ---------------------------------------------------------------------------

# Shape of the sf0.1 ``documents`` table (5000 docs), as measured on it:
# one line per document, 10..99 words drawn uniformly from the 30-word
# vocabulary below, 5% near-duplicates made by appending the token "dup"
# to another document's text (word-3-gram Jaccard 0.80-0.99 to it), and
# 0.16% exact duplicates. Five languages tag the rows (en 41%, es/fr/de/zh
# about 15% each); no operator here reads them.
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window",
]
DOC_WORDS = (10, 100)
EXACT_SHARE = 0.0016
NEAR_SHARE = 0.05
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# One departure from the measured table: its vocabulary holds one of the
# Gopher stopwords ("the"), so the Gopher stopword rule (>= 2 distinct)
# rejects every document and the stages after the filter would see no
# input. "and" is added to the vocabulary; which documents then pass is
# replayed exactly by ``checks.gopher_pass``.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
DOC_VOCAB = VOCAB + ["and"]


def shingles(text: str, n: int = 3) -> set[str]:
    """Python twin of ``llm.text.shingles_expr``: lowercase, whitespace
    tokens, word ``n``-grams."""
    toks = text.lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def gen_corpus(path: str, seed: int, n_base: int, id_offset: int = 0) -> dict:
    """Write a documents parquet (``doc_id``, ``text``, ``lang``) and return
    its ground truth: planted exact copies (id -> source id), planted
    near-duplicates (id -> twin id and measured Jaccard) and every
    document's text.

    Base documents follow the measured sf0.1 shape (see ``VOCAB``), so two
    base documents never come near a dedup threshold. Near-duplicates
    append " dup" to a base text, as in the sf0.1 table; exact copies
    repeat a base text verbatim (at least one per corpus, so the exact
    dedup always has work). Copies get ids above every base id, so each
    dedup keeps the base and drops the copy.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(DOC_VOCAB)
    texts: dict[int, str] = {
        id_offset + i: " ".join(rng.choice(vocab, int(rng.integers(*DOC_WORDS)))) for i in range(n_base)
    }
    next_id = id_offset + n_base
    n_exact = max(1, round(n_base * EXACT_SHARE))
    n_near = max(1, round(n_base * NEAR_SHARE))
    sources = [id_offset + int(s) for s in rng.choice(n_base, n_exact + n_near, replace=False)]
    exact: dict[int, int] = {}
    for src in sources[:n_exact]:
        exact[next_id] = src
        texts[next_id] = texts[src]
        next_id += 1
    near: dict[int, dict] = {}
    for src in sources[n_exact:]:
        texts[next_id] = texts[src] + " dup"
        near[next_id] = {"twin": src, "jaccard": jaccard(texts[src], texts[next_id])}
        next_id += 1

    ids = np.array(sorted(texts))
    shuffled = ids[rng.permutation(len(ids))]
    table = pa.table(
        {
            "doc_id": pa.array(shuffled, pa.int64()),
            "text": pa.array([texts[int(i)] for i in shuffled], pa.string()),
            "lang": pa.array(rng.choice(LANGS, len(ids), p=LANG_P), pa.string()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return {"n_docs": len(ids), "exact": exact, "near": near, "texts": texts}


# ---------------------------------------------------------------------------
# vector_serving: clustered unit vectors, append batch, planted self-queries
# ---------------------------------------------------------------------------


# Shape of the sf0.1 ``embeddings`` table (2000 x 64, float32), as
# measured on it: unit vectors with no cluster structure. The mean of each
# of its ten ``label`` groups has norm 0.063-0.076, what ~200 independent
# uniform unit vectors give (1/sqrt(200) = 0.071), and nearest-neighbour
# cosines are 0.33-0.60 (median 0.41), as for uniform points on the
# 64-d sphere. Labels are uniform over 10.
VEC_LABELS = 10
VEC_DIM = 64
VEC_APPEND_SHARE = 0.05


def _unit_vectors(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    flat = pa.array(vecs.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(table, path)


def gen_vectors(
    root: str,
    seed: int,
    n_base: int,
    n_single: int,
    batch_size: int,
    n_batches: int,
) -> dict:
    """Write ``base.parquet``, ``append.parquet`` and ``queries.parquet``
    (``vec_id``, ``embedding`` list<float>, ``label``) under ``root``.

    Vectors are uniform unit vectors, the measured sf0.1 shape.
    Every query is a planted self-query: a stored vector (base or appended)
    queried verbatim, so its own id must come back at rank 1. ``batches``
    lists the query ids of each batch; ``single`` (the first ``n_single``
    ids of the first batch, with their vectors) are also served one at a
    time, so the two serving paths can be compared on them.
    """
    rng = np.random.default_rng(seed)
    n_app = max(1, int(n_base * VEC_APPEND_SHARE))
    vecs = _unit_vectors(rng, n_base + n_app, VEC_DIM)
    labels = rng.integers(0, VEC_LABELS, n_base + n_app)
    ids = np.arange(n_base + n_app, dtype=np.int64)
    _write_vectors(os.path.join(root, "base.parquet"), ids[:n_base], vecs[:n_base], labels[:n_base])
    _write_vectors(os.path.join(root, "append.parquet"), ids[n_base:], vecs[n_base:], labels[n_base:])

    rows = rng.choice(len(ids), batch_size * n_batches, replace=False)
    _write_vectors(os.path.join(root, "queries.parquet"), ids[rows], vecs[rows], labels[rows])
    batches = [sorted(int(i) for i in ids[rows[b * batch_size : (b + 1) * batch_size]]) for b in range(n_batches)]
    single = batches[0][:n_single]
    return {
        "n_base": n_base,
        "n_append": n_app,
        "batches": batches,
        "single": single,
        "single_vecs": {i: [float(x) for x in vecs[i]] for i in single},
    }


def checksum(root: str) -> str:
    """sha256 over the relative path and bytes of every file under ``root``."""
    h = hashlib.sha256()
    files = sorted(
        os.path.join(d, n) for d, _, names in os.walk(root) for n in names
    )
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
