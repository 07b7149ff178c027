"""Output checks. Each returns a list of failure messages (empty = pass).

They take plain Python values (counts, key lists, rows read back from the
program's output files) so the tests can feed them corrupted outputs
without a Spark session.
"""

from __future__ import annotations

import re

from .gen import GOPHER_STOPWORDS, jaccard

# minhash_dedup must remove at least this share of the planted
# near-duplicates (planted Jaccard >= 0.8, threshold 0.7: LSH recall at
# 16 bands x 4 rows is > 0.99 there, so a miss means a real regression)
MIN_NEAR_RECALL = 0.9


def check_sync(truth: dict, got: dict) -> list[str]:
    """One sync. ``truth``: rows, kept_pks (None for the full load, which
    keeps every row), changed (id -> new value), distinct_pks from the
    generator. ``got``: kept_rows and kept_pks (the drop_redundant output),
    singer_records (RECORD lines written), snapshot_rows (rows of the
    snapshot after the upsert) and snapshot_values (id -> ``value`` read
    back from the snapshot for the changed ids)."""
    bad = []
    if truth["kept_pks"] is None:
        if got["kept_rows"] != truth["rows"]:
            bad.append(f"full sync kept {got['kept_rows']} of {truth['rows']} rows on empty state")
    elif sorted(got["kept_pks"]) != truth["kept_pks"]:
        bad.append(
            f"drop_redundant kept {len(got['kept_pks'])} rows, planted changed+new = {len(truth['kept_pks'])}"
        )
    if got["singer_records"] != got["kept_rows"]:
        bad.append(f"singer wrote {got['singer_records']} RECORDs for {got['kept_rows']} rows")
    if got["snapshot_rows"] != truth["distinct_pks"]:
        bad.append(f"snapshot holds {got['snapshot_rows']} rows, distinct keys = {truth['distinct_pks']}")
    stale = [k for k, v in truth["changed"].items() if abs(got["snapshot_values"].get(k, float("nan")) - v) > 1e-9]
    if stale:
        bad.append(f"snapshot lacks the new value of {len(stale)} changed ids, e.g. {stale[:3]}")
    return bad


def gopher_pass(text: str, min_words: int = 50, max_words: int = 100_000) -> bool:
    """Python replay of ``llm.text.gopher_quality_flags``'s ``gopher_pass``
    (ASCII alpha mode): the same counters and integer comparisons."""
    toks = [t for t in re.split(r"\s+", text) if t]
    lines = text.split("\n")
    nw, nl = len(toks), len(lines)
    chars = sum(len(t) for t in toks)
    sym = len(re.findall(r"#|\.\.\.|…", text))
    bullets = sum(bool(re.match(r"\s*[-*•]", line)) for line in lines)
    ellipses = sum(bool(re.search(r"(\.\.\.|…)\s*$", line)) for line in lines)
    alpha = sum(bool(re.search("[A-Za-z]", t)) for t in toks)
    stops = len({t.lower() for t in toks} & set(GOPHER_STOPWORDS))
    return (
        min_words <= nw <= max_words
        and 3 * nw <= chars <= 10 * nw
        and 10 * sym <= nw
        and 10 * bullets <= 9 * nl
        and 10 * ellipses <= 3 * nl
        and 10 * alpha >= 8 * nw
        and stops >= 2
    )


def line_dedup_replay(texts: dict[int, str], ids: list[int]) -> dict[int, tuple[str, int]]:
    """Reference line dedup: in (id, line number) order, a non-blank line
    seen before is dropped. Returns id -> (clean text, lines removed)."""
    seen: set[str] = set()
    out = {}
    for i in sorted(ids):
        kept, removed = [], 0
        for line in texts[i].split("\n"):
            if line.strip() and line in seen:
                removed += 1
                continue
            if line.strip():
                seen.add(line)
            kept.append(line)
        out[i] = ("\n".join(kept), removed)
    return out


def check_curation(truth: dict, exact_kept: int, exported: dict[int, tuple[str, int]], threshold: float) -> list[str]:
    """``exact_kept``: row count of ``exact_dedup`` on the input.
    ``exported``: doc id -> (text_clean, n_removed) read back from the
    exported parquet (after minhash_dedup, the Gopher filter and
    line_dedup)."""
    bad = []
    texts, exact, near = truth["texts"], truth["exact"], truth["near"]
    failing = {i for i, t in texts.items() if not gopher_pass(t)}
    if exact_kept != truth["n_docs"] - len(exact):
        bad.append(f"exact_dedup kept {exact_kept}, expected {truth['n_docs'] - len(exact)}")
    kept = set(exported)
    if kept & set(exact):
        bad.append(f"{len(kept & set(exact))} planted exact copies survived")
    if kept & failing:
        bad.append(f"{len(kept & failing)} docs that fail the Gopher rules passed the filter")
    removed = set(texts) - set(exact) - failing - kept
    unplanted = sorted(r for r in removed if r not in near)
    if unplanted:
        bad.append(f"{len(unplanted)} docs removed without a planted twin, e.g. {unplanted[:3]}")
    for r in sorted(removed & set(near)):
        twin = near[r]["twin"]
        if (twin not in kept and twin not in failing) or jaccard(texts[r], texts[twin]) < threshold:
            bad.append(f"doc {r} removed but its twin {twin} is gone or below threshold")
            break
    # recall over the near-duplicates only minhash_dedup can remove
    judged = set(near) - failing
    recall = len(removed & judged) / len(judged) if judged else 1.0
    if recall < MIN_NEAR_RECALL:
        bad.append(f"minhash_dedup near-dup recall {recall:.3f} < {MIN_NEAR_RECALL}")
    expected = line_dedup_replay(texts, sorted(kept))
    wrong = [i for i in sorted(kept) if exported[i] != expected[i]]
    if wrong:
        bad.append(f"line_dedup output differs from the replay on {len(wrong)} docs, e.g. {wrong[:3]}")
    return bad


def check_topk(qid: int, rows: list[tuple[int, float]], k: int) -> list[str]:
    """A planted self-query must return its own id at rank 1."""
    if len(rows) != k:
        return [f"query {qid}: {len(rows)} results, expected {k}"]
    if rows[0][0] != qid:
        return [f"query {qid}: rank 1 is {rows[0][0]}"]
    return []


def check_agree(qid: int, single: list[tuple[int, float]], batch: list[tuple[int, float]]) -> list[str]:
    """Single-query and batched serving must give the same ranking."""
    if single != batch:
        return [f"query {qid}: single and batch results differ"]
    return []
