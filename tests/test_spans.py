"""`llm/spans.py:line_dedup` — RefinedWeb/CCNet exact line dedup: the
first-occurrence rule, its exactness under hash collisions, the plan's
hashed shuffle keys and its laziness."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from test_index_commit import _jobs

from gluestick_spark.llm.spans import line_dedup


def test_line_dedup_first_occurrence_and_blanks(spark):
    """Duplicated lines survive only at their corpus-first (doc, line)
    position; blank lines are structure — kept verbatim, never elected."""
    rows = [
        (1, "alpha\nfooter text\n\nbody one"),
        (2, "beta\nfooter text\n\nbody two"),
        (3, "footer text"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert out[1]["text_clean"] == "alpha\nfooter text\n\nbody one"
    assert out[1]["n_removed"] == 0
    # doc 2 loses the shared footer, keeps its blank separator
    assert out[2]["text_clean"] == "beta\n\nbody two"
    assert out[2]["n_removed"] == 1
    assert out[3]["text_clean"] == "" and out[3]["n_removed"] == 1
    # empty doc: its single empty line is blank -> unjudged, kept
    assert out[4]["text_clean"] == "" and out[4]["n_removed"] == 0
    assert out[4]["n_lines"] == 1


def test_line_dedup_hash_collision_path_exact(spark):
    """VERDICT r10 #3: election + join-back run on xxh64(line); the
    firsts rule must reproduce string-keyed semantics EXACTLY.
    Forced with a degenerate hash (every line collides) — the worst
    case — and with a parity hash (pairwise collisions)."""
    rows = [
        (1, "alpha\nfooter text\n\nbody one"),
        (2, "beta\nfooter text\n\nbody two"),
        (3, "footer text\nalpha\nbeta"),
        (4, ""),
        (5, "body two\nbody two\nsolo line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(line_dedup(df).collect())
    for degenerate in (
        lambda c: F.lit(0).cast("long"),             # ALL lines collide
        lambda c: F.length(c).cast("long") % 2,      # parity buckets
    ):
        got = sorted(line_dedup(df, _hash_expr=degenerate).collect())
        assert got == want


def test_line_dedup_plan_joins_on_hash_not_text(spark):
    """The join-back exchange carries (id, pos, hash) — never the line
    string (the shuffle-bytes contract). Election is the only place
    line text crosses an exchange (exact-verify distinct)."""
    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id long, text string"
    )
    plan = line_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    # no exchange may partition by the raw line string
    for ln in plan.splitlines():
        if "hashpartitioning" in ln:
            assert "hashpartitioning(line#" not in ln, ln


def _replay(docs):
    """First-occurrence replay in (id, line number) order: a judged line
    (not empty after trimming spaces, as Spark's ``trim``) seen before is
    dropped. Returns sorted (id, text_clean, n_lines, n_removed)."""
    seen = set()
    out = []
    for i, text in sorted(docs):
        lines = (text or "").split("\n")
        kept = []
        for line in lines:
            judged = line.strip(" ") != ""
            if judged and line in seen:
                continue
            if judged:
                seen.add(line)
            kept.append(line)
        out.append((i, "\n".join(kept), len(lines), len(lines) - len(kept)))
    return out


def _planted_corpus(seed, n_docs=40):
    """Docs mixing repeated boilerplate, blank/space-only lines, tab-only
    and trailing-space variants (judged, distinct from their trimmed
    form), unique lines, empty and NULL texts; ids shuffled."""
    rng = random.Random(seed)
    shared = ["footer text", "nav: home | about", "cookie banner", "\t",
              "footer text ", "(c) archive"]
    blanks = ["", "  "]
    ids = rng.sample(range(1, 10 * n_docs), n_docs)
    docs = []
    for j, i in enumerate(ids):
        if j % 13 == 0:
            docs.append((i, None if j % 2 else ""))
            continue
        lines = []
        for k in range(rng.randint(1, 8)):
            r = rng.random()
            if r < 0.45:
                lines.append(rng.choice(shared))
            elif r < 0.6:
                lines.append(rng.choice(blanks))
            else:
                lines.append(f"unique {i}.{k}")
        docs.append((i, "\n".join(lines)))
    return docs


_HASHES = {
    "xxh64": None,
    "all_collide": lambda c: F.lit(0).cast("long"),
    "parity": lambda c: F.length(c).cast("long") % 2,
}


@pytest.mark.parametrize("seed,hashing", enumerate(_HASHES, start=1))
def test_line_dedup_matches_first_occurrence_replay(spark, seed, hashing):
    """Seeded corpora with planted repeated, blank and unique lines equal
    the pure-Python replay under the real hash and two degenerate ones
    (every line collides; pairwise collisions by length parity)."""
    hash_expr = _HASHES[hashing]
    docs = _planted_corpus(seed)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        tuple(r) for r in line_dedup(df, _hash_expr=hash_expr)
        .select("doc_id", "text_clean", "n_lines", "n_removed").collect()
    )
    want = _replay(docs)
    assert got == want
    assert sum(r[3] for r in want) > 0  # the corpus does plant duplicates


def test_line_dedup_is_lazy(spark):
    """The call plans only: no count, no pin materialization — 0 jobs in
    the call's job group; the rows come at the first action."""
    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc"), (3, "a")], "doc_id long, text string"
    )
    frames = []
    assert _jobs(spark, lambda: frames.append(line_dedup(df))) == 0
    got = {r["doc_id"]: r["text_clean"] for r in frames[0].collect()}
    assert got == {1: "a\nb", 2: "c", 3: ""}
