"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, gen  # noqa: E402
from perfbench.tracing import Span, self_times, stage_counters, union_length  # noqa: E402

ETL_ROWS = 400


def _generate(kind: str, root: str, seed: int) -> str:
    if kind == "etl":
        gen.gen_etl(root, seed, ETL_ROWS, 2)
    elif kind == "corpus":
        gen.gen_corpus(os.path.join(root, "docs.parquet"), seed, 60)
    else:
        gen.gen_vectors(root, seed, 300, n_single=4, batch_size=20, n_batches=2)
    return gen.checksum(root)


@pytest.mark.parametrize("kind", ["etl", "corpus", "vectors"])
def test_seed_fixes_the_inputs(tmp_path, kind):
    a = _generate(kind, str(tmp_path / "a"), 7)
    b = _generate(kind, str(tmp_path / "b"), 7)
    c = _generate(kind, str(tmp_path / "c"), 8)
    assert a == b
    assert a != c


# -- etl_sync checks --------------------------------------------------------


@pytest.fixture()
def syncs(tmp_path):
    return gen.gen_etl(str(tmp_path / "etl"), 3, ETL_ROWS, 1)


def _planted(sync: dict) -> dict:
    kept = sync["kept_pks"]
    n = sync["rows"] if kept is None else len(kept)
    return {"kept_rows": n, "kept_pks": None if kept is None else list(reversed(kept)),
            "singer_records": n, "snapshot_rows": sync["distinct_pks"],
            "snapshot_values": dict(sync["changed"])}


def test_sync_check_passes_on_the_planted_outcome(syncs):
    for sync in syncs:
        assert checks.check_sync(sync, _planted(sync)) == []


@pytest.mark.parametrize("corrupt", ["drop_key", "resend_kept", "singer", "snapshot", "stale_value"])
def test_sync_check_fails_on_corrupted_output(syncs, corrupt):
    inc = syncs[1]
    got = _planted(inc)
    if corrupt == "drop_key":
        got["kept_pks"] = got["kept_pks"][1:]
    elif corrupt == "resend_kept":
        got["kept_pks"] = got["kept_pks"] + [10**9]
    elif corrupt == "singer":
        got["singer_records"] -= 1
    elif corrupt == "snapshot":
        got["snapshot_rows"] += 1
    else:
        # an upsert that kept the stored row over the incoming changed one
        k = next(iter(inc["changed"]))
        got["snapshot_values"][k] = _full_load_value(syncs[0], k)
    assert checks.check_sync(inc, got)


def _full_load_value(full: dict, event_id: int) -> float:
    df = pd.read_csv(os.path.join(full["dir"], os.listdir(full["dir"])[0]))
    return float(df.set_index("event_id").loc[event_id, "value"])


def test_changed_rows_carry_a_new_value(syncs):
    inc = syncs[1]
    assert inc["changed"]
    assert all(_full_load_value(syncs[0], k) != v for k, v in inc["changed"].items())


def test_full_sync_check_fails_when_rows_are_dropped(syncs):
    got = _planted(syncs[0])
    got["kept_rows"] -= 1
    got["singer_records"] -= 1
    assert checks.check_sync(syncs[0], got)


def test_events_have_the_measured_shape(syncs):
    df = pd.read_csv(os.path.join(syncs[0]["dir"], os.listdir(syncs[0]["dir"])[0]))
    assert list(df["event_id"]) == list(range(ETL_ROWS))
    assert set(df["event_type"]) == set(gen.EVENT_TYPES)
    assert df["user_id"].between(0, gen.EVENT_USERS - 1).all()
    assert (df["value"] == df["value"].round(2)).all() and (df["value"] >= 0).all()
    assert df["props"].map(lambda p: list(json.loads(p)) == ["k"]).all()
    assert pd.to_datetime(df["ts"]).is_monotonic_increasing


def test_increment_plants_changed_new_and_unchanged_rows(syncs):
    inc, n = syncs[1], ETL_ROWS
    # 1% changed + 0.5% new are kept; 0.5% unchanged re-sends are not
    assert len(inc["kept_pks"]) == round(n * 0.01) + round(n * 0.005)
    assert inc["rows"] == len(inc["kept_pks"]) + round(n * 0.005)
    assert inc["distinct_pks"] == n + round(n * 0.005)


# -- corpus_curation checks -------------------------------------------------


@pytest.fixture()
def corpus(tmp_path):
    truth = gen.gen_corpus(str(tmp_path / "docs.parquet"), 5, 200)
    kept = sorted(i for i, t in truth["texts"].items()
                  if i not in truth["exact"] and i not in truth["near"] and checks.gopher_pass(t))
    exported = checks.line_dedup_replay(truth["texts"], kept)
    return truth, truth["n_docs"] - len(truth["exact"]), exported


def test_curation_check_passes_on_the_planted_outcome(corpus):
    truth, exact_kept, exported = corpus
    assert checks.check_curation(truth, exact_kept, exported, 0.7) == []


def test_planted_near_duplicates_are_near(corpus):
    truth, _, _ = corpus
    texts = truth["texts"]
    assert all(gen.jaccard(texts[i], texts[v["twin"]]) >= 0.8 for i, v in truth["near"].items())
    assert all(texts[i] == texts[v["twin"]] + " dup" for i, v in truth["near"].items())


def test_documents_have_the_measured_shape(corpus):
    truth, _, _ = corpus
    words = [len(t.split()) for i, t in truth["texts"].items() if i not in truth["near"]]
    assert min(words) >= 10 and max(words) <= 99
    assert all("\n" not in t for t in truth["texts"].values())
    assert {w for t in truth["texts"].values() for w in t.split()} <= set(gen.DOC_VOCAB) | {"dup"}
    # both Gopher outcomes occur, so the filter and the stages after it have work
    passing = sum(checks.gopher_pass(t) for t in truth["texts"].values())
    assert 0 < passing < len(truth["texts"])


def test_gopher_replay():
    long = " ".join(["the", "and"] + ["data"] * 60)
    assert checks.gopher_pass(long)
    assert not checks.gopher_pass(" ".join(["the", "and"] + ["data"] * 40))  # too few words
    assert not checks.gopher_pass(" ".join(["the"] + ["data"] * 60))  # one stopword
    assert not checks.gopher_pass(" ".join(["the", "and"] + ["a"] * 60))  # mean word length < 3
    assert not checks.gopher_pass(long + " #" * 10)  # symbols
    assert not checks.gopher_pass("\n".join("- " + long for _ in range(3)))  # bullet lines


@pytest.mark.parametrize("corrupt", ["exact_count", "exact_copy_kept", "gopher_fail_kept",
                                     "unplanted_removed", "no_near_removed", "line_text"])
def test_curation_check_fails_on_corrupted_output(corpus, corrupt):
    truth, exact_kept, exported = corpus
    exported = dict(exported)
    if corrupt == "exact_count":
        exact_kept += 1
    elif corrupt == "exact_copy_kept":
        i = next(iter(truth["exact"]))
        exported[i] = (truth["texts"][i], 0)
    elif corrupt == "gopher_fail_kept":
        i = min(i for i, t in truth["texts"].items() if not checks.gopher_pass(t))
        exported[i] = (truth["texts"][i], 0)
    elif corrupt == "unplanted_removed":
        del exported[min(exported)]
    elif corrupt == "no_near_removed":
        for i in truth["near"]:
            exported[i] = (truth["texts"][i], 0)
    else:
        i = min(exported)
        exported[i] = (exported[i][0] + " tampered", exported[i][1])
    assert checks.check_curation(truth, exact_kept, exported, 0.7)


def test_line_dedup_replay_keeps_first_occurrence():
    texts = {1: "a b\nboiler\nc", 2: "boiler\n\nd", 3: "a b\n\n"}
    out = checks.line_dedup_replay(texts, [3, 1, 2])
    assert out == {1: ("a b\nboiler\nc", 0), 2: ("\nd", 1), 3: ("\n", 1)}


# -- vector_serving checks --------------------------------------------------


def test_topk_checks():
    rows = [(5, 1.0)] + [(i, 0.5) for i in range(9)]
    assert checks.check_topk(5, rows, 10) == []
    assert checks.check_topk(6, rows, 10)
    assert checks.check_topk(5, rows[:9], 10)
    assert checks.check_agree(5, rows, list(rows)) == []
    assert checks.check_agree(5, rows, rows[:1] + rows[2:] + rows[1:2])


# -- self-time arithmetic ---------------------------------------------------


def test_self_times_add_up_to_the_root_wall_time():
    spans = [
        Span(0, "root", "bench", None, 0.0, 10.0),
        Span(1, "a", "llm.dedup", 0, 1.0, 4.0),
        Span(2, "b", "sinks.export", 0, 5.0, 9.0),
        Span(3, "c", "bench", 2, 6.0, 7.0),
    ]
    selfs = self_times(spans)
    assert selfs == {0: 3.0, 1: 3.0, 2: 3.0, 3: 1.0}
    assert sum(selfs.values()) == spans[0].wall


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert union_length([(1, 3), (2, 4)], 2.5, 3.5) == 1
    assert union_length([], 0, 1) == 0


def test_stage_counters_split_driver_and_stage_time():
    mb = 2**20
    stages = [
        {"run_ms": 1000, "cpu_ns": 5e8, "shuffle_write": mb, "spill": 0, "output": 2 * mb, "sub": 1.0, "done": 2.0},
        {"run_ms": 3000, "cpu_ns": 1e9, "shuffle_write": 0, "spill": mb, "output": 0, "sub": 1.5, "done": 3.0},
    ]
    c = stage_counters(stages, 0.0, 4.0)
    assert c["stage_s"] == 2.0 and c["driver_s"] == 2.0
    assert c["task_s"] == 4.0 and c["cpu_s"] == 1.5
    assert (c["shuffle_write_mb"], c["spill_mb"], c["bytes_written_mb"]) == (1.0, 1.0, 2.0)
