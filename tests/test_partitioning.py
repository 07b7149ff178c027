"""``partitioning.pin``: the one place a frame is materialized for reuse."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

from gluestick_spark.partitioning import pin

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "gluestick_spark"
PARTITIONING = PACKAGE / "partitioning.py"

# the two functions that persist, run every action on the frame and then
# unpersist before they return (pq.train_pq, profile)
PERSIST_FILES = {PACKAGE / "llm" / "pq.py", PACKAGE / "operators" / "profile.py"}


def _sources() -> list[pathlib.Path]:
    return sorted(PACKAGE.rglob("*.py")) + [ROOT / "__spark_entry__.py"]


def _hits(needle: str) -> list[tuple[pathlib.Path, int]]:
    return [
        (path, n)
        for path in _sources()
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if needle in line
    ]


def test_only_pin_calls_local_checkpoint():
    tree = ast.parse(PARTITIONING.read_text())
    (fn,) = [
        node
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name == "pin"
    ]
    body = range(fn.body[0].lineno, fn.end_lineno + 1)
    hits = _hits("localCheckpoint(")
    assert hits, "pin no longer wraps localCheckpoint"
    stray = [(str(p), n) for p, n in hits if p != PARTITIONING or n not in body]
    assert stray == []
    # the only option besides the frame is the lazy/eager choice
    assert [a.arg for a in fn.args.args] == ["df", "eager"]


def test_persist_only_where_the_function_unpersists():
    stray = [(str(p), n) for p, n in _hits(".persist(") if p not in PERSIST_FILES]
    assert stray == []


def _jobs(spark, action) -> tuple[object, int]:
    sc = spark.sparkContext
    sc.setJobGroup("pin-test", "pin-test")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup("pin-test"))
        out = action()
        after = set(sc.statusTracker().getJobIdsForGroup("pin-test"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(after - before)


def test_pin_lazy_runs_no_job_until_the_first_action(spark):
    df = spark.range(100).withColumn("y", F.col("id") * 2)
    pinned, n_lazy = _jobs(spark, lambda: pin(df))
    assert n_lazy == 0
    eager, n_eager = _jobs(spark, lambda: pin(df, eager=True))
    assert n_eager == 1
    assert pinned.agg(F.sum("y")).first()[0] == eager.agg(F.sum("y")).first()[0]
