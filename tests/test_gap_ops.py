"""Tests for the last SURVEY §2 gap operators: array_to_dict (A4),
exception (I5), and the later gap operators. (The embedding-cosine
near-dup tests live in tests/test_near_dups.py.)"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gluestick_spark import array_to_dict_expr, custom_fields_expr, exception


def test_array_to_dict_roundtrip(spark):
    df = spark.createDataFrame([Row(a="x", b="y")])
    entries = custom_fields_expr(["a", "b"])
    out = df.select(array_to_dict_expr(entries).alias("m")).first()["m"]
    assert out == {"a": "x", "b": "y"}


def test_array_to_dict_last_key_wins(spark):
    df = spark.createDataFrame([Row(dummy=1)])
    entries = F.array(
        F.struct(F.lit("k").alias("name"), F.lit("first").alias("value")),
        F.struct(F.lit("k").alias("name"), F.lit("last").alias("value")),
    )
    out = df.select(array_to_dict_expr(entries).alias("m")).first()["m"]
    assert out == {"k": "last"}


def test_array_to_dict_custom_keys(spark):
    df = spark.createDataFrame([Row(dummy=1)])
    entries = F.array(F.struct(F.lit("n").alias("Name"), F.lit("v").alias("Value")))
    out = df.select(
        array_to_dict_expr(entries, key_field="Name", value_field="Value").alias("m")
    ).first()["m"]
    assert out == {"n": "v"}


def test_exception_persists_and_raises(tmp_dir):
    with pytest.raises(Exception, match="boom"):
        exception("boom", root=tmp_dir)
    with open(os.path.join(tmp_dir, "errors.txt")) as f:
        assert f.read() == "boom\n"


def test_asof_join_backward_semantics(spark):
    """Latest right payload at-or-before each left ts, per key; no-match
    rows get null; keys never leak across groups."""
    import datetime as dt

    from pyspark.sql import Row

    from gluestick_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)
    left = spark.createDataFrame(
        [
            Row(k=1, ts=t(5), ev="a"),
            Row(k=1, ts=t(10), ev="b"),
            Row(k=1, ts=t(2), ev="early"),   # before any right row
            Row(k=2, ts=t(30), ev="c"),      # other key
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, ts=t(3), px=100),
            Row(k=1, ts=t(7), px=200),
            Row(k=2, ts=t(29), px=999),
        ]
    )
    out = {r["ev"]: r["px_asof"] for r in asof_join(left, right, "k").collect()}
    assert out == {"a": 100, "b": 200, "early": None, "c": 999}


def test_asof_join_inclusive_vs_strict(spark):
    import datetime as dt

    from pyspark.sql import Row

    from gluestick_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)
    left = spark.createDataFrame([Row(k=1, ts=t(5), ev="x")])
    right = spark.createDataFrame([Row(k=1, ts=t(5), px=7), Row(k=1, ts=t(1), px=3)])
    inc = asof_join(left, right, "k", inclusive=True).first()["px_asof"]
    strict = asof_join(left, right, "k", inclusive=False).first()["px_asof"]
    assert inc == 7 and strict == 3


def test_asof_join_single_shuffle(spark):
    """The union-window form shuffles ONCE on the key — never a range
    cross-join (no CartesianProduct / BroadcastNestedLoopJoin node)."""
    from pyspark.sql import functions as F

    from gluestick_spark.operators.asof import asof_join

    left = spark.range(1000).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("ts"), F.lit("e").alias("ev")
    )
    right = spark.range(100).select(
        (F.col("id") % 10).alias("k"), (F.col("id") * 7).alias("ts"), F.col("id").alias("px")
    )
    out = asof_join(left, right, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert out.count() == 1000


def test_range_join_containment_and_plan(spark):
    """Bin-rewritten interval join: exact containment results (vs a naive
    inequality join) with an EQUI-join plan — no nested-loop node."""
    from pyspark.sql import functions as F

    from gluestick_spark.operators.asof import range_join

    points = spark.range(200).select(F.col("id").alias("pid"), (F.col("id") * 7).alias("t"))
    ivs = spark.range(30).select(
        F.col("id").alias("iid"),
        (F.col("id") * 40).alias("lo"),
        (F.col("id") * 40 + 100).alias("hi"),  # overlapping windows
    )
    got = range_join(points, ivs, "t", "lo", "hi", bucket_width=50)
    want = points.join(ivs, (F.col("t") >= F.col("lo")) & (F.col("t") <= F.col("hi")))
    got_set = {(r["pid"], r["iid"]) for r in got.collect()}
    want_set = {(r["pid"], r["iid"]) for r in want.collect()}
    assert got_set == want_set and len(got_set) > 200  # overlaps -> multi-match

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_range_join_with_key(spark):
    from pyspark.sql import Row

    from gluestick_spark.operators.asof import range_join

    points = spark.createDataFrame([Row(k=1, t=5), Row(k=2, t=5)])
    ivs = spark.createDataFrame([Row(k=1, lo=0, hi=10, tag="a"), Row(k=2, lo=6, hi=9, tag="b")])
    out = range_join(points, ivs, "t", "lo", "hi", bucket_width=4, key="k")
    rows = [(r["k"], r["tag"]) for r in out.collect()]
    assert rows == [(1, "a")]  # k=2's interval doesn't contain t=5


def test_time_rollup_matches_per_grain_groupbys(spark):
    """One GROUPING-SETS pass must equal the per-grain groupBy results, and
    the plan must contain a single scan of the fact table (Expand node, not
    one scan per grain)."""
    import datetime as dt

    from pyspark.sql import Row, functions as F

    from gluestick_spark.operators.rollup import time_rollup

    rows = [
        Row(ts=dt.datetime(2026, 1, 1, h, m), v=float(h * 10 + m))
        for h in (0, 1, 5) for m in (0, 30)
    ]
    df = spark.createDataFrame(rows)
    out = time_rollup(
        df, "ts", {"n": F.count("*"), "total": F.sum("v")}, grains=("hour", "day")
    )
    got = {(r["grain"], r["bucket"], r["n"], r["total"]) for r in out.collect()}

    want = set()
    for g in ("hour", "day"):
        for r in (
            df.groupBy(F.date_trunc(g, "ts").alias("b"))
            .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
            .collect()
        ):
            want.add((g, r["b"], r["n"], r["total"]))
    assert got == want
    assert len({k[0] for k in got}) == 2  # both grains present

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan  # grouping sets over one scan...
    assert "Union" not in plan  # ...not a per-grain union of aggregates


def test_asof_join_null_payload_and_row_atomicity(spark):
    """The matched right ROW wins atomically: a null field in the latest
    right row stays null (no fallback to an older row), and multi-column
    payloads are never stitched from different right rows — matching
    DuckDB ASOF semantics."""
    import datetime as dt

    from pyspark.sql import Row

    from gluestick_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)
    left = spark.createDataFrame([Row(k=1, ts=t(12), ev="x")])
    right = spark.createDataFrame(
        [Row(k=1, ts=t(5), px=3, qty=2), Row(k=1, ts=t(10), px=None, qty=7)]
    )
    r = asof_join(left, right, "k").first()
    assert r["px_asof"] is None and r["qty_asof"] == 7


def test_time_rollup_null_ts_labeled(spark):
    """Null timestamps get a correctly-labeled null bucket per grain
    (grouping_id-based labels, not data nullability)."""
    import datetime as dt

    from pyspark.sql import Row, functions as F

    from gluestick_spark.operators.rollup import time_rollup

    df = spark.createDataFrame(
        [Row(ts=dt.datetime(2026, 1, 1, 3), v=1.0), Row(ts=None, v=5.0)]
    )
    out = time_rollup(df, "ts", {"n": F.count("*")}, grains=("hour", "day"))
    rows = {(r["grain"], r["bucket"]): r["n"] for r in out.collect()}
    assert rows[("hour", None)] == 1 and rows[("day", None)] == 1
    assert rows[("hour", dt.datetime(2026, 1, 1, 3))] == 1
    assert rows[("day", dt.datetime(2026, 1, 1))] == 1
    assert None not in {g for g, _ in rows}  # every row labeled


def test_asof_join_differential_random(spark):
    """Randomized differential check vs a per-row Python reference
    (seeded — deterministic): inclusive and strict, multiple keys,
    duplicate left timestamps, unmatched rows."""
    import random

    from pyspark.sql import Row

    from gluestick_spark.operators.asof import asof_join

    rng = random.Random(11)
    for trial in range(4):
        left_rows = [
            Row(k=rng.randint(1, 3), ts=rng.randint(0, 50), lid=i)
            for i in range(30)
        ]
        # unique (k, ts) on the right — the documented determinism contract
        seen = set()
        right_rows = []
        for j in range(20):
            k, ts = rng.randint(1, 3), rng.randint(0, 50)
            if (k, ts) not in seen:
                seen.add((k, ts))
                right_rows.append(Row(k=k, ts=ts, px=j * 10))
        left = spark.createDataFrame(left_rows)
        right = spark.createDataFrame(right_rows)
        for inclusive in (True, False):
            got = {
                r["lid"]: r["px_asof"]
                for r in asof_join(left, right, "k", inclusive=inclusive).collect()
            }
            for lr in left_rows:
                cands = [
                    rr
                    for rr in right_rows
                    if rr.k == lr.k
                    and (rr.ts <= lr.ts if inclusive else rr.ts < lr.ts)
                ]
                want = max(cands, key=lambda rr: rr.ts).px if cands else None
                assert got[lr.lid] == want, (trial, inclusive, lr)


def test_range_join_differential_bucket_widths(spark):
    """The bucket width is a pure performance knob — results must be
    identical across widths, including with offsets above 2^53 where a
    double-divide bucket id would round."""
    from pyspark.sql import functions as F

    from gluestick_spark.operators.asof import range_join

    big = 1 << 60  # nanosecond-epoch regime
    points = spark.range(150).select(
        F.col("id").alias("pid"), (F.col("id") * 13 + big).alias("t")
    )
    ivs = spark.range(20).select(
        F.col("id").alias("iid"),
        (F.col("id") * 90 + big).alias("lo"),
        (F.col("id") * 90 + 180 + big).alias("hi"),
    )
    want = {
        (r["pid"], r["iid"])
        for r in points.join(
            ivs, (F.col("t") >= F.col("lo")) & (F.col("t") <= F.col("hi"))
        ).collect()
    }
    assert want  # non-trivial case
    for width in (1, 7, 64, 500, 10_000):
        got = {
            (r["pid"], r["iid"])
            for r in range_join(points, ivs, "t", "lo", "hi", bucket_width=width).collect()
        }
        assert got == want, width


def test_asof_join_null_timestamps_never_match(spark):
    """DuckDB ASOF parity: a NULL right ts is unmatchable (its payload must
    not leak into any left row), and a NULL left ts yields a NULL payload —
    in every direction."""
    import datetime as dt

    from pyspark.sql import Row

    from gluestick_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)
    left = spark.createDataFrame(
        [Row(k=1, ts=t(2), ev="a"), Row(k=1, ts=None, ev="null_left")]
    )
    right = spark.createDataFrame(
        [Row(k=1, ts=None, px=111), Row(k=1, ts=t(5), px=222)]
    )
    for direction, want_a in (("backward", None), ("forward", 222), ("nearest", 222)):
        out = {
            r["ev"]: r["px_asof"]
            for r in asof_join(left, right, "k", direction=direction).collect()
        }
        assert out == {"a": want_a, "null_left": None}, direction


def test_asof_join_directions_and_tolerance(spark):
    """forward = earliest right at-or-after; nearest = closer of the two
    (ties backward, pandas merge_asof parity); tolerance nulls out matches
    beyond the bound (native units — seconds for timestamps)."""
    import datetime as dt

    from pyspark.sql import Row

    from gluestick_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)
    left = spark.createDataFrame(
        [
            Row(k=1, ts=t(10), ev="mid"),    # right at 7 and 12: bwd 7, fwd 12, nearest 12
            Row(k=1, ts=t(40), ev="late"),   # after all right rows
            Row(k=1, ts=t(1), ev="early"),   # before all right rows
        ]
    )
    right = spark.createDataFrame(
        [Row(k=1, ts=t(7), px=70), Row(k=1, ts=t(12), px=120), Row(k=1, ts=t(20), px=200)]
    )

    fwd = {r["ev"]: r["px_asof"] for r in asof_join(left, right, "k", direction="forward").collect()}
    assert fwd == {"mid": 120, "late": None, "early": 70}

    near = {r["ev"]: r["px_asof"] for r in asof_join(left, right, "k", direction="nearest").collect()}
    assert near == {"mid": 120, "late": 200, "early": 70}

    # tie: left at 10, right at 8 and 12 → backward wins (pandas parity)
    tie_right = spark.createDataFrame([Row(k=1, ts=t(8), px=8), Row(k=1, ts=t(12), px=12)])
    tie = asof_join(
        left.where(F.col("ev") == "mid"), tie_right, "k", direction="nearest"
    ).first()
    assert tie["px_asof"] == 8

    # tolerance: 300 s = 5 min. mid's bwd match at 7 is 180 s away (kept);
    # late's bwd match at 20 is 1200 s away (nulled).
    tol = {
        r["ev"]: r["px_asof"]
        for r in asof_join(left, right, "k", tolerance=300).collect()
    }
    assert tol == {"mid": 70, "late": None, "early": None}

    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, "k", direction="sideways")


def test_asof_join_differential_directions(spark):
    """Randomized differential check of forward/nearest/tolerance vs a
    per-row Python reference (seeded — deterministic)."""
    import random

    from pyspark.sql import Row

    from gluestick_spark.operators.asof import asof_join

    rng = random.Random(23)
    left_rows = [Row(k=rng.randint(1, 3), ts=rng.randint(0, 60), lid=i) for i in range(40)]
    seen, right_rows = set(), []
    for j in range(25):
        k, ts = rng.randint(1, 3), rng.randint(0, 60)
        if (k, ts) not in seen:
            seen.add((k, ts))
            right_rows.append(Row(k=k, ts=ts, px=j * 10))
    left = spark.createDataFrame(left_rows)
    right = spark.createDataFrame(right_rows)

    def ref(lr, direction, tolerance):
        bwd = [rr for rr in right_rows if rr.k == lr.k and rr.ts <= lr.ts]
        fwd = [rr for rr in right_rows if rr.k == lr.k and rr.ts >= lr.ts]
        b = max(bwd, key=lambda rr: rr.ts) if bwd else None
        f = min(fwd, key=lambda rr: rr.ts) if fwd else None
        if direction == "backward":
            m = b
        elif direction == "forward":
            m = f
        else:
            if b is None or (f is not None and (lr.ts - b.ts) > (f.ts - lr.ts)):
                m = f
            else:
                m = b
        if m is not None and tolerance is not None and abs(lr.ts - m.ts) > tolerance:
            m = None
        return m.px if m else None

    for direction in ("backward", "forward", "nearest"):
        for tolerance in (None, 5):
            got = {
                r["lid"]: r["px_asof"]
                for r in asof_join(
                    left, right, "k", direction=direction, tolerance=tolerance
                ).collect()
            }
            for lr in left_rows:
                assert got[lr.lid] == ref(lr, direction, tolerance), (direction, tolerance, lr)


def test_range_join_auto_bucket_width(spark):
    """bucket_width=None derives a width from the interval-length
    distribution; results are identical to any explicit width, and a
    long-tailed distribution doesn't explode replication (p99 guard)."""
    from pyspark.sql import functions as F

    from gluestick_spark.operators.asof import range_join

    points = spark.range(200).select(F.col("id").alias("pid"), (F.col("id") * 11).alias("t"))
    # mostly short intervals + one huge outlier (the replication hazard)
    ivs = spark.range(30).select(
        F.col("id").alias("iid"),
        (F.col("id") * 70).alias("lo"),
        F.when(F.col("id") == 0, F.lit(2_000_000)).otherwise(F.col("id") * 70 + 100).alias("hi"),
    )
    want = {
        (r["pid"], r["iid"])
        for r in points.join(ivs, (F.col("t") >= F.col("lo")) & (F.col("t") <= F.col("hi"))).collect()
    }
    got = {
        (r["pid"], r["iid"])
        for r in range_join(points, ivs, "t", "lo", "hi").collect()
    }
    assert got == want and want


def test_range_join_collision_suffix(spark):
    """Interval-side columns sharing a name with point-side columns are
    suffixed so output columns stay addressable — including when the
    start/end columns themselves collide."""
    from pyspark.sql import Row

    from gluestick_spark.operators.asof import range_join

    points = spark.createDataFrame([Row(k=1, t=5, label="p")])
    ivs = spark.createDataFrame([Row(k=1, t=0, hi=10, label="window")])
    out = range_join(points, ivs, "t", "t", "hi", bucket_width=10, key="k")
    row = out.first()
    assert row["label"] == "p" and row["label_iv"] == "window" and row["t_iv"] == 0


def test_asof_join_directions_single_shuffle(spark):
    """forward and nearest keep the single-Exchange union-window plan —
    nearest's two scans (asc + desc) re-sort within partitions but share
    ONE hash exchange; no range cross-join in any direction."""
    from pyspark.sql import functions as F

    from gluestick_spark.operators.asof import asof_join

    left = spark.range(1000).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("ts"), F.lit("e").alias("ev")
    )
    right = spark.range(100).select(
        (F.col("id") % 10).alias("k"), (F.col("id") * 7).alias("ts"), F.col("id").alias("px")
    )
    for direction in ("forward", "nearest"):
        out = asof_join(left, right, "k", direction=direction)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        assert plan.count("Exchange hashpartitioning") == 1, direction
        assert out.count() == 1000


def test_profile_numeric_one_scan(spark):
    """Exact per-column stats in ONE aggregate over one scan (single
    Exchange pair, no per-column jobs); null handling matches SQL
    aggregate semantics."""
    from pyspark.sql import Row

    from gluestick_spark.operators.profile import profile_numeric

    df = spark.createDataFrame(
        [Row(a=1.0, b=10), Row(a=3.0, b=None), Row(a=None, b=30), Row(a=2.0, b=20)]
    )
    out = {r["column"]: r for r in profile_numeric(df, ["a", "b"]).collect()}
    assert out["a"]["n"] == 4 and out["a"]["n_null"] == 1
    assert out["a"]["min"] == 1.0 and out["a"]["max"] == 3.0 and out["a"]["mean"] == 2.0
    assert out["a"]["p50"] == 2.0
    assert out["b"]["n_null"] == 1 and out["b"]["p50"] == 20.0
    plan = profile_numeric(df, ["a", "b"])._jdf.queryExecution().executedPlan().toString()
    # one aggregate pipeline: a single shuffle (partial -> final agg)
    assert plan.count("Exchange") <= 2

    with pytest.raises(ValueError, match="cols"):
        profile_numeric(df, [])


def test_asof_join_nearest_strict(spark):
    """nearest + inclusive=False = pandas allow_exact_matches=False: an
    equal-ts right row is skipped and the next-closest row wins."""
    from pyspark.sql import Row

    from gluestick_spark.operators.asof import asof_join

    left = spark.createDataFrame([Row(k=1, ts=10, ev="x")])
    right = spark.createDataFrame(
        [Row(k=1, ts=10, px=1), Row(k=1, ts=13, px=2), Row(k=1, ts=4, px=3)]
    )
    inc = asof_join(left, right, "k", direction="nearest").first()["px_asof"]
    strict = asof_join(left, right, "k", direction="nearest", inclusive=False).first()["px_asof"]
    assert inc == 1 and strict == 2


def test_fill_gaps_semantics(spark):
    """Dense grid between each key's first and last bucket; gap rows
    flagged; locf forward-fills, zero fills with 0, null leaves holes."""
    import datetime as dt

    from pyspark.sql import Row

    from gluestick_spark.operators.gapfill import fill_gaps

    t = lambda h: dt.datetime(2026, 1, 1, h)
    df = spark.createDataFrame(
        [
            Row(k=1, ts=t(0), v=10.0),
            Row(k=1, ts=t(0), v=5.0),   # same bucket → aggregated
            Row(k=1, ts=t(3), v=7.0),   # hours 1,2 missing
            Row(k=2, ts=t(5), v=1.0),   # single-bucket key: no gaps
        ]
    )
    out = fill_gaps(df, "ts", 3600, ["k"], {"v": F.sum("v")}, fill="locf")
    rows = {(r["k"], r["bucket_ts"].hour): (r["v"], r["is_gap"]) for r in out.collect()}
    assert rows[(1, 0)] == (15.0, False)
    assert rows[(1, 1)] == (15.0, True)   # locf from hour 0
    assert rows[(1, 2)] == (15.0, True)
    assert rows[(1, 3)] == (7.0, False)
    assert rows[(2, 5)] == (1.0, False) and len(rows) == 5

    zero = {(r["k"], r["bucket_ts"].hour): r["v"] for r in
            fill_gaps(df, "ts", 3600, ["k"], {"v": F.sum("v")}, fill="zero").collect()}
    assert zero[(1, 1)] == 0.0
    null = {(r["k"], r["bucket_ts"].hour): r["v"] for r in
            fill_gaps(df, "ts", 3600, ["k"], {"v": F.sum("v")}, fill="null").collect()}
    assert null[(1, 2)] is None

    with pytest.raises(ValueError, match="fill"):
        fill_gaps(df, "ts", 3600, ["k"], {"v": F.sum("v")}, fill="interp")


def test_sessionize_batch_matches_streaming_semantics(spark):
    """Batch sessionization: gap > threshold splits; events within the gap
    chain; single-event sessions; one Exchange serves both windows."""
    import datetime as dt

    from pyspark.sql import Row

    from gluestick_spark.operators.sessions import sessionize_batch

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)
    df = spark.createDataFrame(
        [
            Row(u=1, ts=t(0)), Row(u=1, ts=t(10)), Row(u=1, ts=t(50)),  # 40min gap → split
            Row(u=2, ts=t(5)),
        ]
    )
    out = sessionize_batch(df, "ts", ["u"], gap_minutes=30)
    rows = sorted(
        ((r["u"], r["session_start"].minute, r["session_end"].minute, r["n_events"]) for r in out.collect())
    )
    assert rows == [(1, 0, 10, 2), (1, 50, 50, 1), (2, 5, 5, 1)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2  # window + partial-agg reuse


def test_write_sorted_disjoint_file_ranges(spark, tmp_dir):
    """Clustered write: every output file owns a DISJOINT key range
    (parquet footer min/max don't overlap), so key-predicate scans prune
    to one file. Also verifies the reader sees pushed filters."""
    import os

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from gluestick_spark.sinks.layout import write_sorted

    df = spark.range(10_000).select(
        (F.col("id") * 37 % 10_000).alias("k"), F.col("id").alias("v")
    )
    path = os.path.join(tmp_dir, "sorted")
    write_sorted(df, path, ["k"], n_files=8)

    ranges = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        mins = [md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)]
        maxs = [md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)  # disjoint (boundary may touch)

    back = spark.read.parquet(path).where(F.col("k") == 1234)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "k" in plan
    assert back.count() == df.where(F.col("k") == 1234).count()


def test_rolling_zscore_reference(spark):
    """Trailing-window z-score vs a python reference: current row excluded
    from its own baseline; cold-start and zero-variance rows yield NULL."""
    import statistics

    from pyspark.sql import Row

    from gluestick_spark.operators.anomaly import rolling_zscore

    vals = [10.0, 12.0, 11.0, 10.5, 50.0, 11.0]
    df = spark.createDataFrame([Row(k=1, t=i, v=v) for i, v in enumerate(vals)])
    out = {r["t"]: r for r in rolling_zscore(df, "t", "v", ["k"], window=4, min_periods=3).collect()}

    assert out[0]["zscore"] is None and out[1]["zscore"] is None and out[2]["zscore"] is None
    for t in (3, 4, 5):
        hist = vals[max(0, t - 4):t]
        mu, sd = statistics.mean(hist), statistics.stdev(hist)
        assert abs(out[t]["zscore"] - (vals[t] - mu) / sd) < 1e-9, t
    assert abs(out[4]["zscore"]) > 5  # the spike flags hard

    const = spark.createDataFrame([Row(k=1, t=i, v=5.0) for i in range(5)])
    rows = rolling_zscore(const, "t", "v", ["k"], window=4, min_periods=3).collect()
    assert all(r["zscore"] is None for r in rows)
    assert any(r["baseline_std"] == 0.0 for r in rows)


def test_asof_join_composite_string_keys(spark):
    """Multi-column join keys including strings behave like the single-key
    path (keys never leak across groups; suffixing intact)."""
    import datetime as dt

    from pyspark.sql import Row

    from gluestick_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)
    left = spark.createDataFrame(
        [
            Row(region="eu", k=1, ts=t(5), ev="a"),
            Row(region="us", k=1, ts=t(5), ev="b"),   # same k, other region
        ]
    )
    right = spark.createDataFrame(
        [
            Row(region="eu", k=1, ts=t(3), px=100),
            Row(region="us", k=1, ts=t(4), px=200),
            Row(region="us", k=2, ts=t(4), px=999),   # same region, other k
        ]
    )
    out = {r["ev"]: r["px_asof"] for r in asof_join(left, right, ["region", "k"]).collect()}
    assert out == {"a": 100, "b": 200}


def test_top_k_per_group_and_grouped_percentiles(spark):
    """top_k honors ordering + exact k under ties (row_number); grouped
    percentiles interpolate exactly; single shuffle for top_k."""
    from pyspark.sql import Row

    from gluestick_spark.operators.grouping import grouped_percentiles, top_k_per_group

    df = spark.createDataFrame(
        [Row(g="a", v=i, t=i % 3) for i in range(10)]
        + [Row(g="b", v=100, t=0), Row(g="b", v=100, t=1)]
    )
    top = top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("t").asc()], 2)
    got = sorted((r["g"], r["v"], r["t"]) for r in top.collect())
    assert got == [("a", 8, 2), ("a", 9, 0), ("b", 100, 0), ("b", 100, 1)]
    plan = top._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both sections
    assert final.count("Exchange hashpartitioning") == 1

    pct = {r["g"]: r for r in grouped_percentiles(df, ["g"], "v", (0.5,)).collect()}
    assert pct["a"]["p50"] == 4.5 and pct["a"]["n"] == 10
    assert pct["b"]["p50"] == 100.0

    with pytest.raises(ValueError, match="k must"):
        top_k_per_group(df, ["g"], [F.col("v")], 0)
