"""Singer sink + export router tests (FIXTURES.md F5/F11;
reference tests/function_tests/test_to_singer.py, test_singer_protocol.py)."""

from __future__ import annotations

import datetime
import io
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gluestick_spark import to_export, to_singer
from gluestick_spark.sinks.singer import write_record, write_schema, write_state


_JSON_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'",
    "dateFormat": "yyyy-MM-dd",
    "ignoreNullFields": "false",
}


def _multi_partition_frame(spark, n=500, parts=64):
    return (
        spark.range(0, n, 1, 7)
        .select(
            F.col("id").alias("a"),
            F.when(F.col("id") % 5 == 0, None)
            .otherwise(F.concat(F.lit("ü\"\n"), F.col("id").cast("string")))
            .alias("b"),
        )
        .repartition(parts, "a")
        .sortWithinPartitions(F.col("a").desc())
    )


def _read_bytes(path):
    with open(path, "rb") as f:
        return f.read()


def _parts_dirs(d):
    return [n for n in os.listdir(d) if ".parts-" in n]


def test_write_schema_coerces_key_properties():
    buf = io.StringIO()
    write_schema("s", {"type": "object"}, "id", fp=buf)
    msg = json.loads(buf.getvalue())
    assert msg["key_properties"] == ["id"]
    with pytest.raises(ValueError):
        write_schema("s", {}, 123, fp=buf)


def test_write_record_rejects_naive_time_extracted():
    buf = io.StringIO()
    with pytest.raises(ValueError):
        write_record("s", {}, time_extracted=datetime.datetime(2024, 1, 1), fp=buf)
    aware = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    write_record("s", {"a": 1}, time_extracted=aware, fp=buf)
    msg = json.loads(buf.getvalue())
    assert msg["time_extracted"] == "2024-01-01T00:00:00.000000Z"


def test_write_state():
    buf = io.StringIO()
    write_state({"bookmark": 5}, fp=buf)
    assert json.loads(buf.getvalue()) == {"type": "STATE", "value": {"bookmark": 5}}


def test_to_singer_message_shape(spark, tmp_dir):
    df = spark.createDataFrame(
        [Row(a=1, b="x", ts=datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)),
         Row(a=2, b=None, ts=None)]
    )
    to_singer(df, "t", tmp_dir, keys=["a"])
    lines = [json.loads(l) for l in open(os.path.join(tmp_dir, "data.singer"))]
    assert [m["type"] for m in lines] == ["SCHEMA", "RECORD", "RECORD", "STATE"]
    schema = lines[0]
    assert schema["key_properties"] == ["a"]
    assert schema["schema"]["properties"]["ts"] == {
        "type": ["string", "null"],
        "format": "date-time",
    }
    recs = {m["record"]["a"]: m["record"] for m in lines[1:3]}
    # singer datetime format %Y-%m-%dT%H:%M:%S.%fZ
    assert recs[1]["ts"] == "2024-01-02T03:04:05.123456Z"
    # nulls dropped per record
    assert "b" not in recs[2] and "ts" not in recs[2]


def test_to_singer_keep_null_fields(spark, tmp_dir):
    df = spark.createDataFrame([Row(a=1, b=None)], schema="a long, b string")
    to_singer(df, "t", tmp_dir, keys=["a"], keep_null_fields=True, filename="k.singer")
    lines = [json.loads(l) for l in open(os.path.join(tmp_dir, "k.singer"))]
    assert lines[1]["record"] == {"a": 1, "b": None}


def test_to_singer_append_mode(spark, tmp_dir):
    """A second call appends a second SCHEMA, RECORDs, STATE run, byte
    for byte the first one."""
    df = spark.createDataFrame([Row(a=i, b=str(i)) for i in range(20)]).repartition(4)
    path = os.path.join(tmp_dir, "data.singer")
    to_singer(df, "t", tmp_dir, keys=["a"])
    with open(path, "rb") as f:
        once = f.read()
    to_singer(df, "t", tmp_dir, keys=["a"])
    with open(path, "rb") as f:
        assert f.read() == once * 2
    lines = [json.loads(l) for l in open(path)]
    assert [m["type"] for m in lines] == (["SCHEMA"] + ["RECORD"] * 20 + ["STATE"]) * 2


def test_to_singer_stringifies_complex_without_allow_objects(spark, tmp_dir):
    df = spark.createDataFrame([Row(a=1, obj=Row(x=1, y="z"))])
    to_singer(df, "t", tmp_dir, keys=["a"], filename="c.singer")
    lines = [json.loads(l) for l in open(os.path.join(tmp_dir, "c.singer"))]
    assert lines[0]["schema"]["properties"]["obj"] == {"type": ["string", "null"]}
    assert json.loads(lines[1]["record"]["obj"]) == {"x": 1, "y": "z"}


def test_to_singer_allow_objects_keeps_structs(spark, tmp_dir):
    df = spark.createDataFrame([Row(a=1, obj=Row(x=1, y="z"))])
    df = df.withColumn("dead", F.lit(None).cast("string"))
    to_singer(df, "t", tmp_dir, keys=["a"], allow_objects=True, filename="o.singer")
    lines = [json.loads(l) for l in open(os.path.join(tmp_dir, "o.singer"))]
    props = lines[0]["schema"]["properties"]
    assert "dead" not in props  # all-null column dropped
    assert props["obj"]["type"] == ["object", "null"]
    assert lines[1]["record"]["obj"] == {"x": 1, "y": "z"}


def test_to_export_parquet_roundtrip(spark, tmp_dir):
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")])
    to_export(df, "camp", tmp_dir, export_format="parquet")
    back = spark.read.parquet(os.path.join(tmp_dir, "camp.parquet"))
    assert sorted([tuple(r) for r in back.collect()]) == [(1, "x"), (2, "y")]


def test_to_export_csv_roundtrip(spark, tmp_dir):
    df = spark.createDataFrame([Row(a=1, b="x")])
    to_export(df, "camp", tmp_dir, export_format="csv")
    back = spark.read.option("header", "true").csv(os.path.join(tmp_dir, "camp.csv"))
    assert back.first()["b"] == "x"


def test_to_export_jsonl(spark, tmp_dir):
    df = spark.createDataFrame([Row(a=1, b="x")])
    to_export(df, "camp", tmp_dir, export_format="jsonl")
    back = spark.read.json(os.path.join(tmp_dir, "camp.jsonl"))
    assert back.first()["a"] == 1


def test_to_export_name_override_env(spark, tmp_dir, monkeypatch):
    monkeypatch.setenv("HG_UNIFIED_OUTPUT_CAMP", "renamed")
    df = spark.createDataFrame([Row(a=1)])
    to_export(df, "camp", tmp_dir, export_format="parquet")
    assert os.path.exists(os.path.join(tmp_dir, "renamed.parquet"))


def test_to_export_prefix_templating(spark, tmp_dir, monkeypatch):
    monkeypatch.setenv("TENANT", "acme")
    df = spark.createDataFrame([Row(a=1)])
    to_export(df, "camp", tmp_dir, export_format="parquet", output_file_prefix="{tenant}_")
    assert os.path.exists(os.path.join(tmp_dir, "acme_camp.parquet"))


def test_to_singer_nested_nulls_kept_by_default(spark, tmp_dir):
    """Reference default (singer.py:521-543): top-level nulls dropped,
    NESTED nulls kept; trim_nested_nulls prunes them deep."""
    df = spark.createDataFrame(
        [Row(a=1, top=None, obj=Row(x=1, y=None))],
        schema="a long, top string, obj struct<x: long, y: string>",
    )
    to_singer(df, "t", tmp_dir, keys=["a"], allow_objects=True, filename="n.singer")
    rec = [json.loads(l) for l in open(os.path.join(tmp_dir, "n.singer"))][1]["record"]
    assert "top" not in rec
    assert rec["obj"] == {"x": 1, "y": None}

    to_singer(
        df, "t", tmp_dir, keys=["a"], allow_objects=True,
        trim_nested_nulls=True, filename="trim.singer",
    )
    rec = [json.loads(l) for l in open(os.path.join(tmp_dir, "trim.singer"))][1]["record"]
    assert "top" not in rec
    assert rec["obj"] == {"x": 1}


def test_to_singer_float32_upcast(spark, tmp_dir):
    """float columns render via their exact float64 value (pandas parity)."""
    df = spark.createDataFrame([Row(a=1, f=0.37426901)], schema="a long, f float")
    to_singer(df, "t", tmp_dir, keys=["a"], filename="f.singer")
    rec = [json.loads(l) for l in open(os.path.join(tmp_dir, "f.singer"))][1]["record"]
    import numpy as np

    assert rec["f"] == float(np.float32(0.37426901))


def test_to_export_json_array(spark, tmp_dir):
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")])
    to_export(df, "camp", tmp_dir, export_format="json", keys=["a"])
    with open(os.path.join(tmp_dir, "camp.json")) as f:
        data = json.load(f)
    assert sorted(data, key=lambda r: r["a"]) == [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]

    # byte for byte: '[' + the collect()-ordered rendered rows joined by
    # ',' + ']', on many partitions and on none
    multi = _multi_partition_frame(spark).cache()
    body = F.to_json(F.struct(*[F.col(c) for c in multi.columns]), _JSON_OPTS)
    rows = [r[0] for r in multi.select(body).collect()]
    to_export(multi, "multi", tmp_dir, export_format="json")
    assert _read_bytes(os.path.join(tmp_dir, "multi.json")) == ("[" + ",".join(rows) + "]").encode()
    multi.unpersist()
    to_export(df.limit(0), "none", tmp_dir, export_format="json")
    assert _read_bytes(os.path.join(tmp_dir, "none.json")) == b"[]"
    assert _parts_dirs(tmp_dir) == []


def test_to_export_singer_pk_fallback(spark, tmp_dir, tmp_path):
    """Empty keys resolve via Reader.get_pk (reference etl_utils.py:646-647)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    table = pa.Table.from_pandas(pd.DataFrame({"id": [1, 2], "v": ["a", "b"]}))
    table = table.replace_schema_metadata({"key_properties": json.dumps(["id"])})
    pq.write_table(table, in_dir / "camp-20260101T000000.parquet")

    from gluestick_spark import Reader

    reader = Reader(spark, input_dir=str(in_dir))
    out_dir = tmp_path / "out"
    to_export(reader.get("camp"), "camp", str(out_dir), reader=reader)
    lines = [json.loads(l) for l in open(out_dir / "data.singer")]
    assert lines[0]["key_properties"] == ["id"]


def test_gen_singer_header_recursive_typing_off(spark, tmp_dir):
    """recursive_typing=False: array columns get the generic items schema
    (reference singer.py:169-171)."""
    df = spark.createDataFrame([Row(a=1, arr=[Row(x=1)])])
    to_singer(df, "t", tmp_dir, keys=["a"], allow_objects=True,
              recursive_typing=False, filename="rt.singer")
    props = [json.loads(l) for l in open(os.path.join(tmp_dir, "rt.singer"))][0]["schema"]["properties"]
    assert props["arr"] == {"type": ["array", "null"], "items": {"type": ["object", "string", "null"]}}
    to_singer(df, "t", tmp_dir, keys=["a"], allow_objects=True, filename="rt2.singer")
    props = [json.loads(l) for l in open(os.path.join(tmp_dir, "rt2.singer"))][0]["schema"]["properties"]
    assert props["arr"]["items"]["type"][0] == "object"


def test_pandas_compat_shims(spark, tmp_dir):
    """Reference singledispatch call sites (pandas frame straight into
    to_singer/to_export) run unchanged via the compat conversion."""
    import pandas as pd

    from gluestick_spark import pandas_df_to_export, pandas_df_to_singer, to_export

    pdf = pd.DataFrame({"id": [1, 2], "name": ["a", "b"]})
    pandas_df_to_singer(pdf, "t", tmp_dir, keys=["id"], filename="compat.singer")
    lines = [json.loads(l) for l in open(os.path.join(tmp_dir, "compat.singer"))]
    assert [l["type"] for l in lines] == ["SCHEMA", "RECORD", "RECORD", "STATE"]
    assert lines[1]["record"]["name"] == "a"

    out = os.path.join(tmp_dir, "exp")
    pandas_df_to_export(pdf, "t", out, export_format="csv")
    assert os.path.exists(os.path.join(out, "t.csv"))

    # the Spark entry points also accept pandas frames directly
    to_export(pdf, "t2", out, export_format="jsonl")
    assert os.path.exists(os.path.join(out, "t2.jsonl"))

    with pytest.raises(NotImplementedError, match="not implemented"):
        pandas_df_to_singer({"not": "a frame"}, "t", tmp_dir)


def test_to_singer_records_follow_collect_order(spark, tmp_dir):
    df = _multi_partition_frame(spark).cache()
    expected = [{k: v for k, v in r.asDict().items() if v is not None} for r in df.collect()]
    to_singer(df, "t", tmp_dir, keys=["a"])
    msgs = [json.loads(l) for l in open(os.path.join(tmp_dir, "data.singer"), encoding="utf-8")]
    assert [m["type"] for m in msgs] == ["SCHEMA"] + ["RECORD"] * 500 + ["STATE"]
    assert [m["record"] for m in msgs[1:-1]] == expected
    df.unpersist()


def test_to_singer_empty_frame_writes_schema_and_state(spark, tmp_dir):
    df = spark.createDataFrame([], "a long, b string")
    to_singer(df, "t", tmp_dir, keys=["a"])
    text = open(os.path.join(tmp_dir, "data.singer")).read()
    schema, state = io.StringIO(), io.StringIO()
    write_schema("t", json.loads(text.splitlines()[0])["schema"], ["a"], fp=schema)
    write_state({}, fp=state)
    assert text == schema.getvalue() + state.getvalue()
    assert _parts_dirs(tmp_dir) == []


def test_to_singer_failed_render_leaves_file_untouched(spark, tmp_dir):
    path = os.path.join(tmp_dir, "data.singer")
    good = spark.createDataFrame([Row(a=1, b="x")])
    to_singer(good, "t", tmp_dir, keys=["a"])
    before = _read_bytes(path)
    bad = spark.range(0, 50, 1, 4).select(
        F.col("id").alias("a"),
        F.when(F.col("id") == 37, F.raise_error(F.lit("boom"))).cast("string").alias("b"),
    )
    with pytest.raises(Exception, match="boom"):
        to_singer(bad, "t", tmp_dir, keys=["a"])
    assert _read_bytes(path) == before
    assert _parts_dirs(tmp_dir) == []


def test_to_singer_runs_one_job(spark, tmp_dir):
    sc = spark.sparkContext
    df = spark.range(0, 1000, 1, 16).select(F.col("id").alias("a"), F.col("id").cast("string").alias("b"))
    group = "to-singer-one-job"
    sc.setJobGroup(group, "to_singer job count")
    try:
        to_singer(df, "t", tmp_dir, keys=["a"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    lines = open(os.path.join(tmp_dir, "data.singer")).read().splitlines()
    assert len(lines) == 1002


def test_to_singer_relative_dir_after_chdir(spark, tmp_dir, monkeypatch):
    """A relative output_dir resolves against Python's working directory,
    not the JVM's, for the part files as for the Singer file."""
    monkeypatch.chdir(tmp_dir)
    to_singer(spark.range(0, 3, 1, 2), "t", "out", keys=["id"])
    lines = open(os.path.join(tmp_dir, "out", "data.singer")).read().splitlines()
    assert [json.loads(l)["type"] for l in lines] == ["SCHEMA", "RECORD", "RECORD", "RECORD", "STATE"]
    assert _parts_dirs(os.path.join(tmp_dir, "out")) == []
