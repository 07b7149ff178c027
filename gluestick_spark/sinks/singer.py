"""Singer protocol sink: SCHEMA → RECORD* → STATE newline-JSON.

Parity targets (citations into /root/reference):
- message primitives: gluestick/singer.py:20-70 (write_schema/record/state;
  key_properties string→list coercion; aware ``time_extracted`` only).
- ``to_singer``: gluestick/singer.py:436-549 — drop all-null columns (unless
  keeping nulls), schema precedence (explicit > catalog > inferred), record
  emission, append mode when the file exists, per-record null dropping,
  ISO-µs UTC datetime rendering (``%Y-%m-%dT%H:%M:%S.%fZ``, singer.py:17).
  The reference's ``SINGER_CHUNK_SIZE`` flush-per-chunk knob is not read:
  the driver copies whole files, so there are no chunks to flush.
- header generation: gluestick/singer.py:99-187 — typed columns map to
  Singer types; complex columns allowed as object/array schemas when
  ``allow_objects`` else stringified.

Spark shape: the record body is built executor-side as one
``to_json(struct(*))`` projection (JVM, whole-stage codegen) with the Singer
timestamp/date formats, wrapped in the RECORD envelope in the same
projection. ONE Spark job writes the rendered lines as uncompressed text
part files into a hidden sibling directory; only after it succeeds does the
driver open the Singer file, write SCHEMA, copy the part files' bytes in
partition order (no per-row Python) and write STATE
(:func:`_write_concatenated`). Record order is partition order, then row
order within a partition — the order of ``collect()``. A failed render
leaves the Singer file untouched. The parts directory must be visible to
the driver's local filesystem (local mode or a shared mount).
"""

from __future__ import annotations

import io
import json
import os
import re
import shutil
import sys
import uuid
from datetime import datetime
from typing import Any, IO

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.project import drop_all_null_columns
from ..schema import struct_to_json_schema

__all__ = [
    "write_schema",
    "write_record",
    "write_state",
    "to_singer",
    "gen_singer_header",
]

_DATETIME_FMT = "%Y-%m-%dT%H:%M:%S.%fZ"
_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
_DATE_FORMAT = "yyyy-MM-dd"
# Spark's text part file name: part-{partition:05d}-{job uuid}-c{file:03d}.txt
_PART = re.compile(r"part-(\d+)-.*-c(\d+)")


def _emit(msg: dict[str, Any], fp: IO[str] | None = None) -> None:
    line = json.dumps(msg, default=str) + "\n"
    if fp is None:
        sys.stdout.write(line)
        sys.stdout.flush()
    else:
        fp.write(line)


def write_schema(
    stream: str,
    schema: dict[str, Any],
    key_properties: str | list[str],
    bookmark_properties: list[str] | None = None,
    fp: IO[str] | None = None,
) -> None:
    if isinstance(key_properties, (str, bytes)):
        key_properties = [key_properties]
    if not isinstance(key_properties, list):
        raise ValueError("key_properties must be a string or list of strings")
    msg: dict[str, Any] = {
        "type": "SCHEMA",
        "stream": stream,
        "schema": schema,
        "key_properties": key_properties,
    }
    if bookmark_properties:
        msg["bookmark_properties"] = bookmark_properties
    _emit(msg, fp)


def write_record(
    stream: str,
    record: dict[str, Any],
    version: Any = None,
    time_extracted: datetime | None = None,
    fp: IO[str] | None = None,
) -> None:
    msg: dict[str, Any] = {"type": "RECORD", "stream": stream, "record": record}
    if version is not None:
        msg["version"] = version
    if time_extracted:
        if not time_extracted.tzinfo:
            raise ValueError(
                "'time_extracted' must be either None or an aware datetime (with a time zone)"
            )
        import datetime as _dt

        msg["time_extracted"] = time_extracted.astimezone(_dt.timezone.utc).strftime(
            _DATETIME_FMT
        )
    _emit(msg, fp)


def write_state(value: dict[str, Any], fp: IO[str] | None = None) -> None:
    _emit({"type": "STATE", "value": value}, fp)


def gen_singer_header(
    df: DataFrame,
    allow_objects: bool,
    schema: dict[str, Any] | None = None,
    catalog_schema: bool = False,
    recursive_typing: bool = True,
) -> tuple[DataFrame, dict[str, Any]]:
    """Build the Singer SCHEMA header for ``df`` and (when
    ``allow_objects=False``) stringify complex columns like the reference
    (singer.py:178-180: non-typed columns get ``_serialize_value``).

    An explicit/unified ``schema`` is returned as-is; under the catalog path
    (``catalog_schema=True``) the header is inferred from the DataFrame and
    then overridden by the catalog properties, keeping extra columns the
    catalog doesn't know (tenant, sync_date, ... — singer.py:182-186).
    """
    if schema is not None and not catalog_schema:
        return df, schema
    if not allow_objects:
        cols = []
        changed = False
        for f in df.schema.fields:
            if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
                cols.append(F.to_json(F.col(f"`{f.name}`")).alias(f.name))
                changed = True
            else:
                cols.append(F.col(f"`{f.name}`"))
        if changed:
            df = df.select(*cols)
    header = struct_to_json_schema(df.schema)
    if not recursive_typing:
        # reference singer.py:169-171: array columns keep a generic items
        # schema instead of recursing into element types
        for f in df.schema.fields:
            if isinstance(f.dataType, T.ArrayType):
                header["properties"][f.name] = {
                    "type": ["array", "null"],
                    "items": {"type": ["object", "string", "null"]},
                }
    if catalog_schema and schema is not None:
        header["properties"].update(schema.get("properties", {}))
    return df, header


def _record_body(df: DataFrame, keep_nulls: bool, trim_nested_nulls: bool):
    """Column expression rendering one record as a JSON object string.

    Reference null semantics (singer.py:521-543): with ``keep_nulls`` every
    field is emitted (nulls as ``null``); otherwise top-level nulls are
    dropped, and nested nulls are dropped too only when
    ``trim_nested_nulls`` (``remove_nulls_deep``). Spark's ``to_json``
    ``ignoreNullFields`` is all-levels-or-nothing, so the
    drop-top-keep-nested mode assembles the object from per-field
    ``to_json`` fragments — still one JVM projection, no Python. Flat
    frames (no struct/array/map columns) can't have nested nulls and take
    the single-``to_json`` path regardless.
    """
    opts_keep = {"timestampFormat": _TS_FORMAT, "dateFormat": _DATE_FORMAT, "ignoreNullFields": "false"}
    opts_drop = {**opts_keep, "ignoreNullFields": "true"}
    whole = F.struct(*[F.col(f"`{c}`") for c in df.columns])
    if keep_nulls:
        return F.to_json(whole, opts_keep)
    has_complex = any(
        isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)) for f in df.schema.fields
    )
    if trim_nested_nulls or not has_complex:
        return F.to_json(whole, opts_drop)
    frags = []
    for c in df.columns:
        one = F.to_json(F.struct(F.col(f"`{c}`").alias(c)), opts_keep)
        # '{"c":v}' -> '"c":v'; null field -> fragment null -> filtered out
        frags.append(F.when(F.col(f"`{c}`").isNotNull(), one.substr(F.lit(2), F.length(one) - 2)))
    body = F.array_join(F.array_compact(F.array(*frags)), ",")
    return F.concat(F.lit("{"), body, F.lit("}"))


def to_singer(
    df: DataFrame,
    stream: str,
    output_dir: str,
    keys: list[str] | None = None,
    filename: str = "data.singer",
    allow_objects: bool = False,
    schema: dict[str, Any] | None = None,
    unified_model: Any | None = None,
    keep_null_fields: bool = False,
    catalog_stream: str | None = None,
    trim_nested_nulls: bool = False,
    recursive_typing: bool = True,
) -> None:
    """Export ``df`` as a Singer ndjson file (append mode when it exists).

    Schema precedence (reference singer.py:494-516): catalog
    (``USE_CATALOG_SCHEMA=true`` env or ``catalog_stream``) > Pydantic
    ``unified_model`` (its ``model_json_schema()`` unwrapped) > explicit
    ``schema`` > inferred from the DataFrame. The catalog path also parses
    string-encoded object/array columns back into structures and keeps null
    fields; ``INCLUDE_ALL_UNIFIED_FIELDS=true`` keeps nulls on the unified
    path.

    Null semantics (reference singer.py:521-543): top-level null fields are
    dropped unless ``keep_nulls``; NESTED nulls are kept unless
    ``trim_nested_nulls`` (``remove_nulls_deep`` per record). Flat frames
    take the single-``to_json`` fast path; only frames with complex columns
    in the keep-nested-nulls mode pay the per-field assembly.

    Accepts driver-side pandas/polars frames too (converted via
    :mod:`..compat`, matching the reference's singledispatch registrations).
    """
    if not isinstance(df, DataFrame):
        from ..compat import ensure_spark_df

        df = ensure_spark_df(df)
    keys = keys or []
    use_catalog = os.environ.get("USE_CATALOG_SCHEMA", "false").lower() == "true"
    include_all_unified = (
        os.environ.get("INCLUDE_ALL_UNIFIED_FIELDS", "false").lower() == "true"
        and unified_model is not None
    )

    # all-null column drop happens BEFORE the catalog branch flips
    # allow_objects (reference singer.py:498-500)
    if allow_objects and not (use_catalog or include_all_unified or keep_null_fields):
        df = drop_all_null_columns(df)

    if use_catalog or catalog_stream:
        from .singer_schema import get_catalog_schema, parse_df_cols

        allow_objects = True
        schema = get_catalog_schema(catalog_stream or stream)
        df = parse_df_cols(df, schema)
    elif unified_model is not None:
        from .singer_schema import unwrap_json_schema

        schema = unwrap_json_schema(unified_model.model_json_schema())

    # float32 → double before rendering: the reference materializes records
    # through Python floats (json.dumps of float32 upcasts to float64), so
    # 0.37426901f must serialize as 0.3742690086364746 for byte/value parity
    # with reference singer output (tests/data/output/data.singer).
    if any(isinstance(f.dataType, T.FloatType) for f in df.schema.fields):
        df = df.select(
            *[
                F.col(f"`{f.name}`").cast("double").alias(f.name)
                if isinstance(f.dataType, T.FloatType)
                else F.col(f"`{f.name}`")
                for f in df.schema.fields
            ]
        )

    df, header_map = gen_singer_header(
        df, allow_objects, schema, catalog_schema=use_catalog, recursive_typing=recursive_typing
    )

    keep_nulls = use_catalog or include_all_unified or keep_null_fields
    prefix = json.dumps({"type": "RECORD", "stream": stream})[:-1] + ', "record": '
    line = F.concat(F.lit(prefix), _record_body(df, keep_nulls, trim_nested_nulls), F.lit("}"))
    lines = df.select(line.alias("line"))

    os.makedirs(output_dir, exist_ok=True)
    schema_msg, state_msg = io.StringIO(), io.StringIO()
    write_schema(stream, header_map, keys, fp=schema_msg)
    write_state({}, fp=state_msg)
    _write_concatenated(
        lines,
        os.path.join(output_dir, filename),
        head=schema_msg.getvalue(),
        tail=state_msg.getvalue(),
        append=True,
    )


def _write_concatenated(
    lines: DataFrame,
    output: str,
    head: str,
    tail: str,
    sep: str = "\n",
    append: bool = False,
    drop_last_sep: bool = False,
) -> None:
    """Write ``head``, every row of the one-string-column frame ``lines``
    followed by ``sep``, then ``tail`` to the single file ``output``.

    The rows are written in ONE Spark job as uncompressed text part files
    into a hidden sibling directory; ``output`` is opened only after that
    job succeeds (appending when ``append`` and it exists), and the part
    files' bytes are copied in (partition, file) order — the row order of
    ``collect()``. ``drop_last_sep`` removes the separator after the last
    row. The parts directory is removed whether or not the job succeeds.
    """
    # absolute: the JVM resolves a relative path against its own working
    # directory, which a later os.chdir in Python does not move
    out_dir, name = os.path.split(os.path.abspath(output))
    parts = os.path.join(out_dir, f".{name}.parts-{uuid.uuid4().hex}")
    try:
        lines.write.option("compression", "none").option("lineSep", sep).text(parts)
        ordered = sorted(
            (int(m.group(1)), int(m.group(2)), n)
            for n in os.listdir(parts)
            if (m := _PART.match(n))
        )
        mode = "ab" if append and os.path.isfile(output) else "wb"
        with open(output, mode) as f:
            f.write(head.encode())
            body_start = f.tell()
            for _, _, n in ordered:
                with open(os.path.join(parts, n), "rb") as src:
                    shutil.copyfileobj(src, f)
            if drop_last_sep and f.tell() > body_start:
                f.seek(-len(sep.encode()), os.SEEK_CUR)
                f.truncate()
            f.write(tail.encode())
    finally:
        shutil.rmtree(parts, ignore_errors=True)
