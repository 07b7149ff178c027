"""Unified export router: singer / parquet / csv / json / jsonl.

Parity: /root/reference/gluestick/etl_utils.py:561-832 (``to_export``) —
zstd parquet, name override via env ``HG_UNIFIED_OUTPUT_{NAME}``,
``output_file_prefix`` templating via format_str_safely (env default
``OUTPUT_FILE_PREFIX``), format default from env ``DEFAULT_EXPORT_FORMAT``,
singer branch always ``allow_objects=True`` with primary keys falling back
to ``Reader.get_pk(name)`` (etl_utils.py:645-649), ``json`` = one JSON
array (pandas ``orient="records"``), unknown formats fall through to csv.

Spark shape: parquet/csv/jsonl are distributed writers (directory outputs —
at 100 TB a single file is an anti-pattern; ``coalesce_single=True`` opts
into the reference's one-file layout for protocol compatibility). ``json``
(one JSON array) and ``singer`` are single files by nature: rows are
rendered executor-side as JSON strings in one JVM projection, written in
one Spark job as text part files, and the driver only concatenates those
files' bytes in partition order, so no Python loop touches a record.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.strings import build_string_format_variables, format_str_safely
from .singer import _DATE_FORMAT, _TS_FORMAT, _write_concatenated, to_singer

__all__ = ["to_export"]


def _resolve_name(name: str, output_file_prefix: str | None, format_vars: dict[str, Any]) -> str:
    env_name = os.environ.get(f"HG_UNIFIED_OUTPUT_{name.upper()}")
    if env_name:
        name = env_name
    if output_file_prefix:
        prefix = format_str_safely(output_file_prefix, **format_vars)
        name = f"{prefix}{name}"
    return name


def to_export(
    df: DataFrame,
    name: str,
    output_dir: str,
    keys: list[str] | None = None,
    unified_model: Any = None,
    export_format: str | None = None,
    output_file_prefix: str | None = None,
    stringify_objects: bool = False,
    allow_objects: bool = True,
    schema: dict[str, Any] | None = None,
    keep_null_fields: bool = False,
    trim_nested_nulls: bool = False,
    coalesce_single: bool = True,
    reserved_variables: dict[str, Any] | None = None,
    reader: Any = None,
) -> None:
    """Route ``df`` to the requested sink format.

    ``reader`` (optional) supplies the ``get_pk`` fallback for singer keys;
    when omitted one is built from env ``ROOT_DIR`` conventions like the
    reference's bare ``Reader()`` (etl_utils.py:646).

    Accepts driver-side pandas/polars frames too (converted via
    :mod:`..compat`, matching the reference's singledispatch registrations).
    """
    if not isinstance(df, DataFrame):
        from ..compat import ensure_spark_df

        df = ensure_spark_df(df)
    export_format = export_format or os.environ.get("DEFAULT_EXPORT_FORMAT", "singer")
    if output_file_prefix is None:
        output_file_prefix = os.environ.get("OUTPUT_FILE_PREFIX")
    format_vars = build_string_format_variables(reserved_variables)
    composed_name = _resolve_name(name, output_file_prefix, format_vars)
    os.makedirs(output_dir, exist_ok=True)

    if export_format == "singer":
        if not keys:
            if reader is None:
                from ..sources.reader import Reader

                reader = Reader(df.sparkSession)
            keys = reader.get_pk(name)
        to_singer(
            df,
            composed_name,
            output_dir,
            keys=keys or [],
            allow_objects=allow_objects or stringify_objects,
            schema=schema,
            unified_model=unified_model,
            keep_null_fields=keep_null_fields,
            trim_nested_nulls=trim_nested_nulls,
        )
        return

    out = df.coalesce(1) if coalesce_single else df
    if export_format == "parquet":
        out.write.mode("overwrite").option("compression", "zstd").parquet(
            os.path.join(output_dir, f"{composed_name}.parquet")
        )
    elif export_format == "json":
        _write_json_array(df, os.path.join(output_dir, f"{composed_name}.json"))
    elif export_format == "jsonl":
        out.write.mode("overwrite").json(os.path.join(output_dir, f"{composed_name}.jsonl"))
    else:
        # reference falls through to csv for any other format (etl_utils.py:667)
        # RFC 4180 quote-escaping ("" not \") — matches the reference's
        # pandas to_csv output and this package's csv readers.
        out.write.mode("overwrite").option("header", "true").option("escape", '"').csv(
            os.path.join(output_dir, f"{composed_name}.csv")
        )


def _write_json_array(df: DataFrame, path: str) -> None:
    """One JSON array file (reference ``to_json(orient="records")``,
    etl_utils.py:664) — executor-side row rendering, driver-side concat."""
    body = F.to_json(
        F.struct(*[F.col(f"`{c}`") for c in df.columns]),
        {"timestampFormat": _TS_FORMAT, "dateFormat": _DATE_FORMAT, "ignoreNullFields": "false"},
    )
    _write_concatenated(
        df.select(body.alias("j")), path, head="[", tail="]", sep=",", drop_last_sep=True
    )
