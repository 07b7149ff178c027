"""Directory-convention stream reader (Spark edition).

Re-expresses the reference Reader family as lazy Spark scans:
- stream discovery `{stream}-{timestamp}.{csv,parquet}` — first file wins,
  ignore-list honored (/root/reference/gluestick/reader.py:154-190).
- catalog-typed reads: JSON-Schema → StructType → one projection of casts
  (reader.py:49-116, 232-279); boolean string CASE + try_to_timestamp
  coercion semantics (utils/polars_utils.py:31-59).
- parquet KV metadata + key_properties (reader.py:118-152).
- folder readers returning ``{stream: DataFrame}``
  (etl_utils.py:23-93, 96-149) and snapshot reads (etl_utils.py:152-178).

All reads are lazy logical-plan nodes: schema application happens at the
scan (predicate/column pushdown preserved), casts are a single Project.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..fsio import heal_swap
from ..functions.casting import cast_df_to_schema
from ..schema import json_schema_to_struct

__all__ = ["Reader", "read_csv_folder", "read_parquet_folder", "read_orc_folder", "read_snapshots"]

_EXTS = (".parquet", ".csv", ".jsonl", ".json", ".orc")


def _discover(input_dir: str, ignore: list[str] | None = None) -> dict[str, str]:
    """`{stream}-{ts}.{ext}` → {stream: path}; first file wins (sorted listing)."""
    ignore = ignore or []
    results: dict[str, str] = {}
    if not os.path.isdir(input_dir):
        return results
    for entry in sorted(os.listdir(input_dir)):
        path = os.path.join(input_dir, entry)
        base, ext = os.path.splitext(entry)
        if ext.lower() not in _EXTS:
            continue
        # Spark writers emit dataset *directories* named `{stream}.{ext}`
        # (part files inside); accept those alongside plain files so
        # `to_export` output round-trips through the folder readers.
        if not os.path.isfile(path) and not os.path.isdir(path):
            continue
        # stream name = filename before the LAST '-' (reader.py:166-171);
        # files without '-' use the whole stem.
        stream = base.rsplit("-", 1)[0] if "-" in base else base
        if stream in ignore or stream in results:
            continue
        results[stream] = path
    return results


class Reader:
    """Discovers Singer-style stream files and reads them as Spark DataFrames."""

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str | None = None,
        root_dir: str | None = None,
        ignore: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.root_dir = root_dir or os.environ.get("ROOT_DIR", ".")
        self.input_dir = input_dir or os.path.join(self.root_dir, "sync-output")
        self.input_files = _discover(self.input_dir, ignore)
        self.catalog = self.read_catalog()

    def __contains__(self, stream: str) -> bool:
        return stream in self.input_files

    def __iter__(self):
        return iter(self.input_files)

    def keys(self) -> list[str]:
        return list(self.input_files)

    # -- discovery -------------------------------------------------------
    def read_directories(self, ignore: list[str] | None = None) -> dict[str, str]:
        """Public re-discovery hook, reference signature
        (/root/reference/gluestick/reader.py:154-190): list the input dir
        again and return ``{stream: path}`` honoring ``ignore``. The
        constructor calls the same logic; this alias exists for scripts
        that call it directly on a live Reader."""
        return _discover(self.input_dir, ignore)

    # -- catalog ---------------------------------------------------------
    def read_catalog(self) -> dict[str, Any] | None:
        path = os.path.join(self.root_dir, "catalog.json")
        if not os.path.isfile(path):
            return None
        with open(path) as f:
            return json.load(f)

    def read_target_catalog(self) -> dict[str, Any] | None:
        path = os.path.join(self.root_dir, "target-catalog.json")
        if not os.path.isfile(path):
            return None
        with open(path) as f:
            return json.load(f)

    @staticmethod
    def clean_catalog(catalog: dict[str, Any]) -> dict[str, Any]:
        """Flatten catalog to {stream: properties} (reader.py:204-214)."""
        out: dict[str, Any] = {}
        for entry in catalog.get("streams", []):
            name = entry.get("stream") or entry.get("tap_stream_id")
            props = entry.get("schema", {}).get("properties", {})
            out[name] = props
        return out

    def stream_schema(self, stream: str, headers: list[str] | None = None) -> T.StructType | None:
        """Catalog JSON-Schema for ``stream`` → StructType (reader.py:232-279).

        ``headers`` restricts to columns present in the data file.
        """
        if not self.catalog:
            return None
        for entry in self.catalog.get("streams", []):
            name = entry.get("stream") or entry.get("tap_stream_id")
            if name != stream:
                continue
            props = entry.get("schema", {}).get("properties", {})
            if headers is not None:
                props = {k: v for k, v in props.items() if k in headers}
            return json_schema_to_struct({"properties": props})
        return None

    def get_types_from_catalog(
        self,
        catalog: dict[str, Any],
        stream: str,
        headers: list[str] | None = None,
    ) -> dict[str, Any]:
        """Pandas-style read arguments derived from the catalog, reference
        signature and semantics (/root/reference/gluestick/reader.py:232-279):
        ``{"dtype": {col: pandas_type}, "parse_dates": [cols]}``. The Spark
        path uses :meth:`stream_schema` (StructType) instead; this alias
        serves scripts that feed the dict to pandas/polars readers.

        anyOf columns prefer the member carrying a ``format``; date-time
        formatted columns go to ``parse_dates``; single-typed columns map
        integer→Int64, number→float, boolean→boolean; everything else
        (and multi-typed) is ``object``."""
        if headers is None:
            df = self.get(stream)
            headers = df.columns if df is not None else []
        entry = next(
            (
                c
                for c in catalog.get("streams", [])
                if c.get("stream") == stream or c.get("tap_stream_id") == stream
            ),
            None,
        )
        if not entry:
            return {}
        props = entry.get("schema", {}).get("properties", {})
        type_mapper = {"integer": "Int64", "number": float, "boolean": "boolean"}
        dtype: dict[str, Any] = {}
        parse_dates: list[str] = []
        for col in headers:
            col_type = props.get(col)
            if col_type:
                any_of = col_type.get("anyOf", [])
                if any_of:
                    col_type = next(
                        (t for t in any_of if "format" in t), {"type": "object"}
                    )
                if col_type.get("format") == "date-time":
                    parse_dates.append(col)
                    continue
                if col_type.get("type"):
                    declared = [t for t in col_type["type"] if t != "null"]
                    if len(declared) == 1:
                        dtype[col] = type_mapper.get(declared[0], "object")
                        continue
            dtype[col] = "object"
        return dict(dtype=dtype, parse_dates=parse_dates)

    def get_csv(
        self, stream: str, filepath: str | None = None, catalog_types: bool = True
    ) -> DataFrame:
        """Reference readers' ``get_csv`` name
        (/root/reference/gluestick/readers/pl_reader.py:36-45): read one CSV
        stream (path override honored) with catalog coercion by default."""
        path = filepath or self.input_files.get(stream)
        if path is None:
            raise FileNotFoundError(f"no CSV for stream {stream!r}")
        df = (
            self.spark.read.option("header", "true").option("escape", '"').csv(path)
        )
        return self._coerce(stream, df) if catalog_types else df

    def get_parquet(
        self, stream: str, filepath: str | None = None, catalog_types: bool = True
    ) -> DataFrame:
        """Reference readers' ``get_parquet`` name
        (/root/reference/gluestick/readers/pl_reader.py:47-56)."""
        path = filepath or self.input_files.get(stream)
        if path is None:
            raise FileNotFoundError(f"no parquet for stream {stream!r}")
        df = self.spark.read.parquet(path)
        return self._coerce(stream, df) if catalog_types else df

    def read_parquet_with_chunks(self, filepath: str, chunksize: int):
        """Reference-name generator (reader.py:41-47): driver-side pandas
        batches of ``chunksize`` rows. Spark-native callers should use the
        lazy DataFrame instead — Spark execution is already partition-
        streamed and distributed; this alias serves reference scripts that
        literally iterate pandas chunks on the driver."""
        import pyarrow.parquet as pq

        for batch in pq.ParquetFile(filepath).iter_batches(batch_size=chunksize):
            yield batch.to_pandas()

    def _coerce(self, stream: str, df: DataFrame) -> DataFrame:
        target = self.stream_schema(stream, headers=df.columns)
        if target is not None:
            try:
                return cast_df_to_schema(df, target)
            except Exception as exc:  # silent fallback (reader.py:95-98)
                print(f"catalog coercion failed for {stream}: {exc}")
        return df

    # -- metadata --------------------------------------------------------
    def get_metadata(self, stream: str) -> dict[str, str]:
        """Parquet footer key-value metadata (reader.py:118-128). Driver-side."""
        path = self.input_files.get(stream)
        if not path or not path.endswith(".parquet"):
            return {}
        import pyarrow.parquet as pq

        meta = pq.read_schema(path).metadata or {}
        return {
            k.decode(): v.decode()
            for k, v in meta.items()
            if k != b"pandas"
        }

    def get_pk(self, stream: str) -> list[str]:
        """PKs from parquet metadata ``key_properties`` else catalog
        ``table-key-properties`` breadcrumb (reader.py:130-152)."""
        meta = self.get_metadata(stream)
        if "key_properties" in meta:
            try:
                return list(json.loads(meta["key_properties"]))
            except (ValueError, TypeError):
                pass
        if self.catalog:
            for entry in self.catalog.get("streams", []):
                name = entry.get("stream") or entry.get("tap_stream_id")
                if name != stream:
                    continue
                for m in entry.get("metadata", []):
                    if m.get("breadcrumb") == []:
                        kp = m.get("metadata", {}).get("table-key-properties")
                        if kp:
                            return list(kp)
                if entry.get("key_properties"):
                    return list(entry["key_properties"])
        return []

    # -- reads -----------------------------------------------------------
    def get(
        self,
        stream: str,
        default: DataFrame | None = None,
        catalog_types: bool = False,
        **kwargs: Any,
    ) -> DataFrame | None:
        """Read one stream as a (lazy) DataFrame with optional catalog coercion.

        ``chunksize`` (the reference's bounded-memory pandas generator,
        reader.py:41-47/100-109) is accepted and ignored: Spark execution is
        already partition-streamed, so the lazy DataFrame IS the chunked
        read — iterate ``df.toLocalIterator()`` for driver-side batching.
        """
        kwargs.pop("chunksize", None)
        path = self.input_files.get(stream)
        if path is None:
            return default
        if path.endswith(".parquet"):
            df = self.spark.read.parquet(path)
        elif path.endswith(".orc"):
            df = self.spark.read.orc(path)
        elif path.endswith((".jsonl", ".json")):
            # ndjson (the shape to_export's jsonl sink writes); beyond the
            # reference's csv/parquet surface for round-trip read parity
            df = self.spark.read.json(path, **kwargs)
        else:
            # escape='"': RFC 4180 doubled-quote escaping (what pandas/the
            # reference write); Spark's default is backslash
            df = self.spark.read.option("header", "true").option("escape", '"').csv(path, **kwargs)
        if catalog_types:
            df = self._coerce(stream, df)
        return df


def read_csv_folder(
    spark: SparkSession,
    path: str,
    converters: dict[str, Any] | None = None,
    index_cols: dict[str, Any] | None = None,
    ignore: list[str] | None = None,
) -> dict[str, DataFrame]:
    """All CSVs in folder → {entity: DataFrame} (etl_utils.py:23-93).

    ``converters``/``index_cols`` are accepted for signature parity; Spark
    reads are schema-on-read so converters become post-read expressions the
    caller applies.
    """
    out: dict[str, DataFrame] = {}
    for stream, p in _discover(path, ignore).items():
        if p.endswith(".csv"):
            out[stream] = (
                spark.read.option("header", "true")
                .option("inferSchema", "true")
                .option("escape", '"')
                .csv(p)
            )
    return out


def read_parquet_folder(
    spark: SparkSession, path: str, ignore: list[str] | None = None
) -> dict[str, DataFrame]:
    """All parquet files in folder → {entity: DataFrame} (etl_utils.py:96-149)."""
    out: dict[str, DataFrame] = {}
    for stream, p in _discover(path, ignore).items():
        if p.endswith(".parquet"):
            out[stream] = spark.read.parquet(p)
    return out


def read_orc_folder(
    spark: SparkSession, path: str, ignore: list[str] | None = None
) -> dict[str, DataFrame]:
    """All ORC files in folder -> {entity: DataFrame}. Beyond-reference
    format breadth (the reference reads csv/parquet/json only); ORC is a
    first-class columnar Spark source with the same pushdown/pruning
    machinery as parquet, so warehouse dumps land without conversion."""
    out: dict[str, DataFrame] = {}
    for stream, p in _discover(path, ignore).items():
        if p.endswith(".orc"):
            out[stream] = spark.read.orc(p)
    return out


def read_snapshots(
    spark: SparkSession, stream: str, snapshot_dir: str
) -> DataFrame | None:
    """Read `{dir}/{stream}.snapshot.parquet` (preferred) else `.csv`
    (etl_utils.py:152-178). A snapshot left parked by a crashed swap
    (``snapshot._write_snapshot``) is moved back first."""
    pq_path = os.path.join(snapshot_dir, f"{stream}.snapshot.parquet")
    csv_path = os.path.join(snapshot_dir, f"{stream}.snapshot.csv")
    heal_swap(pq_path)
    heal_swap(csv_path)
    if os.path.exists(pq_path):
        return spark.read.parquet(pq_path)
    if os.path.exists(csv_path):
        return (
            spark.read.option("header", "true")
            .option("inferSchema", "true")
            .option("escape", '"')
            .csv(csv_path)
        )
    return None
