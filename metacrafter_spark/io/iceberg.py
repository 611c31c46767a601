"""Pure-Python Apache Iceberg v2 table layer (no iceberg-spark jar).

Clean-room implementation from the public Iceberg Table Spec
(https://iceberg.apache.org/spec/, format-version 2) over the
pure-Python Avro codec in :mod:`metacrafter_spark.io.avro_codec`:

- table metadata JSON (``metadata/vN.metadata.json`` + hadoop-catalog
  ``version-hint.text``), schemas with field-ids, identity partition
  specs, snapshot log;
- manifest lists (``snap-*.avro``) with per-manifest ``field_summary``
  partition bounds (Iceberg single-value binary serialization);
- manifest files (``manifest-*.avro``) with v2 ``manifest_entry``
  records (status ADDED/EXISTING/DELETED, inherited snapshot ids,
  ``data_file`` structs with record counts + sizes).

Division of labor is Spark-first and matches Iceberg's own planning
model: metadata (KBs per snapshot) is resolved on the DRIVER —
snapshot → manifest list → manifests → live file set, with
manifest-level pruning from partition ``field_summary`` bounds and
file-level pruning on partition values — and the surviving parquet
paths feed one distributed ``spark.read.parquet`` scan.  At 100 TB the
driver cost is O(#manifests + #files in surviving manifests), i.e. the
same asymptotics as Iceberg's own ``planFiles``; the data path is pure
distributed parquet with pushdown/pruning intact.

Commits are atomic and optimistic exactly like the hadoop catalog:
metadata is staged to a temp file and published with ``os.link`` (fails
if the version exists → conflicting committer detected → reread +
retry), so concurrent writers serialize on version numbers instead of
corrupting the table.

Reference parity note: the reference engine (apicrafter/metacrafter)
has no table-format layer at all — files/DBs only (core.py scan
commands); this module exists for the north rule's "over Iceberg
tables" requirement.  The jar-backed ``IcebergTableIO``
(corpus/resume.py) remains the production fast path when a real
iceberg-spark runtime is on the classpath; this layer is the bundled,
sandbox-runnable implementation of the same contract and doubles as a
fixture generator whose files any real Iceberg reader should accept.

Partition transforms (spec: Partition Transforms) are supported:
``identity``, ``bucket[N]`` (32-bit Murmur3 of the spec's single-value
hash serialization, ``(hash & Int.MAX) % N`` — validated against the
spec's published vectors), ``truncate[W]`` (ints toward −∞, strings by
codepoint prefix), and ``year``/``month``/``day``/``hour`` (epoch-based,
timezone-independent).  ``partition_by`` accepts ``"col"``,
``"bucket(16, col)"``, ``"truncate(4, col)"``, ``"day(col)"``, etc.
Transform partition values are computed AT WRITE as extra columns
(bucket via an Arrow-batched pandas UDF, everything else pure JVM
expressions), so the source column stays in the data files and reads
need no reconstruction; pruning works at both the manifest-list
(field_summary bounds) and file (partition value) levels through the
transform's result type.

Row-level deletes are merge-on-read v2 position deletes
(:meth:`IcebergTable.delete_where`): matching positions are found
distributively via the file source's hidden ``_metadata.file_path`` /
``row_index`` columns, written as spec-shaped sorted delete parquet
under a content=1 delete manifest, and applied at read with one
(broadcast when small) anti-join — no data file rewrite.  Partition
overwrite remains copy-on-write and drops delete files that became
dangling for the overwritten partitions.

Scope (documented honest boundary): parquet data files, no equality
deletes, delete parquet carries column names but not Iceberg's
per-column field-id parquet metadata (Spark's writer cannot attach
it), single-table hadoop-style directories; ``void`` transform and
bucket/truncate over float/double (disallowed by the spec) raise.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable, Optional

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from metacrafter_spark.io.avro_codec import read_ocf, write_ocf
from metacrafter_spark.util import sql_ident, sql_literal, with_sql_columns

# manifest_entry.status (spec: Manifests)
STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2

_INITIAL_SPEC_ID = 0
_PARTITION_FIELD_ID_START = 1000  # spec: partition field IDs start at 1000


# ---------------------------------------------------------------- schema

_SPARK_TO_ICEBERG = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "binary",
    T.DateType: "date",
    T.TimestampType: "timestamptz",
    T.TimestampNTZType: "timestamp",
}

_ICEBERG_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamptz": T.TimestampType(),
    "timestamp": T.TimestampNTZType(),
}


def flatten_struct_columns(df: DataFrame) -> DataFrame:
    """Expand every top-level struct column into ``{col}_{field}``
    scalar columns, appended after the others in one projection (this
    layer is scalar-typed by design — nested columns go through the
    jar-backed path)."""
    structs = [f for f in df.schema.fields
               if isinstance(f.dataType, T.StructType)]
    if not structs:
        return df
    return with_sql_columns(df, {
        f"{f.name}_{sub.name}": f"{sql_ident(f.name)}.{sql_ident(sub.name)}"
        for f in structs for sub in f.dataType.fields
    }).drop(*[f.name for f in structs])


def spark_schema_to_iceberg(schema: T.StructType) -> dict:
    """Spark StructType → Iceberg schema JSON (field-ids assigned 1..N
    in field order, the same rule Iceberg's schema conversion uses for
    fresh tables)."""
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        ice_t = _spark_type_to_iceberg(f.dataType)
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": not f.nullable,
                "type": ice_t,
            }
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _spark_type_to_iceberg(dt: T.DataType) -> Any:
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    for cls, name in _SPARK_TO_ICEBERG.items():
        if isinstance(dt, cls):
            return name
    raise NotImplementedError(
        f"Spark type {dt.simpleString()} has no Iceberg mapping in this "
        "layer (nested/array/map columns: store as binary/string or use "
        "the jar-backed IcebergTableIO)"
    )


def iceberg_schema_to_spark(schema: dict) -> T.StructType:
    fields = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, str) and t.startswith("decimal"):
            p, s = t[t.index("(") + 1 : t.index(")")].split(",")
            spark_t: T.DataType = T.DecimalType(int(p), int(s))
        elif isinstance(t, str) and t in _ICEBERG_TO_SPARK:
            spark_t = _ICEBERG_TO_SPARK[t]
        else:
            raise NotImplementedError(f"Iceberg type {t!r} unsupported here")
        fields.append(T.StructField(f["name"], spark_t, not f["required"]))
    return T.StructType(fields)


# ------------------------------------------------------------ transforms

def murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant) — the public-domain hash the
    Iceberg spec mandates for bucket transforms (Appendix B)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n & ~3
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    if rounded < n:
        k = int.from_bytes(data[rounded:], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_hash_bytes(ice_type: str, v: Any) -> bytes:
    """Spec Appendix B hash serialization: every integral/temporal type
    widens to a signed 8-byte little-endian long (so ``bucket(34 as
    int) == bucket(34 as long)``), strings hash their UTF-8 bytes,
    decimals their minimal big-endian unscaled value."""
    import datetime as _dt
    import decimal as _dec

    if ice_type in ("int", "long"):
        return struct.pack("<q", int(v))
    if ice_type == "date":
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            v = (v - _dt.date(1970, 1, 1)).days
        return struct.pack("<q", int(v))
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, _dt.datetime):
            v = int(v.replace(tzinfo=_dt.timezone.utc).timestamp()
                    * 1_000_000)
        return struct.pack("<q", int(v))
    if ice_type == "string":
        return str(v).encode("utf8")
    if ice_type in ("binary", "fixed"):
        return bytes(v)
    if ice_type.startswith("decimal"):
        unscaled = int(_dec.Decimal(v).scaleb(
            int(ice_type[ice_type.index(",") + 1:ice_type.index(")")])))
        length = max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(length, "big", signed=True)
    raise ValueError(f"bucket transform is not defined for {ice_type!r}")


def bucket_value(ice_type: str, v: Any, n: int) -> Optional[int]:
    if v is None:
        return None
    return (murmur3_32(bucket_hash_bytes(ice_type, v)) & 0x7FFFFFFF) % n


_TIME_TRANSFORMS = ("year", "month", "day", "hour")


def parse_partition_item(item: str) -> tuple[str, str, str]:
    """``"col"`` / ``"bucket(16, col)"`` / ``"day(col)"`` →
    ``(field_name, transform, source_column)``."""
    item = item.strip()
    if "(" not in item:
        return item, "identity", item
    head, _, rest = item.partition("(")
    head = head.strip().lower()
    args = [a.strip() for a in rest.rstrip(")").split(",")]
    if head in ("bucket", "truncate"):
        if len(args) != 2 or not args[0].isdigit() or int(args[0]) < 1:
            raise ValueError(f"bad partition spec item {item!r}")
        n, col = int(args[0]), args[1]
        suffix = "bucket" if head == "bucket" else "trunc"
        return f"{col}_{suffix}", f"{head}[{n}]", col
    if head in _TIME_TRANSFORMS:
        if len(args) != 1:
            raise ValueError(f"bad partition spec item {item!r}")
        return f"{args[0]}_{head}", head, args[0]
    if head == "void":
        raise NotImplementedError("void transform")
    raise ValueError(f"unknown partition transform in {item!r}")


def transform_result_type(transform: str, source_type: str) -> str:
    """Result type of a partition transform (spec: Partition
    Transforms)."""
    if transform == "identity":
        return source_type
    if transform.startswith("bucket["):
        if source_type in ("float", "double", "boolean"):
            raise ValueError(f"bucket over {source_type} is disallowed")
        return "int"
    if transform.startswith("truncate["):
        if source_type not in ("int", "long", "string", "binary") and \
                not source_type.startswith("decimal"):
            raise ValueError(f"truncate over {source_type} is disallowed")
        return source_type
    if transform == "day":
        if source_type not in ("date", "timestamp", "timestamptz"):
            raise ValueError(f"day() over {source_type}")
        return "date"
    if transform in ("year", "month"):
        if source_type not in ("date", "timestamp", "timestamptz"):
            raise ValueError(f"{transform}() over {source_type}")
        return "int"
    if transform == "hour":
        if source_type not in ("timestamp", "timestamptz"):
            raise ValueError("hour() over non-timestamp")
        return "int"
    raise NotImplementedError(f"transform {transform!r}")


def _transform_args(transform: str) -> int:
    return int(transform[transform.index("[") + 1:-1])


def transform_spark_column(transform: str, source: str, source_type: str):
    """The write-side Column computing a partition value.  Everything
    except bucket is a pure JVM expression; bucket is an Arrow-batched
    pandas UDF over the spec's hash serialization.  Temporal transforms
    go through epoch arithmetic on the internal UTC instant, so results
    do not depend on the session timezone."""
    from pyspark.sql import functions as F

    col = F.col(source)
    if transform == "identity":
        return col
    if transform.startswith("truncate["):
        w = _transform_args(transform)
        if source_type in ("int", "long"):
            return (col - F.pmod(col, F.lit(w))).cast(
                "int" if source_type == "int" else "long")
        if source_type == "string":
            return F.substring(col, 1, w)
        raise NotImplementedError(
            f"truncate over {source_type} on the Spark write path")
    if transform in _TIME_TRANSFORMS:
        if source_type == "date":
            d = col
        else:
            days = F.floor(col.cast("long") / F.lit(86400))
            d = F.date_add(F.lit("1970-01-01").cast("date"),
                           days.cast("int"))
        if transform == "day":
            return d
        if transform == "year":
            return (F.year(d) - F.lit(1970)).cast("int")
        if transform == "month":
            return ((F.year(d) - F.lit(1970)) * F.lit(12)
                    + F.month(d) - F.lit(1)).cast("int")
        return F.floor(col.cast("long") / F.lit(3600)).cast("int")
    if transform.startswith("bucket["):
        n = _transform_args(transform)
        if source_type in ("float", "double", "boolean"):
            raise ValueError(f"bucket over {source_type} is disallowed")

        @F.pandas_udf("int")
        def _bucket(s: pd.Series) -> pd.Series:
            import datetime as _dt
            if source_type in ("timestamp", "timestamptz") and \
                    s.dtype.kind == "M":
                micros = s.astype("int64") // 1000
                return pd.Series(
                    [None if pd.isna(m) else bucket_value(
                        source_type, int(m), n)
                     for m in micros.where(s.notna(), other=pd.NA)],
                    dtype="Int32")
            return pd.Series(
                [None if v is None or (isinstance(v, float) and
                                       pd.isna(v))
                 else bucket_value(source_type, v, n)
                 for v in s], dtype="Int32")

        return _bucket(col)
    raise NotImplementedError(f"transform {transform!r}")


def transform_value(transform: str, source_type: str, v: Any) -> Any:
    """Driver-side twin of :func:`transform_spark_column` — apply a
    transform to one value (for building ``partition_filter`` dicts
    from source-space predicates)."""
    import datetime as _dt

    if v is None:
        return None
    if transform == "identity":
        return v
    if transform.startswith("bucket["):
        return bucket_value(source_type, v, _transform_args(transform))
    if transform.startswith("truncate["):
        w = _transform_args(transform)
        if source_type in ("int", "long"):
            return v - v % w          # python % is non-negative for w>0
        if source_type == "string":
            return str(v)[:w]
        if source_type == "binary":
            return bytes(v)[:w]
        raise NotImplementedError(f"truncate over {source_type}")
    if transform in _TIME_TRANSFORMS:
        if isinstance(v, _dt.datetime):
            epoch_s = v.replace(tzinfo=_dt.timezone.utc).timestamp()
            d = _dt.datetime.fromtimestamp(
                (epoch_s // 86400) * 86400, _dt.timezone.utc).date()
            if transform == "hour":
                return int(epoch_s // 3600)
        elif isinstance(v, _dt.date):
            d = v
            if transform == "hour":
                raise ValueError("hour() over date")
        else:
            raise TypeError(f"temporal transform over {type(v)}")
        if transform == "day":
            return d
        if transform == "year":
            return d.year - 1970
        return (d.year - 1970) * 12 + d.month - 1
    raise NotImplementedError(f"transform {transform!r}")


# ---------------------------------------- single-value binary serialization

def single_value_serialize(ice_type: str, v: Any) -> Optional[bytes]:
    """Iceberg 'Binary single-value serialization' (spec Appendix D) for
    the types identity partitions use here.  Used for field_summary
    lower/upper bounds."""
    if v is None:
        return None
    if ice_type == "int":
        return struct.pack("<i", int(v))
    if ice_type == "long":
        return struct.pack("<q", int(v))
    if ice_type == "float":
        return struct.pack("<f", float(v))
    if ice_type == "double":
        return struct.pack("<d", float(v))
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "string":
        return str(v).encode("utf8")
    if ice_type == "binary":
        return bytes(v)
    if ice_type == "date":  # days from epoch, 4-byte little-endian
        import datetime as _dt

        if isinstance(v, _dt.date):
            v = (v - _dt.date(1970, 1, 1)).days
        return struct.pack("<i", int(v))
    if ice_type in ("timestamp", "timestamptz"):  # epoch micros, int64
        return struct.pack("<q", int(normalize_partition_value(ice_type, v)))
    raise NotImplementedError(f"single-value serialization for {ice_type!r}")


def normalize_partition_value(ice_type: str, v: Any) -> Any:
    """User-facing filter value → the stored partition representation
    (dates are epoch days, timestamps epoch micros)."""
    import datetime as _dt

    if v is None:
        return None
    if ice_type == "date" and isinstance(v, _dt.date) \
            and not isinstance(v, _dt.datetime):
        return (v - _dt.date(1970, 1, 1)).days
    if ice_type in ("timestamp", "timestamptz") \
            and isinstance(v, _dt.datetime):
        return int(v.replace(tzinfo=_dt.timezone.utc).timestamp()
                   * 1_000_000)
    return v


def single_value_deserialize(ice_type: str, b: Optional[bytes]) -> Any:
    if b is None:
        return None
    if ice_type == "int":
        return struct.unpack("<i", b)[0]
    if ice_type == "long":
        return struct.unpack("<q", b)[0]
    if ice_type == "float":
        return struct.unpack("<f", b)[0]
    if ice_type == "double":
        return struct.unpack("<d", b)[0]
    if ice_type == "boolean":
        return b == b"\x01"
    if ice_type == "string":
        return b.decode("utf8")
    if ice_type == "binary":
        return bytes(b)
    if ice_type == "date":
        return struct.unpack("<i", b)[0]
    if ice_type in ("timestamp", "timestamptz"):
        return struct.unpack("<q", b)[0]
    raise NotImplementedError(f"single-value deserialization for {ice_type!r}")


# ------------------------------------------------------------ avro schemas

def _avro_type_for(ice_type: str, field_id: int) -> Any:
    prim = {
        "boolean": "boolean",
        "int": "int",
        "long": "long",
        "float": "float",
        "double": "double",
        "string": "string",
        "binary": "bytes",
        "date": {"type": "int", "logicalType": "date"},
    }
    if ice_type in prim:
        return prim[ice_type]
    if ice_type in ("timestamp", "timestamptz"):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if ice_type.startswith("decimal"):
        # spec: decimals are fixed; for partition values we store the
        # unscaled big-endian bytes
        return "bytes"
    raise NotImplementedError(f"avro mapping for iceberg type {ice_type!r}")


def _partition_record_schema(spec_fields: list[dict],
                             result_types: dict) -> dict:
    """Avro record for data_file.partition (field name r102 per the
    convention Iceberg's own Avro files use).  ``result_types`` maps
    partition FIELD name → the transform's result type (int for
    bucket/year/month/hour, date for day, source type for
    identity/truncate)."""
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": pf["name"],
                "type": ["null", _avro_type_for(result_types[pf["name"]],
                                                pf["field-id"])],
                "field-id": pf["field-id"],
            }
            for pf in spec_fields
        ],
    }


def manifest_entry_schema(partition_schema: dict) -> dict:
    """v2 manifest_entry Avro schema (spec: Manifests), field-ids from
    the spec's column list."""
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": partition_schema, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {"name": "split_offsets",
             "type": ["null", {"type": "array", "items": "long"}],
             "field-id": 132},
            {"name": "equality_ids",
             "type": ["null", {"type": "array", "items": "int"}],
             "field-id": 135},
            {"name": "sort_order_id", "type": ["null", "int"], "field-id": 140},
            # spec: map<int, binary> keyed by field-id, represented in
            # Avro as an array of key/value records (int keys can't be
            # Avro map keys) — enables file-level data skipping
            {"name": "lower_bounds", "type": ["null", {
                "type": "array", "items": {
                    "type": "record", "name": "k126_v127", "fields": [
                        {"name": "key", "type": "int", "field-id": 126},
                        {"name": "value", "type": "bytes",
                         "field-id": 127}]}}], "field-id": 125},
            {"name": "upper_bounds", "type": ["null", {
                "type": "array", "items": {
                    "type": "record", "name": "k129_v130", "fields": [
                        {"name": "key", "type": "int", "field-id": 129},
                        {"name": "value", "type": "bytes",
                         "field-id": 130}]}}], "field-id": 128},
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


MANIFEST_FILE_SCHEMA = {
    # manifest list entries (spec: Manifest Lists), v2 field-ids
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions", "type": ["null", {
            "type": "array",
            "items": {
                "type": "record",
                "name": "field_summary",
                "fields": [
                    {"name": "contains_null", "type": "boolean",
                     "field-id": 509},
                    {"name": "contains_nan", "type": ["null", "boolean"],
                     "field-id": 518},
                    {"name": "lower_bound", "type": ["null", "bytes"],
                     "field-id": 510},
                    {"name": "upper_bound", "type": ["null", "bytes"],
                     "field-id": 511},
                ],
            },
        }], "field-id": 507},
        {"name": "key_metadata", "type": ["null", "bytes"], "field-id": 519},
    ],
}


# ------------------------------------------------------------------ table

@dataclass
class Snapshot:
    snapshot_id: int
    sequence_number: int
    timestamp_ms: int
    manifest_list: str
    operation: str
    summary: dict = field(default_factory=dict)
    parent_snapshot_id: Optional[int] = None
    schema_id: int = 0

    def to_json(self) -> dict:
        d = {
            "snapshot-id": self.snapshot_id,
            "sequence-number": self.sequence_number,
            "timestamp-ms": self.timestamp_ms,
            "manifest-list": self.manifest_list,
            "summary": {"operation": self.operation, **self.summary},
            "schema-id": self.schema_id,
        }
        if self.parent_snapshot_id is not None:
            d["parent-snapshot-id"] = self.parent_snapshot_id
        return d

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        summary = dict(d.get("summary", {}))
        op = summary.pop("operation", "append")
        return Snapshot(
            snapshot_id=d["snapshot-id"],
            sequence_number=d.get("sequence-number", 0),
            timestamp_ms=d["timestamp-ms"],
            manifest_list=d["manifest-list"],
            operation=op,
            summary=summary,
            parent_snapshot_id=d.get("parent-snapshot-id"),
            schema_id=d.get("schema-id", 0),
        )


class CommitConflict(Exception):
    """Another writer published this metadata version first — reread and
    retry (the hadoop-catalog optimistic-concurrency contract)."""


class IcebergTable:
    """A hadoop-catalog-style Iceberg v2 table rooted at ``location``."""

    def __init__(self, location: str, metadata: dict, version: int):
        self.location = location
        self.metadata = metadata
        self.version = version

    # -------------------------------------------------------- lifecycle

    @staticmethod
    def create(
        location: str,
        schema: T.StructType,
        *,
        partition_by: Iterable[str] = (),
        now_ms: Optional[int] = None,
    ) -> "IcebergTable":
        os.makedirs(os.path.join(location, "metadata"), exist_ok=False)
        os.makedirs(os.path.join(location, "data"), exist_ok=True)
        ice_schema = spark_schema_to_iceberg(schema)
        by_name = {f["name"]: f for f in ice_schema["fields"]}
        spec_fields = []
        for i, item in enumerate(partition_by):
            fname, transform, col = parse_partition_item(item)
            if col not in by_name:
                raise ValueError(f"partition column {col!r} not in schema")
            # validates transform/source-type combination eagerly
            transform_result_type(transform, by_name[col]["type"])
            if transform != "identity" and fname in by_name:
                raise ValueError(
                    f"partition field name {fname!r} collides with a "
                    "schema column")
            spec_fields.append(
                {
                    "name": fname,
                    "transform": transform,
                    "source-id": by_name[col]["id"],
                    "field-id": _PARTITION_FIELD_ID_START + i,
                }
            )
        metadata = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": location,
            "last-sequence-number": 0,
            "last-updated-ms": now_ms if now_ms is not None
            else int(time.time() * 1000),
            "last-column-id": len(ice_schema["fields"]),
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": _INITIAL_SPEC_ID,
            "partition-specs": [
                {"spec-id": _INITIAL_SPEC_ID, "fields": spec_fields}
            ],
            "last-partition-id": (
                spec_fields[-1]["field-id"] if spec_fields
                else _PARTITION_FIELD_ID_START - 1
            ),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
            "properties": {},
        }
        t = IcebergTable(location, metadata, version=0)
        t._publish_metadata(1)
        return t

    @staticmethod
    def load(location: str) -> "IcebergTable":
        hint = os.path.join(location, "metadata", "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as f:
                version = int(f.read().strip())
        else:  # fall back to a listing (hint is advisory in hadoop tables)
            versions = [
                int(n[1 : -len(".metadata.json")])
                for n in os.listdir(os.path.join(location, "metadata"))
                if n.startswith("v") and n.endswith(".metadata.json")
            ]
            if not versions:
                raise FileNotFoundError(f"no Iceberg metadata in {location}")
            version = max(versions)
        path = os.path.join(location, "metadata", f"v{version}.metadata.json")
        with open(path) as f:
            metadata = json.load(f)
        if metadata.get("format-version") != 2:
            raise NotImplementedError(
                f"format-version {metadata.get('format-version')} (v2 only)"
            )
        return IcebergTable(location, metadata, version)

    @staticmethod
    def exists(location: str) -> bool:
        meta = os.path.join(location, "metadata")
        if not os.path.isdir(meta):
            return False
        if os.path.exists(os.path.join(meta, "version-hint.text")):
            return True
        return any(
            n.startswith("v") and n.endswith(".metadata.json")
            for n in os.listdir(meta)
        )

    # ------------------------------------------------------- properties

    @property
    def schema(self) -> dict:
        sid = self.metadata["current-schema-id"]
        return next(s for s in self.metadata["schemas"]
                    if s.get("schema-id", 0) == sid)

    @property
    def spark_schema(self) -> T.StructType:
        return iceberg_schema_to_spark(self.schema)

    @property
    def spec(self) -> dict:
        sid = self.metadata["default-spec-id"]
        return next(s for s in self.metadata["partition-specs"]
                    if s["spec-id"] == sid)

    @property
    def partition_field_names(self) -> list[str]:
        """All partition-spec field names (identity + transform)."""
        return [pf["name"] for pf in self.spec["fields"]]

    @property
    def identity_partition_columns(self) -> list[str]:
        """Schema columns partitioned by identity — the only partition
        values that must be re-attached on read (transform partitions
        keep their source column in the data files)."""
        return [pf["name"] for pf in self.spec["fields"]
                if pf["transform"] == "identity"]

    def _source_types(self) -> dict:
        return {f["id"]: f["type"] for f in self.schema["fields"]}

    def _partition_result_types(self) -> dict:
        """Partition field name → the transform's RESULT type (what
        partition values, hive dir names, and field_summary bounds are
        typed as)."""
        src = self._source_types()
        return {
            pf["name"]: transform_result_type(pf["transform"],
                                              src[pf["source-id"]])
            for pf in self.spec["fields"]
        }

    @property
    def snapshots(self) -> list[Snapshot]:
        return [Snapshot.from_json(s) for s in self.metadata["snapshots"]]

    @property
    def current_snapshot(self) -> Optional[Snapshot]:
        sid = self.metadata.get("current-snapshot-id", -1)
        if sid in (-1, None):
            return None
        return next(s for s in self.snapshots if s.snapshot_id == sid)

    # ----------------------------------------------------------- commit

    def _publish_metadata(self, new_version: int) -> None:
        """Atomic optimistic publish: stage → hard-link to the version
        path (``link`` fails with EEXIST if a concurrent committer won)
        → advance the hint.  Readers only ever see complete files."""
        meta_dir = os.path.join(self.location, "metadata")
        staged = os.path.join(meta_dir, f".staged-{uuid.uuid4().hex}.json")
        target = os.path.join(meta_dir, f"v{new_version}.metadata.json")
        with open(staged, "w") as f:
            json.dump(self.metadata, f, indent=1)
        try:
            os.link(staged, target)
        except FileExistsError as e:
            raise CommitConflict(
                f"version {new_version} already committed — reload and retry"
            ) from e
        finally:
            os.unlink(staged)
        hint = os.path.join(meta_dir, "version-hint.text")
        hint_tmp = hint + f".{uuid.uuid4().hex}"
        with open(hint_tmp, "w") as f:
            f.write(str(new_version))
        os.replace(hint_tmp, hint)  # atomic on POSIX
        self.version = new_version

    # ------------------------------------------------------ write paths

    def _write_manifest(
        self, entries: list[dict], snapshot_id: int, sequence_number: int,
        *, content: int = 0,
    ) -> dict:
        """Write one manifest avro; returns its manifest_file row
        (including field_summary partition bounds for list-level
        pruning).  ``content`` 0 = data manifest, 1 = delete manifest
        (spec: Manifest Lists field 517)."""
        part_schema = _partition_record_schema(
            self.spec["fields"], self._partition_result_types())
        schema = manifest_entry_schema(part_schema)
        name = f"manifest-{uuid.uuid4().hex}.avro"
        path = os.path.join(self.location, "metadata", name)
        meta_entries = {
            "schema": json.dumps(self.schema),
            "partition-spec": json.dumps(self.spec["fields"]),
            "partition-spec-id": str(self.spec["spec-id"]),
            "format-version": "2",
            "content": "deletes" if content == 1 else "data",
        }
        for e in entries:
            # entries rewritten from older-layout manifests lack these
            # optional fields; the schema requires them
            e["data_file"].setdefault("equality_ids", None)
            e["data_file"].setdefault("lower_bounds", None)
            e["data_file"].setdefault("upper_bounds", None)
        write_ocf(path, schema, entries, extra_meta=meta_entries)

        added = [e for e in entries if e["status"] == STATUS_ADDED]
        existing = [e for e in entries if e["status"] == STATUS_EXISTING]
        deleted = [e for e in entries if e["status"] == STATUS_DELETED]
        result_types = self._partition_result_types()
        summaries = []
        for pf in self.spec["fields"]:
            ice_t = result_types[pf["name"]]
            vals = [
                e["data_file"]["partition"].get(pf["name"])
                for e in entries
                if e["status"] != STATUS_DELETED
            ]
            non_null = [v for v in vals if v is not None]
            summaries.append(
                {
                    "contains_null": any(v is None for v in vals),
                    "contains_nan": None,
                    "lower_bound": single_value_serialize(
                        ice_t, min(non_null)) if non_null else None,
                    "upper_bound": single_value_serialize(
                        ice_t, max(non_null)) if non_null else None,
                }
            )
        return {
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": self.spec["spec-id"],
            "content": content,
            "sequence_number": sequence_number,
            "min_sequence_number": min(
                (e["sequence_number"] for e in entries
                 if e["sequence_number"] is not None),
                default=sequence_number,
            ),
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(added),
            "existing_files_count": len(existing),
            "deleted_files_count": len(deleted),
            "added_rows_count": sum(
                e["data_file"]["record_count"] for e in added),
            "existing_rows_count": sum(
                e["data_file"]["record_count"] for e in existing),
            "deleted_rows_count": sum(
                e["data_file"]["record_count"] for e in deleted),
            "partitions": summaries if self.spec["fields"] else None,
            "key_metadata": None,
        }

    def _commit_snapshot(
        self,
        manifest_files: list[dict],
        *,
        operation: str,
        summary: dict,
        now_ms: Optional[int],
    ) -> Snapshot:
        parent = self.current_snapshot
        seq = self.metadata["last-sequence-number"] + 1
        snap_id = (parent.snapshot_id + 1) if parent else 1
        list_name = f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro"
        list_path = os.path.join(self.location, "metadata", list_name)
        write_ocf(
            list_path, MANIFEST_FILE_SCHEMA, manifest_files,
            extra_meta={"format-version": "2",
                        "snapshot-id": str(snap_id),
                        "sequence-number": str(seq),
                        "parent-snapshot-id": str(
                            parent.snapshot_id if parent else "null")},
        )
        ts = now_ms if now_ms is not None else int(time.time() * 1000)
        snap = Snapshot(
            snapshot_id=snap_id,
            sequence_number=seq,
            timestamp_ms=ts,
            manifest_list=list_path,
            operation=operation,
            summary=summary,
            parent_snapshot_id=parent.snapshot_id if parent else None,
            schema_id=self.metadata["current-schema-id"],
        )
        self.metadata["snapshots"].append(snap.to_json())
        self.metadata["current-snapshot-id"] = snap_id
        self.metadata["last-sequence-number"] = seq
        self.metadata["last-updated-ms"] = ts
        self.metadata["snapshot-log"].append(
            {"timestamp-ms": ts, "snapshot-id": snap_id}
        )
        self._publish_metadata(self.version + 1)
        return snap

    # ---------------------------------------------------- file tracking

    def _collect_data_files(self, root: str, *,
                            content: int = 0) -> list[dict]:
        """Walk newly written parquet under ``root`` into data_file
        structs — record counts come from parquet footers (pyarrow),
        partition values from the hive-style directory names Spark's
        ``partitionBy`` writes.  ``content`` 1 marks position-delete
        files (spec: data_file field 134)."""
        import pyarrow.parquet as pq
        from urllib.parse import unquote

        by_name = self._partition_result_types()
        part_cols = self.partition_field_names
        out = []
        for dirpath, _dirs, files in os.walk(root):
            rel = os.path.relpath(dirpath, root)
            pvals: dict[str, Any] = {}
            if rel != ".":
                for piece in rel.split(os.sep):
                    if "=" not in piece:
                        continue
                    k, v = piece.split("=", 1)
                    v = unquote(v)
                    pvals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" \
                        else _parse_partition_value(by_name[k], v)
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                fpath = os.path.join(dirpath, fn)
                meta = pq.ParquetFile(fpath).metadata
                lo, hi = self._column_bounds(meta) if content == 0 \
                    else ({}, {})
                out.append(
                    {
                        "content": content,
                        "file_path": fpath,
                        "file_format": "PARQUET",
                        "partition": {c: pvals.get(c) for c in part_cols},
                        "record_count": meta.num_rows,
                        "file_size_in_bytes": os.path.getsize(fpath),
                        "split_offsets": None,
                        "equality_ids": None,
                        "sort_order_id": None,
                        "lower_bounds": [
                            {"key": k, "value": v}
                            for k, v in sorted(lo.items())] or None,
                        "upper_bounds": [
                            {"key": k, "value": v}
                            for k, v in sorted(hi.items())] or None,
                    }
                )
        return out

    #: string bounds longer than this are omitted: a truncated lower
    #: bound would still be valid but a truncated UPPER bound would sort
    #: below real values (Iceberg increments the last char; omission is
    #: the simpler safe choice)
    _MAX_BOUND_CHARS = 64

    def _column_bounds(self, meta) -> tuple[dict, dict]:
        """Per-column (field-id → serialized min/max) from the parquet
        footer's row-group statistics — the spec's lower_bounds /
        upper_bounds, enabling file skipping on non-partition columns.
        A column's bounds must cover EVERY row group: if any row group
        lacks usable stats (missing, undecodable, over-length string),
        the column is invalidated file-wide — partial bounds would
        under-cover the file and wrongly prune matching rows.  Absent
        bounds mean "can't skip", never "wrong"."""
        by_name = {f["name"]: f for f in self.schema["fields"]}
        lo: dict[int, Any] = {}
        hi: dict[int, Any] = {}
        dead: set[int] = set()
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                f = by_name.get(col.path_in_schema)
                if f is None:
                    continue
                fid = f["id"]
                if fid in dead:
                    continue
                if not col.is_stats_set or not col.statistics.has_min_max:
                    dead.add(fid)
                    continue
                st = col.statistics
                mn, mx = st.min, st.max
                if isinstance(mn, bytes) and f["type"] == "string":
                    try:
                        mn, mx = mn.decode("utf8"), mx.decode("utf8")
                    except UnicodeDecodeError:
                        dead.add(fid)
                        continue
                if (isinstance(mn, (str, bytes)) and
                        max(len(mn), len(mx)) > self._MAX_BOUND_CHARS):
                    dead.add(fid)
                    continue
                lo[fid] = mn if fid not in lo else min(lo[fid], mn)
                hi[fid] = mx if fid not in hi else max(hi[fid], mx)
        out_lo, out_hi = {}, {}
        for fid in lo:
            if fid in dead:
                continue
            t = next(f["type"] for f in self.schema["fields"]
                     if f["id"] == fid)
            try:
                out_lo[fid] = single_value_serialize(t, lo[fid])
                out_hi[fid] = single_value_serialize(t, hi[fid])
            except (NotImplementedError, TypeError):
                continue
        return out_lo, out_hi

    def append(
        self, df: DataFrame, *, now_ms: Optional[int] = None
    ) -> Snapshot:
        """New append snapshot: write parquet (partitioned by the spec's
        identity columns), one new manifest for the added files, reuse
        the parent's manifests untouched (Iceberg's fast-append)."""
        added = self._write_data(df)
        seq = self.metadata["last-sequence-number"] + 1
        parent = self.current_snapshot
        snap_id = (parent.snapshot_id + 1) if parent else 1
        entries = [
            {
                "status": STATUS_ADDED,
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": f,
            }
            for f in added
        ]
        manifests = []
        if entries:
            manifests.append(self._write_manifest(entries, snap_id, seq))
        if parent:
            manifests.extend(self._read_manifest_list(parent))
        return self._commit_snapshot(
            manifests,
            operation="append",
            summary={
                "added-data-files": str(len(added)),
                "added-records": str(
                    sum(f["record_count"] for f in added)),
            },
            now_ms=now_ms,
        )

    def overwrite_partitions(
        self, df: DataFrame, *, now_ms: Optional[int] = None
    ) -> Snapshot:
        """Dynamic-partition overwrite as one atomic snapshot: manifests
        are rewritten to DELETE entries whose partition appears in
        ``df``, and a new manifest adds the replacement files.  A replay
        of the same buckets swaps partitions instead of duplicating —
        the resume-path idempotency contract with real snapshot
        isolation."""
        part_cols = self.partition_field_names
        if not part_cols:
            raise ValueError("overwrite_partitions needs a partitioned table")
        added = self._write_data(df)
        touched = {tuple(f["partition"][c] for c in part_cols) for f in added}
        seq = self.metadata["last-sequence-number"] + 1
        parent = self.current_snapshot
        snap_id = (parent.snapshot_id + 1) if parent else 1

        manifests: list[dict] = []
        deleted_rows = 0
        if parent:
            for mf in self._read_manifest_list(parent):
                entries = list(read_ocf(mf["manifest_path"]))
                live = [e for e in entries if e["status"] != STATUS_DELETED]
                keep, drop = [], []
                for e in live:
                    key = tuple(e["data_file"]["partition"].get(c)
                                for c in part_cols)
                    (drop if key in touched else keep).append(e)
                if not drop:
                    manifests.append(mf)  # untouched manifest rides along
                    continue
                if mf.get("content", 0) == 0:
                    deleted_rows += sum(
                        e["data_file"]["record_count"] for e in drop)
                rewritten = [
                    {**e, "status": STATUS_EXISTING} for e in keep
                ] + [
                    {**e, "status": STATUS_DELETED, "snapshot_id": snap_id}
                    for e in drop
                ]
                if rewritten:
                    # delete manifests rewrite as delete manifests:
                    # position deletes scoped to an overwritten
                    # partition are dangling and drop with it
                    manifests.append(
                        self._write_manifest(
                            rewritten, snap_id, seq,
                            content=mf.get("content", 0) or 0))
        entries = [
            {
                "status": STATUS_ADDED,
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": f,
            }
            for f in added
        ]
        if entries:
            manifests.insert(0, self._write_manifest(entries, snap_id, seq))
        return self._commit_snapshot(
            manifests,
            operation="overwrite",
            summary={
                "added-data-files": str(len(added)),
                "deleted-records": str(deleted_rows),
                "replace-partitions": "true",
            },
            now_ms=now_ms,
        )

    def rewrite_data(
        self,
        spark: SparkSession,
        *,
        zorder: "Optional[list[tuple]]" = None,
        sort_cols: "Optional[list[str]]" = None,
        num_files: int = 8,
        now_ms: Optional[int] = None,
    ) -> Optional[Snapshot]:
        """Data-file rewrite — Iceberg's OPTIMIZE / OPTIMIZE ZORDER —
        as ONE atomic ``replace`` snapshot: the live rows (position
        deletes APPLIED — the read path merges them) rewrite into
        ``num_files`` compacted files, optionally z-ordered
        (``zorder`` = ``(name, lo, hi)`` triples, :mod:`io.zorder`) so
        file bounds prune on every listed column, or range-sorted on
        ``sort_cols``.  Every prior data entry marks DELETED and the
        delete manifests drop (their targets no longer exist in the
        new snapshot); table rows are bit-identical before and after.
        Time travel to prior snapshots is unaffected;
        :meth:`expire_snapshots` reclaims the old files later.
        Returns ``None`` without committing on an empty table."""
        if zorder and sort_cols:
            raise ValueError("zorder and sort_cols are mutually exclusive")
        if not self.plan_files():
            return None
        df = self.read(spark)
        if zorder:
            from metacrafter_spark.io.zorder import zordered

            out = zordered(df, zorder, num_files=num_files)
        elif sort_cols:
            out = df.repartitionByRange(
                num_files, *sort_cols).sortWithinPartitions(*sort_cols)
        else:
            out = df.repartition(num_files)
        added = self._write_data(out)
        seq = self.metadata["last-sequence-number"] + 1
        parent = self.current_snapshot
        snap_id = parent.snapshot_id + 1
        manifests = [self._write_manifest(
            [{
                "status": STATUS_ADDED,
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": f,
            } for f in added],
            snap_id, seq)]
        deleted_files = 0
        for mf in self._read_manifest_list(parent):
            if mf.get("content", 0) == 1:
                continue  # position deletes are applied in the rewrite
            live = [e for e in read_ocf(mf["manifest_path"])
                    if e["status"] != STATUS_DELETED]
            if not live:
                continue
            deleted_files += len(live)
            manifests.append(self._write_manifest(
                [{**e, "status": STATUS_DELETED, "snapshot_id": snap_id}
                 for e in live],
                snap_id, seq))
        return self._commit_snapshot(
            manifests,
            operation="replace",
            summary={
                "added-data-files": str(len(added)),
                "deleted-data-files": str(deleted_files),
                "rewritten-layout": ("zorder" if zorder else
                                     "sort" if sort_cols else "compact"),
            },
            now_ms=now_ms,
        )

    def count_rows(self, spark: "Optional[SparkSession]" = None, *,
                   snapshot_id: Optional[int] = None,
                   partition_filter: Optional[dict] = None) -> int:
        """O(metadata) ``COUNT(*)`` — the fast path a 10^12-row table
        needs: when the snapshot has no live merge-on-read deletes the
        exact count is the sum of live data-file ``record_count``
        stats (driver-side, no data file opens, partition filters
        prune whole files).  With live deletes the metadata sum would
        over-count (and delete files may overlap), so the count falls
        back to a real scan — pass ``spark`` to allow that; without it
        the method refuses rather than return a wrong number."""
        files = self.plan_files(snapshot_id=snapshot_id,
                                partition_filter=partition_filter)
        if not self.plan_deletes(snapshot_id=snapshot_id):
            return sum(f["record_count"] for f in files)
        if spark is None:
            raise ValueError(
                "snapshot has live merge-on-read deletes: an exact "
                "count needs a scan — pass a SparkSession")
        return self.read(spark, snapshot_id=snapshot_id,
                         partition_filter=partition_filter).count()

    def column_bounds(self, column: str, *,
                      snapshot_id: Optional[int] = None,
                      partition_filter: Optional[dict] = None
                      ) -> Optional[tuple]:
        """Exact table-level ``(min, max)`` for ``column`` straight
        from file metadata — valid only when EVERY live data file
        publishes bounds for the column (long strings/binary omit
        them) AND no merge-on-read deletes are live (a delete could
        remove the extreme row).  Returns ``None`` whenever exactness
        cannot be proven; never returns an approximate answer."""
        field = next((f for f in self.schema["fields"]
                      if f["name"] == column), None)
        if field is None:
            raise ValueError(f"no column {column!r} in schema")
        if self.plan_deletes(snapshot_id=snapshot_id):
            return None
        files = self.plan_files(snapshot_id=snapshot_id,
                                partition_filter=partition_filter)
        if not files:
            return None
        los, his = [], []
        for f in files:
            lo_map = {kv["key"]: kv["value"]
                      for kv in (f.get("lower_bounds") or [])}
            hi_map = {kv["key"]: kv["value"]
                      for kv in (f.get("upper_bounds") or [])}
            lo_raw = lo_map.get(field["id"])
            hi_raw = hi_map.get(field["id"])
            if lo_raw is None or hi_raw is None:
                return None
            los.append(single_value_deserialize(field["type"], lo_raw))
            his.append(single_value_deserialize(field["type"], hi_raw))
        return min(los), max(his)

    def delete_where(
        self, spark: SparkSession, condition, *,
        now_ms: Optional[int] = None,
    ) -> Optional[Snapshot]:
        """Merge-on-read row delete (spec: Position Delete Files,
        format-version 2): matching rows are located DISTRIBUTEDLY via
        the file source's hidden ``_metadata.file_path`` /
        ``_metadata.row_index`` columns — no data file is rewritten —
        and their positions land in spec-shaped delete parquet
        (columns ``file_path``, ``pos``, sorted, partition-scoped on a
        partitioned table), committed as a content=1 delete manifest
        alongside the parent's untouched data manifests.

        ``condition`` is a SQL string or Column over the table columns
        (identity partition values are attached first, so predicates
        may use them).  Returns ``None`` without committing when no
        row matches.  Honest boundary: the delete parquet lacks
        Iceberg's per-column field-id metadata (Spark's writer cannot
        attach it); readers in this layer key on column names.
        Path-uniqueness note: job dirs are uuid-named so file paths
        are never reused, hence path-equality alone scopes a delete to
        exactly the files it was computed from (the sequence-number
        rule real readers apply is recorded correctly but redundant
        here)."""
        import datetime as _dt
        from pyspark.sql import functions as F

        data_files = self.plan_files()
        if not data_files:
            return None
        full = self._scan(spark, data_files, self.schema, positions=True)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        matched = full.filter(cond).selectExpr("__fp AS file_path",
                                               "__pos AS pos")

        part_cols = self.partition_field_names
        job_dir = os.path.join(
            self.location, "data", f"job-{uuid.uuid4().hex}")
        if part_cols:
            # scope delete files to the partition of their target data
            # file: tiny driver-side (file_path → partition) map,
            # broadcast-joined
            result_types = self._partition_result_types()

            def as_py(ice_t, v):
                if v is not None and ice_t == "date":
                    return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
                return v

            map_rows = [
                tuple([f["file_path"]] +
                      [as_py(result_types[c], f["partition"].get(c))
                       for c in part_cols])
                for f in data_files
            ]
            map_schema = T.StructType(
                [T.StructField("file_path", T.StringType(), False)] +
                [T.StructField(c, _ICEBERG_TO_SPARK[result_types[c]]
                               if result_types[c] in _ICEBERG_TO_SPARK
                               else T.StringType(), True)
                 for c in part_cols])
            fmap = spark.createDataFrame(map_rows, map_schema)
            out = matched.join(F.broadcast(fmap), "file_path")
            (out.repartition(*[F.col(c) for c in part_cols])
             .sortWithinPartitions("file_path", "pos")
             .write.partitionBy(*part_cols)
             .mode("errorifexists").parquet(job_dir))
        else:
            (matched.repartition(1)
             .sortWithinPartitions("file_path", "pos")
             .write.mode("errorifexists").parquet(job_dir))

        delete_files = self._collect_data_files(job_dir, content=1)
        n_deleted = sum(f["record_count"] for f in delete_files)
        if n_deleted == 0:
            import shutil
            shutil.rmtree(job_dir, ignore_errors=True)
            return None
        delete_files = [f for f in delete_files if f["record_count"]]
        seq = self.metadata["last-sequence-number"] + 1
        parent = self.current_snapshot
        snap_id = parent.snapshot_id + 1
        entries = [
            {
                "status": STATUS_ADDED,
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": f,
            }
            for f in delete_files
        ]
        manifests = [self._write_manifest(entries, snap_id, seq, content=1)]
        manifests.extend(self._read_manifest_list(parent))
        return self._commit_snapshot(
            manifests,
            operation="delete",
            summary={
                "added-delete-files": str(len(delete_files)),
                "added-position-deletes": str(n_deleted),
            },
            now_ms=now_ms,
        )

    def delete_by_keys(
        self, keys_df: DataFrame, *, now_ms: Optional[int] = None,
    ) -> Optional[Snapshot]:
        """Merge-on-read EQUALITY delete (spec: Equality Delete Files,
        ``data_file.content=2`` + ``equality_ids``): any table row
        whose values in ``keys_df``'s columns equal one of its rows is
        deleted — from data files with a sequence number STRICTLY
        lower than the delete's commit, so rows (re-)appended later
        with the same keys are untouched (the spec's applicability
        rule, enforced at read via per-file sequence literals).

        ``keys_df`` columns must be a subset of the table schema; the
        file is committed with an all-null partition record (a GLOBAL
        delete — partition-filtered reads still apply it).  Returns
        ``None`` when ``keys_df`` is empty."""
        schema_fields = {f["name"]: f["id"] for f in self.schema["fields"]}
        key_cols = keys_df.columns
        missing = [c for c in key_cols if c not in schema_fields]
        if missing:
            raise ValueError(f"key columns {missing} not in table schema")
        job_dir = os.path.join(
            self.location, "data", f"job-{uuid.uuid4().hex}")
        (keys_df.distinct().repartition(1)
         .sortWithinPartitions(*key_cols)
         .write.mode("errorifexists").parquet(job_dir))
        delete_files = [
            f for f in self._collect_data_files(job_dir, content=2)
            if f["record_count"]
        ]
        if not delete_files:
            import shutil
            shutil.rmtree(job_dir, ignore_errors=True)
            return None
        part_cols = self.partition_field_names
        eq_ids = [schema_fields[c] for c in key_cols]
        for f in delete_files:
            f["partition"] = {c: None for c in part_cols}
            f["equality_ids"] = eq_ids
        seq = self.metadata["last-sequence-number"] + 1
        parent = self.current_snapshot
        if parent is None:
            raise ValueError("delete_by_keys on an empty table")
        snap_id = parent.snapshot_id + 1
        entries = [
            {
                "status": STATUS_ADDED,
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": f,
            }
            for f in delete_files
        ]
        manifests = [self._write_manifest(entries, snap_id, seq, content=1)]
        manifests.extend(self._read_manifest_list(parent))
        return self._commit_snapshot(
            manifests,
            operation="delete",
            summary={
                "added-delete-files": str(len(delete_files)),
                "added-equality-deletes": str(
                    sum(f["record_count"] for f in delete_files)),
            },
            now_ms=now_ms,
        )

    def _write_data(self, df: DataFrame) -> list[dict]:
        """Distributed parquet write into a unique job directory under
        data/ (no two snapshots ever share files), then footer-stat
        collection.  The write itself is pure Spark — partitioned,
        parallel, no driver data movement."""
        job_dir = os.path.join(
            self.location, "data", f"job-{uuid.uuid4().hex}")
        expected = self.spark_schema
        got = {f.name for f in df.schema.fields}
        want = {f.name for f in expected.fields}
        if got != want:
            raise ValueError(
                f"dataframe columns {sorted(got)} != table columns "
                f"{sorted(want)}"
            )
        out = df.selectExpr(*[sql_ident(f.name) for f in expected.fields])
        src = self._source_types()
        id_by_src = {f["id"]: f["name"] for f in self.schema["fields"]}
        part_cols = []
        for pf in self.spec["fields"]:
            part_cols.append(pf["name"])
            if pf["transform"] == "identity":
                continue  # column already present; partitionBy drops it
            out = out.withColumn(
                pf["name"],
                transform_spark_column(pf["transform"],
                                       id_by_src[pf["source-id"]],
                                       src[pf["source-id"]]))
        w = out.write
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.mode("errorifexists").parquet(job_dir)
        return self._collect_data_files(job_dir)

    # ------------------------------------------------------- read paths

    def _read_manifest_list(self, snap: Snapshot) -> list[dict]:
        return list(read_ocf(snap.manifest_list))

    def plan_files(
        self,
        *,
        snapshot_id: Optional[int] = None,
        partition_filter: Optional[dict] = None,
        where: Optional[list[tuple]] = None,
    ) -> list[dict]:
        """Driver-side scan planning: snapshot → manifest list (pruned
        on field_summary bounds) → manifests (pruned on partition
        values) → live data_file structs.  Mirrors Iceberg planFiles.
        Data manifests only — position-delete files come from
        :meth:`plan_deletes`.

        ``where`` is a conjunctive list of ``(column, op, value)`` with
        op in ``= < <= > >=``: files whose column min/max bounds prove
        no row can match are skipped (data skipping on NON-partition
        columns — the scan-narrowing lever partition pruning can't
        give).  Files without bounds for a column are always kept."""
        return self._plan(snapshot_id, partition_filter, content=0,
                          where=where)

    def plan_deletes(
        self,
        *,
        snapshot_id: Optional[int] = None,
        partition_filter: Optional[dict] = None,
    ) -> list[dict]:
        """Live position-delete file structs (content=1 manifests),
        same pruning as :meth:`plan_files`."""
        return self._plan(snapshot_id, partition_filter, content=1)

    @staticmethod
    def _bounds_admit(data_file: dict, where: list[tuple],
                      name_to_field: dict) -> bool:
        """False iff the file's min/max bounds PROVE no row satisfies
        the conjunction (missing bounds always admit)."""
        lo_map = {kv["key"]: kv["value"]
                  for kv in (data_file.get("lower_bounds") or [])}
        hi_map = {kv["key"]: kv["value"]
                  for kv in (data_file.get("upper_bounds") or [])}
        for col, op, val in where:
            f = name_to_field.get(col)
            if f is None:
                raise ValueError(f"no column {col!r} in schema")
            t = f["type"]
            lo = single_value_deserialize(t, lo_map.get(f["id"]))
            hi = single_value_deserialize(t, hi_map.get(f["id"]))
            if lo is None or hi is None:
                continue
            v = normalize_partition_value(t, val)
            ok = {"=": lambda: lo <= v <= hi,
                  "<": lambda: lo < v,
                  "<=": lambda: lo <= v,
                  ">": lambda: hi > v,
                  ">=": lambda: hi >= v}.get(op)
            if ok is None:
                raise ValueError(f"unsupported op {op!r}")
            if not ok():
                return False
        return True

    def _plan(
        self,
        snapshot_id: Optional[int],
        partition_filter: Optional[dict],
        content: int,
        where: Optional[list[tuple]] = None,
    ) -> list[dict]:
        if snapshot_id is None:
            snap = self.current_snapshot
            if snap is None:
                return []
        else:
            snap = next(
                (s for s in self.snapshots if s.snapshot_id == snapshot_id),
                None,
            )
            if snap is None:
                raise ValueError(f"no snapshot {snapshot_id}")
        name_to_field = None
        if where is not None:
            # resolve predicate columns against the schema of the read
            # (the snapshot's own, for time travel — bounds are keyed by
            # field-id, so renames resolve transparently)
            sch = self.schema
            if snapshot_id is not None:
                sch = next(s for s in self.metadata["schemas"]
                           if s.get("schema-id", 0) == snap.schema_id)
            name_to_field = {f["name"]: f for f in sch["fields"]}
        spec_fields = self.spec["fields"]
        part_types = self._partition_result_types()
        pf_idx = {pf["name"]: i for i, pf in enumerate(spec_fields)}

        if partition_filter:
            # user-space values → stored representation (date→days,…)
            partition_filter = {
                col: normalize_partition_value(part_types[col], v)
                if col in part_types else v
                for col, v in partition_filter.items()
            }
        files = []
        for mf in self._read_manifest_list(snap):
            if (mf.get("content", 0) or 0) != content:
                continue
            if partition_filter and mf.get("partitions"):
                skip = False
                for col, want in partition_filter.items():
                    if col not in pf_idx:
                        continue
                    s = mf["partitions"][pf_idx[col]]
                    lo = single_value_deserialize(
                        part_types[col], s["lower_bound"])
                    hi = single_value_deserialize(
                        part_types[col], s["upper_bound"])
                    if want is None:
                        if not s["contains_null"]:
                            skip = True
                            break
                    elif lo is not None and hi is not None and not (
                            lo <= want <= hi):
                        skip = True
                        break
                if skip:
                    continue  # manifest pruned without opening it
            for e in read_ocf(mf["manifest_path"]):
                if e["status"] == STATUS_DELETED:
                    continue
                part = e["data_file"]["partition"]
                # delete files with all-null partition values are
                # GLOBAL (equality deletes committed table-wide) and
                # must survive any partition filter; data files keep
                # exact-value semantics (null partitions only match a
                # None filter)
                is_global_delete = content != 0 and part and all(
                    v is None for v in part.values())
                if partition_filter and not is_global_delete and any(
                    col in part and part[col] != want
                    for col, want in partition_filter.items()
                ):
                    continue
                if where is not None and not self._bounds_admit(
                        e["data_file"], where, name_to_field):
                    continue  # file skipped on column min/max bounds
                # "_seq": in-memory plan detail (commit order drives
                # delete applicability), never written back to avro
                files.append({**e["data_file"],
                              "_seq": e["sequence_number"] or 0})
        return files

    def read(
        self,
        spark: SparkSession,
        *,
        snapshot_id: Optional[int] = None,
        partition_filter: Optional[dict] = None,
        where: Optional[list[tuple]] = None,
        ref: Optional[str] = None,
    ) -> DataFrame:
        """Distributed read of the (pruned) live file set.  Partition
        values are not stored in the data files (spec: identity
        partitions may omit them — Spark's partitionBy does), so they
        are re-attached as literals per partition group, keeping the
        scan whole-stage-codegen parquet.  If the snapshot carries
        position-delete files (merge-on-read), deleted rows are
        filtered with one anti-join on (file_path, pos) from the
        hidden ``_metadata`` columns — broadcast when the delete set
        is small, shuffled otherwise."""
        from pyspark.sql import functions as F

        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR ref, not both")
            snapshot_id = self.resolve_ref(ref)
        files = self.plan_files(
            snapshot_id=snapshot_id, partition_filter=partition_filter,
            where=where)
        deletes = self.plan_deletes(
            snapshot_id=snapshot_id, partition_filter=partition_filter)
        # time travel reads with the schema that was current AT that
        # snapshot (snapshots record their schema-id, per the spec)
        ice_schema = self.schema
        if snapshot_id is not None:
            snap = next(s for s in self.snapshots
                        if s.snapshot_id == snapshot_id)
            ice_schema = next(
                s for s in self.metadata["schemas"]
                if s.get("schema-id", 0) == snap.schema_id)
        schema, _, aliases, _, spark_types = self._scan_shapes(ice_schema)
        if not files:
            return spark.createDataFrame(
                [], T.StructType([T.StructField(f.name, f.dataType, True)
                                  for f in schema.fields]))
        pos_dels = [f for f in deletes if f["content"] == 1]
        eq_dels = [f for f in deletes if f["content"] == 2]
        out = self._scan(spark, files, ice_schema, seq=bool(eq_dels),
                         positions=bool(pos_dels))
        # Column order/types are re-applied via .to(), which also
        # projects the alias and delete-join helper columns away;
        # nullability follows Spark's file-scan convention (all columns
        # nullable — forcing required flags would need an RDD
        # round-trip, which is not worth it at scale; Iceberg's
        # required-ness is enforced on the WRITE side by the schema
        # check in _write_data).
        read_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True)
             for f in schema.fields])
        if pos_dels:
            dels = spark.read.schema(
                "file_path string, pos long"
            ).parquet(*[f["file_path"] for f in pos_dels])
            # bounded metadata drives the join strategy: broadcast the
            # delete set while it is small, shuffle once it is not
            if sum(f["file_size_in_bytes"] for f in pos_dels) < 64 << 20:
                dels = F.broadcast(dels)
            out = out.join(
                dels,
                (out["__fp"] == dels["file_path"])
                & (out["__pos"] == dels["pos"]),
                "left_anti",
            )
        if eq_dels:
            id_to_name = {f["id"]: f["name"]
                          for f in ice_schema["fields"]}
            # one anti-join per equality-delete file: each carries its
            # own key-column set and sequence cutoff (delete commits
            # are rare relative to reads, and each key set is tiny and
            # broadcast)
            for f in eq_dels:
                key_names = [id_to_name[i] for i in f["equality_ids"]]
                keys = spark.read.parquet(f["file_path"])
                # delete files written before a rename carry the old
                # column name — resolve through the same alias trail
                sel = []
                for k in key_names:
                    if k in keys.columns:
                        sel.append(F.col(k))
                    else:
                        alt = next(a for a in aliases.get(k, [])
                                   if a in keys.columns)
                        sel.append(F.col(alt).cast(
                            spark_types[k]).alias(k))
                keys = keys.select(*sel).dropDuplicates()
                if f["file_size_in_bytes"] < 64 << 20:
                    keys = F.broadcast(keys)
                cond = F.lit(True)
                for k in key_names:
                    cond = cond & out[k].eqNullSafe(keys[k])
                cond = cond & (out["__seq"] < F.lit(f.get("_seq", 0)))
                out = out.join(keys, cond, "left_anti")
        if where is not None:
            # residual row filter: bounds only narrowed the FILE set —
            # exact predicate semantics come from the scan filter (which
            # Spark also pushes into the surviving parquet row groups)
            _OPS = {"=": "__eq__", "<": "__lt__", "<=": "__le__",
                    ">": "__gt__", ">=": "__ge__"}
            for col, op, val in where:
                out = out.filter(getattr(F.col(col), _OPS[op])(F.lit(val)))
        return out.to(read_schema)

    # ---------------------------------------------------- maintenance

    def _snapshot_files(self, snaps: list[Snapshot]) -> set[str]:
        """Every file path reachable from *snaps*: manifest lists,
        manifests, and data/delete files in ANY entry status (DELETED
        entries still reference the file for history)."""
        seen_manifests: set[str] = set()
        out: set[str] = set()
        for s in snaps:
            out.add(s.manifest_list)
            for mf in self._read_manifest_list(s):
                out.add(mf["manifest_path"])
                if mf["manifest_path"] in seen_manifests:
                    continue  # fast-append shares manifests across snaps
                seen_manifests.add(mf["manifest_path"])
                for e in read_ocf(mf["manifest_path"]):
                    out.add(e["data_file"]["file_path"])
        return out

    def expire_snapshots(self, *, keep_last: Optional[int] = None,
                         older_than_ms: Optional[int] = None,
                         dry_run: bool = False) -> dict:
        """Expire old snapshots and physically delete files reachable
        ONLY from them (Iceberg's ExpireSnapshots): retained = the
        current snapshot plus the ``keep_last`` most recent plus any
        newer than ``older_than_ms``; expired snapshots leave the
        metadata (a new metadata version commits atomically) and their
        now-unreachable manifest lists / manifests / data files are
        unlinked.  Metadata planning is driver-side O(#manifests);
        nothing distributed runs."""
        if keep_last is None and older_than_ms is None:
            raise ValueError("need keep_last and/or older_than_ms")
        snaps = self.snapshots
        current = self.current_snapshot
        tagged = {r["snapshot-id"]
                  for r in self.metadata.get("refs", {}).values()}
        retained, expired = [], []
        n = len(snaps)
        for i, s in enumerate(snaps):
            keep = s.snapshot_id == (current.snapshot_id if current else None)
            if s.snapshot_id in tagged:
                keep = True  # named states never expire (spec refs)
            if keep_last is not None and i >= n - keep_last:
                keep = True
            if older_than_ms is not None and s.timestamp_ms >= older_than_ms:
                keep = True
            (retained if keep else expired).append(s)
        stats = {"expired_snapshot_ids": [s.snapshot_id for s in expired],
                 "deleted_files": []}
        if not expired:
            return stats
        reachable = self._snapshot_files(retained)
        candidates = self._snapshot_files(expired) - reachable
        loc = os.path.realpath(self.location) + os.sep
        doomed = sorted(p for p in candidates
                        if os.path.realpath(p).startswith(loc))
        stats["deleted_files"] = doomed
        if dry_run:
            return stats
        expired_ids = {s.snapshot_id for s in expired}
        self.metadata["snapshots"] = [
            d for d in self.metadata["snapshots"]
            if d["snapshot-id"] not in expired_ids]
        self.metadata["snapshot-log"] = [
            d for d in self.metadata["snapshot-log"]
            if d["snapshot-id"] not in expired_ids]
        self._publish_metadata(self.version + 1)
        for p in doomed:
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass
        return stats

    ORPHAN_GRACE_MS = 3 * 24 * 3600 * 1000  # Iceberg's olderThan default

    def remove_orphan_files(self, *, dry_run: bool = False,
                            older_than_ms: Optional[int] = None
                            ) -> list[str]:
        """Delete data/manifest files under the table location that no
        snapshot references — the residue of writers that crashed
        between writing parquet and committing (exactly the torn-write
        case the resume tests plant).  Metadata jsons and the
        version hint are never candidates.

        Only files whose mtime predates ``older_than_ms`` (epoch ms;
        default now − 3 days, Iceberg's olderThan default) qualify: a
        CONCURRENT writer's just-written, not-yet-committed parquet is
        unreferenced too, and deleting it would corrupt its commit."""
        if older_than_ms is None:
            older_than_ms = int(time.time() * 1000) - self.ORPHAN_GRACE_MS
        reachable = self._snapshot_files(self.snapshots)
        orphans = []
        for dirpath, _dirs, files in os.walk(self.location):
            for fn in files:
                if not (fn.endswith(".parquet") or fn.endswith(".avro")):
                    continue  # metadata jsons / hint / markers stay
                p = os.path.join(dirpath, fn)
                if p in reachable:
                    continue
                if os.path.getmtime(p) * 1000 >= older_than_ms:
                    continue  # possibly an in-flight writer's file
                orphans.append(p)
        orphans.sort()
        if not dry_run:
            for p in orphans:
                os.unlink(p)
        return orphans

    def rewrite_manifests(self, *, now_ms: Optional[int] = None) -> Snapshot:
        """Compact the current snapshot's data manifests into one
        (Iceberg's RewriteManifests): live entries rewrite as EXISTING
        keeping their original snapshot/sequence numbers, delete
        manifests ride along untouched, and the result commits as a
        ``replace`` snapshot — same data, fresh metadata layout, so
        planning cost stays O(#manifests) after many fast-appends."""
        parent = self.current_snapshot
        if parent is None:
            raise ValueError("empty table")
        seq = self.metadata["last-sequence-number"] + 1
        snap_id = parent.snapshot_id + 1
        keep_manifests: list[dict] = []
        live_entries: list[dict] = []
        for mf in self._read_manifest_list(parent):
            if (mf.get("content", 0) or 0) != 0:
                keep_manifests.append(mf)  # delete manifests untouched
                continue
            for e in read_ocf(mf["manifest_path"]):
                if e["status"] == STATUS_DELETED:
                    continue
                live_entries.append({**e, "status": STATUS_EXISTING})
        manifests = keep_manifests
        if live_entries:
            manifests = [self._write_manifest(live_entries, snap_id, seq)] \
                + keep_manifests
        return self._commit_snapshot(
            manifests,
            operation="replace",
            summary={"rewritten-data-manifests": str(
                sum(1 for mf in self._read_manifest_list(parent)
                    if (mf.get("content", 0) or 0) == 0)),
                "kept-data-files": str(len(live_entries))},
            now_ms=now_ms,
        )

    # ------------------------------------------------------------ refs

    def create_tag(self, name: str,
                   snapshot_id: Optional[int] = None) -> None:
        """Tag a snapshot (spec: ``refs`` map, type ``tag``) — an
        immutable name for a table state ("the v3 training corpus").
        Tagged snapshots are exempt from :meth:`expire_snapshots`."""
        snap_ids = [s.snapshot_id for s in self.snapshots]
        if snapshot_id is None:
            cur = self.current_snapshot
            if cur is None:
                raise ValueError("empty table has no snapshot to tag")
            snapshot_id = cur.snapshot_id
        elif snapshot_id not in snap_ids:
            raise ValueError(f"no snapshot {snapshot_id}")
        refs = self.metadata.setdefault("refs", {})
        if name in refs:
            raise ValueError(f"ref {name!r} already exists")
        refs[name] = {"snapshot-id": snapshot_id, "type": "tag"}
        self._publish_metadata(self.version + 1)

    def remove_tag(self, name: str) -> None:
        refs = self.metadata.get("refs", {})
        if name not in refs:
            raise ValueError(f"no ref {name!r}")
        del refs[name]
        self._publish_metadata(self.version + 1)

    def resolve_ref(self, name: str) -> int:
        """Ref name → snapshot id (branches beyond the implicit main
        are not supported in this layer)."""
        ref = self.metadata.get("refs", {}).get(name)
        if ref is None:
            raise ValueError(f"no ref {name!r}")
        if ref.get("type") != "tag":
            raise NotImplementedError(
                f"ref {name!r} has type {ref.get('type')!r}; only tags "
                "are supported here (main is the implicit branch)")
        return ref["snapshot-id"]

    def _scan_shapes(self, ice_schema: dict):
        """Shared read-path shapes for a schema version: the Spark
        schema, identity partition columns (the only values absent from
        data files — transform partitions keep their source columns),
        rename aliases, the widened data-read schema that projects the
        historical names too (Parquet widening covers promoted
        renames), and the per-column Spark types.  One definition so
        the read paths (:meth:`_scan` and :meth:`read`'s equality-delete
        keys) cannot drift."""
        schema = iceberg_schema_to_spark(ice_schema)
        part_cols = self.identity_partition_columns
        aliases = {k: v for k, v in self._field_aliases(ice_schema).items()
                   if k not in part_cols}
        data_fields = [f for f in schema.fields if f.name not in part_cols]
        data_schema = T.StructType(
            data_fields + [T.StructField(a, f.dataType, True)
                           for f in data_fields
                           for a in aliases.get(f.name, [])])
        spark_types = {f.name: f.dataType for f in schema.fields}
        return schema, part_cols, aliases, data_schema, spark_types

    def _scan(self, spark: SparkSession, files: list[dict],
              ice_schema: dict, *, seq: bool = False,
              positions: bool = False) -> DataFrame:
        """The rows of ``files`` (non-empty) under schema version
        ``ice_schema``, before any delete applies: one parquet read per
        identity-partition group, the group's partition values attached
        as literals, and renamed columns coalesced from their historical
        names.  ``seq`` also splits the groups by file sequence number
        and adds it as ``__seq`` (the equality-delete rule keys on it);
        ``positions`` adds the file path and row index as ``__fp`` /
        ``__pos`` (the position-delete keys).  The historical-name and
        helper columns ride along for the caller to project away.  The
        projections are SQL text, a few py4j round trips per group
        instead of ~13 per column per group; :meth:`read`,
        :meth:`read_incremental` and :meth:`delete_where` all scan
        through here."""
        from functools import reduce

        _, part_cols, aliases, data_schema, spark_types = \
            self._scan_shapes(ice_schema)
        groups: dict[tuple, list[str]] = {}
        for f in files:
            key = (tuple(f["partition"].get(c) for c in part_cols),
                   f.get("_seq", 0) if seq else 0)
            groups.setdefault(key, []).append(f["file_path"])
        extra = []
        if positions:
            extra += ["regexp_replace(_metadata.file_path, '^file:/+', '/')"
                      " AS __fp", "_metadata.row_index AS __pos"]
        parts = []
        for (key, fseq), paths in sorted(groups.items(),
                                         key=lambda kv: str(kv[0])):
            lits = [f"CAST({sql_literal(v)} AS "
                    f"{spark_types[c].simpleString()}) AS {sql_ident(c)}"
                    for c, v in zip(part_cols, key)]
            if seq:
                lits.append(f"{sql_literal(fseq)} AS __seq")
            parts.append(spark.read.schema(data_schema).parquet(*paths)
                         .selectExpr("*", *lits, *extra))
        out = reduce(DataFrame.unionByName, parts)
        if aliases:
            out = with_sql_columns(out, {
                fname: "coalesce(" + ", ".join(
                    [sql_ident(fname)] + [
                        f"CAST({sql_ident(a)} AS "
                        f"{spark_types[fname].simpleString()})"
                        for a in alist]) + ")"
                for fname, alist in aliases.items()})
        return out

    # ---------------------------------------------------- incremental

    def plan_incremental(self, *, from_snapshot_id: int,
                         to_snapshot_id: Optional[int] = None
                         ) -> list[dict]:
        """Files ADDED strictly after ``from_snapshot_id`` up to and
        including ``to_snapshot_id`` (default current) — Iceberg's
        incremental append scan, the primitive that lets a downstream
        pipeline process ONLY new data.  Raises on overwrite / delete /
        replace snapshots in the range (their effect is not expressible
        as pure adds; Iceberg's incremental scan has the same
        append-only contract)."""
        snaps = self.snapshots
        ids = [s.snapshot_id for s in snaps]
        if from_snapshot_id not in ids:
            raise ValueError(f"no snapshot {from_snapshot_id}")
        cur = self.current_snapshot
        to_id = to_snapshot_id if to_snapshot_id is not None \
            else (cur.snapshot_id if cur else from_snapshot_id)
        if to_id not in ids:
            raise ValueError(f"no snapshot {to_id}")
        lo, hi = ids.index(from_snapshot_id), ids.index(to_id)
        if hi < lo:
            raise ValueError("to_snapshot precedes from_snapshot")
        in_range = snaps[lo + 1:hi + 1]
        bad = [s.snapshot_id for s in in_range if s.operation != "append"]
        if bad:
            raise ValueError(
                f"incremental append scan over non-append snapshots "
                f"{bad} — replay from a full read instead")
        range_ids = {s.snapshot_id for s in in_range}
        files = []
        seen_manifests: set[str] = set()
        for s in in_range:
            for mf in self._read_manifest_list(s):
                if mf["added_snapshot_id"] not in range_ids:
                    continue  # parent manifests riding along fast-append
                if mf["manifest_path"] in seen_manifests:
                    continue  # later snapshots re-list earlier manifests
                seen_manifests.add(mf["manifest_path"])
                for e in read_ocf(mf["manifest_path"]):
                    if e["status"] == STATUS_ADDED \
                            and e["snapshot_id"] in range_ids:
                        files.append({**e["data_file"],
                                      "_seq": e["sequence_number"] or 0})
        return files

    def read_incremental(self, spark: SparkSession, *,
                         from_snapshot_id: int,
                         to_snapshot_id: Optional[int] = None
                         ) -> DataFrame:
        """Distributed read of :meth:`plan_incremental`'s file set, with
        identity partition values re-attached and rename aliases
        resolved — the same :meth:`_scan` as :meth:`read` (append-only
        ranges have no delete files by construction)."""
        files = self.plan_incremental(from_snapshot_id=from_snapshot_id,
                                      to_snapshot_id=to_snapshot_id)
        read_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True)
             for f in self.spark_schema.fields])
        if not files:
            return spark.createDataFrame([], read_schema)
        return self._scan(spark, files, self.schema).to(read_schema)

    # ------------------------------------------------- schema evolution

    _NAME_MAPPING_PROP = "schema.name-mapping.default"

    def _name_mapping(self) -> list[dict]:
        raw = self.metadata.get("properties", {}).get(
            self._NAME_MAPPING_PROP)
        return json.loads(raw) if raw else []

    def _field_aliases(self, ice_schema: Optional[dict] = None
                       ) -> dict[str, list[str]]:
        """Field name → historical names (rename trail) for the given
        schema version (default current), with names that are live
        columns in that schema excluded (a live column always binds to
        itself)."""
        sch = ice_schema if ice_schema is not None else self.schema
        live = {f["name"] for f in sch["fields"]}
        by_id = {f["id"]: f["name"] for f in sch["fields"]}
        out: dict[str, list[str]] = {}
        for m in self._name_mapping():
            cur = by_id.get(m["field-id"])
            if cur is None:
                continue
            aliases = [n for n in m.get("names", [])
                       if n != cur and n not in live]
            if aliases:
                out[cur] = aliases
        return out

    def _partition_source_ids(self) -> set[int]:
        return {pf["source-id"] for spec in self.metadata["partition-specs"]
                for pf in spec["fields"]}

    def _evolve_schema(self, new_fields: list[dict]) -> None:
        """Commit a new schema version (metadata-only — no snapshot;
        Iceberg's UpdateSchema contract)."""
        new_id = max(s.get("schema-id", 0)
                     for s in self.metadata["schemas"]) + 1
        self.metadata["schemas"].append(
            {"type": "struct", "schema-id": new_id, "fields": new_fields})
        self.metadata["current-schema-id"] = new_id
        self.metadata["last-updated-ms"] = int(time.time() * 1000)
        self._publish_metadata(self.version + 1)

    def _assert_name_free(self, name: str) -> None:
        if any(f["name"] == name for f in self.schema["fields"]):
            raise ValueError(f"column {name!r} already exists")
        for m in self._name_mapping():
            if name in m.get("names", []):
                raise ValueError(
                    f"{name!r} is a historical name of a renamed or "
                    "dropped column — reusing it would resurrect old "
                    "data files' bytes under the new field (name-based "
                    "projection; Iceberg's parquet field-ids would "
                    "disambiguate, which this layer doesn't write)")

    def add_column(self, name: str, spark_type: T.DataType) -> None:
        """Append an optional column: files written before it read as
        null (name-based projection — no data rewrite).  New columns
        are always optional, as in Iceberg (old files can't satisfy a
        required field)."""
        self._assert_name_free(name)
        new_id = self.metadata["last-column-id"] + 1
        fields = [dict(f) for f in self.schema["fields"]]
        fields.append({"id": new_id, "name": name, "required": False,
                       "type": _spark_type_to_iceberg(spark_type)})
        self.metadata["last-column-id"] = new_id
        self._evolve_schema(fields)

    def rename_column(self, old: str, new: str) -> None:
        """Rename keeps the field-id; the old name is recorded in the
        spec's ``schema.name-mapping.default`` property so files written
        under it keep resolving (read side coalesces current name with
        the historical ones).  Partition source columns refuse — their
        name is baked into the spec and the data layout."""
        f = next((f for f in self.schema["fields"] if f["name"] == old),
                 None)
        if f is None:
            raise ValueError(f"no column {old!r}")
        if f["id"] in self._partition_source_ids():
            raise ValueError(
                f"{old!r} is a partition source column — renaming it "
                "requires partition-spec evolution (unsupported here)")
        self._assert_name_free(new)
        mapping = self._name_mapping()
        entry = next((m for m in mapping if m["field-id"] == f["id"]), None)
        if entry is None:
            entry = {"field-id": f["id"], "names": []}
            mapping.append(entry)
        for n in (old, new):
            if n not in entry["names"]:
                entry["names"].append(n)
        self.metadata.setdefault("properties", {})[
            self._NAME_MAPPING_PROP] = json.dumps(mapping)
        fields = [dict(fl) for fl in self.schema["fields"]]
        next(fl for fl in fields if fl["id"] == f["id"])["name"] = new
        self._evolve_schema(fields)

    def drop_column(self, name: str) -> None:
        """Drop a column (projection change only — old files keep the
        bytes, reads stop selecting them).  Partition sources refuse."""
        f = next((f for f in self.schema["fields"] if f["name"] == name),
                 None)
        if f is None:
            raise ValueError(f"no column {name!r}")
        if f["id"] in self._partition_source_ids():
            raise ValueError(f"{name!r} is a partition source column")
        fields = [dict(fl) for fl in self.schema["fields"]
                  if fl["id"] != f["id"]]
        # tombstone every name the field ever had: re-adding one would
        # resurrect the dropped column's bytes from old files
        mapping = self._name_mapping()
        entry = next((m for m in mapping if m["field-id"] == f["id"]), None)
        if entry is None:
            mapping.append({"field-id": f["id"], "names": [name]})
        elif name not in entry["names"]:
            entry["names"].append(name)
        self.metadata.setdefault("properties", {})[
            self._NAME_MAPPING_PROP] = json.dumps(mapping)
        self._evolve_schema(fields)

    _PROMOTIONS = {("int", "long"), ("float", "double")}

    def update_column_type(self, name: str,
                           new_spark_type: T.DataType) -> None:
        """Widening promotions only (Iceberg's rule: int→long,
        float→double, decimal precision growth at fixed scale).  Old
        files read through Spark's Parquet widening; no rewrite."""
        f = next((f for f in self.schema["fields"] if f["name"] == name),
                 None)
        if f is None:
            raise ValueError(f"no column {name!r}")
        old_t, new_t = f["type"], _spark_type_to_iceberg(new_spark_type)
        ok = (old_t, new_t) in self._PROMOTIONS
        if (isinstance(old_t, str) and old_t.startswith("decimal")
                and isinstance(new_t, str) and new_t.startswith("decimal")):
            op, os_ = old_t[8:-1].split(",")
            np_, ns = new_t[8:-1].split(",")
            ok = int(ns) == int(os_) and int(np_) >= int(op)
        if not ok:
            raise ValueError(
                f"type change {old_t} → {new_t} is not a widening "
                "promotion")
        fields = [dict(fl) for fl in self.schema["fields"]]
        next(fl for fl in fields if fl["id"] == f["id"])["type"] = new_t
        self._evolve_schema(fields)


class PyIcebergTableIO:
    """``corpus.resume.TableIO`` contract over the pure-Python Iceberg
    layer: every write is an atomic snapshot commit, so the resume
    pipeline gets real snapshot isolation in-sandbox (the jar-backed
    ``IcebergTableIO`` remains the cluster fast path).  ``path``
    arguments are table directory locations; tables are created lazily
    on first write with the frame's schema, partitioned by the
    ``partition_by`` columns."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def exists(self, path: str) -> bool:
        return IcebergTable.exists(path)

    def read(self, path: str) -> Optional[DataFrame]:
        if not self.exists(path):
            return None
        return IcebergTable.load(path).read(self.spark)

    def _ensure(self, df: DataFrame, path: str,
                partition_by: Optional[list]) -> IcebergTable:
        if self.exists(path):
            return IcebergTable.load(path)
        return IcebergTable.create(
            path, df.schema, partition_by=partition_by or ())

    def append(self, df: DataFrame, path: str,
               partition_by: Optional[list] = None):
        self._ensure(df, path, partition_by).append(df)

    def overwrite_partitions(self, df: DataFrame, path: str,
                             partition_by: list):
        t = self._ensure(df, path, partition_by)
        if t.current_snapshot is None:
            t.append(df)
        else:
            t.overwrite_partitions(df)


def _parse_partition_value(ice_type: str, s: str) -> Any:
    if ice_type == "int" or ice_type == "long":
        return int(s)
    if ice_type == "float" or ice_type == "double":
        return float(s)
    if ice_type == "boolean":
        return s.lower() == "true"
    if ice_type == "string":
        return s
    if ice_type == "date":
        import datetime as _dt

        return (_dt.date.fromisoformat(s) - _dt.date(1970, 1, 1)).days
    raise NotImplementedError(
        f"identity partition on iceberg type {ice_type!r}")
