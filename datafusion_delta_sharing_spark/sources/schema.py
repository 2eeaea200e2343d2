"""Delta ``schemaString`` -> Spark schema, and typed partition-value decode.

Parity targets:

* Schema translation — ``/root/reference/src/datasource/schema.rs`` (531 LoC
  of Delta-JSON -> Arrow conversion). Delta's ``schemaString`` *is* Spark's
  own ``StructType`` JSON wire format, so the whole file collapses to
  ``StructType.fromJson`` plus validation (SURVEY.md §1.2). The type matrix
  (schema.rs:481-531) maps 1:1 onto Spark types; the one reference capability
  Spark lacks is decimal precision in (38, 76] via Decimal256
  (schema.rs:497-508) — we detect and raise a clear ``SchemaError``.

* Partition-value decode — ``/root/reference/src/datasource/scan.rs:159-229``:
  per-file ``map<string,string>`` re-typed against the schema; empty string or
  missing key means typed NULL (scan.rs:199-200).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
import re
from typing import Any

from pyspark.sql import types as T

from datafusion_delta_sharing_spark.errors import SchemaError

_SPARK_MAX_DECIMAL_PRECISION = 38
_REFERENCE_MAX_DECIMAL_PRECISION = 76  # Decimal256 ceiling (schema.rs:503-508)

_DECIMAL_RE = re.compile(r"decimal\s*\(\s*(\d+)\s*,\s*(-?\d+)\s*\)", re.IGNORECASE)


def _validate_decimals(type_doc: Any) -> None:
    """Walk the raw schema JSON rejecting decimals Spark cannot represent,
    with a message that distinguishes the reference-supported (38, 76] band
    from the nowhere-supported > 76 band."""
    if isinstance(type_doc, str):
        match = _DECIMAL_RE.fullmatch(type_doc.strip())
        if match:
            precision = int(match.group(1))
            if precision > _REFERENCE_MAX_DECIMAL_PRECISION:
                raise SchemaError(
                    f"decimal precision {precision} exceeds 76; unsupported by the "
                    "reference (Decimal256 cap, schema.rs:503-508) and by Spark"
                )
            if precision > _SPARK_MAX_DECIMAL_PRECISION:
                raise SchemaError(
                    f"decimal precision {precision} exceeds Spark's maximum of 38; "
                    "the reference supports it via Arrow Decimal256 "
                    "(schema.rs:497-508) — documented parity gap"
                )
        return
    if isinstance(type_doc, dict):
        kind = type_doc.get("type")
        if kind == "struct":
            for field_doc in type_doc.get("fields", []):
                if not isinstance(field_doc, dict):
                    raise SchemaError(
                        f"malformed schemaString: struct field {field_doc!r} "
                        "is not an object")
                _validate_decimals(field_doc.get("type"))
        elif kind == "array":
            _validate_decimals(type_doc.get("elementType"))
        elif kind == "map":
            _validate_decimals(type_doc.get("keyType"))
            _validate_decimals(type_doc.get("valueType"))


def schema_from_string(schema_string: str) -> T.StructType:
    """Parse a Delta ``schemaString`` into a Spark ``StructType``.

    Field metadata round-trips automatically (Spark keeps it on
    ``StructField.metadata``), matching the reference's metadata propagation
    (schema.rs:423-439). ``timestamp_ntz`` parses natively — the reference
    left it TODO (schema.rs:261)."""
    try:
        doc = json.loads(schema_string)
    except json.JSONDecodeError as exc:
        raise SchemaError(f"malformed schemaString: {exc}") from exc
    if not isinstance(doc, dict) or doc.get("type") != "struct":
        raise SchemaError("schemaString must be a JSON object with type='struct'")
    _validate_decimals(doc)
    try:
        return T.StructType.fromJson(doc)
    except Exception as exc:
        raise SchemaError(f"cannot convert schemaString to Spark schema: {exc}") from exc


# -- partition values (scan.rs:159-229) ----------------------------------

# the Delta change-data-feed metadata columns a CDF read appends to the
# table schema, in order
CDF_META_FIELDS = (
    T.StructField("_change_type", T.StringType()),
    T.StructField("_commit_version", T.LongType()),
    T.StructField("_commit_timestamp", T.TimestampType()),
)

_EPOCH = _dt.date(1970, 1, 1)


def decode_partition_value(raw: str | None, dtype: T.DataType) -> Any:
    """One string partition value -> typed Python scalar; ``""``/None -> NULL.

    Supported partition types mirror scan.rs:201-216: boolean, the four int
    widths, float/double, string, decimal, date, timestamp(µs)."""
    if raw is None or raw == "":
        return None
    try:
        if isinstance(dtype, T.BooleanType):
            low = raw.strip().lower()
            if low in ("true", "1"):
                return True
            if low in ("false", "0"):
                return False
            raise ValueError(f"not a boolean: {raw!r}")
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            # strict: int() accepts '1_0' underscore syntax (corrupt value
            # silently reads as 10), and an out-of-width value would wrap
            # or crash deep inside the executor attach instead of HERE
            if "_" in raw:
                raise ValueError(f"not an integer literal: {raw!r}")
            value = int(raw)
            bits = {T.ByteType: 8, T.ShortType: 16,
                    T.IntegerType: 32, T.LongType: 64}[type(dtype)]
            if not -(1 << (bits - 1)) <= value < (1 << (bits - 1)):
                raise ValueError(
                    f"{value} out of range for {dtype.simpleString()}")
            return value
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            # same strictness as the integer path (r9 review): Python's
            # float() accepts '1_0' underscore syntax, silently reading
            # a corrupt value as 10.0 — the stated invariant is corrupt
            # values fail HERE, not re-typed downstream
            if "_" in raw:
                raise ValueError(f"not a float literal: {raw!r}")
            return float(raw)
        if isinstance(dtype, T.StringType):
            return raw
        if isinstance(dtype, T.DecimalType):
            return decimal.Decimal(raw)
        if isinstance(dtype, T.DateType):
            return _dt.date.fromisoformat(raw)
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            from datafusion_delta_sharing_spark.rfc3339 import parse_rfc3339

            parsed = parse_rfc3339(raw)
            if parsed.tzinfo is not None:
                parsed = parsed.astimezone(_dt.timezone.utc)
                if isinstance(dtype, T.TimestampNTZType):
                    # NTZ is wall-clock; an explicit offset pins the
                    # instant, so normalize to the UTC wall time
                    parsed = parsed.replace(tzinfo=None)
                # TimestampType keeps tzinfo: a NAIVE datetime would be
                # re-interpreted in the session timezone downstream
                # (F.lit / pa.array), silently shifting the instant for
                # any session not pinned to UTC
            return parsed
    except (ValueError, decimal.InvalidOperation, ArithmeticError) as exc:
        raise SchemaError(
            f"cannot decode partition value {raw!r} as {dtype.simpleString()}: {exc}"
        ) from exc
    raise SchemaError(
        f"partition column type {dtype.simpleString()} is not partition-decodable "
        "(scan.rs:201-216 type set)"
    )


def decode_partition_values(partition_values: dict[str, str],
                            schema: T.StructType,
                            partition_columns: list[str] | tuple[str, ...]) -> dict[str, Any]:
    """Decode a file's full partition map in schema order. Missing keys decode
    as NULL (matching the all-NULL test at scan.rs:272-300)."""
    by_name = {f.name: f.dataType for f in schema.fields}
    out: dict[str, Any] = {}
    for col in partition_columns:
        if col not in by_name:
            raise SchemaError(f"partition column {col!r} not present in table schema")
        out[col] = decode_partition_value(partition_values.get(col, ""), by_name[col])
    return out


# -- column mapping (Delta PROTOCOL.md §Column Mapping) --------------------
#
# With delta.columnMapping.mode = 'name' or 'id', the PHYSICAL parquet
# columns are named by each field's delta.columnMapping.physicalName
# metadata (col-<uuid> for post-mapping columns; the original name for
# columns that predate the upgrade — Delta sets physicalName on every
# field either way). Reading such files under the logical schema yields
# all-NULL columns, which is why the reference-class behavior (ignore the
# metadata) is a correctness bug, not a limitation. This reader TRANSLATES:
# the scan plan stays in logical names and carries the logical -> physical
# map, and each read takes a data column from its physical parquet column
# under the logical name (sources/scan.py). 'id' mode also matches by
# parquet field id, but Delta writes physicalName alongside, and parquet
# column names equal physicalName for both modes, so one rename rule
# serves both.

_PHYSICAL_NAME_KEY = "delta.columnMapping.physicalName"


def _nested_physical_names(dtype: T.DataType) -> list[str]:
    """Names of NESTED fields carrying a physicalName different from
    their own name — renames this reader does not translate (a top-level
    select-alias cannot rename inside a struct/array/map)."""
    bad: list[str] = []
    if isinstance(dtype, T.StructType):
        for f in dtype.fields:
            phys = (f.metadata or {}).get(_PHYSICAL_NAME_KEY)
            if phys and phys != f.name:
                bad.append(f"{f.name} -> {phys}")
            bad.extend(_nested_physical_names(f.dataType))
    elif isinstance(dtype, T.ArrayType):
        bad.extend(_nested_physical_names(dtype.elementType))
    elif isinstance(dtype, T.MapType):
        bad.extend(_nested_physical_names(dtype.keyType))
        bad.extend(_nested_physical_names(dtype.valueType))
    return bad


def column_mapping(schema: T.StructType) -> dict[str, str] | None:
    """Top-level logical -> physical name map from the schema's
    column-mapping metadata, or None when no field carries one. Raises
    ``SchemaError`` when a nested field is renamed (unsupported: the
    physical layout cannot be expressed as a flat select-alias)."""
    mapping: dict[str, str] = {}
    for f in schema.fields:
        phys = (f.metadata or {}).get(_PHYSICAL_NAME_KEY)
        if phys:
            mapping[f.name] = phys
        nested = _nested_physical_names(f.dataType)
        if nested:
            raise SchemaError(
                "column mapping renames NESTED fields "
                f"({', '.join(nested)}), which this reader does not "
                "translate; ask the provider for a parquet-format share "
                "(columns pre-translated server-side)")
    return mapping or None


def column_mapping_of(metadata, full_schema: T.StructType,
                      ) -> dict[str, str] | None:
    """Logical->physical map when ``delta.columnMapping.mode`` is active
    (name/id), else None — THE one validated entry point (r9 review: the
    reader scan path, the DataSource path, and partition_row_counts each
    hand-rolled this; partition_row_counts skipped the mode check and
    crashed with a raw AttributeError on missing physicalName metadata).
    Validates: supported mode, physicalName metadata present, no nested
    renames. Raises DeltaSharingError with the operator-facing message.
    """
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    cm_mode = metadata.configuration.get("delta.columnMapping.mode")
    if not cm_mode or cm_mode == "none":
        return None
    if cm_mode not in ("name", "id"):
        raise DeltaSharingError(
            f"unsupported delta.columnMapping.mode={cm_mode!r}; "
            "supported: 'name', 'id'")
    try:
        mapping = column_mapping(full_schema)
    except SchemaError as exc:
        raise DeltaSharingError(str(exc)) from exc
    if not mapping:
        raise DeltaSharingError(
            f"delta.columnMapping.mode={cm_mode!r} but the schema carries "
            "no delta.columnMapping.physicalName metadata; the physical "
            "parquet columns cannot be resolved")
    return mapping


def ambiguous_mapping_names(mapping: dict[str, str]) -> set[str]:
    """Names that are one column's LOGICAL name and a DIFFERENT column's
    physical name (rename-swap tables, e.g. RENAME a TO c; RENAME b TO
    a). Partition-value keys and stats keys arrive in EITHER spelling
    (physical from raw delta-format responses, logical from parquet-
    format ones, and the client records no format flag), so for these
    names a spelling-agnostic ``mapping.get(k, k)`` normalization cannot
    attribute the key and stats lookups can read a different column's
    range — the r9 review's silent-pruning/corruption hazard. Callers
    must refuse these keys and disable stats pruning when the set is
    non-empty."""
    return {n for n in mapping
            if any(p == n and l != n for l, p in mapping.items())}

