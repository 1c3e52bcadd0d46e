"""Type classification + humanization.

Mirrors the reference's dynamic type vocabulary
(``/root/reference/src/listTables.tsx``):

- ``isNumericDataType`` (:31-42) / ``isBooleanDataType`` (:47-49) /
  ``isTemporalDataType`` (:125-138) become ``isinstance`` predicates over
  Spark ``DataType`` classes,
- the 28-entry humanization map + 8-char truncation (:81-123) becomes a
  map keyed by Spark ``simpleString()`` / type class.

Spark types with no Postgres analog (array/map/struct) fall through with
their raw name truncated to 8 chars, exactly like unknown Postgres types
fall through at :121-122.
"""

from __future__ import annotations

from pyspark.sql import types as T

MAX_TYPE_WIDTH = 8  # listTables.tsx:121-122 — display truncation


def is_numeric(dt: T.DataType) -> bool:
    """listTables.tsx:31-42 — smallint/int/bigint/numeric/real/double."""
    return isinstance(dt, T.NumericType)


def is_boolean(dt: T.DataType) -> bool:
    """listTables.tsx:47-49."""
    return isinstance(dt, T.BooleanType)


def is_time(dt: T.DataType) -> bool:
    """Time-of-day (no date part) — Postgres ``time``/``timetz``
    (listTables.tsx:89-92). Spark 4.1's TimeType is the native model
    (Parquet TIME with isAdjustedToUTC=false reads as ``time(n)``), but
    its aggregate support is still partial (MIN/MAX raise
    UNSUPPORTED_TIME_TYPE), so every profiling site routes time columns
    through an order-preserving string cast — zero-padded ``HH:MM:SS[.f]``
    compares identically to the underlying time."""
    return isinstance(dt, T.TimeType)


def is_temporal(dt: T.DataType) -> bool:
    """listTables.tsx:125-138 — date/timestamp[tz]/time[tz]."""
    return isinstance(
        dt, (T.DateType, T.TimestampType, T.TimestampNTZType, T.TimeType)
    )


# Spark simpleString -> humanized name (<= 8 chars), per the reference map
# at listTables.tsx:83-120 translated through the SURVEY §1.2 type table.
_HUMAN_MAP: dict[str, str] = {
    "smallint": "smallint",
    "tinyint": "tinyint",
    "int": "int",
    "bigint": "bigint",
    "float": "real",          # Postgres `real`      (:108)
    "double": "float8",       # Postgres `float8`    (:109-110)
    "boolean": "bool",        # (:112-113)
    "date": "date",           # (:118)
    "timestamp": "tstz",      # TimestampType ~ timestamptz (:85-86)
    "timestamp_ntz": "ts-ntz",  # (:87-88)
    "string": "text",         # (:94-98)
    "binary": "bytea",        # (:117)
    "void": "null",
    "interval day to second": "interval",  # (:119)
    "interval year to month": "interval",
}


def human_type(dt: T.DataType) -> str:
    """Humanize a Spark type for display, truncated to 8 chars.

    ``decimal(10,2)`` → ``decimal(`` — the truncation applies to unmapped
    names verbatim (listTables.tsx:121-122); it is display-only and never
    used in result schemas.
    """
    simple = dt.simpleString().lower()
    if simple.startswith("decimal"):
        return "numeric"  # Postgres numeric/decimal (:106-107)
    if simple.startswith("time("):
        return "time-ntz"  # Postgres `time` (:89-90); Spark has no timetz
    mapped = _HUMAN_MAP.get(simple)
    if mapped is not None:
        return mapped
    return simple[:MAX_TYPE_WIDTH]
