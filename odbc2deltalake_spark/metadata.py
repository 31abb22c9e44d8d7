"""Column metadata model — the engine's analogue of the reference's
``InformationSchemaColInfo`` (reference:odbc2deltalake/metadata.py:54-71).

Spark's ``StructField`` cannot carry identity / generated-always info, so a
small dataclass keeps it alongside the Spark type.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Literal, Optional

from pyspark.sql import types as T

# Characters Spark cannot have in column names; the reference replaces each
# with "_" (reference:odbc2deltalake/write_init.py:41-46).
_INVALID_CHARS = ' ,;{}()\n\t='


def compat_name(name: str) -> str:
    """Map a source column name to a Spark-legal target name.

    reference:odbc2deltalake/write_init.py:41-46 — replaces
    `` ,;{}()\\n\\t=`` with ``_`` (e.g. ``"User - iD" -> "User_-_iD"``,
    ``"time stamp" -> "time_stamp"``).
    """
    out = name
    for ch in _INVALID_CHARS:
        out = out.replace(ch, "_")
    return out


GeneratedAlwaysType = Optional[Literal["AS_ROW_START", "AS_ROW_END"]]


@dataclass(frozen=True)
class ColInfo:
    """Column descriptor (reference:odbc2deltalake/metadata.py:54-71).

    ``data_type`` is the *target* Spark type after the default type map
    (see :func:`apply_default_type_map`); ``data_type_str`` preserves the
    source's original type string for drift comparison.
    """

    column_name: str
    data_type: T.DataType
    data_type_str: str = ""
    is_nullable: bool = True
    column_default: Optional[str] = None
    generated_always_type_desc: GeneratedAlwaysType = None
    is_identity: bool = False

    @property
    def compat_name(self) -> str:
        return compat_name(self.column_name)

    def field(self) -> T.StructField:
        return T.StructField(self.compat_name, self.data_type, self.is_nullable)


# Default source-type map (reference:odbc2deltalake/write_init.py:29-38):
#   datetime/datetime2 -> datetime2(6)   => TimestampType (micros)
#   rowversion -> bigint
#   tinyint -> smallint (T-SQL tinyint is unsigned; ShortType holds 0..255)
DEFAULT_TYPE_MAP_STR: dict[str, T.DataType] = {
    "rowversion": T.LongType(),
    "tinyint": T.ShortType(),
    "datetime": T.TimestampType(),
    "datetime2": T.TimestampType(),
    "xid": T.LongType(),  # postgres xmin (reference:odbc2deltalake/db_to_delta.py:73-77)
}

# Dialect-scoped aliases. On T-SQL, bare ``timestamp`` is the legacy alias
# for rowversion (a BINARY(8) row-change counter, NOT a time type) — but a
# Spark/parquet source's ``TimestampType().simpleString()`` is also
# ``"timestamp"``. Applying the alias unscoped silently turned every real
# timestamp data column into bigint epoch values in the SCD2 history, so
# the alias only exists for dialect="tsql".
DIALECT_TYPE_MAP_STR: dict[str, dict[str, T.DataType]] = {
    "tsql": {"timestamp": T.LongType()},
}

# Source type strings that must never be trimmed even though they surface as
# strings (reference:odbc2deltalake/db_to_delta.py:80-87).
NO_TRIM_TYPES = {"xml", "uniqueidentifier", "uuid", "oid", "xid"}


def resolve_type(
    source_type_str: str,
    type_map: dict[str, T.DataType] | None = None,
    dialect: str = "spark",
) -> T.DataType | None:
    """Resolve a source type string through user map, dialect aliases, then
    the default map.

    Returns None when the source type needs no remapping (keep as read).
    ``dialect`` gates type-string aliases that collide with Spark-native
    type strings (tsql ``timestamp`` == rowversion vs Spark ``timestamp``
    == TimestampType).
    """
    base = source_type_str.split("(")[0].strip().lower()
    if type_map and base in type_map:
        return type_map[base]
    if type_map and source_type_str in type_map:
        return type_map[source_type_str]
    dialect_map = DIALECT_TYPE_MAP_STR.get(dialect)
    if dialect_map and base in dialect_map:
        return dialect_map[base]
    return DEFAULT_TYPE_MAP_STR.get(base)


def should_trim(col: ColInfo) -> bool:
    """String columns are TRIM()ed at extraction unless the source type is
    xml/uuid/oid/xid (reference:odbc2deltalake/db_to_delta.py:80-87;
    observable via tests/test_01_first_full.py:73)."""
    if not isinstance(col.data_type, T.StringType):
        return False
    base = col.data_type_str.split("(")[0].strip().lower()
    return base not in NO_TRIM_TYPES


@dataclass(frozen=True)
class SystemCols:
    """The three SCD2 system columns
    (reference:odbc2deltalake/write_init.py:22-24)."""

    timestamp: str = "__timestamp"
    is_deleted: str = "__is_deleted"
    is_full_load: str = "__is_full_load"

    @property
    def all(self) -> tuple[str, str, str]:
        return (self.timestamp, self.is_deleted, self.is_full_load)


SYS = SystemCols()
