"""Arrow/physical type families of the oracles and their Spark twins.

The round-6 driver red (``layout_compaction_plan``) — and round 5's
(``scalar_variant_json``) — were **type-level**, not value-level: DuckDB
``sum(INTEGER)`` / ``//`` return HUGEINT, which materializes through
Arrow as ``decimal128(38,0)`` while Spark emits ``bigint``.  Values are
identical; the driver's hasher sees the physical type and flags a
mismatch.  Local ``fetchall()`` comparison collapses both to Python
``int`` and is blind to the entire class.

This module kills the class: DuckDB gives an oracle's output types
**without executing it** (``DESCRIBE SELECT ...``), and each column's
*type family* is compared against the Spark twin's analyzed schema.
Families: int / float / decimal / string / bool / date / timestamp /
interval / list / struct / map / binary.

Used by ``tests/test_oracle_types.py`` (the permanent gate) and by
``tools/oracle_check.py``, which runs the family check on every query
and records each differing column in ``type_diffs``.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.registry_run import TABLES  # noqa: E402


def duckdb_family(t: str) -> str:
    """Map a DuckDB type string (from DESCRIBE) to a comparison family."""
    t = t.strip().upper()
    if t.endswith("[]") or t.startswith(("LIST", "ARRAY")):
        return "list"
    if t.startswith("STRUCT"):
        return "struct"
    if t.startswith("MAP"):
        return "map"
    if t.startswith("DECIMAL") or t == "HUGEINT" or t == "UHUGEINT":
        # HUGEINT materializes through Arrow as decimal128(38,0): the
        # driver-visible family is decimal even though values are ints.
        return "decimal"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t in ("VARCHAR", "TEXT", "STRING", "CHAR", "BPCHAR", "UUID", "ENUM"):
        return "string"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP") or t.startswith("TIME"):
        return "timestamp"
    if t.startswith("INTERVAL"):
        return "interval"
    if t in ("BLOB", "BYTEA", "BINARY", "VARBINARY", "BIT"):
        return "binary"
    return f"other:{t}"


def spark_family(dt) -> str:
    """Map a Spark DataType to the same comparison family."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return "list"
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, (T.StringType, T.VarcharType, T.CharType)):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DayTimeIntervalType):
        return "interval"
    if isinstance(dt, T.BinaryType):
        return "binary"
    return f"other:{dt.simpleString()}"


def describe_oracle(con, sql: str) -> dict[str, str]:
    """Column -> DuckDB type for an oracle, WITHOUT executing the query."""
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return {r[0]: r[1] for r in rows}


def connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
