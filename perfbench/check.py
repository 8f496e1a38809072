"""Output check: row count, schema and an order-insensitive value hash.

The expected values are derived once from each entry's DuckDB oracle
(``derive_expected.py``) and stored in ``expected.json``; a run compares
Spark's output against them.  Both sides go through the same
canonical form, so the hash depends only on the multiset of values:

- columns are taken in name order (case-insensitive);
- numbers of any type become one decimal text, rounded to 6 places;
- timestamps become UTC ISO text, dates ISO text;
- nested values are canonicalized element by element.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

ROUND = 6


def kind_of_spark(dtype) -> str:
    """Coarse type family of a Spark DataType."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.BooleanType):
        return "bool"
    if isinstance(dtype, T.NumericType):
        return "num"
    if isinstance(dtype, (T.StringType, T.CharType, T.VarcharType)):
        return "str"
    if isinstance(dtype, T.DateType):
        return "date"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dtype, T.BinaryType):
        return "bin"
    if isinstance(dtype, T.ArrayType):
        return "list"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "struct"
    return dtype.simpleString()


def kind_of_duckdb(type_name: str) -> str:
    """Coarse type family of a DuckDB result column type."""
    t = str(type_name).upper()
    if t.endswith("[]") or t.startswith("LIST"):
        return "list"
    if t.startswith(("STRUCT", "MAP")):
        return "struct"
    if t == "BOOLEAN":
        return "bool"
    if t in ("VARCHAR", "UUID") or t.startswith("VARCHAR"):
        return "str"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "BLOB":
        return "bin"
    num = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT", "DOUBLE", "DECIMAL", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT")
    if t.startswith(num):
        return "num"
    return t.lower()


def _num(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        v = decimal.Decimal(repr(round(v, ROUND) + 0.0))
    elif isinstance(v, int):
        return str(v)
    d = decimal.Decimal(v).quantize(decimal.Decimal(1).scaleb(-ROUND), rounding=decimal.ROUND_HALF_EVEN)
    text = format(d.normalize(), "f")
    return "0" if text in ("-0", "0") else text


def canon(v) -> str:
    """Canonical text of one cell."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (int, float, decimal.Decimal)):
        return _num(v)
    if hasattr(v, "item") and hasattr(v, "dtype"):  # numpy scalar
        return canon(v.item())
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if hasattr(v, "asDict"):  # pyspark Row of a struct column
        return canon(v.asDict())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "s" + str(v)


def summarize(columns: list[str], kinds: list[str], rows) -> dict:
    """Row count, schema and order-insensitive hash of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    digests = sorted(
        hashlib.sha256("\x1f".join(canon(row[i]) for i in order).encode()).digest()
        for row in rows
    )
    h = hashlib.sha256()
    for d in digests:
        h.update(d)
    return {
        "rows": len(digests),
        "schema": [f"{columns[i].lower()}:{kinds[i]}" for i in order],
        "hash": h.hexdigest(),
    }


def summarize_spark(df) -> dict:
    fields = df.schema.fields
    return summarize([f.name for f in fields], [kind_of_spark(f.dataType) for f in fields], df.collect())


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from ``want``, or None when they agree."""
    for key in ("rows", "schema", "hash"):
        if got[key] != want[key]:
            return f"{key}: got {got[key]!r}, expected {want[key]!r}"[:300]
    return None
