"""Order-insensitive output fingerprint, computed by one Spark action.

The fingerprint of a DataFrame is its schema, its row count and a hash over
every column of every row, taken in column-name order.  Each row is reduced
to one 64-bit xxhash of its cells rendered as strings; the row hashes are
summed (as two 32-bit halves, so the sums cannot overflow), which makes the
result independent of row and partition order while still counting
duplicate rows.  Floating-point cells
are rounded to ``FLOAT_DECIMALS`` places first, the precision the registry's
queries round their data-dependent doubles to, and negative zero is folded
onto zero.  Nulls hash as a sentinel so that ``(null, 'a')`` and
``('a', null)`` differ.

The action scans the whole output, so it forces full execution of the plan
the way a sink would, and returns three numbers to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FLOAT_DECIMALS = 6
NULL_TOKEN = "\u0000null"
_MASK32 = 0xFFFFFFFF


def _round(c: Column) -> Column:
    # adding 0.0 maps -0.0 to 0.0, so the two render identically
    return F.round(c, FLOAT_DECIMALS) + F.lit(0.0)


def cell_text(c: Column, dtype: T.DataType) -> Column:
    """One cell rendered as a string, floats rounded, nulls kept as null."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return _round(c.cast("double")).cast("string")
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, (T.DoubleType, T.FloatType)
    ):
        return F.to_json(F.transform(c, lambda x: _round(x.cast("double"))))
    if isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
        return F.to_json(c)
    if isinstance(dtype, T.BinaryType):
        return F.base64(c)
    return c.cast("string")


def fingerprint_frame(df: DataFrame) -> DataFrame:
    """The one-row aggregate whose collection is the fingerprint action."""
    cells = [
        F.coalesce(cell_text(F.col(f"`{f.name}`"), f.dataType), F.lit(NULL_TOKEN))
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    h = F.xxhash64(*cells) if cells else F.lit(0).cast("long")
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.col("h").bitwiseAND(F.lit(_MASK32))), F.lit(0)).alias("lo"),
        F.coalesce(F.sum(F.shiftrightunsigned("h", 32)), F.lit(0)).alias("hi"),
    )


def schema_text(schema: T.StructType) -> str:
    """Column names and types, sorted by name (column order is not output)."""
    return ",".join(
        sorted(f"{f.name}:{f.dataType.simpleString()}" for f in schema.fields)
    )


def combine(schema: str, rows: int, lo: int, hi: int) -> str:
    """The fingerprint string of one output."""
    return f"{rows}:{hi:x}:{lo:x}:{schema}"


def fingerprint(df: DataFrame) -> str:
    """Run the fingerprint action on ``df`` and return its fingerprint."""
    row = fingerprint_frame(df).collect()[0]
    return combine(schema_text(df.schema), row["rows"], row["lo"], row["hi"])
