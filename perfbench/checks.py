"""Output checks: an order-insensitive content digest for DataFrames and
the valsort check for GraySort outputs."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOW32 = 0xFFFFFFFF


def _stable(col: Column, dtype: T.DataType) -> Column:
    """``col`` with floating-point values rendered to 12 significant
    digits, so sums that Spark accumulates in a different order on
    another run still hash alike."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.format_string("%.12g", col)
    if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, (T.DoubleType, T.FloatType)):
        return F.transform(col, lambda x: F.format_string("%.12g", x))
    if isinstance(dtype, T.MapType):
        return F.to_json(col)
    return col


def digest(df: DataFrame) -> str:
    """Row count, column names and the sum over rows of a 64-bit row
    hash.  A sum does not depend on row order or partitioning; equal
    rows add twice, so the digest is one of the row multiset."""
    fields = df.schema.fields
    h = F.xxhash64(*[_stable(F.col(f"`{f.name}`"), f.dataType) for f in fields]) if fields else F.lit(0)
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("h").bitwiseAND(F.lit(_LOW32))).alias("lo"),
            F.sum(F.shiftright(F.col("h"), 32)).alias("hi"),
        )
        .first()
    )
    return f"{','.join(df.columns)}|n={row['n']}|{row['lo'] or 0}|{row['hi'] or 0}"


def valsort_errors(summary: dict, records: int, checksum: int) -> list[str]:
    """What is wrong with a ``valsort_check`` summary of a sort of
    ``records`` records whose generator checksum is ``checksum``."""
    errors = []
    if not summary["sorted"]:
        errors.append("output not sorted")
    if summary["records"] != records:
        errors.append(f"{summary['records']} records, expected {records}")
    if summary["checksum"] != checksum:
        errors.append(f"checksum {summary['checksum']:x}, expected {checksum:x}")
    return errors
