"""Order-insensitive, ANSI-safe result checksums.

A query result is reduced to ``(rows, s1, s2)``: the row count and two
sums of per-row hashes with different salts. Each per-row hash is
``pmod(xxhash64(...), 2^31 - 1)``, so every term lies in ``[0, 2^31)``
and a sum over fewer than 2^32 rows cannot overflow a BIGINT. A plain
``sum(xxhash64(...))`` adds signed 64-bit values and raises
``ARITHMETIC_OVERFLOW`` under ANSI mode after a handful of rows.

Columns are normalized before hashing the way
``tools/check_correctness.py:norm_val`` normalizes values: floating
point is rounded to 6 decimals (and ``-0.0`` folded into ``0.0``), maps
are hashed through ``to_json`` (xxhash64 rejects map types), and arrays
and structs are normalized element-wise.
"""

from __future__ import annotations

MODULUS = (1 << 31) - 1
_SALTS = ("perfbench-1", "perfbench-2")


def _has_float(dt) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_float(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_has_float(f.dataType) for f in dt.fields)
    return False


def normalize(col, dt):
    """Column expression with ``col``'s value in hash-stable form."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return F.round(col.cast("double"), 6) + F.lit(0.0)
    if isinstance(dt, T.MapType):
        return F.to_json(col)
    if isinstance(dt, T.ArrayType) and (
        _has_float(dt.elementType) or isinstance(dt.elementType, T.MapType)
    ):
        return F.transform(col, lambda x: normalize(x, dt.elementType))
    if isinstance(dt, T.StructType) and (
        _has_float(dt) or any(isinstance(f.dataType, T.MapType) for f in dt.fields)
    ):
        return F.struct(
            *[normalize(col[f.name], f.dataType).alias(f.name) for f in dt.fields]
        )
    return col


def checksum_df(df):
    """One-row DataFrame ``(rows, s1, s2)`` over every column of ``df``."""
    from pyspark.sql import functions as F

    cols = [normalize(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    terms = [
        F.pmod(F.xxhash64(F.lit(salt), *cols), F.lit(MODULUS)).alias(f"h{i}")
        for i, salt in enumerate(_SALTS)
    ]
    return df.select(*terms).agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum("h0"), F.lit(0)).alias("s1"),
        F.coalesce(F.sum("h1"), F.lit(0)).alias("s2"),
    )


def checksum(df) -> tuple[int, str]:
    """Run the checksum job: ``(row count, "s1:s2")``."""
    row = checksum_df(df).collect()[0]
    return int(row["rows"]), f"{row['s1']}:{row['s2']}"
