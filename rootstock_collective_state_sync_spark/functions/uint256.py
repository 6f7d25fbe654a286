"""uint256 handling policy (SURVEY §1.2 / §7 risk register).

The reference stores BigInt as ``NUMERIC(78,0)`` — full uint256.
Spark's widest exact numeric is ``DecimalType(38,0)`` (10^38-1 ≈
2^126), which covers every realistic token amount but not the full
2^256 domain. Policy implemented here:

- canonical column: ``DecimalType(38,0)``, overflow fails loudly;
- optional lossless shadow: ``<col>__hex`` (0x-prefixed, lowercase,
  minimal-width hex string) that a query derives for values that must
  round-trip at full width;
- full-width arithmetic, when needed, runs on the shadow via an
  Arrow-batched Pandas UDF over Python ints (exact at any width).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

UINT256_MAX = 2**256 - 1
DECIMAL38_MAX = 10**38 - 1

_hex_udf = None
_add_udf = None


def to_hex_shadow(col: Column) -> Column:
    """decimal/long -> canonical 0x-hex string (lossless for any value
    the column can hold)."""
    global _hex_udf
    if _hex_udf is None:

        @F.pandas_udf("string")
        def _udf(s: pd.Series) -> pd.Series:
            return s.map(lambda v: None if v is None else hex(int(v)))

        _hex_udf = _udf
    return _hex_udf(col)


def from_hex_checked(col: Column) -> Column:
    """0x-hex -> DecimalType(38,0), NULL when the value exceeds the
    canonical range (callers keep the hex shadow for those rows —
    loud-overflow variants can assert on the NULL count)."""
    global _add_udf  # reuse slot naming pattern; separate cache below
    if not hasattr(from_hex_checked, "_udf"):

        @F.pandas_udf("decimal(38,0)")
        def _udf(s: pd.Series) -> pd.Series:
            from decimal import Decimal

            def conv(h):
                if h is None:
                    return None
                v = int(h, 16)
                return Decimal(v) if v <= DECIMAL38_MAX else None

            return s.map(conv)

        from_hex_checked._udf = _udf
    return from_hex_checked._udf(col)


def with_hex_shadow(df: DataFrame, cols: list[str]) -> DataFrame:
    """Attach a lossless ``<col>__hex`` shadow next to each canonical
    decimal column."""
    for c in cols:
        df = df.withColumn(f"{c}__hex", to_hex_shadow(F.col(c)))
    return df


def hex_chunk(col: Column, div: int, mod: int) -> Column:
    """``(int(hex) // div) % mod`` as BIGINT — exact Python-int
    arithmetic over the hex shadow, Arrow-batched. Chunking a shadow
    into base-10^18 limbs (div = 10^0, 10^18, 10^36, ...) pins the
    FULL value in hash-comparable BIGINT columns, which is how the
    ``uint256_roundtrip`` registry query proves shadow losslessness
    beyond both Decimal(38,0) and DuckDB's HUGEINT range."""
    if div <= 0 or mod <= 0:
        raise ValueError("div and mod must be positive")

    @F.pandas_udf("long")
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(
            lambda h: None if h is None else (int(h, 16) // div) % mod
        )

    return _udf(col)


def hex_add(a: Column, b: Column) -> Column:
    """Full-width uint256 addition over hex shadows (exact Python-int
    arithmetic, Arrow-batched; wraps at 2^256 like the EVM)."""
    global _add_udf
    if _add_udf is None:

        @F.pandas_udf("string")
        def _udf(x: pd.Series, y: pd.Series) -> pd.Series:
            def add(p, q):
                if p is None or q is None:
                    return None
                return hex((int(p, 16) + int(q, 16)) % (2**256))

            return pd.Series([add(p, q) for p, q in zip(x, y)])

        _add_udf = _udf
    return _add_udf(a, b)
