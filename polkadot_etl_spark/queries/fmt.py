"""Engine-neutral output formatting helpers.

The driver's correctness gate hashes Spark results against DuckDB results.
Native DATE/DECIMAL outputs round-trip differently through pandas in the
two engines (DuckDB: DATE→datetime64, DECIMAL→float64; Spark: date objects,
Decimal objects), so every query's *final* projection uses these helpers:

- decimal aggregates: computed exactly (per-row DECIMAL cast → associative
  SUM) then cast to DOUBLE — the same exact decimal value converts to the
  same nearest double in both engines, bit-for-bit.
- dates/timestamps: formatted to ISO strings identically by Spark's
  date_format and DuckDB's strftime (verified: microsecond padding
  matches). This also mirrors the reference's NDJSON export, which
  serializes timestamps as strings (substrateetl.js:6477-6516).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---- Spark side -----------------------------------------------------------


def s_date(c: Column | str) -> Column:
    return F.date_format(c, "yyyy-MM-dd")


def s_ts(c: Column | str) -> Column:
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")


def s_dbl(c: Column) -> Column:
    return c.cast("double")


def s_decsum(c: Column) -> Column:
    """Exact (associative) decimal sum emitted as double; d_decsum is
    its DuckDB twin."""
    return F.sum(c.cast("decimal(38,10)")).cast("double")


# ---- DuckDB side (SQL fragment builders) ----------------------------------


def d_date(expr: str) -> str:
    return f"strftime({expr}, '%Y-%m-%d')"


def d_ts(expr: str) -> str:
    return f"strftime({expr}, '%Y-%m-%d %H:%M:%S.%f')"


def d_dbl(expr: str) -> str:
    return f"CAST({expr} AS DOUBLE)"


def d_decsum(expr: str) -> str:
    """Exact decimal sum, emitted as double.

    The cast goes through VARCHAR deliberately: DuckDB's direct
    DECIMAL(38,·)→DOUBLE cast double-rounds through the hugeint storage
    and can be 1 ulp off the correctly-rounded value that Spark's
    BigDecimal→double produces; string→double (strtod) is correctly
    rounded in both engines.
    """
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"
