"""Cross-engine numeric helpers.

The driver hash-compares Spark results against DuckDB. Raw double
aggregation is order-dependent (parallel sums associate differently), so
every money/measure aggregate goes through DECIMAL(18,2): the testdata's
doubles are exactly 2-decimal, the cast is lossless, decimal sums are
exact in both engines, and the final cast back to DOUBLE is exact for any
value below 2^53. Verified bit-identical Spark-vs-DuckDB on sf0.01.

Each helper has a Spark (Column) and a SQL-fragment (str) form; queries
must use the pair so the plan and the oracle share one definition.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def dec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def money_sum(expr: Column) -> Column:
    """Exact sum of a decimal expression, surfaced as double."""
    return F.sum(expr).cast("double")


def sql_dec(x: str) -> str:
    return f"CAST({x} AS DECIMAL(18,2))"


def sql_money_sum(x: str) -> str:
    return f"CAST(sum({sql_dec(x)}) AS DOUBLE)"


# lineitem revenue: extendedprice * (1 - discount), decimal-exact
def revenue_expr() -> Column:
    return dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))


SQL_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


def charge_expr() -> Column:
    return revenue_expr() * (F.lit(1).cast(DEC) + dec("l_tax"))


SQL_CHARGE = f"{SQL_REVENUE} * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))"
