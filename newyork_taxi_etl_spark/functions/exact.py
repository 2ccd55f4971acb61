"""Deterministic (order-independent) numeric aggregates.

Plain double ``sum``/``avg`` depend on partition summation order, so Spark
and the DuckDB oracle can differ in the last ulps — enough to flip a rounded
digit and fail a value-hash compare (SURVEY §7.3.2). For oracle-checked
queries we aggregate through a fixed-point decimal and cast back to double:
exact, associative, engine-independent.

At 100 TB this is also the *right* semantics for money columns — decimal
partial aggregation is exact and still map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: scale 12 so the double→decimal rounding step sits far below any digit the
#: query later rounds/prints — scale 6 already flipped a displayed digit once
#: (label_centroids at sf0.1: a double ~x.xxxxxx5 boundary rounded apart in
#: Spark vs DuckDB). 26 integer digits still cover 1e12 rows of 1e6 values.
_DEC = "decimal(38,12)"


def sum_exact(col: Column | str) -> Column:
    """Order-independent SUM over doubles (exact at 12 decimal places).

    A column name is parsed as one SQL expression, which costs one py4j
    round trip instead of one per node of a Column tree.
    """
    if isinstance(col, str):
        return F.expr(f"CAST(sum(CAST({col} AS {_DEC})) AS DOUBLE)")
    return F.sum(col.cast(_DEC)).cast("double")


def avg_exact(col: Column | str) -> Column:
    """Order-independent AVG over doubles.

    decimal-sum / count, evaluated in double at the end; bit-identical
    between Spark and DuckDB given the same rows.  A column name is
    parsed as one SQL expression, as in :func:`sum_exact`.
    """
    if isinstance(col, str):
        return F.expr(
            f"CAST(CAST(sum(CAST({col} AS {_DEC})) AS DOUBLE) / count({col})"
            " AS DOUBLE)"
        )
    return (F.sum(col.cast(_DEC)).cast("double") / F.count(col)).cast("double")


def dec_in_sql(col: str) -> str:
    """DuckDB double→decimal input cast aligned with Spark.

    Spark's Decimal(double) goes through ``BigDecimal.valueOf`` — i.e. it
    HALF_UP-rounds the double's SHORTEST decimal repr. DuckDB's direct
    double→DECIMAL cast instead scales in binary (x*1e12 then round),
    which can land one unit off at scale 12. Routing through VARCHAR makes
    DuckDB round the same shortest-repr digit string Spark does.
    """
    return f"CAST(CAST({col} AS VARCHAR) AS DECIMAL(38,12))"


def dec_out_sql(expr: str) -> str:
    """DuckDB decimal→double output cast aligned with Spark.

    DuckDB's direct DECIMAL(38,12)→DOUBLE computes
    double(int128_units)/double(1e12), which double-rounds once the unit
    count exceeds 2^53 (any value over ~9e3 at scale 12); Spark's
    BigDecimal.doubleValue is correctly rounded. The VARCHAR parse is
    correctly rounded and matches Spark exactly.
    """
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def sum_exact_sql(col: str) -> str:
    """DuckDB oracle twin of :func:`sum_exact` (VARCHAR-routed casts on
    both ends — see dec_in_sql / dec_out_sql)."""
    return dec_out_sql(f"SUM({dec_in_sql(col)})")


def avg_exact_sql(col: str) -> str:
    """DuckDB oracle twin of :func:`avg_exact`."""
    return (
        f"CAST({dec_out_sql(f'SUM({dec_in_sql(col)})')}"
        f" / COUNT({col}) AS DOUBLE)"
    )
