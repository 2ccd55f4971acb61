"""Datetime / calendar feature functions (SURVEY §1.2 derived columns).

All JVM-side built-ins — no UDFs — so they stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: Spark twin of SLOT_CASE_SQL, with ``>=``/``<=``: SQL ``BETWEEN`` would
#: plan a common expression (``With``) and an extra Project.
_SLOT_CASE = (
    "CASE WHEN hour({ts}) >= 0 AND hour({ts}) <= 5 THEN 'Night' "
    "WHEN hour({ts}) >= 6 AND hour({ts}) <= 11 THEN 'Morning' "
    "WHEN hour({ts}) >= 12 AND hour({ts}) <= 16 THEN 'Afternoon' "
    "WHEN hour({ts}) >= 17 AND hour({ts}) <= 20 THEN 'Evening' "
    "ELSE 'LateNight' END"
)


def time_of_day_slot(ts: str) -> Column:
    """Slot bucketing exactly as ``nb:64830 (c88)``:

    Night 0-5, Morning 6-11, Afternoon 12-16, Evening 17-20, else LateNight.
    All-literal branches => non-nullable string (SURVEY §1.2).

    Parsed as one SQL expression over the column name: a nested Column
    tree costs a py4j round trip per node.
    """
    return F.expr(_SLOT_CASE.format(ts=ts))


#: DuckDB-equivalent CASE expression for oracle SQL. DuckDB hour() on naive
#: timestamps matches Spark hour() under UTC session tz (SURVEY §7.5).
SLOT_CASE_SQL = (
    "CASE WHEN hour({ts}) BETWEEN 0 AND 5 THEN 'Night' "
    "WHEN hour({ts}) BETWEEN 6 AND 11 THEN 'Morning' "
    "WHEN hour({ts}) BETWEEN 12 AND 16 THEN 'Afternoon' "
    "WHEN hour({ts}) BETWEEN 17 AND 20 THEN 'Evening' "
    "ELSE 'LateNight' END"
)

#: Spark dayofweek: 1=Sunday..7=Saturday (nb:64802 (c87)).
#: DuckDB dayofweek: 0=Sunday..6=Saturday -> oracle uses (dayofweek+1).
DOW_SQL = "(dayofweek({ts}) + 1)"


def with_calendar_features(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """``pickup_hour_of_day`` / ``pickup_day_of_week`` / slot (c87-c88)."""
    return (
        df.withColumn("hour_of_day", F.hour(F.col(ts_col)))
        .withColumn("day_of_week", F.dayofweek(F.col(ts_col)))
        .withColumn("time_of_day_slot", time_of_day_slot(ts_col))
    )
