"""Cleaning-operator queries (SURVEY §2.2 P3-P13, §2.9 quirks) transplanted
onto the driver testdata, per FIXTURES.md §B.

The taxi-schema versions of these operators live in ``operators/clean.py``
(unit-tested on the branch-coverage fixture); these queries exercise the
same plan shapes + NULL semantics on events/lineitem so the DuckDB oracle
can hash-check them at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.functions.datetime import SLOT_CASE_SQL, DOW_SQL
from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.sources.readers import table

_SLOT = SLOT_CASE_SQL.format(ts="ts")
_DOW = DOW_SQL.format(ts="ts")


@register(
    "clean_speed_filter",
    """
    SELECT event_id, user_id, value
    FROM events
    WHERE value / (second(ts) / 60.0) <= 50
    ORDER BY event_id
    """,
    doc="P4 arithmetic predicate with non-ANSI div-by-zero -> NULL -> drop "
    "(speed filter, nb:61073 (c26), SURVEY §2.9.5): rows with second(ts)=0 "
    "silently vanish in BOTH engines",
)
def clean_speed_filter(spark, sf_dir):
    df = table(spark, sf_dir, "events")
    return (
        df.filter((F.col("value") / (F.second("ts") / 60.0)) <= 50)
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    )


@register(
    "clean_keep_drop",
    """
    SELECT event_id, event_type, value
    FROM (
      SELECT *,
             CASE WHEN value < 1 AND event_type IN ('purchase', 'view')
                       AND minute(ts) < 30 THEN 'keep'
                  WHEN value < 1 AND event_type IN ('purchase', 'view') THEN 'keep'
                  WHEN value < 1 AND event_type IN ('error', 'signup') THEN 'drop'
                  WHEN value >= 300 AND minute(ts) >= 45 THEN 'drop'
                  WHEN value >= 250 AND minute(ts) < 5 THEN 'drop'
                  ELSE 'keep' END AS keep_or_drop
      FROM events
    )
    WHERE keep_or_drop = 'keep'
    ORDER BY event_id
    """,
    doc="P9 first-match-wins 6-branch when-cascade + transient-column filter "
    "(keep_or_drop, nb:62553 (c49), SURVEY §2.9.6)",
)
def clean_keep_drop(spark, sf_dir):
    df = table(spark, sf_dir, "events")
    low = F.col("value") < 1
    rule = (
        F.when(low & F.col("event_type").isin("purchase", "view") & (F.minute("ts") < 30), "keep")
        .when(low & F.col("event_type").isin("purchase", "view"), "keep")
        .when(low & F.col("event_type").isin("error", "signup"), "drop")
        .when((F.col("value") >= 300) & (F.minute("ts") >= 45), "drop")
        .when((F.col("value") >= 250) & (F.minute("ts") < 5), "drop")
        .otherwise("keep")
    )
    return (
        df.withColumn("keep_or_drop", rule)
        .filter(F.col("keep_or_drop") == "keep")
        .drop("keep_or_drop")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


@register(
    "clean_sign_fix",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_returnflag IN ('A', 'R') AND (l_discount - 0.05) < 0
                THEN -(l_discount - 0.05) ELSE (l_discount - 0.05) END AS disc_fixed,
           CASE WHEN l_returnflag IN ('A', 'R') AND (l_tax - 0.04) < 0
                THEN -(l_tax - 0.04) ELSE (l_tax - 0.04) END AS tax_fixed
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="P9 multi-column conditional sign flip gated on a categorical "
    "membership (negative-money fix, nb:63337 (c55)); unary minus §2.8",
)
def clean_sign_fix(spark, sf_dir):
    df = (
        table(spark, sf_dir, "lineitem")
        .withColumn("disc_shift", F.col("l_discount") - 0.05)
        .withColumn("tax_shift", F.col("l_tax") - 0.04)
    )
    fixable = F.col("l_returnflag").isin("A", "R")
    for c in ["disc_shift", "tax_shift"]:
        df = df.withColumn(
            c, F.when(fixable & (F.col(c) < 0), -F.col(c)).otherwise(F.col(c))
        )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.col("disc_shift").alias("disc_fixed"),
        F.col("tax_shift").alias("tax_fixed"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "fare_validation",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM (
      SELECT *,
             CASE WHEN l_linenumber = 1
                    THEN 500 + GREATEST(l_quantity * 900, l_discount * 200000)
                  WHEN l_linenumber = 2 THEN 25000
                  WHEN l_linenumber = 3
                    THEN 500 + GREATEST(l_quantity * 900, l_discount * 200000) + 2000
                  WHEN l_linenumber = 4
                    THEN 500 + GREATEST(l_quantity * 900, l_discount * 200000)
             END AS expected_price
      FROM lineitem
    )
    WHERE NOT ((l_extendedprice > expected_price + 10000)
               OR (l_extendedprice < expected_price - 20000))
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="P9+P5 expected-value window filter with ~(A|B) parenthesization and "
    "NULL-propagation drops for codes outside 1-4 (fare validation, "
    "nb:63555 (c58), SURVEY §2.9.2/3); greatest() §2.8",
)
def fare_validation(spark, sf_dir):
    df = table(spark, sf_dir, "lineitem")
    meter = F.greatest(F.col("l_quantity") * 900, F.col("l_discount") * 200000)
    expected = (
        F.when(F.col("l_linenumber") == 1, F.lit(500) + meter)
        .when(F.col("l_linenumber") == 2, F.lit(25000))
        .when(F.col("l_linenumber") == 3, F.lit(500) + meter + F.lit(2000))
        .when(F.col("l_linenumber") == 4, F.lit(500) + meter)
    )
    out = df.withColumn("expected_price", expected).filter(
        ~(
            (F.col("l_extendedprice") > F.col("expected_price") + 10000)
            | (F.col("l_extendedprice") < F.col("expected_price") - 20000)
        )
    )
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice").orderBy(
        "l_orderkey", "l_linenumber"
    )


@register(
    "feature_slots",
    f"""
    SELECT event_id,
           hour(ts) AS hour_of_day,
           {_DOW} AS day_of_week,
           {_SLOT} AS time_of_day_slot
    FROM events
    ORDER BY event_id
    """,
    doc="P8/P9/P13 calendar features: hour, dayofweek (Spark 1=Sunday), "
    "slot bucketing (nb:64802-64830 (c87-88))",
)
def feature_slots(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.datetime import with_calendar_features

    return (
        with_calendar_features(table(spark, sf_dir, "events"))
        .select("event_id", "hour_of_day", "day_of_week", "time_of_day_slot")
        .orderBy("event_id")
    )


@register(
    "null_propagation_filter",
    """
    SELECT event_id, value
    FROM events
    WHERE value / nullif(second(ts), 0) > 1
    ORDER BY event_id
    """,
    doc="P3 comparison filter with explicit NULL propagation (3VL drop "
    "semantics of nb:64146 (c69), SURVEY §2.9.2)",
)
def null_propagation_filter(spark, sf_dir):
    df = table(spark, sf_dir, "events")
    return (
        df.filter(
            (F.col("value") / F.nullif(F.second("ts"), F.lit(0))) > 1
        )
        .select("event_id", "value")
        .orderBy("event_id")
    )
