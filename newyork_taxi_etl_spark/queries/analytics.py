"""Analytics queries over the driver testdata (SURVEY §2.4-§2.6; FIXTURES §B).

Each query transplants a reference analytic onto the synthetic tables:
events plays the trips role (ts ↔ pickup time, value ↔ fare, user_id ↔
location, event_type ↔ payment/rate code).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.operators import analytics as ops
from newyork_taxi_etl_spark.functions.datetime import DOW_SQL, SLOT_CASE_SQL
from newyork_taxi_etl_spark.functions.exact import (
    avg_exact,
    avg_exact_sql,
    sum_exact,
    sum_exact_sql,
)
from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.sources.readers import table

_SLOT = SLOT_CASE_SQL.format(ts="ts")
_DOW = DOW_SQL.format(ts="ts")

#: fixed "airport ids" analog over events.user_id (reference uses [1,132,138]
#: over PULocationID, nb:66172 (c101))
FLAG_IDS = [1, 13, 38]


@register(
    "traffic_congestion",
    f"""
    SELECT {_SLOT} AS time_of_day_slot,
           {avg_exact_sql('value')} AS avg_value,
           COUNT(*) AS trip_count
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    doc="A9 multi-agg by time-of-day slot + O1 sort (nb:117702 (c114)) — flagship",
)
def traffic_congestion(spark, sf_dir):
    return ops.traffic_congestion(table(spark, sf_dir, "events"))


@register(
    "value_by_slot_dow",
    f"""
    SELECT {_SLOT} AS time_of_day_slot,
           {_DOW} AS day_of_week,
           ROUND({avg_exact_sql('value')}, 2) AS avg_value,
           COUNT(*) AS trip_count
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="A10 rounded aggs by (slot, day-of-week) (nb:121693 (c138))",
)
def value_by_slot_dow(spark, sf_dir):
    return ops.value_by_slot_dow(table(spark, sf_dir, "events"))


@register(
    "rank_in_group",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           CAST(RANK() OVER (PARTITION BY l_returnflag
                             ORDER BY COUNT(*) DESC, l_linestatus) AS INT) AS rnk
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, rnk
    """,
    doc="A7+W1 count by (returnflag,linestatus), rank within returnflag (nb:117225 (c111))",
)
def rank_in_group(spark, sf_dir):
    return ops.rank_in_group(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_linestatus"
    ).orderBy("l_returnflag", "rnk")


@register(
    "top_routes",
    f"""
    WITH slotted AS (
      SELECT *, {_SLOT} AS time_of_day_slot FROM events
    )
    SELECT concat_ws(' to ', user_id, event_type) AS route,
           COUNT(*) AS trip_count
    FROM slotted
    WHERE time_of_day_slot IN ('Afternoon', 'Evening')
    GROUP BY user_id, event_type
    ORDER BY trip_count DESC, route
    LIMIT 10
    """,
    doc="O3 top-k routes with concat_ws label (nb:122413 (c144))",
)
def top_routes(spark, sf_dir):
    return ops.top_routes(table(spark, sf_dir, "events"))


@register(
    "top_routes_salted",
    f"""
    WITH slotted AS (
      SELECT *, {_SLOT} AS time_of_day_slot FROM events
    )
    SELECT concat_ws(' to ', user_id, event_type) AS route,
           COUNT(*) AS trip_count
    FROM slotted
    WHERE time_of_day_slot IN ('Afternoon', 'Evening')
    GROUP BY user_id, event_type
    ORDER BY trip_count DESC, route
    LIMIT 10
    """,
    doc="skew-safe two-phase top-k: per-(salt, route) partial counts then a "
    "sum over <=16 rows per route — the 100 TB pattern for skewed group-by "
    "keys (route 236<->237 dominates the reference, SURVEY §7.3.6); result "
    "identical to top_routes, and the oracle is the same SQL",
)
def top_routes_salted(spark, sf_dir):
    return ops.top_routes_salted(table(spark, sf_dir, "events"))


@register(
    "corr_by_group",
    f"""
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_xy,
           {avg_exact_sql('l_quantity')} AS avg_x,
           {avg_exact_sql('l_extendedprice')} AS avg_y,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="A12 grouped Pearson corr + avgs (nb:122567 (c146))",
)
def corr_by_group(spark, sf_dir):
    return ops.corr_by_group(
        table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
    )


@register(
    "flag_split_stats",
    f"""
    SELECT user_id IN (1, 13, 38) AS is_flag,
           {avg_exact_sql('value')} AS avg_value,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    doc="A8 avg by boolean membership flag (airport tip%% analog, nb:66529 (c105))",
)
def flag_split_stats(spark, sf_dir):
    return ops.flag_split_stats(table(spark, sf_dir, "events"), FLAG_IDS)


@register(
    "group_type_stats",
    f"""
    SELECT CASE WHEN user_id IN (1, 13, 38) THEN 'flagged' ELSE 'non_flagged' END
             AS trip_type,
           ROUND({avg_exact_sql('value')}, 2) AS avg_value,
           ROUND({avg_exact_sql('hour(ts)')}, 2) AS avg_hour,
           COUNT(*) AS trips
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    doc="A10 multi-agg by derived trip_type (airport stats analog, nb:122693 (c147))",
)
def group_type_stats(spark, sf_dir):
    return ops.group_type_stats(table(spark, sf_dir, "events"), FLAG_IDS)


@register(
    "count_nonnull_by_group",
    """
    SELECT o_orderstatus, COUNT(o_custkey) AS nonnull_cnt
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="A11 null-skipping count per group (nb:116820 (c109))",
)
def count_nonnull_by_group(spark, sf_dir):
    return ops.count_nonnull_by_group(
        table(spark, sf_dir, "orders"), "o_orderstatus", "o_custkey"
    )


@register(
    "congestion_sorted_desc",
    f"""
    SELECT {_SLOT} AS time_of_day_slot,
           {avg_exact_sql('value')} AS avg_value,
           COUNT(*) AS trip_count
    FROM events
    GROUP BY 1
    ORDER BY trip_count DESC
    """,
    doc="O2 global sort desc by aggregate expression (nb:122031 (c142))",
)
def congestion_sorted_desc(spark, sf_dir):
    df = ops.traffic_congestion(table(spark, sf_dir, "events"))
    return df.orderBy(F.desc("trip_count"))


@register(
    "distinct_values",
    """
    SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority
    """,
    doc="P14 distinct values of a categorical column (nb:64307 (c73))",
)
def distinct_values(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderpriority")
        .distinct()
        .orderBy("o_orderpriority")
    )


@register(
    "categorical_decode_rank",
    """
    WITH decoded AS (
      SELECT CASE o_orderstatus WHEN 'O' THEN 'Open'
                                WHEN 'F' THEN 'Finished'
                                WHEN 'P' THEN 'Pending'
                                ELSE 'Unknown' END AS status_name,
             o_orderpriority
      FROM orders
    )
    SELECT status_name, o_orderpriority, COUNT(*) AS cnt,
           CAST(RANK() OVER (PARTITION BY status_name
                             ORDER BY COUNT(*) DESC, o_orderpriority) AS INT)
             AS rnk
    FROM decoded
    GROUP BY status_name, o_orderpriority
    ORDER BY status_name, rnk
    """,
    doc="categorical decode + rank (nb:117225 (c111)): integer/letter codes "
    "decoded to names via a when() cascade (the reference's RatecodeID/"
    "payment_type dictionaries, report:26-28), then priorities ranked by "
    "count within each decoded status — decode is a zero-shuffle projection",
)
def categorical_decode_rank(spark, sf_dir):
    decoded = table(spark, sf_dir, "orders").withColumn(
        "status_name",
        F.when(F.col("o_orderstatus") == "O", "Open")
        .when(F.col("o_orderstatus") == "F", "Finished")
        .when(F.col("o_orderstatus") == "P", "Pending")
        .otherwise("Unknown"),
    )
    return ops.rank_in_group(decoded, "status_name", "o_orderpriority").orderBy(
        "status_name", "rnk"
    )


@register(
    "rollup_slot_dow",
    f"""
    WITH slotted AS (
      SELECT {_SLOT} AS time_of_day_slot, {_DOW} AS day_of_week, value
      FROM events
    )
    SELECT time_of_day_slot, day_of_week, COUNT(*) AS cnt,
           ROUND({avg_exact_sql('value')}, 2) AS avg_value
    FROM slotted
    GROUP BY ROLLUP (time_of_day_slot, day_of_week)
    ORDER BY time_of_day_slot NULLS FIRST, day_of_week NULLS FIRST
    """,
    doc="hierarchical rollup (slot, dow) -> slot -> grand total in ONE "
    "pass: Spark expands grouping sets map-side, so the cost is one "
    "shuffle regardless of hierarchy depth — vs three separate group-bys",
)
def rollup_slot_dow(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.datetime import time_of_day_slot

    slotted = table(spark, sf_dir, "events").select(
        time_of_day_slot("ts").alias("time_of_day_slot"),
        F.dayofweek("ts").alias("day_of_week"),
        "value",
    )
    return (
        slotted.rollup("time_of_day_slot", "day_of_week")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(avg_exact("value"), 2).alias("avg_value"),
        )
        .orderBy(
            F.col("time_of_day_slot").asc_nulls_first(),
            F.col("day_of_week").asc_nulls_first(),
        )
    )


@register(
    "cube_slot_dow",
    f"""
    WITH slotted AS (
      SELECT {_SLOT} AS time_of_day_slot, {_DOW} AS day_of_week, value
      FROM events
    )
    SELECT time_of_day_slot, day_of_week, COUNT(*) AS cnt,
           ROUND({avg_exact_sql('value')}, 2) AS avg_value
    FROM slotted
    GROUP BY CUBE (time_of_day_slot, day_of_week)
    ORDER BY time_of_day_slot NULLS FIRST, day_of_week NULLS FIRST
    """,
    doc="full cube over (slot, dow): all 4 grouping sets expanded map-side "
    "into ONE shuffle+hash aggregate (like rollup_slot_dow but including "
    "the dow-only marginal) — vs 4 separate group-bys and 4 scans",
)
def cube_slot_dow(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.datetime import time_of_day_slot

    slotted = table(spark, sf_dir, "events").select(
        time_of_day_slot("ts").alias("time_of_day_slot"),
        F.dayofweek("ts").alias("day_of_week"),
        "value",
    )
    return (
        slotted.cube("time_of_day_slot", "day_of_week")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(avg_exact("value"), 2).alias("avg_value"),
        )
        .orderBy(
            F.col("time_of_day_slot").asc_nulls_first(),
            F.col("day_of_week").asc_nulls_first(),
        )
    )


@register(
    "topn_per_group",
    """
    SELECT lang, doc_id, n_chars, CAST(rn AS INT) AS rn
    FROM (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 3
    ORDER BY lang, rn
    """,
    doc="per-group top-n (longest 3 docs per language, deterministic "
    "doc_id tiebreak) — the canonical-representative step of a dedup "
    "pipeline (keep best doc per cluster). Spark 3.5+ plans "
    "WindowGroupLimit: the rn<=3 limit is applied map-side BEFORE the "
    "shuffle, so only ~n rows per group per task move — asserted in "
    "tests/test_plans.py",
)
def topn_per_group(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        table(spark, sf_dir, "documents")
        .select("lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("lang", "rn")
    )


@register(
    "pivot_slot_by_type",
    f"""
    WITH slotted AS (
      SELECT {_SLOT} AS time_of_day_slot, event_type, value FROM events
    )
    SELECT time_of_day_slot,
           COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS view
    FROM slotted
    GROUP BY time_of_day_slot
    ORDER BY time_of_day_slot
    """,
    doc="pivot (wide counts per slot x event_type): explicit value list so "
    "Spark skips the extra distinct-values job and plans ONE hash "
    "aggregate with 5 conditional counts — the oracle is the equivalent "
    "conditional aggregation",
)
def pivot_slot_by_type(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.datetime import time_of_day_slot

    slotted = table(spark, sf_dir, "events").select(
        time_of_day_slot("ts").alias("time_of_day_slot"), "event_type"
    )
    return (
        slotted.groupBy("time_of_day_slot")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .orderBy("time_of_day_slot")
    )


@register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sum_exact_sql('l_quantity')} AS sum_qty,
           {sum_exact_sql('l_extendedprice')} AS sum_base_price,
           {sum_exact_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sum_exact_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}
             AS sum_charge,
           {avg_exact_sql('l_quantity')} AS avg_qty,
           {avg_exact_sql('l_extendedprice')} AS avg_price,
           {avg_exact_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: 8 aggregates over a scan+filter in "
    "ONE map-side-combinable hash aggregate on a low-cardinality key — the "
    "canonical 100 TB-friendly shape (predicate pushed to parquet, partial "
    "agg shrinks the shuffle to ~6 rows per task); derived measures are "
    "per-row double products, summed through decimal for order-independence",
)
def pricing_summary(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_exact("l_quantity").alias("sum_qty"),
            sum_exact("l_extendedprice").alias("sum_base_price"),
            sum_exact(disc_price).alias("sum_disc_price"),
            sum_exact(charge).alias("sum_charge"),
            avg_exact("l_quantity").alias("avg_qty"),
            avg_exact("l_extendedprice").alias("avg_price"),
            avg_exact("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "json_props_stats",
    """
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                 THEN 1 END) AS k_gt_50
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="semi-structured extraction: props JSON parsed ONCE per row with a "
    "typed from_json schema (JVM-side, no per-field re-parse like chained "
    "get_json_object), then aggregated — schema-on-read over a string "
    "column",
)
def json_props_stats(spark, sf_dir):
    ev = table(spark, sf_dir, "events").withColumn(
        "_p", F.from_json(F.col("props"), "k INT")
    )
    k = F.col("_p.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(k).alias("sum_k"),
            F.count(F.when(k > 50, 1)).alias("k_gt_50"),
        )
        .orderBy("event_type")
    )


@register(
    "grouped_percentiles",
    """
    SELECT event_type,
           COUNT(*) AS cnt,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="exact interpolated percentiles per group (A6 extended from global "
    "to grouped): Spark percentile() == DuckDB quantile_cont (both linear "
    "interpolation on the sorted group). Exact percentile sorts each group "
    "-- fine for bounded group count; at 100 TB swap in "
    "approx_percentile(value, p, accuracy), the mergeable KLL/GK sketch "
    "path (same shape as profile_distinct_approx's HLL companion)",
)
def grouped_percentiles(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        )
        .orderBy("event_type")
    )


@register(
    "grouping_sets_report",
    f"""
    SELECT COALESCE(event_type, 'ALL') AS event_type_l,
           COALESCE(CAST(user_id % 10 AS VARCHAR), 'ALL') AS user_bucket_l,
           COUNT(*) AS cnt,
           {sum_exact_sql('value')} AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id % 10))
    ORDER BY event_type_l, user_bucket_l
    """,
    doc="explicit GROUPING SETS (completes the rollup/cube family, SURVEY "
    "§2.4 'no grouping sets' gap): two disjoint groupings in ONE pass over "
    "the fact table — Spark expands the sets map-side and shares the scan, "
    "vs two separate groupBy jobs reading the data twice",
)
def grouping_sets_report(spark, sf_dir):
    ev = table(spark, sf_dir, "events").withColumn("ub", F.col("user_id") % 10)
    return (
        ev.groupingSets([["event_type"], ["ub"]], "event_type", "ub")
        .agg(F.count(F.lit(1)).alias("cnt"), sum_exact("value").alias("sum_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type_l"),
            F.coalesce(F.col("ub").cast("string"), F.lit("ALL")).alias(
                "user_bucket_l"
            ),
            "cnt",
            "sum_value",
        )
        .orderBy("event_type_l", "user_bucket_l")
    )


@register(
    "unpivot_melt",
    f"""
    WITH long AS (
      SELECT 'l_extendedprice' AS measure, l_extendedprice AS amount FROM lineitem
      UNION ALL
      SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT measure,
           COUNT(*) AS cnt,
           {sum_exact_sql('amount')} AS total
    FROM long
    GROUP BY measure
    ORDER BY measure
    """,
    doc="unpivot/melt (wide -> long): three measure columns melted with "
    "df.unpivot then aggregated per measure — the reshape primitive for "
    "metric-per-row layouts. Spark plans Expand (one scan, rows x3 "
    "map-side) rather than three scans; the oracle is the equivalent "
    "UNION ALL",
)
def unpivot_melt(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_discount", "l_tax"
    )
    long = li.unpivot(
        ids=[],
        values=["l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="amount",
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            sum_exact("amount").alias("total"),
        )
        .orderBy("measure")
    )


@register(
    "order_extremes",
    """
    SELECT o_orderpriority AS priority,
           arg_max(o_orderkey,
                   printf('%020.2f|%012d', o_totalprice, o_orderkey))
             AS top_order,
           arg_min(o_orderkey,
                   printf('%020.2f|%012d', o_totalprice, o_orderkey))
             AS bottom_order,
           MAX(o_totalprice) AS top_price,
           MIN(o_totalprice) AS bottom_price
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    doc="max_by/min_by (argmax aggregates): the highest/lowest-value order "
    "per priority in ONE hash aggregate — no window, no self-join, "
    "map-side combinable (the 100 TB 'row of the max' shape). Ties made "
    "impossible by construction: the ordering key is a fixed-width "
    "printf encoding of (price, orderkey), a total order both engines "
    "compare identically as strings",
)
def order_extremes(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    key = "format_string('%020.2f|%012d', o_totalprice, o_orderkey)"
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.expr(f"max_by(o_orderkey, {key})").alias("top_order"),
            F.expr(f"min_by(o_orderkey, {key})").alias("bottom_order"),
            F.max("o_totalprice").alias("top_price"),
            F.min("o_totalprice").alias("bottom_price"),
        )
        .orderBy("priority")
    )


@register(
    "null_safe_join_agg",
    """
    WITH l AS (
      SELECT NULLIF(user_id % 7, 3) AS k, value FROM events
    ),
    r AS (
      SELECT DISTINCT NULLIF(user_id % 7, 3) AS k FROM events
    )
    SELECT COALESCE(CAST(l.k AS VARCHAR), '<NULL>') AS key_label,
           COUNT(*) AS cnt
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY 1
    ORDER BY 1
    """,
    doc="null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "MATCH each other instead of silently dropping (the opposite of "
    "§2.9.2's three-valued-logic drop semantics — both behaviors are part "
    "of the engine's contract and both are under the oracle). Planned as "
    "a regular hash join: null-safe equality is still an equi-key, so no "
    "nested-loop fallback",
)
def null_safe_join_agg(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    k = F.nullif(F.col("user_id") % 7, F.lit(3))
    l = ev.select(k.alias("k"), "value")
    r = ev.select(k.alias("rk")).distinct()
    return (
        l.join(r, l["k"].eqNullSafe(r["rk"]))
        .groupBy(
            F.coalesce(F.col("k").cast("string"), F.lit("<NULL>")).alias(
                "key_label"
            )
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("key_label")
    )


@register(
    "user_event_profile",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type)
             AS types_csv
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="set aggregation per entity (collect_set): the distinct event "
    "types a user touched, emitted as a sorted CSV string so the result "
    "is order-deterministic and engine-portable. One hash aggregate; "
    "collect_set partials merge map-side and state is bounded by the "
    "type-domain cardinality, not the event count",
)
def user_event_profile(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias(
                "types_csv"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "pareto_skyline_parts",
    """
    WITH p AS (
      SELECT p_partkey, p_retailprice, p_size FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    )
    SELECT p_partkey, p_retailprice, p_size FROM p
    WHERE NOT EXISTS (
      SELECT 1 FROM p q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p_partkey
    """,
    doc="2-D Pareto skyline (cheapest-price / largest-size frontier): the "
    "multi-objective 'best tradeoff set' query. The oracle is the textbook "
    "O(n^2) NOT-EXISTS dominance test; the Spark plan is the scale shape — "
    "reduce the corpus to DISTINCT (price, size) cells (map-side combine, "
    "state bounded by the value domain, not row count), run ONE windowed "
    "running-max over the cells sorted (price asc, size desc) — a cell is "
    "on the frontier iff no preceding cell's size reaches it — then "
    "broadcast the tiny frontier back onto the scan. The only global sort "
    "touches O(cells) rows; the corpus is scanned exactly once.",
)
def pareto_skyline_parts(spark, sf_dir):
    from pyspark.sql import Window

    part = table(spark, sf_dir, "part").filter(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    )
    cells = part.select("p_retailprice", "p_size").distinct()
    w = (
        Window.orderBy(F.col("p_retailprice").asc(), F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # a preceding cell has (price < mine) OR (price = mine AND size > mine);
    # in either case its size >= mine implies it dominates me (strict in at
    # least one dim because distinct cells with equal price differ in size)
    frontier = (
        cells.withColumn("max_prev", F.max("p_size").over(w))
        .filter(F.col("max_prev").isNull() | (F.col("max_prev") < F.col("p_size")))
        .select("p_retailprice", "p_size")
    )
    return (
        part.join(F.broadcast(frontier), ["p_retailprice", "p_size"])
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )
