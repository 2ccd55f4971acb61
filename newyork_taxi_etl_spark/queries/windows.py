"""Window-function queries.

The reference uses exactly one window (W1 rank, nb:117225 (c111), covered by
``rank_in_group``). These extend the surface to the standard window family —
lead/lag/row_number/ntile and running frames — which any user of a query
engine expects (SURVEY §2.5 'no lead/lag/ntile, no frame specs' is a gap,
not a feature).

Scale note: all windows partition by user_id — the shuffle is one hash
exchange on the partition key and the sort is per-partition; no global sort.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.sources.readers import table

def _w():
    """Deterministic per-user ordering: ts then event_id tiebreak.
    (Built lazily — WindowSpec construction needs an active session.)"""
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


@register(
    "window_lead_lag",
    """
    SELECT event_id,
           user_id,
           LAG(value) OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           CAST(ROW_NUMBER() OVER w AS INT) AS rn
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
    doc="lag/lead/row_number over per-user event sequences (extension of W1)",
)
def window_lead_lag(spark, sf_dir):
    df = table(spark, sf_dir, "events")
    return (
        df.select(
            "event_id",
            "user_id",
            F.lag("value").over(_w()).alias("prev_value"),
            F.lead("value").over(_w()).alias("next_value"),
            F.row_number().over(_w()).alias("rn"),
        )
        .orderBy("event_id")
    )


@register(
    "window_running_sum",
    """
    SELECT event_id,
           user_id,
           CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS VARCHAR) AS DOUBLE) AS running_value
    FROM events
    ORDER BY event_id
    """,
    doc="running-sum frame (ROWS UNBOUNDED PRECEDING..CURRENT ROW); "
    "decimal-exact so partial order can't skew doubles",
)
def window_running_sum(spark, sf_dir):
    df = table(spark, sf_dir, "events")
    w = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(38,12)")).over(w).cast("double").alias(
            "running_value"
        ),
    ).orderBy("event_id")


@register(
    "window_range_frame",
    """
    SELECT event_id,
           user_id,
           CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) OVER (
                  PARTITION BY user_id
                  ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
                AS VARCHAR) AS DOUBLE) AS trailing_10min_sum
    FROM events
    ORDER BY event_id
    """,
    doc="time-RANGE frame: per-user trailing-10-minute sum (RANGE 600 "
    "PRECEDING on the epoch-second key — a value-based frame, not a row "
    "count; peers at the same second share the frame in both engines). "
    "Decimal-exact sum so partition order can't skew doubles; one hash "
    "exchange on user_id + per-partition sort, no global sort",
)
def window_range_frame(spark, sf_dir):
    df = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-600, 0)
    )
    return df.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(38,12)"))
        .over(w)
        .cast("double")
        .alias("trailing_10min_sum"),
    ).orderBy("event_id")


@register(
    "window_ntile_dense_rank",
    """
    SELECT event_id,
           CAST(NTILE(4) OVER (PARTITION BY event_type ORDER BY value, event_id)
                AS INT) AS quartile,
           CAST(DENSE_RANK() OVER (PARTITION BY event_type ORDER BY user_id)
                AS INT) AS user_dense_rank
    FROM events
    ORDER BY event_id
    """,
    doc="ntile + dense_rank per event_type",
)
def window_ntile_dense_rank(spark, sf_dir):
    df = table(spark, sf_dir, "events")
    w_val = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_usr = Window.partitionBy("event_type").orderBy("user_id")
    return df.select(
        "event_id",
        F.ntile(4).over(w_val).alias("quartile"),
        F.dense_rank().over(w_usr).alias("user_dense_rank"),
    ).orderBy("event_id")


@register(
    "batch_sessionize",
    """
    WITH t AS (
      SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
      FROM events
    ),
    g AS (
      SELECT user_id, event_id, sec,
             CASE WHEN LAG(sec) OVER w IS NULL
                    OR sec - LAG(sec) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    s AS (
      SELECT user_id, sec,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM g
    )
    SELECT user_id,
           CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           MIN(sec) AS start_sec,
           MAX(sec) AS end_sec
    FROM s
    GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
    """,
    doc="batch sessionization (30-min inactivity gap): lag -> new-session "
    "flag -> running-sum session index -> per-session rollup. The batch "
    "twin of session_window_agg's streaming session_window: same gap "
    "semantics, expressed as two windows + one aggregate over a single "
    "hash exchange on user_id (the windows and the group-by share the "
    "partitioning, so Spark plans ONE shuffle)",
)
def batch_sessionize(spark, sf_dir):
    df = table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = Window.partitionBy("user_id").orderBy(sec, "event_id")
    gap = sec - F.lag(sec).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy(sec, "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = df.select(
        "user_id",
        sec.alias("sec"),
        F.sum(new_sess).over(run).alias("session_idx"),
    )
    return (
        s.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("sec").alias("start_sec"),
            F.max("sec").alias("end_sec"),
        )
        .orderBy("user_id", "session_idx")
    )


@register(
    "window_distribution_funcs",
    """
    SELECT event_id,
           user_id,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           first_value(value) OVER w AS first_val,
           last_value(value) OVER (PARTITION BY user_id
               ORDER BY value ASC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_val
    FROM events
    WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id)
    ORDER BY user_id, pct_rank, event_id
    LIMIT 200
    """,
    doc="distribution window functions (completes SURVEY §2.5 beyond "
    "rank/lead/lag/ntile): percent_rank and cume_dist of each event's "
    "value within its user, plus first_value over the default running "
    "frame and last_value over an explicit UNBOUNDED FOLLOWING frame — "
    "the frame-semantics trap this query pins: last_value over the "
    "DEFAULT frame (ends at CURRENT ROW) is just the current row, so "
    "the explicit full frame is required and both engines must agree on "
    "it. Ordering ties broken by event_id, so every ranking value is "
    "deterministic. One hash exchange on user_id; per-partition sort",
)
def window_distribution_funcs(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.select(
            "event_id",
            "user_id",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.first("value").over(w).alias("first_val"),
            F.last("value").over(w_full).alias("last_val"),
        )
        .orderBy("user_id", "pct_rank", "event_id")
        .limit(200)
    )


@register(
    "window_locf_fill",
    """
    WITH gapped AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
      FROM events
    ),
    filled AS (
      SELECT user_id, v,
             last_value(v IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
      FROM gapped
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gaps,
           CAST(SUM(CASE WHEN fv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leading_unfilled,
           ROUND(CAST(CAST(SUM(CAST(CAST(fv AS VARCHAR) AS DECIMAL(38,12)))
                           AS VARCHAR) AS DOUBLE), 6) AS sum_filled
    FROM filled
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="LOCF forward fill (last-observation-carried-forward, the standard "
    "time-series gap repair) via IGNORE NULLS window semantics: 'click' "
    "rows are treated as gaps and take the latest preceding non-null "
    "value within the user's (ts, event_id)-ordered history — "
    "F.last(ignorenulls=True) over a running frame in Spark, "
    "last_value(... IGNORE NULLS) in the oracle; rows before a user's "
    "first observation stay null and are counted separately.  Per-user "
    "accounting (gap count, unfilled-prefix count, decimal-exact sum of "
    "the filled series) collapses the output to O(users).  Scale: one "
    "hash shuffle on user_id and a per-user sort — the same bound as any "
    "per-entity ordered scan; the running frame is single-pass, no "
    "re-scan per gap.",
)
def window_locf_fill(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gapped = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    filled = gapped.select(
        "user_id",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("fv"),
    )
    return (
        filled.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_gaps"),
            F.sum(F.when(F.col("fv").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_leading_unfilled"),
            F.round(
                F.sum(F.col("fv").cast("decimal(38,12)")).cast("double"), 6
            ).alias("sum_filled"),
        )
        .orderBy("user_id")
    )
