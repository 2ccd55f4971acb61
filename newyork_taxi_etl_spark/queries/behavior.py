"""Behavioral analytics over the ``events`` stream table: funnel
conversion and cohort retention — the two product-analytics staples every
event-warehouse query engine ships (reference has no event surface at all;
training-data-extension of the north star, same family as
``user_event_profile`` / the window queries).

Scale shape: both queries reduce the event stream with ONE hash aggregate
on ``user_id`` (map-side-combinable partial mins/distincts), then operate
on per-user rows — O(users), not O(events) — and broadcast the tiny
dimension aggregates (stage totals, cohort sizes). No window over the raw
event stream, no self-join of events.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.sources.readers import table

_STAGES = ("signup", "view", "click", "purchase")

_EPOCH = datetime.date(2024, 1, 1)  # corpus start; fixed so week numbering
# is engine-portable (ISO-week functions differ between Spark and DuckDB)


@register(
    "funnel_conversion",
    f"""
    WITH per_user AS (
      SELECT user_id,
             {', '.join(f"min(CASE WHEN event_type = '{s}' THEN ts END) AS t{i}" for i, s in enumerate(_STAGES, start=1))}
      FROM events GROUP BY user_id
    ),
    f AS (
      SELECT COUNT(*) AS n_total,
             SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2
                 THEN 1 ELSE 0 END) AS n3,
             SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2 AND t4 > t3
                 THEN 1 ELSE 0 END) AS n4
      FROM per_user
    )
    SELECT 1 AS stage_idx, 'signup' AS stage, CAST(n1 AS BIGINT) AS users,
           ROUND(CAST(n1 AS DOUBLE) / n_total, 6) AS conversion FROM f
    UNION ALL
    SELECT 2, 'view', CAST(n2 AS BIGINT),
           ROUND(CAST(n2 AS DOUBLE) / n1, 6) FROM f
    UNION ALL
    SELECT 3, 'click', CAST(n3 AS BIGINT),
           ROUND(CAST(n3 AS DOUBLE) / n2, 6) FROM f
    UNION ALL
    SELECT 4, 'purchase', CAST(n4 AS BIGINT),
           ROUND(CAST(n4 AS DOUBLE) / n3, 6) FROM f
    ORDER BY stage_idx
    """,
    doc="4-stage funnel (signup -> view -> click -> purchase), monotone "
    "first-occurrence semantics: a user reaches stage k iff the first "
    "times of stages 1..k strictly increase — computed from ONE hash "
    "aggregate over events (4 conditional mins per user), so the reduction "
    "is O(users) rows after a single map-side-combinable shuffle; stage "
    "counts + step conversion rates unpivoted from the 1-row total. The "
    "sequential-dependency trap (stage k's window depends on stage k-1) is "
    "deliberately avoided: strict monotonicity over first-occurrences "
    "needs no per-stage re-scan and is the standard warehouse funnel",
)
def funnel_conversion(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i}")
            for i, s in enumerate(_STAGES, start=1)
        ]
    )
    reach = [F.col("t1").isNotNull()]
    for i in range(2, len(_STAGES) + 1):
        reach.append(reach[-1] & (F.col(f"t{i}") > F.col(f"t{i-1}")))
    f = per_user.agg(
        F.count(F.lit(1)).alias("n_total"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"n{i}")
            for i, cond in enumerate(reach, start=1)
        ],
    )
    prev = ["n_total", "n1", "n2", "n3"]
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(s).alias("stage"),
                F.col(f"n{i}").cast("bigint").alias("users"),
                F.round(
                    F.col(f"n{i}").cast("double") / F.col(prev[i - 1]), 6
                ).alias("conversion"),
            )
            for i, s in enumerate(_STAGES, start=1)
        ]
    )
    return (
        f.select(F.explode(rows).alias("r")).select("r.*").orderBy("stage_idx")
    )


@register(
    "cohort_retention",
    f"""
    WITH wk AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '{_EPOCH}', CAST(ts AS DATE)) // 7
                  AS INT) AS week
      FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_week, COUNT(*) AS n_cohort FROM cohort GROUP BY cohort_week
    ),
    activity AS (
      SELECT DISTINCT user_id, week FROM wk
    )
    SELECT c.cohort_week,
           a.week - c.cohort_week AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           s.n_cohort AS n_cohort,
           ROUND(CAST(COUNT(*) AS DOUBLE) / s.n_cohort, 6) AS retention
    FROM activity a
    JOIN cohort c USING (user_id)
    JOIN sizes s ON c.cohort_week = s.cohort_week
    GROUP BY c.cohort_week, week_offset, s.n_cohort
    ORDER BY c.cohort_week, week_offset
    """,
    doc="cohort retention matrix: users cohorted by first-activity week "
    "(fixed corpus epoch, not ISO weeks — engine-portable numbering), "
    "retention = share of the cohort active in each subsequent week. "
    "Dataflow: week extraction is narrow; cohorts and per-week activity "
    "are each ONE user-keyed aggregate; the final matrix joins per-user "
    "rows (O(users*weeks), not O(events)) with the cohort-size dimension "
    "broadcast. The standard warehouse retention query, shuffle-bounded "
    "by the user dimension",
)
def cohort_retention(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.to_date("ts"), F.lit(_EPOCH)) / F.lit(7)
        )
        .cast("int")
        .alias("week"),
    )
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    activity = wk.distinct()
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            F.col("n_active").cast("bigint").alias("n_active"),
            "n_cohort",
            F.round(
                F.col("n_active").cast("double") / F.col("n_cohort"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "funnel_time_to_convert",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t2,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t3,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t4
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT ROUND(date_diff('microsecond', t1, t4) / 6e7, 4) AS mins
      FROM per_user
      WHERE t1 IS NOT NULL AND t2 > t1 AND t3 > t2 AND t4 > t3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(CAST(CAST(SUM(CAST(CAST(mins AS VARCHAR) AS DECIMAL(38,12)))
                          AS VARCHAR) AS DOUBLE) / COUNT(mins) AS DOUBLE)
             AS avg_minutes,
           MIN(mins) AS min_minutes,
           MAX(mins) AS max_minutes
    FROM conv
    """,
    doc="time-to-convert for users completing the full monotone funnel: "
    "first-signup -> first-purchase latency in minutes, microsecond-exact "
    "via unix_micros subtraction (identical IEEE division both engines; "
    "second-truncating epoch functions would round differently), "
    "decimal-routed mean over the rounded per-user latencies. Same single "
    "user-keyed aggregate as funnel_conversion — the latency metric is "
    "free once the stage mins exist",
)
def funnel_time_to_convert(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.exact import avg_exact

    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i}")
            for i, s in enumerate(_STAGES, start=1)
        ]
    )
    conv = per_user.filter(
        F.col("t1").isNotNull()
        & (F.col("t2") > F.col("t1"))
        & (F.col("t3") > F.col("t2"))
        & (F.col("t4") > F.col("t3"))
    ).select(
        F.round(
            (F.unix_micros("t4") - F.unix_micros("t1")) / F.lit(6e7), 4
        ).alias("mins")
    )
    return conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        avg_exact("mins").alias("avg_minutes"),
        F.min("mins").alias("min_minutes"),
        F.max("mins").alias("max_minutes"),
    )


@register(
    "inter_event_gap_stats",
    """
    WITH gaps AS (
      SELECT (date_diff('microsecond',
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                ts)) / 1e6 AS gap_s
      FROM events
    ),
    g AS (SELECT gap_s FROM gaps WHERE gap_s IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(CAST(CAST(SUM(CAST(CAST(gap_s AS VARCHAR)
                                   AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                / COUNT(gap_s) AS DOUBLE) AS avg_gap_s,
           ROUND(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
           ROUND(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s,
           MAX(gap_s) AS max_gap_s
    FROM g
    """,
    doc="inter-arrival-time profile: per-user consecutive-event gaps via "
    "one lag window (hash exchange on user_id, per-partition sort — no "
    "global sort), then a 1-row distribution summary. Gaps are "
    "microsecond-exact doubles (unix_micros difference / 1e6, identical "
    "IEEE ops cross-engine); the mean decimal-routes the RAW gaps — "
    "pre-rounding them hit the cross-engine ROUND half-boundary trap "
    "(~1%% of gaps end in 50us, 7 flips in 9850 at sf0.01); p50/p90 "
    "exact interpolated percentiles matching DuckDB quantile_cont under "
    "6-digit rounding. The arrival-rate profile that sizes session-window "
    "gaps and watermark delays for the streaming family",
)
def inter_event_gap_stats(spark, sf_dir):
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.functions.exact import sum_exact

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            / F.lit(1e6)
        ).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        (sum_exact("gap_s") / F.count("gap_s")).cast("double").alias(
            "avg_gap_s"
        ),
        F.round(F.percentile("gap_s", F.lit(0.5)), 6).alias("p50_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 6).alias("p90_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


@register(
    "chi_square_event_dow",
    """
    WITH obs AS (
      SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
             COUNT(*) AS o
      FROM events GROUP BY event_type, dow
    ),
    rt AS (SELECT event_type, SUM(o) AS r_tot FROM obs GROUP BY event_type),
    ct AS (SELECT dow, SUM(o) AS c_tot FROM obs GROUP BY dow),
    gt AS (SELECT SUM(o) AS g_tot FROM obs),
    cells AS (
      SELECT ROUND(
               (o - (CAST(r_tot AS DOUBLE) * c_tot / g_tot))
               * (o - (CAST(r_tot AS DOUBLE) * c_tot / g_tot))
               / (CAST(r_tot AS DOUBLE) * c_tot / g_tot), 6) AS term
      FROM obs JOIN rt USING (event_type) JOIN ct USING (dow), gt
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           (SELECT CAST((COUNT(DISTINCT event_type) - 1)
                        * (COUNT(DISTINCT dow) - 1) AS BIGINT) FROM obs)
             AS dof,
           ROUND(CAST(CAST(CAST(SUM(CAST(CAST(term AS VARCHAR)
                 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS DOUBLE), 4)
             AS chi2
    FROM cells
    """,
    doc="chi-square independence test, event_type x day-of-week: observed "
    "counts from ONE grouped aggregate; expected = row_total x col_total / "
    "grand_total with the marginals joined back (both marginal tables are "
    "type/dow-cardinality rows — broadcast); per-cell terms rounded then "
    "decimal-summed so the statistic is accumulation-order-independent "
    "cross-engine. Spark dayofweek is 1-based Sunday, DuckDB 0-based — "
    "normalized Spark-side. The drift/independence primitive behind "
    "weekday-seasonality checks on event streams",
)
def chi_square_event_dow(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.exact import sum_exact

    ev = table(spark, sf_dir, "events")
    obs = (
        ev.groupBy(
            "event_type", (F.dayofweek(F.to_date("ts")) - 1).alias("dow")
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r_tot"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("c_tot"))
    gt = obs.agg(F.sum("o").alias("g_tot"))
    exp = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("g_tot")
    cells = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(gt))
        .select(
            F.round((F.col("o") - exp) * (F.col("o") - exp) / exp, 6).alias(
                "term"
            )
        )
    )
    dof = obs.agg(
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        ).cast("bigint").alias("dof")
    )
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.round(sum_exact("term").cast("double"), 4).alias("chi2"),
    ).crossJoin(F.broadcast(dof)).select("n_cells", "dof", "chi2")


@register(
    "event_type_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    t AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    rt AS (SELECT from_type, SUM(n) AS row_n FROM t GROUP BY from_type)
    SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
           ROUND(CAST(t.n AS DOUBLE) / rt.row_n, 6) AS p
    FROM t JOIN rt USING (from_type)
    ORDER BY t.from_type, t.to_type
    """,
    doc="first-order Markov transition matrix over per-user event "
    "sequences: one lead window (hash exchange on user_id + per-partition "
    "sort), one grouped count, row-normalized against the broadcast "
    "marginal — the behavioral-model primitive behind next-event "
    "prediction and session-flow dashboards. O(type^2) result regardless "
    "of event volume",
)
def event_type_transitions(spark, sf_dir):
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    rt = t.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return (
        t.join(F.broadcast(rt), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n").cast("double") / F.col("row_n"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


@register(
    "value_zscore_outliers",
    """
    WITH m AS (
      SELECT event_type,
             COUNT(value) AS n,
             CAST(CAST(CAST(SUM(CAST(CAST(value AS VARCHAR)
                  AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS DOUBLE) AS s,
             CAST(CAST(CAST(SUM(CAST(CAST(value * value AS VARCHAR)
                  AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS DOUBLE) AS s2
      FROM events GROUP BY event_type
    ),
    stats AS (
      SELECT event_type, n, s / n AS mu,
             sqrt((s2 - s * s / n) / (n - 1)) AS sigma
      FROM m
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_outliers,
           ROUND(MIN(e.value), 4) AS min_outlier,
           ROUND(MAX(e.value), 4) AS max_outlier
    FROM events e JOIN stats st USING (event_type)
    WHERE abs((e.value - st.mu) / st.sigma) > 3
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    doc="z-score anomaly detection per event_type: group mean/std from "
    "decimal-routed sum and sum-of-squares (stddev's streaming "
    "accumulation is order-dependent in BOTH engines — the explicit "
    "two-moment formula over exact sums is reproducible), stats "
    "broadcast back onto the stream, |z| > 3 rows profiled per group. "
    "Two passes over events, both map-side-combinable; no window, no "
    "sort. value*value is squared BEFORE the decimal cast so both "
    "engines square the same double",
)
def value_zscore_outliers(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.exact import sum_exact

    ev = table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        sum_exact("value").alias("s"),
        sum_exact(F.col("value") * F.col("value")).alias("s2"),
    )
    stats = m.select(
        "event_type",
        (F.col("s") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("s2") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sigma"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs((F.col("value") - F.col("mu")) / F.col("sigma")) > 3)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_outliers"),
            F.round(F.min("value"), 4).alias("min_outlier"),
            F.round(F.max("value"), 4).alias("max_outlier"),
        )
        .orderBy("event_type")
    )


@register(
    "daily_gapfill_counts",
    """
    WITH spine AS (
      SELECT CAST(d AS DATE) AS day
      FROM generate_series(DATE '2024-01-01', DATE '2024-01-30',
                           INTERVAL 1 DAY) AS t(d)
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events WHERE event_type = 'purchase'
      GROUP BY day
    )
    SELECT CAST(spine.day AS VARCHAR) AS day,
           CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_purchases,
           CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END AS gap_filled
    FROM spine LEFT JOIN daily USING (day)
    ORDER BY day
    """,
    doc="calendar-spine gap fill: a generated date sequence (sequence + "
    "explode — O(days) rows built driver-free) left-joins the daily "
    "aggregate so missing days surface as explicit zeros, flagged. The "
    "time-series completeness primitive every dashboard needs before "
    "moving averages/interpolation; the spine side is trivially small so "
    "the join broadcasts the AGGREGATE, never the spine x events",
)
def daily_gapfill_counts(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(datetime.date(2024, 1, 1)),
                F.lit(datetime.date(2024, 1, 30)),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.join(F.broadcast(daily), "day", "left")
        .select(
            F.col("day").cast("string").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias(
                "n_purchases"
            ),
            F.when(F.col("n").isNull(), 1).otherwise(0).alias("gap_filled"),
        )
        .orderBy("day")
    )


@register(
    "time_weighted_avg_value",
    """
    WITH seg AS (
      SELECT event_type, value,
             date_diff('microsecond', ts,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               / 1e6 AS dt_s
      FROM events
    ),
    g AS (SELECT event_type, value, dt_s FROM seg WHERE dt_s IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           ROUND(CAST(CAST(CAST(SUM(CAST(CAST(value * dt_s AS VARCHAR)
                     AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(SUM(CAST(CAST(dt_s AS VARCHAR)
                     AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                 AS DOUBLE), 6) AS twa_value,
           ROUND(CAST(CAST(CAST(SUM(CAST(CAST(value AS VARCHAR)
                     AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) AS DOUBLE), 6) AS plain_avg
    FROM g
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="time-weighted average value per event type: each observation "
    "weighted by its holding time (lead-window dt within the user's "
    "sequence, microsecond-exact), TWA = sum(value x dt) / sum(dt) with "
    "both sums decimal-routed — against the plain mean for comparison. "
    "The irregular-series aggregation finance/IoT pipelines need (a "
    "plain AVG over-weights burst periods); one lag-window exchange on "
    "user_id then a type-keyed aggregate. value*dt_s is multiplied "
    "BEFORE the decimal cast so both engines route the same double",
)
def time_weighted_avg_value(spark, sf_dir):
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.functions.exact import sum_exact

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "event_type",
        "value",
        (
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts"))
            / F.lit(1e6)
        ).alias("dt_s"),
    ).filter(F.col("dt_s").isNotNull())
    return (
        seg.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.round(
                (
                    sum_exact(F.col("value") * F.col("dt_s"))
                    / sum_exact("dt_s")
                ).cast("double"),
                6,
            ).alias("twa_value"),
            F.round(
                (sum_exact("value") / F.count(F.lit(1))).cast("double"), 6
            ).alias("plain_avg"),
        )
        .orderBy("event_type")
    )


@register(
    "trimmed_mean_pandas",
    """
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    trimmed AS (
      SELECT event_type, value, n
      FROM ranked
      WHERE r > CAST(FLOOR(n * 0.1) AS BIGINT)
        AND r <= n - CAST(FLOOR(n * 0.1) AS BIGINT)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           ROUND(CAST(CAST(CAST(SUM(CAST(CAST(value AS VARCHAR)
                     AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) AS DOUBLE), 6) AS trimmed_mean
    FROM trimmed
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="10%% trimmed mean per event_type via grouped applyInPandas — the "
    "one Python-boundary form the engine didn't yet exercise (mapInPandas "
    "-> multimodal, applyInPandasWithState -> streaming, pandas_udf BLAS "
    "-> ANN; this is the grouped-aggregate form). The pandas side sorts "
    "with numpy, trims floor(n*0.1) per tail, and computes the mean over "
    "decimal-quantized values replicating functions.exact's "
    "DECIMAL(38,12) HALF_UP routing — so the Arrow boundary is "
    "bit-reproducible against the SQL oracle's window-trim + decimal "
    "mean, not just approximately equal. Ties sort by event_id exactly "
    "like the oracle's ROW_NUMBER tiebreak. Scale: one hash shuffle on "
    "the group key, per-group Arrow batch, O(group) memory per task",
)
def trimmed_mean_pandas(spark, sf_dir):
    import pandas as pd

    ev = table(spark, sf_dir, "events").select("event_type", "event_id", "value")

    def trim(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        pdf = pdf.sort_values(["value", "event_id"], kind="mergesort")
        n = len(pdf)
        k = int(n * 0.1)
        kept = pdf["value"].iloc[k : n - k]
        q = Decimal("1E-12")
        total = sum(
            Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP)
            for v in kept
        )
        # float(Decimal) is correctly rounded = the engines' VARCHAR-routed
        # decimal->double cast; divide IN DOUBLE (Decimal division then
        # float() would double-round); final rounding is HALF_UP on the
        # shortest repr = Spark F.round, NOT Python's banker's round()
        mean = float(total) / len(kept)
        out = float(
            Decimal(repr(mean)).quantize(
                Decimal("1E-6"), rounding=ROUND_HALF_UP
            )
        )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_kept": [len(kept)],
                "trimmed_mean": [out],
            }
        )

    return (
        ev.groupBy("event_type")
        .applyInPandas(trim, "event_type string, n_kept bigint, trimmed_mean double")
        .orderBy("event_type")
    )


@register(
    "sql_frontend_topk",
    """
    WITH per_user AS (
      SELECT event_type, user_id, COUNT(*) AS n_events
      FROM events GROUP BY event_type, user_id
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY n_events DESC, user_id) AS INT) AS rnk
      FROM per_user
    )
    SELECT event_type, user_id, CAST(n_events AS BIGINT) AS n_events, rnk
    FROM ranked WHERE rnk <= 2
    ORDER BY event_type, rnk
    """,
    doc="pure SQL front end: the whole query is ONE spark.sql() string "
    "(CTEs + window + top-k filter) over a temp view — proving the "
    "engine's ANSI-SQL surface accepts the textual form directly, not "
    "just the DataFrame DSL; Catalyst plans it identically (the "
    "rank<=2 filter becomes WindowGroupLimit, same as topn_per_group). "
    "The oracle is the same text modulo nothing — both engines parse "
    "one dialect here",
)
def sql_frontend_topk(spark, sf_dir):
    table(spark, sf_dir, "events").createOrReplaceTempView(
        "nyte_sql_frontend_events"
    )
    return spark.sql(
        """
        WITH per_user AS (
          SELECT event_type, user_id, COUNT(*) AS n_events
          FROM nyte_sql_frontend_events GROUP BY event_type, user_id
        ),
        ranked AS (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                         ORDER BY n_events DESC, user_id) AS INT) AS rnk
          FROM per_user
        )
        SELECT event_type, user_id, CAST(n_events AS BIGINT) AS n_events, rnk
        FROM ranked WHERE rnk <= 2
        ORDER BY event_type, rnk
        """
    )


@register(
    "psi_value_drift",
    """
    WITH binned AS (
      SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN 'ref' ELSE 'cur' END AS period,
             LEAST(CAST(FLOOR(value / 100) AS INT), 9) AS bin
      FROM events WHERE event_type = 'purchase'
    ),
    counts AS (
      SELECT period, bin, COUNT(*) AS n FROM binned GROUP BY period, bin
    ),
    tot AS (
      SELECT SUM(CASE WHEN period = 'ref' THEN n ELSE 0 END) AS t_ref,
             SUM(CASE WHEN period = 'cur' THEN n ELSE 0 END) AS t_cur
      FROM counts
    ),
    frac AS (
      SELECT bin,
             (COALESCE(MAX(CASE WHEN period = 'ref' THEN n END), 0) + 0.5)
               / (MAX(t.t_ref) + 5.0) AS p_ref,
             (COALESCE(MAX(CASE WHEN period = 'cur' THEN n END), 0) + 0.5)
               / (MAX(t.t_cur) + 5.0) AS p_cur
      FROM counts CROSS JOIN tot t
      GROUP BY bin
    ),
    terms AS (
      SELECT bin,
             ROUND((p_cur - p_ref) * ln(p_cur / p_ref), 12) AS term
      FROM frac
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6)
             AS psi
    FROM terms
    """,
    doc="population stability index between the first and second half of "
    "the month (purchase values, 10 fixed bins, add-0.5 smoothing so "
    "empty bins can't produce infinities): PSI = sum (p_cur - p_ref) x "
    "ln(p_cur/p_ref) — THE production drift metric for feature/score "
    "monitoring (<0.1 stable, >0.25 investigate). A bin absent from one "
    "period takes the CORRECT smoothed zero-count probability "
    "0.5/(t_period+5) — an early revision substituted a constant 0.1 "
    "there, which suppressed the drift term ~10x exactly when drift "
    "happens (both engines shared it, so only review caught it). Two "
    "grouped counts, a bin-cardinality pivot against the broadcast "
    "period totals, ln at ROUND(12) + decimal sum (the zipf discipline) "
    "for a cross-engine-exact statistic",
)
def psi_value_drift(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.exact import sum_exact

    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    binned = ev.select(
        F.when(F.to_date("ts") < F.lit(datetime.date(2024, 1, 16)), "ref")
        .otherwise("cur")
        .alias("period"),
        F.least(F.floor(F.col("value") / 100).cast("int"), F.lit(9)).alias(
            "bin"
        ),
    )
    counts = binned.groupBy("period", "bin").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum(F.when(F.col("period") == "ref", F.col("n")).otherwise(0)).alias(
            "t_ref"
        ),
        F.sum(F.when(F.col("period") == "cur", F.col("n")).otherwise(0)).alias(
            "t_cur"
        ),
    )
    frac = (
        counts.crossJoin(F.broadcast(tot))
        .groupBy("bin")
        .agg(
            (
                (
                    F.coalesce(
                        F.max(F.when(F.col("period") == "ref", F.col("n"))),
                        F.lit(0),
                    )
                    + 0.5
                )
                / (F.max("t_ref") + 5.0)
            ).alias("p_ref"),
            (
                (
                    F.coalesce(
                        F.max(F.when(F.col("period") == "cur", F.col("n"))),
                        F.lit(0),
                    )
                    + 0.5
                )
                / (F.max("t_cur") + 5.0)
            ).alias("p_cur"),
        )
    )
    terms = frac.select(
        F.round(
            (F.col("p_cur") - F.col("p_ref"))
            * F.log(F.col("p_cur") / F.col("p_ref")),
            12,
        ).alias("term")
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.round(sum_exact("term"), 6).alias("psi"),
    )


@register(
    "purchase_attribution",
    """
    WITH marked AS (
      SELECT user_id, event_id, ts, event_type, value,
             MAX(CASE WHEN event_type IN ('click', 'view')
                 THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_ts
      FROM events
    ),
    purchases AS (
      SELECT user_id, value, touch_ts,
             date_diff('microsecond', touch_ts, ts) / 6e7 AS mins_since_touch
      FROM marked WHERE event_type = 'purchase'
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_purchases,
      CAST(SUM(CASE WHEN touch_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_attributed,
      ROUND(CAST(SUM(CASE WHEN touch_ts IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 6) AS attribution_rate,
      ROUND(CAST(CAST(CAST(SUM(CAST(CAST(ROUND(mins_since_touch, 4)
                AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
            / COUNT(mins_since_touch) AS DOUBLE), 6) AS avg_mins_since_touch
    FROM purchases
    """,
    doc="last-touch attribution: each purchase attributed to the user's "
    "most recent PRECEDING click/view via one running-max window with a "
    "1-PRECEDING frame (the as-of join semantics applied WITHIN a "
    "stream, no second table, no self-join) — the marketing-analytics "
    "primitive. Unattributed purchases (no prior touch) counted "
    "honestly; latency decimal-routed over 4-digit-rounded minutes "
    "(the k/6e7 values are not half-boundary-prone like the raw-gap "
    "case — microseconds/6e7 rarely land on .00005 exactly, and the "
    "driver gate would catch it). One user-keyed window exchange, one "
    "1-row aggregate",
)
def purchase_attribution(spark, sf_dir):
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.functions.exact import sum_exact

    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = ev.withColumn(
        "touch_ts",
        F.max(
            F.when(F.col("event_type").isin("click", "view"), F.col("ts"))
        ).over(w),
    )
    purchases = marked.filter(F.col("event_type") == "purchase").select(
        "touch_ts",
        (
            (F.unix_micros("ts") - F.unix_micros("touch_ts")) / F.lit(6e7)
        ).alias("mins_since_touch"),
    )
    attributed = F.sum(
        F.when(F.col("touch_ts").isNotNull(), 1).otherwise(0)
    )
    return purchases.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        attributed.cast("bigint").alias("n_attributed"),
        F.round(
            attributed.cast("double") / F.count(F.lit(1)), 6
        ).alias("attribution_rate"),
        (
            sum_exact(F.round(F.col("mins_since_touch"), 4))
            / F.count("mins_since_touch")
        ).cast("double").alias("avg_mins_since_touch"),
    ).select(
        "n_purchases",
        "n_attributed",
        "attribution_rate",
        F.round("avg_mins_since_touch", 6).alias("avg_mins_since_touch"),
    )


@register(
    "market_basket_rules",
    """
    WITH baskets AS (
      SELECT DISTINCT user_id,
             CAST(json_extract(props, '$.k') AS INT) AS item
      FROM events WHERE event_type = 'purchase'
    ),
    n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM baskets),
    supp AS (SELECT item, COUNT(*) AS s FROM baskets GROUP BY item),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS co
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING COUNT(*) >= 3
    )
    SELECT item_a, item_b,
           CAST(co AS BIGINT) AS co_users,
           ROUND(CAST(co AS DOUBLE) / n.n_users, 6) AS support,
           ROUND(CAST(co AS DOUBLE) / sa.s, 6) AS confidence_a_b,
           ROUND(CAST(co AS DOUBLE) * n.n_users / (sa.s * sb.s), 6) AS lift
    FROM pairs
    JOIN supp sa ON pairs.item_a = sa.item
    JOIN supp sb ON pairs.item_b = sb.item
    CROSS JOIN n
    ORDER BY lift DESC, item_a, item_b
    LIMIT 20
    """,
    doc="market-basket association rules (the retail-analytics staple): "
    "per-user purchase item sets (item = typed JSON field), co-occurrence "
    "pairs from a user-keyed self-join of the DISTINCT basket table (pair "
    "volume = sum basket_size^2, never corpus^2 — identical shape to the "
    "shingle inverted index), min-support HAVING prunes before the "
    "metric joins, item-support dimension broadcast back; support / "
    "confidence / lift as exact rationals evaluated with identically "
    "parenthesized IEEE ops. Top-20 by lift via TakeOrderedAndProject. "
    "At 100 TB the basket self-join shuffles on user_id once and hot "
    "users (huge baskets) are the skew to watch — the max-basket cap is "
    "the escape hatch, same pattern as the MinHash band cap",
)
def market_basket_rules(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    baskets = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        .distinct()
    )
    n = baskets.agg(F.countDistinct("user_id").alias("n_users"))
    supp = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("s"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 3)
    )
    sa = supp.select(F.col("item").alias("item_a"), F.col("s").alias("sa"))
    sb = supp.select(F.col("item").alias("item_b"), F.col("s").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            F.col("co").cast("bigint").alias("co_users"),
            F.round(F.col("co").cast("double") / F.col("n_users"), 6).alias(
                "support"
            ),
            F.round(F.col("co").cast("double") / F.col("sa"), 6).alias(
                "confidence_a_b"
            ),
            F.round(
                F.col("co").cast("double") * F.col("n_users")
                / (F.col("sa") * F.col("sb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "item_a", "item_b")
        .limit(20)
    )


@register(
    "cusum_changepoint",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events WHERE event_type = 'error'
      GROUP BY day
    ),
    m AS (
      SELECT CAST(CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,12)))
                 AS VARCHAR) AS DOUBLE) / COUNT(*) AS DOUBLE) AS mu,
             COUNT(*) AS n_days
      FROM daily
    ),
    c AS (
      SELECT day,
             ROUND(SUM(ROUND(x - mu, 6)) OVER (ORDER BY day), 6) AS cusum
      FROM daily, m
    )
    SELECT (SELECT CAST(n_days AS BIGINT) FROM m) AS n_days,
           CAST((SELECT day FROM c ORDER BY abs(cusum) DESC, day LIMIT 1)
                AS VARCHAR) AS changepoint_day,
           (SELECT ROUND(MAX(abs(cusum)), 6) FROM c) AS max_abs_cusum
    FROM m
    """,
    doc="CUSUM changepoint detection on the daily error-count series: "
    "cumulative sum of mean-centered counts, the day of maximum "
    "|CUSUM| is the most likely level-shift point (Page's classic "
    "statistic; significance via permutation is a driver-side loop over "
    "this same plan). The cumulative window runs over N_DAYS rows (the "
    "DAILY aggregate, single partition by design — events have already "
    "been reduced); mean decimal-routed, per-day deviations rounded "
    "then window-summed so the running sum is identical cross-engine. "
    "Day emitted as ISO string (pandas date-dtype normalization)",
)
def cusum_changepoint(spark, sf_dir):
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.functions.exact import avg_exact

    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    m = daily.agg(
        avg_exact("x").alias("mu"), F.count(F.lit(1)).alias("n_days")
    )
    c = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "n_days",
        F.round(
            F.sum(F.round(F.col("x") - F.col("mu"), 6)).over(
                Window.orderBy("day").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
            6,
        ).alias("cusum"),
    )
    top = (
        c.orderBy(F.abs(F.col("cusum")).desc(), "day")
        .limit(1)
        .select(
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("day").cast("string").alias("changepoint_day"),
        )
    )
    mx = c.agg(F.round(F.max(F.abs(F.col("cusum"))), 6).alias("max_abs_cusum"))
    return top.crossJoin(F.broadcast(mx))


@register(
    "decayed_event_score",
    """
    WITH mx AS (SELECT MAX(ts) AS mx_ts FROM events),
    w AS (
      SELECT event_type,
             ROUND(EXP(-0.01 * (date_diff('microsecond', ts, mx_ts)
                                / 3600000000.0)), 12) AS wgt
      FROM events, mx
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(CAST(SUM(CAST(CAST(wgt AS VARCHAR)
                 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE), 6)
             AS decayed_score
    FROM w
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="exponentially time-decayed event score per type (the freshness-"
    "weighted counter behind trending/decay dashboards): weight = "
    "exp(-lambda * age_hours) with lambda=0.01 and age measured "
    "microsecond-exact against the corpus max timestamp (one broadcast "
    "1-row aggregate), decimal-summed per type. Cross-engine "
    "determinism: the exp argument is built from exact integer "
    "microsecond diffs with identical IEEE ops, exp ROUNDed at 12 before "
    "the decimal sum — the same ln-at-ROUND(12) discipline as "
    "psi_value_drift / lm_perplexity_score. Scale: weights are computed "
    "in the scan projection, the shuffle carries per-type partial "
    "decimal sums; a streaming twin would fold the same weights in "
    "foreachBatch with a rescale step per watermark advance",
)
def decayed_event_score(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.exact import sum_exact

    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mx_ts"))
    age_h = (F.unix_micros("mx_ts") - F.unix_micros("ts")) / F.lit(
        3600000000.0
    )
    w = ev.crossJoin(F.broadcast(mx)).select(
        "event_type", F.round(F.exp(-0.01 * age_h), 12).alias("wgt")
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(sum_exact("wgt"), 6).alias("decayed_score"),
        )
        .orderBy("event_type")
    )


@register(
    "grouped_quantile_pandas_agg",
    """
    SELECT event_type,
           CAST(COUNT(value) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.25), 6) AS p25,
           ROUND(quantile_cont(value, 0.75), 6) AS p75,
           ROUND(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6)
             AS iqr
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="GROUPED_AGG pandas UDF — the last Python-boundary form the matrix "
    "lacked (SCALAR -> ANN BLAS, grouped map applyInPandas -> "
    "trimmed_mean_pandas, mapInPandas -> multimodal, "
    "applyInPandasWithState -> streaming): per-group interquartile "
    "spread where each quartile is ONE vectorized Arrow aggregate per "
    "group.  The UDF interpolates manually (sort, pos = p*(n-1), "
    "v = a + (b-a)*frac) — the exact expression Spark's percentile() and "
    "DuckDB's quantile_cont share — instead of np.percentile, whose "
    "two-sided lerp can drift a ulp on the t>=0.5 branch; with ROUND(6) "
    "on top the oracle compare is deterministic.  GROUPED_AGG UDFs also "
    "serve as unbounded-frame window functions; the groupBy form here is "
    "the mergeable-per-group shape.  Scale: one hash shuffle on the "
    "group key, each group one Arrow batch, O(group) task memory — same "
    "bound as any exact per-group quantile; for the distributed "
    "no-group-fits-in-memory path see grouped_quantile_dist.",
)
def grouped_quantile_pandas_agg(spark, sf_dir):
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    ev = table(spark, sf_dir, "events").select("event_type", "value")

    def _interp(s: pd.Series, p: float):
        v = s.dropna().sort_values(kind="mergesort").to_numpy()
        n = len(v)
        if n == 0:
            # SQL NULL, matching percentile()/quantile_cont on an all-NULL
            # group (NaN would survive ROUND(6) and hash-mismatch the oracle)
            return None
        pos = p * (n - 1)
        lo = int(pos)
        frac = pos - lo
        if lo + 1 < n:
            return float(v[lo] + (v[lo + 1] - v[lo]) * frac)
        return float(v[lo])

    # functionType passed explicitly: `from __future__ import annotations`
    # stringifies the hints and the lazy `pd` import is invisible to the
    # module-namespace hint resolver pandas_udf would otherwise use.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def p25(s):
        return _interp(s, 0.25)

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def p75(s):
        return _interp(s, 0.75)

    # GROUPED_AGG UDFs cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT), so the row count is its own
    # aggregate joined back on the group key — the same split
    # grouped_distinct_approx uses for its exact/sketch pair.
    counts = ev.groupBy("event_type").agg(
        F.count("value").cast("bigint").alias("n")
    )
    quart = ev.groupBy("event_type").agg(
        F.round(p25("value"), 6).alias("p25"),
        F.round(p75("value"), 6).alias("p75"),
        F.round(p75("value") - p25("value"), 6).alias("iqr"),
    )
    return (
        counts.join(quart, "event_type")
        .select("event_type", "n", "p25", "p75", "iqr")
        .orderBy("event_type")
    )


@register(
    "grouped_mode_median_disc",
    """
    WITH freq AS (
      SELECT event_type, user_id, COUNT(*) AS cnt
      FROM events GROUP BY event_type, user_id
    ),
    best AS (
      SELECT event_type, user_id, cnt,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY cnt DESC, user_id) AS INT) AS rk
      FROM freq
    ),
    vals AS (
      SELECT event_type, value,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY value, event_id) AS BIGINT) AS pos,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT event_type, value AS median_disc
      FROM vals WHERE pos = CAST(CEIL(n / 2.0) AS BIGINT)
    )
    SELECT b.event_type, b.user_id AS mode_user, b.cnt AS mode_cnt,
           ROUND(m.median_disc, 6) AS median_disc
    FROM best b JOIN med m ON b.event_type = m.event_type
    WHERE b.rk = 1
    ORDER BY b.event_type
    """,
    doc="DETERMINIZED mode + discrete median per group — the two order "
    "statistics whose built-ins are tie-ambiguous across engines (Spark "
    "mode() and DuckDB mode() both pick an arbitrary winner on equal "
    "counts; percentile_disc semantics differ at even n), re-expressed "
    "with explicit total orders: mode = (count DESC, user_id) rank 1 — "
    "smallest most-frequent user; discrete median = the value at row "
    "ceil(n/2) of (value, event_id) order — always an OBSERVED value, "
    "unlike interpolating percentile(). Scale (r8, the NOTES.md:596 "
    "group-skew escape hatch): BOTH legs now reduce before any window — "
    "mode to O(type x user), and the median by FREQUENCY-BASED GROUPED "
    "SELECTION: the value at position ceil(n/2) of (value, event_id) "
    "order is fully determined by per-(type, value) counts (the "
    "event_id tiebreak reorders ties WITHIN one value, never across "
    "values), so events collapse to O(type x distinct-value) rows and "
    "the rank walk is a cumulative sum over that reduced table — no "
    "per-group row-level sort anywhere, robust to any group-size skew. "
    "The oracle keeps the row_number formulation: same semantics, "
    "independently expressed.",
)
def grouped_mode_median_disc(spark, sf_dir):
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    freq = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_mode = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), "user_id"
    )
    best = (
        freq.withColumn("rk", F.row_number().over(w_mode))
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("user_id").alias("mode_user"),
                F.col("cnt").alias("mode_cnt"))
    )
    nn = ev.filter(F.col("value").isNotNull())
    vfreq = nn.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_n = Window.partitionBy("event_type")
    k = F.ceil(F.col("n") / F.lit(2.0)).cast("bigint")
    med = (
        vfreq.withColumn("cum", F.sum("c").over(w_cum))
        .withColumn("n", F.sum("c").over(w_n))
        .filter((F.col("cum") >= k) & ((F.col("cum") - F.col("c")) < k))
        .select("event_type", F.round("value", 6).alias("median_disc"))
    )
    return best.join(med, "event_type").orderBy("event_type")


@register(
    "nucleus_user_coverage",
    """
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    tot AS (SELECT SUM(cnt) AS n FROM per_user),
    runs AS (
      SELECT user_id, cnt,
             SUM(cnt) OVER (ORDER BY cnt DESC, user_id
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM per_user
    ),
    kept AS (
      SELECT r.user_id, r.cnt, r.cum
      FROM runs r CROSS JOIN tot
      WHERE r.cum - r.cnt < 0.8 * tot.n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM per_user) AS n_users,
           CAST(SUM(cnt) AS BIGINT) AS covered_events,
           (SELECT CAST(n AS BIGINT) FROM tot) AS total_events
    FROM kept
    """,
    doc="top-p (nucleus) coverage cut: the SMALLEST prefix of users, by "
    "activity, covering >= 80% of all events — the heavy-hitter "
    "truncation rule (keep a prefix until the cumulative mass crosses "
    "p), the same math as nucleus sampling's token cut. The cumulative "
    "sum stays integer (DECIMAL(38,0)) over an explicit total order "
    "(count DESC, user_id), so the boundary row is engine-exact — no "
    "float accumulation. Scale: events reduce to O(users) map-side "
    "first; the prefix sum is the range-partitioned position fold "
    "(ordered_positions with cum_cols — per-partition sum offsets + "
    "a pid-partitioned running sum), so the O(users) table never "
    "funnels through one task; the 1-row total broadcasts into the "
    "threshold predicate.",
)
def nucleus_user_coverage(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.profile import ordered_positions

    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = per_user.agg(F.sum("cnt").alias("n"))
    runs = ordered_positions(
        per_user, [("cnt", False), ("user_id", True)], cum_cols=("cnt",)
    ).withColumnRenamed("cum_cnt", "cum")
    kept = runs.crossJoin(F.broadcast(tot)).filter(
        F.col("cum") - F.col("cnt") < F.lit(0.8) * F.col("n")
    )
    n_users = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    return (
        kept.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept_users"),
            F.sum("cnt").cast("bigint").alias("covered_events"),
            F.max("n").cast("bigint").alias("total_events"),
        )
        .crossJoin(F.broadcast(n_users))
        .select("n_kept_users", "n_users", "covered_events", "total_events")
    )


@register(
    "poisson_bootstrap_ci",
    """
    WITH grp AS (SELECT unnest(generate_series(0, 15)) AS g),
    slot AS (SELECT unnest(generate_series(0, 3)) AS s),
    hashed AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS yi, g,
             md5(concat(CAST(event_id AS VARCHAR), '|',
                        CAST(g AS VARCHAR))) AS h
      FROM events, grp WHERE value IS NOT NULL
    ),
    weighted AS (
      SELECT event_type, yi, g * 4 + s AS i,
             CASE
               WHEN u < 6172234 THEN 0 WHEN u < 12344467 THEN 1
               WHEN u < 15430584 THEN 2 WHEN u < 16459290 THEN 3
               WHEN u < 16716930 THEN 4 ELSE 5 END AS w
      FROM (SELECT event_type, yi, g, s,
                   CAST(('0x' || substring(h, 1 + 6 * s, 6)) AS BIGINT) AS u
            FROM hashed, slot) t
    ),
    replica AS (
      SELECT event_type, i,
             ROUND(CAST(SUM(w * yi) AS DOUBLE) / SUM(w) / 100.0, 6) AS m
      FROM weighted GROUP BY event_type, i
    ),
    ranked AS (
      SELECT event_type, m,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY m, i) AS INT) AS rn
      FROM replica
    ),
    point AS (
      SELECT event_type,
             ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
                   / COUNT(*) / 100.0, 6) AS mean_value
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT p.event_type, p.mean_value,
           MIN(CASE WHEN rn = 2 THEN m END) AS ci_lo,
           MIN(CASE WHEN rn = 63 THEN m END) AS ci_hi
    FROM point p JOIN ranked r ON p.event_type = r.event_type
    GROUP BY p.event_type, p.mean_value
    ORDER BY p.event_type
    """,
    doc="POISSON BOOTSTRAP confidence interval for the per-group mean — "
    "the distributed bootstrap (Chamandy et al.): classic resampling "
    "needs the whole dataset per replica, but each row's multiplicity "
    "in a with-replacement resample is asymptotically Poisson(1), so 64 "
    "replicas run as ONE pass with a per-(row, replica) deterministic "
    "Poisson weight (inverse-CDF on an md5-derived uniform; integer "
    "2^24-scaled thresholds make the draw engine-exact; each 128-bit "
    "digest feeds FOUR independent 24-bit uniforms — hex slots 1-6 / "
    "7-12 / 13-18 / 19-24 — via a two-level fan-out, so the hash work "
    "is 16 md5s per row, not 64). Replica means "
    "reduce map-side to O(groups x 64); the 95% CI is the 2nd/63rd "
    "order statistic of the replica means. Values quantized at the "
    "corpus's 2-dp tick (x100 to BIGINT) so every sum is integer-exact. "
    "Scale: the 64x row fan-out is map-local (explode, no shuffle) and "
    "the only exchange carries (group, replica) partials.",
)
def poisson_bootstrap_ci(spark, sf_dir):
    from pyspark.sql import Window

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("yi"),
        )
    )
    # two-level fan-out: the md5 runs once per (row, g) — 16 per row — and
    # each digest yields four independent 24-bit hex-slot uniforms
    hashed = ev.select(
        "event_type",
        "yi",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("g"),
        "event_id",
    ).select(
        "event_type",
        "yi",
        "g",
        F.md5(
            F.concat_ws("|", F.col("event_id").cast("string"),
                        F.col("g").cast("string"))
        ).alias("h"),
    )
    rep = hashed.select(
        "event_type",
        "yi",
        "g",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("s"),
    ).select(
        "event_type",
        "yi",
        (F.col("g") * 4 + F.col("s")).alias("i"),
        F.col("h"),
        F.col("s"),
    )
    u = F.conv(
        F.expr("substring(h, 1 + 6 * s, 6)"), 16, 10
    ).cast("bigint")
    w = (
        F.when(u < 6172234, 0).when(u < 12344467, 1).when(u < 15430584, 2)
        .when(u < 16459290, 3).when(u < 16716930, 4).otherwise(5)
    )
    replica = (
        rep.select("event_type", "i", "yi", w.alias("w"))
        .groupBy("event_type", "i")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("yi")).cast("double")
                / F.sum("w") / F.lit(100.0),
                6,
            ).alias("m")
        )
    )
    rk = Window.partitionBy("event_type").orderBy("m", "i")
    ranked = replica.withColumn("rn", F.row_number().over(rk))
    point = ev.groupBy("event_type").agg(
        F.round(
            F.sum("yi").cast("double") / F.count(F.lit(1)) / F.lit(100.0), 6
        ).alias("mean_value")
    )
    return (
        point.join(ranked, "event_type")
        .groupBy("event_type", "mean_value")
        .agg(
            F.min(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
            F.min(F.when(F.col("rn") == 63, F.col("m"))).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


@register(
    "grouped_linear_trend",
    """
    WITH base AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT) AS x,
             CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    origin AS (SELECT MIN(x) AS x0 FROM base),
    c AS (
      SELECT event_type, (x - x0) AS xr, y
      FROM base CROSS JOIN origin
    ),
    sums AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(xr) AS sx, SUM(y) AS sy,
             SUM(xr * y) AS sxy, SUM(xr * xr) AS sxx
      FROM c GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS cnt,
           ROUND(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                 * 864000000.0, 6) AS slope_per_day
    FROM sums ORDER BY event_type
    """,
    doc="per-group LINEAR TREND (the regr_slope of metric drift "
    "monitoring) computed INTEGER-EXACT: x = event time in microseconds "
    "rebased to the corpus origin, y = value at the corpus's 2-dp tick, "
    "slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) with every sum carried in "
    "DECIMAL(38,0)/HUGEINT — no float accumulation anywhere, so the "
    "result is bit-identical on any partitioning and any engine; the "
    "single double division happens once at the end (VARCHAR-routed on "
    "the DuckDB side, the functions/exact.py cast-parity rule). Scale: "
    "one map-side-combined aggregate per group; the 1-row origin "
    "broadcasts. Rebasing is what keeps n*Sxx inside 38 digits at "
    "billions of rows.",
)
def grouped_linear_trend(spark, sf_dir):
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.unix_micros("ts").alias("x"),
            F.round(F.col("value") * 100).cast("bigint").alias("y"),
        )
    )
    origin = ev.agg(F.min("x").alias("x0"))
    dec = "decimal(38,0)"
    c = ev.crossJoin(F.broadcast(origin)).select(
        "event_type",
        (F.col("x") - F.col("x0")).cast(dec).alias("xr"),
        F.col("y").cast(dec).alias("y"),
    )
    sums = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("xr").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum((F.col("xr") * F.col("y")).cast(dec)).cast(dec).alias("sxy"),
        F.sum((F.col("xr") * F.col("xr")).cast(dec)).cast(dec).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(dec)
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(dec)
    return sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("cnt"),
        F.round(
            num.cast("double") / den.cast("double") * F.lit(864000000.0), 6
        ).alias("slope_per_day"),
    ).orderBy("event_type")


@register(
    "ab_welch_ttest",
    """
    WITH base AS (
      SELECT event_type,
             CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT) AS y
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy
      FROM base GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n, sy / n / 100.0 AS mean,
             (syy - sy * sy / n) / (n - 1) / 10000.0 AS var
      FROM s
    )
    SELECT a.event_type AS group_a, b.event_type AS group_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           ROUND(a.mean, 6) AS mean_a, ROUND(b.mean, 6) AS mean_b,
           ROUND((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n), 6)
             AS t_stat
    FROM m a JOIN m b
      ON a.event_type = 'click' AND b.event_type = 'purchase'
    """,
    doc="WELCH two-sample t statistic (the A/B-testing primitive) between "
    "the click and purchase value distributions: per-group n, sum, "
    "sum-of-squares carried integer-exact (2-dp tick x100; sum(y*y) "
    "needs 128-bit — DECIMAL(38,0)/HUGEINT), means and unbiased "
    "variances derived in double from those exact integers with the "
    "IDENTICAL expression on both engines, so the t value matches "
    "bit-for-bit before the ROUND. Scale: one map-side-combined "
    "aggregate over the filtered pair of groups — the sufficient-"
    "statistics pattern; no row ever crosses the network, only "
    "(n, sum, sumsq) triples.",
)
def ab_welch_ttest(spark, sf_dir):
    dec = "decimal(38,0)"
    base = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").cast(dec).alias("y"),
        )
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").cast(dec).cast("double").alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast(dec).cast("double")
        .alias("syy"),
    )
    m = s.select(
        "event_type",
        "n",
        (F.col("sy") / F.col("n") / F.lit(100.0)).alias("mean"),
        (
            (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
            / (F.col("n") - 1) / F.lit(10000.0)
        ).alias("var"),
    )
    a, b = m.alias("a"), m.alias("b")
    return a.join(
        b,
        (F.col("a.event_type") == "click")
        & (F.col("b.event_type") == "purchase"),
    ).select(
        F.col("a.event_type").alias("group_a"),
        F.col("b.event_type").alias("group_b"),
        F.col("a.n").cast("bigint").alias("n_a"),
        F.col("b.n").cast("bigint").alias("n_b"),
        F.round("a.mean", 6).alias("mean_a"),
        F.round("b.mean", 6).alias("mean_b"),
        F.round(
            (F.col("a.mean") - F.col("b.mean"))
            / F.sqrt(F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n")),
            6,
        ).alias("t_stat"),
    )


@register(
    "rolling_metric_corr",
    """
    WITH daily AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
                  AS HUGEINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
                  AS HUGEINT) AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY 1
    ),
    win AS (
      SELECT day,
             CAST(COUNT(*) OVER w AS HUGEINT) AS n,
             SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
             SUM(x * y) OVER w AS sxy,
             SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day,
           CAST(n AS BIGINT) AS n_days,
           ROUND(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                 / sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                 / sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)),
                 6) AS rolling_corr
    FROM win
    WHERE n = 7
    ORDER BY day
    """,
    doc="ROLLING CORRELATION between two metric streams (do clicks and "
    "purchases co-move this week?): daily 2-dp-quantized sums, then a "
    "7-day ROWS frame carrying (n, Sx, Sy, Sxy, Sxx, Syy) — every "
    "windowed sum INTEGER-exact in DECIMAL(38,0)/HUGEINT, Pearson r "
    "assembled in ONE double expression at the end (VARCHAR-routed on "
    "the DuckDB side), so the value is engine- and partitioning-"
    "bit-identical. Scale: events reduce map-side to O(days) before "
    "any window; the frame walks that tiny series. The co-movement "
    "monitor that pages you when a funnel decouples.",
)
def rolling_metric_corr(spark, sf_dir):
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    yi = F.round(F.col("value") * 100).cast("bigint")
    daily = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", yi).otherwise(0))
            .cast(dec).alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", yi).otherwise(0))
            .cast(dec).alias("y"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day",
        F.count(F.lit(1)).over(w).cast(dec).alias("n"),
        F.sum("x").over(w).cast(dec).alias("sx"),
        F.sum("y").over(w).cast(dec).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).over(w).cast(dec)
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).over(w).cast(dec)
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).over(w).cast(dec)
        .alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(dec)
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(dec)
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(dec)
    return (
        win.filter(F.col("n") == 7)
        .select(
            "day",
            F.col("n").cast("bigint").alias("n_days"),
            F.round(
                num.cast("double")
                / F.sqrt(dx.cast("double"))
                / F.sqrt(dy.cast("double")),
                6,
            ).alias("rolling_corr"),
        )
        .orderBy("day")
    )


@register(
    "weekly_growth_rates",
    """
    WITH weekly AS (
      SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 604800.0) AS BIGINT)
               AS epoch_week,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events
      GROUP BY 1
    )
    SELECT epoch_week, n_events, n_users,
           ROUND((CAST(n_events AS DOUBLE)
                  / LAG(n_events) OVER (ORDER BY epoch_week) - 1) * 100,
                 6) AS events_wow_pct,
           ROUND((CAST(n_users AS DOUBLE)
                  / LAG(n_users) OVER (ORDER BY epoch_week) - 1) * 100,
                 6) AS users_wow_pct
    FROM weekly
    ORDER BY epoch_week
    """,
    doc="WEEK-OVER-WEEK growth rates (the BI growth dashboard): weekly "
    "event and active-user counts keyed by the fixed epoch week "
    "(floor(epoch/604800) — never date_trunc('week'), whose week-start "
    "convention differs across engines), WoW percent change via LAG; "
    "the first week's rate is NULL by construction, which both engines "
    "agree on. Integer counts + one double division under ROUND keep "
    "it engine-exact. Scale: map-side reduce to O(weeks) rows; the LAG "
    "window walks that tiny series on one task — correct, because the "
    "series IS small; the heavy lifting happened in the aggregate.",
)
def weekly_growth_rates(spark, sf_dir):
    from pyspark.sql import Window

    weekly = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.floor(F.unix_timestamp("ts") / F.lit(604800.0))
            .cast("bigint")
            .alias("epoch_week")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )
    w = Window.orderBy("epoch_week")
    pct = lambda c: F.round(  # noqa: E731 — tiny local formatter
        (F.col(c).cast("double") / F.lag(c).over(w) - 1) * 100, 6
    )
    return weekly.select(
        "epoch_week",
        "n_events",
        "n_users",
        pct("n_events").alias("events_wow_pct"),
        pct("n_users").alias("users_wow_pct"),
    ).orderBy("epoch_week")


@register(
    "attribution_multitouch",
    """
    WITH purchases AS (
      SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts,
             CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS p_ticks
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT event_id AS t_id, user_id, CAST(ts AS TIMESTAMP) AS t_ts,
             event_type
      FROM events WHERE event_type IN ('click', 'view')
    ),
    tp AS (
      SELECT p.p_id, p.p_ticks, t.t_id, t.event_type,
             COUNT(*) OVER (PARTITION BY p.p_id) AS k,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY t.t_ts, t.t_id) AS pos
      FROM purchases p JOIN touches t
        ON p.user_id = t.user_id
       AND t.t_ts >= p.p_ts - INTERVAL '24 hours' AND t.t_ts < p.p_ts
    ),
    credit AS (
      SELECT event_type, p_id,
             CAST(ROUND(p_ticks * 10000.0 / k) AS BIGINT)
               AS linear_microticks,
             CASE WHEN k = 1 THEN p_ticks * 10000
                  WHEN k = 2
                    THEN CAST(ROUND(p_ticks * 10000.0 * 0.5) AS BIGINT)
                  WHEN pos = 1 OR pos = k
                    THEN CAST(ROUND(p_ticks * 10000.0 * 0.4) AS BIGINT)
                  ELSE CAST(ROUND(p_ticks * 10000.0 * 0.2 / (k - 2))
                            AS BIGINT) END AS ushape_microticks
      FROM tp
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_conversions_touched,
           ROUND(SUM(linear_microticks) / 1000000.0, 6) AS linear_credit,
           ROUND(SUM(ushape_microticks) / 1000000.0, 6) AS ushape_credit
    FROM credit GROUP BY event_type ORDER BY event_type
    """,
    doc="MULTI-TOUCH attribution (completes purchase_attribution's "
    "last-touch): every click/view in the 24h window before a purchase "
    "earns credit under TWO standard models at once — LINEAR (value/k) "
    "and U-SHAPE (40% first, 40% last, 20% split over middles; 50/50 at "
    "k=2, 100% at k=1 — the k=2 edge is where naive U-shape leaks 20% "
    "of the credit). Per-touch credit is quantized to integer "
    "MICROTICKS (value x 100 x 10000, rounded once per touch) before "
    "the cross-row sum, so totals are partitioning- and engine-exact — "
    "float credit sums would be order-dependent. Dataflow: per-user "
    "time-range join (bounded by user activity, never cross-user), two "
    "windows keyed on the purchase (k and position), one aggregate on "
    "touch type. The marketing-analytics twin of purchase_attribution's "
    "as-of machinery.",
)
def attribution_multitouch(spark, sf_dir):
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 100)
        .cast("bigint")
        .alias("p_ticks"),
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        "event_type",
    )
    tp = purchases.join(
        touches,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("t_ts") < F.col("p_ts")),
    )
    w_k = Window.partitionBy("p_id")
    w_pos = Window.partitionBy("p_id").orderBy("t_ts", "t_id")
    tp = tp.select(
        "p_id",
        "p_ticks",
        "event_type",
        F.count(F.lit(1)).over(w_k).alias("k"),
        F.row_number().over(w_pos).alias("pos"),
    )
    micro = F.col("p_ticks") * F.lit(10000.0)
    credit = tp.select(
        "event_type",
        "p_id",
        F.round(micro / F.col("k")).cast("bigint").alias("linear_microticks"),
        F.when(F.col("k") == 1, (F.col("p_ticks") * F.lit(10000)).cast("bigint"))
        .when(F.col("k") == 2, F.round(micro * 0.5).cast("bigint"))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("k")),
            F.round(micro * 0.4).cast("bigint"),
        )
        .otherwise(
            F.round(micro * 0.2 / (F.col("k") - 2)).cast("bigint")
        )
        .alias("ushape_microticks"),
    )
    return (
        credit.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.countDistinct("p_id").cast("bigint")
            .alias("n_conversions_touched"),
            F.round(F.sum("linear_microticks") / F.lit(1_000_000.0), 6)
            .alias("linear_credit"),
            F.round(F.sum("ushape_microticks") / F.lit(1_000_000.0), 6)
            .alias("ushape_credit"),
        )
        .orderBy("event_type")
    )


@register(
    "categorical_mi_profile",
    """
    WITH obs AS (
      SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
             COUNT(*) AS o
      FROM events GROUP BY event_type, dow
    ),
    gt AS (SELECT CAST(SUM(o) AS DOUBLE) AS n FROM obs),
    hx AS (
      SELECT SUM(CAST(CAST(ROUND(-(t / n) * ln(t / n), 12) AS VARCHAR)
                 AS DECIMAL(38,12))) AS h
      FROM (SELECT CAST(SUM(o) AS DOUBLE) AS t FROM obs
            GROUP BY event_type), gt
    ),
    hy AS (
      SELECT SUM(CAST(CAST(ROUND(-(t / n) * ln(t / n), 12) AS VARCHAR)
                 AS DECIMAL(38,12))) AS h
      FROM (SELECT CAST(SUM(o) AS DOUBLE) AS t FROM obs GROUP BY dow), gt
    ),
    hxy AS (
      SELECT SUM(CAST(CAST(ROUND(-(o / n) * ln(o / n), 12) AS VARCHAR)
                 AS DECIMAL(38,12))) AS h
      FROM obs, gt
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM obs) AS n_cells,
           ROUND(CAST(CAST(hx.h AS VARCHAR) AS DOUBLE), 6) AS h_event_type,
           ROUND(CAST(CAST(hy.h AS VARCHAR) AS DOUBLE), 6) AS h_dow,
           ROUND(CAST(CAST(hxy.h AS VARCHAR) AS DOUBLE), 6) AS h_joint,
           ROUND(CAST(CAST(hx.h + hy.h - hxy.h AS VARCHAR) AS DOUBLE), 6)
             AS mutual_info,
           ROUND(CAST(CAST(hx.h + hy.h - hxy.h AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(LEAST(hx.h, hy.h) AS VARCHAR) AS DOUBLE), 6)
             AS nmi
    FROM hx, hy, hxy
    """,
    doc="MUTUAL INFORMATION profile of event_type x day-of-week "
    "(completes the chi-square independence test with the "
    "information-theoretic view — MI is the quantity label-leakage and "
    "feature-redundancy checks in a training pipeline actually "
    "threshold): marginal entropies H(X), H(Y), joint H(X,Y) each from "
    "-p ln p terms rounded at 12 dp and DECIMAL-summed (the "
    "psi_value_drift ln discipline — accumulation-order-independent "
    "cross-engine), MI = H(X)+H(Y)-H(X,Y), normalized by min(H). One "
    "grouped aggregate builds the O(types x 7) contingency table; the "
    "three entropy sums run over THAT, never over events. Spark "
    "dayofweek is 1-based Sunday vs DuckDB 0-based — normalized "
    "Spark-side like the chi-square twin. nmi ~ 0 here: event type is "
    "independent of weekday on this corpus, and the gate VALUE proves "
    "it rather than asserting it.",
)
def categorical_mi_profile(spark, sf_dir):
    dec = "decimal(38,12)"
    ev = table(spark, sf_dir, "events")
    obs = (
        ev.groupBy(
            "event_type", (F.dayofweek(F.to_date("ts")) - 1).alias("dow")
        )
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=True)
    )
    n = obs.agg(F.sum("o").cast("double").alias("n"))

    def ent(grouped):
        p = F.col("t") / F.col("n")
        return grouped.crossJoin(F.broadcast(n)).agg(
            F.sum(F.round(-p * F.log(p), 12).cast(dec)).alias("h")
        )

    hx = ent(
        obs.groupBy("event_type").agg(F.sum("o").cast("double").alias("t"))
    ).withColumnRenamed("h", "hx")
    hy = ent(
        obs.groupBy("dow").agg(F.sum("o").cast("double").alias("t"))
    ).withColumnRenamed("h", "hy")
    hxy = ent(obs.select(F.col("o").cast("double").alias("t"))).withColumnRenamed(
        "h", "hxy"
    )
    cells = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
    mi = F.col("hx") + F.col("hy") - F.col("hxy")
    return (
        cells.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(hxy))
        .select(
            "n_cells",
            F.round(F.col("hx").cast("double"), 6).alias("h_event_type"),
            F.round(F.col("hy").cast("double"), 6).alias("h_dow"),
            F.round(F.col("hxy").cast("double"), 6).alias("h_joint"),
            F.round(mi.cast("double"), 6).alias("mutual_info"),
            F.round(
                mi.cast("double")
                / F.least(F.col("hx"), F.col("hy")).cast("double"),
                6,
            ).alias("nmi"),
        )
    )


@register(
    "ks_two_sample_drift",
    """
    WITH tagged AS (
      SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN 'a' ELSE 'b' END AS grp,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    counts AS (
      SELECT v,
             SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS cb
      FROM tagged GROUP BY v
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM counts
    ),
    cum AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v) AS fa,
             SUM(cb) OVER (ORDER BY v) AS fb
      FROM counts
    ),
    d AS (
      SELECT MAX(abs(CAST(fa AS HUGEINT) * nb - CAST(fb AS HUGEINT) * na))
               AS dnum
      FROM cum, tot
    )
    SELECT (SELECT na FROM tot) AS n_a,
           (SELECT nb FROM tot) AS n_b,
           ROUND(CAST(CAST((SELECT dnum FROM d) AS VARCHAR) AS DOUBLE)
                 / ((SELECT na FROM tot) * CAST((SELECT nb FROM tot)
                    AS DOUBLE)), 6) AS ks_stat,
           ROUND(sqrt(((SELECT na FROM tot) + CAST((SELECT nb FROM tot)
                       AS DOUBLE))
                      / ((SELECT na FROM tot) * CAST((SELECT nb FROM tot)
                         AS DOUBLE))) * 1.358, 6) AS crit_05,
           (CAST(CAST((SELECT dnum FROM d) AS VARCHAR) AS DOUBLE)
            / ((SELECT na FROM tot) * CAST((SELECT nb FROM tot) AS DOUBLE)))
           > (sqrt(((SELECT na FROM tot) + CAST((SELECT nb FROM tot)
                    AS DOUBLE))
                   / ((SELECT na FROM tot) * CAST((SELECT nb FROM tot)
                      AS DOUBLE))) * 1.358) AS reject_05
    """,
    doc="EXACT two-sample Kolmogorov-Smirnov drift test (the "
    "nonparametric complement to psi_value_drift's binned divergence): "
    "first vs second half-month value distributions at the corpus's "
    "2-dp tick. The supremum |F_a - F_b| is computed in PURE INTEGERS — "
    "D = max |cum_a * n_b - cum_b * n_a| / (n_a * n_b), 128-bit "
    "products — so the statistic is exact on any partitioning and both "
    "engines agree to the bit BEFORE the single final division. "
    "Reduces events to O(distinct ticks) counts first; the CDF walk is "
    "one cumulative window over that reduced table. The 5% critical "
    "value 1.358 * sqrt((n_a+n_b)/(n_a*n_b)) and the reject decision "
    "ride along as driver-gated values.",
)
def ks_two_sample_drift(spark, sf_dir):
    import datetime

    from pyspark.sql import Window

    dec = "decimal(38,0)"
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    tagged = ev.select(
        F.when(F.to_date("ts") < F.lit(datetime.date(2024, 1, 16)), "a")
        .otherwise("b")
        .alias("grp"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    counts = tagged.groupBy("v").agg(
        F.sum((F.col("grp") == "a").cast("int")).alias("ca"),
        F.sum((F.col("grp") == "b").cast("int")).alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "v",
        F.sum("ca").over(w).alias("fa"),
        F.sum("cb").over(w).alias("fb"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.abs(
                F.col("fa").cast(dec) * F.col("nb")
                - F.col("fb").cast(dec) * F.col("na")
            ).alias("dn")
        )
        .agg(F.max("dn").alias("dnum"))
    )
    ks = F.col("dnum").cast("double") / (
        F.col("na") * F.col("nb").cast("double")
    )
    crit = (
        F.sqrt(
            (F.col("na") + F.col("nb").cast("double"))
            / (F.col("na") * F.col("nb").cast("double"))
        )
        * 1.358
    )
    return (
        tot.crossJoin(F.broadcast(d))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.round(ks, 6).alias("ks_stat"),
            F.round(crit, 6).alias("crit_05"),
            (ks > crit).alias("reject_05"),
        )
    )


@register(
    "conformal_interval_coverage",
    """
    WITH base AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 3 AS fold
      FROM events WHERE value IS NOT NULL
    ),
    mu AS (
      SELECT event_type,
             CAST(CAST(SUM(CAST(v AS HUGEINT)) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS m
      FROM base WHERE fold = 0 GROUP BY event_type
    ),
    resid AS (
      SELECT b.event_type, abs(b.v - mu.m) AS r
      FROM base b JOIN mu USING (event_type) WHERE fold = 1
    ),
    rcounts AS (
      SELECT event_type, r, COUNT(*) AS c FROM resid GROUP BY 1, 2
    ),
    rn AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_calib
      FROM rcounts GROUP BY 1
    ),
    rcum AS (
      SELECT event_type, r,
             SUM(c) OVER (PARTITION BY event_type ORDER BY r) AS f
      FROM rcounts
    ),
    qhat AS (
      SELECT rc.event_type, MIN(rc.r) AS q
      FROM rcum rc JOIN rn USING (event_type)
      WHERE rc.f >= LEAST(CAST(CEIL((rn.n_calib + 1) * 0.9) AS BIGINT),
                          rn.n_calib)
      GROUP BY rc.event_type
    )
    SELECT b.event_type,
           (SELECT n_calib FROM rn WHERE rn.event_type = b.event_type)
             AS n_calib,
           ROUND((SELECT q FROM qhat WHERE qhat.event_type = b.event_type)
                 / 100.0, 6) AS qhat,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN abs(b.v - mu.m) <=
                    (SELECT q FROM qhat WHERE qhat.event_type = b.event_type)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           ROUND(CAST(SUM(CASE WHEN abs(b.v - mu.m) <=
                    (SELECT q FROM qhat WHERE qhat.event_type = b.event_type)
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS coverage
    FROM base b JOIN mu USING (event_type)
    WHERE fold = 2
    GROUP BY b.event_type
    ORDER BY b.event_type
    """,
    doc="SPLIT-CONFORMAL prediction intervals with MEASURED coverage "
    "(the distribution-free uncertainty primitive: no model, no "
    "normality — just exchangeability): a 3-way deterministic hash "
    "split fits per-type means on fold 0, takes the ceil((n+1)*0.9)-th "
    "order statistic of absolute residuals on fold 1 (the finite-sample "
    "conformal correction — a plain 0.9 quantile systematically "
    "under-covers), and measures coverage of mean +- qhat on the "
    "held-out fold 2 — which lands ~0.9 BY THE THEOREM, and the gate "
    "records it. Residual quantiles are frequency-based selection "
    "(reduce to O(distinct residuals) counts, cumulative walk) — the "
    "same skew-robust machinery as the r8 grouped median; means carried "
    "as 128-bit integer sums.",
)
def conformal_interval_coverage(spark, sf_dir):
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        (
            F.expr(
                "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 4),"
                " 16, 10) AS BIGINT)"
            )
            % 3
        ).alias("fold"),
    )
    mu = (
        base.filter(F.col("fold") == 0)
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.col("v").cast(dec)).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    resid = (
        base.filter(F.col("fold") == 1)
        .join(F.broadcast(mu), "event_type")
        .select("event_type", F.abs(F.col("v") - F.col("m")).alias("r"))
    )
    rcounts = resid.groupBy("event_type", "r").agg(
        F.count(F.lit(1)).alias("c")
    )
    rn = rcounts.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_calib")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    k = F.least(
        F.ceil((F.col("n_calib") + 1) * 0.9).cast("bigint"), F.col("n_calib")
    )
    qhat = (
        rcounts.select("event_type", "r", F.sum("c").over(w).alias("f"))
        .join(F.broadcast(rn), "event_type")
        .filter(F.col("f") >= k)
        .groupBy("event_type")
        .agg(F.min("r").alias("q"))
    )
    evaldf = (
        base.filter(F.col("fold") == 2)
        .join(F.broadcast(mu), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .join(F.broadcast(rn), "event_type")
    )
    covered = (F.abs(F.col("v") - F.col("m")) <= F.col("q")).cast("int")
    return (
        evaldf.groupBy("event_type")
        .agg(
            F.max("n_calib").alias("n_calib"),
            F.round(F.max("q") / 100.0, 6).alias("qhat"),
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum(covered).cast("bigint").alias("n_covered"),
            F.round(
                F.sum(covered).cast("double") / F.count(F.lit(1)), 6
            ).alias("coverage"),
        )
        .orderBy("event_type")
    )


@register(
    "dow_seasonality_strength",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, dayofweek(CAST(ts AS DATE)) AS dow,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(c) AS HUGEINT) AS s,
             CAST(SUM(c * c) AS HUGEINT) AS ss
      FROM daily
    ),
    dowm AS (
      SELECT dow, CAST(SUM(c) AS HUGEINT) AS sd, COUNT(*) AS nd
      FROM daily GROUP BY dow
    ),
    resid AS (
      SELECT CAST(CAST(SUM(CAST(ROUND(
               (d.c - CAST(m.sd AS DOUBLE) / m.nd)
               * (d.c - CAST(m.sd AS DOUBLE) / m.nd), 12)
             AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS ssr
      FROM daily d JOIN dowm m USING (dow)
    )
    SELECT (SELECT n_days FROM tot) AS n_days,
           ROUND(CAST((SELECT s FROM tot) AS DOUBLE)
                 / (SELECT n_days FROM tot), 6) AS mean_daily,
           ROUND((CAST((SELECT ss FROM tot) AS DOUBLE)
                  - CAST((SELECT s FROM tot) AS DOUBLE)
                    * (SELECT s FROM tot) / (SELECT n_days FROM tot))
                 / (SELECT n_days FROM tot), 6) AS var_total,
           ROUND((SELECT ssr FROM resid) / (SELECT n_days FROM tot), 6)
             AS var_resid,
           ROUND(1.0 - ((SELECT ssr FROM resid)
                        / (SELECT n_days FROM tot))
                 / ((CAST((SELECT ss FROM tot) AS DOUBLE)
                     - CAST((SELECT s FROM tot) AS DOUBLE)
                       * (SELECT s FROM tot) / (SELECT n_days FROM tot))
                    / (SELECT n_days FROM tot)), 6)
             AS dow_seasonality_strength
    """,
    doc="SEASONAL DECOMPOSITION strength (STL-lite): daily event counts "
    "decompose into day-of-week means + residual, and the strength "
    "1 - var(residual)/var(total) says how much of daily variance the "
    "weekly cycle explains (~0.32 here — this corpus HAS a real dow "
    "pattern, unlike its value columns) — the capacity-planning / "
    "anomaly-baseline number. Exactness: total variance from pure "
    "integer (n, S, SS); the residual sum of squares quantizes each "
    "day's squared residual at 12 dp before the DECIMAL cross-row sum "
    "(the one place a float sum could drift with partitioning). Events "
    "reduce to O(days) rows before anything else; the dow means table "
    "is 7 rows, broadcast. Spark dayofweek normalized to DuckDB's "
    "0-based convention.",
)
def dow_seasonality_strength(spark, sf_dir):
    dec12 = "decimal(38,12)"
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"),
        (F.dayofweek(F.to_date("ts")) - 1).alias("dow"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("ss"),
    )
    dowm = daily.groupBy("dow").agg(
        F.sum("c").cast("decimal(38,0)").alias("sd"),
        F.count(F.lit(1)).alias("nd"),
    )
    r = F.col("c") - F.col("sd").cast("double") / F.col("nd")
    resid = (
        daily.join(F.broadcast(dowm), "dow")
        .select(F.round(r * r, 12).cast(dec12).alias("rr"))
        .agg(F.sum("rr").cast("double").alias("ssr"))
    )
    var_total = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n_days")
    ) / F.col("n_days")
    return (
        tot.crossJoin(F.broadcast(resid))
        .select(
            "n_days",
            F.round(F.col("s").cast("double") / F.col("n_days"), 6)
            .alias("mean_daily"),
            F.round(var_total, 6).alias("var_total"),
            F.round(F.col("ssr") / F.col("n_days"), 6).alias("var_resid"),
            F.round(
                1.0 - (F.col("ssr") / F.col("n_days")) / var_total, 6
            ).alias("dow_seasonality_strength"),
        )
    )


@register(
    "ks_weekly_drift_monitor",
    """
    WITH t AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    counts AS (
      SELECT wk, v, COUNT(*) AS cnt FROM t GROUP BY wk, v
    ),
    grid AS (
      SELECT w.wk, x.v, COALESCE(c.cnt, 0) AS cnt
      FROM (SELECT DISTINCT wk FROM counts) w
      CROSS JOIN (SELECT DISTINCT v FROM counts) x
      LEFT JOIN counts c ON c.wk = w.wk AND c.v = x.v
    ),
    cum AS (
      SELECT wk, v, cnt,
             SUM(cnt) OVER (PARTITION BY wk ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS fw
      FROM grid
    ),
    cum2 AS (
      SELECT wk, v, fw,
             COALESCE(SUM(fw) OVER (PARTITION BY v ORDER BY wk
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS fb
      FROM cum
    ),
    wk_tot AS (
      SELECT wk, CAST(SUM(cnt) AS BIGINT) AS n_week FROM grid GROUP BY wk
    ),
    wk_base AS (
      SELECT wk, n_week,
             CAST(COALESCE(SUM(n_week) OVER (ORDER BY wk
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_base
      FROM wk_tot
    ),
    d AS (
      SELECT c.wk,
             MAX(abs(CAST(c.fw AS HUGEINT) * b.n_base
                     - CAST(c.fb AS HUGEINT) * b.n_week)) AS dnum
      FROM cum2 c JOIN wk_base b ON c.wk = b.wk
      GROUP BY c.wk
    )
    SELECT CAST(b.wk AS VARCHAR) AS week_start, b.n_base, b.n_week,
           ROUND(CAST(CAST(d.dnum AS VARCHAR) AS DOUBLE)
                 / (b.n_base * CAST(b.n_week AS DOUBLE)), 6) AS ks_stat,
           ROUND(sqrt((b.n_base + CAST(b.n_week AS DOUBLE))
                      / (b.n_base * CAST(b.n_week AS DOUBLE))) * 1.358, 6)
             AS crit_05,
           (CAST(CAST(d.dnum AS VARCHAR) AS DOUBLE)
            / (b.n_base * CAST(b.n_week AS DOUBLE)))
           > (sqrt((b.n_base + CAST(b.n_week AS DOUBLE))
                   / (b.n_base * CAST(b.n_week AS DOUBLE))) * 1.358)
             AS reject_05
    FROM wk_base b JOIN d ON b.wk = d.wk
    WHERE b.n_base > 0 AND b.n_week > 0
    ORDER BY week_start
    """,
    doc="WINDOWED KS DRIFT MONITOR (r8 verdict optional item — the "
    "ks_two_sample_drift core promoted to the shape a production drift "
    "alert actually runs): for every calendar week, the exact "
    "two-sample KS statistic of that week's value distribution against "
    "the TRAILING baseline of all prior weeks, with the 5% critical "
    "value and reject decision per week. The corpus reduces to a "
    "(week x distinct-tick) grid in one aggregate — every subsequent "
    "window (per-week CDF over ticks, per-tick cumulative over weeks, "
    "trailing week totals) runs on that O(weeks x ticks) grid, never "
    "on events; the supremum is computed in pure 128-bit integers "
    "(|F_w*n_base - F_base*n_week| as DECIMAL/HUGEINT) so both engines "
    "agree to the bit before the single final division. Week 1 (empty "
    "baseline) is excluded by definition. On this corpus no week "
    "rejects (the generator is stationary) — the monitor RECORDS the "
    "quiet baseline a real alert fires against.",
)
def ks_weekly_drift_monitor(spark, sf_dir):
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    t = ev.select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    counts = t.groupBy("wk", "v").agg(F.count(F.lit(1)).alias("cnt"))
    counts = counts.localCheckpoint(eager=True)  # grid + 2 distinct scans
    grid = (
        counts.select("wk")
        .distinct()
        .crossJoin(counts.select("v").distinct())
        .join(counts, ["wk", "v"], "left")
        .select("wk", "v", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    wv = Window.partitionBy("wk").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select("wk", "v", "cnt", F.sum("cnt").over(wv).alias("fw"))
    wb = Window.partitionBy("v").orderBy("wk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum2 = cum.select(
        "wk",
        "v",
        "fw",
        F.coalesce(F.sum("fw").over(wb), F.lit(0)).alias("fb"),
    )
    wk_tot = grid.groupBy("wk").agg(
        F.sum("cnt").cast("bigint").alias("n_week")
    )
    wt = Window.orderBy("wk").rowsBetween(Window.unboundedPreceding, -1)
    wk_base = wk_tot.select(
        "wk",
        "n_week",
        F.coalesce(F.sum("n_week").over(wt), F.lit(0))
        .cast("bigint")
        .alias("n_base"),
    )
    d = (
        cum2.join(F.broadcast(wk_base), "wk")
        .select(
            "wk",
            F.abs(
                F.col("fw").cast(dec) * F.col("n_base")
                - F.col("fb").cast(dec) * F.col("n_week")
            ).alias("dn"),
        )
        .groupBy("wk")
        .agg(F.max("dn").alias("dnum"))
    )
    nn = F.col("n_base") * F.col("n_week").cast("double")
    ks = F.col("dnum").cast("double") / nn
    crit = F.sqrt((F.col("n_base") + F.col("n_week").cast("double")) / nn) * 1.358
    return (
        wk_base.join(d, "wk")
        .filter((F.col("n_base") > 0) & (F.col("n_week") > 0))
        .select(
            F.col("wk").cast("string").alias("week_start"),
            "n_base",
            "n_week",
            F.round(ks, 6).alias("ks_stat"),
            F.round(crit, 6).alias("crit_05"),
            (ks > crit).alias("reject_05"),
        )
        .orderBy("week_start")
    )


@register(
    "grouped_mad_outliers",
    """
    WITH t AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    c1 AS (
      SELECT event_type, v, COUNT(*) AS cnt FROM t GROUP BY event_type, v
    ),
    n1 AS (
      SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
      FROM c1 GROUP BY event_type
    ),
    cum1 AS (
      SELECT event_type, v,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM c1
    ),
    med AS (
      SELECT c.event_type, MIN(c.v) AS med
      FROM cum1 c JOIN n1 ON c.event_type = n1.event_type
      WHERE c.cum >= (n1.n + 1) // 2
      GROUP BY c.event_type
    ),
    c2 AS (
      SELECT c.event_type, abs(c.v - m.med) AS ad,
             CAST(SUM(c.cnt) AS BIGINT) AS cnt
      FROM c1 c JOIN med m ON c.event_type = m.event_type
      GROUP BY c.event_type, abs(c.v - m.med)
    ),
    cum2 AS (
      SELECT event_type, ad,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY ad
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM c2
    ),
    mad AS (
      SELECT c.event_type, MIN(c.ad) AS mad
      FROM cum2 c JOIN n1 ON c.event_type = n1.event_type
      WHERE c.cum >= (n1.n + 1) // 2
      GROUP BY c.event_type
    ),
    outl AS (
      SELECT c.event_type,
             CAST(SUM(CASE WHEN c.ad * 10000 > 44478 * md.mad
                           THEN c.cnt ELSE 0 END) AS BIGINT) AS n_out
      FROM c2 c JOIN mad md ON c.event_type = md.event_type
      GROUP BY c.event_type
    )
    SELECT n1.event_type, n1.n,
           ROUND(m.med / 100.0, 6) AS median_value,
           ROUND(md.mad / 100.0, 6) AS mad_value,
           outl.n_out AS n_outliers,
           ROUND(CAST(outl.n_out AS DOUBLE) / n1.n, 6) AS outlier_frac
    FROM n1
    JOIN med m ON n1.event_type = m.event_type
    JOIN mad md ON n1.event_type = md.event_type
    JOIN outl ON n1.event_type = outl.event_type
    ORDER BY n1.event_type
    """,
    doc="ROBUST outlier detection per group by MEDIAN/MAD — the "
    "breakdown-resistant twin of value_zscore_outliers (mean/std have "
    "a 0% breakdown point: one corrupt value moves both; median/MAD "
    "tolerate 50% corruption — the robust-statistics default for "
    "data-quality gates on dirty corpora): values quantize to the "
    "corpus's 2-dp tick, the discrete median is frequency-based "
    "grouped selection (smallest tick whose cumulative count reaches "
    "ceil(n/2) — the grouped_mode_median_disc discipline), MAD repeats "
    "the SAME walk on |v - median| counts derived from the FIRST "
    "aggregate (never a second event pass), and the outlier gate "
    "|v - med| > 3 * 1.4826 * MAD is evaluated in PURE INTEGERS "
    "(ad * 10000 > 44478 * mad) so both engines agree to the bit with "
    "no float threshold anywhere. Everything after one map-side-"
    "combinable aggregate runs on O(type x distinct-tick) rows.",
)
def grouped_mad_outliers(spark, sf_dir):
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    t = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    c1 = t.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("cnt"))
    c1 = c1.localCheckpoint(eager=True)  # feeds n1, cum1, c2
    n1 = c1.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    wcum = Window.partitionBy("event_type").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum1 = c1.select("event_type", "v", F.sum("cnt").over(wcum).alias("cum"))
    target = F.expr("(n + 1) div 2")
    med = (
        cum1.join(F.broadcast(n1), "event_type")
        .filter(F.col("cum") >= target)
        .groupBy("event_type")
        .agg(F.min("v").alias("med"))
    )
    c2 = (
        c1.join(F.broadcast(med), "event_type")
        .groupBy("event_type", F.abs(F.col("v") - F.col("med")).alias("ad"))
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    c2 = c2.localCheckpoint(eager=True)  # feeds cum2 + outl
    wad = Window.partitionBy("event_type").orderBy("ad").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum2 = c2.select(
        "event_type", "ad", F.sum("cnt").over(wad).alias("cum")
    )
    mad = (
        cum2.join(F.broadcast(n1), "event_type")
        .filter(F.col("cum") >= target)
        .groupBy("event_type")
        .agg(F.min("ad").alias("mad"))
    )
    outl = (
        c2.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("ad") * 10000 > 44478 * F.col("mad"), F.col("cnt")
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_out")
        )
    )
    return (
        n1.join(med, "event_type")
        .join(mad, "event_type")
        .join(outl, "event_type")
        .select(
            "event_type",
            "n",
            F.round(F.col("med") / 100.0, 6).alias("median_value"),
            F.round(F.col("mad") / 100.0, 6).alias("mad_value"),
            F.col("n_out").alias("n_outliers"),
            F.round(F.col("n_out").cast("double") / F.col("n"), 6).alias(
                "outlier_frac"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "target_encoding_loo",
    """
    WITH base AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    grp AS (
      SELECT event_type, CAST(SUM(y) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM base GROUP BY event_type
    ),
    enc AS (
      SELECT b.y,
             CAST(ROUND(CAST(g.s AS DOUBLE) / g.n) AS BIGINT) AS xn,
             CAST(ROUND(CAST(g.s - b.y AS DOUBLE) / (g.n - 1)) AS BIGINT)
               AS xl
      FROM base b JOIN grp g USING (event_type) WHERE g.n >= 2
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(xn) AS VARCHAR) AS DOUBLE) AS sxn,
             CAST(CAST(SUM(xn * xn) AS VARCHAR) AS DOUBLE) AS sxnn,
             CAST(CAST(SUM(y * xn) AS VARCHAR) AS DOUBLE) AS syxn,
             CAST(CAST(SUM(xl) AS VARCHAR) AS DOUBLE) AS sxl,
             CAST(CAST(SUM(xl * xl) AS VARCHAR) AS DOUBLE) AS sxll,
             CAST(CAST(SUM(y * xl) AS VARCHAR) AS DOUBLE) AS syxl
      FROM enc
    )
    SELECT n AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM grp WHERE n >= 2)
             AS n_groups,
           ROUND((n * syxn - sy * sxn)
                 / SQRT((n * sxnn - sxn * sxn) * (n * syy - sy * sy)), 6)
             AS corr_naive,
           ROUND((n * syxl - sy * sxl)
                 / SQRT((n * sxll - sxl * sxl) * (n * syy - sy * sy)), 6)
             AS corr_loo,
           ROUND(ROUND((n * syxn - sy * sxn)
                 / SQRT((n * sxnn - sxn * sxn) * (n * syy - sy * sy)), 6)
                 - ROUND((n * syxl - sy * sxl)
                 / SQRT((n * sxll - sxl * sxl) * (n * syy - sy * sy)), 6), 6)
             AS leakage_delta
    FROM s
    """,
    doc="Leave-one-out target encoding audit — the leakage-free "
    "categorical encoding of ML feature pipelines, with the leakage "
    "MEASURED rather than assumed: every event's type is encoded as "
    "(a) the naive group mean of the target (which contains the row's "
    "own label — train-time leakage) and (b) the leave-one-out mean "
    "(group sum minus own label over n-1), and the query reports "
    "corr(target, encode) for both; the naive-minus-LOO delta IS the "
    "per-row self-correlation the naive encode would leak into "
    "training. Scale shape: one map-side-combinable group aggregate, "
    "the O(groups) table broadcast back onto the row stream "
    "(zero-shuffle projection), one moment aggregate; all moment sums "
    "are integer-tick (value x100, encodes rounded to the same tick) "
    "carried exactly, converted to double once via the VARCHAR route, "
    "then one identical IEEE formula per engine.",
)
def target_encoding_loo(spark, sf_dir):
    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("y"),
        )
    )
    grp = base.groupBy("event_type").agg(
        F.sum("y").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    enc = (
        base.join(F.broadcast(grp.filter(F.col("n") >= 2)), "event_type")
        .select(
            "y",
            F.round(F.col("s").cast("double") / F.col("n"))
            .cast("bigint")
            .alias("xn"),
            F.round(
                (F.col("s") - F.col("y")).cast("double") / (F.col("n") - 1)
            )
            .cast("bigint")
            .alias("xl"),
        )
    )
    dsum = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    s = enc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("xn")).alias("sxn"),
        dsum(F.col("xn") * F.col("xn")).alias("sxnn"),
        dsum(F.col("y") * F.col("xn")).alias("syxn"),
        dsum(F.col("xl")).alias("sxl"),
        dsum(F.col("xl") * F.col("xl")).alias("sxll"),
        dsum(F.col("y") * F.col("xl")).alias("syxl"),
    )
    ngroups = grp.filter(F.col("n") >= 2).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups")
    )
    corr_naive = F.round(
        (F.col("n") * F.col("syxn") - F.col("sy") * F.col("sxn"))
        / F.sqrt(
            (F.col("n") * F.col("sxnn") - F.col("sxn") * F.col("sxn"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
        6,
    )
    corr_loo = F.round(
        (F.col("n") * F.col("syxl") - F.col("sy") * F.col("sxl"))
        / F.sqrt(
            (F.col("n") * F.col("sxll") - F.col("sxl") * F.col("sxl"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
        6,
    )
    return s.crossJoin(F.broadcast(ngroups)).select(
        F.col("n").alias("n_rows"),
        "n_groups",
        corr_naive.alias("corr_naive"),
        corr_loo.alias("corr_loo"),
        F.round(corr_naive - corr_loo, 6).alias("leakage_delta"),
    )


@register(
    "kaplan_meier_conversion",
    """
    WITH sec AS (
      SELECT user_id, event_type,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s
      FROM events
    ),
    per_user AS (
      SELECT user_id, MIN(s) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN s END) AS tp
      FROM sec GROUP BY user_id
    ),
    flagged AS (
      SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 3600
                  ELSE ((SELECT MAX(s) FROM sec) - t0) // 3600 END AS dur,
             CASE WHEN tp IS NOT NULL THEN 0 ELSE 1 END AS censored
      FROM per_user
    ),
    exits AS (
      SELECT dur,
             CAST(COUNT(*) AS BIGINT) AS e,
             CAST(SUM(1 - censored) AS BIGINT) AS d,
             CAST(SUM(censored) AS BIGINT) AS c
      FROM flagged GROUP BY dur
    ),
    risk AS (
      SELECT dur, d, c,
             CAST((SELECT COUNT(*) FROM flagged)
               - COALESCE(SUM(e) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM exits
    ),
    terms AS (
      SELECT dur, n_risk, d, c,
             CASE WHEN d < n_risk
                  THEN CAST(CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE) / n_risk),
                                       12) AS VARCHAR) AS DECIMAL(38,12))
                  ELSE CAST(0 AS DECIMAL(38,12)) END AS lns,
             CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dies_out
      FROM risk
    )
    SELECT dur AS t_hours, n_risk, d AS n_converted, c AS n_censored,
           ROUND(CASE WHEN SUM(dies_out) OVER (ORDER BY dur) > 0 THEN 0.0
                      ELSE exp(CAST(CAST(SUM(lns) OVER (ORDER BY dur)
                                         AS VARCHAR) AS DOUBLE)) END, 6)
             AS surv_unconverted
    FROM terms
    ORDER BY t_hours
    """,
    doc="Kaplan-Meier time-to-first-purchase — survival analysis as "
    "dataflow, WITH right-censoring: users who never purchase are "
    "censored at (corpus end - first activity) instead of being "
    "dropped, which is exactly the bias in funnel_time_to_convert's "
    "converters-only latency (that query measures 'how fast do "
    "converters convert'; this one measures 'how likely is anyone to "
    "have converted by hour t' — the two disagree whenever slow "
    "prospects are still open at the observation edge). Hour-grain "
    "durations, risk sets from one cumulative walk over O(distinct "
    "hours) rows, S(t) = prod(1 - d_i/n_i) as exp of a "
    "DECIMAL(38,12) cumulative sum of 12-dp ln terms "
    "(order-independent where a float product is not), d = n_risk "
    "boundary pinned to exact 0. Scale shape: the stream reduces to "
    "O(users) in one map-side-combinable aggregate, then to "
    "O(distinct durations); the windows walk a bounded series.",
)
def kaplan_meier_conversion(spark, sf_dir):
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    sec = ev.select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("s")
    )
    per_user = sec.groupBy("user_id").agg(
        F.min("s").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("s"))).alias(
            "tp"
        ),
    )
    corpus = sec.agg(
        F.max("s").alias("cmax"),
    )
    n_users = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    flagged = per_user.crossJoin(F.broadcast(corpus)).select(
        F.when(
            F.col("tp").isNotNull(),
            F.floor((F.col("tp") - F.col("t0")) / 3600),
        )
        .otherwise(F.floor((F.col("cmax") - F.col("t0")) / 3600))
        .cast("bigint")
        .alias("dur"),
        F.when(F.col("tp").isNotNull(), 0).otherwise(1).alias("censored"),
    )
    exits = (
        flagged.groupBy("dur")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("e"),
            F.sum(1 - F.col("censored")).cast("bigint").alias("d"),
            F.sum("censored").cast("bigint").alias("c"),
        )
        .crossJoin(F.broadcast(n_users))
    )
    prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    upto = Window.orderBy("dur")
    risk = exits.select(
        "dur",
        "d",
        "c",
        (
            F.col("n_users")
            - F.coalesce(F.sum("e").over(prev), F.lit(0))
        ).cast("bigint").alias("n_risk"),
    )
    lns = (
        F.when(
            F.col("d") < F.col("n_risk"),
            F.round(
                F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
                12,
            ).cast("decimal(38,12)"),
        ).otherwise(F.lit(0).cast("decimal(38,12)"))
    )
    terms = risk.select(
        "dur",
        "n_risk",
        "d",
        "c",
        lns.alias("lns"),
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0).alias("dies_out"),
    )
    return terms.select(
        F.col("dur").alias("t_hours"),
        "n_risk",
        F.col("d").alias("n_converted"),
        F.col("c").alias("n_censored"),
        F.round(
            F.when(F.sum("dies_out").over(upto) > 0, F.lit(0.0)).otherwise(
                F.exp(F.sum("lns").over(upto).cast("double"))
            ),
            6,
        ).alias("surv_unconverted"),
    ).orderBy("t_hours")


# Shared by wasserstein_value_drift (batch) and
# streaming_wasserstein_ingest (the same statistic folded at ingest —
# per-tick counts are additive, so the drained monitor must equal this
# batch answer bit-for-bit under any batching).
_W1_SQL = """
    WITH tagged AS (
      SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN 'a' ELSE 'b' END AS grp,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    counts AS (
      SELECT v,
             SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS cb
      FROM tagged GROUP BY v
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM counts
    ),
    cum AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v) AS fa,
             SUM(cb) OVER (ORDER BY v) AS fb,
             LEAD(v) OVER (ORDER BY v) AS v_next
      FROM counts
    ),
    num AS (
      SELECT SUM(abs(CAST(fa AS HUGEINT) * nb - CAST(fb AS HUGEINT) * na)
                 * (v_next - v)) AS w1num
      FROM cum, tot WHERE v_next IS NOT NULL
    )
    SELECT tot.na AS n_a, tot.nb AS n_b,
           ROUND(CAST(CAST(num.w1num AS VARCHAR) AS DOUBLE)
                 / (tot.na * CAST(tot.nb AS DOUBLE) * 100.0), 6) AS w1,
           ROUND(CAST(CAST(num.w1num AS VARCHAR) AS DOUBLE)
                 / (tot.na * CAST(tot.nb AS DOUBLE)
                    * ((SELECT MAX(v) FROM counts)
                       - (SELECT MIN(v) FROM counts))), 6) AS w1_norm
    FROM tot, num
    """


def w1_from_counts(counts):
    """Exact W1 from a per-tick (v, ca, cb) counts table — the shared
    tail of the batch drift query and the streaming ingest monitor
    (streaming/windows.run_streaming_w1_ingest): one window over
    O(distinct ticks) rows, a broadcast 1-row total, and an all-integer
    numerator sum |fa*nb - fb*na| * tick_gap carried as DECIMAL(38,0)
    until the two final divisions."""
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    tot = counts.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.max("v").alias("vmax"),
        F.min("v").alias("vmin"),
    )
    w = Window.orderBy("v")
    cum = counts.select(
        "v",
        F.sum("ca").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("fa"),
        F.sum("cb").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("fb"),
        F.lead("v").over(w).alias("v_next"),
    )
    num = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("v_next").isNotNull())
        .select(
            (
                F.abs(
                    F.col("fa").cast(dec) * F.col("nb")
                    - F.col("fb").cast(dec) * F.col("na")
                )
                * (F.col("v_next") - F.col("v"))
            ).alias("term")
        )
        .agg(F.sum("term").alias("w1num"))
    )
    return (
        tot.crossJoin(F.broadcast(num))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.round(
                F.col("w1num").cast("double")
                / (F.col("na") * F.col("nb").cast("double") * 100.0),
                6,
            ).alias("w1"),
            F.round(
                F.col("w1num").cast("double")
                / (
                    F.col("na")
                    * F.col("nb").cast("double")
                    * (F.col("vmax") - F.col("vmin"))
                ),
                6,
            ).alias("w1_norm"),
        )
    )


@register(
    "wasserstein_value_drift",
    _W1_SQL,
    doc="EXACT two-sample Wasserstein-1 (earth-mover) drift on the event "
    "value distribution, same temporal split as ks_two_sample_drift — "
    "the INTEGRAL companion to KS's supremum: W1 = integral |F_a - F_b| "
    "accumulates every part of the distribution shift, so it sees "
    "mass moved in the tails that a single crossing-point statistic "
    "underweights, and it carries units (average value displacement). "
    "Fully integer until the final division: values on the corpus's "
    "cent grid, W1 numerator = sum |fa*nb - fb*na| * tick_gap in "
    "128-bit integers — zero float accumulation, bit-identical at any "
    "partitioning. Scale: one count per distinct tick (map-side "
    "combine, state bounded by the value domain), one window over "
    "O(ticks) rows, one scalar aggregate; w1_norm divides by the "
    "observed range for a scale-free 0-1 number.",
)
def wasserstein_value_drift(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    tagged = ev.select(
        F.when(
            F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"), "a"
        )
        .otherwise("b")
        .alias("grp"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    counts = tagged.groupBy("v").agg(
        F.sum((F.col("grp") == "a").cast("int")).alias("ca"),
        F.sum((F.col("grp") == "b").cast("int")).alias("cb"),
    )
    return w1_from_counts(counts)


_EWMA_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(CAST(CAST(SUM(CAST(CAST(value AS VARCHAR)
                                      AS DECIMAL(38,12))) AS VARCHAR)
                        AS DOUBLE), 6) AS x
      FROM events GROUP BY event_type, day
    ),
    idx AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY day) AS r
      FROM daily
    ),
    s AS (
      SELECT t.event_type, t.r,
             CAST(CAST(SUM(CAST(ROUND(
                 (CASE WHEN i.r = 1
                       THEN ROUND(pow(0.7, t.r - 1), 12)
                       ELSE 0.3 * ROUND(pow(0.7, t.r - i.r), 12)
                  END) * i.x, 12) AS DECIMAL(38,12))) AS VARCHAR)
                  AS DOUBLE) AS ew
      FROM idx t JOIN idx i
        ON i.event_type = t.event_type AND i.r <= t.r
      GROUP BY t.event_type, t.r
    ),
    resid AS (
      SELECT t.event_type, t.r, ROUND(t.x - s.ew, 12) AS rr
      FROM idx t JOIN s
        ON s.event_type = t.event_type AND s.r = t.r - 1
    ),
    sig AS (
      SELECT event_type,
             COUNT(*) AS nr,
             CAST(CAST(SUM(CAST(CAST(rr AS VARCHAR) AS DECIMAL(38,12)))
                  AS VARCHAR) AS DOUBLE) AS sr,
             CAST(CAST(SUM(CAST(CAST(ROUND(rr * rr, 12) AS VARCHAR)
                                AS DECIMAL(38,12))) AS VARCHAR)
                  AS DOUBLE) AS sr2,
             ROUND(MAX(abs(rr)), 6) AS max_abs_resid
      FROM resid GROUP BY event_type
    ),
    sd AS (
      SELECT event_type, nr, max_abs_resid,
             sqrt((sr2 - sr * sr / nr) / NULLIF(nr - 1, 0)) AS sigma
      FROM sig
    ),
    flags AS (
      SELECT r.event_type,
             CAST(SUM(CASE WHEN abs(r.rr) > 3 * d.sigma
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_flags
      FROM resid r JOIN sd d USING (event_type)
      GROUP BY r.event_type
    ),
    last AS (
      SELECT s.event_type, s.ew
      FROM s JOIN (SELECT event_type, MAX(r) AS mr FROM idx
                   GROUP BY event_type) m
        ON m.event_type = s.event_type AND s.r = m.mr
    )
    SELECT d.event_type,
           CAST(d.nr + 1 AS BIGINT) AS n_days,
           f.n_flags,
           ROUND(d.sigma, 6) AS sigma_resid,
           d.max_abs_resid,
           ROUND(l.ew, 6) AS last_ewma
    FROM sd d
    JOIN flags f USING (event_type)
    JOIN last l USING (event_type)
    ORDER BY d.event_type
    """


@register(
    "ewma_anomaly_flags",
    _EWMA_SQL,
    doc="EWMA CONTROL CHART over the daily value series per event type "
    "(Roberts 1959; the monitoring layer beside cusum_changepoint's "
    "level-shift detector): s_t = alpha*x_t + (1-alpha)*s_(t-1) with "
    "alpha=0.3 and s_1=x_1, each day's residual x_t - s_(t-1) tested "
    "against 3 sigma of the residual distribution.  The recursion is "
    "evaluated in CLOSED FORM as a pair join over day indices "
    "(w = alpha*(1-alpha)^(t-i), the i=1 term keeps the (1-alpha)^(t-1) "
    "seed weight) — O(days^2) rows per type where days is CALENDAR-"
    "bounded (a decade is ~3.7k days -> 13M pairs per type, trivially "
    "partitioned by type), never scaling with event rows: the corpus "
    "reduces map-side to the daily table first.  Engine-exactness: "
    "daily x and every weighted term rounded 12 dp and DECIMAL-summed "
    "(order-independent); pow() ulp drift dies in the 12-dp weight "
    "round; sigma via the sum/sum-of-squares identity in double from "
    "two exact decimal sums (NULLIF on n-1: a 2-day series has one "
    "residual and no variance).  Flag compares run on bit-identical "
    "doubles, so both engines flag the same days.",
)
def ewma_anomaly_flags(spark, sf_dir):
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.functions.exact import sum_exact

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(sum_exact("value"), 6).alias("x"))
    idx = daily.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("day")
        ),
    )
    t = idx.select(
        F.col("event_type"), F.col("r").alias("tr"), F.col("x").alias("tx")
    )
    i = idx.select(
        F.col("event_type").alias("ie"),
        F.col("r").alias("ir"),
        F.col("x").alias("ix"),
    )
    w = F.when(
        F.col("ir") == 1, F.round(F.pow(F.lit(0.7), F.col("tr") - 1), 12)
    ).otherwise(
        F.lit(0.3) * F.round(F.pow(F.lit(0.7), F.col("tr") - F.col("ir")), 12)
    )
    s = (
        t.join(
            i,
            (F.col("ie") == F.col("event_type")) & (F.col("ir") <= F.col("tr")),
        )
        .select(
            "event_type",
            "tr",
            F.round(w * F.col("ix"), 12).cast("decimal(38,12)").alias("term"),
        )
        .groupBy("event_type", "tr")
        .agg(F.sum("term").cast("double").alias("ew"))
    )
    resid = (
        idx.join(
            s.select(
                F.col("event_type").alias("se"),
                (F.col("tr") + 1).alias("nr_next"),
                "ew",
            ),
            (F.col("se") == F.col("event_type"))
            & (F.col("nr_next") == F.col("r")),
        )
        .select("event_type", "r", F.round(F.col("x") - F.col("ew"), 12).alias("rr"))
    )
    sig = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nr"),
        F.sum(F.col("rr").cast("decimal(38,12)")).cast("double").alias("sr"),
        F.sum(F.round(F.col("rr") * F.col("rr"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sr2"),
        F.round(F.max(F.abs("rr")), 6).alias("max_abs_resid"),
    )
    sd = sig.select(
        "event_type",
        "nr",
        "max_abs_resid",
        F.sqrt(
            (F.col("sr2") - F.col("sr") * F.col("sr") / F.col("nr"))
            / F.nullif((F.col("nr") - 1).cast("double"), F.lit(0.0))
        ).alias("sigma"),
    )
    flags = (
        resid.join(F.broadcast(sd.select("event_type", "sigma")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.abs("rr") > 3 * F.col("sigma"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flags")
        )
    )
    mr = idx.groupBy("event_type").agg(F.max("r").alias("mr")).select(
        F.col("event_type").alias("me"), "mr"
    )
    last = s.join(
        mr, (F.col("tr") == F.col("mr")) & (F.col("event_type") == F.col("me"))
    ).select(F.col("event_type").alias("le"), F.col("ew").alias("lew"))
    return (
        sd.join(flags, "event_type")
        .join(last, F.col("le") == F.col("event_type"))
        .select(
            "event_type",
            (F.col("nr") + 1).cast("bigint").alias("n_days"),
            "n_flags",
            F.round(F.col("sigma"), 6).alias("sigma_resid"),
            "max_abs_resid",
            F.round(F.col("lew"), 6).alias("last_ewma"),
        )
        .orderBy("event_type")
    )


@register(
    "markov_sequence_anomaly",
    """
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    ut AS (
      SELECT user_id, from_type, to_type, COUNT(*) AS n_u
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY user_id, from_type, to_type
    ),
    t AS (
      SELECT from_type, to_type, SUM(n_u) AS n
      FROM ut GROUP BY from_type, to_type
    ),
    rt AS (SELECT from_type, SUM(n) AS row_n FROM t GROUP BY from_type),
    nt AS (SELECT COUNT(DISTINCT event_type) AS k FROM events),
    p AS (
      SELECT t.from_type, t.to_type,
             ln((t.n + 1.0) / (rt.row_n + nt.k)) AS logp
      FROM t JOIN rt USING (from_type), nt
    ),
    scored AS (
      SELECT u.user_id, CAST(SUM(u.n_u) AS BIGINT) AS n_trans,
             ROUND(SUM(u.n_u * p.logp) / SUM(u.n_u), 6) AS avg_logp
      FROM ut u
      JOIN p ON u.from_type = p.from_type AND u.to_type = p.to_type
      GROUP BY u.user_id
    )
    SELECT user_id, n_trans, avg_logp
    FROM scored
    ORDER BY avg_logp, user_id
    LIMIT 10
    """,
    doc="MARKOV SEQUENCE ANOMALY: score every user's event sequence by "
    "its average log-likelihood under the corpus's own first-order "
    "transition model (Laplace-smoothed: p(to|from) = (n+1)/(row_n+K), "
    "so unseen transitions stay finite) and surface the 10 least-likely "
    "journeys — the sequence-level consumer of event_type_transitions' "
    "matrix, and the behavioral-anomaly primitive behind bot/fraud "
    "triage (a user whose path fights the learned flow floats to the "
    "top). One lead window per user (hash exchange on user_id), the "
    "O(types^2) model broadcast back onto the transition stream, one "
    "per-user aggregate, and a TakeOrderedAndProject bottom-10 — "
    "O(events) scan work, O(users) aggregate state, never a sequence "
    "materialization.",
)
def markov_sequence_anomaly(spark, sf_dir):
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    # ONE window pass: per-user transition counts are the only corpus-
    # sized aggregate; the global matrix, marginals, and per-user scores
    # all derive from ut without rescanning events.
    ut = seq.groupBy("user_id", "from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_u")
    )
    t = ut.groupBy("from_type", "to_type").agg(F.sum("n_u").alias("n"))
    rt = t.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    nt = ev.agg(F.countDistinct("event_type").alias("k"))
    p = (
        t.join(rt, "from_type")
        .crossJoin(F.broadcast(nt))
        .select(
            "from_type",
            "to_type",
            F.log((F.col("n") + 1.0) / (F.col("row_n") + F.col("k"))).alias(
                "logp"
            ),
        )
    )
    scored = (
        ut.join(F.broadcast(p), ["from_type", "to_type"])
        .groupBy("user_id")
        .agg(
            F.sum("n_u").cast("bigint").alias("n_trans"),
            F.round(
                F.sum(F.col("n_u") * F.col("logp")) / F.sum("n_u"), 6
            ).alias("avg_logp"),
        )
    )
    return scored.select("user_id", "n_trans", "avg_logp").orderBy(
        "avg_logp", "user_id"
    ).limit(10)


# Holt's linear-trend smoothing constants — chosen binary-exact (0.5,
# 0.25, 0.75 are dyadic) so the sequential fold produces bit-identical
# doubles on both engines with no rounding slack inside the recursion.
_HOLT_L = "(0.5 * {y} + 0.5 * ({l} + {b}))"


@register(
    "holt_linear_forecast",
    f"""
    WITH RECURSIVE series AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                  AS INT) AS i,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM series
    ),
    rec AS (
      SELECT event_type, i AS idx, y AS l,
             CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS ae
      FROM idx WHERE i = 1
      UNION ALL
      SELECT r.event_type, x.i,
             {_HOLT_L.format(y='x.y', l='r.l', b='r.b')},
             0.25 * ({_HOLT_L.format(y='x.y', l='r.l', b='r.b')} - r.l)
               + 0.75 * r.b,
             r.ae + abs(x.y - (r.l + r.b))
      FROM rec r
      JOIN idx x ON x.event_type = r.event_type AND x.i = r.idx + 1
    )
    SELECT r.event_type, x.n AS n_days,
           ROUND(r.l, 6) AS level, ROUND(r.b, 6) AS trend,
           ROUND(r.l + 7 * r.b, 6) AS forecast_7,
           ROUND(r.ae / (x.n - 1), 6) AS mae_1step
    FROM rec r
    JOIN (SELECT event_type, MAX(i) AS mi, MAX(n) AS n
          FROM idx GROUP BY event_type) x
      ON x.event_type = r.event_type AND r.idx = x.mi
    WHERE x.n >= 2
    ORDER BY r.event_type
    """,
    doc="HOLT LINEAR-TREND FORECAST per event type over the daily count "
    "series: level/trend double-exponential smoothing (alpha=0.5, "
    "beta=0.25 — dyadic constants, so the sequential recurrence is "
    "bit-identical IEEE arithmetic on both engines), one-step-ahead MAE "
    "accumulated in the same fold as the in-sample fit signal, and a "
    "7-day-ahead linear forecast l + 7b — the capacity-planning / "
    "trend-monitoring primitive over any keyed event stream. Scale "
    "shape: the corpus reduces by ONE hash aggregate to per-(type, day) "
    "counts, so the fold input is O(types x days) — bounded by the "
    "calendar, never by event volume; each series then folds "
    "sequentially inside F.aggregate over its sorted array (a few "
    "hundred steps), with no window over raw events and no driver "
    "collect. Oracle replays the identical recurrence as a recursive "
    "CTE joined against the indexed series.",
)
def holt_linear_forecast(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    series = (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("d")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    arr = F.array_sort(F.collect_list(F.struct("d", "y")))
    folded = series.groupBy("event_type").agg(arr.alias("s"))

    def _l_new(acc, x):
        return 0.5 * x["y"] + 0.5 * (acc["l"] + acc["b"])

    def merge(acc, x):
        return F.struct(
            _l_new(acc, x).alias("l"),
            (0.25 * (_l_new(acc, x) - acc["l"]) + 0.75 * acc["b"]).alias("b"),
            (acc["ae"] + F.abs(x["y"] - (acc["l"] + acc["b"]))).alias("ae"),
        )

    first = F.element_at(F.col("s"), 1)
    init = F.struct(
        first["y"].alias("l"), F.lit(0.0).alias("b"), F.lit(0.0).alias("ae")
    )
    out = folded.select(
        "event_type",
        F.size("s").cast("bigint").alias("n_days"),
        F.aggregate(
            F.expr("slice(s, 2, size(s) - 1)"), init, merge
        ).alias("st"),
    ).filter(F.col("n_days") >= 2)
    return out.select(
        "event_type",
        "n_days",
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        F.round(F.col("st.l") + 7 * F.col("st.b"), 6).alias("forecast_7"),
        F.round(F.col("st.ae") / (F.col("n_days") - 1), 6).alias("mae_1step"),
    ).orderBy("event_type")


# Centered normal-equation solve shared textually by both engines: the
# sufficient statistics arrive integer-exact (2-dp tick x100, 128-bit
# sums), every derived double is the IDENTICAL expression tree on both
# sides, so b0/b1/b2/r2 match bit-for-bit before the ROUND — the
# ab_welch_ttest discipline extended to a 2-feature OLS.
_OLS_DERIVE = """
      SELECT event_type, n,
             sx1 / n AS mx1, sx2 / n AS mx2, sy / n / 100.0 AS my,
             s11 - sx1 * sx1 / n AS c11,
             s22 - sx2 * sx2 / n AS c22,
             s12 - sx1 * sx2 / n AS c12,
             (s1y - sx1 * sy / n) / 100.0 AS c1y,
             (s2y - sx2 * sy / n) / 100.0 AS c2y,
             (syy - sy * sy / n) / 10000.0 AS cyy
      FROM s
"""


@register(
    "grouped_ols_regression",
    f"""
    WITH base AS (
      SELECT event_type,
             CAST(hour(ts) AS BIGINT) AS x1,
             CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS x2,
             CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(x1) AS VARCHAR) AS DOUBLE) AS sx1,
             CAST(CAST(SUM(x2) AS VARCHAR) AS DOUBLE) AS sx2,
             CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x1 * x1) AS VARCHAR) AS DOUBLE) AS s11,
             CAST(CAST(SUM(x2 * x2) AS VARCHAR) AS DOUBLE) AS s22,
             CAST(CAST(SUM(x1 * x2) AS VARCHAR) AS DOUBLE) AS s12,
             CAST(CAST(SUM(x1 * y) AS VARCHAR) AS DOUBLE) AS s1y,
             CAST(CAST(SUM(x2 * y) AS VARCHAR) AS DOUBLE) AS s2y,
             CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy
      FROM base GROUP BY event_type
    ),
    d AS ({_OLS_DERIVE}),
    fit AS (
      SELECT event_type, n, mx1, mx2, my, c1y, c2y, cyy,
             (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
             (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
      FROM d
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(my - b1 * mx1 - b2 * mx2, 6) AS b0,
           ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2,
           ROUND((b1 * c1y + b2 * c2y) / cyy, 6) AS r2
    FROM fit
    ORDER BY event_type
    """,
    doc="GROUPED MULTIVARIATE OLS (closed form): per event type, fit "
    "value ~ b0 + b1*hour + b2*day_of_week by solving the centered 2x2 "
    "normal equations with Cramer's rule, plus in-sample R^2 — the "
    "regression complement of grouped_linear_trend (one regressor) and "
    "corr_by_group (no fit). All ten sufficient statistics are "
    "INTEGER-EXACT (value on the 2-dp tick grid x100; y*y sums in "
    "128-bit decimal, VARCHAR-routed to double exactly as "
    "ab_welch_ttest), and every derived double evaluates the identical "
    "expression tree on both engines, so coefficients match bit-for-bit "
    "before the ROUND. Scale: ONE map-side-combined aggregate — only "
    "(n, sums) tuples cross the network, never rows; the solve is "
    "per-group scalar arithmetic. The pattern extends to any fixed "
    "feature count (the normal-equation matrix is feature^2 sums, "
    "gathered in the same single pass).",
)
def grouped_ols_regression(spark, sf_dir):
    dec = "decimal(38,0)"
    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.hour("ts").cast("bigint").alias("x1"),
            (F.dayofweek(F.to_date("ts")) - 1).cast("bigint").alias("x2"),
            F.round(F.col("value") * 100).cast("bigint").cast(dec).alias("y"),
        )
    )
    vd = lambda c: F.sum(c).cast(dec).cast("double")  # noqa: E731
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        vd(F.col("x1")).alias("sx1"),
        vd(F.col("x2")).alias("sx2"),
        vd(F.col("y")).alias("sy"),
        vd(F.col("x1") * F.col("x1")).alias("s11"),
        vd(F.col("x2") * F.col("x2")).alias("s22"),
        vd(F.col("x1") * F.col("x2")).alias("s12"),
        vd((F.col("x1") * F.col("y")).cast(dec)).alias("s1y"),
        vd((F.col("x2") * F.col("y")).cast(dec)).alias("s2y"),
        vd((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    d = s.select(
        "event_type",
        "n",
        (F.col("sx1") / F.col("n")).alias("mx1"),
        (F.col("sx2") / F.col("n")).alias("mx2"),
        (F.col("sy") / F.col("n") / 100.0).alias("my"),
        (F.col("s11") - F.col("sx1") * F.col("sx1") / F.col("n")).alias("c11"),
        (F.col("s22") - F.col("sx2") * F.col("sx2") / F.col("n")).alias("c22"),
        (F.col("s12") - F.col("sx1") * F.col("sx2") / F.col("n")).alias("c12"),
        ((F.col("s1y") - F.col("sx1") * F.col("sy") / F.col("n")) / 100.0)
        .alias("c1y"),
        ((F.col("s2y") - F.col("sx2") * F.col("sy") / F.col("n")) / 100.0)
        .alias("c2y"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / 10000.0)
        .alias("cyy"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    fit = d.select(
        "event_type", "n", "mx1", "mx2", "my", "c1y", "c2y", "cyy",
        ((F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y")) / det)
        .alias("b1"),
        ((F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y")) / det)
        .alias("b2"),
    )
    return fit.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("my") - F.col("b1") * F.col("mx1") - F.col("b2") * F.col("mx2"),
            6,
        ).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
        F.round(
            (F.col("b1") * F.col("c1y") + F.col("b2") * F.col("c2y"))
            / F.col("cyy"),
            6,
        ).alias("r2"),
    ).orderBy("event_type")


@register(
    "scd2_dimension_build",
    """
    WITH marked AS (
      SELECT user_id, event_type AS state, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_state
      FROM events WHERE user_id < 10
    ),
    changes AS (
      SELECT user_id, state, ts FROM marked
      WHERE prev_state IS NULL OR state <> prev_state
    ),
    versioned AS (
      SELECT user_id, state, ts AS valid_from,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts) AS INT) AS version,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
      FROM changes
    )
    SELECT user_id, version, state, valid_from, valid_to,
           CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT)
             AS is_current
    FROM versioned
    ORDER BY user_id, version
    """,
    doc="SCD TYPE-2 DIMENSION BUILD from an event stream: per user, "
    "collapse consecutive repeats of the tracked attribute (lag-compare "
    "— only CHANGES open a version), then number versions and close "
    "each interval with the next version's start (lead), leaving the "
    "open version flagged is_current — the classic "
    "valid_from/valid_to/current-flag history table every warehouse "
    "derives from mutation feeds. Sibling of scd2_dimension_history "
    "(queries/sinks.py), which APPLIES a change batch to an existing "
    "dimension (close+insert maintenance); this op DERIVES the full "
    "interval history from a raw event stream, and streaming_cdc_apply "
    "keeps only latest state. Two window "
    "passes over the SAME (user_id) partitioning — one exchange, the "
    "second window reuses the sort; output bounded here to users 0-9 "
    "for the gate. At 100 TB: pure hash-partition-and-sort per user, "
    "no self-join against history, map-side prunable by the change "
    "filter between the windows.",
)
def scd2_dimension_build(spark, sf_dir):
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        F.lag("event_type").over(w).alias("prev_state"),
    )
    changes = marked.filter(
        F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state"))
    )
    wv = Window.partitionBy("user_id").orderBy("ts")
    versioned = changes.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.row_number().over(wv).cast("int").alias("version"),
        F.lead("ts").over(wv).alias("valid_to"),
    )
    return versioned.select(
        "user_id",
        "version",
        "state",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().cast("int").alias("is_current"),
    ).orderBy("user_id", "version")


@register(
    "anova_oneway_value",
    """
    WITH base AS (
      SELECT event_type,
             CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy
      FROM base GROUP BY event_type
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             SUM(n) AS nn,
             SUM(sy) AS sy_all,
             SUM(sy * sy / n) AS sq_within_means,
             SUM(syy) AS syy_all
      FROM s
    ),
    parts AS (
      SELECT k, CAST(nn AS BIGINT) AS n,
             (sq_within_means - sy_all * sy_all / nn) / 10000.0 AS ssb,
             (syy_all - sq_within_means) / 10000.0 AS ssw
      FROM g
    )
    SELECT k, n,
           ROUND(ssb, 6) AS ss_between,
           ROUND(ssw, 6) AS ss_within,
           ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat,
           ROUND(ssb / (ssb + ssw), 6) AS eta_sq
    FROM parts
    """,
    doc="ONE-WAY ANOVA of value across ALL event types: F statistic and "
    "eta-squared effect size from the sum decomposition SSB = sum "
    "sy_g^2/n_g - sy^2/N, SSW = sum syy_g - sum sy_g^2/n_g — the "
    "k-group generalization of ab_welch_ttest's two-group comparison "
    "(same integer-exact discipline: 2-dp tick x100, 128-bit sums, "
    "VARCHAR-routed casts; the k-row combine then evaluates ONE shared "
    "expression tree, so F matches bit-for-bit before the ROUND). "
    "Completes the hypothesis-test shelf: Welch (2 means), chi-square "
    "(2 categorical axes), KS/PSI/MMD/Wasserstein (distribution "
    "drift), ANOVA (k means). Scale: one map-side-combined aggregate "
    "to k (n, sum, sumsq) triples; nothing else touches the corpus. "
    "(Classic ANOVA assumes equal variances — for unequal-variance "
    "pairs ab_welch_ttest is the robust follow-up.)",
)
def anova_oneway_value(spark, sf_dir):
    dec = "decimal(38,0)"
    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").cast(dec).alias("y"),
        )
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").cast(dec).cast("double").alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast(dec).cast("double")
        .alias("syy"),
    )
    g = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").alias("nn"),
        F.sum("sy").alias("sy_all"),
        F.sum(F.col("sy") * F.col("sy") / F.col("n")).alias("sq_within_means"),
        F.sum("syy").alias("syy_all"),
    )
    parts = g.select(
        "k",
        F.col("nn").cast("bigint").alias("n"),
        (
            (F.col("sq_within_means") - F.col("sy_all") * F.col("sy_all") / F.col("nn"))
            / 10000.0
        ).alias("ssb"),
        ((F.col("syy_all") - F.col("sq_within_means")) / 10000.0).alias("ssw"),
    )
    return parts.select(
        "k",
        "n",
        F.round("ssb", 6).alias("ss_between"),
        F.round("ssw", 6).alias("ss_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias("eta_sq"),
    )
