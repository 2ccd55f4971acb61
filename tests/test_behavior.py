"""Semantic tests for the behavior family on planted event sequences —
the oracles prove engine-equivalence; these prove the operators compute
the intended quantities (funnel ordering, transition normalization,
retention accounting, z-score vs a numpy reference).
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


def _ev(spark, rows):
    # (event_id, ts, user_id, event_type, value)
    return spark.createDataFrame(
        [
            (i, datetime.datetime(2024, 1, d, h), u, t, float(v))
            for i, (d, h, u, t, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


def _funnel(spark, df):
    from newyork_taxi_etl_spark.queries import behavior as B

    per_user = df.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i}")
            for i, s in enumerate(B._STAGES, start=1)
        ]
    )
    return per_user


def test_funnel_requires_strict_stage_order(spark):
    rows = [
        # user 1: full ordered funnel
        (1, 1, 1, "signup", 0), (1, 2, 1, "view", 0),
        (1, 3, 1, "click", 0), (1, 4, 1, "purchase", 0),
        # user 2: purchase BEFORE click -> reaches stage 3 only
        (2, 1, 2, "signup", 0), (2, 2, 2, "view", 0),
        (2, 4, 2, "click", 0), (2, 3, 2, "purchase", 0),
        # user 3: no signup -> reaches nothing
        (3, 1, 3, "view", 0), (3, 2, 3, "purchase", 0),
    ]
    df = _ev(spark, rows)
    per_user = _funnel(spark, df).collect()
    by_user = {r.user_id: r for r in per_user}
    u1, u2, u3 = by_user[1], by_user[2], by_user[3]
    assert u1.t1 < u1.t2 < u1.t3 < u1.t4
    assert u2.t4 < u2.t3          # the inversion that stops user 2 at stage 3
    assert u3.t1 is None

    # counts through the registered reach logic
    reach = [F.col("t1").isNotNull()]
    for i in range(2, 5):
        reach.append(reach[-1] & (F.col(f"t{i}") > F.col(f"t{i-1}")))
    counts = _funnel(spark, df).agg(
        *[F.sum(F.when(c, 1).otherwise(0)).alias(f"n{i}")
          for i, c in enumerate(reach, start=1)]
    ).collect()[0]
    assert (counts.n1, counts.n2, counts.n3, counts.n4) == (2, 2, 2, 1)


def test_transition_matrix_rows_sum_to_one(spark):
    rows = [
        (1, 1, 1, "view", 0), (1, 2, 1, "click", 0), (1, 3, 1, "view", 0),
        (1, 4, 1, "click", 0), (1, 5, 1, "purchase", 0),
        (2, 1, 2, "view", 0), (2, 2, 2, "view", 0), (2, 3, 2, "error", 0),
    ]
    df = _ev(spark, rows)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = df.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    rt = t.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    p = (
        t.join(rt, "from_type")
        .select("from_type", (F.col("n") / F.col("row_n")).alias("p"))
        .groupBy("from_type")
        .agg(F.round(F.sum("p"), 9).alias("row_sum"))
        .collect()
    )
    assert all(r.row_sum == 1.0 for r in p)
    # no cross-user transition: user1's last event never chains to user2
    pairs = {(r.from_type, r.to_type) for r in t.collect()}
    assert ("purchase", "view") not in pairs


def test_zscore_outliers_match_numpy(spark):
    import numpy as np

    vals = [10.0] * 50 + [1000.0]          # one planted outlier
    rows = [(1, (i % 23) + 1, i % 7, "click", v) for i, v in enumerate(vals)]
    df = _ev(spark, rows)
    from newyork_taxi_etl_spark.functions.exact import sum_exact

    m = df.groupBy("event_type").agg(
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
    ).collect()[0]
    a = np.array(vals)
    assert abs(stats.mu - a.mean()) < 1e-9
    assert abs(stats.sigma - a.std(ddof=1)) < 1e-9
    out = df.crossJoin(
        spark.createDataFrame([(float(stats.mu), float(stats.sigma))], "mu double, sigma double")
    ).filter(F.abs((F.col("value") - F.col("mu")) / F.col("sigma")) > 3)
    assert out.count() == 1 and out.collect()[0].value == 1000.0


def test_cohort_retention_accounting(spark):
    # user 1 first active week 0, active weeks 0 and 2; user 2 cohort week 2
    rows = [
        (1, 1, 1, "view", 0), (15, 1, 1, "view", 0),
        (16, 1, 2, "view", 0), (17, 1, 2, "view", 0),
    ]
    df = _ev(spark, rows)
    epoch = datetime.date(2024, 1, 1)
    wk = df.select(
        "user_id",
        F.floor(F.datediff(F.to_date("ts"), F.lit(epoch)) / F.lit(7))
        .cast("int").alias("week"),
    )
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    got = {
        (r.cohort_week, r.week - r.cohort_week)
        for r in wk.distinct().join(cohort, "user_id").collect()
    }
    assert got == {(0, 0), (0, 2), (2, 0)}


def test_psi_one_sided_bin_uses_smoothed_zero(spark):
    """A bin present only in 'cur' must take p_ref = 0.5/(t_ref+5), not a
    constant — the suppressed-drift bug review caught. Python reference."""
    import math

    # ref period: 40 purchases all in bin 0; cur: 30 in bin 0, 10 in bin 9
    rows = []
    eid = 0
    for i in range(40):
        rows.append((eid, datetime.datetime(2024, 1, 5, i % 24), i % 7, "purchase", 50.0)); eid += 1
    for i in range(30):
        rows.append((eid, datetime.datetime(2024, 1, 20, i % 24), i % 7, "purchase", 50.0)); eid += 1
    for i in range(10):
        rows.append((eid, datetime.datetime(2024, 1, 21, i % 24), i % 7, "purchase", 950.0)); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    import newyork_taxi_etl_spark.queries.behavior as B

    orig = B.table
    B.table = lambda s, d, name: df
    try:
        got = B.psi_value_drift(spark, "ignored").collect()[0]
    finally:
        B.table = orig

    def p(n, t):
        return (n + 0.5) / (t + 5.0)

    expect = 0.0
    for n_ref, n_cur in ((40, 30), (0, 10)):   # bins 0 and 9
        pr, pc = p(n_ref, 40), p(n_cur, 40)
        expect += round((pc - pr) * math.log(pc / pr), 12)
    assert got.n_bins == 2
    assert abs(got.psi - round(expect, 6)) < 1e-9
    assert got.psi > 0.5            # real drift reads LARGE, not suppressed
