"""Property-based checks on the cleaning operators (SURVEY §5.2.4).

Each Hypothesis example generates a BATCH of synthetic taxi-shaped rows and
runs one Spark job over it, asserting invariants that must hold for every
input, not just the golden fixture:

  * sign_fix is idempotent and only ever touches payment_type ∈ {0,1,2};
  * keep_or_drop never drops a row with trip_distance > 0, and always keeps
    zero-distance rows paid by card/cash (rules 1-2 fire first);
  * time_of_day_slot is total and non-null over hours 0-23 and matches the
    reference's bands (Night 0-5, Morning 6-11, Afternoon 12-16,
    Evening 17-20, LateNight 21-23);
  * fare_validation drops every RatecodeID ∉ {1,2,3,4} (NULL expected fare
    ⇒ NULL predicate ⇒ dropped, §2.9.2);
  * speed_filter silently drops zero-duration rows (x/0.0 → NULL in
    non-ANSI mode, §2.9.5).

max_examples is kept small: one example = one Spark job; the point is
branch-space coverage via shrinking, not volume.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from newyork_taxi_etl_spark.functions.datetime import time_of_day_slot
from newyork_taxi_etl_spark.operators import clean

PAYMENTS = st.sampled_from([0, 1, 2, 3, 4, 6])
RATECODES = st.sampled_from([1, 2, 3, 4, 5, 6, 99])
MONEY = st.floats(
    min_value=-500, max_value=500, allow_nan=False, allow_infinity=False
)

ROW = st.tuples(
    st.floats(min_value=0, max_value=60, allow_nan=False),  # trip_distance
    st.floats(min_value=0, max_value=400, allow_nan=False),  # time_take_min
    PAYMENTS,
    RATECODES,
    MONEY,  # fare_amount
    MONEY,  # tip_amount
)

BATCH = st.lists(ROW, min_size=1, max_size=40)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _df(spark, rows):
    return spark.createDataFrame(
        [
            (float(d), float(m), int(p), int(r), float(f), float(t))
            for d, m, p, r, f, t in rows
        ],
        "trip_distance double, time_take_min double, payment_type int, "
        "RatecodeID int, fare_amount double, tip_amount double",
    )


@settings(**_SETTINGS)
@given(BATCH)
def test_sign_fix_idempotent_and_scoped(spark, rows):
    df = _df(spark, rows)
    cols = ["fare_amount", "tip_amount"]
    once = clean.sign_fix(df, cols)
    twice = clean.sign_fix(once, cols)
    got_once = sorted(map(tuple, once.collect()))
    got_twice = sorted(map(tuple, twice.collect()))
    assert got_once == got_twice  # idempotent
    for row in once.collect():
        if row.payment_type in (0, 1, 2):
            assert row.fare_amount >= 0 and row.tip_amount >= 0
    # untouchable rows pass through bit-identically
    before = {
        (r.trip_distance, r.time_take_min, r.fare_amount, r.tip_amount)
        for r in df.filter(F.col("payment_type").isin(3, 4, 6)).collect()
    }
    after = {
        (r.trip_distance, r.time_take_min, r.fare_amount, r.tip_amount)
        for r in once.filter(F.col("payment_type").isin(3, 4, 6)).collect()
    }
    assert before == after


@settings(**_SETTINGS)
@given(BATCH)
def test_keep_or_drop_scope(spark, rows):
    df = _df(spark, rows)
    kept = clean.keep_or_drop_filter(df)
    # never drops a moving trip
    assert kept.filter(F.col("trip_distance") > 0).count() == df.filter(
        F.col("trip_distance") > 0
    ).count()
    # zero-distance card/cash rows always survive (rules 1-2 fire first)
    zero_card = (F.col("trip_distance") == 0) & F.col("payment_type").isin(1, 2)
    assert kept.filter(zero_card).count() == df.filter(zero_card).count()
    # zero-distance voided/disputed rows never survive (rule 3)
    zero_void = (F.col("trip_distance") == 0) & F.col("payment_type").isin(3, 4, 6)
    assert kept.filter(zero_void).count() == 0


def test_time_of_day_slot_total_over_hours(spark):
    df = spark.range(24).select(
        F.col("id").cast("int").alias("h"),
        F.make_timestamp(
            F.lit(2024), F.lit(1), F.lit(15), F.col("id"), F.lit(0), F.lit(0)
        ).alias("ts"),
    )
    got = {
        r.h: r.slot
        for r in df.select("h", time_of_day_slot("ts").alias("slot")).collect()
    }
    for h in range(24):
        expected = (
            "Night"
            if h <= 5
            else "Morning"
            if h <= 11
            else "Afternoon"
            if h <= 16
            else "Evening"
            if h <= 20
            else "LateNight"
        )
        assert got[h] == expected, (h, got[h])


@settings(**_SETTINGS)
@given(BATCH)
def test_fare_validation_drops_unknown_ratecodes(spark, rows):
    df = _df(spark, rows)
    kept = clean.fare_validation_filter(df)
    assert kept.filter(~F.col("RatecodeID").isin(1, 2, 3, 4)).count() == 0


@settings(**_SETTINGS)
@given(st.lists(st.floats(min_value=0, max_value=60, allow_nan=False), min_size=1, max_size=20))
def test_speed_filter_drops_zero_duration(spark, distances):
    rows = [(float(d), 0.0, 1, 1, 10.0, 0.0) for d in distances]
    df = _df(spark, rows)
    assert clean.speed_filter(df).count() == 0


def test_spread_fails_closed_without_rdd_probe(spark, tmp_path, monkeypatch):
    """Spark-Connect safety: when `.rdd` is unavailable, spread() must add
    a repartition ONLY on positive file evidence of an under-split input —
    an already-well-split scan and a no-file-signal plan both come back
    untouched (fail closed, never a blind full shuffle)."""
    from pyspark.sql import functions as F

    from newyork_taxi_etl_spark.session import spread

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    many = str(tmp_path / "many")
    spark.range(1000).repartition(n + 2).write.parquet(many)
    one = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(one)

    def raise_rdd(self):
        raise RuntimeError("DataFrame.rdd is not supported on Spark Connect")

    # patch the CONCRETE DataFrame class (classic sessions hand out a
    # subclass whose own `rdd` property shadows the base class)
    monkeypatch.setattr(
        type(spark.read.parquet(many)), "rdd", property(raise_rdd)
    )

    well_split = spark.read.parquet(many)
    assert spread(well_split) is well_split  # >= n files: no-op

    under_split = spread(spark.read.parquet(one))
    assert "Repartition" in under_split._jdf.queryExecution().logical().toString()

    no_signal = spark.createDataFrame([(1,)], "x long").select(F.col("x") + 1)
    assert spread(no_signal) is no_signal  # zero file evidence: fail closed


def test_grouped_moment_stats_partitioning_invariant(spark):
    """The DECIMAL-exact power sums make the moment profile bit-identical
    under any physical layout — 1-partition vs many-partition runs must
    agree to the last rounded digit, and the moments must match an exact
    Python computation from the raw values."""
    from newyork_taxi_etl_spark.registry import queries
    from newyork_taxi_etl_spark.sources.readers import table
    from conftest import SF_SMOKE
    import math

    rows = lambda df: sorted(tuple(r) for r in df.collect())
    base = rows(queries()["grouped_moment_stats"](spark, SF_SMOKE))

    # same computation over deliberately skewed layouts
    import unittest.mock as mock

    from newyork_taxi_etl_spark.queries import profiling as prof

    ev = table(spark, SF_SMOKE, "events")
    for n_part in (1, 13):
        with mock.patch.object(
            prof, "table", lambda s, d, name, n=n_part: ev.repartition(n)
        ):
            got = rows(prof.grouped_moment_stats(spark, SF_SMOKE))
        assert got == base, n_part

    # exact reference: Python integers over the tick-scaled values
    vals = {}
    for r in ev.filter("value IS NOT NULL").select(
        "event_type", "value"
    ).collect():
        y = round(r["value"] * 100)
        vals.setdefault(r["event_type"], []).append(int(y))
    for et, cnt, mean, sd, skew, kurt in base:
        ys = vals[et]
        n = len(ys)
        s1, s2 = sum(ys), sum(y * y for y in ys)
        s3, s4 = sum(y**3 for y in ys), sum(y**4 for y in ys)
        mu = s1 / n
        m2 = (s2 - s1 * s1 / n) / n
        m3 = (s3 - 3 * s2 * mu + 2 * s1 * mu * mu) / n
        m4 = (s4 - 4 * s3 * mu + 6 * s2 * mu * mu - 3 * s1 * mu**3) / n
        assert cnt == n
        assert abs(mean - mu / 100.0) < 1e-6
        assert abs(sd - math.sqrt((s2 - s1 * s1 / n) / (n - 1)) / 100.0) < 1e-6
        assert abs(skew - m3 / (m2 * math.sqrt(m2))) < 1e-5
        assert abs(kurt - (m4 / (m2 * m2) - 3.0)) < 1e-5
