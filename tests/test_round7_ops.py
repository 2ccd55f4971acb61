"""Invariant tests for the round-7 operator additions.

The oracle mirror (tests/test_oracle.py) proves engine agreement; these
pin the SEMANTIC claims the docstrings make, on properties a wrong-but-
consistent implementation could still violate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from newyork_taxi_etl_spark.registry import queries


def test_temperature_mix_flattens_toward_smallest(spark):
    """The smallest language keeps rate 10000 (whole); every larger
    language gets a strictly smaller rate; kept counts respect the rate
    ordering direction (flattening, never amplifying skew)."""
    rows = {
        r["lang"]: r
        for r in queries()["temperature_mix_sampling"](spark, SF_SMOKE).collect()
    }
    smallest = min(rows.values(), key=lambda r: (r["n_docs"], r["lang"]))
    assert smallest["rate_myriad"] == 10000
    for r in rows.values():
        assert 0 < r["rate_myriad"] <= 10000
        if r["n_docs"] > smallest["n_docs"]:
            assert r["rate_myriad"] < 10000
        assert r["n_kept"] <= r["n_docs"]


def test_exact_n_sample_is_exact(spark):
    row = queries()["exact_n_sample"](spark, SF_SMOKE).collect()[0]
    assert row["n_rows"] == 100


def test_winsorized_mean_inside_clip_band(spark):
    """The winsorized mean must sit inside [p05, p95] of its group, and
    at most ~10% of rows may be clipped (5% per tail + tie slack)."""
    from newyork_taxi_etl_spark.sources.readers import table

    ev = table(spark, SF_SMOKE, "events").filter(F.col("value").isNotNull())
    cuts = {
        r["event_type"]: (r["p05"], r["p95"])
        for r in ev.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.05)).alias("p05"),
            F.percentile("value", F.lit(0.95)).alias("p95"),
        )
        .collect()
    }
    for r in queries()["winsorized_group_stats"](spark, SF_SMOKE).collect():
        lo, hi = cuts[r["event_type"]]
        assert lo <= r["winsorized_mean"] <= hi
        assert r["n_clipped"] <= 0.11 * r["cnt"]


def test_quantile_bins_are_roughly_equal(spark):
    """Equal-frequency binning: each quartile bin holds 25% +- tie slack,
    and bin boundaries are monotone (max of bin i < min of bin i+2)."""
    rows = sorted(
        queries()["quantile_binning_feature"](spark, SF_SMOKE).collect(),
        key=lambda r: r["bin"],
    )
    total = sum(r["cnt"] for r in rows)
    assert [r["bin"] for r in rows] == [0, 1, 2, 3]
    for r in rows:
        assert 0.15 * total <= r["cnt"] <= 0.35 * total
    for a, b in zip(rows, rows[1:]):
        assert a["max_chars"] <= b["min_chars"]


def test_nucleus_prefix_is_minimal(spark):
    """The kept prefix covers >= 80%; dropping its last (smallest) user
    must fall below 80% — minimality of the cut."""
    row = queries()["nucleus_user_coverage"](spark, SF_SMOKE).collect()[0]
    assert row["covered_events"] >= 0.8 * row["total_events"]
    from newyork_taxi_etl_spark.sources.readers import table

    ev = table(spark, SF_SMOKE, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "user_id")
        .collect()
    )
    kept = per_user[: row["n_kept_users"]]
    assert sum(r["cnt"] for r in kept[:-1]) < 0.8 * row["total_events"]


def test_bootstrap_ci_brackets_point_estimate(spark):
    """Each group's 95% CI must contain its point mean (64 replicas of a
    2000+-row group cannot all fall on one side), with ci_lo <= ci_hi."""
    for r in queries()["poisson_bootstrap_ci"](spark, SF_SMOKE).collect():
        assert r["ci_lo"] <= r["mean_value"] <= r["ci_hi"]
        assert r["ci_lo"] < r["ci_hi"]


def test_welch_ttest_matches_scipy_formula(spark):
    """Recompute Welch's t in numpy from the raw (2-dp-quantized) data;
    the engine value must match to 1e-9."""
    import numpy as np

    from newyork_taxi_etl_spark.sources.readers import table

    ev = table(spark, SF_SMOKE, "events").filter(F.col("value").isNotNull())
    vals = {
        t: np.round(
            np.array(
                [r["value"] for r in ev.filter(F.col("event_type") == t).collect()]
            )
            * 100
        )
        / 100.0
        for t in ("click", "purchase")
    }
    a, b = vals["click"], vals["purchase"]
    t_ref = (a.mean() - b.mean()) / (
        a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
    ) ** 0.5
    row = queries()["ab_welch_ttest"](spark, SF_SMOKE).collect()[0]
    assert abs(row["t_stat"] - round(t_ref, 6)) <= 2e-6
    assert row["n_a"] == len(a) and row["n_b"] == len(b)


def test_rrf_fused_rank_dominates_single_leg_for_agreed_top(spark):
    """A candidate ranked #1 by BOTH legs must be fused rank 1 (RRF is
    monotone in per-leg ranks)."""
    rows = queries()["rrf_hybrid_retrieval"](spark, SF_SMOKE).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["fused_rank"])
        assert rs[0]["rrf"] == max(r["rrf"] for r in rs)
        assert [r["fused_rank"] for r in rs] == list(range(1, len(rs) + 1))


def test_table_diff_finds_planted_mutations(spark):
    """The reconcile must classify exactly the planted changes: deletes =
    rows with event_id%5000==11, changes = %1000==7 (minus deleted)."""
    from newyork_taxi_etl_spark.sources.readers import table

    ev = table(spark, SF_SMOKE, "events").filter(F.col("value").isNotNull())
    n_del = ev.filter(F.col("event_id") % 5000 == 11).count()
    n_chg = ev.filter(
        (F.col("event_id") % 1000 == 7) & (F.col("event_id") % 5000 != 11)
    ).count()
    row = queries()["table_diff_reconcile"](spark, SF_SMOKE).collect()[0]
    assert row["rows_deleted"] == n_del
    assert row["rows_changed"] == n_chg
    assert row["rows_inserted"] == 0
    assert 0 < row["buckets_dirty"] <= row["buckets_total"]


def test_compliance_delete_removes_only_target_partition(spark, tmp_path):
    """After the rewrite, user 7 is gone, every other row survives, and
    only ONE bucket directory was touched (its files are the newest)."""
    row = queries()["compliance_delete_rewrite"](spark, SF_SMOKE).collect()[0]
    assert row["target_rows_left"] == 0
    assert row["buckets_rewritten"] == 1
    from newyork_taxi_etl_spark.sources.readers import table

    ev = table(spark, SF_SMOKE, "events")
    expected = ev.filter(
        (F.col("user_id") != 7) | F.col("user_id").isNull()
    ).count()
    assert row["rows_after"] == expected


def test_streaming_quantile_sketch_bounds_error(spark):
    """Midpoint estimates from 2-wide buckets can be off by at most half
    a bucket width around the exact quantile."""
    row = queries()["streaming_quantile_sketch"](spark, SF_SMOKE).collect()[0]
    assert abs(row["p50_est"] - row["p50_exact"]) <= 1.0 + 1e-6
    assert abs(row["p99_est"] - row["p99_exact"]) <= 1.0 + 1e-6


def test_quantile_sketch_fold_replay_is_noop(spark, tmp_path):
    """The additive histogram fold must ignore a redelivered batch_id —
    double-applying bucket counts would shift every quantile estimate."""
    from newyork_taxi_etl_spark.sources.readers import table
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_quantile_sketch,
    )

    ev = table(spark, SF_SMOKE, "events")
    out = run_streaming_quantile_sketch(
        spark, ev, str(tmp_path / "stage"), str(tmp_path / "state")
    ).collect()[0]
    # total folded mass must equal the source row count exactly — any
    # replayed batch would inflate it
    n_state = (
        spark.read.parquet(str(tmp_path / "state"))
        .agg(F.sum("cnt").alias("n"))
        .collect()[0]["n"]
    )
    assert n_state == ev.filter(F.col("value").isNotNull()).count()
    assert out["p50_rel_err"] is not None


def test_bootstrap_is_partitioning_invariant(spark):
    """The Poisson draw depends only on (event_id, replica), never on
    partition layout: 1-partition and 64-partition runs must be
    row-identical."""
    base = queries()["poisson_bootstrap_ci"](spark, SF_SMOKE).collect()

    # re-run under a different shuffle parallelism: every draw is a pure
    # function of (event_id, replica), so the layout must not matter
    with_conf = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = queries()["poisson_bootstrap_ci"](spark, SF_SMOKE).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", with_conf)
    assert sorted(map(tuple, base)) == sorted(map(tuple, alt))


def test_rolling_corr_is_bounded(spark):
    """Pearson r must lie in [-1, 1] for every 7-day window, and every
    emitted window must be full (n_days == 7)."""
    rows = queries()["rolling_metric_corr"](spark, SF_SMOKE).collect()
    assert rows, "corpus spans weeks; full windows must exist"
    for r in rows:
        assert r["n_days"] == 7
        assert -1.0 <= r["rolling_corr"] <= 1.0


def test_weekly_growth_first_week_null(spark):
    """The first week has no predecessor: its WoW rates are NULL; all
    other weeks carry finite rates."""
    rows = sorted(
        queries()["weekly_growth_rates"](spark, SF_SMOKE).collect(),
        key=lambda r: r["epoch_week"],
    )
    assert rows[0]["events_wow_pct"] is None
    assert rows[0]["users_wow_pct"] is None
    for r in rows[1:]:
        assert r["events_wow_pct"] is not None


def test_time_travel_versions_diverge_exactly_on_planted_keys(spark):
    row = queries()["time_travel_vacuum"](spark, SF_SMOKE).collect()[0]
    assert row["rows_v0"] == row["rows_current"]          # update, not delete
    assert row["checksum_current"] > row["checksum_v0"]   # +1 per planted key
    assert row["rows_differing"] > 0
    assert row["gens_after_vacuum"] == 1
    assert row["current_intact_after_vacuum"] is True


def test_cdc_apply_final_state_matches_relational(spark):
    """base - deletes + updates, recomputed directly."""
    from newyork_taxi_etl_spark.sources.readers import table_path

    orders = spark.read.parquet(table_path(SF_SMOKE, "orders"))
    row = queries()["streaming_cdc_apply"](spark, SF_SMOKE).collect()[0]
    survivors = orders.filter(F.col("o_orderkey") % 97 != 0)
    assert row["rows_after"] == survivors.count()
    assert row["null_prices"] == 0


def test_late_drop_counts_planted_rows_only(spark):
    row = queries()["streaming_late_drop"](spark, SF_SMOKE).collect()[0]
    assert row["events_dropped_late"] > 0
    assert row["events_emitted"] + row["events_dropped_late"] == (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    )


def test_median_freq_selection_equals_rowlevel_sort(spark):
    """The r8 median rewrite: frequency-based grouped selection must
    return exactly the row_number-formulation value on tie-heavy and
    skewed group sizes (one group 50x the other, many duplicate
    values)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(5)
    rows = [(i, "big", float(rng.choice([1.5, 2.25, 2.25, 3.0, 7.5])))
            for i in range(500)]
    rows += [(1000 + i, "small", float(rng.choice([10.0, 20.0])))
             for i in range(9)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")

    # naive reference: explicit (value, event_id) order, pick ceil(n/2)
    w_val = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_cnt = Window.partitionBy("event_type")
    naive = {
        r["event_type"]: r["value"]
        for r in df.select(
            "event_type", "value",
            F.row_number().over(w_val).alias("pos"),
            F.count(F.lit(1)).over(w_cnt).alias("n"),
        ).filter(F.col("pos") == F.ceil(F.col("n") / 2.0)).collect()
    }

    vfreq = df.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    k = F.ceil(F.col("n") / F.lit(2.0)).cast("bigint")
    fast = {
        r["event_type"]: r["value"]
        for r in vfreq.withColumn("cum", F.sum("c").over(w_cum))
        .withColumn("n", F.sum("c").over(Window.partitionBy("event_type")))
        .filter((F.col("cum") >= k) & ((F.col("cum") - F.col("c")) < k))
        .collect()
    }
    assert fast == naive


def test_mutual_information_known_values(spark):
    """MI sanity on constructed tables: a perfectly DEPENDENT pair has
    MI == H(X) == H(Y) (nmi == 1), an independent uniform pair has
    MI ~= 0 — computed through the same decimal-entropy path the
    registered query uses."""
    import math

    from pyspark.sql import functions as F

    def mi_of(rows):
        df = spark.createDataFrame(rows, "x string, y int")
        obs = df.groupBy("x", "y").agg(F.count(F.lit(1)).alias("o"))
        n = df.count()

        def ent(counts):
            return -sum(c / n * math.log(c / n) for c in counts)

        by_x = [r["c"] for r in obs.groupBy("x").agg(F.sum("o").alias("c")).collect()]
        by_y = [r["c"] for r in obs.groupBy("y").agg(F.sum("o").alias("c")).collect()]
        joint = [r["o"] for r in obs.collect()]
        return ent(by_x), ent(by_y), ent(by_x) + ent(by_y) - ent(joint)

    # dependent: y = f(x), bijective
    dep = [("a", 0)] * 10 + [("b", 1)] * 10 + [("c", 2)] * 10
    hx, hy, mi = mi_of(dep)
    assert abs(mi - hx) < 1e-12 and abs(hx - hy) < 1e-12

    # independent uniform 2x2
    ind = [("a", 0)] * 5 + [("a", 1)] * 5 + [("b", 0)] * 5 + [("b", 1)] * 5
    _, _, mi0 = mi_of(ind)
    assert abs(mi0) < 1e-12
