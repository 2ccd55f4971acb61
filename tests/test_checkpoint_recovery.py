"""Checkpoint-restart contract: the registered query's oracle proves the
restarted drain added ONLY the new files; these tests pin that the check is
actually discriminating (a restart that LOSES the checkpoint double-counts)
and that phase 2 really ran incremental batches rather than one big one.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_recovery_equals_batch_and_fresh_ckpt_double_counts(spark):
    from newyork_taxi_etl_spark.sources.readers import table
    from newyork_taxi_etl_spark.streaming.windows import (
        _run_drain,
        _stream_stage,
        _upsert_counts_fn,
        run_checkpoint_recovery,
    )

    ev = table(spark, SF_SMOKE, "events")
    with tempfile.TemporaryDirectory() as d:
        out = run_checkpoint_recovery(spark, ev, d).collect()
        want = {
            r["user_id"]: (r["n"], round(r["s"], 6))
            for r in ev.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(38,12)"))
                .cast("double")
                .alias("s"),
            )
            .collect()
        }
        got = {
            r["user_id"]: (r["n_events"], round(r["total_value"], 6))
            for r in out
        }
        assert got == want

        # phase 2 appended 4 files and the commit log shows BOTH phases'
        # batches (>= 5 commits total: 4 phase-1 files + phase-2 files)
        commits = os.listdir(str(Path(d) / "ckpt" / "commits"))
        assert len([c for c in commits if not c.endswith(".tmp")]) >= 5

        # SINCE r7 the fold carries an applied-batch sidecar (the parquet
        # analog of Delta txnAppId/txnVersion): a FRESH checkpoint re-reads
        # every stage file, but its batch ids 0..7 are all in the applied
        # log, so every redelivered fold is a no-op and the state is
        # UNCHANGED — the at-least-once redelivery hazard this test used to
        # demonstrate is closed.
        stage = str(Path(d) / "stage")
        target = str(Path(d) / "target")

        def fresh_drain(ckpt_name):
            _run_drain(
                _stream_stage(spark, ev.schema, stage, 1),
                4,
                _upsert_counts_fn(target),
                checkpoint=str(Path(d) / ckpt_name),
            )
            return {
                r["user_id"]: r["n_events"]
                for r in spark.read.parquet(target).collect()
            }

        replayed = fresh_drain("ckpt_fresh")
        assert all(
            replayed[u] == want[u][0] for u in want
        ), "guarded replays must be no-ops (state unchanged)"

        # NEGATIVE CONTROL — delete the applied-batch sidecar: the guard is
        # gone, every stage file re-folds, and the counts double.  Proves
        # the sidecar (not the checkpoint) is what closes the replay hole —
        # the failure mode the registered query's oracle would catch.
        os.remove(os.path.join(target, "_applied_batches"))
        doubled = fresh_drain("ckpt_fresh2")
        assert all(
            doubled[u] == 2 * want[u][0] for u in want
        ), "without the sidecar a fresh checkpoint must double-count"


def test_upsert_fold_is_nullsafe_on_key(spark, tmp_path):
    """A NULL user_id group FOLDS across micro-batches (eqNullSafe merge,
    ADVICE r6) — a null-rejecting join would leave one duplicate NULL row
    per batch, i.e. unbounded state growth under dirty keys at scale."""
    import pyspark.sql.functions as F

    from newyork_taxi_etl_spark.streaming.windows import _upsert_counts_fn

    target = str(tmp_path / "state")
    fold = _upsert_counts_fn(target)
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id bigint, value double"
    )
    fold(mk([(None, 1.0), (None, 2.0), (7, 10.0)]), 0)
    fold(mk([(None, 4.0), (7, 1.0), (8, 5.0)]), 1)
    fold(mk([(None, 4.0), (7, 1.0), (8, 5.0)]), 1)  # replayed: no-op

    state = {
        r["user_id"]: (r["n_events"], float(r["sum_value"]))
        for r in spark.read.parquet(target).collect()
    }
    assert len(state) == 3  # exactly ONE NULL-key row, not one per batch
    assert state[None] == (3, 7.0)
    assert state[7] == (2, 11.0)
    assert state[8] == (1, 5.0)


def test_swap_crash_between_renames_recovers_from_tombstone(spark, tmp_path):
    """If the process dies between _swap_dir's two renames, the tombstone
    holds the only surviving generation (live dir missing).  The next fold
    must resume from IT — not silently restart from empty state and then
    GC the survivor (r8 ADVICE).  Simulate the crash point by renaming the
    live state aside, then fold one more batch."""
    from newyork_taxi_etl_spark.streaming.windows import (
        _applied_batch_ids,
        _upsert_counts_fn,
    )
    import os

    target = str(tmp_path / "state")
    fold = _upsert_counts_fn(target)
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id bigint, value double"
    )
    fold(mk([(7, 10.0)]), 0)
    # crash point: old generation renamed aside, new never renamed in
    os.rename(target, target + "_tombstone")
    assert _applied_batch_ids(target) == {0}  # recovery at the choke-point
    assert os.path.exists(target)
    assert not os.path.exists(target + "_tombstone")
    fold(mk([(7, 1.0), (8, 5.0)]), 1)
    fold(mk([(7, 1.0), (8, 5.0)]), 1)  # replay: sidecar survived recovery
    state = {
        r["user_id"]: (r["n_events"], float(r["sum_value"]))
        for r in spark.read.parquet(target).collect()
    }
    assert state[7] == (2, 11.0)  # batch-0 state survived the crash
    assert state[8] == (1, 5.0)


def test_files_touched_missing_footer_stats_is_conservative(spark, tmp_path):
    """A parquet file whose footer lacks statistics for a queried column
    must count as TOUCHED (cannot prune) — Delta's conservative rule; was
    a KeyError (r8 ADVICE).  An all-null column writes no min/max stats."""
    from newyork_taxi_etl_spark.sources.writers import files_touched

    d = str(tmp_path / "nostats")
    spark.createDataFrame(
        [(i, None) for i in range(10)], "a bigint, b bigint"
    ).coalesce(1).write.parquet(d)
    touched, total = files_touched(d, {"b": (0, 5)})
    assert (touched, total) == (1, 1)
    # a prunable column still prunes alongside the stat-less one
    touched2, _ = files_touched(d, {"a": (100, 200), "b": (0, 5)})
    assert touched2 == 0


@pytest.mark.parametrize(
    "factory", ["_reservoir_fold_fn", "_group_reservoir_fold_fn"]
)
def test_reservoir_fold_redelivery_is_a_noop(spark, tmp_path, factory):
    """The reservoir folds merge by UNION ALL + re-top-k, so a redelivered
    batch would union its top-k with itself; the applied-batch sidecar
    must make the second delivery leave the state as one delivery did."""
    from newyork_taxi_etl_spark.streaming import windows

    target = str(tmp_path / "state")
    fold = getattr(windows, factory)(target, 4)
    batch = spark.range(20).selectExpr(
        "id AS event_id",
        "id % 3 AS user_id",
        "CAST(id AS DOUBLE) AS value",
        "IF(id % 2 = 0, 'click', 'view') AS event_type",
    )

    def state():
        return sorted(map(tuple, spark.read.parquet(target).collect()))

    fold(batch, 0)
    once = state()
    assert once and len(set(once)) == len(once)
    fold(batch, 0)  # at-least-once redelivery of the same batch
    assert state() == once
