"""The replay-safe commit of the foreachBatch folds, tested on tiny frames
through the two helpers that own it (``windows._append_fold`` and
``windows._swap_fold``): a redelivered batch is a no-op, an append fold
resumes from a tombstoned live dir, and a batch whose write fails leaves
no mark, so its redelivery applies."""

from __future__ import annotations

import os

import pytest

from newyork_taxi_etl_spark.streaming.windows import (
    _append_fold,
    _applied_batch_ids,
    _swap_fold,
)


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def _batch(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "v bigint")


def test_append_fold_redelivery_is_a_noop(spark, tmp_path):
    state = str(tmp_path / "state")
    fold = _append_fold(state, lambda b, _: b)
    fold(_batch(spark, [1, 2]), 0)
    fold(_batch(spark, [3]), 1)
    fold(_batch(spark, [3]), 1)  # at-least-once redelivery
    assert _rows(spark, state) == [(1,), (2,), (3,)]
    assert _applied_batch_ids(state) == {0, 1}


def test_swap_fold_redelivery_is_a_noop_for_sub_tables(spark, tmp_path):
    """A multi-table swap (the bloom/kll shape): both sub-tables and the
    mark commit in one rename, and a redelivered batch changes neither."""
    state = str(tmp_path / "state")

    def merge(batch_df, prev):
        ss = batch_df.sparkSession
        if prev is None:
            seen, n = batch_df, batch_df.count()
        else:
            seen = ss.read.parquet(os.path.join(prev, "seen"))
            seen = seen.unionByName(batch_df)
            n = ss.read.parquet(os.path.join(prev, "meta")).first()["n"]
            n += batch_df.count()
        meta = ss.createDataFrame([(n,)], "n bigint")
        return {"seen": seen, "meta": meta}

    fold = _swap_fold(state, merge)
    fold(_batch(spark, [1, 2]), 0)
    fold(_batch(spark, [3]), 1)
    fold(_batch(spark, [3]), 1)  # redelivered
    assert _rows(spark, os.path.join(state, "seen")) == [(1,), (2,), (3,)]
    assert _rows(spark, os.path.join(state, "meta")) == [(3,)]
    assert _applied_batch_ids(state) == {0, 1}
    assert not os.path.exists(state + "_next")
    assert not os.path.exists(state + "_tombstone")


def test_append_fold_recovers_a_tombstoned_live_dir(spark, tmp_path):
    """A crash between ``_swap_dir``'s renames leaves only the tombstone;
    the next fold restores it before reading the mark, so the state and
    its applied batches survive and a redelivery stays a no-op."""
    state = str(tmp_path / "state")
    fold = _append_fold(state, lambda b, _: b)
    fold(_batch(spark, [1]), 0)
    os.rename(state, state + "_tombstone")
    fold(_batch(spark, [1]), 0)  # redelivered after the crash
    fold(_batch(spark, [2]), 1)
    assert not os.path.exists(state + "_tombstone")
    assert _rows(spark, state) == [(1,), (2,)]
    assert _applied_batch_ids(state) == {0, 1}


@pytest.mark.parametrize("kind", ["append", "swap"])
def test_failed_write_leaves_no_mark(spark, tmp_path, kind):
    """The mark is written only after the batch's rows, so a batch whose
    computation raises is not marked and its redelivery applies."""
    state = str(tmp_path / "state")
    fail = {"on": True}

    def rows(batch_df, _):
        if fail["on"]:
            raise RuntimeError("write failed")
        return batch_df

    fold = (
        _append_fold(state, rows)
        if kind == "append"
        else _swap_fold(state, lambda b, _: rows(b, None))
    )
    with pytest.raises(RuntimeError, match="write failed"):
        fold(_batch(spark, [1]), 0)
    assert _applied_batch_ids(state) == set()
    fail["on"] = False
    fold(_batch(spark, [1]), 0)
    assert _rows(spark, state) == [(1,)]
    assert _applied_batch_ids(state) == {0}
