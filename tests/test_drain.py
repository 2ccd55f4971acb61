"""The one drain path (``windows._run_drain`` / ``_drain``): a long-lived
session does not grow per call, and failed drains are loud and leave the
session as they found it."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from newyork_taxi_etl_spark import registry, session
from newyork_taxi_etl_spark.streaming import windows
from tests.conftest import SF_SMOKE


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _ckpt_dirs(spark) -> set[str]:
    """Spark's temporary checkpoints (``temporary-*`` under the JVM's
    ``java.io.tmpdir``), which a clean drain must delete on stop."""
    jvm = spark.sparkContext._jvm
    tmp = jvm.java.lang.System.getProperty("java.io.tmpdir")
    return set(glob.glob(os.path.join(tmp, "temporary-*")))


def _scratch_count() -> int:
    return len(os.listdir(session.scratch_root()))


def test_repeated_drains_leave_no_views_or_checkpoints(spark):
    queries = registry.queries()
    names = [
        "structured_streaming_availablenow",
        "streaming_cms_counters",
        "streaming_upsert_counts",
    ]
    views, ckpts = _temp_views(spark), _ckpt_dirs(spark)
    for name in names:
        runs = [queries[name](spark, SF_SMOKE).collect()]
        n_scratch = _scratch_count()
        runs += [queries[name](spark, SF_SMOKE).collect() for _ in range(2)]
        assert runs[0] and runs[0] == runs[1] == runs[2], name
        assert _scratch_count() == n_scratch, name
    assert _temp_views(spark) == views
    assert _ckpt_dirs(spark) == ckpts


class _StuckQuery:
    def __init__(self):
        self.waited = None
        self.stopped = False

    def awaitTermination(self, timeout):
        self.waited = timeout
        return False

    def stop(self):
        self.stopped = True


def test_drain_timeout_stops_query_and_raises():
    q = _StuckQuery()
    with pytest.raises(TimeoutError):
        windows._drain(q)
    assert q.waited == windows._DRAIN_TIMEOUT_S
    assert q.stopped


def _boom(batch_df, batch_id):
    raise ValueError("boom in fold")


@pytest.mark.parametrize("sink", ["foreachBatch", "memory"])
def test_failed_drain_raises_and_restores_session(spark, tmp_path, sink):
    stage = str(tmp_path / "stage")
    spark.range(5).write.parquet(stage)
    stream = windows._stream_stage(spark, "id bigint", stage)
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, "5")
    views = _temp_views(spark)
    try:
        if sink == "memory":
            bad = stream.select(F.raise_error(F.lit("boom in plan")))
            with pytest.raises(Exception, match="boom in plan"):
                windows._run_drain(bad, 3, "memory", "append")
        else:
            with pytest.raises(Exception, match="boom in fold"):
                windows._run_drain(stream, 3, _boom)
        assert spark.conf.get(key) == "5"
        assert _temp_views(spark) == views
    finally:
        spark.conf.set(key, prior)
