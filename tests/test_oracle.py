"""Differential tests: every registered query vs its DuckDB oracle.

Each query runs at sf0.01 and must match its oracle SQL (the driver's t2
correctness gate, SURVEY §5.2.1).  If that call missed the stage cache, the
query is compared once more so the hit path is checked as well, and the
second call must not miss.  Each query then runs at sf0.001 and must yield
columns (the driver's t1 smoke).

    python -m pytest tests/test_oracle.py -q
"""

from __future__ import annotations

import pytest

from newyork_taxi_etl_spark import registry
from newyork_taxi_etl_spark.streaming import windows
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_harness import compare


def _misses_since(start: int) -> list[str]:
    # read-only: bench.py and perfbench slice and clear this global
    events = windows._STAGE_CACHE_EVENTS[start:]
    return [key for key, what in events if what == "miss"]


@pytest.mark.parametrize("name", sorted(registry.queries()))
def test_query_matches_oracle(spark, name):
    start = len(windows._STAGE_CACHE_EVENTS)
    ok, msg = compare(spark, name, SF_ORACLE)
    assert ok, msg
    if _misses_since(start):
        start = len(windows._STAGE_CACHE_EVENTS)
        ok, msg = compare(spark, name, SF_ORACLE)
        assert ok, f"stage-cache hit path: {msg}"
        again = _misses_since(start)
        assert not again, f"{name}: second call missed {again}"
    assert registry.queries()[name](spark, SF_SMOKE).columns, name
