"""Driver-contract smoke tests (mirrors the driver's t1 gate).

The per-query sf0.001 smoke run lives in ``test_oracle.py``, next to each
query's oracle check, so a failure names its query.
"""

from __future__ import annotations

import pytest


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"time_of_day_slot", "avg_value", "trip_count"} <= cols


def test_registry_is_nonempty_and_every_oracle_has_a_query():
    import __spark_entry__ as e

    qs = e.queries()
    assert qs, "registry is empty"
    assert set(e.oracle_sql()) <= set(qs)


def test_register_rejects_a_duplicate_name():
    from newyork_taxi_etl_spark import registry

    name = next(iter(registry.queries()))
    before = registry.queries()[name]
    with pytest.raises(ValueError, match=name):
        registry.register(name, None)(lambda spark, sf_dir: None)
    assert registry.queries()[name] is before


class _Conf:
    def __init__(self, failing_key):
        self.failing_key = failing_key
        self.sets = []

    def set(self, key, value):
        self.sets.append(key)
        if key == self.failing_key:
            raise RuntimeError(f"cannot modify {key}")


class _StubSession:
    def __init__(self, failing_key=None):
        self.conf = _Conf(failing_key)


def test_tune_retries_a_session_it_could_not_fully_tune():
    from newyork_taxi_etl_spark.session import DYNAMIC_CONFS, tune

    keys = list(DYNAMIC_CONFS)
    stub = _StubSession(failing_key=keys[0])
    tune(stub)
    assert stub.conf.sets == keys
    tune(stub)
    assert stub.conf.sets == keys + keys


def test_tune_is_memoized_once_every_conf_is_set():
    from newyork_taxi_etl_spark.session import DYNAMIC_CONFS, tune

    stub = _StubSession()
    tune(stub)
    tune(stub)
    assert stub.conf.sets == list(DYNAMIC_CONFS)
