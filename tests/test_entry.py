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


def _engine_matches(pattern, skip=lambda path: False):
    """``file:line`` of every match of ``pattern`` in the engine (the
    package, ``__spark_entry__.py`` and ``bench.py``), except in files
    for which ``skip(path)`` is true."""
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pkg = repo / "newyork_taxi_etl_spark"
    files = [repo / "__spark_entry__.py", repo / "bench.py"]
    files += sorted(pkg.rglob("*.py"))
    return [
        f"{p.relative_to(repo)}:{p.read_text()[:m.start()].count(chr(10)) + 1}"
        for p in files
        if not skip(p)
        for m in re.finditer(pattern, p.read_text())
    ]


def test_input_tables_are_opened_only_through_sources():
    """``sources.readers.table`` is the one read path for input tables:
    no module outside ``sources/`` reads ``table_path(...)`` itself.
    Output and stage directories may still be read directly."""
    found = _engine_matches(
        r"\.parquet\(\s*table_path\(|\bread_parquet\(",
        skip=lambda p: p.parent.name == "sources",
    )
    assert not found, found


def test_scan_spread_policy_lives_only_in_session():
    """``session.spread`` is the one scan-spread policy: no second helper,
    and no partition-count or core-count probe outside ``session.py``."""
    found = _engine_matches(r"spread_small_scan")
    found += _engine_matches(
        r"getNumPartitions|defaultParallelism",
        skip=lambda p: p.name == "session.py",
    )
    assert not found, found


def test_scratch_policy_lives_only_in_session():
    """``session.scratch`` is the one source of scratch space: no module
    outside ``session.py`` makes its own temp dirs, names paths by pid or
    registers exit-time cleanup."""
    found = _engine_matches(
        r"\b(mkdtemp|gettempdir|getpid|atexit)\b",
        skip=lambda p: p.name == "session.py",
    )
    assert not found, found


def test_replay_safe_commit_lives_only_in_the_fold_helpers():
    """``windows._append_fold`` and ``windows._swap_fold`` own the
    replay-safe commit: no other function in ``streaming/windows.py``
    calls the applied-batch sidecar or the directory swap, except
    ``run_upsert_replay_proof``'s post-drain check of the sidecar."""
    import ast
    from pathlib import Path

    from newyork_taxi_etl_spark.streaming import windows

    commit = {"_applied_batch_ids", "_mark_applied", "_swap_dir"}
    allowed = commit | {"_append_fold", "_swap_fold"}
    tree = ast.parse(Path(windows.__file__).read_text())
    found = [
        f"{fn.name}:{node.lineno} {node.id}"
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef) and fn.name not in allowed
        for node in ast.walk(fn)
        if isinstance(node, ast.Name)
        and node.id in commit
        and not (
            fn.name == "run_upsert_replay_proof"
            and node.id == "_applied_batch_ids"
        )
    ]
    assert not found, found


def test_conf_changes_live_only_in_session():
    """``session.tune`` and ``session.scoped_conf`` are the only places
    the engine sets or unsets a session conf."""
    found = _engine_matches(
        r"conf\.(set|unset)\(", skip=lambda p: p.name == "session.py"
    )
    assert not found, found
