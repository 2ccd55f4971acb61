"""The one scratch policy (``session.scratch`` / ``session.call_scope``):
every call gets fresh dirs under one per-process root, a query's previous
call on the same thread is freed when it is called again, and the root
goes at exit — a long-lived session holds a constant amount of scratch."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
from pathlib import Path
from urllib.parse import unquote, urlparse

from newyork_taxi_etl_spark import registry
from newyork_taxi_etl_spark.session import call_scope, scratch, scratch_root
from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent


def _under_root(path: str) -> bool:
    return path.startswith(scratch_root() + os.sep)


def _scan_dirs(df) -> set[str]:
    """The scratch dirs (direct children of the root) ``df`` reads."""
    root = Path(scratch_root())
    return {
        str(root / Path(unquote(urlparse(f).path)).relative_to(root).parts[0])
        for f in df.inputFiles()
    }


def test_repeated_calls_keep_scratch_constant(spark):
    queries = registry.queries()
    names = [
        "partitioned_write_pruned_read",
        "small_file_compaction",
        "ann_index_incremental_append",
    ]
    counts = []
    for _ in range(5):
        for name in names:
            assert queries[name](spark, SF_SMOKE).collect(), name
        counts.append(len(os.listdir(scratch_root())))
    assert counts[1] == counts[4], counts


def test_calls_get_fresh_dirs_and_results_outlive_other_queries(spark):
    queries = registry.queries()
    first = queries["partitioned_write_pruned_read"](spark, SF_SMOKE)
    want = first.collect()
    dirs = _scan_dirs(first)
    assert dirs and all(_under_root(d) for d in dirs)
    # a call of another query leaves this result readable
    assert queries["small_file_compaction"](spark, SF_SMOKE).collect()
    assert first.collect() == want
    # the next call of the same query writes elsewhere and frees the first
    second = queries["partitioned_write_pruned_read"](spark, SF_SMOKE)
    assert _scan_dirs(second).isdisjoint(dirs)
    assert not any(os.path.exists(d) for d in dirs)
    assert second.collect() == want


def test_call_scope_frees_only_this_threads_previous_call():
    """8 threads (more than the cores) call one query name concurrently:
    each call frees exactly its own thread's previous dirs."""
    last: dict[int, str] = {}
    errors: list[str] = []

    def client(i):
        prev = None
        for _ in range(20):
            with call_scope("scope-probe"):
                d = scratch(f"t{i}")
            if prev is not None and os.path.exists(prev):
                errors.append(prev)
            prev = d
        last[i] = prev

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(last) == 8
    assert all(_under_root(d) and os.path.isdir(d) for d in last.values())


def test_nested_call_scope_restores_the_outer_record():
    with call_scope("outer-probe"):
        before = scratch("outer")
        with call_scope("inner-probe"):
            inner = scratch("inner")
        after = scratch("outer")
    with call_scope("outer-probe"):
        pass
    assert not os.path.exists(before) and not os.path.exists(after)
    assert os.path.isdir(inner)
    with call_scope("inner-probe"):
        pass
    assert not os.path.exists(inner)


def test_scratch_outside_a_call_lives_until_exit_and_the_root_goes_then():
    code = (
        "from newyork_taxi_etl_spark.session import scratch, scratch_root\n"
        "d = scratch('probe')\n"
        "open(d + '/f', 'w').close()\n"
        "print(scratch_root()); print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.split()
    root, d = out
    assert d.startswith(root + os.sep)
    assert not os.path.exists(root)
