"""KLL-style quantile sketch (r14 verdict item 3): deterministic
compaction, proven rank-error bound, partition invariance, and the
ingest fold's per-slice replay + sidecar guard."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _err(row) -> int:
    """Distance from target_rank to the [rank_lo, rank_hi] tie bracket
    (0 when the target falls inside)."""
    return max(0, row.rank_lo - row.target_rank, row.target_rank - row.rank_hi)


@pytest.mark.quick
def test_kll_within_bound_on_shipped_corpus(spark):
    from newyork_taxi_etl_spark import registry

    rows = registry.queries()["kll_quantile_sketch"](
        spark, SF_SMOKE
    ).collect()
    assert [r.q for r in rows] == [0.5, 0.99]
    for r in rows:
        assert r.within_bound == 1
        assert _err(r) <= r.bound
        assert 10 <= r.est <= 100  # token counts live in [10, 100]
        assert r.bound < r.target_rank + r.bound  # sanity: bound finite
    # the realized error should be far inside the worst-case bound on a
    # benign corpus — if it ever approaches the bound, the cascade is
    # broken even though the gate still passes
    assert all(_err(r) * 4 <= r.bound for r in rows), rows


def _write_corpus(spark, path, n: int) -> None:
    """n documents whose token counts cycle through [10, 100] with ties."""
    rows = [
        (i, "en", "web", " ".join(["w"] * ((i * 37) % 91 + 10)))
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, source string, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(path))


@pytest.mark.parametrize("n", [0, 1, 2, 256, 257, 999])
def test_kll_report_matches_oracle_at_small_n(spark, tmp_path, n):
    """The three-stage report on corpora with no rows, no compaction
    (n <= 256) and exactly one level (257 <= n <= 512) or two (999):
    engine equals the DuckDB oracle; with no rows it returns none (the
    oracle keeps one null-estimate row per quantile there)."""
    from newyork_taxi_etl_spark import registry

    _write_corpus(spark, tmp_path / "documents.parquet", n)
    got = registry.queries()["kll_quantile_sketch"](spark, str(tmp_path))
    assert got.columns == [
        "q", "est", "target_rank", "rank_lo", "rank_hi", "bound",
        "within_bound",
    ]
    assert [f.dataType.simpleString() for f in got.schema] == [
        "double", "bigint", "bigint", "bigint", "bigint", "bigint", "int"
    ]
    rows = [tuple(r) for r in got.collect()]
    if n == 0:
        assert rows == []
        return
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = con.execute(
        registry.oracle_sql()["kll_quantile_sketch"]
    ).fetchall()
    con.close()
    assert rows == [tuple(r) for r in oracle]
    assert all(r[-1] == 1 for r in rows), rows


@pytest.mark.quick
def test_kll_report_runs_in_three_jobs_without_range_exchange(spark):
    """The report is planned as three query stages (survivor estimates
    broadcast, one global rank aggregate, expand + sort in one
    partition): a warm call starts at most 3 Spark jobs and its executed
    plan has no range exchange for the final sort."""
    from newyork_taxi_etl_spark import registry
    from tests.conftest import SF_ORACLE

    q = registry.queries()["kll_quantile_sketch"]
    q(spark, SF_ORACLE).collect()  # warm the table's schema memo
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    df = q(spark, SF_ORACLE)
    rows = df.collect()
    jobs = set(tracker.getJobIdsForGroup()) - before
    assert [r.q for r in rows] == [0.5, 0.99]
    assert len(jobs) <= 3, sorted(jobs)
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan, plan


def test_kll_partition_invariance(spark):
    """The cascade is a pure function of the data: md5-derived groups
    and coins make the survivor set identical under any physical
    partitioning (the property that lets disjoint shards merge)."""
    from newyork_taxi_etl_spark.queries.profiling import _kll_survivors
    from newyork_taxi_etl_spark.sources.readers import (
        parquet_rowcount,
        table_path,
    )

    docs = spark.read.parquet(table_path(SF_SMOKE, "documents"))
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("val")
    )
    n = parquet_rowcount(table_path(SF_SMOKE, "documents"))
    base = sorted(map(tuple, _kll_survivors(d, n).collect()))
    scrambled = sorted(
        map(tuple, _kll_survivors(d.repartition(13), n).collect())
    )
    assert base == scrambled
    assert 0 < len(base) < n


def test_kll_one_task_collapse_matches_distributed(spark, monkeypatch):
    """r15 ADVICE: with the 1M-row default every test corpus collapses the
    whole cascade at h=0, so only the single-partition path was exercised.
    Force the never-collapse branch (NYETL_KLL_ONE_TASK_ROWS=0) and pin its
    survivor set equal to the default collapsed run — covering the
    distributed hash-exchange cascade, the collapse transition, and the
    value-identity between the two executions of the same pure function."""
    from newyork_taxi_etl_spark.queries.profiling import _kll_survivors
    from newyork_taxi_etl_spark.sources.readers import (
        parquet_rowcount,
        table_path,
    )

    docs = spark.read.parquet(table_path(SF_SMOKE, "documents"))
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("val")
    )
    n = parquet_rowcount(table_path(SF_SMOKE, "documents"))
    collapsed = sorted(map(tuple, _kll_survivors(d, n).collect()))
    monkeypatch.setenv("NYETL_KLL_ONE_TASK_ROWS", "0")
    distributed = sorted(map(tuple, _kll_survivors(d, n).collect()))
    assert collapsed == distributed
    assert 0 < len(collapsed) < n


def test_kll_adversarial_distinct_uniform(spark, tmp_path):
    """All-distinct uniform values (the hardest tie-free case): engine
    equals oracle bit-for-bit and the estimates stay within the
    deterministic bound."""
    from newyork_taxi_etl_spark import registry

    n = 1000
    rows = [
        (i, "en", "web", " ".join(["w"] * (i + 10))) for i in range(n)
    ]
    spark.createDataFrame(
        rows, ["doc_id", "lang", "source", "text"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = registry.queries()["kll_quantile_sketch"](
        spark, str(tmp_path)
    ).collect()
    for r in got:
        assert r.within_bound == 1
        assert _err(r) <= r.bound
        assert r.bound < n  # the bound must stay informative
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = con.execute(
        registry.oracle_sql()["kll_quantile_sketch"]
    ).fetchall()
    con.close()
    assert sorted(map(tuple, got)) == sorted(map(tuple, oracle))


def test_kll_fold_matches_replay_at_2_and_5_slices(spark, tmp_path):
    """The drained ingest sketch equals the generated DuckDB per-slice
    replay bit-for-bit at 2 and 5 slices, and within_bound holds at
    every slicing (sketch VALUES may differ across slicings — compactor
    merges are order-sensitive — but the accumulated bound always
    covers the realized error)."""
    from newyork_taxi_etl_spark.queries.profiling import _kll_fold_sql
    from newyork_taxi_etl_spark.streaming import windows as W

    n = 700  # cumulative slices cross the 256/512 gates mid-stream
    rows = [
        (i, "en", "web", " ".join(["w"] * ((i * 37) % 91 + 10)))
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, ["doc_id", "lang", "source", "text"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    for s in (2, 5):
        drained = sorted(
            map(
                tuple,
                W.run_streaming_kll_ingest(
                    spark, docs, str(tmp_path / f"w{s}"), n_slices=s
                ).collect(),
            )
        )
        oracle = sorted(
            map(tuple, con.execute(_kll_fold_sql(s)).fetchall())
        )
        assert drained == oracle, (s, drained, oracle)
        assert all(r[-1] == 1 for r in drained), (s, drained)
    con.close()


def test_kll_fold_is_sidecar_guarded_and_restart_deterministic(
    spark, tmp_path
):
    """Compaction is deterministic, so a RESTARTED drain reproduces the
    sketch bit-for-bit (two fresh runs agree); re-FOLDING a batch would
    double-compact, so the applied-batch sidecar must list every batch
    after the drain (the redelivery no-op guard all thirteen folds
    share — choke-point behavior unit-tested in
    test_checkpoint_recovery)."""
    import os

    from newyork_taxi_etl_spark.streaming import windows as W

    rows = [
        (i, "en", "web", " ".join(["w"] * (i % 80 + 10)))
        for i in range(400)
    ]
    spark.createDataFrame(
        rows, ["doc_id", "lang", "source", "text"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    a = sorted(
        map(
            tuple,
            W.run_streaming_kll_ingest(
                spark, docs, str(tmp_path / "wa"), n_slices=3
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            W.run_streaming_kll_ingest(
                spark, docs, str(tmp_path / "wb"), n_slices=3
            ).collect(),
        )
    )
    assert a == b
    marker = os.path.join(
        str(tmp_path / "wa"), "kll_state", "_applied_batches"
    )
    with open(marker) as f:
        assert {int(x) for x in f.read().split()} == {0, 1, 2}
