"""The one read path (``sources.readers.table``): a table opened before
opens again without a schema-inference Spark job, the schema memo follows
rewritten files and stays bounded, the ``events.ts`` repair holds for both
shipped encodings, and stage-cache hits read back without a job too."""

from __future__ import annotations

import datetime
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from newyork_taxi_etl_spark import registry
from newyork_taxi_etl_spark.sources import readers
from newyork_taxi_etl_spark.sources.readers import table, table_path
from newyork_taxi_etl_spark.streaming import windows
from tests.conftest import SF_ORACLE


def _with_jobs(spark, fn):
    """``fn()`` and the ids of the Spark jobs it started."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = fn()
    return out, set(tracker.getJobIdsForGroup()) - before


def test_second_open_of_a_table_starts_no_job(spark):
    path = table_path(SF_ORACLE, "nation")
    _, inferred = _with_jobs(spark, lambda: spark.read.parquet(path))
    assert inferred, "a plain parquet read no longer infers with a job"

    first, _ = _with_jobs(spark, lambda: table(spark, SF_ORACLE, "nation"))
    second, jobs = _with_jobs(spark, lambda: table(spark, SF_ORACLE, "nation"))
    assert jobs == set()
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_returns_its_new_schema(spark, tmp_path):
    path = table_path(str(tmp_path), "t")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert table(spark, str(tmp_path), "t").columns == ["a"]

    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_schema_memo_stays_within_its_bound(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(readers, "_SCHEMAS_MAX", 3)
    names = [f"t{i}" for i in range(6)]
    for name in names:
        pq.write_table(pa.table({name: [1]}), table_path(str(tmp_path), name))
        assert table(spark, str(tmp_path), name).columns == [name]
        assert len(readers._SCHEMAS) <= 3
    # the most recent table is still memoized, the oldest was evicted
    _, jobs = _with_jobs(spark, lambda: table(spark, str(tmp_path), names[-1]))
    assert jobs == set()
    _, jobs = _with_jobs(spark, lambda: table(spark, str(tmp_path), names[0]))
    assert jobs


def test_events_ts_is_timestamp_for_both_encodings(spark, tmp_path):
    ts = [
        datetime.datetime(2024, 1, 5, 7, 30, 0, 123456),
        datetime.datetime(2024, 2, 29, 23, 59, 59, 1),
    ]
    got = {}
    for unit in ("ns", "us"):
        sf_dir = tmp_path / unit
        sf_dir.mkdir()
        pq.write_table(
            pa.table({
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ts, pa.timestamp(unit)),
            }),
            table_path(str(sf_dir), "events"),
        )
        for _ in range(2):  # schema-memo miss, then hit
            df = table(spark, str(sf_dir), "events")
            assert dict(df.dtypes)["ts"] == "timestamp", unit
            got.setdefault(unit, []).append(sorted(
                tuple(r) for r in df.select(
                    "event_id",
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                ).collect()
            ))
    want = [(1, "2024-01-05 07:30:00.123456"), (2, "2024-02-29 23:59:59.000001")]
    assert got["ns"] == got["us"] == [want, want]


def test_stage_cache_hit_reads_back_without_a_job(spark):
    """A second call of a stage-cached builder starts no Spark job and
    returns the first call's rows: ``df_stage_cached`` itself, and the
    IVF centroids and tokenizer merge tables it stores."""
    from newyork_taxi_etl_spark.queries import similarity, text

    tag = uuid.uuid4().hex
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i // 3)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )

    def build():
        return spark.range(6).withColumn("sq", F.col("id") * F.col("id"))

    cases = {
        f"test_sources:{tag}": lambda key: [
            windows.df_stage_cached(spark, key, build, n_files=1)
        ],
        f"ivfcent3:{tag}": lambda key: [
            similarity._ivf_centroids_cached(spark, emb, tag, k=3)
        ],
        f"test_tops:{tag}": lambda key: text._tops_cached(
            spark,
            key,
            lambda: [spark.range(i, i + 1) for i in range(3)],
        ),
    }
    for key, call in cases.items():
        miss = call(key)
        assert windows._STAGE_CACHE_EVENTS[-1] == (key, "miss")
        hit, jobs = _with_jobs(spark, lambda: call(key))
        assert windows._STAGE_CACHE_EVENTS[-1] == (key, "hit")
        assert jobs == set(), key
        assert [sorted(t.collect()) for t in hit] == [
            sorted(t.collect()) for t in miss
        ], key


def _broadcast_hints(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count(
        "strategy=broadcast"
    )


def test_semdedup_pair_join_broadcast_follows_the_threshold(spark):
    """The cells table (500 64-dim rows, 256 kB) fits the 10 MB default,
    so the pair join is a broadcast; with broadcasts disabled it is not."""
    q = registry.queries()["semantic_dedup_kmeans"]
    key = "spark.sql.autoBroadcastJoinThreshold"
    sized = _broadcast_hints(q(spark, SF_ORACLE))
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        disabled = _broadcast_hints(q(spark, SF_ORACLE))
    finally:
        spark.conf.set(key, old)
    assert sized == disabled + 1
