"""Moving-reference streaming decay: the foreachBatch rescale fold.

The registered query's oracle (tests/test_oracle.py + driver t2) checks the
3-decimal equality with the one-shot batch twin; these tests pin the RAW
float gap the 3-decimal rounding leans on, and the state invariants the
docstring claims (reference finishes at corpus max; state is O(types)).
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _drained_state(spark, tmp):
    from newyork_taxi_etl_spark.sources.readers import table
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_decay_rescale,
    )

    ev = table(spark, SF_SMOKE, "events")
    out = run_streaming_decay_rescale(
        spark, ev, str(tmp / "stage"), str(tmp / "state")
    )
    out.collect()  # drain happens at build; this materializes the read-back
    return ev, spark.read.parquet(str(tmp / "state"))


def test_rescale_chain_gap_within_1e6(spark):
    """The drained UNROUNDED scores sit within 1e-6 of the one-shot batch
    computation at the final reference (the docstring's ~1e-9 ulp-chain
    bound, pinned with 3 orders of slack); counts are exact."""
    with tempfile.TemporaryDirectory() as d:
        ev, state = _drained_state(spark, Path(d))
        mx = ev.agg(F.unix_micros(F.max("ts")).alias("r")).collect()[0]["r"]
        want = {
            r["event_type"]: (r["n"], r["s"])
            for r in ev.select(
                "event_type",
                F.exp(
                    F.lit(-0.01)
                    * (F.lit(mx) - F.unix_micros("ts"))
                    / F.lit(3600000000.0)
                ).alias("w"),
            )
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("s"))
            .collect()
        }
        got = {
            r["event_type"]: (r["n_events"], r["score"])
            for r in state.collect()
        }
        assert set(got) == set(want)
        for et, (n, s) in want.items():
            assert got[et][0] == n, et
            assert abs(got[et][1] - s) < 1e-6, (et, got[et][1], s)


def test_rescale_state_invariants(spark):
    """After the drain the reference has risen to the corpus max timestamp
    (every batch folded forward, none skipped), and the state holds exactly
    one row per event type — O(types), never O(events)."""
    with tempfile.TemporaryDirectory() as d:
        ev, state = _drained_state(spark, Path(d))
        mx = ev.agg(F.unix_micros(F.max("ts")).alias("r")).collect()[0]["r"]
        refs = [r["ref_micros"] for r in state.select("ref_micros").collect()]
        assert set(refs) == {mx}
        n_types = ev.select("event_type").distinct().count()
        assert state.count() == n_types


def test_streaming_lsh_index_equals_batch_pairs(spark):
    """The incremental index's drained pair set equals the one-shot batch
    LSH join on a planted corpus where duplicates are forced into LATER
    micro-batches than their originals (repartitionByRange on doc_id puts
    the +100000 copies in the last stage file), so the equality exercises
    real cross-batch index probes, not just within-batch self-joins."""
    import tempfile

    from pyspark.sql import functions as F

    from newyork_taxi_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        with_minhash,
    )
    from newyork_taxi_etl_spark.sources.readers import table_path
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_lsh_index,
    )

    docs = spark.read.parquet(table_path(SF_SMOKE, "documents")).select(
        "doc_id", "text"
    )
    dups = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(dups)
    want = sorted(
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            with_minhash(corpus, k=4), k=4, rows_per_band=2, max_band_size=64
        ).collect()
    )
    with tempfile.TemporaryDirectory() as d:
        got = sorted(
            (r["id_a"], r["id_b"])
            for r in run_streaming_lsh_index(
                spark, corpus, d + "/stage", d + "/index", d + "/pairs"
            ).collect()
        )
    assert got == want
    # the planted cross-batch duplicates are all found
    assert all((i, i + 100000) in got for i in range(10))


def test_transform_with_state_gated_on_protobuf(spark):
    """transformWithStateInPandas needs google.protobuf (its state
    protocol); the environment lacks it, so the query must register
    exactly when the probe passes — and when it does, the drained result
    must match the batch aggregate."""
    import pytest

    from newyork_taxi_etl_spark.queries.streaming import tws_available
    from newyork_taxi_etl_spark.registry import queries

    registered = "transform_with_state_stats" in queries()
    assert registered == tws_available()
    if not tws_available():
        pytest.skip("google.protobuf absent — TWS runner env-gated")
    from pyspark.sql import functions as F

    from newyork_taxi_etl_spark.sources.readers import table

    got = queries()["transform_with_state_stats"](spark, SF_SMOKE).collect()
    ev = table(spark, SF_SMOKE, "events")
    want = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {r["user_id"]: r["n_events"] for r in got} == want
