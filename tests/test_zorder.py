"""True interleaved Z-order: Morton-code correctness and the measured
file-skipping ratio the registered query states as booleans."""

from __future__ import annotations

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.sources.writers import (
    files_touched,
    parquet_file_column_ranges,
    write_zordered_approx,
    write_zordered_interleaved,
    zvalue_expr,
)

from conftest import SF_SMOKE


def test_zvalue_bit_interleave_exact(spark):
    """The z-value must be the textbook Morton code: bit i of `a` at
    position 2i+1, bit i of `b` at position 2i."""

    def morton(a, b, bits=8):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i + 1)
            z |= ((b >> i) & 1) << (2 * i)
        return z

    rows = [(a, b) for a in (0, 1, 2, 3, 7, 128, 255) for b in (0, 1, 5, 255)]
    df = spark.createDataFrame(rows, "a long, b long").withColumn(
        "z", zvalue_expr(F.col("a"), F.col("b"), bits=8)
    )
    got = {(r["a"], r["b"]): r["z"] for r in df.collect()}
    assert got == {(a, b): morton(a, b) for a, b in rows}


def test_zvalue_locality_beats_lex_on_trailing_dim(spark, tmp_path):
    """The skipping claim, asserted on exact measured counts: under a
    trailing-dim-only slice the lexicographic layout touches EVERY file
    while z-order touches strictly fewer (and genuinely prunes)."""
    li = spark.read.parquet(SF_SMOKE + "/lineitem.parquet")
    zdir, ldir = str(tmp_path / "z"), str(tmp_path / "lex")
    write_zordered_interleaved(
        li, zdir, "l_partkey", "l_suppkey", bits=8, target_files=16
    )
    write_zordered_approx(li, ldir, ["l_partkey", "l_suppkey"], target_files=16)

    b = li.agg(
        F.min("l_suppkey").alias("mn"), F.max("l_suppkey").alias("mx")
    ).collect()[0]
    span = b["mx"] - b["mn"] + 1
    box = {"l_suppkey": (b["mn"] + 4 * span // 8, b["mn"] + 5 * span // 8 - 1)}

    z_touched, z_total = files_touched(zdir, box)
    l_touched, l_total = files_touched(ldir, box)
    assert l_touched == l_total, "lex layout should be blind to the trailing dim"
    assert z_touched < l_touched, (z_touched, l_touched)
    assert z_touched <= z_total // 2, f"z-order pruned only {z_touched}/{z_total}"


def test_zorder_layout_does_not_move_with_rdd_ids(spark, tmp_path):
    """Range bounds come from a sample seeded by the RDD id: the small
    table's z-order layout (per-file key ranges) must be the same however
    many RDDs the session made before the write, and the sample-size conf
    the write raises must be restored afterwards."""
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    before = spark.conf.get(key, None)
    li = spark.read.parquet(SF_SMOKE + "/lineitem.parquet")
    layouts = []
    for k in range(4):
        spark.sparkContext.parallelize([k]).count()  # advance the RDD id
        d = str(tmp_path / f"z{k}")
        write_zordered_interleaved(
            li, d, "l_partkey", "l_suppkey", bits=8, target_files=16
        )
        ranges = parquet_file_column_ranges(d, {"l_partkey", "l_suppkey"})
        layouts.append(
            sorted(
                (r["l_partkey"], r["l_suppkey"]) for _f, r in ranges
            )
        )
    assert all(lay == layouts[0] for lay in layouts), layouts
    assert spark.conf.get(key, None) == before


def test_zordered_write_preserves_content(spark, tmp_path):
    """Clustering must never change query results — full-table row count
    and key checksum survive the rewrite byte-exactly."""
    li = spark.read.parquet(SF_SMOKE + "/lineitem.parquet")
    zdir = str(tmp_path / "z")
    write_zordered_interleaved(
        li, zdir, "l_partkey", "l_suppkey", bits=8, target_files=16
    )
    back = spark.read.parquet(zdir)
    want = li.agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_orderkey").alias("s")
    ).collect()[0]
    got = back.agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_orderkey").alias("s")
    ).collect()[0]
    assert (got["n"], got["s"]) == (want["n"], want["s"])
    assert sorted(back.columns) == sorted(li.columns)  # _z dropped
