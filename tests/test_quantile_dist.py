"""Distributed exact quantile vs Spark's own percentile() on adversarial
data: duplicates, negatives, nulls, skewed groups, tiny groups. The
operators must reproduce the interpolated quantile bit-for-bit — they are
the scale-safe formulation of the same semantics, not an approximation."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.operators.profile import (
    exact_quantiles,
    grouped_exact_quantiles,
)

PROBS = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]


def _data(spark, seed=7):
    rng = random.Random(seed)
    rows = []
    for g in ("a", "b", "c", "tiny"):
        n = {"a": 400, "b": 97, "c": 1, "tiny": 2}[g]
        for _ in range(n):
            v = rng.choice(
                [rng.uniform(-50, 50), float(rng.randint(-3, 3)), None]
            )
            rows.append((g, v))
    return spark.createDataFrame(rows, "g string, v double").repartition(7)


def test_global_matches_percentile(spark):
    df = _data(spark)
    arr = ", ".join(f"{p}D" for p in PROBS)
    want = df.where(F.col("v").isNotNull()).agg(
        F.expr(f"percentile(v, array({arr}))").alias("ps")
    ).collect()[0]["ps"]
    got = exact_quantiles(df, "v", PROBS).collect()[0]
    for p, w in zip(PROBS, want):
        assert got[f"p{str(p).replace('.', '_')}"] == round(w, 6), (p, w)


def test_grouped_matches_percentile_per_group(spark):
    df = _data(spark)
    arr = ", ".join(f"{p}D" for p in PROBS)
    want = {
        r["g"]: r["ps"]
        for r in df.where(F.col("v").isNotNull())
        .groupBy("g")
        .agg(F.expr(f"percentile(v, array({arr}))").alias("ps"))
        .collect()
    }
    out = grouped_exact_quantiles(df, "g", "v", PROBS).collect()
    assert {r["g"] for r in out} == set(want)
    for r in out:
        for p, w in zip(PROBS, want[r["g"]]):
            assert r[f"p{str(p).replace('.', '_')}"] == round(w, 6), (r["g"], p)


def test_grouped_shuffled_offsets_matches_broadcast(spark):
    """broadcast_offsets=False (the very-high-cardinality-group fallback:
    offs joined shuffled on (pid, g) instead of broadcast) is value-
    identical to the default broadcast path."""
    df = _data(spark)
    key = lambda r: r["g"]
    bcast = sorted(grouped_exact_quantiles(df, "g", "v", PROBS).collect(), key=key)
    shuf = sorted(
        grouped_exact_quantiles(
            df, "g", "v", PROBS, broadcast_offsets=False
        ).collect(),
        key=key,
    )
    assert bcast == shuf


def test_bpe_merge_fold_edge_cases(spark):
    """The leftmost-non-overlapping merge fold (bpe_merge_loop) on planted
    sequences: overlap chain 'aaa', alternating 'abab', singleton, full
    merge — pinned so neither engine's fold can drift."""
    from newyork_taxi_etl_spark.operators.merges import MERGE_EXPR

    df = spark.createDataFrame(
        [
            (["h", "e", "l", "l", "o"], "l", "o", ["h", "e", "l", "lo"]),
            (["a", "b", "a", "b"], "a", "b", ["ab", "ab"]),
            (["a", "a", "a"], "a", "a", ["aa", "a"]),
            (["x"], "a", "b", ["x"]),
            (["a", "b"], "a", "b", ["ab"]),
        ],
        "syms array<string>, a string, b string, want array<string>",
    )
    for r in df.select("want", F.expr(MERGE_EXPR).alias("got")).collect():
        assert r["got"] == r["want"], r


def test_bpe_encode_roundtrip(spark):
    """decode(encode(w)) == w: every distinct word of the fixture corpus,
    encoded with the trained merge table, must reconstruct exactly by
    concatenating its symbols — and every symbol must be non-empty (an
    empty symbol would silently inflate fertility)."""
    from newyork_taxi_etl_spark.queries.text import _bpe_encoded_words
    from tests.conftest import SF_SMOKE

    enc = _bpe_encoded_words(spark, SF_SMOKE)
    bad = enc.filter(
        (F.concat_ws("", F.col("syms")) != F.col("w"))
        | F.exists("syms", lambda s: F.length(s) == 0)
        | (F.size("syms") == 0)
    )
    assert bad.count() == 0, bad.limit(5).collect()
    # merges actually fired: some word encodes to fewer symbols than chars
    merged = enc.filter(F.size("syms") < F.length("w"))
    assert merged.count() > 0


def test_degenerate_sizes(spark):
    """1-value and 2-value inputs: floor==ceil positions, interpolation
    across exactly two values, and the empty-input null row."""
    one = spark.createDataFrame([(5.0,)], "v double")
    row = exact_quantiles(one, "v", [0.0, 0.5, 1.0]).collect()[0]
    assert (row["p0_0"], row["p0_5"], row["p1_0"]) == (5.0, 5.0, 5.0)

    two = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    row = exact_quantiles(two, "v", [0.5]).collect()[0]
    assert row["p0_5"] == 1.5

    empty = spark.createDataFrame([], "v double")
    row = exact_quantiles(empty, "v", [0.5]).collect()[0]
    assert row["p0_5"] is None


def test_adversarial_partitioning_constant_column(spark):
    """r6 verdict watch-item probe: shuffle.partitions at both extremes (1
    and 257) with a CONSTANT column — 1M+ duplicates, every row in the same
    range bucket, so one partition holds everything however many partitions
    the conf requests — must stay bit-equal to percentile().  Also the
    almost-constant variant (a handful of off-values), where interpolation
    must still land inside the constant run exactly."""
    probs = [0.0, 0.5, 0.999, 1.0]
    arr = ", ".join(f"{p}D" for p in probs)

    const = F.lit(42.5) - (F.col("id") * 0).cast("double")
    big = spark.range(0, 1_100_000, 1, 8).select(const.alias("v"))
    mixed = spark.range(0, 1_100_000, 1, 8).select(
        F.when(F.col("id") < 100, F.col("id").cast("double") - 1e6)
        .otherwise(F.lit(42.5))
        .alias("v")
    )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_part in ("1", "257"):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            for df in (big, mixed):
                want = df.agg(
                    F.expr(f"percentile(v, array({arr}))").alias("ps")
                ).collect()[0]["ps"]
                got = exact_quantiles(df, "v", probs).collect()[0]
                for p, w in zip(probs, want):
                    key = f"p{str(p).replace('.', '_')}"
                    assert got[key] == round(w, 6), (n_part, p, w, got[key])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_ordered_positions_matches_window(spark):
    """ordered_positions == row_number + running sum over the same total
    order, across partition-count settings (including 1 and more
    partitions than rows) and mixed asc/desc keys."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from newyork_taxi_etl_spark.operators.profile import ordered_positions

    rng = random.Random(7)
    data = [
        (i, rng.randint(0, 5), rng.randint(-50, 100)) for i in range(311)
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_part in (1, 4, 32, 1024):
            spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
            df = spark.createDataFrame(data, "id long, k long, v long")
            got = (
                ordered_positions(
                    df, [("k", False), ("id", True)], cum_cols=("v",)
                )
                .orderBy("gpos")
                .collect()
            )
            w = Window.orderBy(F.desc("k"), "id")
            exp = (
                df.select(
                    "id",
                    F.row_number().over(w).alias("gpos"),
                    F.sum("v")
                    .over(w.rowsBetween(Window.unboundedPreceding, 0))
                    .alias("cum_v"),
                )
                .orderBy("gpos")
                .collect()
            )
            assert [(r.id, r.gpos, int(r.cum_v)) for r in got] == [
                (r.id, r.gpos, int(r.cum_v)) for r in exp
            ], n_part
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_ordered_positions_rejects_fractional_cum_cols(spark):
    """The decimal(38,0) running-sum fold is exact ONLY for integral
    inputs — a double column must raise, never silently round per row."""
    import pytest

    from newyork_taxi_etl_spark.operators.profile import ordered_positions

    df = spark.createDataFrame(
        [(1, 0.5), (2, 1.5)], "id long, frac double"
    )
    with pytest.raises(TypeError, match="integral"):
        ordered_positions(df, [("id", True)], cum_cols=("frac",))
    # integral columns still pass
    ok = ordered_positions(
        df.select("id", (F.col("id") * 2).alias("twice")),
        [("id", True)],
        cum_cols=("twice",),
    ).collect()
    assert [int(r.cum_twice) for r in sorted(ok, key=lambda r: r.gpos)] == [
        2,
        6,
    ]


def test_unigram_fold_adversarial_words(spark):
    """The Viterbi fold must stay exact on degenerate words: repeated
    chars ('aaaa' — overlapping candidate pieces), length-1 words, words
    longer than any piece, and equal-cost ties broken toward the SHORTER
    final piece (the lexicographic d tie-break)."""
    from newyork_taxi_etl_spark.operators import unigram as UNI

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa a abcdefghij ab ab ba")],
        "doc_id long, text string",
    )
    words = UNI.word_vocab(docs)
    counts = UNI.seed_counts(words)
    segs = {
        r.w: list(r.pieces)
        for r in UNI.segment_words(
            words, UNI.piece_costs(counts)
        ).collect()
    }
    for w, pieces in segs.items():
        assert "".join(pieces) == w, (w, pieces)
    assert segs["a"] == ["a"]
    # 10-char word must split (max piece len 4), exactly and minimally
    assert len(segs["abcdefghij"]) >= 3
    # equal-cost ties: 'ab' and 'ba' have identical seed counts in this
    # corpus; both words must segment deterministically
    two = UNI.segment_words(
        words, UNI.piece_costs(counts)
    ).collect()
    again = {r.w: list(r.pieces) for r in two}
    assert again == segs  # repeatable under re-evaluation
