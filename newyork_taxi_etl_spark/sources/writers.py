"""Sinks (SURVEY §2.1 S2/S3; §3.3 Delta maintenance).

Delta availability is environment-dependent (SURVEY §7.3.5): when
``delta-spark`` is importable we write Delta and can OPTIMIZE/ZORDER;
otherwise we degrade to partitioned Parquet with a documented
range-partition + sort-within-partitions approximation of Z-ordering
(same data-skipping intent: co-locate rows by the clustering keys so
file-level min/max stats prune scans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

try:  # optional dependency; absent in this container
    from delta.tables import DeltaTable  # type: ignore

    HAVE_DELTA = True
except Exception:  # pragma: no cover
    DeltaTable = None
    HAVE_DELTA = False


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned sink (S3, ``nb:117830 (c119)``): Delta when available,
    Parquet otherwise. Partition layout is identical either way so partition
    pruning (§4) behaves the same."""
    fmt = fmt or ("delta" if HAVE_DELTA else "parquet")
    df.write.format(fmt).mode(mode).partitionBy(*partition_cols).save(path)


def write_stage(df: DataFrame, path: str) -> None:
    """Stage checkpoint sink (S2, ``nb:61439 (c31)`` et al.) — lineage
    truncation between cleaning stages. The engine's default is one lazy
    pipeline; this exists for parity and for long lineages at scale."""
    df.write.mode("overwrite").parquet(path)


def write_zordered_approx(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    partition_cols: list[str] | None = None,
    target_files: int | None = None,
) -> None:
    """Approximate ``OPTIMIZE ... ZORDER BY`` (``nb:120730 (c132)``) without
    Delta: range-partition rows by the clustering keys, then sort within
    partitions, so Parquet row-group min/max stats become selective on those
    keys. True multi-dimensional interleaving is weaker than this for one key
    and stronger for many; for the reference's 2-key (PU,DO) case the
    lexicographic approximation captures most of the skipping benefit.
    """
    out = df
    if target_files:
        out = out.repartitionByRange(target_files, *zorder_cols)
    else:
        out = out.repartitionByRange(*zorder_cols)
    out = out.sortWithinPartitions(*zorder_cols)
    writer = out.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def optimize_zorder(spark, path: str, zorder_cols: list[str]) -> None:
    """Real Delta OPTIMIZE ZORDER when delta-spark is present (§3.3)."""
    if not HAVE_DELTA:
        raise NotImplementedError(
            "delta-spark not installed; use write_zordered_approx() instead"
        )
    DeltaTable.forPath(spark, path).optimize().executeZOrderBy(*zorder_cols)


def zvalue_expr(a_norm, b_norm, bits: int = 8):
    """TRUE bit-interleaved Z-value of two normalized keys (Morton code).

    ``a_norm``/``b_norm`` must be integer Columns in ``[0, 2**bits)``;
    bit i of each lands at positions 2i+1 / 2i of the result, so sorting
    by the z-value walks the 2-D key space along the Z curve — file-level
    min/max stats then bound BOTH keys per file, which is what
    ``OPTIMIZE ... ZORDER BY`` (``nb:120730 (c132)``) buys: a box
    predicate on (a, b) prunes files in both dimensions, where a
    lexicographic sort prunes only the leading key.  Pure integer bit
    ops (shift/and/or), whole-stage-codegen friendly — no UDF, no conv.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(a_norm, i).bitwiseAND(F.lit(1)), 2 * i + 1
            ).cast("long")
        )
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(b_norm, i).bitwiseAND(F.lit(1)), 2 * i
            ).cast("long")
        )
    return z


def write_zordered_interleaved(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 8,
    target_files: int = 16,
) -> None:
    """Z-ORDER the table by true bit interleaving of two keys and write.

    Each key is min/max-normalized to ``[0, 2**bits)`` (bounds fetched in
    one O(1) aggregate — planner-style control read), the Morton code is
    computed with integer bit ops (:func:`zvalue_expr`), and the rows are
    range-partitioned + sorted by it: one distributed range shuffle, same
    cost shape as the lexicographic approximation, strictly better
    2-D skipping.  The z column is dropped before the write — the layout
    IS the index.

    The range bounds come from Spark's reservoir sample, seeded by the
    RDD id, so with the default 100 points per output partition a small
    table got a layout (and a file-skipping count) that moved with how
    many RDDs the session had made before.  The write therefore asks for
    ``ceil(rows / target_files)`` points per partition: below Spark's own
    cap of 1e6 points the sample then holds every row of each input split
    up to three times the mean split size, so a small table gets one fixed
    layout, and a large one the usual capped sample.
    """
    from pyspark.sql import functions as F

    b = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(col_a).alias("mna"),
        F.max(col_a).alias("mxa"),
        F.min(col_b).alias("mnb"),
        F.max(col_b).alias("mxb"),
    ).collect()[0]
    top = (1 << bits) - 1
    span_a = max(int(b["mxa"]) - int(b["mna"]), 1)
    span_b = max(int(b["mxb"]) - int(b["mnb"]), 1)
    na = (
        ((F.col(col_a).cast("long") - F.lit(int(b["mna"]))) * F.lit(top))
        / F.lit(span_a)
    ).cast("long")
    nb = (
        ((F.col(col_b).cast("long") - F.lit(int(b["mnb"]))) * F.lit(top))
        / F.lit(span_b)
    ).cast("long")
    conf = df.sparkSession.conf
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    old = conf.get(key, None)
    conf.set(key, str(max(100, -(-int(b["n"]) // target_files))))
    try:
        (
            df.withColumn("_z", zvalue_expr(na, nb, bits))
            .repartitionByRange(target_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        if old is None:
            conf.unset(key)
        else:
            conf.set(key, old)


def parquet_file_column_ranges(path: str, cols: set[str]) -> list:
    """Per-file [min, max] footer statistics for ``cols`` — the exact
    information a file-pruning planner (Delta data skipping, Spark's
    parquet filter pushdown at row-group level) reads before touching
    data.  Driver-side O(files) footer reads, no row data."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        md = pq.ParquetFile(f).metadata
        rng: dict = {}
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                cm = rgm.column(ci)
                name = cm.path_in_schema
                # an all-null column carries a statistics object with NO
                # min/max (has_min_max False, or None values) — treat it
                # as stat-less so files_touched cannot prune on it
                if (
                    name in cols
                    and cm.statistics is not None
                    and cm.statistics.has_min_max
                    and cm.statistics.min is not None
                    and cm.statistics.max is not None
                ):
                    mn, mx = cm.statistics.min, cm.statistics.max
                    if name in rng:
                        rng[name] = (
                            min(rng[name][0], mn),
                            max(rng[name][1], mx),
                        )
                    else:
                        rng[name] = (mn, mx)
        out.append((f, rng))
    return out


def files_touched(path: str, box: dict) -> tuple[int, int]:
    """(files whose stats intersect the box, total files): the measured
    skipping a planner achieves on ``box`` = {col: (lo, hi)} inclusive.
    A file is touched unless some column's [min, max] misses its range —
    identical to Delta's file-stat pruning rule, including the conservative
    edge: a footer with NO statistics for a queried column (all-null
    column, or a writer that skipped stats) cannot justify a skip, so the
    file counts as touched (r8 ADVICE — was an unguarded ``rng[c]``)."""
    ranges = parquet_file_column_ranges(path, set(box))
    touched = 0
    for _f, rng in ranges:
        hit = True
        for c, (lo, hi) in box.items():
            stats = rng.get(c)
            if stats is None:
                continue  # no footer stats -> cannot prune on this column
            mn, mx = stats
            if mx < lo or mn > hi:
                hit = False
                break
        if hit:
            touched += 1
    return touched, len(ranges)
