"""Iterative clustering over embedding columns (Lloyd's k-means).

The "iterative algorithms" slot of the training-data surface (alongside
``operators/graph.py``'s connected components). Per round:

* **assignment is zero-shuffle**: the k centroids are folded into ONE
  broadcast row holding an ``array<struct<cid, vec>>``; each corpus row
  computes its argmin cluster as a pure codegen expression
  (``transform`` → per-centroid squared distance → ``aggregate`` argmin)
  — no row multiplication, no window, no exchange of the corpus;
* **update shuffles O(k × d), not O(rows)**: posexplode to (cid, dim, x)
  with map-side partial aggregation, so each task emits at most k×d
  partial sums regardless of row count.

Determinism: centroids initialize from the k lowest-id vectors, iteration
count is fixed, distance ties break toward the lower cid (strict ``<`` over
the cid-ordered centroid array) — results are stable across partitionings,
which is what makes the operator testable. Centroid lineage is truncated
every round with ``localCheckpoint`` (same iterative-DataFrame discipline
as ``operators/graph.py``).

The same assignment serves the inverted-file (IVF) index lifecycle of the
ANN queries: :func:`_assign` puts each vector in its cell, :func:`_probe`
finds each query's nearest cells, :func:`_write_index` persists the cells
partitioned by ``cid`` next to the centroids, and :func:`_pruned_read`
reads back only the probed ``cid=`` directories.  They stay private: the
tracing layer wraps every public function here as an operator call.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from newyork_taxi_etl_spark.sources.readers import _parquet

_SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "0D, (acc, v) -> acc + v)"
)

#: argmin over the broadcast centroid array: per-centroid distance structs,
#: then a left fold keeping the strictly-smaller distance (ties -> lower cid)
_ARGMIN = f"""
aggregate(
  transform(cents, c -> named_struct(
    'cid', c.cid,
    'd', {_SQDIST.format(a='_v', b='c.vec')})),
  named_struct('cid', -1, 'd', CAST('Infinity' AS DOUBLE)),
  (acc, e) -> CASE WHEN e.d < acc.d THEN e ELSE acc END
).cid
"""


def _base(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("_v"),
    )


def _seed_centroids(base: DataFrame, k: int, id_col: str) -> DataFrame:
    return (
        base.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cid"),
            F.col("_v").alias("vec"),
        )
        .localCheckpoint(eager=True)
    )


def _assign(base: DataFrame, cent: DataFrame) -> DataFrame:
    """Every column of ``base`` (which carries the double vector ``_v``)
    plus the ``cid`` of its nearest centroid in ``cent`` (``cid``,
    ``vec``): a zero-shuffle argmin against ONE broadcast centroid-array
    row."""
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    return (
        base.join(broadcast(cent_row), how="cross")
        .withColumn("cid", F.expr(_ARGMIN))
        .select(*base.columns, "cid")
    )


def _probe(queries: DataFrame, cent: DataFrame, n_probe: int) -> DataFrame:
    """The ``n_probe`` nearest cells of each query: every column of
    ``queries`` (``query_id``, ``_v`` and any payload) plus ``cid`` and
    that cell's ``cent_vec``.  Cells rank by squared distance, ties toward
    the lower cid — the same order as the strict-< argmin.  The window
    runs over n_queries x k rows, so it stays tiny at any corpus size."""
    d = F.expr(_SQDIST.format(a="_v", b="cent_vec"))
    wq = Window.partitionBy("query_id").orderBy("d", "cid")
    return (
        queries.crossJoin(
            broadcast(cent.select("cid", F.col("vec").alias("cent_vec")))
        )
        .select(*queries.columns, "cid", "cent_vec", d.alias("d"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .drop("d", "r")
    )


def _write_index(
    root: str,
    cells: DataFrame,
    cent: DataFrame | None = None,
    name: str = "assignments",
    mode: str = "overwrite",
) -> None:
    """Persist an IVF index under ``root``: ``cells`` partitioned by
    ``cid`` in ``root/name`` (one directory per inverted list) and, when
    given, the centroid table in ``root/centroids``."""
    cells.write.mode(mode).partitionBy("cid").parquet(os.path.join(root, name))
    if cent is not None:
        cent.write.mode("overwrite").parquet(os.path.join(root, "centroids"))


def _pruned_read(
    spark: SparkSession, path: str, probes: DataFrame, **also: str
) -> DataFrame:
    """The persisted cells at ``path``, read back from the probed ``cid=``
    directories only.  The probed cids are collected (n_queries x n_probe
    values) and pushed as a static partition filter; each
    ``index_col=probe_col`` in ``also`` pushes that probe column's
    collected values as a filter on ``index_col`` too."""
    rows = probes.select("cid", *also.values()).collect()
    scan = _parquet(spark, path)
    for col, src in {"cid": "cid", **also}.items():
        scan = scan.filter(F.col(col).isin(sorted({r[src] for r in rows})))
    return scan


def _update(assigned: DataFrame) -> DataFrame:
    """Elementwise-mean centroid update, decimal-exact.

    The mean routes through DECIMAL(38,12) (functions.exact.avg_exact):
    a plain double AVG depends on partition summation order, and because
    the next round's strict-< argmin consumes the RAW centroid values, a
    last-ulp wobble could flip a near-equidistant vector's assignment
    between runs/engines — caught in review when trained-IVF queries
    started ranking output by these centroids. O(k x d) shuffle as
    before; the oracle mirrors the same decimal routing.
    """
    from newyork_taxi_etl_spark.functions.exact import avg_exact

    dims = (
        assigned.select("cid", F.posexplode("_v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(avg_exact("x").alias("m"))
    )
    return (
        dims.groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
        .select("cid", F.expr("transform(s, e -> e.m)").alias("vec"))
        .localCheckpoint(eager=True)
    )


def kmeans_assign(
    df: DataFrame,
    k: int = 4,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid) assignment after ``n_iter`` Lloyd rounds.

    Returns every input row with its cluster id (0..k-1, seeded from the k
    lowest-id vectors). The assignment returned is the one computed in the
    final round (i.e. against the centroids of round ``n_iter - 1``).
    """
    base = _base(df, id_col, vec_col)
    cent = _seed_centroids(base, k, id_col)
    assigned = None
    for _ in range(n_iter):
        assigned = _assign(base, cent)
        cent = _update(assigned)
    return assigned.select(id_col, "cid")


def cluster_profile(assigned: DataFrame) -> DataFrame:
    """(cid, n_members) summary of a k-means assignment."""
    return (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cid")
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, vec) centroid table after ``n_iter`` Lloyd updates.

    Same seeding/tie-break/exact-mean discipline as :func:`kmeans_assign`
    (shared ``_seed_centroids`` / ``_assign`` / ``_update`` helpers — one
    Lloyd implementation, not two to keep in sync), exposed as a table so
    downstream index builders — the IVF coarse quantizer in
    ``queries/similarity.ann_ivf_kmeans_topk`` — can train their
    centroids instead of using a stand-in. ``n_iter=0`` returns the raw
    seeds.
    """
    base = _base(df, id_col, vec_col)
    cent = _seed_centroids(base, k, id_col)
    for _ in range(n_iter):
        cent = _update(_assign(base, cent))
    return cent
