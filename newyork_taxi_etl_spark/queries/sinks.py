"""Sink / catalog / SQL-surface queries (SURVEY §2.1 S2-S6, §3.2).

These exercise side-effecting paths (write → catalog → pruned re-read), yet
every registered result is deterministic and VALUE-checked against a
source-of-truth aggregate oracle — the round trip must be lossless and the
introspection must agree with the data.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from newyork_taxi_etl_spark.functions.exact import (
    avg_exact,
    avg_exact_sql,
    sum_exact,
    sum_exact_sql,
)
from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.session import scratch
from newyork_taxi_etl_spark.sources.readers import table
from newyork_taxi_etl_spark.sources.writers import (
    HAVE_DELTA,
    optimize_zorder,
    write_partitioned,
    write_zordered_approx,
)


@register(
    "partitioned_write_pruned_read",
    """
    SELECT CAST(EXTRACT(day FROM CAST(ts AS TIMESTAMP)) AS INT) AS event_day,
           COUNT(*) AS cnt
    FROM events
    WHERE EXTRACT(month FROM CAST(ts AS TIMESTAMP)) = 1
      AND EXTRACT(day FROM CAST(ts AS TIMESTAMP)) BETWEEN 1 AND 7
    GROUP BY 1
    ORDER BY 1
    """,
    doc="S3+S4+§4 partition pruning: write events partitioned by "
    "year/month/day (the reference's pickup_year/month/day layout, "
    "nb:117830 (c119)), read back with a partition predicate — the scan "
    "lists only the matching directories. The round-tripped result is "
    "deterministic, so the side-effecting path is FULLY value-checked "
    "against the source-of-truth aggregate",
)
def partitioned_write_pruned_read(spark, sf_dir):
    out = scratch("partitioned_events")
    df = (
        table(spark, sf_dir, "events")
        .withColumn("event_year", F.year("ts"))
        .withColumn("event_month", F.month("ts"))
        .withColumn("event_day", F.dayofmonth("ts"))
    )
    write_partitioned(df, out, ["event_year", "event_month", "event_day"], fmt="parquet")
    back = spark.read.parquet(out).filter(
        (F.col("event_month") == 1) & (F.col("event_day").between(1, 7))
    )
    return (
        back.groupBy("event_day")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("event_day")
    )


@register(
    "zorder_approx_roundtrip",
    """
    SELECT event_type, COUNT(*) AS cnt
    FROM events
    WHERE user_id = 7
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="§3.3 OPTIMIZE ZORDER approximation (delta-spark absent): "
    "repartitionByRange + sortWithinPartitions on (user_id, event_type) so "
    "file-level min/max stats become selective; read back with a key filter "
    "and value-checked against the pre-write aggregate (clustering must "
    "never change query results, only file-skipping selectivity)",
)
def zorder_approx_roundtrip(spark, sf_dir):
    out = scratch("zordered_events")
    df = table(spark, sf_dir, "events")
    write_zordered_approx(df, out, ["user_id", "event_type"], target_files=8)
    back = spark.read.parquet(out).filter(F.col("user_id") == 7)
    return (
        back.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("event_type")
    )


@register(
    "sql_catalog_surface",
    """
    SELECT event_type,
           COUNT(*) AS cnt,
           (SELECT CAST(COUNT(DISTINCT EXTRACT(month FROM CAST(ts AS TIMESTAMP)))
                   AS INT)
            FROM events) AS n_partitions
    FROM events
    WHERE EXTRACT(month FROM CAST(ts AS TIMESTAMP)) = 1
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="S5/S6 + §3.2: saveAsTable on the session catalog, SHOW PARTITIONS, "
    "partition-pruned SELECT via spark.sql — value-checked: the pruned "
    "counts AND the SHOW PARTITIONS cardinality must equal the source-of-"
    "truth aggregates (n_partitions == COUNT(DISTINCT month))",
)
def sql_catalog_surface(spark, sf_dir):
    df = table(spark, sf_dir, "events").withColumn("event_month", F.month("ts"))
    spark.sql("DROP TABLE IF EXISTS nyetl_events_tbl")
    # a fresh in-memory catalog doesn't know about tables a previous session
    # wrote, so DROP TABLE can't clear the managed location — remove it too
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(os.path.join(warehouse, "nyetl_events_tbl"), ignore_errors=True)
    (
        df.write.mode("overwrite")
        .partitionBy("event_month")
        .saveAsTable("nyetl_events_tbl")
    )
    parts = spark.sql("SHOW PARTITIONS nyetl_events_tbl").count()
    result = spark.sql(
        """
        SELECT event_type, COUNT(*) AS cnt
        FROM nyetl_events_tbl
        WHERE event_month = 1
        GROUP BY event_type
        ORDER BY event_type
        """
    )
    # fold the partition count in as a sanity column (deterministic)
    return result.withColumn("n_partitions", F.lit(parts))


@register(
    "describe_table_detail",
    """
    SELECT 'parquet' AS tbl_format,
           'nyetl_events_detail_tbl' AS tbl_name,
           'event_month' AS partition_columns,
           COUNT(DISTINCT EXTRACT(month FROM CAST(ts AS TIMESTAMP)))
             AS num_partitions
    FROM events
    """,
    doc="S6 DESCRIBE DETAIL analog (reference nb:119462 (c125)): one-row "
    "table detail — format, name, partition columns, partition count — "
    "assembled from catalog introspection (DESCRIBE TABLE EXTENDED, "
    "listColumns, SHOW PARTITIONS). Every registered column is "
    "deterministic, so the introspection path is VALUE-checked: the "
    "catalog's SHOW PARTITIONS cardinality must equal the source-of-truth "
    "COUNT(DISTINCT month). The env-dependent file count stays in "
    "tests/test_catalog_detail.py (describe_table_detail_full), not here",
)
def describe_table_detail(spark, sf_dir):
    return describe_table_detail_full(spark, sf_dir).drop("num_files")


def describe_table_detail_full(spark, sf_dir):
    """DESCRIBE DETAIL with the filesystem file count included.

    ``num_files`` depends on task parallelism at write time, so the
    registered query drops it; pytest asserts it separately.
    """
    df = table(spark, sf_dir, "events").withColumn("event_month", F.month("ts"))
    tbl = "nyetl_events_detail_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    loc = os.path.join(warehouse, tbl)
    shutil.rmtree(loc, ignore_errors=True)
    df.write.mode("overwrite").partitionBy("event_month").saveAsTable(tbl)

    ext = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
    }
    part_cols = [c.name for c in spark.catalog.listColumns(tbl) if c.isPartition]
    n_partitions = spark.sql(f"SHOW PARTITIONS {tbl}").count()
    n_files = sum(
        1
        for root, _, files in os.walk(loc)
        for f in files
        if f.endswith(".parquet")
    )
    from newyork_taxi_etl_spark.localrel import local_rows_df

    return local_rows_df(
        spark,
        [
            (
                ext.get("Provider", "parquet").lower(),
                tbl,
                ",".join(part_cols),
                n_partitions,
                n_files,
            )
        ],
        "tbl_format string, tbl_name string, partition_columns string, "
        "num_partitions long, num_files long",
    )


if HAVE_DELTA:  # pragma: no cover - activates when delta-spark is installed

    @register(
        "delta_roundtrip_zorder",
        None,
        doc="S3/S4 + §3.3 real Delta path: partitioned Delta write, "
        "OPTIMIZE ZORDER BY, pruned read-back — registered only when "
        "delta-spark is importable (probe in sources/writers.py)",
    )
    def delta_roundtrip_zorder(spark, sf_dir):
        out = scratch("delta_events")
        df = (
            table(spark, sf_dir, "events")
            .withColumn("event_month", F.month("ts"))
        )
        write_partitioned(df, out, ["event_month"], fmt="delta")
        optimize_zorder(spark, out, ["user_id", "event_type"])
        back = spark.read.format("delta").load(out).filter(
            F.col("event_month") == 1
        )
        return (
            back.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("event_type")
        )


@register(
    "bucketed_colocated_join",
    f"""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS order_cnt,
           {avg_exact_sql('o.o_totalprice')} AS avg_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY 1
    """,
    doc="bucketed co-located join: both tables bucketBy(custkey) + sortBy, "
    "so the sort-merge join runs with ZERO pre-join exchange or sort — the "
    "bucketing pattern that amortizes one write-time shuffle across every "
    "future join on the key (the 100 TB repeated-join strategy); result "
    "value-checked against the plain-join oracle",
)
def bucketed_colocated_join(spark, sf_dir):
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for t in ("nyetl_orders_bkt", "nyetl_customer_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .write.bucketBy(4, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .saveAsTable("nyetl_orders_bkt")
    )
    (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .write.bucketBy(4, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .saveAsTable("nyetl_customer_bkt")
    )
    o = spark.table("nyetl_orders_bkt")
    c = spark.table("nyetl_customer_bkt")
    # merge hint: keep the sort-merge path so bucket co-location (not a
    # broadcast of the small test dim) is what removes the exchanges
    joined = o.hint("merge").join(c, o.o_custkey == c.c_custkey)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            avg_exact("o_totalprice").alias("avg_price"),
        )
        .orderBy("mktsegment")
    )


def _roundtrip_agg(df):
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            avg_exact("value").alias("avg_value"),
        )
        .orderBy("event_type")
    )


_ROUNDTRIP_ORACLE = f"""
    SELECT event_type,
           COUNT(*) AS cnt,
           {avg_exact_sql('value')} AS avg_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


@register(
    "csv_roundtrip",
    _ROUNDTRIP_ORACLE,
    doc="CSV source/sink round-trip: events written as headered CSV, read "
    "back with an explicit schema (never inferSchema at scale — it costs a "
    "full extra pass), aggregated and VALUE-checked against the parquet "
    "oracle — proving the text round-trip is lossless (Spark's shortest-"
    "repr double formatting reparses exactly)",
)
def csv_roundtrip(spark, sf_dir):
    out = scratch("events_csv")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).option("header", True).csv(out)
    return _roundtrip_agg(back)


@register(
    "jsonl_roundtrip",
    _ROUNDTRIP_ORACLE,
    doc="JSON-lines source/sink round-trip: same lossless contract as "
    "csv_roundtrip over newline-delimited JSON (the interchange format "
    "most raw training-data drops arrive in), schema supplied on read",
)
def jsonl_roundtrip(spark, sf_dir):
    out = scratch("events_jsonl")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).json(out)
    return _roundtrip_agg(back)


@register(
    "orc_roundtrip",
    _ROUNDTRIP_ORACLE,
    doc="ORC source/sink round-trip: the other columnar container Spark "
    "ships a vectorized reader for; binary-exact by construction, same "
    "value-checked contract",
)
def orc_roundtrip(spark, sf_dir):
    out = scratch("events_orc")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return _roundtrip_agg(back)


@register(
    "cdc_merge_apply",
    """
    WITH changes AS (
      SELECT c_custkey AS k, 'U' AS op,
             CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2))
                        * CAST(1.1 AS DECIMAL(3,2)), 2) AS DOUBLE) AS new_bal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, 'D', NULL FROM customer WHERE c_custkey % 10 = 1
      UNION ALL
      SELECT c_custkey + 10000000, 'I',
             CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2))
                        * CAST(0.5 AS DECIMAL(2,1)), 2) AS DOUBLE)
      FROM customer WHERE c_custkey % 10 = 2
    ),
    merged AS (
      SELECT COALESCE(ch.k, s.c_custkey) AS k,
             CASE WHEN ch.op IN ('U', 'I') THEN ch.new_bal
                  ELSE s.c_acctbal END AS bal,
             ch.op
      FROM customer s FULL OUTER JOIN changes ch ON s.c_custkey = ch.k
      WHERE ch.op IS NULL OR ch.op <> 'D'
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_before,
      CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
      CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM changes WHERE op = 'D')
        AS n_deleted,
      CAST(COUNT(*) AS BIGINT) AS n_after,
      ROUND(CAST(CAST(CAST(SUM(CAST(CAST(bal AS VARCHAR)
                AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS DOUBLE), 2)
        AS bal_checksum
    FROM merged
    """,
    doc="CDC merge apply (MERGE INTO semantics without a table format): a "
    "deterministic change set (updates, deletes, inserts keyed off "
    "custkey residues) applied onto the customer snapshot via ONE full "
    "outer join — update rows take the change value, delete rows drop, "
    "unmatched snapshot rows pass through, insert keys land disjoint. "
    "Row-count accounting per op plus a decimal-exact balance checksum "
    "proves the merge byte-for-byte. Scale: the join shuffles on the "
    "merge key exactly like Delta/Iceberg MERGE's find-touched-files "
    "phase; at 100 TB the win is partition pruning on the snapshot side, "
    "which partitioned_write_pruned_read demonstrates",
)
def cdc_merge_apply(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.exact import sum_exact

    cust = table(spark, sf_dir, "customer")
    upd = cust.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit("U").alias("op"),
        F.round(
            F.col("c_acctbal").cast("decimal(18,2)")
            * F.expr("CAST(1.1 AS DECIMAL(3,2))"),
            2,
        ).cast("double").alias("new_bal"),
    )
    dele = cust.filter(F.col("c_custkey") % 10 == 1).select(
        F.col("c_custkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_bal"),
    )
    ins = cust.filter(F.col("c_custkey") % 10 == 2).select(
        (F.col("c_custkey") + 10000000).alias("k"),
        F.lit("I").alias("op"),
        F.round(
            F.col("c_acctbal").cast("decimal(18,2)")
            * F.expr("CAST(0.5 AS DECIMAL(2,1))"),
            2,
        ).cast("double").alias("new_bal"),
    )
    changes = upd.unionAll(dele).unionAll(ins)
    merged = (
        cust.join(changes, cust["c_custkey"] == changes["k"], "full_outer")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.when(F.col("op").isin("U", "I"), F.col("new_bal"))
            .otherwise(F.col("c_acctbal"))
            .alias("bal"),
            "op",
        )
    )
    n_before = cust.agg(F.count(F.lit(1)).cast("bigint").alias("n_before"))
    n_deleted = dele.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_deleted")
    )
    return (
        merged.agg(
            F.sum(F.when(F.col("op") == "I", 1).otherwise(0))
            .cast("bigint")
            .alias("n_inserted"),
            F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
            .cast("bigint")
            .alias("n_updated"),
            F.count(F.lit(1)).cast("bigint").alias("n_after"),
            F.round(sum_exact("bal"), 2).alias("bal_checksum"),
        )
        .crossJoin(F.broadcast(n_before))
        .crossJoin(F.broadcast(n_deleted))
        .select(
            "n_before", "n_inserted", "n_updated", "n_deleted", "n_after",
            "bal_checksum",
        )
    )


@register(
    "schema_evolution_read",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM v1
      UNION ALL
      SELECT * FROM v2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_orderpriority) AS BIGINT) AS n_with_priority,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nulled_legacy,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
    FROM unioned
    """,
    doc="schema evolution across file generations: generation 1 written "
    "without a column, generation 2 with it, read back in ONE scan via "
    "mergeSchema — legacy rows surface the new column as NULL instead of "
    "failing the read (the additive-evolution contract every long-lived "
    "lake table depends on). The oracle reproduces the union-with-null "
    "semantics; counts prove which generation each row came from. At "
    "scale, footer-schema merging is per-file metadata work — rows never "
    "rewrite",
)
def schema_evolution_read(spark, sf_dir):
    out = scratch("schema_evo")
    orders = table(spark, sf_dir, "orders")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(os.path.join(out, "gen=1"))
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(os.path.join(out, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("o_orderpriority").cast("bigint").alias("n_with_priority"),
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nulled_legacy"),
        F.countDistinct("o_orderpriority").cast("bigint").alias(
            "n_priorities"
        ),
    )


@register(
    "scd2_dimension_history",
    """
    WITH dim AS (
      SELECT c_custkey AS custkey, c_mktsegment AS segment,
             TIMESTAMP '1990-01-01' AS valid_from
      FROM customer
    ),
    changed AS (
      SELECT DISTINCT d.custkey
      FROM dim d JOIN orders o ON o.o_custkey = d.custkey
      WHERE o.o_orderdate >= TIMESTAMP '2000-01-01'
        AND d.segment <> 'PREMIUM'
    ),
    unchanged AS (
      SELECT custkey, segment, valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
      FROM dim WHERE custkey NOT IN (SELECT custkey FROM changed)
    ),
    closed AS (
      SELECT d.custkey, d.segment, d.valid_from,
             TIMESTAMP '2000-01-01' AS valid_to, FALSE AS is_current
      FROM dim d JOIN changed USING (custkey)
    ),
    opened AS (
      SELECT custkey, 'PREMIUM' AS segment,
             TIMESTAMP '2000-01-01' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
      FROM changed
    )
    SELECT * FROM (
      SELECT * FROM unchanged
      UNION ALL SELECT * FROM closed
      UNION ALL SELECT * FROM opened
    )
    ORDER BY custkey, valid_from
    """,
    doc="SCD Type 2 dimension maintenance (the historized-dimension twin "
    "of cdc_merge_apply's Type 1 upsert): customers who ordered on/after "
    "2000-01-01 migrate to segment PREMIUM — the old attribute row is "
    "CLOSED (valid_to = effective date, is_current = false) and a new "
    "open-ended row inserted, while untouched keys pass through; no row "
    "is ever updated in place, so history remains queryable AS OF any "
    "date. Dataflow: the changed-key set from one distinct semi-join, "
    "then one semi and one anti join against the dimension plus a "
    "3-way union — with Delta this is MERGE WHEN MATCHED with "
    "close+insert; on parquet it is the same joins feeding an "
    "overwrite. Keys scale-free: nothing here is per-row Python and "
    "every join is an equi hash join on the dimension key",
)
def scd2_dimension_history(spark, sf_dir):
    eff = "2000-01-01"
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
    )
    changed = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= eff)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
        .join(dim.filter(F.col("segment") != "PREMIUM"), "custkey", "semi")
    )
    null_ts = F.lit(None).cast("timestamp")
    unchanged = dim.join(changed, "custkey", "anti").select(
        "custkey",
        "segment",
        "valid_from",
        null_ts.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = dim.join(changed, "custkey", "semi").select(
        "custkey",
        "segment",
        "valid_from",
        F.lit(eff).cast("timestamp").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = changed.select(
        "custkey",
        F.lit("PREMIUM").alias("segment"),
        F.lit(eff).cast("timestamp").alias("valid_from"),
        null_ts.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return unchanged.unionAll(closed).unionAll(opened).orderBy(
        "custkey", "valid_from"
    )


@register(
    "incremental_agg_refresh",
    f"""
    SELECT o_custkey AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sum_exact_sql('o_totalprice')} AS total_spend
    FROM orders
    WHERE (o_orderdate <  TIMESTAMP '1999-01-01' AND o_orderstatus <> 'F')
       OR  o_orderdate >= TIMESTAMP '1999-01-01'
    GROUP BY custkey
    ORDER BY custkey
    """,
    doc="Differential materialized-view maintenance: a per-customer "
    "(n_orders, total_spend) aggregate over OPEN business is refreshed "
    "from a base snapshot (all orders before 1999) by applying a delta "
    "of inserts (orders from 1999 on) and retractions (pre-1999 orders "
    "that reached status 'F' and leave the open view) — new_state = "
    "base ⊕ delta_ins ⊖ delta_del via two full-outer merges on the "
    "group key, groups annihilated to count 0 dropped.  The oracle is "
    "the full recompute, proving the differential path reaches the "
    "identical state.  Counts subtract exactly; spend is maintained in "
    "decimal(38,12) end-to-end (associative, order-independent) and "
    "cast to double only on output, so insert-then-retract round-trips "
    "are bit-exact.  At 100 TB this is THE reason MV deltas exist: the "
    "two delta legs prune to the delta partitions at the scan "
    "(PushedFilters on o_orderdate/o_orderstatus) instead of rescanning "
    "full history, all three partial aggregates are map-side combined, "
    "and both merge joins share the custkey hash partitioning so AQE "
    "reuses one exchange per side.",
)
def incremental_agg_refresh(spark, sf_dir):
    cutoff = "1999-01-01"
    orders = table(spark, sf_dir, "orders")
    dec = "decimal(38,12)"

    def state(df):
        return df.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(dec)).alias("spend"),
        )

    base = state(orders.filter(F.col("o_orderdate") < cutoff))
    ins = state(orders.filter(F.col("o_orderdate") >= cutoff))
    dels = state(
        orders.filter(
            (F.col("o_orderdate") < cutoff) & (F.col("o_orderstatus") == "F")
        )
    )

    def merge(left, right, sign):
        z = F.lit(0)
        return (
            left.join(right.withColumnRenamed("n", "dn").withColumnRenamed(
                "spend", "dspend"), "custkey", "full_outer")
            .select(
                "custkey",
                (F.coalesce(F.col("n"), z) + sign * F.coalesce(F.col("dn"), z))
                .alias("n"),
                (
                    F.coalesce(F.col("spend"), z.cast(dec))
                    + sign * F.coalesce(F.col("dspend"), z.cast(dec))
                ).cast(dec).alias("spend"),
            )
        )

    refreshed = merge(merge(base, ins, F.lit(1)), dels, F.lit(-1))
    return (
        refreshed.filter(F.col("n") > 0)
        .select(
            "custkey",
            F.col("n").alias("n_orders"),
            F.col("spend").cast("double").alias("total_spend"),
        )
        .orderBy("custkey")
    )


def _compact_orders(spark, sf_dir):
    """Write orders fragmented (repartition(16)), compact via coalesce(2).

    Returns (n_files_before, n_files_after, compact_dir).  The work dir
    comes from ``session.scratch``, so every call gets its own: it must
    outlive this call because the returned DataFrame reads the compacted
    files lazily, and it is freed when ``small_file_compaction`` is next
    called on the same thread (at process exit when called directly).
    """
    import glob

    base = scratch("compact")
    small_dir = os.path.join(base, "small")
    compact_dir = os.path.join(base, "compact")

    orders = table(spark, sf_dir, "orders")
    orders.repartition(16).write.mode("overwrite").parquet(small_dir)
    n_before = len(glob.glob(os.path.join(small_dir, "*.parquet")))

    spark.read.parquet(small_dir).coalesce(2).write.mode("overwrite").parquet(
        compact_dir
    )
    n_after = len(glob.glob(os.path.join(compact_dir, "*.parquet")))
    return n_before, n_after, compact_dir


@register(
    "small_file_compaction",
    f"""
    SELECT TRUE AS files_reduced,
           CAST(COUNT(*) AS BIGINT) AS row_cnt,
           {sum_exact_sql('o_totalprice')} AS price_checksum
    FROM orders
    """,
    doc="Small-file compaction (the OPTIMIZE of a parquet-only warehouse): "
    "a fragmented table (explicitly repartition(16)-written) is rewritten "
    "through coalesce(2) — a NARROW dependency, no shuffle: each output "
    "task concatenates 8 input files.  The oracle gate is STRUCTURAL "
    "(ADVICE r6): files_reduced = (n_after < n_before) plus lossless "
    "content (row count + decimal checksum read back from the COMPACTED "
    "files) — data-correctness properties, not committer-layout literals; "
    "the exact 16-to-2 layout contract (explicit repartition survives AQE, "
    "coalesce emits one file per partition) is pinned separately in "
    "tests/test_compaction.py where an environment change reads as a test "
    "update, not a correctness failure.  At 100 TB this runs per "
    "table-partition with coalesce sized to the target file size "
    "(file_bytes/128MB), never a global repartition — the same layout "
    "contract as Delta OPTIMIZE, which S3's conditional registration "
    "upgrades to when delta-spark is present.",
)
def small_file_compaction(spark, sf_dir):
    n_before, n_after, compact_dir = _compact_orders(spark, sf_dir)

    from newyork_taxi_etl_spark.functions.exact import sum_exact

    return spark.read.parquet(compact_dir).agg(
        F.lit(bool(n_after < n_before)).alias("files_reduced"),
        F.count(F.lit(1)).cast("bigint").alias("row_cnt"),
        sum_exact("o_totalprice").alias("price_checksum"),
    )


@register(
    "compaction_concurrent_read",
    f"""
    SELECT TRUE AS files_reduced,
           CAST(COUNT(*) AS BIGINT) AS rows_snapshot,
           CAST(COUNT(*) AS BIGINT) AS rows_compacted,
           {sum_exact_sql('o_totalprice')} AS snapshot_checksum,
           {sum_exact_sql('o_totalprice')} AS compacted_checksum
    FROM orders
    """,
    doc="compaction under CONCURRENT READ (r6 verdict optional (b) — the "
    "snapshot-isolation rung of the warehouse story): the table lives in "
    "generation directories behind a tiny _current pointer file; a reader "
    "resolves the pointer ONCE and holds gen0 while the compactor writes "
    "gen1 (coalesce(2), never touching gen0's immutable files) and then "
    "swaps the pointer with an atomic os.replace.  The old reader — "
    "collected AFTER the swap — still sees its complete, consistent gen0 "
    "snapshot; a fresh reader resolves gen1.  The oracle value-checks "
    "that BOTH snapshots equal the source (row count + decimal checksum "
    "each): an in-place rewrite would tear the old reader's file list "
    "mid-scan and fail the compare.  This is exactly the discipline "
    "Delta/Iceberg mechanize with a transaction log; on plain parquet "
    "the pointer file IS the single-table log, and readers of "
    "superseded generations keep working until a retention sweep "
    "removes them (here: the table lives in the call's scratch, freed "
    "when this query is next called on the same thread).",
)
def compaction_concurrent_read(spark, sf_dir):
    import glob

    base = scratch("genswap")
    pointer = os.path.join(base, "_current")

    def write_pointer(gen):
        tmp = pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(gen)
        os.replace(tmp, pointer)  # atomic: readers see old or new, never torn

    def resolve():
        with open(pointer) as f:
            return os.path.join(base, f.read().strip())

    orders = table(spark, sf_dir, "orders")
    gen0 = os.path.join(base, "gen0")
    orders.repartition(16).write.mode("overwrite").parquet(gen0)
    write_pointer("gen0")

    # the concurrent reader: resolves the pointer BEFORE compaction and
    # holds gen0's immutable file set through the swap
    old_snapshot = spark.read.parquet(resolve())

    gen1 = os.path.join(base, "gen1")
    spark.read.parquet(gen0).coalesce(2).write.mode("overwrite").parquet(gen1)
    write_pointer("gen1")  # the ONLY mutation the table ever sees

    new_snapshot = spark.read.parquet(resolve())
    n0 = len(glob.glob(os.path.join(gen0, "*.parquet")))
    n1 = len(glob.glob(os.path.join(gen1, "*.parquet")))

    old_agg = old_snapshot.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_snapshot"),
        sum_exact("o_totalprice").alias("snapshot_checksum"),
    )
    new_agg = new_snapshot.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_compacted"),
        sum_exact("o_totalprice").alias("compacted_checksum"),
    )
    return old_agg.crossJoin(new_agg).select(
        F.lit(bool(n1 < n0)).alias("files_reduced"),
        "rows_snapshot",
        "rows_compacted",
        "snapshot_checksum",
        "compacted_checksum",
    )


@register(
    "table_diff_reconcile",
    """
    WITH base AS (
      SELECT event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS yi,
             ((event_id * 2654435761) % 4294967296) % 64 AS bucket
      FROM events WHERE value IS NOT NULL
    ),
    snap AS (
      SELECT event_id,
             CASE WHEN event_id % 1000 = 7 THEN yi + 100 ELSE yi END AS yi,
             bucket
      FROM base WHERE event_id % 5000 <> 11
    ),
    ck_a AS (
      SELECT bucket, COUNT(*) AS cnt,
             SUM(CAST(('0x' || substring(md5(concat(
               CAST(event_id AS VARCHAR), '|', CAST(yi AS VARCHAR)
             )), 1, 8)) AS BIGINT)) AS sig
      FROM base GROUP BY bucket
    ),
    ck_b AS (
      SELECT bucket, COUNT(*) AS cnt,
             SUM(CAST(('0x' || substring(md5(concat(
               CAST(event_id AS VARCHAR), '|', CAST(yi AS VARCHAR)
             )), 1, 8)) AS BIGINT)) AS sig
      FROM snap GROUP BY bucket
    ),
    dirty AS (
      SELECT a.bucket
      FROM ck_a a FULL OUTER JOIN ck_b b ON a.bucket = b.bucket
      WHERE a.cnt IS DISTINCT FROM b.cnt OR a.sig IS DISTINCT FROM b.sig
    ),
    rowdiff AS (
      SELECT a.event_id AS id_a, b.event_id AS id_b,
             a.yi AS y_a, b.yi AS y_b
      FROM (SELECT * FROM base WHERE bucket IN (SELECT bucket FROM dirty)) a
      FULL OUTER JOIN
           (SELECT * FROM snap WHERE bucket IN (SELECT bucket FROM dirty)) b
        ON a.event_id = b.event_id
    )
    SELECT CAST(64 AS BIGINT) AS buckets_total,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dirty) AS buckets_dirty,
           CAST(SUM(CASE WHEN id_a IS NOT NULL AND id_b IS NOT NULL
                          AND y_a <> y_b THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_changed,
           CAST(SUM(CASE WHEN id_b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_deleted,
           CAST(SUM(CASE WHEN id_a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_inserted
    FROM rowdiff
    """,
    doc="TABLE DIFF / anti-entropy reconciliation (does replica B equal "
    "snapshot A, and where?): both sides reduce to per-bucket "
    "(count, checksum) — 64 Knuth-hash buckets, md5-prefix row "
    "signatures summed so the checksum is order-independent — and ONLY "
    "buckets whose fingerprints disagree graduate to a row-level full "
    "outer join classifying changed/deleted/inserted.  This is the "
    "Merkle-style two-phase reconcile: at 100 TB the fingerprint pass "
    "is one map-side-combined aggregate per side (O(buckets) rows "
    "cross the network), and the expensive row join touches only the "
    "dirty slice — here 2/64 buckets, never the whole table.  The "
    "'snapshot' is derived in-query (value bump on event_id%1000==7, "
    "deletes on event_id%5000==11) so the op is fully value-oracled.",
)
def table_diff_reconcile(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.sampling import hash_bucket

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("yi"),
        hash_bucket("event_id", 64).alias("bucket"),
    )
    snap = base.filter(F.col("event_id") % 5000 != 11).select(
        "event_id",
        F.when(F.col("event_id") % 1000 == 7, F.col("yi") + 100)
        .otherwise(F.col("yi"))
        .alias("yi"),
        "bucket",
    )

    def checksums(df):
        sig = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("event_id").cast("string"),
                        F.col("yi").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        return df.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum(sig).alias("sig")
        )

    a, b = checksums(base).alias("a"), checksums(snap).alias("b")
    dirty = (
        a.join(b, F.col("a.bucket") == F.col("b.bucket"), "full_outer")
        .filter(
            ~F.col("a.cnt").eqNullSafe(F.col("b.cnt"))
            | ~F.col("a.sig").eqNullSafe(F.col("b.sig"))
        )
        .select(F.coalesce("a.bucket", "b.bucket").alias("bucket"))
    )
    base_d = base.join(F.broadcast(dirty), "bucket").alias("x")
    snap_d = snap.join(F.broadcast(dirty), "bucket").alias("y")
    rowdiff = base_d.join(
        snap_d, F.col("x.event_id") == F.col("y.event_id"), "full_outer"
    ).select(
        F.col("x.event_id").alias("id_a"),
        F.col("y.event_id").alias("id_b"),
        F.col("x.yi").alias("y_a"),
        F.col("y.yi").alias("y_b"),
    )
    n_dirty = dirty.agg(
        F.count(F.lit(1)).cast("bigint").alias("buckets_dirty")
    )
    return (
        rowdiff.agg(
            F.sum(
                (
                    F.col("id_a").isNotNull()
                    & F.col("id_b").isNotNull()
                    & (F.col("y_a") != F.col("y_b"))
                ).cast("int")
            ).cast("bigint").alias("rows_changed"),
            F.sum(F.col("id_b").isNull().cast("int")).cast("bigint")
            .alias("rows_deleted"),
            F.sum(F.col("id_a").isNull().cast("int")).cast("bigint")
            .alias("rows_inserted"),
        )
        .crossJoin(F.broadcast(n_dirty))
        .select(
            F.lit(64).cast("bigint").alias("buckets_total"),
            "buckets_dirty",
            "rows_changed",
            "rows_deleted",
            "rows_inserted",
        )
    )


@register(
    "compliance_delete_rewrite",
    f"""
    WITH tgt AS (
      SELECT ((7 * 2654435761) % 4294967296) % 16 AS b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_after,
           CAST(SUM(CASE WHEN user_id = 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS target_rows_left,
           {sum_exact_sql('value')} AS value_checksum,
           (SELECT CAST(b AS BIGINT) FROM tgt) AS rewritten_bucket,
           CAST(1 AS BIGINT) AS buckets_rewritten
    FROM events
    WHERE user_id <> 7 OR user_id IS NULL
    """,
    doc="COMPLIANCE DELETE (GDPR erasure) with file-level pruning: the "
    "table lives partitioned by a 16-way Knuth hash bucket of user_id, "
    "so erasing one user rewrites EXACTLY the one partition directory "
    "holding that user, as remove-dir + append-files — the same commit "
    "actions as Delta's file-pruned DELETE (dynamic "
    "partitionOverwriteMode is deliberately NOT used: it replaces only "
    "partitions PRESENT in the write, so a user owning a whole "
    "partition — zero survivors — would silently keep their data; the "
    "sf0.001 corpus hits exactly that edge). The rewrite scan reads "
    "only the target bucket (partition pruning). Value gate: "
    "post-delete row count, target-row count (0), decimal checksum of "
    "every surviving row (the other 15 buckets must be byte-identical "
    "data), and the rewritten bucket id recomputed by the oracle. At "
    "100 TB this is the difference between rewriting 1/16th of a table "
    "and rewriting all of it; with Delta present the same op is one "
    "DELETE WHERE with the txn log pruning by file stats.",
)
def compliance_delete_rewrite(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.sampling import hash_bucket

    out = scratch("compliance_tbl")
    ev = table(spark, sf_dir, "events").withColumn(
        "u_bucket", hash_bucket("user_id", 16)
    )
    ev.write.mode("overwrite").partitionBy("u_bucket").parquet(out)

    # bucket lookup derives from the IMMUTABLE source (never the table dir:
    # a lazy plan over `out` would re-list files after the rewrite below)
    target_bucket = (
        ev.filter(F.col("user_id") == 7).select("u_bucket").distinct()
    )
    # Fail loudly if the erasure target is absent (r7 ADVICE): the oracle
    # asserts buckets_rewritten=1 and the Knuth bucket of user 7, so a
    # corpus without user 7 must abort here rather than return NULL/0 and
    # fail the parity gate with a confusing hash mismatch.
    if target_bucket.limit(1).count() == 0:
        raise AssertionError(
            "compliance_delete_rewrite requires user_id=7 in the corpus; "
            "the oracle's expected bucket is derived from that user"
        )
    # rewrite ONLY the affected partition: scan `out` pruned to the target
    # bucket dir, stage the surviving rows (a read-modify-overwrite of the
    # same path in one plan is the classic self-overwrite failure), then
    # remove-files + add-files — exactly Delta DELETE's commit actions.
    # NOT partitionOverwriteMode=dynamic: that replaces only partitions
    # PRESENT in the write, so a bucket whose survivors are empty (a user
    # who owned a whole partition) would silently keep its old data.
    stage = scratch("compliance_stage")
    (
        spark.read.parquet(out)
        .join(F.broadcast(target_bucket), "u_bucket")
        .filter(F.col("user_id") != 7)
        .write.mode("overwrite")
        .parquet(stage)
    )
    # the per-bucket dir list is O(buckets of one user) — planner-style
    # 1-column fetch, same role as the join chooser's decision rows
    for row in target_bucket.collect():
        shutil.rmtree(
            os.path.join(out, f"u_bucket={row['u_bucket']}"),
            ignore_errors=True,
        )
    try:
        staged = spark.read.parquet(stage)
    except AnalysisException:  # zero survivors: empty stage, no schema
        staged = None
    if staged is not None:
        staged.write.mode("append").partitionBy("u_bucket").parquet(out)

    back = spark.read.parquet(out)
    stats = back.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_after"),
        F.sum((F.col("user_id") == 7).cast("int")).cast("bigint")
        .alias("target_rows_left"),
        sum_exact("value").alias("value_checksum"),
    )
    tgt = target_bucket.agg(
        F.max("u_bucket").cast("bigint").alias("rewritten_bucket"),
        F.count(F.lit(1)).cast("bigint").alias("buckets_rewritten"),
    )
    return stats.crossJoin(F.broadcast(tgt)).select(
        "rows_after",
        "target_rows_left",
        "value_checksum",
        "rewritten_bucket",
        "buckets_rewritten",
    )



@register(
    "time_travel_vacuum",
    f"""
    WITH v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 100 = 3
                  THEN o_totalprice + 1 ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS rows_v0,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v1) AS rows_current,
           (SELECT {sum_exact_sql('o_totalprice')} FROM orders)
             AS checksum_v0,
           (SELECT {sum_exact_sql('price')} FROM v1) AS checksum_current,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey % 100 = 3) AS rows_differing,
           CAST(2 AS BIGINT) AS gens_before_vacuum,
           CAST(1 AS BIGINT) AS gens_after_vacuum,
           TRUE AS current_intact_after_vacuum
    """,
    doc="TIME TRAVEL + VACUUM on the generation-pointer table "
    "(compaction_concurrent_read's snapshot machinery taken to its "
    "conclusion): an update writes gen1 (price bump on o_orderkey%100==3) "
    "and atomically swaps the _current pointer — gen0's immutable files "
    "now ARE 'VERSION AS OF 0', readable any time by naming the "
    "generation instead of the pointer (Delta time travel degraded to "
    "plain parquet: versions live as long as their files).  VACUUM then "
    "removes every non-current generation (retention 0h for the demo; "
    "production keeps a horizon so long-running readers finish) and the "
    "CURRENT snapshot re-checksums clean afterwards — vacuum must never "
    "touch live data.  The oracle recomputes both versions' counts and "
    "decimal checksums, the row-level diff between them, and the "
    "2-to-1 generation collapse.",
)
def time_travel_vacuum(spark, sf_dir):
    base = scratch("timetravel")
    pointer = os.path.join(base, "_current")

    def write_pointer(gen):
        tmp = pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(gen)
        os.replace(tmp, pointer)

    def resolve():
        with open(pointer) as f:
            return os.path.join(base, f.read().strip())

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    gen0 = os.path.join(base, "gen0")
    orders.write.mode("overwrite").parquet(gen0)
    write_pointer("gen0")

    # the UPDATE: new generation from the current one, then pointer swap
    updated = spark.read.parquet(resolve()).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 100 == 3, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")).alias("price"),
    )
    gen1 = os.path.join(base, "gen1")
    updated.write.mode("overwrite").parquet(gen1)
    write_pointer("gen1")

    # TIME TRAVEL: version 0 is just gen0's immutable files by name
    v0 = spark.read.parquet(gen0)
    cur = spark.read.parquet(resolve())
    diff = (
        v0.alias("a")
        .join(cur.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"))
        .filter(F.col("a.o_totalprice") != F.col("b.price"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_differing"))
    )
    stats_v0 = v0.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_v0"),
        sum_exact("o_totalprice").alias("checksum_v0"),
    )
    stats_cur = cur.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_current"),
        sum_exact("price").alias("checksum_current"),
    )
    # force both snapshots + diff to materialize BEFORE the vacuum below
    # removes gen0 (time travel only works while the files live)
    row_v0 = stats_v0.collect()[0]
    row_cur = stats_cur.collect()[0]
    row_diff = diff.collect()[0]

    # VACUUM: drop every generation the pointer does not reference
    current_gen = os.path.basename(resolve())
    gens = sorted(
        d for d in os.listdir(base)
        if d.startswith("gen") and os.path.isdir(os.path.join(base, d))
    )
    n_before = len(gens)
    for g in gens:
        if g != current_gen:
            shutil.rmtree(os.path.join(base, g))
    n_after = len(
        [d for d in os.listdir(base)
         if d.startswith("gen") and os.path.isdir(os.path.join(base, d))]
    )
    post = spark.read.parquet(resolve()).agg(
        sum_exact("price").alias("ck")
    ).collect()[0]["ck"]

    from newyork_taxi_etl_spark.localrel import local_rows_df

    return local_rows_df(
        spark,
        [(
            row_v0["rows_v0"], row_cur["rows_current"],
            float(row_v0["checksum_v0"]), float(row_cur["checksum_current"]),
            row_diff["rows_differing"], n_before, n_after,
            bool(post == row_cur["checksum_current"]),
        )],
        "rows_v0 bigint, rows_current bigint, checksum_v0 double, "
        "checksum_current double, rows_differing bigint, "
        "gens_before_vacuum bigint, gens_after_vacuum bigint, "
        "current_intact_after_vacuum boolean",
    )


@register(
    "streaming_cdc_apply",
    f"""
    WITH applied AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 <> 0 AND o_orderkey % 31 = 0
                  THEN o_totalprice + 5 ELSE o_totalprice END AS price
      FROM orders
      WHERE o_orderkey % 97 <> 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_after,
           {sum_exact_sql('price')} AS price_checksum,
           CAST(0 AS BIGINT) AS null_prices
    FROM applied
    """,
    doc="streaming CDC APPLY (the Debezium-consumer pattern): a change "
    "feed — tombstones for o_orderkey%97==0, price+5 updates for "
    "%31==0 (delete wins on overlap) — drains as micro-batches and each "
    "batch merges into the parquet target: D drops the key, U replaces "
    "the row, untouched keys carry forward; null-safe merge key, "
    "replay-guarded fold (applied-batch sidecar), atomic swap per batch. "
    "The drained state must equal base − deletes ⊎ updates, which the "
    "oracle recomputes relationally. With Delta installed the body is "
    "one MERGE INTO ... WHEN MATCHED AND op='D' THEN DELETE. Scale: each "
    "batch's merge is one equi join on the key — the same shuffle a "
    "Delta MERGE pays — and state stays exactly the table.",
)
def streaming_cdc_apply(spark, sf_dir):
    from newyork_taxi_etl_spark.streaming import windows as W

    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    cdc = (
        base.filter(
            (F.col("o_orderkey") % 97 == 0) | (F.col("o_orderkey") % 31 == 0)
        )
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 97 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.when(
                F.col("o_orderkey") % 97 != 0,
                F.col("o_totalprice") + 5,
            ).alias("new_price"),
        )
    )
    work = scratch("cdc")
    return W.run_streaming_cdc_apply(
        spark,
        base,
        cdc,
        os.path.join(work, "stage"),
        os.path.join(work, "target"),
    )


@register(
    "zorder_interleaved_skipping",
    """
    WITH b AS (
      SELECT MIN(l_partkey) AS mna, MAX(l_partkey) AS mxa,
             MIN(l_suppkey) AS mnb, MAX(l_suppkey) AS mxb
      FROM lineitem
    ),
    box AS (
      SELECT mna + 4 * (mxa - mna + 1) // 8 AS lo_a,
             mna + 5 * (mxa - mna + 1) // 8 - 1 AS hi_a,
             mnb + 4 * (mxb - mnb + 1) // 8 AS lo_b,
             mnb + 5 * (mxb - mnb + 1) // 8 - 1 AS hi_b
      FROM b
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem, box
        WHERE l_partkey BETWEEN lo_a AND hi_a
          AND l_suppkey BETWEEN lo_b AND hi_b) AS rows_box2d,
      (SELECT CAST(COALESCE(SUM(l_orderkey), 0) AS BIGINT)
        FROM lineitem, box
        WHERE l_partkey BETWEEN lo_a AND hi_a
          AND l_suppkey BETWEEN lo_b AND hi_b) AS key_checksum_box2d,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem, box
        WHERE l_suppkey BETWEEN lo_b AND hi_b) AS rows_trailing,
      (SELECT CAST(COALESCE(SUM(l_orderkey), 0) AS BIGINT)
        FROM lineitem, box
        WHERE l_suppkey BETWEEN lo_b AND hi_b) AS key_checksum_trailing,
      TRUE AS zorder_beats_lex_trailing,
      TRUE AS lex_blind_trailing,
      TRUE AS zorder_prunes_trailing,
      TRUE AS both_prune_box2d
    """,
    doc="TRUE interleaved Z-ORDER (Morton code by integer bit ops — "
    "sources/writers.py zvalue_expr) measured against the lexicographic "
    "approximation it replaces (nb:120730 (c132) OPTIMIZE ZORDER "
    "semantics): lineitem is written both ways (16 files each, keys "
    "(l_partkey, l_suppkey)), then file-footer min/max stats — exactly "
    "what a pruning planner reads — count the files a box predicate "
    "touches. The planted workload states the tradeoff by measurement: "
    "on a trailing-dim-only slice (l_suppkey mid-eighth band) the "
    "lexicographic layout touches EVERY file (leading key unconstrained) "
    "while the z-order touches a strict subset; on a 2-D box both "
    "layouts prune. Content equality of the rewritten table is "
    "value-checked via exact integer row counts + key checksums over "
    "both predicates read FROM THE Z-ORDERED TABLE; the skipping "
    "booleans are structural (measured file counts, asserted exactly in "
    "tests/test_zorder.py). At 100 TB this is OPTIMIZE ZORDER's entire "
    "value: the same box query reads ~1/3 of the files instead of all "
    "of them, with one range shuffle at write time.",
)
def zorder_interleaved_skipping(spark, sf_dir):
    from newyork_taxi_etl_spark.sources.writers import (
        files_touched,
        write_zordered_approx,
        write_zordered_interleaved,
    )

    li = table(spark, sf_dir, "lineitem")
    zdir = scratch("zint_lineitem")
    ldir = scratch("zlex_lineitem")
    write_zordered_interleaved(
        li, zdir, "l_partkey", "l_suppkey", bits=8, target_files=16
    )
    write_zordered_approx(
        li, ldir, ["l_partkey", "l_suppkey"], target_files=16
    )

    b = li.agg(
        F.min("l_partkey").alias("mna"),
        F.max("l_partkey").alias("mxa"),
        F.min("l_suppkey").alias("mnb"),
        F.max("l_suppkey").alias("mxb"),
    ).collect()[0]
    spa = int(b["mxa"]) - int(b["mna"]) + 1
    spb = int(b["mxb"]) - int(b["mnb"]) + 1
    lo_a, hi_a = b["mna"] + 4 * spa // 8, b["mna"] + 5 * spa // 8 - 1
    lo_b, hi_b = b["mnb"] + 4 * spb // 8, b["mnb"] + 5 * spb // 8 - 1
    box2d = {"l_partkey": (lo_a, hi_a), "l_suppkey": (lo_b, hi_b)}
    trailing = {"l_suppkey": (lo_b, hi_b)}

    z2d, zn = files_touched(zdir, box2d)
    l2d, ln = files_touched(ldir, box2d)
    ztr, _ = files_touched(zdir, trailing)
    ltr, _ = files_touched(ldir, trailing)

    in_2d = F.col("l_partkey").between(lo_a, hi_a) & F.col(
        "l_suppkey"
    ).between(lo_b, hi_b)
    in_tr = F.col("l_suppkey").between(lo_b, hi_b)
    back = spark.read.parquet(zdir)
    return back.agg(
        F.coalesce(F.sum(in_2d.cast("int")), F.lit(0))
        .cast("bigint")
        .alias("rows_box2d"),
        F.coalesce(F.sum(F.when(in_2d, F.col("l_orderkey"))), F.lit(0))
        .cast("bigint")
        .alias("key_checksum_box2d"),
        F.coalesce(F.sum(in_tr.cast("int")), F.lit(0))
        .cast("bigint")
        .alias("rows_trailing"),
        F.coalesce(F.sum(F.when(in_tr, F.col("l_orderkey"))), F.lit(0))
        .cast("bigint")
        .alias("key_checksum_trailing"),
    ).select(
        "rows_box2d",
        "key_checksum_box2d",
        "rows_trailing",
        "key_checksum_trailing",
        F.lit(ztr < ltr).alias("zorder_beats_lex_trailing"),
        F.lit(ltr == ln).alias("lex_blind_trailing"),
        F.lit(ztr < zn).alias("zorder_prunes_trailing"),
        F.lit(z2d < zn and l2d < ln).alias("both_prune_box2d"),
    )


@register(
    "corpus_shard_export",
    """
    WITH kept AS (
      SELECT doc_id, lang, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                  AS BIGINT) % 8 AS shard
      FROM documents
      WHERE len(string_split(text, ' ')) >= 10
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(CAST(('0x' ||
                  substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))
                  AS BIGINT) AS DECIMAL(38,0)))
                % 2305843009213693951 AS BIGINT) AS doc_id_checksum
    FROM kept
    GROUP BY shard
    ORDER BY shard
    """,
    doc="TRAINING-SHARD EXPORT with a verifiable manifest — the ship-it "
    "step of the curation pipeline: kept documents (>= 10 tokens) "
    "hash-assign to 8 shards (md5(doc_id) 24-bit prefix mod 8 — "
    "deterministic, balanced in expectation, reshuffle-free on "
    "re-export), the shards are ACTUALLY WRITTEN partitioned by shard "
    "id, and the manifest is computed FROM THE WRITTEN FILES on "
    "read-back: per-shard doc count, token/char budgets, and an "
    "ORDER-INDEPENDENT set fingerprint — the commutative sum of "
    "32-bit md5 signatures (chars 9-16, disjoint from the 24-bit "
    "shard-routing prefix) accumulated exactly in decimal(38,0) and "
    "reduced mod the Mersenne prime 2^61-1 — the receipt a training "
    "job verifies before consuming the shards (write loss, dup "
    "delivery, or a re-export that lands a different doc SET all "
    "break the fingerprint).  The oracle computes the same algebra "
    "relationally, so the round trip is proven lossless.  Scale: one "
    "corpus pass to write (hash assignment is a projection); the "
    "manifest aggregation — count, sums, AND the fingerprint — is "
    "now entirely map-side combinable with O(1) state per shard "
    "(table_diff_reconcile's sum-of-hashes discipline), replacing "
    "the r10 per-shard collect_list that materialized docs/8 ids in "
    "one aggregation buffer.",
)
def corpus_shard_export(spark, sf_dir):
    out = scratch("corpus_shards")
    docs = table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    kept = docs.filter(toks >= 10).select(
        "doc_id",
        "lang",
        "n_chars",
        toks.alias("n_tokens"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
                16,
                10,
            ).cast("bigint")
            % 8
        )
        .cast("int")
        .alias("shard"),
    )
    kept.write.mode("overwrite").partitionBy("shard").parquet(out)
    manifest = spark.read.parquet(out)
    return (
        manifest.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (
                F.sum(
                    F.conv(
                        F.substring(
                            F.md5(F.col("doc_id").cast("string")), 9, 8
                        ),
                        16,
                        10,
                    )
                    .cast("bigint")
                    .cast("decimal(38,0)")
                )
                % F.lit(2305843009213693951)
            )
            .cast("bigint")
            .alias("doc_id_checksum"),
        )
        .orderBy("shard")
    )
