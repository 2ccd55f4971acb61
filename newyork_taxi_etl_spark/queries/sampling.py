"""Deterministic sampling / splitting queries over the documents table.

Training-data extension surface (no analog in the reference, whose only
row-subset tool is ``limit(n)`` previews — nb:441 (c3)). Each query reduces
its sample to small per-group stats so the oracle compare stays value-exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.functions.exact import avg_exact, avg_exact_sql
from newyork_taxi_etl_spark.operators import sampling as ops
from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.sources.readers import table

_BUCKET = ops.BUCKET_SQL.format(key="doc_id", n=100)


def _docs(spark, sf_dir):
    return table(spark, sf_dir, "documents")


@register(
    "sample_deterministic",
    f"""
    WITH sampled AS (
      SELECT * FROM documents WHERE {_BUCKET} < 10
    )
    SELECT lang, COUNT(*) AS cnt, {avg_exact_sql('n_chars')} AS avg_chars
    FROM sampled
    GROUP BY lang
    ORDER BY lang
    """,
    doc="reproducible 10% sample via multiplicative hash bucketing — a pure "
    "filter (no shuffle, stable under repartitioning, unlike df.sample whose "
    "draw depends on partition layout); per-lang stats verify the sample",
)
def sample_deterministic(spark, sf_dir):
    sampled = ops.hash_sample(_docs(spark, sf_dir), "doc_id", 10)
    return (
        sampled.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"), avg_exact("n_chars").alias("avg_chars"))
        .orderBy("lang")
    )


@register(
    "train_test_split",
    f"""
    WITH tagged AS (
      SELECT CASE WHEN {_BUCKET} < 80 THEN 'train'
                  WHEN {_BUCKET} < 90 THEN 'valid'
                  ELSE 'test' END AS split,
             lang, n_chars
      FROM documents
    )
    SELECT split, COUNT(*) AS cnt,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           {avg_exact_sql('n_chars')} AS avg_chars
    FROM tagged
    GROUP BY split
    ORDER BY split
    """,
    doc="contamination-safe train/valid/test split: bucket depends only on "
    "doc_id, so a document's split never changes as the corpus grows; the "
    "tag is a zero-shuffle projection",
)
def train_test_split(spark, sf_dir):
    tagged = ops.hash_split(_docs(spark, sf_dir), "doc_id")
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("lang").alias("n_langs"),
            avg_exact("n_chars").alias("avg_chars"),
        )
        .orderBy("split")
    )


@register(
    "sample_stratified",
    f"""
    WITH sampled AS (
      SELECT * FROM documents
      WHERE {_BUCKET} < CASE lang WHEN 'en' THEN 20 ELSE 60 END
    )
    SELECT lang, COUNT(*) AS cnt
    FROM sampled
    GROUP BY lang
    ORDER BY lang
    """,
    doc="per-stratum rates (deterministic sampleBy analog): downsample the "
    "dominant language (en 20%) while keeping 60% of the rest — corpus "
    "rebalancing as one pushdown-friendly scan+filter",
)
def sample_stratified(spark, sf_dir):
    sampled = ops.stratified_hash_sample(
        _docs(spark, sf_dir), "doc_id", "lang", {"en": 20}, default_rate=60
    )
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).orderBy("lang")


@register(
    "sample_weighted",
    """
    WITH pr AS (
      SELECT doc_id, n_chars,
             ROUND(pow((((doc_id * 2654435761) % 4294967296) % 1048576 + 0.5)
                         / 1048576.0,
                       1.0 / CAST(n_chars AS DOUBLE)), 6) AS priority
      FROM documents
    )
    SELECT doc_id, n_chars, priority
    FROM pr
    ORDER BY priority DESC, doc_id
    LIMIT 25
    """,
    doc="deterministic weighted sampling without replacement (Efraimidis-"
    "Spirakis A-ES): priority = hash_uniform^(1/n_chars), top-25 — longer "
    "docs proportionally likelier, reproducible across runs and "
    "partitionings (multiplicative-hash uniform, no RNG state). Plan is "
    "projection + TakeOrderedAndProject: shuffle-free, per-partition "
    "top-k heaps — the scalable 'sample proportional to token count' "
    "primitive",
)
def sample_weighted(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return ops.weighted_hash_sample(docs, "doc_id", "n_chars", k=25)


@register(
    "sample_k_per_group",
    """
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS INT) AS sample_rank
      FROM documents
    )
    SELECT lang, sample_rank, doc_id, n_chars
    FROM ranked WHERE sample_rank <= 3
    ORDER BY lang, sample_rank
    """,
    doc="fixed-size per-group sample: exactly 3 docs per language by md5 "
    "rank of doc_id (operators/sampling.fixed_size_group_sample) — the "
    "bounded-output sampler fraction sampling can't give you (per-group "
    "quotas for eval sets / labeling batches). The hash is uniform and "
    "group-independent, so the 3 smallest per group are a uniform "
    "without-replacement draw, deterministic and partitioning-invariant; "
    "Spark plans the rank<=3 filter as WindowGroupLimit so every map "
    "task pre-prunes to its local top-3 per group before the shuffle — "
    "the exchange carries O(groups x k), never the corpus (plan-tested)",
)
def sample_k_per_group(spark, sf_dir):
    return (
        ops.fixed_size_group_sample(_docs(spark, sf_dir), ["lang"], "doc_id", 3)
        .select("lang", "sample_rank", "doc_id", "n_chars")
        .orderBy("lang", "sample_rank")
    )


_BUCKET_MYRIAD = ops.BUCKET_SQL.format(key="doc_id", n=10000)


@register(
    "temperature_mix_sampling",
    f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    floor_n AS (
      SELECT MIN(n) AS n_min FROM counts
    ),
    rates AS (
      SELECT lang, n,
             CAST(LEAST(10000, FLOOR(
               10000.0 * sqrt(CAST(n_min AS DOUBLE) / n)
             )) AS BIGINT) AS rate_myriad
      FROM counts CROSS JOIN floor_n
    ),
    kept AS (
      SELECT d.lang FROM documents d JOIN rates r ON d.lang = r.lang
      WHERE {_BUCKET_MYRIAD} < r.rate_myriad
    )
    SELECT r.lang, r.n AS n_docs, r.rate_myriad,
           CAST(COUNT(k.lang) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN kept k ON k.lang = r.lang
    GROUP BY r.lang, r.n, r.rate_myriad
    ORDER BY r.lang
    """,
    doc="temperature-based language rebalancing (alpha = 0.5, the "
    "multilingual-pretraining mix rule: target share proportional to "
    "n_lang^alpha): each language keeps rate = (n_min/n_lang)^(1-alpha), "
    "so the SMALLEST language survives whole and high-resource languages "
    "are flattened toward it — pure downsampling, no replication. The "
    "rate is normalized by the integer MIN of the per-language counts "
    "(never a cross-group float SUM, whose accumulation order is "
    "engine-dependent and would make the FLOOR boundary ambiguous), "
    "quantized to a per-myriad threshold against the Knuth hash bucket "
    "of doc_id — the same deterministic, repartition-invariant draw as "
    "sample_deterministic. Scale: one tiny per-lang count aggregate "
    "broadcast back onto the corpus scan; the sample itself is a pure "
    "filter, so rebalancing 100 TB is one pass with no shuffle of the "
    "kept rows. No reference analog (limit-preview only, nb:441 (c3)).",
)
def temperature_mix_sampling(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    n_min = counts.agg(F.min("n").alias("n_min"))
    rates = (
        counts.crossJoin(F.broadcast(n_min))
        .select(
            "lang",
            "n",
            F.least(
                F.lit(10000),
                F.floor(
                    F.lit(10000.0)
                    * F.sqrt(F.col("n_min").cast("double") / F.col("n"))
                ),
            ).cast("bigint").alias("rate_myriad"),
        )
    )
    kept = (
        docs.join(F.broadcast(rates), "lang")
        .filter(ops.hash_bucket("doc_id", 10000) < F.col("rate_myriad"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            "rate_myriad",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "exact_n_sample",
    f"""
    WITH picked AS (
      SELECT lang, n_chars
      FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      LIMIT 100
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           {avg_exact_sql('n_chars')} AS avg_chars
    FROM picked
    """,
    doc="EXACTLY-N uniform sample (eval sets and labeling batches need a "
    "fixed row count, which Bernoulli/hash-rate sampling cannot promise): "
    "order by md5(doc_id) and take the first 100 — a uniform "
    "without-replacement draw because the hash is uniform and "
    "key-determined, reproducible on any partitioning. Spark plans the "
    "orderBy+limit as TakeOrderedAndProject: each task keeps a local "
    "top-100 heap and the driver merges O(partitions x 100) rows — the "
    "distributed reservoir; the corpus is never globally sorted "
    "(contrast a real ORDER BY, one range-partition shuffle of 100 TB). "
    "Summary stats keep the oracle compare value-exact.",
)
def exact_n_sample(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    picked = (
        docs.select(
            "lang",
            "n_chars",
            F.md5(F.col("doc_id").cast("string")).alias("h"),
            "doc_id",
        )
        .orderBy("h", "doc_id")
        .limit(100)
    )
    return picked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        avg_exact("n_chars").alias("avg_chars"),
    )


@register(
    "group_aware_split",
    f"""
    WITH tagged AS (
      SELECT user_id,
             CASE WHEN {ops.BUCKET_SQL.format(key="user_id", n=100)} < 80
                  THEN 'train' ELSE 'test' END AS split
      FROM events
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM (
              SELECT user_id FROM tagged GROUP BY user_id
              HAVING COUNT(DISTINCT split) > 1)) AS n_leaked_users
    FROM tagged
    GROUP BY split
    ORDER BY split
    """,
    doc="GROUP-AWARE train/test split (leakage guard): the split key is the "
    "USER, not the row — every event of a user lands in the same split, "
    "the property row-level splitting violates whenever correlated rows "
    "of one entity straddle the boundary (classic eval leakage). Same "
    "deterministic Knuth-hash bucketing as train_test_split, keyed on "
    "user_id; the n_leaked_users column PROVES the guarantee inside the "
    "result (must be 0 — a user in >1 split would show here). Pure "
    "projection + one aggregate: no shuffle for the tagging, "
    "repartition-stable, contamination-stable as the corpus grows.",
)
def group_aware_split(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    tagged = ev.select(
        "user_id",
        F.when(ops.hash_bucket("user_id", 100) < 80, "train")
        .otherwise("test")
        .alias("split"),
    )
    leaked = (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leaked_users"))
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .crossJoin(F.broadcast(leaked))
        .select("split", "n_events", "n_users", "n_leaked_users")
        .orderBy("split")
    )


@register(
    "temporal_holdout_audit",
    """
    WITH tagged AS (
      SELECT user_id, value,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-24' THEN 'train'
                  ELSE 'eval' END AS split
      FROM events
    ),
    users AS (
      SELECT user_id,
             MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
             MAX(CASE WHEN split = 'eval' THEN 1 ELSE 0 END) AS in_eval
      FROM tagged GROUP BY user_id
    ),
    binned AS (
      SELECT split, LEAST(CAST(FLOOR(COALESCE(value, -1) / 100) AS INT), 9)
               AS bin
      FROM tagged
    ),
    counts AS (
      SELECT split, bin, COUNT(*) AS n FROM binned GROUP BY 1, 2
    ),
    tot AS (
      SELECT SUM(CASE WHEN split = 'train' THEN n ELSE 0 END) AS t_tr,
             SUM(CASE WHEN split = 'eval' THEN n ELSE 0 END) AS t_ev
      FROM counts
    ),
    frac AS (
      SELECT bin,
             (COALESCE(MAX(CASE WHEN split = 'train' THEN n END), 0) + 0.5)
               / (MAX(t.t_tr) + 5.0) AS p_tr,
             (COALESCE(MAX(CASE WHEN split = 'eval' THEN n END), 0) + 0.5)
               / (MAX(t.t_ev) + 5.0) AS p_ev
      FROM counts CROSS JOIN tot t GROUP BY bin
    ),
    psi AS (
      SELECT ROUND(CAST(CAST(SUM(CAST(
               ROUND((p_ev - p_tr) * ln(p_ev / p_tr), 12)
             AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE), 6) AS v
      FROM frac
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM tagged WHERE split = 'train')
        AS n_train,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM tagged WHERE split = 'eval')
        AS n_eval,
      CAST(SUM(in_train * in_eval) AS BIGINT) AS n_overlap_users,
      ROUND(CAST(SUM(in_train * in_eval) AS DOUBLE)
            / NULLIF(SUM(in_eval), 0), 6) AS user_overlap_frac,
      (SELECT v FROM psi) AS value_psi
    FROM users
    """,
    doc="TEMPORAL HOLDOUT audit (the time-based split every forecasting/"
    "recsys eval needs, next to group_aware_split's group-keyed one): "
    "train = before 2024-01-24, eval = after, and the two numbers that "
    "decide whether the split is USABLE measured in the same pass — "
    "user leakage (fraction of eval users also in train: 1.0 on this "
    "corpus, every user spans the boundary — the audit FINDING, not a "
    "bug) and value-distribution drift across the boundary (PSI, the "
    "psi_value_drift smoothed-bin discipline). Dataflow: one user "
    "aggregate (O(users)), one 10-bin histogram pivot, decimal-exact "
    "PSI terms; nothing event-sized crosses the network twice.",
)
def temporal_holdout_audit(spark, sf_dir):
    import datetime

    dec = "decimal(38,12)"
    ev = table(spark, sf_dir, "events")
    tagged = ev.select(
        "user_id",
        "value",
        F.when(
            F.to_date("ts") < F.lit(datetime.date(2024, 1, 24)), "train"
        )
        .otherwise("eval")
        .alias("split"),
    )
    users = tagged.groupBy("user_id").agg(
        F.max((F.col("split") == "train").cast("int")).alias("in_train"),
        F.max((F.col("split") == "eval").cast("int")).alias("in_eval"),
    )
    binned = tagged.select(
        "split",
        F.least(
            F.floor(F.coalesce(F.col("value"), F.lit(-1)) / 100).cast("int"),
            F.lit(9),
        ).alias("bin"),
    )
    counts = binned.groupBy("split", "bin").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum(F.when(F.col("split") == "train", F.col("n")).otherwise(0))
        .alias("t_tr"),
        F.sum(F.when(F.col("split") == "eval", F.col("n")).otherwise(0))
        .alias("t_ev"),
    )
    frac = (
        counts.crossJoin(F.broadcast(tot))
        .groupBy("bin")
        .agg(
            (
                (
                    F.coalesce(
                        F.max(F.when(F.col("split") == "train", F.col("n"))),
                        F.lit(0),
                    )
                    + 0.5
                )
                / (F.max("t_tr") + 5.0)
            ).alias("p_tr"),
            (
                (
                    F.coalesce(
                        F.max(F.when(F.col("split") == "eval", F.col("n"))),
                        F.lit(0),
                    )
                    + 0.5
                )
                / (F.max("t_ev") + 5.0)
            ).alias("p_ev"),
        )
    )
    psi = frac.agg(
        F.round(
            F.sum(
                F.round(
                    (F.col("p_ev") - F.col("p_tr"))
                    * F.log(F.col("p_ev") / F.col("p_tr")),
                    12,
                ).cast(dec)
            ).cast("double"),
            6,
        ).alias("value_psi")
    )
    splits = tagged.agg(
        F.sum((F.col("split") == "train").cast("int")).cast("bigint")
        .alias("n_train"),
        F.sum((F.col("split") == "eval").cast("int")).cast("bigint")
        .alias("n_eval"),
    )
    overlap = users.agg(
        F.sum(F.col("in_train") * F.col("in_eval")).cast("bigint")
        .alias("n_overlap_users"),
        F.round(
            F.sum(F.col("in_train") * F.col("in_eval")).cast("double")
            / F.nullif(F.sum("in_eval"), F.lit(0)),
            6,
        ).alias("user_overlap_frac"),
    )
    return (
        splits.crossJoin(F.broadcast(overlap))
        .crossJoin(F.broadcast(psi))
        .select(
            "n_train",
            "n_eval",
            "n_overlap_users",
            "user_overlap_frac",
            "value_psi",
        )
    )
