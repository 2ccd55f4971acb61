"""Cross-table fuzzy record linkage queries (A = ``documents``, B = a
deterministic perturbed twin derived in-query).

The second corpus is DERIVED, not synthesized: every even-id document
reappears under ``b_id = doc_id + 100000`` with ~20% of tokens
deterministically dropped (position-and-id-phased), so ground truth is
relational (``b_id - 100000``) and linkage PRECISION/RECALL are
value-oracled numbers, not asserted claims.  Stage shapes and the scale
story live in operators/linkage.py; quality floors beyond engine
agreement live in tests/test_linkage.py.

Reference parity: no analog cell in the reference notebook — this is the
"training-data pipeline" extension track (cross-source near-dup linkage).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.functions.text import shingles_sql
from newyork_taxi_etl_spark.operators.linkage import (
    blocked_linkage_pairs,
    derive_perturbed_corpus,
    lsh_linkage_candidates,
    mutual_best_match,
)
from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.session import scratch, spread
from newyork_taxi_etl_spark.sources.readers import table

_SH = shingles_sql("text", 3)

# Shared oracle pipeline: corpus derivation -> side-tagged inverted
# shingle indexes -> union-df hot-shingle cap (10%) -> pruned sizes ->
# candidate pairs with exact Jaccard >= 0.15 -> symmetric rank-1
# resolution.  Mirrors operators/linkage.py stage for stage.
# _LINK_BODY is the WITH-less form so recursive consumers can prepend
# WITH RECURSIVE (DuckDB wants the keyword on the clause head).
_LINK_BODY = f"""corpus_b AS (
  SELECT doc_id + 100000 AS b_id,
         array_to_string(list_filter(string_split(text, ' '),
                         (x, i) -> (i + doc_id) % 5 <> 0), ' ') AS text,
         lang
  FROM documents WHERE doc_id % 2 = 0
),
sha AS (SELECT doc_id, lang, list_distinct({_SH}) AS s FROM documents),
shb AS (SELECT b_id, lang, list_distinct({_SH}) AS s FROM corpus_b),
inva0 AS (SELECT doc_id, lang, unnest(s) AS g FROM sha),
invb0 AS (SELECT b_id, lang, unnest(s) AS g FROM shb),
nd AS (
  SELECT lang, COUNT(*) AS n_docs FROM (
    SELECT lang FROM sha UNION ALL SELECT lang FROM shb
  ) GROUP BY 1
),
hot AS (
  SELECT d.lang, d.g FROM (
    SELECT lang, g, COUNT(*) AS df FROM (
      SELECT lang, g FROM inva0 UNION ALL SELECT lang, g FROM invb0
    ) GROUP BY 1, 2
  ) d JOIN nd USING (lang)
  WHERE d.df > nd.n_docs * 0.10
),
inva AS (SELECT i.doc_id, i.lang, i.g FROM inva0 i
         ANTI JOIN hot h ON i.lang = h.lang AND i.g = h.g),
invb AS (SELECT i.b_id, i.lang, i.g FROM invb0 i
         ANTI JOIN hot h ON i.lang = h.lang AND i.g = h.g),
sza AS (SELECT doc_id, COUNT(*) AS n_a FROM inva GROUP BY 1),
szb AS (SELECT b_id, COUNT(*) AS n_b FROM invb GROUP BY 1),
pairs AS (
  SELECT a.doc_id, b.b_id, COUNT(*) AS shared
  FROM inva a JOIN invb b ON a.lang = b.lang AND a.g = b.g
  GROUP BY 1, 2
),
scored AS (
  SELECT doc_id, b_id,
         CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS j
  FROM pairs JOIN sza USING (doc_id) JOIN szb USING (b_id)
  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.15
),
ranked AS (
  SELECT doc_id, b_id, j,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY j DESC, b_id) AS ra,
         row_number() OVER (PARTITION BY b_id
                            ORDER BY j DESC, doc_id) AS rb
  FROM scored
),
matched AS (SELECT doc_id, b_id, j FROM ranked WHERE ra = 1 AND rb = 1)
"""

_LINK_CTE = "WITH " + _LINK_BODY


def _corpora(spark, sf_dir):
    docs = spread(table(spark, sf_dir, "documents"))
    return docs, derive_perturbed_corpus(docs)


def _scored_pairs_cached(spark, sf_dir):
    """Scored linkage candidate set (doc_id, b_id, jaccard) through the
    per-process stage cache (r16, guide §2.4/§1.2): FOUR registered
    queries (blocked_candidates, one_to_one, quality_gate,
    entity_clusters) each re-ran the full candidate pipeline — corpus
    derivation, inverted shingle indexes, hot-shingle cap, pair join,
    exact Jaccard — on the identical corpus.  The pair set is (bigint,
    bigint, double), bit-exact through parquet; every consumer windows/
    aggregates order-independently."""
    from newyork_taxi_etl_spark.streaming.windows import df_stage_cached

    def build():
        a, b = _corpora(spark, sf_dir)
        return blocked_linkage_pairs(a, b)

    return df_stage_cached(
        spark, f"linkage_scored_pairs:{sf_dir}", build, n_files=1
    )


@register(
    "linkage_blocked_candidates",
    _LINK_CTE
    + """
    SELECT doc_id, b_id, ROUND(j, 6) AS jaccard
    FROM scored
    ORDER BY doc_id, b_id
    """,
    doc="record-linkage stages 1+2: cross-table candidate generation via "
    "an inverted 3-shingle index blocked by lang with a 10% hot-shingle "
    "cap over the UNION of both corpora, scored with exact Jaccard over "
    "the pruned sets, thresholded at 0.15. Join mass is "
    "sum_g f_A(g)*f_B(g) — never |A|x|B|; two hash shuffles total "
    "(block+shingle key, then pair key). The noise band of this corpus "
    "tops out ~0.31 vs true-pair median 0.30, so thresholding alone "
    "cannot resolve — exactly why the one-to-one stage exists.",
)
def linkage_blocked_candidates(spark, sf_dir):
    return (
        _scored_pairs_cached(spark, sf_dir)
        .select("doc_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )


@register(
    "linkage_one_to_one",
    _LINK_CTE
    + """
    SELECT doc_id, b_id, ROUND(j, 6) AS jaccard,
           (b_id - 100000 = doc_id) AS hit
    FROM matched
    ORDER BY doc_id
    """,
    doc="record-linkage stage 3: one-to-one resolution by SYMMETRIC "
    "rank-1 (a pair survives iff it is the best candidate of its left "
    "id AND of its right id, ties broken by the opposite id) — the "
    "deterministic greedy core of stable marriage, two window ranks, no "
    "iteration. Every surviving row carries its ground-truth flag; "
    "row-level value oracle over the full match set.",
)
def linkage_one_to_one(spark, sf_dir):
    matched = mutual_best_match(_scored_pairs_cached(spark, sf_dir))
    return matched.select(
        "doc_id",
        "b_id",
        F.round("jaccard", 6).alias("jaccard"),
        ((F.col("b_id") - F.lit(100_000)) == F.col("doc_id")).alias("hit"),
    )


@register(
    "linkage_quality_gate",
    _LINK_CTE
    + """
    SELECT CAST((SELECT COUNT(*) FROM matched) AS BIGINT) AS n_matched,
           CAST((SELECT COALESCE(SUM(CASE WHEN b_id - 100000 = doc_id
                                          THEN 1 ELSE 0 END), 0)
                 FROM matched) AS BIGINT) AS n_correct,
           CAST((SELECT COUNT(*) FROM corpus_b) AS BIGINT) AS n_truth,
           ROUND(CAST((SELECT SUM(CASE WHEN b_id - 100000 = doc_id
                                       THEN 1 ELSE 0 END) FROM matched)
                      AS DOUBLE)
                 / (SELECT COUNT(*) FROM matched), 6) AS precision,
           ROUND(CAST((SELECT COALESCE(SUM(CASE WHEN b_id - 100000 = doc_id
                                                THEN 1 ELSE 0 END), 0)
                       FROM matched)
                      AS DOUBLE)
                 / (SELECT COUNT(*) FROM corpus_b), 6) AS recall
    """,
    doc="end-to-end linkage quality, measured not claimed: precision and "
    "recall of the mutual-best match set against the derived corpus's "
    "relational ground truth, as driver-gated VALUES (tests/test_linkage "
    "additionally floors them with planted corruptions). The only "
    "information the pipeline sees is text; the truth ids only score it.",
)
def linkage_quality_gate(spark, sf_dir):
    _, b = _corpora(spark, sf_dir)
    matched = mutual_best_match(_scored_pairs_cached(spark, sf_dir))
    hit = (F.col("b_id") - F.lit(100_000)) == F.col("doc_id")
    stats = matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.coalesce(F.sum(hit.cast("int")), F.lit(0))
        .cast("bigint")
        .alias("n_correct"),
    )
    truth = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    return stats.crossJoin(F.broadcast(truth)).select(
        "n_matched",
        "n_correct",
        "n_truth",
        F.round(F.col("n_correct") / F.col("n_matched"), 6).alias("precision"),
        F.round(F.col("n_correct") / F.col("n_truth"), 6).alias("recall"),
    )


@register(
    "linkage_lsh_blocking",
    _LINK_CTE
    + f"""
    , banda AS (
      SELECT doc_id, lang, i AS band_idx,
             [{', '.join(
                 f"list_min(list_transform(s, x -> md5(concat('{i}|', x))))"
                 for i in range(8)
             )}][i + 1] AS band_hash
      FROM sha, range(8) t(i)
    ),
    bandb AS (
      SELECT b_id, lang, i AS band_idx,
             [{', '.join(
                 f"list_min(list_transform(s, x -> md5(concat('{i}|', x))))"
                 for i in range(8)
             )}][i + 1] AS band_hash
      FROM shb, range(8) t(i)
    ),
    lcand AS (
      SELECT DISTINCT a.doc_id, b.b_id
      FROM banda a JOIN bandb b
        ON a.lang = b.lang AND a.band_idx = b.band_idx
       AND a.band_hash = b.band_hash
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
           CAST(COALESCE(SUM(CASE WHEN b_id - 100000 = doc_id
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS true_in_cand,
           ROUND(CAST(COALESCE(SUM(CASE WHEN b_id - 100000 = doc_id
                                        THEN 1 ELSE 0 END), 0) AS DOUBLE)
                 / (SELECT COUNT(*) FROM corpus_b), 6) AS blocking_recall
    FROM lcand
    """,
    doc="stage-1 alternative measured against the same truth: banded "
    "MinHash-LSH (k=8 signatures, r=1) cross-table candidates. The "
    "scale tradeoff vs the inverted index, stated by the numbers: LSH "
    "explodes exactly k rows per document regardless of document LENGTH "
    "(the inverted index explodes |shingle set| rows — unbounded for "
    "long docs), at a measured blocking recall of 1-(1-J)^k (~0.94 "
    "here at true-pair J~0.3). md5-seeded min-signatures keep the hash "
    "family portable to the oracle.",
)
def linkage_lsh_blocking(spark, sf_dir):
    a, b = _corpora(spark, sf_dir)
    cand = lsh_linkage_candidates(a, b)
    hit = (F.col("b_id") - F.lit(100_000)) == F.col("doc_id")
    stats = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand"),
        F.coalesce(F.sum(hit.cast("int")), F.lit(0))
        .cast("bigint")
        .alias("true_in_cand"),
    )
    truth = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    return stats.crossJoin(F.broadcast(truth)).select(
        "n_cand",
        "true_in_cand",
        F.round(F.col("true_in_cand") / F.col("n_truth"), 6)
        .alias("blocking_recall"),
    )


@register(
    "linkage_entity_clusters",
    "WITH RECURSIVE " + _LINK_BODY + """,
    sym AS (
      SELECT doc_id AS u, b_id AS v FROM scored
      UNION ALL
      SELECT b_id AS u, doc_id AS v FROM scored
    ),
    reach (u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (
      SELECT u AS node, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    )
    SELECT component AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN node < 100000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_a,
           CAST(SUM(CASE WHEN node >= 100000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_b
    FROM comp
    GROUP BY component
    ORDER BY entity_id
    """,
    doc="ENTITY RESOLUTION on top of the linkage candidates: the scored "
    "cross-table pairs (Jaccard >= 0.15, both sides in disjoint id "
    "namespaces) become an undirected graph and connected components "
    "assign every record to an ENTITY (component-minimum canonical id) — "
    "the step that turns pairwise linkage into a deduplicated entity "
    "table when matches are transitive (A1~B1, B1~A2 => one entity). "
    "Per-entity output: member count and the A/B-side split, so "
    "ambiguous multi-record entities (n_a > 1 or n_b > 1) are visible "
    "rather than silently merged. Same label-propagation machinery as "
    "dedup_clusters (loop tables are label-sized, never corpus-sized); "
    "oracle = recursive-CTE transitive closure over the identical pair "
    "set.",
)
def linkage_entity_clusters(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.graph import connected_components

    edges = _scored_pairs_cached(spark, sf_dir).select(
        F.col("doc_id").alias("id_a"), F.col("b_id").alias("id_b")
    )
    comps = connected_components(edges, loop_partitions=4, hops_per_round=5)
    return (
        comps.groupBy(F.col("component").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum((F.col("node") < 100_000).cast("int"))
            .cast("bigint")
            .alias("n_a"),
            F.sum((F.col("node") >= 100_000).cast("int"))
            .cast("bigint")
            .alias("n_b"),
        )
        .orderBy("entity_id")
    )


# The ingest oracle is _LINK_CTE with ONE swap: the union-side hot-shingle
# cap becomes A-side-only (the only side that exists before data arrives).
# The swap is textual, so guard it — a whitespace edit to _LINK_BODY that
# stops the pattern matching would otherwise silently leave the union-side
# cap in the oracle while Spark uses the A-side cap, surfacing as a
# hash-parity failure far from the cause (r8 ADVICE).
_INGEST_HOT_OLD = """hot AS (
  SELECT d.lang, d.g FROM (
    SELECT lang, g, COUNT(*) AS df FROM (
      SELECT lang, g FROM inva0 UNION ALL SELECT lang, g FROM invb0
    ) GROUP BY 1, 2
  ) d JOIN nd USING (lang)
  WHERE d.df > nd.n_docs * 0.10
),"""
_INGEST_HOT_NEW = """hot AS (
  SELECT d.lang, d.g FROM (
    SELECT lang, g, COUNT(*) AS df FROM inva0 GROUP BY 1, 2
  ) d JOIN (SELECT lang, COUNT(*) AS n_docs FROM sha GROUP BY 1) nda
    ON d.lang = nda.lang
  WHERE d.df > nda.n_docs * 0.10
),"""
assert _INGEST_HOT_OLD in _LINK_CTE, (
    "streaming_linkage_ingest oracle surgery: hot-CTE pattern no longer "
    "matches _LINK_CTE — update _INGEST_HOT_OLD alongside _LINK_BODY"
)
_INGEST_CTE = _LINK_CTE.replace(_INGEST_HOT_OLD, _INGEST_HOT_NEW)


@register(
    "streaming_linkage_ingest",
    _INGEST_CTE
    + """
    , best AS (
      SELECT b_id, doc_id, j FROM (
        SELECT doc_id, b_id, j,
               row_number() OVER (PARTITION BY b_id
                                  ORDER BY j DESC, doc_id) AS rb
        FROM scored
      ) WHERE rb = 1
    )
    SELECT b_id, doc_id, ROUND(j, 6) AS jaccard,
           (b_id - 100000 = doc_id) AS hit
    FROM best ORDER BY b_id
    """,
    doc="record LINKAGE AT INGEST (master-data-management shape): B "
    "records stream in micro-batches and each batch links against the "
    "STATIC reference corpus's PERSISTED inverted index (built once "
    "before the stream: pruned shingles + per-doc sizes + hot list, "
    "A-side-only 10% cap — the only side that exists before data "
    "arrives). Per-record best-A match (rank-1 by jaccard desc, doc_id) "
    "depends only on the static index, so the drained match table is "
    "IDENTICAL under any micro-batch partitioning — one relational "
    "oracle covers every possible batching, no batch bookkeeping needed "
    "(contrast streaming_late_drop, where batch membership IS the "
    "semantics). Appends replay-guarded by the applied-batch sidecar. "
    "Per batch: one equi-join of the batch's shingles against the "
    "index — at 100 TB the index is a partitioned table and only the "
    "batch shuffles.",
)
def streaming_linkage_ingest(spark, sf_dir):
    from newyork_taxi_etl_spark.streaming import windows as W

    a, b = _corpora(spark, sf_dir)
    work = scratch("linkingest")
    return W.run_streaming_linkage_ingest(
        spark, a, b, work, cache_key=f"linkage_ab:{sf_dir}"
    )
