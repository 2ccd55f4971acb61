"""Semantic invariants for round-10 queries the oracle differential can't
see: both engines agreeing proves the computation matches, these tests
pin that the computed thing has the properties the docstrings claim
(release conservation, composition consistency, recall coupling)."""

from __future__ import annotations

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.registry import queries
from tests.conftest import SF_ORACLE


def test_dp_release_conserves_and_composes(spark):
    """The DP release must (a) choose the SAME level the ladder chooses,
    (b) conserve rows: released true_rows + rows_suppressed summed over
    event types == total events, (c) never release a negative noisy
    count, and (d) suppress exactly the ladder's k<5 row mass at that
    level."""
    rel = {
        r["event_type"]: r.asDict()
        for r in queries()["dp_release_pipeline"](spark, SF_ORACLE).collect()
    }
    ladder = {
        r["level"]: r.asDict()
        for r in queries()["k_anonymity_ladder"](spark, SF_ORACLE).collect()
    }
    chosen = [lv for lv, row in ladder.items() if row["chosen"]]
    assert len(chosen) == 1
    assert all(r["chosen_level"] == chosen[0] for r in rel.values()), rel

    from newyork_taxi_etl_spark.sources.readers import table

    n_events = table(spark, SF_ORACLE, "events").count()
    total = sum(r["true_rows"] + r["rows_suppressed"] for r in rel.values())
    assert total == n_events, (total, n_events)
    assert all(r["noisy_rows"] >= 0 for r in rel.values())
    assert (
        sum(r["rows_suppressed"] for r in rel.values())
        == ladder[chosen[0]]["rows_suppressed_k5"]
    )
    # the gate the ladder chose by: suppression <= 1% of rows
    assert sum(r["rows_suppressed"] for r in rel.values()) * 100 <= total


def test_ivfpq_recall_coupled_to_its_parts(spark):
    """The composed IVFADC path can only lose candidates relative to its
    own PQ scorer through cell pruning: every (query, cand) it returns
    must live in a probed cell by construction, so its result set at
    k=10 is a subset of what unpruned ADC over the SAME trained
    codebook would rank — verify via the registered top-5s: any pair
    the composed search ranks that unpruned ADC also ranks must carry
    the IDENTICAL adc_dist (same codebook, same tables)."""
    comp = {
        (r["query_id"], r["cand_id"]): r["adc_dist"]
        for r in queries()["ann_ivfpq_adc_topk"](spark, SF_ORACLE).collect()
    }
    flat = {
        (r["query_id"], r["cand_id"]): r["adc_dist"]
        for r in queries()["ann_pq_adc_trained_topk"](
            spark, SF_ORACLE
        ).collect()
    }
    shared = set(comp) & set(flat)
    assert shared, "composed and flat ADC share no pairs at k=5"
    for pair in shared:
        assert comp[pair] == flat[pair], pair


def test_bpe_fertility_bounded_by_chars(spark):
    """BPE fertility must sit in (0, chars-per-word]: merges can only
    shrink symbol counts, never below 1 symbol per word, and
    chars_per_symbol >= 1 with equality iff no merge fired for the
    lang."""
    rows = queries()["bpe_encode_apply"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r["bpe_fertility"] >= 1.0, r
        assert r["chars_per_symbol"] >= 1.0, r
        assert r["bpe_symbols"] <= r["n_instances"] * 64, r


def test_streaming_mmd_ingest_batching_invariant(spark, tmp_path):
    """Decimal sufficient statistics are associative, so the drained MMD
    monitor must be identical whether embeddings arrive as 1 slice or
    4 — and must equal the one-shot batch statistic bit-for-bit."""
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_mmd_ingest,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    one = run_streaming_mmd_ingest(
        spark, emb, str(tmp_path / "one"), n_slices=1
    ).collect()
    four = run_streaming_mmd_ingest(
        spark, emb, str(tmp_path / "four"), n_slices=4
    ).collect()
    batch = queries()["mmd_moment_drift"](spark, SF_ORACLE).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, four))
    assert sorted(map(tuple, one)) == sorted(map(tuple, batch))


def test_filtered_probe_respects_predicate_and_matches_postfilter(spark):
    """Every returned candidate must carry the query's own label, and the
    filtered top-5 must equal post-filtering the UNfiltered probe's
    full ranking within probed cells (the filter changes WHICH
    candidates rank, never the scoring)."""
    rows = queries()["ann_index_filtered_probe"](spark, SF_ORACLE).collect()
    assert rows
    emb = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    for r in rows:
        assert emb[r["cand_id"]] == r["q_label"], r
        assert emb[r["query_id"]] == r["q_label"], r
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)


def test_bpe_holdout_fertility_sane(spark):
    """Held-out fertility exists for every train lang and sits within a
    loose band of the train fertility (a huge gap would mean the merge
    table memorized the training vocabulary)."""
    rows = queries()["bpe_holdout_fertility"](spark, SF_ORACLE).collect()
    by = {(r["split"], r["lang"]): r["bpe_fertility"] for r in rows}
    langs = {k[1] for k in by}
    for lang in langs:
        tr, ho = by.get(("train", lang)), by.get(("holdout", lang))
        assert tr is not None and ho is not None, lang
        assert tr >= 1.0 and ho >= 1.0
        assert abs(ho - tr) <= 0.5 * tr, (lang, tr, ho)


def test_shard_export_manifest_reproducible_and_complete(spark):
    """Two independent exports must produce IDENTICAL manifests
    (deterministic hash sharding, order-canonical checksums), shard
    doc counts must sum to the kept-set size, and every shard must be
    non-empty at this corpus size."""
    from pyspark.sql import functions as F

    a = queries()["corpus_shard_export"](spark, SF_ORACLE).collect()
    b = queries()["corpus_shard_export"](spark, SF_ORACLE).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    n_kept = docs.filter(F.size(F.split("text", " ")) >= 10).count()
    assert sum(r["n_docs"] for r in a) == n_kept
    assert len(a) == 8 and all(r["n_docs"] > 0 for r in a)


def test_spread_small_scan_noop_when_already_parallel(spark):
    """The scan spread (``session.spread``) must be a structural NO-OP
    (same plan object, no added shuffle) when the input already has
    >= ``spark.sql.shuffle.partitions`` partitions — the 100 TB posture —
    and must raise parallelism to exactly that width when the scan
    under-splits."""
    from newyork_taxi_etl_spark.session import spread

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = spark.range(0, 1000).repartition(n + 4)
    assert spread(wide) is wide  # identical object: no shuffle
    narrow = spark.range(0, 1000).coalesce(1)
    out = spread(narrow)
    assert out.rdd.getNumPartitions() == n


def test_decontamination_fuzzy_flags_planted_paraphrase(spark, tmp_path):
    """A lightly-edited copy of a benchmark doc planted in the corpus must
    surface through the band join and pass the Jaccard >= 0.5 gate; an
    unrelated corpus doc must not be flagged."""
    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(
        ("EDITED" if i == 37 else f"tok{i}") for i in range(40)
    )
    other = " ".join(f"zzz{i}" for i in range(40))
    rows = [
        (0, base, "en", "webA", len(base)),     # doc_id % 50 == 0: benchmark
        (1, near, "en", "webB", len(near)),     # corpus: planted near-copy
        (2, other, "en", "webB", len(other)),   # corpus: unrelated
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    row = queries()["decontamination_fuzzy"](spark, sf).collect()[0]
    assert row["n_bench_docs"] == 1 and row["n_corpus_docs"] == 2
    assert row["n_band_candidates"] >= 1
    assert row["n_flagged"] == 1, row
    # one edited token of 40 removes 3 of 38 shingles: J = 35/41 ~ 0.85
    assert row["max_jaccard"] >= 0.8, row


def test_outlier_screen_flags_planted_corrupt_vector(spark, tmp_path):
    """A unit-scale mix-up (one vector x100) must rank first with a score
    far above the chi-square-ish flag threshold and be counted in
    n_flagged; a clean isotropic population must otherwise concentrate
    near d=64."""
    import random

    rng = random.Random(3)
    rows = []
    for vid in range(64):
        v = [rng.gauss(0.0, 1.0) for _ in range(64)]
        if vid == 7:
            v = [100.0 * x for x in v]  # corrupt: wrong unit scale
        rows.append((vid, v, vid % 4))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    sf = str(tmp_path)
    emb.write.parquet(f"{sf}/embeddings.parquet")
    out = queries()["embedding_outlier_screen"](spark, sf).collect()
    assert out[0]["vec_id"] == 7, out[:3]
    assert out[0]["score"] > 110.0
    assert out[0]["n_flagged"] >= 1
    assert out[0]["n_vectors"] == 64


def test_token_entropy_numpy_recomputation(spark):
    """Entropy, normalization, and redundancy recomputed in numpy from
    raw token frequencies — and the information-theoretic bounds:
    0 <= H <= ln(V), norm in [0, 1], redundancy = 1 - norm."""
    import math

    import numpy as np

    rows = queries()["token_entropy_by_lang"](spark, SF_ORACLE).collect()
    assert rows
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    f = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("lang", "tok")
        .count()
        .collect()
    )
    by_lang = {}
    for r in f:
        by_lang.setdefault(r["lang"], []).append(r["count"])
    for r in rows:
        cnt = np.array(by_lang[r["lang"]], dtype=float)
        p = cnt / cnt.sum()
        h = float(np.sum(np.round(-p * np.log(p), 12)))
        assert abs(h - r["entropy_nats"]) < 1e-4, (r["lang"], h, r)
        assert 0.0 <= r["norm_entropy"] <= 1.0
        assert abs(r["redundancy"] - (1.0 - r["norm_entropy"])) < 2e-6
        assert r["entropy_nats"] <= math.log(r["vocab"]) + 1e-9
