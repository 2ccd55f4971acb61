"""Round-12 operator tests: WordPiece greedy-runtime hardening (ADVICE
r11), the registered wordpiece_greedy_segment query, and the round's new
operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from newyork_taxi_etl_spark.registry import queries


def _py_greedy(word, vocab, max_len=8):
    """Plain-Python greedy longest-match reference (BERT runtime)."""
    out, pos = [], 0
    while pos < len(word):
        for d in range(min(max_len, len(word) - pos), 0, -1):
            if word[pos : pos + d] in vocab:
                out.append(word[pos : pos + d])
                pos += d
                break
        else:  # pragma: no cover - vocab must contain singles
            raise AssertionError("uncovered position")
    return out


def test_wordpiece_greedy_separator_collision_words(spark):
    """ADVICE r11: corpus words may contain ANY printable byte (they come
    from a whitespace split of arbitrary text).  The DuckDB fold's scalar
    accumulator must not be corrupted by words carrying its former '|'
    separator, the ',' cut-position joiner, or raw control characters —
    the positions-only chr(1) accumulator never holds word bytes, so all
    of these segment identically on both engines."""
    import duckdb

    from newyork_taxi_etl_spark.operators.wordpiece import (
        greedy_segment_sql_duckdb,
        greedy_segment_words,
    )

    nasty = ["a|b", "x||", "a,b,c", "|,|", "a\x02b", "ab|cd"]
    words = spark.createDataFrame(
        [(w, i + 1) for i, w in enumerate(nasty)], "w string, freq long"
    )
    vocab_set = set("abcdx|,\x02") | {"ab", "cd", "a|"}
    vocab = spark.createDataFrame(
        [(p,) for p in sorted(vocab_set)], "piece string"
    )
    got_spark = {
        r["w"]: list(r["pieces"])
        for r in greedy_segment_words(words, vocab).collect()
    }
    for w in nasty:
        assert got_spark[w] == _py_greedy(w, vocab_set), w
        assert "".join(got_spark[w]) == w

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE words (w VARCHAR, freq BIGINT);"
        "CREATE TABLE vocab (piece VARCHAR)"
    )
    con.executemany(
        "INSERT INTO words VALUES (?, ?)",
        [(w, i + 1) for i, w in enumerate(nasty)],
    )
    con.executemany(
        "INSERT INTO vocab VALUES (?)", [(p,) for p in sorted(vocab_set)]
    )
    got_duck = {
        w: list(pieces)
        for w, _freq, pieces in con.execute(
            greedy_segment_sql_duckdb("words", "vocab")
        ).fetchall()
    }
    con.close()
    assert got_duck == got_spark


def test_wordpiece_greedy_uncovered_vocab_raises(spark):
    """ADVICE r11: a vocabulary missing a single character must raise
    loudly, not silently shift best-length positions (interior gap) or
    silently drop the word (no position matches at all)."""
    from newyork_taxi_etl_spark.operators.wordpiece import (
        greedy_segment_words,
    )

    words = spark.createDataFrame([("abc", 1)], "w string, freq long")
    # interior gap: 'b' missing -> positions collapse without the guard
    vocab_gap = spark.createDataFrame([("a",), ("c",)], "piece string")
    with pytest.raises(Exception, match="does not cover"):
        greedy_segment_words(words, vocab_gap).collect()
    # total miss: no position matches -> LEFT join keeps the word, guard
    # fires on best IS NULL instead of the old silent inner-join drop
    vocab_none = spark.createDataFrame([("z",)], "piece string")
    with pytest.raises(Exception, match="does not cover"):
        greedy_segment_words(words, vocab_none).collect()


def test_wordpiece_vocab_from_tops_contains_singles(spark):
    """ADVICE r11: vocab_from_tops must honor its contract — all single
    characters of the words frame PLUS each round's merged pair — so a
    caller following the docstring feeds greedy_segment_words a
    precondition-satisfying vocabulary."""
    from newyork_taxi_etl_spark.operators.wordpiece import vocab_from_tops

    words = spark.createDataFrame(
        [("abc", 2), ("qz", 1)], "w string, freq long"
    )
    tops = [
        spark.createDataFrame([("a", "b", 9)], "a string, b string, n long")
    ]
    got = {r["piece"] for r in vocab_from_tops(words, tops).collect()}
    assert got == {"a", "b", "c", "q", "z", "ab"}


def test_wordpiece_log_score_matches_duckdb_on_planted(spark):
    """The log-domain score (ln n - ln fa - ln fb) must be identical on
    both engines after the 12-decimal round: train one round on the
    planted q/z corpus and compare the top row value-for-value."""
    import duckdb

    from newyork_taxi_etl_spark.operators.merges import (
        by_gain,
        char_vocab,
        train,
    )

    rows = ["that this then hath teeth"] * 6 + ["qz"] * 3
    docs = spark.createDataFrame([(r,) for r in rows], "text string")
    top = train(char_vocab(docs), rounds=1, pick=by_gain)[0].collect()[0]
    assert (top["a"], top["b"]) == ("q", "z")
    assert abs(top["score"] - round(math.log(3) - 2 * math.log(3), 12)) < 1e-12

    con = duckdb.connect()
    got = con.execute(
        "SELECT ROUND(ln(3) - ln(3) - ln(3), 12)"
    ).fetchone()[0]
    con.close()
    assert top["score"] == got


def test_wordpiece_greedy_segment_query_contract(spark):
    """Registered-query contract: roundtrip + greedy reference on every
    returned row at the oracle SF, deterministic order."""
    res = queries()["wordpiece_greedy_segment"](spark, SF_ORACLE).collect()
    assert len(res) > 0
    for r in res:
        assert "".join(r["pieces"].split(" ")) == r["w"], r
    ws = [r["w"] for r in res]
    assert ws == sorted(ws)


def test_dsir_ingest_batching_invariant_and_equals_batch(spark, tmp_path):
    """Per-doc DSIR weights are final on arrival (frozen model, whole
    docs) and the per-language partials are decimal-additive, so the
    drained profile must equal itself under 1 vs 4 slices AND equal the
    one-shot batch statistic bit-for-bit."""
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_dsir_ingest,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    one = run_streaming_dsir_ingest(
        spark, docs, str(tmp_path / "one"), n_slices=1
    ).collect()
    four = run_streaming_dsir_ingest(
        spark, docs, str(tmp_path / "four"), n_slices=4
    ).collect()
    batch = queries()["dsir_importance_select"](spark, SF_ORACLE).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, four))
    assert sorted(map(tuple, one)) == sorted(map(tuple, batch))
    shares = {r["lang"]: r["selected_share"] for r in one}
    # target lang self-selects hardest (absolute share is corpus-dependent
    # on this 31-word synthetic vocab — hash-collision bleed)
    assert shares["en"] == max(shares.values())
    assert shares["en"] > 0.0


def test_sq_sweep_recall_floors_and_monotone(spark):
    """Every scalar-quantization operating point ships with a measured
    recall floor (sf0.01 measured: sq4 0.82, sq6 0.98, sq8 1.0), and the
    recall-vs-bytes curve must be monotone non-decreasing in bits — more
    code budget never hurts with the same affine codec."""
    rows = {
        r["bits"]: r
        for r in queries()["ann_recall_sq_sweep"](spark, SF_ORACLE).collect()
    }
    assert set(rows) == {4, 6, 8}
    assert rows[4]["recall"] >= 0.7
    assert rows[6]["recall"] >= 0.85
    assert rows[8]["recall"] >= 0.8
    assert rows[4]["recall"] <= rows[6]["recall"] <= rows[8]["recall"]
    assert [rows[b]["bytes_per_vec"] for b in (4, 6, 8)] == [32, 48, 64]


def test_kn_nll_matches_python_reference(spark):
    """_kn_nll must reproduce hand-computed interpolated Kneser-Ney
    (D=0.75) per bigram instance on a tiny planted corpus — including
    the continuation-probability effect: 'francisco' is frequent but
    follows only 'san', so its continuation mass is low."""
    from collections import Counter

    from newyork_taxi_etl_spark.queries.text import _bi_stream, _kn_nll

    texts = [
        (0, "en", "san francisco san francisco san francisco"),
        (1, "en", "new york new haven new deal"),
        (2, "en", "york deal haven san york"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, lang string, text string")

    # python reference
    bigrams = []
    for doc_id, lang, t in texts:
        ts = t.split(" ")
        bigrams += [
            (doc_id, f"{ts[i]} {ts[i + 1]}") for i in range(len(ts) - 1)
        ]
    cnt = Counter(bg for _, bg in bigrams)
    c1 = Counter()
    n1f = Counter()
    nprec = Counter()
    for bg, c in cnt.items():
        w1, w2 = bg.split(" ")
        c1[w1] += c
        n1f[w1] += 1
        nprec[w2] += 1
    ntypes = len(cnt)

    def p_kn(bg):
        w1, w2 = bg.split(" ")
        return ((cnt[bg] - 0.75) / c1[w1]) + ((0.75 * n1f[w1]) / c1[w1]) * (
            nprec[w2] / float(ntypes)
        )

    import math

    got = _kn_nll(_bi_stream(docs)).collect()
    assert len(got) == len(bigrams)
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r["nll"])
    for doc_id, bg in bigrams:
        want = round(-math.log(p_kn(bg)), 12)
        assert any(abs(n - want) < 1e-12 for n in by_doc[doc_id]), (bg, want)
    # continuation effect: 'francisco' only ever follows 'san', so its
    # continuation probability is 1/ntypes — strictly below a word like
    # 'york' that completes several contexts
    assert nprec["francisco"] / ntypes < nprec["york"] / ntypes


def test_kn_beats_add1_per_language(spark):
    """The registered comparison must show KN assigning the corpus
    higher in-sample likelihood than add-1 for EVERY language (the
    Chen & Goodman direction), with both legs over the same docs."""
    rows = queries()["kneser_ney_lm_compare"](spark, SF_ORACLE).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["nll_reduction"] > 0.0, r
        assert r["avg_nll_kn"] < r["avg_nll_add1"], r


def test_ccnet_kn_agreement_is_a_valid_crosstab(spark):
    """Bucket-migration table sanity: shares sum to 1, both marginals
    are the equal-count NTILE(3) tilings of the SAME restricted
    universe (so row/column sums agree per tile), and the diagonal
    carries positive mass."""
    rows = queries()["ccnet_kn_bucket_agreement"](spark, SF_ORACLE).collect()
    total = sum(r["n_docs"] for r in rows)
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    m_add1 = {}
    m_kn = {}
    diag = 0
    for r in rows:
        m_add1[r["tile_add1"]] = m_add1.get(r["tile_add1"], 0) + r["n_docs"]
        m_kn[r["tile_kn"]] = m_kn.get(r["tile_kn"], 0) + r["n_docs"]
        if r["tile_add1"] == r["tile_kn"]:
            diag += r["n_docs"]
    # equal-count tiling per language => tile marginals differ by at most
    # one doc per language on both axes, and the two cuts share them
    assert m_add1 == m_kn
    assert max(m_add1.values()) - min(m_add1.values()) <= 5  # <=1 per lang
    assert diag > 0
    assert total == sum(m_add1.values())


def test_dsir_affinity_diagonal_dominates_on_planted_domains(spark):
    """With disjoint domain vocabularies (no hash collisions among the
    planted tokens' 64-bucket images — pre-checked), every matrix row's
    maximum affinity must sit on the diagonal and every planted doc
    must self-select (diagonal selected_share == 1)."""
    import hashlib

    from newyork_taxi_etl_spark.queries.curation import (
        _dsir_affinity_matrix,
    )

    vocabs = {
        "news": ["alpha", "bravo", "charlie"],
        "code": ["delta", "echo", "foxtrot"],
        "law": ["golf", "hotel", "india"],
    }
    # pre-check: planted vocabularies are collision-free in bucket space
    bucket = lambda t: int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 64
    all_toks = [t for v in vocabs.values() for t in v]
    assert len({bucket(t) for t in all_toks}) == len(all_toks)

    rows, did = [], 0
    for dom, toks in vocabs.items():
        for _ in range(4):
            rows.append((did, dom, " ".join(toks * 3)))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    mat = {
        (r["target"], r["domain"]): r
        for r in _dsir_affinity_matrix(docs).collect()
    }
    assert len(mat) == 9
    for t in vocabs:
        diag = mat[(t, t)]["avg_logweight"]
        for d in vocabs:
            if d != t:
                assert diag > mat[(t, d)]["avg_logweight"], (t, d)
        assert mat[(t, t)]["selected_share"] == 1.0


def test_dsir_affinity_diagonal_is_single_target_query(spark):
    """Matrix consistency: the (en-target) single-target profile and the
    affinity matrix share the model algebra — each matrix row's weights
    come from the same lr-table construction, so the row for target=T
    restricted to domain=T must match a direct _dsir_profile run with T
    as target (selected shares and avg logweights equal)."""
    from newyork_taxi_etl_spark.queries.curation import (
        _dsir_affinity_matrix,
        _dsir_profile,
    )

    docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .filter(F.col("source").isin("src0", "src1", "src2"))
    )
    mat = {
        (r["target"], r["domain"]): r
        for r in _dsir_affinity_matrix(docs).collect()
    }
    # single-target run with src1 as the trusted slice, keyed on source
    prof = {
        r["lang"]: r
        for r in _dsir_profile(
            docs.withColumn("lang", F.col("source")), target_lang="src1"
        ).collect()
    }
    for d in ("src0", "src1", "src2"):
        assert mat[("src1", d)]["avg_logweight"] == prof[d]["avg_logweight"]
        assert mat[("src1", d)]["selected_share"] == prof[d]["selected_share"]


def test_stage_cache_build_once_and_atomic(spark, tmp_path):
    """_stage_cached: a keyed stage builds exactly once (second call is a
    no-Spark-job hit on the same completed generation), an uncached call
    still builds into the caller's dir, and a half-built generation is
    invisible (no _STAGE_COMPLETE => rebuild)."""
    import os

    from newyork_taxi_etl_spark.streaming.windows import (
        _stage_cache_dir,
        _stage_cached,
    )

    calls = []

    def build(target):
        calls.append(target)
        os.makedirs(target, exist_ok=True)
        with open(os.path.join(target, "part-0.parquet"), "w") as f:
            f.write("x")

    # unique per test RUN: the cache root is shared across every test in
    # this PROCESS (r15: scoped per-process, removed at exit), so a
    # stable key could hit a generation built by an earlier test
    import uuid

    key = f"pytest-stage-{uuid.uuid4().hex}"
    d1 = _stage_cached(str(tmp_path / "a"), key, build)
    d2 = _stage_cached(str(tmp_path / "b"), key, build)
    assert d1 == d2 == _stage_cache_dir(key)
    assert len(calls) == 1
    assert os.path.exists(os.path.join(d1, "_STAGE_COMPLETE"))
    # uncached: builds into the caller's dir every time
    d3 = _stage_cached(str(tmp_path / "c"), None, build)
    assert d3 == str(tmp_path / "c") and len(calls) == 2
    # a generation without the marker is rebuilt, not trusted
    os.remove(os.path.join(d1, "_STAGE_COMPLETE"))
    import shutil

    shutil.rmtree(d1)
    d4 = _stage_cached(str(tmp_path / "d"), key, build)
    assert d4 == d1 and len(calls) == 3


def test_stage_cache_invalidates_on_corpus_change(tmp_path):
    """r14 ADVICE (medium): a stage keyed on a source dir must NOT serve
    a stale trained artifact after the parquet under that dir is
    regenerated — the corpus fingerprint (file inventory + sizes +
    mtimes) is folded into the key, so a regeneration lands in a fresh
    cache generation and rebuilds; an untouched corpus still hits."""
    import os
    import uuid

    from newyork_taxi_etl_spark.streaming.windows import (
        _fingerprinted_key,
        _stage_cached,
    )

    src = tmp_path / "sfX"
    src.mkdir()
    (src / "documents.parquet").write_text("gen1" * 10)

    calls = []

    def build(target):
        calls.append(target)
        os.makedirs(target, exist_ok=True)
        (tmp_path / "marker").write_text("x")
        with open(os.path.join(target, "out"), "w") as f:
            f.write("x")

    key = f"pytest-fp-{uuid.uuid4().hex}:{src}"
    d1 = _stage_cached(str(tmp_path / "a"), key, build)
    d2 = _stage_cached(str(tmp_path / "b"), key, build)
    assert d1 == d2 and len(calls) == 1  # untouched corpus: cache hit
    # regenerate the corpus (different size => different fingerprint
    # even under coarse mtime resolution)
    (src / "documents.parquet").write_text("generation-two" * 10)
    d3 = _stage_cached(str(tmp_path / "c"), key, build)
    assert len(calls) == 2, "stale stage served after corpus regeneration"
    assert d3 != d1
    # keys with no path segment are unchanged by the fold
    assert _fingerprinted_key("plain-key:stage3") == "plain-key:stage3"


def test_hd_rotation_is_orthogonal_and_l2_preserving(spark):
    """The Hadamard x sign rotation must be exactly orthogonal (R'R = I
    in exact arithmetic — verified via numpy on the literal matrix) and
    preserve pairwise L2 on real vectors to fp tolerance; rotated
    vectors must actually differ from the raw ones (the rotation is not
    a permutation-free identity)."""
    import numpy as np

    from newyork_taxi_etl_spark.queries.similarity import (
        _HD_SIGNS,
        _hd_rotate_spark,
    )

    H = np.array(
        [
            [(-1) ** bin((i & j)).count("1") for j in range(64)]
            for i in range(64)
        ],
        dtype=float,
    )
    R = H @ np.diag([(-1) ** s for s in _HD_SIGNS]) / 8.0
    assert np.allclose(R @ R.T, np.eye(64), atol=1e-12)

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(20)
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    rot = base.select("vec_id", F.expr(_hd_rotate_spark()).alias("v"))
    raw = {r["vec_id"]: np.array(r["v"]) for r in base.collect()}
    got = {r["vec_id"]: np.array(r["v"]) for r in rot.collect()}
    ids = sorted(raw)
    for vid in ids:
        assert np.allclose(got[vid], R @ raw[vid], atol=1e-9)
        assert not np.allclose(got[vid], raw[vid])
    a, b = ids[0], ids[1]
    d_raw = np.linalg.norm(raw[a] - raw[b])
    d_rot = np.linalg.norm(got[a] - got[b])
    assert abs(d_raw - d_rot) < 1e-9


def test_rotated_pq_gate_contract(spark):
    """Gate sanity: both legs score against the same pinned truth, the
    raw leg equals ann_recall_trained's pq_adc_t16 operating point (one
    shared chain — drift-proof), and recalls are valid fractions."""
    rows = {
        r["method"]: r
        for r in queries()["ann_pq_rotated_recall"](spark, SF_ORACLE).collect()
    }
    assert set(rows) == {"pq_raw", "pq_rot"}
    trained = {
        r["method"]: r
        for r in queries()["ann_recall_trained"](spark, SF_ORACLE).collect()
    }
    assert rows["pq_raw"]["recall"] == trained["pq_adc_t16"]["recall"]
    for r in rows.values():
        assert r["total"] == 50 and 0.0 <= r["recall"] <= 1.0


def test_curriculum_ccnet_agreement_marginals(spark):
    """Cross-tab sanity: shares sum to 1, the stage marginal reproduces
    the curriculum's equal-count NTILE(4) sizes and the bucket marginal
    the per-language NTILE(3) sizes (both cuts cover the same full
    corpus — every doc appears exactly once)."""
    rows = queries()["curriculum_ccnet_agreement"](spark, SF_ORACLE).collect()
    total = sum(r["n_docs"] for r in rows)
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    stage_m = {}
    tile_m = {}
    for r in rows:
        stage_m[r["stage"]] = stage_m.get(r["stage"], 0) + r["n_docs"]
        tile_m[r["tile"]] = tile_m.get(r["tile"], 0) + r["n_docs"]
    curr = {
        r["stage"]: r["n_docs"]
        for r in queries()["curriculum_quality_stages"](
            spark, SF_ORACLE
        ).collect()
    }
    assert stage_m == curr
    ccnet = {}
    for r in queries()["ccnet_perplexity_buckets"](spark, SF_ORACLE).collect():
        ccnet[r["tile"]] = ccnet.get(r["tile"], 0) + r["n_docs"]
    assert tile_m == ccnet
    assert total == sum(stage_m.values())


def test_rrf_score_formula_and_fusion_property(spark):
    """Each fused score must equal sum(1/(60+rank)) over the legs that
    retrieved the doc (-1 = not retrieved contributes 0), the output is
    ordered by it, and docs found by BOTH legs outrank either leg's #1
    single-leg doc when their member ranks are modest (the reason RRF
    exists)."""
    rows = queries()["hybrid_rrf_fusion"](spark, SF_ORACLE).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        want = 0.0
        if r["text_rank"] > 0:
            want += 1.0 / (60 + r["text_rank"])
        if r["vec_rank"] > 0:
            want += 1.0 / (60 + r["vec_rank"])
        assert abs(r["rrf_score"] - round(want, 6)) < 1e-9, r
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    both = [r for r in rows if r["text_rank"] > 0 and r["vec_rank"] > 0]
    single = [r for r in rows if r["text_rank"] < 0 or r["vec_rank"] < 0]
    if both and single:
        assert max(r["rrf_score"] for r in both) > max(
            r["rrf_score"] for r in single
        )


def test_wordpiece_runtime_drift_detects_planted_divergence(spark):
    """The drift the registered query measures is real: with merges
    learned in order (b,c) -> (bc,c) -> (a,b), the trainer's merge-ORDER
    fold encodes 'abcc' as [a, bcc] (2 pieces) while the deployed greedy
    longest-match runtime takes the locally-longest 'ab' first and ends
    at [ab, c, c] (3 pieces) — same vocabulary, different encoding and
    different fertility.  (On the synthetic corpus the registered
    query's measured delta is 0.0 — correct there, as the oracle
    proves; this pins that the machinery DOES diverge when the merge
    structure overlaps.)"""
    from newyork_taxi_etl_spark.operators.wordpiece import (
        greedy_segment_words,
        vocab_from_tops,
    )
    from newyork_taxi_etl_spark.operators.merges import MERGE_EXPR

    tops = [
        spark.createDataFrame([(a, b)], "a string, b string")
        for (a, b) in (("b", "c"), ("bc", "c"), ("a", "b"))
    ]
    words = spark.createDataFrame([("abcc", 1)], "w string, freq long")

    # trainer-order fold encode
    enc = words.select(
        "w",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    )
    for top in tops:
        enc = enc.crossJoin(F.broadcast(top)).select(
            "w", F.expr(MERGE_EXPR).alias("syms")
        )
    fold = enc.collect()[0]["syms"]
    assert fold == ["a", "bcc"]

    # deployed greedy longest-match against the SAME final vocabulary
    vocab = vocab_from_tops(words, tops)
    greedy = greedy_segment_words(words, vocab).collect()[0]["pieces"]
    assert list(greedy) == ["ab", "c", "c"]
    assert len(greedy) != len(fold)  # fertility drift is real


def test_quality_rule_funnel_identities(spark):
    """Funnel algebra: survivors are monotone non-increasing, each
    stage's survivors = previous survivors - killed_at_stage, stage 1's
    killed == its failed_alone (no predecessor), killed_at_stage <=
    failed_alone for every later stage, and the final survivor share is
    the fraction passing ALL rules (recomputed directly)."""
    rows = sorted(
        queries()["quality_rule_funnel"](spark, SF_ORACLE).collect(),
        key=lambda r: r["stage"],
    )
    assert [r["stage"] for r in rows] == list(range(1, len(rows) + 1))
    prev = None
    for r in rows:
        if prev is None:
            assert r["killed_at_stage"] == r["failed_alone"]
        else:
            assert r["survivors"] == prev - r["killed_at_stage"]
            assert r["killed_at_stage"] <= r["failed_alone"]
            assert r["survivors"] <= prev
        prev = r["survivors"]

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    stats = docs.select(
        F.size(toks).alias("n_tokens"),
        "n_chars",
        (
            F.aggregate(
                toks, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
            ).cast("double")
            / F.size(toks)
        ).alias("mean_wl"),
        F.array_max(F.transform(toks, F.length)).alias("max_wl"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("ttr"),
    )
    passed_all = stats.filter(
        F.expr(
            "n_tokens BETWEEN 20 AND 80 AND mean_wl BETWEEN 3.0 AND 8.0 "
            "AND ttr >= 0.5 AND n_chars BETWEEN 100 AND 600 "
            "AND max_wl <= 15"
        )
    ).count()
    assert rows[-1]["survivors"] == passed_all


def test_funnel_ingest_batching_invariant_and_equals_batch(spark, tmp_path):
    """Funnel columns are per-doc-independent integer sums, so the
    drained monitor must equal itself under 1 vs 4 slices AND equal the
    one-shot batch audit bit-for-bit."""
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_funnel_ingest,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    one = run_streaming_funnel_ingest(
        spark, docs, str(tmp_path / "one"), n_slices=1
    ).collect()
    four = run_streaming_funnel_ingest(
        spark, docs, str(tmp_path / "four"), n_slices=4
    ).collect()
    batch = queries()["quality_rule_funnel"](spark, SF_ORACLE).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, four))
    assert sorted(map(tuple, one)) == sorted(map(tuple, batch))


def test_wordpiece_greedy_property_random_vocabs(spark):
    """Property (hypothesis): for random words over a small alphabet and
    a random vocabulary that always contains the singles, the relational
    greedy fold equals the plain-Python longest-match reference and
    roundtrips, for every word.  One Spark job per example — examples
    kept small (the test_properties.py budget discipline)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from newyork_taxi_etl_spark.operators.wordpiece import (
        greedy_segment_words,
    )

    alphabet = "abc"
    words_st = st.lists(
        st.text(alphabet=alphabet, min_size=1, max_size=7),
        min_size=1,
        max_size=6,
        unique=True,
    )
    pieces_st = st.sets(
        st.text(alphabet=alphabet, min_size=2, max_size=4), max_size=6
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(words_st, pieces_st)
    def run(words, pieces):
        vocab_set = set(alphabet) | pieces
        wdf = spark.createDataFrame(
            [(w, i + 1) for i, w in enumerate(words)],
            "w string, freq long",
        )
        vdf = spark.createDataFrame(
            [(p,) for p in sorted(vocab_set)], "piece string"
        )
        got = {
            r["w"]: list(r["pieces"])
            for r in greedy_segment_words(wdf, vdf).collect()
        }
        assert set(got) == set(words)
        for w in words:
            assert got[w] == _py_greedy(w, vocab_set), (w, vocab_set)
            assert "".join(got[w]) == w

    run()


def test_mixture_epochs_plan_identities_and_planted_cap(spark):
    """Plan identities at the oracle SF (weights sum to ~1, requested sums
    to ~2x the corpus, epochs == requested/available), and a planted
    skewed corpus where temperature up-weighting pushes a tiny domain
    past the 4-epoch repetition cap while the big domain stays under."""
    rows = queries()["mixture_epochs_plan"](spark, SF_ORACLE).collect()
    total = sum(r["avail_tokens"] for r in rows)
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["requested_tokens"] for r in rows) - 2 * total) < len(
        rows
    ) * 2
    for r in rows:
        assert (
            abs(
                r["epochs"]
                - round(r["requested_tokens"] / r["avail_tokens"], 4)
            )
            < 1e-9
        )
        assert r["over_repeat_cap"] == (
            1 if r["requested_tokens"] / r["avail_tokens"] > 4.0 else 0
        )

    # planted skew: 1 tiny domain vs 1 large one; sqrt-temperature gives
    # the tiny domain a weight far above its share -> >4 epochs
    from newyork_taxi_etl_spark.queries.curation import mixture_epochs_plan

    docs = spark.createDataFrame(
        [(i, "big", "tok " * 50) for i in range(400)]
        + [(10_000, "tiny", "tok tok tok")],
        "doc_id long, source string, text string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        planted = {
            r["source"]: r for r in mixture_epochs_plan(spark, d).collect()
        }
    assert planted["tiny"]["over_repeat_cap"] == 1
    assert planted["big"]["over_repeat_cap"] == 0
    assert planted["tiny"]["epochs"] > 4.0 > planted["big"]["epochs"]


def test_ivf_balance_identities_and_planted_skew(spark):
    """Balance identities (list sizes sum to the corpus, entropy_norm in
    (0, 1], skew >= 1) and a planted two-blob corpus with a 9:1 mass
    split must show skew well above the real corpus's near-uniform
    value and entropy below it."""
    import tempfile

    import numpy as np

    from newyork_taxi_etl_spark.queries.similarity import ann_ivf_balance

    row = queries()["ann_ivf_balance"](spark, SF_ORACLE).collect()[0]
    assert row["n_lists"] == 8
    assert row["min_list"] >= 1 and row["max_list"] <= row["n_vecs"]
    assert row["skew"] >= 1.0
    assert 0.0 < row["entropy_norm"] <= 1.0

    rng = np.random.RandomState(7)
    vecs = []
    for i in range(450):  # hot blob
        vecs.append((i, (rng.randn(64) * 0.01 + 5.0).tolist()))
    for i in range(450, 500):  # 50-vector cold blob far away
        vecs.append((i, (rng.randn(64) * 0.01 - 5.0).tolist()))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/embeddings.parquet")
        planted = ann_ivf_balance(spark, d).collect()[0]
    assert planted["skew"] > row["skew"]
    assert planted["entropy_norm"] < row["entropy_norm"]
