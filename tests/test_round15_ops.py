"""Round-15 operators: tokenizer bake-off consistency, DCT coefficient
table integrity."""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_SMOKE


def test_bakeoff_columns_pin_to_single_family_queries(spark):
    """r14 verdict item 5: every (family, lang) cell of the bake-off
    table must equal the standalone family query's numbers — train and
    holdout fertility straight from the four registered builders, the
    degradation their 6-dp ratio, and chars_per_token the family-free
    corpus chars over that family's holdout symbols."""
    from newyork_taxi_etl_spark import registry

    q = registry.queries()
    bake = {
        (r.family, r.lang): r
        for r in q["tokenizer_family_bakeoff"](spark, SF_SMOKE).collect()
    }
    singles = {
        "bpe": ("bpe_holdout_fertility", "bpe_fertility", "bpe_symbols"),
        "wordpiece": (
            "wordpiece_holdout_fertility", "wp_fertility", "wp_symbols"
        ),
        "unigram": (
            "unigram_holdout_fertility", "uni_fertility", "uni_pieces"
        ),
        "bytebpe": (
            "bytebpe_holdout_fertility", "bb_fertility", "bb_symbols"
        ),
    }
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    hchars = {
        r.lang: r.n_chars
        for r in docs.filter(F.col("doc_id") % 5 == 0)
        .select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang")
        .agg(F.sum(F.length("w")).alias("n_chars"))
        .collect()
    }
    for fam, (qname, fert_col, sym_col) in singles.items():
        rows = q[qname](spark, SF_SMOKE).collect()
        by = {(r.split, r.lang): r for r in rows}
        langs = {r.lang for r in rows}
        for lang in langs:
            cell = bake[(fam, lang)]
            tr, ho = by[("train", lang)], by[("holdout", lang)]
            assert cell.train_fertility == tr[fert_col], (fam, lang)
            assert cell.holdout_fertility == ho[fert_col], (fam, lang)
            assert cell.degradation == round(
                ho[fert_col] / tr[fert_col], 6
            ), (fam, lang)
            assert cell.chars_per_token == round(
                hchars[lang] / ho[sym_col], 6
            ), (fam, lang)
    # byte-BPE's base alphabet is total: fallback must be identically 0,
    # and the char families must share one corpus-level fallback number
    for (fam, lang), cell in bake.items():
        if fam == "bytebpe":
            assert cell.fallback_rate == 0.0
        else:
            assert cell.fallback_rate == bake[("bpe", lang)].fallback_rate


@pytest.mark.quick
def test_dct_basis_is_the_rounded_cosine_table():
    """DCT_K8 must stay the integer DCT-II basis: K[u][x] =
    round(cos((2x+1) u pi / 16) * 8192), no entry on a .5 tie, and the
    accumulator bound 64 * 255 * 2^20 * 8192^2 must fit int64 (the
    no-float guarantee both engines rely on)."""
    from newyork_taxi_etl_spark.operators.multimodal import (
        DCT_K8,
        DCT_MEAN_SHIFT,
    )

    for u in range(8):
        for x in range(8):
            v = math.cos((2 * x + 1) * u * math.pi / 16) * 8192
            assert abs(v - round(v)) < 0.4999
            assert DCT_K8[u][x] == round(v)
    assert 64 * 255 * (1 << DCT_MEAN_SHIFT) * 8192 * 8192 < 2**63


def test_kmv_sketch_estimates_within_bound_and_exact_when_small(spark):
    """KMV estimator contract: (a) per-set and union estimates land within
    5 standard errors (5/sqrt(k-1)) of the exact distinct counts, (b) a
    set whose distinct count is below k is estimated EXACTLY (the sketch
    holds the whole set), and (c) jaccard_kmv is a valid probability that
    agrees with jaccard_exact to within the same tolerance."""
    from newyork_taxi_etl_spark.queries.profiling import (
        _KMV_K,
        kmv_theta_sketch_setops,
    )

    rows = kmv_theta_sketch_setops(spark, SF_SMOKE).collect()
    assert rows, "no lang pairs"
    tol = 5.0 / math.sqrt(_KMV_K - 1)
    for r in rows:
        for est, exact in [
            (r.est_a, r.n_a_exact),
            (r.est_b, r.n_b_exact),
            (r.est_union, r.exact_union),
        ]:
            if exact < _KMV_K:
                assert est == float(exact), (r.lang_a, r.lang_b, est, exact)
            else:
                assert abs(est - exact) / exact <= tol, (
                    r.lang_a, r.lang_b, est, exact,
                )
        assert 0.0 <= r.jaccard_kmv <= 1.0
        assert abs(r.jaccard_kmv - r.jaccard_exact) <= tol, (
            r.lang_a, r.lang_b, r.jaccard_kmv, r.jaccard_exact,
        )


def test_kmv_union_membership_lemma(spark):
    """The estimator's membership shortcut is sound on real data: every
    union-bottom-k point that belongs to set A's DISTINCT value set is
    found in A's own bottom-k sketch (so the LEFT JOIN against the tiny
    sketch is exact membership, never a false negative)."""
    from newyork_taxi_etl_spark.operators.sketch import kmv_bottom_k, kmv_hash
    from newyork_taxi_etl_spark.sources.readers import table_path

    import pyspark.sql.functions as F

    k = 32  # small k stresses the lemma harder than the shipped 128
    docs = spark.read.parquet(table_path(SF_SMOKE, "documents"))
    dv = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .select("lang", kmv_hash("tok").alias("hv"))
        .distinct()
    )
    sk = kmv_bottom_k(dv, ["lang"], k).select("lang", "hv")
    a, b = "en", "fr"
    pooled = (
        sk.filter(F.col("lang").isin(a, b))
        .select("hv")
        .distinct()
        .orderBy("hv")
        .limit(k)
    )
    # membership via the FULL distinct set vs via the k-sketch must agree
    full_a = {r.hv for r in dv.filter(F.col("lang") == a).collect()}
    sk_a = {r.hv for r in sk.filter(F.col("lang") == a).collect()}
    for r in pooled.collect():
        assert (r.hv in full_a) == (r.hv in sk_a), r.hv


def test_holt_fold_matches_python_recurrence(spark):
    """The F.aggregate fold is the textbook Holt recurrence: recompute
    level/trend/MAE in pure Python from the same daily counts and match
    to the rounded output, plus the closed-form forecast identity."""
    import pyspark.sql.functions as F

    from newyork_taxi_etl_spark.queries.behavior import holt_linear_forecast
    from newyork_taxi_etl_spark.sources.readers import table

    ev = table(spark, SF_SMOKE, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
        .collect()
    )
    series = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.d, float(r.y)))
    got = {r.event_type: r for r in holt_linear_forecast(spark, SF_SMOKE).collect()}
    assert set(got) == {k for k, v in series.items() if len(v) >= 2}
    for et, pts in series.items():
        if len(pts) < 2:
            continue
        ys = [y for _, y in sorted(pts)]
        l, b, ae = ys[0], 0.0, 0.0
        for y in ys[1:]:
            ae += abs(y - (l + b))
            l_new = 0.5 * y + 0.5 * (l + b)
            b = 0.25 * (l_new - l) + 0.75 * b
            l = l_new
        r = got[et]
        assert r.n_days == len(ys)
        assert r.level == round(l, 6) and r.trend == round(b, 6)
        assert r.forecast_7 == round(l + 7 * b, 6)
        assert r.mae_1step == round(ae / (len(ys) - 1), 6)


def test_markov_anomaly_scores_are_valid_loglikelihoods(spark):
    """Bottom-10 rows carry negative avg log-probs, each user's score is
    bounded below by the corpus's rarest smoothed transition, and the
    result is sorted ascending (most anomalous first)."""
    import math as m

    import pyspark.sql.functions as F

    from newyork_taxi_etl_spark.queries.behavior import markov_sequence_anomaly
    from newyork_taxi_etl_spark.sources.readers import table

    rows = markov_sequence_anomaly(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    assert [r.avg_logp for r in rows] == sorted(r.avg_logp for r in rows)
    ev = table(spark, SF_SMOKE, "events")
    k = ev.select("event_type").distinct().count()
    n_total = ev.count()
    floor = m.log(1.0 / (n_total + k))  # rarest possible smoothed prob
    for r in rows:
        assert floor - 1e-6 <= r.avg_logp < 0.0
        assert r.n_trans >= 1


def test_dbscan_partition_invariants(spark):
    """DBSCAN output partitions the slice: cluster sizes + noise sum to
    the slice size, every real cluster has at least one core point,
    n_points = n_core + n_border, and cluster ids are member minima
    (canonical representative < slice bound)."""
    import pyspark.sql.functions as F

    from newyork_taxi_etl_spark.queries.similarity import (
        _DBSCAN_SLICE,
        dbscan_embedding_clusters,
    )
    from newyork_taxi_etl_spark.sources.readers import table_path

    rows = dbscan_embedding_clusters(spark, SF_SMOKE).collect()
    n_slice = (
        spark.read.parquet(table_path(SF_SMOKE, "embeddings"))
        .filter(F.col("vec_id") < _DBSCAN_SLICE)
        .count()
    )
    assert sum(r.n_points for r in rows) == n_slice
    noise = [r for r in rows if r.cluster_id == -1]
    assert len(noise) == 1 and noise[0].n_core == 0 and noise[0].n_border == 0
    real = [r for r in rows if r.cluster_id != -1]
    assert real, "no clusters at the shipped tau"
    for r in real:
        assert r.n_core >= 1
        assert r.n_points == r.n_core + r.n_border
        assert 0 <= r.cluster_id < _DBSCAN_SLICE


def test_lof_matches_independent_python_reference(spark):
    """Full independent LOF recomputation (numpy cosines, rounded like
    the engine, python kNN/kdist/lrd/LOF) must reproduce the engine's
    top-10 ids and scores; sanity: every surfaced LOF is > 1 (locally
    sparser than its neighborhood)."""
    import numpy as np
    import pyspark.sql.functions as F

    from newyork_taxi_etl_spark.queries.similarity import (
        _DBSCAN_SLICE,
        _LOF_K,
        lof_knn_outliers,
    )
    from newyork_taxi_etl_spark.sources.readers import table_path

    rows = (
        spark.read.parquet(table_path(SF_SMOKE, "embeddings"))
        .filter(F.col("vec_id") < _DBSCAN_SLICE)
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [r.vec_id for r in rows]
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.sqrt((m * m).sum(axis=1))
    cos = np.round((m @ m.T) / np.outer(norms, norms), 4)
    dist = 1.0 - cos
    n = len(ids)
    knn, kdist = {}, {}
    for i in range(n):
        order = sorted((dist[i][j], ids[j], j) for j in range(n) if j != i)
        nb = order[:_LOF_K]
        knn[i] = nb
        kdist[i] = max(d for d, _, _ in nb)
    lrd = {
        i: 1.0 / (sum(max(d, kdist[j]) for d, _, j in knn[i]) / _LOF_K)
        for i in range(n)
    }
    lof = {
        ids[i]: round(sum(lrd[j] for _, _, j in knn[i]) / _LOF_K / lrd[i], 4)
        for i in range(n)
    }
    want = sorted(lof.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r.vec_id, r.lof) for r in lof_knn_outliers(spark, SF_SMOKE).collect()]
    assert got == want, (got, want)
    assert all(v > 1.0 for _, v in got)


def test_bfs_hops_agree_with_connected_components(spark):
    """BFS invariants on the pair graph: the histogram partitions the
    node set, hop levels are contiguous from 0 (n=1 at the canonical
    source = global min node), and the reached set equals the source's
    connected component (diameter permitting) — cross-checked against
    the independent CC operator."""
    import pyspark.sql.functions as F

    from newyork_taxi_etl_spark.operators.graph import (
        bfs_hops,
        connected_components,
    )
    from newyork_taxi_etl_spark.queries.graph import (
        _multiband_pairs,
        graph_bfs_hops,
    )

    rows = graph_bfs_hops(spark, SF_SMOKE).collect()
    hops = sorted(r.hop for r in rows if r.hop >= 0)
    assert hops == list(range(len(hops))), hops
    pairs = _multiband_pairs(spark, SF_SMOKE)
    src = pairs.agg(F.least(F.min("id_a"), F.min("id_b"))).collect()[0][0]
    h0 = next(r for r in rows if r.hop == 0)
    assert h0.n_nodes == 1 and h0.min_node == src
    n_nodes_total = (
        pairs.select(F.col("id_a").alias("n"))
        .union(pairs.select("id_b"))
        .distinct()
        .count()
    )
    assert sum(r.n_nodes for r in rows) == n_nodes_total
    comps = {r.node: r.component for r in connected_components(pairs).collect()}
    comp_src = {n for n, c in comps.items() if c == comps[src]}
    reached = {r.node for r in bfs_hops(pairs, max_hops=6).collect()}
    assert reached <= comp_src
    if max(hops) < 6:  # BFS exhausted the component before the horizon
        assert reached == comp_src


def test_ols_matches_numpy_lstsq(spark):
    """Closed-form normal-equation coefficients must agree with numpy's
    QR-based lstsq on the same (hour, dow, value) design, and R^2 must
    equal the standard ESS/TSS identity, per event type."""
    import numpy as np
    import pyspark.sql.functions as F

    from newyork_taxi_etl_spark.queries.behavior import grouped_ols_regression
    from newyork_taxi_etl_spark.sources.readers import table

    ev = (
        table(spark, SF_SMOKE, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.hour("ts").alias("x1"),
            (F.dayofweek(F.to_date("ts")) - 1).alias("x2"),
            (F.round(F.col("value") * 100) / 100.0).alias("y"),
        )
        .collect()
    )
    groups = {}
    for r in ev:
        groups.setdefault(r.event_type, []).append((r.x1, r.x2, r.y))
    got = {r.event_type: r for r in grouped_ols_regression(spark, SF_SMOKE).collect()}
    assert set(got) == set(groups)
    for et, pts in groups.items():
        X = np.array([[1.0, x1, x2] for x1, x2, _ in pts])
        y = np.array([v for _, _, v in pts])
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        pred = X @ beta
        r2 = 1.0 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
        g = got[et]
        assert g.n == len(pts)
        assert abs(g.b0 - beta[0]) < 1e-4, (et, g.b0, beta[0])
        assert abs(g.b1 - beta[1]) < 1e-6, (et, g.b1, beta[1])
        assert abs(g.b2 - beta[2]) < 1e-6, (et, g.b2, beta[2])
        assert abs(g.r2 - r2) < 1e-6, (et, g.r2, r2)


def test_anova_matches_python_decomposition(spark):
    """F statistic and eta^2 recomputed in pure Python from the raw
    per-group tick values (textbook SSB/SSW decomposition) match the
    engine; identity SST = SSB + SSW holds on the reported numbers."""
    import pyspark.sql.functions as F

    from newyork_taxi_etl_spark.queries.behavior import anova_oneway_value
    from newyork_taxi_etl_spark.sources.readers import table

    rows = (
        table(spark, SF_SMOKE, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.round(F.col("value") * 100).alias("y"))
        .collect()
    )
    groups = {}
    for r in rows:
        groups.setdefault(r.event_type, []).append(int(r.y))
    n = sum(len(v) for v in groups.values())
    k = len(groups)
    mean = sum(sum(v) for v in groups.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - mean) ** 2 for v in groups.values()) / 1e4
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values()
    ) / 1e4
    g = anova_oneway_value(spark, SF_SMOKE).collect()[0]
    assert (g.k, g.n) == (k, n)
    assert abs(g.ss_between - ssb) < 1e-3
    assert abs(g.ss_within - ssw) < 1e-2
    assert abs(g.f_stat - (ssb / (k - 1)) / (ssw / (n - k))) < 1e-6
    assert abs(g.eta_sq - ssb / (ssb + ssw)) < 1e-6
    assert abs((g.ss_between + g.ss_within) - (ssb + ssw)) < 1e-2


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_round15_plan_shapes(spark):
    """Plan pins for the round's scale-sensitive ops: the KMV min-k and
    the LOF kNN prune map-side (WindowGroupLimit); the Markov bottom-10
    is a TakeOrderedAndProject (per-task heaps, no global sort); the
    OLS and ANOVA sufficient-statistics passes contain NO join and NO
    window — one hash aggregate chain end to end."""
    from newyork_taxi_etl_spark.queries.behavior import (
        anova_oneway_value,
        grouped_ols_regression,
        markov_sequence_anomaly,
    )
    from newyork_taxi_etl_spark.queries.profiling import (
        kmv_theta_sketch_setops,
    )
    from newyork_taxi_etl_spark.queries.similarity import lof_knn_outliers

    assert "WindowGroupLimit" in _plan(kmv_theta_sketch_setops(spark, SF_SMOKE))
    # LOF's knn frame is localCheckpointed (scored once, reused thrice),
    # so its WindowGroupLimit lives in the checkpointed subplan — pin the
    # same kNN shape pre-checkpoint, and the final top-10 heap on the
    # query itself
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators import similarity as S
    from newyork_taxi_etl_spark.queries.similarity import _DBSCAN_SLICE, _LOF_K
    from newyork_taxi_etl_spark.sources.readers import table_path

    emb = (
        spark.read.parquet(table_path(SF_SMOKE, "embeddings"))
        .filter(F.col("vec_id") < _DBSCAN_SLICE)
        .select("vec_id", "embedding")
    )
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    d = a.join(F.broadcast(b), F.col("ia") != F.col("ib")).select(
        "ia", "ib", (1 - S.cosine_expr("va", "vb")).alias("dist")
    )
    w = Window.partitionBy("ia").orderBy("dist", "ib")
    knn = d.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _LOF_K
    )
    assert "WindowGroupLimit" in _plan(knn)
    assert "TakeOrderedAndProject" in _plan(lof_knn_outliers(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in _plan(
        markov_sequence_anomaly(spark, SF_SMOKE)
    )
    for q in (grouped_ols_regression, anova_oneway_value):
        p = _plan(q(spark, SF_SMOKE))
        assert "Join" not in p and "Window" not in p, q.__name__


def test_kmv_sketch_is_mergeable(spark):
    """KMV mergeability — the property that makes it a sketch: the
    bottom-k of the POOLED per-language sketches equals the bottom-k of
    the full combined distinct set (union sketch from sketches == union
    sketch from data), for every pair of languages."""
    import pyspark.sql.functions as F

    from newyork_taxi_etl_spark.operators.sketch import kmv_bottom_k, kmv_hash
    from newyork_taxi_etl_spark.sources.readers import table_path

    k = 64
    docs = spark.read.parquet(table_path(SF_SMOKE, "documents"))
    dv = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .select("lang", kmv_hash("tok").alias("hv"))
        .distinct()
    )
    per_lang = {
        lang: sorted(
            r.hv
            for r in kmv_bottom_k(
                dv.filter(F.col("lang") == lang), ["lang"], k
            ).collect()
        )
        for lang in ("en", "fr", "de")
    }
    full = {
        lang: sorted(
            r.hv for r in dv.filter(F.col("lang") == lang).collect()
        )
        for lang in ("en", "fr", "de")
    }
    for a in ("en", "fr", "de"):
        for b in ("en", "fr", "de"):
            if a >= b:
                continue
            from_sketches = sorted(set(per_lang[a]) | set(per_lang[b]))[:k]
            from_data = sorted(set(full[a]) | set(full[b]))[:k]
            assert from_sketches == from_data, (a, b)
