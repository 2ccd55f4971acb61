"""Property-based checks for the round-2 operators.

* connected_components must equal a reference union-find on ANY random
  edge set (not just the planted shapes in test_graph.py);
* salted_join must be row-identical to the plain inner join for ANY data
  and any salt width (salting may only change the physical shuffle, never
  the result).

One Hypothesis example = one Spark job; max_examples stays small.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical: min node id of each component
    return {n: find(n) for n in parent}


EDGES = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=EDGES)
def test_components_match_union_find(spark, edges):
    from newyork_taxi_etl_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, max_iter=30).collect()
    }
    assert got == _union_find(edges)


ROWS = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=20
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=ROWS, right=st.lists(st.integers(0, 5), min_size=1, max_size=6))
def test_salted_join_equals_plain_join(spark, left, right):
    from newyork_taxi_etl_spark.operators.joins import salted_join

    l = spark.createDataFrame(
        [(k, v) for k, v in left], "k long, payload long"
    )
    r = spark.createDataFrame([(k,) for k in set(right)], "rk long")
    plain = sorted(
        (row["k"], row["payload"])
        for row in l.join(r, l["k"] == r["rk"]).select("k", "payload").collect()
    )
    salted = sorted(
        (row["k"], row["payload"])
        for row in salted_join(l, r, "k", "rk", n_salt=3, salt_on="payload")
        .select("k", "payload")
        .collect()
    )
    assert salted == plain


def test_triangle_count_matches_bruteforce(spark):
    """triangle_count vs an itertools reference on a seeded random graph
    (24 nodes, p=0.25) plus known fixtures (triangle, square, K4)."""
    import itertools
    import random

    from newyork_taxi_etl_spark.operators.graph import triangle_count

    def ref(edges):
        es = {tuple(sorted(e)) for e in edges}
        nodes = sorted({v for e in es for v in e})
        tri = sum(
            1
            for a, b, c in itertools.combinations(nodes, 3)
            if (a, b) in es and (b, c) in es and (a, c) in es
        )
        return len(nodes), len(es), tri

    rng = random.Random(42)
    rand_edges = [
        (a, b)
        for a, b in itertools.combinations(range(24), 2)
        if rng.random() < 0.25
    ]
    cases = [
        [(1, 2), (2, 3), (1, 3)],                      # one triangle
        [(1, 2), (2, 3), (3, 4), (1, 4)],              # square: none
        list(itertools.combinations(range(4), 2)),     # K4: four
        rand_edges,
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        row = triangle_count(df).collect()[0]
        n, e, t = ref(edges)
        assert (row.n_nodes, row.n_edges, row.n_triangles) == (n, e, t)
