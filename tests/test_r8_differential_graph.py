"""Differential fuzz for the graph operators: connected components on
random edge sets vs a python union-find computing the same
min-reachable-id labeling (the BSP loop gained pointer doubling this
round — random graphs with cycles, self-loops, duplicate and reversed
edges exercise convergence shapes the chain/triangle hand cases
don't), and per-node triangle counts vs a brute-force triple scan."""

from __future__ import annotations

from itertools import combinations

from hypothesis import given
from hypothesis import strategies as st

from tests.test_cc_tiers import bsp_tier
from tests.test_r8_differential import _SETTINGS

_NODE = st.integers(0, 14)
_EDGES = st.lists(st.tuples(_NODE, _NODE), min_size=1, max_size=24)


def _uf_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@_SETTINGS
@given(edges=_EDGES)
def test_connected_components_match_union_find(spark_session, edges):
    from knime_core_columnar_spark.operators.dedup import (
        connected_components,
    )

    df = spark_session.createDataFrame(edges, "id_a long, id_b long")
    with bsp_tier(spark_session):
        got = {r["node"]: r["label"]
               for r in connected_components(df).collect()}
    assert got == _uf_labels(edges), edges


@_SETTINGS
@given(edges=_EDGES)
def test_triangle_counts_match_brute_force(spark_session, edges):
    from knime_core_columnar_spark.operators.graph import triangle_counts

    df = spark_session.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"]
           for r in triangle_counts(df).collect()}

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    want = {n: 0 for n in nodes}
    for a, b, c in combinations(sorted(nodes), 3):
        if ({(a, b), (a, c), (b, c)} <= und):
            want[a] += 1
            want[b] += 1
            want[c] += 1
    assert got == want, sorted(und)