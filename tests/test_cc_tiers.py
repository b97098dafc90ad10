"""connected_components has two tiers after one shared materialize-and-
count step: graphs whose edge list fits the session's broadcast
threshold are labelled on the driver (Arrow collect + numpy), larger
ones run the BSP loop. These tests pin that both tiers return identical
rows and schema, and that a small graph takes the driver tier.

``bsp_tier`` disables broadcasts for its duration, which routes every
graph through the BSP loop; the tests that pin BSP behaviour on toy
graphs (pointer doubling, ``max_iter``, job counts) use it.
"""

from __future__ import annotations

import contextlib
import random

import pytest
from pyspark.sql import types as T

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextlib.contextmanager
def bsp_tier(spark):
    """Route ``connected_components`` through its BSP tier: with the
    broadcast threshold disabled no graph qualifies for the driver."""
    old = spark.conf.get(_THRESHOLD)
    spark.conf.set(_THRESHOLD, "-1")
    try:
        yield
    finally:
        spark.conf.set(_THRESHOLD, old)


def _union_find(pairs):
    """Python replay: min-id label per non-null endpoint; a null
    endpoint connects nothing."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        for v in (a, b):
            if v is not None:
                find(v)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _relabel(pairs, rng, lo=0, hi=10**6):
    """Scatter node ids so that id order is unrelated to graph shape."""
    nodes = sorted({v for p in pairs for v in p if v is not None})
    ids = rng.sample(range(lo, hi), len(nodes))
    m = dict(zip(nodes, ids))
    return [tuple(None if v is None else m[v] for v in p) for p in pairs]


def _graphs():
    rng = random.Random(20261017)
    chain = [(i, i + 1) for i in range(63)]  # 64 nodes, diameter 63
    stars = [(c, c * 100 + k) for c in (1, 2, 3) for k in range(1, 9)]
    stars += [(101, 2)]  # link two of the stars
    dup_rev = [(1, 2), (2, 1), (1, 2), (3, 4), (4, 3), (2, 3), (9, 8), (8, 9)]
    loops = [(5, 5), (6, 6), (6, 7), (7, 7), (10, 11), (11, 10)]
    rand = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    return {
        "chain64": chain,
        "chain64_scattered": _relabel(chain, rng),
        "stars": stars,
        "dup_reversed": dup_rev,
        "self_loops": loops,
        "random": rand,
        "random_scattered": _relabel(rand, rng, -(2**40), 2**40),
        "null_endpoint": [(1, 2), (2, None), (3, 4), (4, 5)],
        "empty": [],
    }


#: (id_a, id_b) column types: int, bigint, and int⋈bigint (the tiers
#: must agree on the widened common type)
_TYPES = {"int": ("int", "int"), "bigint": ("bigint", "bigint"),
          "mixed": ("int", "bigint")}


def _cases():
    for name, pairs in sorted(_graphs().items()):
        fits_int = all(v is None or abs(v) < 2**31 for p in pairs for v in p)
        for id_type in _TYPES if fits_int else ("bigint",):
            yield name, id_type


@pytest.mark.parametrize("name,id_type", list(_cases()))
def test_driver_tier_matches_bsp_tier(spark, name, id_type):
    from knime_core_columnar_spark.operators.dedup import connected_components

    pairs = _graphs()[name]
    a, b = _TYPES[id_type]
    edges = spark.createDataFrame(pairs, f"id_a {a}, id_b {b}")

    driver = connected_components(edges)
    driver_rows = sorted(map(tuple, driver.collect()))
    with bsp_tier(spark):
        bsp = connected_components(edges)
        bsp_rows = sorted(map(tuple, bsp.collect()))

    assert driver.schema == bsp.schema
    assert driver_rows == bsp_rows
    assert dict(driver_rows) == _union_find(pairs)


def test_tiers_agree_on_non_nullable_string_ids(spark):
    """Strings rank by Spark's binary order on both tiers; a
    non-nullable input keeps non-nullable output columns."""
    from knime_core_columnar_spark.operators.dedup import connected_components

    schema = T.StructType([
        T.StructField("id_a", T.StringType(), False),
        T.StructField("id_b", T.StringType(), False),
    ])
    pairs = [("b", "a"), ("c", "b"), ("é", "z"), ("Z", "é"), ("q", "q")]
    edges = spark.createDataFrame(pairs, schema)
    driver = connected_components(edges)
    with bsp_tier(spark):
        bsp = connected_components(edges)
        bsp_rows = sorted(map(tuple, bsp.collect()))
    assert driver.schema == bsp.schema
    assert sorted(map(tuple, driver.collect())) == bsp_rows
    assert dict(bsp_rows) == {"a": "a", "b": "a", "c": "a", "Z": "Z",
                              "z": "Z", "é": "Z", "q": "q"}


def test_small_graph_takes_driver_tier(spark):
    """A 16-edge chain is labelled on the driver: the count plus the
    Arrow collect, against ~30 jobs for the BSP loop's supersteps."""
    from knime_core_columnar_spark.operators.dedup import connected_components
    from tests.test_r12_opt import _run_in_group

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long"
    )
    rows, jobs = _run_in_group(
        spark, lambda: connected_components(edges).collect()
    )
    assert {r["node"]: r["label"] for r in rows} == {i: 0 for i in range(17)}
    assert jobs <= 4, f"small graph scheduled {jobs} jobs (BSP loop?)"


def test_edge_derivation_runs_once(spark):
    """The edge derivation feeds the count and the selected tier from
    one materialization: a Python UDF in it sees each input row once
    per tier, however many rounds the BSP loop runs."""
    from pyspark.sql import functions as F

    from knime_core_columnar_spark.operators.dedup import connected_components

    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def shift(v):
        calls.add(1)
        return v + 1

    base = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long"
    ).repartition(1)
    edges = base.select("id_a", shift("id_b").alias("id_b"))
    for ctx in (contextlib.nullcontext(), bsp_tier(spark)):
        calls.value = 0
        with ctx:
            connected_components(edges).collect()
        assert calls.value == 16, calls.value
