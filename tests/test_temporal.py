"""Unit tests for operators.temporal (as-of join, banded range join).

Small hand-built frames with known answers, plus edge cases the catalog
queries can't hit deterministically: exact-timestamp ties, strict mode,
keys with no right rows, and band-boundary inclusion/exclusion.
"""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from knime_core_columnar_spark.operators.temporal import asof_join, range_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:00"), 100.0),
            ("A", _ts("2024-01-01 10:00:05"), 101.0),
            ("A", _ts("2024-01-01 10:00:10"), 102.0),
            ("B", _ts("2024-01-01 10:00:03"), 50.0),
        ],
        "sym string, ts timestamp, px double",
    )


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:04"), 10),   # latest quote: 10:00:00
            ("A", _ts("2024-01-01 10:00:05"), 20),   # tie -> inclusive match 101.0
            ("A", _ts("2024-01-01 09:59:59"), 30),   # before any quote -> NULL
            ("B", _ts("2024-01-01 10:00:03"), 40),   # tie on B
            ("C", _ts("2024-01-01 10:00:00"), 50),   # key with no quotes -> NULL
        ],
        "sym string, ts timestamp, qty int",
    )


def test_asof_inclusive(quotes, trades):
    out = asof_join(trades, quotes, on="ts", by="sym")
    got = {(r["sym"], r["qty"]): r["px"] for r in out.collect()}
    assert got == {
        ("A", 10): 100.0,
        ("A", 20): 101.0,  # equal timestamps match when not strict
        ("A", 30): None,
        ("B", 40): 50.0,
        ("C", 50): None,
    }
    assert out.count() == trades.count()  # left-outer: every trade kept


def test_asof_strict(quotes, trades):
    out = asof_join(trades, quotes, on="ts", by="sym", strict=True)
    got = {(r["sym"], r["qty"]): r["px"] for r in out.collect()}
    assert got[("A", 20)] == 100.0  # equal ts excluded under strict <
    assert got[("B", 40)] is None


def test_asof_forward(quotes, trades):
    out = asof_join(trades, quotes, on="ts", by="sym", direction="forward")
    got = {(r["sym"], r["qty"]): r["px"] for r in out.collect()}
    assert got == {
        ("A", 10): 101.0,  # next quote at-or-after 10:00:04
        ("A", 20): 101.0,  # equal ts included
        ("A", 30): 100.0,
        ("B", 40): 50.0,
        ("C", 50): None,
    }
    strict = asof_join(trades, quotes, on="ts", by="sym", direction="forward",
                       strict=True)
    sgot = {(r["sym"], r["qty"]): r["px"] for r in strict.collect()}
    assert sgot[("A", 20)] == 102.0  # equal ts excluded -> 10:00:10 quote
    assert sgot[("B", 40)] is None


def test_asof_tie_on_right_is_deterministic(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:10"))], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:05"), "x"), (1, _ts("2024-01-01 00:00:05"), "y")],
        "k int, ts timestamp, tag string",
    )
    out = asof_join(left, right, on="ts", by="k").collect()
    assert len(out) == 1 and out[0]["tag"] == "y"  # max struct wins the tie


def test_range_join_bounds(spark):
    left = spark.createDataFrame(
        [("g", _ts("2024-01-01 00:00:00"), 1)], "k string, ts_l timestamp, lid int"
    )
    right = spark.createDataFrame(
        [
            ("g", _ts("2024-01-01 00:00:00")),  # == lower bound
            ("g", _ts("2024-01-01 00:04:59")),  # inside
            ("g", _ts("2024-01-01 00:05:00")),  # == upper bound
            ("g", _ts("2024-01-01 00:05:01")),  # outside
            ("h", _ts("2024-01-01 00:00:01")),  # other key
        ],
        "k string, ts_r timestamp",
    )
    half_open = range_join(left, right, key="k", left_ts="ts_l", right_ts="ts_r",
                           band_seconds=300, bounds="(]")
    assert half_open.count() == 2  # 00:04:59 and 00:05:00
    closed = range_join(left, right, key="k", left_ts="ts_l", right_ts="ts_r",
                        band_seconds=300, bounds="[]")
    assert closed.count() == 3  # + the equal-lower-bound row
    open_open = range_join(left, right, key="k", left_ts="ts_l", right_ts="ts_r",
                           band_seconds=300, bounds="()")
    assert open_open.count() == 1


def test_connected_components_chain_and_triangle(spark):
    from knime_core_columnar_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3, needs >1 propagation round), triangle
    # 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["label"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_pointer_doubling(spark):
    """A 64-node chain has diameter 63: plain min-label propagation needs
    63 rounds and the default max_iter=20 would stop with WRONG labels.
    Pointer doubling (compress_from=3) must converge it well inside the
    default budget — this pins the silent-partial-labels hazard closed."""
    from knime_core_columnar_spark.operators.dedup import connected_components
    from tests.test_cc_tiers import bsp_tier

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with bsp_tier(spark):
        got = {r["node"]: r["label"] for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_raises_on_non_convergence(spark):
    """max_iter exhaustion raises instead of returning partial labels."""
    import pytest

    from knime_core_columnar_spark.operators.dedup import connected_components
    from tests.test_cc_tiers import bsp_tier

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "id_a long, id_b long"
    )
    # compression disabled (compress_from past max_iter): 5 rounds
    # cannot close a 31-diameter chain, and that must be an ERROR
    with bsp_tier(spark), pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=5, compress_from=99)


def test_salted_join_matches_plain_join(spark):
    from knime_core_columnar_spark.operators.relational import salted_join

    big = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ("hot", "hot", "cold")] + [("orphan", -1)],
        "k string, v int",
    )
    small = spark.createDataFrame(
        [("hot", 1.5), ("cold", 2.5), ("unmatched", 9.9)], "k string, w double"
    )
    for how in ("inner", "left"):
        salted = salted_join(big, small, on="k", how=how, salts=4)
        plain = big.join(small, "k", how)
        assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_range_join_matches_inequality_join(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    a = ev.select("event_type", F.col("ts").alias("ts_a"), F.col("event_id").alias("id_a"))
    b = ev.select("event_type", F.col("ts").alias("ts_b"))
    banded = range_join(a, b, key="event_type", left_ts="ts_a", right_ts="ts_b",
                        band_seconds=300, bounds="(]").count()
    naive = (
        a.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.event_type") == F.col("y.event_type"))
            & (F.col("y.ts_b") > F.col("x.ts_a"))
            & (F.col("y.ts_b") <= F.col("x.ts_a") + F.expr("INTERVAL 5 MINUTES")),
        )
        .count()
    )
    assert banded == naive


def test_impute_strategies(spark):
    from knime_core_columnar_spark.operators.impute import impute

    rows = [
        ("a", 1, 10.0), ("a", 2, None), ("a", 3, None), ("a", 4, 40.0),
        ("a", 5, None),          # trailing gap
        ("b", 1, None), ("b", 2, 8.0),  # leading gap
    ]
    df = spark.createDataFrame(rows, "k string, i long, v double")

    def got(strategy):
        out = impute(df, "v", "i", ["k"], strategy, "f",
                     fill_value=0.0 if strategy == "fixed" else None)
        return {(r["k"], r["i"]): r["f"] for r in out.collect()}

    ff = got("previous")
    assert ff[("a", 2)] == 10.0 and ff[("a", 5)] == 40.0
    assert ff[("b", 1)] is None  # leading NULL stays
    bf = got("next")
    assert bf[("a", 3)] == 40.0 and bf[("b", 1)] == 8.0
    assert bf[("a", 5)] is None  # trailing NULL stays
    li = got("linear")
    assert li[("a", 2)] == 20.0 and li[("a", 3)] == 30.0  # true interpolation
    assert li[("a", 5)] == 40.0 and li[("b", 1)] == 8.0  # nearest-anchor ends
    mn = got("mean")
    assert mn[("a", 2)] == 25.0 and mn[("b", 1)] == 8.0
    fx = got("fixed")
    assert fx[("a", 2)] == 0.0

    import pytest as _pt
    with _pt.raises(ValueError):
        impute(df, "v", "i", ["k"], "bogus")
    with _pt.raises(ValueError):
        impute(df, "v", "i", ["k"], "fixed")


def test_resample_ffill_hand_case(spark):
    from knime_core_columnar_spark.operators.temporal import resample_timeseries

    rows = [
        (1, "2024-01-01 00:10:00", 10.0),
        (1, "2024-01-01 02:30:00", 30.0),
        (2, "2024-01-01 05:00:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "k int, ts string, v double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    out = {
        (r["k"], str(r["grid_ts"])): r["v"]
        for r in resample_timeseries(df, "k", "ts", "v", step="1 hour").collect()
    }
    # key 1 grid: 00:00..02:00 hourly; 00:00 precedes first obs -> NULL
    assert out[(1, "2024-01-01 00:00:00")] is None
    assert out[(1, "2024-01-01 01:00:00")] == 10.0
    assert out[(1, "2024-01-01 02:00:00")] == 10.0
    # key 2: single point -> single grid row carrying nothing-before
    assert out[(2, "2024-01-01 05:00:00")] == 7.0
    assert len(out) == 4


def test_resample_interp_and_invariance(spark):
    from knime_core_columnar_spark.operators.temporal import resample_timeseries

    rows = [
        (1, "2024-01-01 00:00:00", 0.0),
        (1, "2024-01-01 04:00:00", 40.0),
    ]
    df = spark.createDataFrame(rows, "k int, ts string, v double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    out = {
        str(r["grid_ts"]): r["v"]
        for r in resample_timeseries(df, "k", "ts", "v", step="1 hour",
                                     strategy="interp").collect()
    }
    assert out["2024-01-01 00:00:00"] == 0.0
    assert out["2024-01-01 01:00:00"] == 10.0
    assert out["2024-01-01 02:00:00"] == 20.0
    assert out["2024-01-01 03:00:00"] == 30.0
    assert out["2024-01-01 04:00:00"] == 40.0
    a = sorted(map(tuple, resample_timeseries(df, "k", "ts", "v",
                                              strategy="interp").collect()))
    b = sorted(map(tuple, resample_timeseries(df.repartition(7), "k", "ts", "v",
                                              strategy="interp").collect()))
    assert a == b


def test_resample_on_events_volume(spark, sf_dir):
    from knime_core_columnar_spark.operators.temporal import resample_timeseries

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("user_id") < 50)
        .select("user_id", "ts", "value")
    )
    out = resample_timeseries(ev, "user_id", "ts", "value", step="6 hours")
    rows = out.collect()
    assert len(rows) > 0
    # grid covers each user's span: count >= distinct users
    users = {r["user_id"] for r in rows}
    assert users == {r["user_id"] for r in ev.select("user_id").distinct().collect()}
    # ffill never invents values: every non-null value appears in source
    src_vals = {r["value"] for r in ev.collect()}
    assert {r["value"] for r in rows if r["value"] is not None} <= src_vals
