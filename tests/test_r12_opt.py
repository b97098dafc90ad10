"""Round-12 optimization pins: the BSP loops issue ONE driver action
per superstep (the convergence count, which persists the round's lazy
localCheckpoint; the consumer's action persists the last one) instead
of a dedicated eager-checkpoint job plus a probe.

A lazy checkpoint is not free to build: with AQE on, building a
``localCheckpoint(eager=False)`` executes its plan's shuffle stages to
produce the checkpoint RDD, so every superstep still runs several jobs
(a 16-edge chain schedules 33-48 jobs in all, fewer once warm). The job-count bounds below
sit between the measured totals of the old (eager) and new (lazy)
implementations on fixed toy graphs with this repo's pinned Spark
version and session config, so a regression back to eager
checkpointing — or any new per-round driver action — trips them while
AQE's normal stage-job accounting does not. connected_components is
pinned on its BSP tier (broadcasts disabled): a graph this small is
otherwise labelled on the driver.
"""

from __future__ import annotations

import uuid

import pytest


def _run_in_group(spark, build_and_collect):
    sc = spark.sparkContext
    group = f"r12-jobcount-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "r12 job-count pin")
    try:
        result = build_and_collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return result, jobs


def test_connected_components_one_action_per_superstep(spark):
    """A 16-node chain (diameter forces pointer doubling) must converge
    correctly AND schedule at most 52 jobs end to end: the eager
    implementation measured 56 (ckpt job + probe count + eager hop per
    round), the lazy one 48 (the probe count is the only per-round
    action; the hop rides the next round's probe)."""
    from knime_core_columnar_spark.operators.dedup import (
        connected_components,
    )
    from tests.test_cc_tiers import bsp_tier

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long"
    )

    def go():
        out = connected_components(edges, "id_a", "id_b")
        return out.collect()

    with bsp_tier(spark):
        rows, jobs = _run_in_group(spark, go)
    assert {r["node"] for r in rows} == set(range(17))
    assert all(r["label"] == 0 for r in rows)
    assert jobs <= 52, f"CC scheduled {jobs} jobs (eager regression?)"


def test_pagerank_prologue_checkpoints_are_lazy(spark):
    """pagerank_scaled's sym/outdeg/nodes/adj checkpoints must not each
    schedule a dedicated materialization job: measured 26 total jobs
    eager, 23 lazy on this toy graph — pin strictly under the eager
    count. Ranks must stay bit-identical (int64 recurrence)."""
    from knime_core_columnar_spark.operators.graph import pagerank_scaled

    edges = spark.createDataFrame(
        [(i, (i * 7) % 101) for i in range(400)], "src long, dst long"
    )

    def go():
        return pagerank_scaled(edges, iterations=3).collect()

    rows, jobs = _run_in_group(spark, go)
    # node set = all endpoints: src 0..399 ∪ dst 0..100 = 400 nodes
    assert len(rows) == 400
    assert sum(r["rank"] for r in rows) > 0
    assert jobs <= 24, f"pagerank scheduled {jobs} jobs (eager regression?)"


def test_pagerank_symmetric_lazy_matches_eager_semantics(spark):
    """The lazy-checkpoint prologue must not change ranks: replay the
    r11 symmetric-flag identity on a graph with an isolated self-loop
    node (the edge case the flag's node derivation must keep)."""
    from knime_core_columnar_spark.operators.graph import pagerank_scaled

    pairs = [(1, 2), (2, 1), (2, 3), (3, 2), (7, 7)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    sym = {
        r["node"]: r["rank"]
        for r in pagerank_scaled(edges, iterations=3, symmetric=True).collect()
    }
    gen = {
        r["node"]: r["rank"]
        for r in pagerank_scaled(edges, iterations=3).collect()
    }
    assert sym == gen and 7 in sym


def test_curation_gate_keep_equals_flags_conjunction(spark):
    """The r12 single-expression gate (filtered mode) must admit
    EXACTLY the rows the flags mode marks __gk & __ck & __lk, for
    every tricky document shape and across parameter combos."""
    from knime_core_columnar_spark.operators.text import (
        curation_gate_fingerprints,
    )

    docs = [
        (1, None),
        (2, ""),
        (3, "   \t  "),
        (4, "the cat sat on the mat with a hat and that is all folks"),
        (5, ("the quick brown fox jumps over the lazy dog and that "
             "fox have been with many dogs of the north. "
             "every word here is plain english prose that should pass "
             "the gate table it keeps going with more of the same text "
             "and ends properly.")),
        (6, "word " * 300),
        (7, "### ... … # symbols every where # ... …"),
        (8, "der die und nicht ist der die und nicht ist der die und "
            "nicht ist der die und nicht ist der die und nicht ist."),
        (9, "lorem ipsum dolor sit amet " * 10),
        (10, "a b c d e f g h i j k l m n o p q r s t u v w x y z."),
        (11, ("the cat and the dog have that hat table with many fine "
              "words of prose that end well table the second line also "
              "carries enough words to be kept here table and a third "
              "line of the same friendly shape is present too.")),
        (12, "singleword"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    combos = [
        {},
        {"min_words": 5, "max_words": 400},
        {"c4_min_kept_lines": 1, "c4_min_words_per_line": 2},
        {"lang": "de"},
        {"newline_synthesis": None},
        {"min_mean_word_len": 1.0, "max_mean_word_len": 20.0,
         "min_stopwords": 0, "min_alpha_ratio": 0.0},
    ]
    for kw in combos:
        filtered = {
            r["doc_id"]
            for r in curation_gate_fingerprints(df, **kw).collect()
        }
        fl = curation_gate_fingerprints(df, flags=True, **kw)
        expected = {
            r["doc_id"]
            for r in fl.collect()
            if r["__gk"] and r["__ck"] and r["__lk"]
        }
        assert filtered == expected, (kw, filtered, expected)
