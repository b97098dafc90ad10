"""Round-11 optimization tests: internals changed for performance must
keep operator semantics bit-identical. Each test pins an equivalence the
optimization relies on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

DOCS = [
    # clean English, multi-paragraph
    (1, "the cat and the dog\nof the house is to the left"),
    # code-switching: English + German paragraphs
    (2, "the cat and the dog\nder hund und die katze ist nicht da"),
    # all unidentified
    (3, "zzz qqq\nxxx yyy"),
    # German majority
    (4, "der und die nicht ist\nder hund und\nthe cat of to is and the"),
    # empty-ish and NULL
    (5, ""),
    (6, None),
    # tie between en and de (one para each) — en wins the tie order
    (7, "the cat and of is\nder die und nicht ist"),
    # single paragraph French
    (8, "le chat et la maison est les"),
    # whitespace-only paragraphs between real ones
    (9, "   \nthe cat and of is\n   \nel que los y es"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_language_mix_gate_equals_audit_filter(spark, docs_df):
    """language_mix_gate(text) must admit EXACTLY the rows that
    filtering language_mix_audit's output columns admits, for every
    (majority, num/den) combination — the gate is a pushdown-safe
    rewrite of the audit filter, not a new semantic."""
    from knime_core_columnar_spark.operators.text import (
        language_mix_audit,
        language_mix_gate,
    )

    audit = language_mix_audit(docs_df).collect()
    for majority in ("en", "de", "fr", "es"):
        for num, den in ((1, 4), (0, 1), (1, 1), (1, 2)):
            expect = sorted(
                r["doc_id"]
                for r in audit
                if r["majority_lang"] == majority
                and den * r["n_switch"] <= num * r["n_lang_paras"]
            )
            got = sorted(
                r["doc_id"]
                for r in docs_df.filter(
                    language_mix_gate(
                        "text", majority=majority,
                        max_switch_num=num, max_switch_den=den,
                    )
                ).collect()
            )
            assert got == expect, (majority, num, den)


def test_language_mix_audit_passthrough(spark, docs_df):
    """passthrough columns ride along unchanged and do not perturb the
    audit columns."""
    from knime_core_columnar_spark.operators.text import language_mix_audit

    base = {r["doc_id"]: r for r in language_mix_audit(docs_df).collect()}
    out = language_mix_audit(docs_df, passthrough=("text",)).collect()
    assert {r["doc_id"] for r in out} == set(base)
    texts = dict(DOCS)
    for r in out:
        assert r["text"] == texts[r["doc_id"]]
        for c in ("n_paras", "n_lang_paras", "majority_lang",
                  "n_switch", "switch_frac"):
            assert r[c] == base[r["doc_id"]][c], (r["doc_id"], c)


def test_fim_recount_arithmetic(spark, docs_df):
    """The training-pipeline recount rewrite: token_count(output) ==
    n_tokens + 3·fim_applied for every row (PSM inserts exactly the
    three sentinel tokens; empty segments are filtered; untransformed
    docs re-join their tokens single-spaced)."""
    from knime_core_columnar_spark.operators.text import (
        fim_transform,
        token_count,
    )

    rows = (
        fim_transform(docs_df)
        .select(
            "doc_id", "n_tokens", "fim_applied",
            token_count(F.col("output")).alias("recount"),
        )
        .collect()
    )
    assert len(rows) == len(DOCS)
    for r in rows:
        expect = r["n_tokens"] + (3 if r["fim_applied"] else 0)
        assert r["recount"] == expect, r


def test_pagerank_symmetric_flag_identical(spark):
    """pagerank_scaled(symmetric=True) must be rank-for-rank identical
    to the general path on a symmetric edge list (the flag only skips
    the redundant union+distinct node derivation)."""
    from knime_core_columnar_spark.operators.graph import pagerank_scaled

    pairs = [(1, 2), (2, 3), (3, 4), (5, 6), (7, 7)]
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long")
    a = {r["node"]: r["rank"]
         for r in pagerank_scaled(edges, iterations=3).collect()}
    b = {r["node"]: r["rank"]
         for r in pagerank_scaled(edges, iterations=3,
                                  symmetric=True).collect()}
    assert a == b and len(a) == 7


def test_connected_components_seeded_init_fixpoint(spark):
    """The min-neighbor label seeding must not change the fixpoint:
    labels equal the component minimum, including chain graphs that
    exercise pointer doubling and singleton self-loops."""
    from knime_core_columnar_spark.operators.dedup import (
        connected_components,
    )
    from tests.test_cc_tiers import bsp_tier

    chain = [(i, i + 1) for i in range(10, 30)]          # diameter 20
    extra = [(3, 1), (1, 2), (50, 50), (40, 41), (41, 42)]
    edges = spark.createDataFrame(chain + extra, "id_a long, id_b long")
    with bsp_tier(spark):
        got = {r["node"]: r["label"]
               for r in connected_components(edges, "id_a", "id_b").collect()}
    for n in range(10, 31):
        assert got[n] == 10
    assert got[1] == got[2] == got[3] == 1
    assert got[50] == 50
    assert got[40] == got[41] == got[42] == 40


def test_gate_filter_plan_single_audit_copy(spark, docs_df):
    """The pushed-down gate predicate must contain exactly ONE copy of
    the tokenize+vote pipeline: one `split` on the paragraph separator
    within the whole physical plan (a filter on the audit's derived
    columns inlined it 13×)."""
    from knime_core_columnar_spark.operators.text import language_mix_gate

    plan = (
        docs_df.filter(language_mix_gate("text"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the paragraph split is the root of the audit pipeline; each
    # inlined copy contributes one occurrence
    assert plan.count("split(coalesce(text") == 1, plan
