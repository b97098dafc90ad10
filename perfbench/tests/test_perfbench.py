"""Tests of the benchmark itself (not of the engine).

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The toy runs start one Spark session per workload (about a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import workloads as W  # noqa: E402
from spans import Span, Tracer, layer_table, self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digests(out: str) -> dict[str, str]:
    """sha256 of every generated file, by path relative to ``out``."""
    res = {}
    for root, _dirs, files in os.walk(out, followlinks=False):
        for f in files:
            path = os.path.join(root, f)
            if f == "manifest.json" or os.path.islink(path):
                continue
            with open(path, "rb") as fh:
                res[os.path.relpath(path, out)] = hashlib.sha256(fh.read()).hexdigest()
    return res


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    base = tmp_path_factory.mktemp("gen")
    outs = {}
    for label, seed in (("a", 7), ("b", 7), ("c", 8)):
        out = str(base / label)
        gen.generate(seed, out)
        outs[label] = out
    return outs


def test_generator_is_deterministic_per_seed(generated):
    a, b = _digests(generated["a"]), _digests(generated["b"])
    assert a and a == b


def test_generator_changes_every_generated_table_across_seeds(generated):
    a, c = _digests(generated["a"]), _digests(generated["c"])
    assert a.keys() == c.keys()
    changed = {os.path.dirname(p) for p in a if a[p] != c[p]}
    tables = {os.path.dirname(p) for p in a}
    assert changed == tables, sorted(tables - changed)
    # every table the generator writes itself is covered, at both scales
    for table in gen.VERBATIM + ("part", "documents", "embeddings"):
        assert f"x1/{table}.parquet" in tables
    for table in gen.REPLICATED:
        assert f"x4/{table}.parquet" in tables


def test_generator_manifest_counts_rows_and_bytes(generated):
    with open(os.path.join(generated["a"], "manifest.json")) as f:
        manifest = json.load(f)
    x1, x4 = manifest["tables"]["x1"], manifest["tables"]["x4"]
    assert set(x1) == set(gen.TABLES) == set(x4)
    assert all(t["rows"] > 0 and t["bytes"] > 0 for t in x1.values())
    for table in gen.REPLICATED:
        assert x4[table]["rows"] == 4 * x1[table]["rows"]
    assert x4["lineitem"] == x1["lineitem"]


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == M.END_TO_END
    assert layer == M.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    for name in list(e2e) + list(layer) + list(W.WORKLOADS):
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert not set(e2e) & set(layer)


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, None, 0)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "catalog.construct", 1.0, 4.0, 0),
        _span(2, "spark.action", 3.0, 6.0, 0),  # overlaps its sibling
        _span(3, "spark.action", 9.0, 12.0, 0),  # runs past its parent
        _span(4, "nested", 1.5, 2.0, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 1.0))
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    table = layer_table(spans)
    assert table["spark.action"]["total_s"] == pytest.approx(6.0)
    assert table["spark.action"]["count"] == 2


def test_tracer_nests_spans_and_is_silent_when_off():
    t = Tracer(True)
    with t.span("pass", pass_no=3):
        with t.span("op", op="q"):
            with t.span("spark.action"):
                pass
        with t.span("op", op="skipped", on=False):
            pass
    assert [s.name for s in t.spans] == ["pass", "op", "spark.action"]
    assert t.spans[2].parent == 1 and t.spans[2].op == "q" and t.spans[2].pass_no == 3
    off = Tracer(False)
    with off.span("pass"):
        pass
    assert off.spans == []


def test_end_to_end_metrics_from_passes():
    passes = [{"pass": i, "traced": False, "wall_s": w, "failed": 0,
               "latencies": [("a", w / 2), ("b", w / 2)]} for i, w in enumerate((2.0, 4.0, 3.0))]
    v = M.end_to_end(10.0, passes)
    assert v == {"setup_s": 10.0, "wall_s": 3.0, "op_p50_s": 1.5,
                 "op_p90_s": pytest.approx(2.0)}


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_toy_run_of_each_workload_is_correct(workload):
    """One traced run per workload (three untraced and three traced passes):
    every op matches its oracle and no timed op fails."""
    res = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 2
    assert set(out["metrics"]) == set(M.PER_LAYER)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if workload == "knime_workflow":
        assert m["operators.python_total_s"] == 0
        assert m["catalog.construct_jobs"] > 0 and m["spark.jobs"] > 0
        assert m["write_s"] == 0
    if workload == "curation_and_store":
        assert m["operators.python_total_s"] > 0
        assert m["write_s"] > 0 and m["read_s"] > 0
        assert 0 < m["stored_bytes_per_user_byte"] < 2
