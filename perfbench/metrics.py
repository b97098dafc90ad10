"""Metric definitions and their computation from one run's passes.

End-to-end metrics come from untraced passes; per-layer metrics from
traced passes, summed per pass and reported as the median over passes.
Each per-layer metric names the end-to-end metric and workload it should
move (see README.md).
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
}

_SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
          "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb")
_STORE_SPANS = ("sources.write_knime_arrow", "sources.read_knime_arrow",
                "table.materialize", "sources.read_parquet",
                "sources.write_arrow_ipc", "sources.read_arrow_ipc")
_PYTHON = ("python_total_s", "python_boot_s", "python_init_s", "python_sent_mb",
           "python_received_mb", "python_rows")


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.startswith("sources.stored_mb."):
        return "MB"
    if name == "stored_bytes_per_user_byte":
        return "fraction"
    return "count"


PER_LAYER_NAMES = (
    ["session.start_s", "catalog.first_call_s", "catalog.construct_s",
     "catalog.construct_jobs", "catalog.construct_tasks",
     "catalog.construct_executor_run_s", "spark.action_s"]
    + [f"spark.{k}" for k in _SPARK]
    + [f"operators.{k}" for k in _PYTHON]
    + [f"{s}_s" for s in _STORE_SPANS]
    + [f"sources.stored_mb.{fmt}" for fmt in ("knime_arrow", "parquet", "arrow_ipc")]
    + ["write_s", "read_s", "stored_bytes_per_user_byte", "rss_peak_mb",
       "trace.overhead_s"]
)
PER_LAYER = {name: _unit(name) for name in PER_LAYER_NAMES}
UNITS = {**END_TO_END, **PER_LAYER}


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile (q in 1..99) by statistics.quantiles' default
    (exclusive) method; a single value is its own percentile."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]


def _latencies(passes: list[dict]) -> list[float]:
    return [t for p in passes for _op, t in p["latencies"] if t is not None]


def end_to_end(setup_s: float, passes: list[dict]) -> dict[str, float]:
    lat = _latencies(passes)
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": _quantile(lat, 90),
    }


@dataclass
class StoreRun:
    """What a run with the store round trip adds to its per-layer metrics."""

    stored_bytes: dict[str, int]  # bytes on disk per store format
    user_bytes: int  # in-memory Arrow bytes of the source tables
    write_ops: set[str]
    read_ops: set[str]


def _pass_sum(passes: list[dict], ops: set[str]) -> float:
    """Median over passes of the summed latency of ``ops``."""
    return statistics.median(
        sum(t for op, t in p["latencies"] if t is not None and op in ops)
        for p in passes)


def per_layer(spans, passes, groups, counters, python,
              store: StoreRun | None, rss_mb: float) -> dict[str, float]:
    """Per-layer metrics of a traced run.

    ``spans``: the tracer's spans; ``passes``: pass records (traced and
    untraced); ``groups``: (layer, op, pass, job group) per step;
    ``counters``: status-store counters per job group; ``python``:
    Python-node metrics per (op, pass); ``store``: the store round
    trip's sizes and op names, None on a workload without it;
    ``rss_mb``: peak RSS of this Python process plus its JVM.
    """
    traced = [p["pass"] for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    per_pass = {n: {k: 0.0 for k in PER_LAYER_NAMES} for n in traced}
    for s in spans:
        if s.pass_no in per_pass and f"{s.name}_s" in PER_LAYER:
            per_pass[s.pass_no][f"{s.name}_s"] += s.duration
    for layer, _op, pass_no, group in groups:
        if pass_no not in per_pass:
            continue
        c = counters[group]
        row = per_pass[pass_no]
        if layer == "catalog.construct":
            row["catalog.construct_jobs"] += c["jobs"]
            row["catalog.construct_tasks"] += c["tasks"]
            row["catalog.construct_executor_run_s"] += c["executor_run_s"]
        elif layer == "spark.action":
            for k in _SPARK:
                row[f"spark.{k}"] += c[k]
    for (_op, pass_no), values in python.items():
        if pass_no in per_pass:
            for name, v in values.items():
                per_pass[pass_no][name] += v
    out = {k: statistics.median(row[k] for row in per_pass.values())
           for k in PER_LAYER_NAMES}
    by_name = {s.name: s.duration for s in spans if s.pass_no is None}
    out["session.start_s"] = by_name.get("session.get_spark", 0.0)
    out["catalog.first_call_s"] = by_name.get("catalog.first_call", 0.0)
    if store is not None:
        for fmt, b in store.stored_bytes.items():
            out[f"sources.stored_mb.{fmt}"] = b / 1e6
        out["stored_bytes_per_user_byte"] = (
            sum(store.stored_bytes.values()) / (len(store.stored_bytes) * store.user_bytes))
        out["write_s"] = _pass_sum(untraced, store.write_ops)
        out["read_s"] = _pass_sum(untraced, store.read_ops)
    out["rss_peak_mb"] = rss_mb
    out["trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in passes if p["traced"])
        - statistics.median(p["wall_s"] for p in untraced))
    return out


def report(values: dict[str, float], workload: str, passes: list[dict]) -> list[str]:
    """Human-readable lines: every metric with its unit and sample count."""
    n_pass = len([p for p in passes if not p["traced"]])
    n_ops = len(_latencies([p for p in passes if not p["traced"]]))
    samples = {"wall_s": n_pass, "op_p50_s": n_ops, "op_p90_s": n_ops,
               "setup_s": 1, "rss_peak_mb": 1, "session.start_s": 1,
               "catalog.first_call_s": 1}
    lines = [f"# workload {workload}: {n_pass} untraced passes, {n_ops} op samples"]
    for name, v in values.items():
        n = samples.get(name, len([p for p in passes if p["traced"]]))
        lines.append(f"# {name:36s} {v:14.6f} {UNITS[name]:8s} n={n}")
    return lines
