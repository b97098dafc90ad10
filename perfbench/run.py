"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. It generates the seed's inputs under
``.perfbench_data/`` (once per seed), starts the session through
``session.get_spark`` on ``local[nproc]`` with the session defaults, runs
one warm op, and checks every op of the workload once against its DuckDB
oracle (the gate). It then runs closed-loop passes over the ops for
``--seconds``: one client, ops one after another, each op its
construction followed by the checksum action, whose value must equal the
gate's.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, with the
traced-minus-untraced pass time as ``trace.overhead_s``; its spans go to
``.perfbench_data/seed-N/spans.<workload>.json``. Comment lines (``#``)
give every metric with its unit and sample count, the host-noise record,
the input sizes and the gate's result; the last stdout line is the JSON
object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import workloads as W  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from spans import Tracer, group_stage_counters, layer_table, python_node_metrics  # noqa: E402


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    """One process's benchmark: the session, the ops and the tracer."""

    def __init__(self, workload: str, seed_dir: str, traced: bool):
        self.workload = workload
        self.seed_dir = seed_dir
        self.store_dir = os.path.join(seed_dir, "store")
        self.tracer = Tracer(traced)
        self.groups: list[tuple[str, str, int, str]] = []  # (layer, op, pass, job group)
        self.python: dict[tuple[str, int], dict[str, float]] = {}
        self.spark = None
        self.ops = []

    def setup(self) -> None:
        """Import the package, start the session and run the warm op."""
        with self.tracer.span("setup"):
            from knime_core_columnar_spark.session import get_spark

            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(app_name="perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            warm = W.catalog_op(W.WARM_OP, os.path.join(self.seed_dir, "x1"))
            with self.tracer.span("catalog.first_call", op=warm.name):
                df = warm.build(self.spark)
            with self.tracer.span("spark.action", op=warm.name):
                W.checksum(df)
        self.ops = W.ops_for(self.workload, self.seed_dir)

    def run_op(self, op, pass_no: int, traced: bool) -> tuple[float, int | None]:
        """Run one op; returns its latency and its checksum (None when
        the op's step returns no DataFrame)."""
        sc = self.spark.sparkContext
        span = self.tracer.span
        if op.prepare is not None:
            op.prepare()
        t0 = time.perf_counter()
        value, agg = None, None
        with span("op", op=op.name, pass_no=pass_no, on=traced):
            if traced:
                self._job_group(op.layer, op.name, pass_no)
            with span(op.layer, on=traced):
                result = op.build(self.spark)
            if isinstance(result, DataFrame):
                if traced:
                    self._job_group("spark.action", op.name, pass_no)
                with span("spark.action", on=traced):
                    value, agg = W.checksum(result)
        latency = time.perf_counter() - t0
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            if agg is not None:
                self.python[(op.name, pass_no)] = python_node_metrics(agg._jdf)
        return latency, value

    def _job_group(self, layer: str, op: str, pass_no: int) -> None:
        group = f"{layer}|{op}|{pass_no}"
        self.spark.sparkContext.setJobGroup(group, group)
        self.groups.append((layer, op, pass_no, group))

    def gate(self) -> tuple[dict[str, int | None], list[str]]:
        """Check every op once; return the expected checksum per op and
        the names of the ops that failed. A catalog op's rows are compared
        with its DuckDB oracle on a worker thread while the next op runs;
        a store read-back must reproduce the source table's checksum."""
        import oracle

        expected, failures, pending, checkers = {}, [], [], {}
        sources = None

        def fail(name: str, e: Exception) -> None:
            failures.append(name)
            print(f"# gate FAIL {name}: {type(e).__name__}: {str(e)[:300]}",
                  file=sys.stderr)

        with ThreadPoolExecutor(max_workers=1) as pool:
            for op in self.ops:
                try:
                    if op.layer == "catalog.construct":
                        if op.data_dir not in checkers:
                            checkers[op.data_dir] = oracle.OracleChecker(op.data_dir)
                        rows, value = oracle.collect(op.build(self.spark))
                        pending.append((op.name, value, pool.submit(
                            checkers[op.data_dir].compare, rows, op.name)))
                        continue
                    if sources is None:
                        sources = oracle.source_checksums(self.spark, op.data_dir)
                    _, value = self.run_op(op, -1, False)
                    if op.source is not None and value != sources[op.source]:
                        raise AssertionError(
                            f"read-back checksum {value} != source {sources[op.source]}")
                    expected[op.name] = value
                except Exception as e:  # noqa: BLE001 - reported, and the run goes on
                    fail(op.name, e)
            for name, value, future in pending:
                try:
                    future.result()
                    expected[name] = value
                except Exception as e:  # noqa: BLE001 - reported, and the run goes on
                    fail(name, e)
        return expected, failures

    def rss_mb(self) -> float:
        """Peak RSS of this Python process plus the JVM it started."""
        from pyspark import SparkContext

        return _vm_hwm_mb("self") + _vm_hwm_mb(SparkContext._gateway.proc.pid)

    def stop(self) -> None:
        """Stop the session and the JVM and wait until the JVM has ended;
        its Python workers exit with it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.store_dir, ignore_errors=True)


#: untimed passes after the cold gate: op latencies still fall over the
#: first two passes (JIT compilation, warm Python workers), and timing
#: them would make a run's median depend on how many passes it fits
WARM_PASSES = 2
#: timed passes per run at least, so that the median pass discounts
#: one pass hit by a burst of host noise; a traced run alternates
#: untraced and traced passes, so it runs twice as many
MIN_PASSES = 3


def run_pass(runner: Runner, expected: dict, pass_no: int, traced: bool) -> dict:
    """One closed-loop pass over the ops; an op that raises or whose
    checksum differs from the gate's counts as failed."""
    lat, failed = [], 0
    p0 = time.perf_counter()
    with runner.tracer.span("pass", pass_no=pass_no, on=traced):
        for op in runner.ops:
            try:
                latency, value = runner.run_op(op, pass_no, traced)
                ok = op.name in expected and value == expected[op.name]
                if not ok:
                    print(f"# pass {pass_no} {op.name}: checksum {value} != "
                          f"{expected.get(op.name)}", file=sys.stderr)
            except Exception as e:  # noqa: BLE001 - counted in failed
                latency, ok = None, False
                print(f"# pass {pass_no} {op.name}: {type(e).__name__}: "
                      f"{str(e)[:300]}", file=sys.stderr)
            failed += not ok
            lat.append((op.name, latency))
    return {"pass": pass_no, "traced": traced, "wall_s": time.perf_counter() - p0,
            "latencies": lat, "failed": failed}


def timed_passes(runner: Runner, expected: dict, seconds: float, trace_mode: bool):
    """Passes until ``seconds`` have elapsed and at least MIN_PASSES ran
    (of each kind). In trace mode passes alternate untraced, traced."""
    passes = []
    min_passes = 2 * MIN_PASSES if trace_mode else MIN_PASSES
    t0 = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
        pass_no = len(passes)
        passes.append(run_pass(runner, expected, pass_no, trace_mode and pass_no % 2 == 1))
    return passes


def _op_split(spans, python) -> list[str]:
    """Per op, summed over the traced passes: construction time, action
    time and the Python nodes' total time."""
    rows: dict[str, dict[str, float]] = {}
    for s in spans:
        if s.pass_no is not None and s.name not in ("pass", "op"):
            row = rows.setdefault(s.op, {})
            row[s.name] = row.get(s.name, 0.0) + s.duration
    for (op, _pass_no), values in python.items():
        row = rows.setdefault(op, {})
        row["python_total"] = row.get("python_total", 0.0) + values["operators.python_total_s"]
    return [f"# op {op:28s} " + ", ".join(f"{k} {v:.3f} s" for k, v in row.items())
            for op, row in rows.items()]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace_mode = bool(args.trace)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_data")
    seed_dir = os.path.join(work, f"seed-{args.seed}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file the run, the JVM and its Python workers write stays
    # inside the working tree
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, root)

    t_gen = time.perf_counter()
    manifest = gen.generate(args.seed, seed_dir)
    gen_s = time.perf_counter() - t_gen
    import hostnoise

    runner = Runner(args.workload, seed_dir, trace_mode)
    try:
        runner.setup()
        setup_s = time.perf_counter() - T_START - gen_s
        t_gate = time.perf_counter()
        expected, gate_failures = runner.gate()
        for _ in range(WARM_PASSES):
            run_pass(runner, expected, -1, False)
        gate_s = time.perf_counter() - t_gate
        noise = hostnoise.Probe()
        t_passes = time.perf_counter()
        passes = timed_passes(runner, expected, args.seconds, trace_mode)
        noise.finish()
        passes_s = time.perf_counter() - t_passes
        if trace_mode:
            rss_mb = runner.rss_mb()
            # the status store is fed asynchronously by the listener bus
            runner.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            counters = {g: group_stage_counters(runner.spark, g)
                        for *_rest, g in runner.groups}
        store = None
        if args.workload in W.STORE_WORKLOADS:
            store = M.StoreRun(W.stored_bytes(runner.store_dir),
                               W.user_bytes(os.path.join(seed_dir, W.SCALE[args.workload])),
                               {op.name for op in runner.ops if op.prepare is not None},
                               {op.name for op in runner.ops if op.source is not None})
    finally:
        runner.stop()

    attempted = sum(len(p["latencies"]) for p in passes)
    failed = sum(p["failed"] for p in passes)
    if trace_mode:
        values = M.per_layer(runner.tracer.spans, passes, runner.groups, counters,
                             runner.python, store, rss_mb)
        runner.tracer.dump(os.path.join(seed_dir, f"spans.{args.workload}.json"))
        for name, row in sorted(layer_table(runner.tracer.spans).items()):
            print(f"# span {name:28s} total {row['total_s']:9.3f} s  self "
                  f"{row['self_s']:9.3f} s  n={row['count']}")
        for line in _op_split(runner.tracer.spans, runner.python):
            print(line)
    else:
        values = M.end_to_end(setup_s, passes)
    for line in M.report(values, args.workload, passes):
        print(line)
    for p in passes:
        print(f"# pass {p['pass']}{' traced' if p['traced'] else ''}: "
              + ", ".join(f"{op} {t:.3f}" if t is not None else f"{op} failed"
                          for op, t in p["latencies"]), file=sys.stderr)
    print(f"# phases: generate {gen_s:.2f} s, set-up {setup_s:.2f} s, gate and warm "
          f"passes {gate_s:.2f} s, timed passes {passes_s:.2f} s, total "
          f"{time.perf_counter() - T_START:.2f} s")
    print(f"# host noise: {json.dumps(noise.record())}")
    for scale in sorted({os.path.basename(op.data_dir) for op in runner.ops}):
        print(f"# inputs ({scale}): {json.dumps(manifest['tables'][scale], sort_keys=True)}")
    print(f"# gate: {len(runner.ops) - len(gate_failures)}/{len(runner.ops)} ops "
          f"checked; failed_frac {failed / max(attempted, 1):.4f} ({failed}/{attempted})")
    print(json.dumps({
        "correct": not gate_failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": M.UNITS[name]}
                    for name, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
