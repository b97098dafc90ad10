"""Query catalog: every implemented operator exposed as a (spark, sf_dir) →
DataFrame callable plus a DuckDB-equivalent ANSI-SQL oracle.

This is the correctness surface for SURVEY.md §2 — the driver executes each
``QUERIES[name]`` and the matching ``ORACLES[name]`` side by side and
compares row count + schema + order-insensitive value hash.

Determinism rules (doubles are NOT bit-stable under reordered reduction):
- exact sums: cast to decimal before SUM, cast the exact result to double;
- averages: exact-decimal sum cast to double, then IEEE double division;
- per-row double arithmetic is deterministic and fine;
- no double→int casts (Spark truncates, DuckDB rounds), no double→string;
- every computed column aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knime_core_columnar_spark.schema import ROW_KEY
from knime_core_columnar_spark.session import (
    ensure_pkg_on_executors as _ensure_pkg_on_executors,
)
from knime_core_columnar_spark.table import ColumnarTable, RowIdPolicy

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: (path, mtime) → (row-group count, total byte size); footer metadata
#: and the size walk are driver-side reads, cached together so repeated
#: query construction costs nothing (ADVICE r11: the size was re-walked
#: per _tw call while the row-group count was cached)
_SCAN_SPLITS_CACHE: dict[tuple[str, float], tuple[int, int]] = {}


def _scan_splits_and_size(path: str) -> tuple[int, int] | None:
    """(row-group count, byte size) of a parquet file/dir. The count is
    the upper bound on a scan's natural task parallelism (a row group
    is parquet's minimum read unit — a single-row-group file scans as
    ONE task no matter how the planner splits it). Local paths only;
    None when unknowable."""
    import os

    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return None
    key = (path, mtime)
    hit = _SCAN_SPLITS_CACHE.get(key)
    if hit is not None:
        return hit
    try:
        if os.path.isdir(path):
            import pyarrow.dataset as ds

            n = sum(
                f.metadata.num_row_groups
                for f in ds.dataset(path, format="parquet").get_fragments()
            )
            sz = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(path) for f in fs
            )
        else:
            import pyarrow.parquet as pq

            n = pq.read_metadata(path).num_row_groups
            sz = os.path.getsize(path)
    except Exception:
        return None
    _SCAN_SPLITS_CACHE[key] = (n, sz)
    return n, sz


def _widen_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scale-ADAPTIVE scan parallelization (guide §2.5, input skew:
    "one huge unsplittable file ... repartition immediately after the
    read"). The sandbox testdata ships ONE row group per table, so
    every scan — and with it every scan-stage kernel: partial
    aggregations, shingle explodes, Arrow batches — runs as a single
    task however many cores the host has. When the scan's natural
    parallelism (row-group count) is under a quarter of the cluster's,
    round-robin repartition to defaultParallelism right after the
    read: one shuffle of an input that is small-or-serial either way
    buys full-width downstream stages. At production scale the
    condition is false (a 100 TB table has tens of thousands of row
    groups) and this is a NO-OP — nothing here is tuned to local[32];
    the threshold derives from the session's own parallelism."""
    par = spark.sparkContext.defaultParallelism
    meta = _scan_splits_and_size(path)
    if meta is None:
        return df
    natural, sz = meta
    # tiny dimensions (region/nation/supplier) stay as-is: the exchange
    # would cost more than the serial scan it parallelizes
    if sz < 512 * 1024:
        return df
    if natural < max(2, par // 4):
        return df.repartition(par)
    return df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_pkg_on_executors(spark)
    # Runtime-settable confs forced here instead of relying on session
    # defaults — the harness builds its own SparkSession without our
    # session.py. UTC makes every ntz<->instant cast (unix_micros etc.)
    # timezone-independent, matching the timezone-free DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), which vanilla Spark 4
        # refuses (PARQUET_TYPE_ILLEGAL).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) parquet read as long via nanosAsLong — restore
        # timestamp_ntz at micro precision (what DuckDB reads natively).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
    return df


def _tw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``_t`` + :func:`_widen_scan`: OPT-IN per query, for queries whose
    scan stage carries heavy per-row work (text kernels, shingle
    explodes, per-row Arrow batches) that would otherwise run serially
    on a low-row-group input. NOT the default: for cheap row-level
    scans the added exchange costs more than it parallelizes
    (filter_rows measured 2.4× WORSE widened), hand-tuned join plans
    gain a useless extra shuffle of the fact table (q21 2.0× worse),
    and per-task-init-heavy kernels multiply their init cost
    (bpe_encode 2.5× worse). Each call site below was measured both
    ways (OPTIMIZATION_r11.md)."""
    return _widen_scan(
        spark, _t(spark, sf_dir, name), f"{sf_dir}/{name}.parquet"
    )


def _parquet_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count from the Parquet footer — a driver-side metadata
    read (no Spark job, no data scan). Used to feed operators whose tier
    or seed selection needs the corpus size (kmeans_lite,
    embedding_near_dup_pairs) so they never spend a counting scan.
    Returns None for non-local paths so callers fall back to count()."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(path):
            import pyarrow.dataset as ds

            return sum(
                f.metadata.num_rows
                for f in ds.dataset(path, format="parquet").get_fragments()
            )
        import pyarrow.parquet as pq

        return pq.read_metadata(path).num_rows
    except Exception:
        return None


def _dec(col, scale: int = 2):
    return F.col(col).cast(f"decimal(18,{scale})")


def _artifact_tag(sf_dir: str, *tables: str) -> str:
    """Cache tag for derived /tmp artifacts (bucketed tables, CSV
    exports, partitioned copies): hashes the source PATH and the source
    files' MTIMES, so regenerated testdata at the same path gets a fresh
    artifact instead of silently reusing a stale copy."""
    import hashlib
    import os

    parts = [sf_dir]
    for t in tables:
        p = f"{sf_dir}/{t}.parquet"
        try:
            parts.append(f"{t}:{os.path.getmtime(p)}")
        except OSError:
            parts.append(f"{t}:absent")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def _publish_dir(tmp: str, final: str) -> None:
    """Atomically publish a staged artifact directory; if a concurrent
    session won the rename race, keep theirs (same content by tag)."""
    import os
    import shutil

    try:
        os.rename(tmp, final)
    except OSError:
        if os.path.isdir(final):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            raise


