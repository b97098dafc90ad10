"""The benchmark's workloads: named lists of ops over the generated inputs.

An op is what a library user does once: a construction step (a catalog
constructor, or a store write/read call) and, when the step returns a
DataFrame, the checksum action sum(xxhash64(all columns)) that forces
its full plan. The span name of an op's construction step is the layer
it belongs to.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the reference's own benchmark workflow; every run's set-up ends with
#: one untimed call of it, so set-up means the same on every workload
WARM_OP = "simple_linear_workflow"

CATALOG_OPS = {
    # JVM-only plans (no Python node). The reference's saved-workflow
    # benchmark and DAG compiler, a join, a TPC-H aggregation, a
    # per-group window and a top-k, whose cost is the action; and two
    # near-dup ops whose cost is construction, which runs Spark jobs
    # before the action: the connected-components checkpoint loop and the
    # LSH band table.
    "knime_workflow": [
        "simple_linear_workflow", "workflow_dag_execute", "join_customer_orders",
        "q1_pricing_summary", "window_topk_per_group", "sort_topk",
        "entity_resolution", "dedup_minhash_lsh",
    ],
    # every kernel crosses the Python/Arrow boundary (mapInPandas,
    # pandas_udf); the store round trip of the same corpus follows them
    "curation_and_store": [
        "bpe_encode", "png_pixel_stats", "gopher_repetition",
        "embedding_covariance",
    ],
}

#: input scale of each workload (a directory name of the generator's
#: output)
SCALE = {"knime_workflow": "x1", "curation_and_store": "x4"}
STORE_WORKLOADS = ("curation_and_store",)
WORKLOADS = tuple(CATALOG_OPS)

STORE_TABLES = {"documents": ["doc_id"]}
STORE_FORMATS = ("knime_arrow", "parquet", "arrow_ipc")


def checksum_column(df: DataFrame):
    """xxhash64 over every column; map-typed columns go through to_json
    because xxhash64 cannot hash maps (the same rule as bench.py)."""
    return F.xxhash64(*[
        F.to_json(F.col(f.name)) if "map<" in f.dataType.simpleString()
        else F.col(f.name)
        for f in df.schema.fields
    ])


def checksum(df: DataFrame) -> tuple[int | None, DataFrame]:
    """Run the checksum action; returns the value and the executed
    aggregate DataFrame (whose plan carries the action's SQL metrics)."""
    agg = df.agg(F.sum(checksum_column(df)))
    return agg.collect()[0][0], agg


@dataclass(frozen=True)
class Op:
    name: str
    layer: str  # span name of the construction step
    build: Callable[[SparkSession], object]  # a DataFrame gets the action
    data_dir: str  # the input directory it reads
    prepare: Callable[[], None] | None = None  # store writes: untimed, before each call
    source: str | None = None  # store reads: table whose checksum must match


def catalog_op(name: str, data_dir: str) -> Op:
    from knime_core_columnar_spark import catalog

    return Op(name, "catalog.construct",
              lambda spark: catalog.QUERIES[name](spark, data_dir), data_dir)


def _remove(path: str) -> Callable[[], None]:
    def prepare() -> None:
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
    return prepare


def store_ops(data_dir: str, out_dir: str) -> list[Op]:
    """For each table: write then read back in the three store formats.
    A read returns the table's data columns in source order, so its
    checksum must equal the source's."""
    import pyarrow.dataset as ds

    from knime_core_columnar_spark.sources import read_arrow_ipc, write_arrow_ipc
    from knime_core_columnar_spark.sources.knime_arrow import (
        read_knime_arrow,
        write_knime_arrow,
    )
    from knime_core_columnar_spark.table import ColumnarTable

    os.makedirs(out_dir, exist_ok=True)
    ops = []
    for table, keys in STORE_TABLES.items():
        src = os.path.join(data_dir, f"{table}.parquet")
        paths = {fmt: os.path.join(out_dir, f"{table}.{fmt}") for fmt in STORE_FORMATS}

        def source(spark, src=src, keys=keys):
            return ColumnarTable.from_parquet(spark, src, key_columns=keys)

        def data_columns(t, columns=ds.dataset(src).schema.names):
            return t.df.select(*columns)

        p = paths["knime_arrow"]
        ops.append(Op(f"write_knime_arrow.{table}", "sources.write_knime_arrow",
                      lambda spark, p=p, source=source:
                      write_knime_arrow(source(spark), p),
                      data_dir, prepare=_remove(p)))
        ops.append(Op(f"read_knime_arrow.{table}", "sources.read_knime_arrow",
                      lambda spark, p=p, dc=data_columns:
                      dc(read_knime_arrow(spark, p)), data_dir, source=table))
        p = paths["parquet"]
        ops.append(Op(f"materialize.{table}", "table.materialize",
                      lambda spark, p=p, source=source:
                      source(spark).materialize(p, mode="overwrite"),
                      data_dir, prepare=_remove(p)))
        ops.append(Op(f"read_parquet.{table}", "sources.read_parquet",
                      lambda spark, p=p, dc=data_columns:
                      dc(ColumnarTable.from_parquet(spark, p)), data_dir,
                      source=table))
        p = paths["arrow_ipc"]
        ops.append(Op(f"write_arrow_ipc.{table}", "sources.write_arrow_ipc",
                      lambda spark, p=p, source=source:
                      write_arrow_ipc(source(spark), p),
                      data_dir, prepare=_remove(p)))
        ops.append(Op(f"read_arrow_ipc.{table}", "sources.read_arrow_ipc",
                      lambda spark, p=p, dc=data_columns:
                      dc(read_arrow_ipc(spark, p)), data_dir, source=table))
    return ops


def stored_bytes(out_dir: str) -> dict[str, int]:
    """Bytes on disk per store format, summed over the tables."""
    sizes = {fmt: 0 for fmt in STORE_FORMATS}
    for table in STORE_TABLES:
        for fmt in STORE_FORMATS:
            path = os.path.join(out_dir, f"{table}.{fmt}")
            if os.path.isdir(path):
                sizes[fmt] += sum(os.path.getsize(os.path.join(r, f))
                                  for r, _d, fs in os.walk(path) for f in fs
                                  if not f.startswith((".", "_")))
            elif os.path.exists(path):
                sizes[fmt] += os.path.getsize(path)
    return sizes


def user_bytes(data_dir: str) -> int:
    """In-memory Arrow bytes of the store workload's source tables."""
    import pyarrow.dataset as ds

    return sum(ds.dataset(os.path.join(data_dir, f"{t}.parquet")).to_table().nbytes
               for t in STORE_TABLES)


def ops_for(workload: str, seed_dir: str) -> list[Op]:
    data_dir = os.path.join(seed_dir, SCALE[workload])
    ops = [catalog_op(n, data_dir) for n in CATALOG_OPS[workload]]
    if workload in STORE_WORKLOADS:
        ops += store_ops(data_dir, os.path.join(seed_dir, "store"))
    return ops
