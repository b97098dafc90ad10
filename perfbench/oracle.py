"""The correctness gate: each op once, checked against its DuckDB oracle.

The comparison is ``tools/check.py``'s: row count, sorted column names,
and the order-insensitive multiset of dtype-tagged cell values, exact,
with DuckDB views over the generated input directories. The same Spark
action also yields the op's checksum, sum(xxhash64(row)) with 64-bit
wrap-around like Spark's non-ANSI long sum, which every timed pass must
reproduce.
"""

from __future__ import annotations

import importlib.util
import os

import workloads as W
from gen import TABLES

_HASH = "__perfbench_row_hash"


def _load_check():
    path = os.path.join(os.getcwd(), "tools", "check.py")
    spec = importlib.util.spec_from_file_location("_perfbench_tools_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def wrap_int64(total: int) -> int:
    return (total + 2**63) % 2**64 - 2**63


def collect(sdf):
    """One Spark action that returns an op's rows (as pandas) and its
    checksum."""
    pdf = sdf.select("*", W.checksum_column(sdf).alias(_HASH)).toPandas()
    value = wrap_int64(sum(int(h) for h in pdf[_HASH])) if len(pdf) else None
    return pdf.drop(columns=[_HASH]), value


class OracleChecker:
    """DuckDB views over one input directory, and the comparison of an
    op's rows with its oracle's."""

    def __init__(self, data_dir: str):
        import duckdb

        from knime_core_columnar_spark import catalog

        self.oracles = catalog.ORACLES
        self.check_mod = _load_check()
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")

    def compare(self, spdf, name: str) -> None:
        """Raise AssertionError unless ``spdf`` equals the oracle's result."""
        if name not in self.oracles:
            raise AssertionError(f"{name} has no oracle")
        sql = self.oracles[name]
        bad = self.check_mod.oracle_type_problems(self.con, sql)
        if bad:
            raise AssertionError(f"oracle emits {bad}")
        opdf = self.con.execute(sql).fetchdf()
        if len(spdf) != len(opdf):
            raise AssertionError(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            raise AssertionError(
                f"columns spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}")
        sm = self.check_mod.frame_to_multiset(spdf)
        om = self.check_mod.frame_to_multiset(opdf)
        if sm != om:
            diff = [(a, b) for a, b in zip(sm, om) if a != b][:3]
            raise AssertionError(f"values differ, first diffs: {diff}")


def source_checksums(spark, data_dir: str) -> dict[str, int | None]:
    """Checksum of each store source table, read straight from parquet."""
    return {t: W.checksum(spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")))[0]
            for t in W.STORE_TABLES}
