"""Query registry: every operator exposed through the driver contract.

Each entry pairs a PySpark implementation (built from the engine's operator
modules) with an ANSI-SQL oracle that DuckDB runs on the same parquet —
mirroring how the reference validates its SQL pushdown against in-memory
semantics (SURVEY.md §5).

Column names are aliased identically on both sides — the driver sorts
columns by name before hashing values.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from orange3_spark.session import load_tables

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
#: str, or a zero-arg callable producing the SQL lazily (replay oracles)
ORACLE: dict[str, object] = {}


def query(name: str, sql=None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


def fixtures(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """The named fixture tables of ``sf_dir``, in the order asked."""
    d = load_tables(spark, sf_dir, names)
    return [d[n] for n in names]
