"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real implementations live in ``torscrapper_spark.queries``
(registry of (spark_fn, duckdb_sql) pairs; see SURVEY.md §2.B for the
operator-coverage map). Queries whose oracle value is None are
non-SQL-expressible (crawl wave loop, approx sketches, xxhash64,
IVF-bucketed ANN) and get the driver's rows-only check; the crawl
semantics themselves are verified against a pure-Python golden
simulator in tests/ (``python -m pytest -x -q``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from torscrapper_spark.queries import crawl_trace_from_documents, registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: a full crawl (canonicalize → robots gate → politeness
    budget → priority order → cuckoo/anti-join seen filter → fetch →
    decode/validate → link extraction → snapshot checkpoint) over a
    deterministic synthetic onion graph sized from the sf0.001
    documents table; returns the crawl trace."""
    return crawl_trace_from_documents(spark, "/root/testdata/sf0.001", max_waves=2)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in registry().items() if sql is not None
    }
