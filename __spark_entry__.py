"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The real implementation lives in ``mapreduce_on_google_cloud_platform_spark``;
this module is a thin adapter over its query registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapreduce_on_google_cloud_platform_spark.plans import ORACLES, QUERIES
from mapreduce_on_google_cloud_platform_spark.session import release_caches

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference's headline app: word count) on sf0.001."""
    return QUERIES["wordcount"](spark, SMOKE_SF_DIR)


def _fresh_cache(fn: Callable[[SparkSession, str], DataFrame]):
    """Drop cached blocks left by the PREVIOUS query before building.

    Several operators persist() shared subplans that stay referenced by
    the returned (lazy) DataFrame, so they cannot unpersist before the
    caller's collect -- the leak is intentional per query but would
    accumulate across a 300+-query single-session driver run (ADVICE
    r11).  Clearing at query START keeps each query self-contained:
    its own caches survive until the next query begins, and recompute
    falls back to the parquet tables / materialized index store.
    """

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_caches(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""
    return {name: _fresh_cache(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys get a rows-only check."""
    return dict(ORACLES)
