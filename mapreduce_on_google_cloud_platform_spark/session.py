"""SparkSession construction tuned for this engine.

Local mode is a correctness harness; the configuration is written for the
real target -- a multi-executor cluster scanning ~100 TB of parquet:

* AQE on (runtime partition coalescing, skew-join splitting) so declared
  shuffle counts are starting points, not destiny.  Spark 4 enables all
  three AQE switches by default, so the builder does not repeat them.
* Shuffle partitions sized to cores locally; on a cluster this should be
  2-3x total executor cores (AQE coalesces the excess).
* Session timezone pinned to UTC so event-time semantics are stable and
  oracle-comparable (DuckDB timestamps are UTC-naive).
* Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Local cores for a new session (``get_spark``).  Plans size their
    partition counts from the session instead (``shuffle_partitions``),
    so a plan depends on its files and session config only."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions``: the count an
    explicit ``repartition(n, key)`` in a plan uses."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def get_spark(app_name: str = "mapreduce_gcp_spark", *, cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned session.

    Replaces the reference's hand-rolled cluster bring-up
    (``master.py:91-146``: 4 e2-medium GCE VMs + a single-process pickle
    KV store as the shuffle medium) with Spark's own cluster manager and
    peer-to-peer shuffle.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the generated-code cache defaults to 100 classes; a session
        # serving 140+ distinct declared queries (the oracle sweep, a
        # real multi-tenant cluster) evicts and re-JITs hot plan fragments
        # mid-workload -- measured as 2-3x in-suite slowdowns on the
        # iterative operators.  Size it to the query surface.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # static config: catalog tables (bucketed layouts) land outside the
        # repo; on a cluster this is the metastore-managed warehouse path
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_caches(spark: SparkSession) -> None:
    """Drop every cached DataFrame/table in the session.

    THE CACHE CONTRACT: several operators persist mid-plan intermediates
    that are consumed more than once (``dedup.py`` signature/band tables,
    ``similarity.py`` normalized vectors, ``graph.py`` edges/degrees).
    Those DataFrames are returned lazily, so the operator itself cannot
    unpersist before its caller has acted -- the cache necessarily
    outlives the call.  Iterative operators that fully consume their
    intermediates (the connected-components loop) do pair persist with
    unpersist; for the rest, any harness running many queries in one
    session (perfbench/, tools/sweep.py) calls this between queries, and
    long-lived user sessions should do the same at natural barriers.

    Compiled plans stay: the plan cache of ``plans/registry.py`` holds
    only analysed plans that read versioned files and self-contained
    relations, never a persisted intermediate, so dropping cached data
    leaves every held plan valid, and the next call re-issues it instead
    of paying the build again.
    """
    spark.catalog.clearCache()
