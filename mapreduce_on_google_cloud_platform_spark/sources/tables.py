"""Table loaders for the testdata star schema.

The reference's only source is a multi-file UTF-8 text scan performed
single-threaded on the master (``/root/reference/master.py:54-64`` -- its
#1 scalability anti-pattern). Here every source is a distributed
columnar scan: ``spark.read.parquet`` plans splits per file/row-group, so
a 100 TB table fans out across all executors with predicate pushdown and
column pruning for free.

Schema cache (``read_parquet``).  A schema-less ``spark.read.parquet``
starts a Spark job to read the file footers on EVERY call, before any
query runs (18 such jobs per pass of the star-schema benchmark).  Footer
reads are one-time metadata work, so ``read_parquet`` infers a path's
schema once and every read passes it via ``spark.read.schema(...)``,
which starts no job.  The contract:

* key: the session, the absolute path, the file version --
  ``st_mtime_ns``, ``st_size`` and ``st_ino`` of a file; for a directory
  the sorted top-level entries with their mtime and size -- and the
  session values of the parquet settings that change an inferred schema
  (``_SCHEMA_CONFS``), so a rewritten file or a flipped setting (the
  events loader turns on ``nanosAsLong``) re-infers;
* bound: the ``_SCHEMA_CACHE_MAX`` most recently used keys, in process;
* only the ``StructType`` is cached, never a DataFrame: every call
  returns a new DataFrame with new attribute ids, so a query joining two
  loads of one table (q8's customer and supplier ``nation``) stays
  unambiguous;
* not covered: ``mergeSchema`` reads (``formats.read_parquet_evolved``
  merges footers on purpose), streaming sources (``readStream`` takes a
  schema once per query; only its static probe goes through here), and
  paths that ``os.stat`` cannot see (remote URIs, missing paths), which
  read uncached so Spark raises its usual errors.
"""

from __future__ import annotations

import functools
import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region is 5 rows, nation 25 at every SF; supplier/part grow slowly).
BROADCAST_TABLES = frozenset({"region", "nation"})


# Session settings that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_CACHE_MAX = 256


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _file_version(path: str) -> tuple | None:
    """Identity of the bytes at ``path``, or None if ``os.stat`` cannot
    see it."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size, st.st_ino)
        entries = []
        with os.scandir(path) as it:
            for e in it:
                est = e.stat()
                entries.append((e.name, est.st_mtime_ns, est.st_size))
        return tuple(sorted(entries))
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version and settings (see the module docstring)."""
    version = _file_version(path)
    if version is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    schema = _inferred_schema(spark, os.path.abspath(path), version, confs)
    return spark.read.schema(schema).parquet(path)


@functools.lru_cache(maxsize=_SCHEMA_CACHE_MAX)
def _inferred_schema(
    spark: SparkSession, path: str, version: tuple, confs: tuple
) -> StructType:
    return spark.read.parquet(path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_parquet(spark, table_path(sf_dir, name))


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to TIMESTAMP whatever the parquet stored.

    Testdata generations have stored ``ts`` three ways: TIMESTAMP(NANOS)
    (which Spark's vectorized reader either rejects or, with
    ``spark.sql.legacy.parquet.nanosAsLong``, surfaces as raw int64 nanos),
    plain ``timestamp[us]`` surfacing as TIMESTAMP_NTZ, and
    timezone-adjusted ``timestamp[us, UTC]`` surfacing as TIMESTAMP.
    Branch on what the scan actually produced instead of assuming an
    encoding; works for batch and streaming DataFrames alike (pure column
    expressions, no action).  The NTZ->TIMESTAMP cast is value-identical
    under the session's pinned UTC timezone (session.py), matching the
    naive timestamps DuckDB reads from the same file."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, TimestampType):
        return df
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(TimestampType()))
    if isinstance(ts_type, LongType):
        # legacy nanos-as-int64: truncate to micros, the resolution DuckDB
        # reads at, so event-time results stay oracle-comparable
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raise TypeError(
        f"events.ts has unsupported parquet type {ts_type}; expected a "
        "timestamp or int64-nanos column"
    )


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive loader for the ``events`` table (see
    ``normalize_events_ts``)."""
    # Keep the legacy conf on so a nanos-encoded file reads as int64 instead
    # of failing the scan outright; it is a no-op for timestamp[us] files.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events_ts(read_parquet(spark, table_path(sf_dir, "events")))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (mirrors the DuckDB oracle's
    pre-registered views, so SQL-string queries read identically)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
