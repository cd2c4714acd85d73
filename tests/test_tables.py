"""Loader-level schema contracts.

These exist so a testdata regeneration that changes a parquet encoding
fails ONE loud loader test instead of every downstream operator suite
(the round-3 failure mode: ``events.ts`` flipped from TIMESTAMP(NANOS)
to ``timestamp[us]`` and 83 tests died on the stale conversion).
"""

from __future__ import annotations

import io
import os
import re
import shutil
import tokenize
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from mapreduce_on_google_cloud_platform_spark.sources import load_table
from mapreduce_on_google_cloud_platform_spark.sources.tables import (
    TABLES,
    read_parquet,
    table_path,
)
from tests.conftest import REPO, SF_ORACLE, SF_SMOKE


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
def test_events_ts_is_timestamp_regardless_of_encoding(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    ts_type = df.schema["ts"].dataType
    assert isinstance(ts_type, (TimestampType, TimestampNTZType)), (
        f"events.ts must load as a timestamp, got {ts_type}; "
        "_load_events needs a branch for this parquet encoding"
    )
    # The column must also be usable: event-time arithmetic analyzes and
    # produces sane epoch-era values (not 1970-adjacent nanos misreads).
    row = df.selectExpr(
        "min(year(ts)) AS lo", "max(year(ts)) AS hi", "count(*) AS n"
    ).first()
    assert row["n"] > 0
    assert 2000 <= row["lo"] <= row["hi"] <= 2100


def test_events_nanos_int64_branch_converts(spark, tmp_path):
    """The legacy branch (ts stored as int64 epoch-nanos) still converts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = [1_700_000_000_000_000_000, 1_700_000_123_456_789_000]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": pa.array(nanos, type=pa.int64()),
        }
    )
    sf_dir = tmp_path / "sfx"
    sf_dir.mkdir()
    pq.write_table(tbl, sf_dir / "events.parquet")

    df = load_table(spark, str(sf_dir), "events")
    assert isinstance(
        df.schema["ts"].dataType, (TimestampType, TimestampNTZType)
    )
    got = [r["us"] for r in df.selectExpr("unix_micros(ts) AS us").collect()]
    assert sorted(got) == sorted(n // 1000 for n in nanos)


def test_all_tables_load_and_are_nonempty(spark):
    for name in TABLES:
        df = load_table(spark, SF_SMOKE, name)
        assert len(df.columns) > 0, name
        assert df.limit(1).count() == 1, f"{name} is empty"


# ---------------------------------------------------------------------------
# Schema cache (sources.tables.read_parquet)
# ---------------------------------------------------------------------------


@contextmanager
def _job_counter(spark, group):
    """Run the body under job group ``group``; yields a callable that
    returns how many Spark jobs the group has started so far."""
    sc = spark.sparkContext
    props = (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    )
    saved = {p: sc.getLocalProperty(p) for p in props}
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for p, v in saved.items():
            sc.setLocalProperty(p, v)


@contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _copy_table(tmp_path, name):
    sf_dir = tmp_path / "sfx"
    sf_dir.mkdir(exist_ok=True)
    shutil.copyfile(table_path(SF_SMOKE, name), table_path(str(sf_dir), name))
    return str(sf_dir)


def test_second_load_table_starts_no_spark_job(spark, tmp_path):
    # a fresh copy, so the first load is a miss whatever ran before
    sf_dir = _copy_table(tmp_path, "orders")
    with _job_counter(spark, f"schema-cache-{uuid.uuid4().hex}") as jobs:
        first = load_table(spark, sf_dir, "orders")
        after_first = jobs()
        second = load_table(spark, sf_dir, "orders")
        after_second = jobs()
    assert after_first >= 1, "schema inference should start the footer job"
    assert after_second == after_first, "a cached schema must start no job"
    assert second.schema == first.schema
    # a new DataFrame each call: a self-join of the table still resolves
    n = first.alias("a").join(second.alias("b"), "o_orderkey").count()
    assert n == first.count()


def test_cached_schema_equals_inferred_for_every_table(spark):
    for name in TABLES:
        path = table_path(SF_SMOKE, name)
        load_table(spark, SF_SMOKE, name)  # warms the cache (events: conf)
        inferred = spark.read.parquet(path).schema
        assert read_parquet(spark, path).schema == inferred, name
        if name != "events":
            assert load_table(spark, SF_SMOKE, name).schema == inferred, name


def test_rewritten_file_invalidates_cached_schema(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = _copy_table(tmp_path, "region")
    path = table_path(sf_dir, "region")
    assert "extra" not in load_table(spark, sf_dir, "region").columns
    tbl = pq.read_table(path)
    tbl = tbl.append_column("extra", pa.array(range(tbl.num_rows), pa.int64()))
    pq.write_table(tbl, path)

    df = load_table(spark, sf_dir, "region")
    assert df.columns[-1] == "extra"
    got = sorted(r["extra"] for r in df.select("extra").collect())
    assert got == list(range(tbl.num_rows))


def _write_ts(path, unit):
    import pyarrow as pa
    import pyarrow.parquet as pq

    us = [1_700_000_000_000_000, 1_700_000_123_456_789]
    scale = {"us": 1, "ns": 1000}[unit]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([u * scale for u in us], pa.timestamp(unit)),
        }
    )
    pq.write_table(tbl, path)


def test_nanos_as_long_is_part_of_the_key(spark, tmp_path):
    """The same TIMESTAMP(NANOS) file read under both settings: a schema
    cached under ``true`` must not answer a read under ``false``, which on
    this Spark refuses the type outright instead of inferring another
    schema."""
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "events.parquet")
    _write_ts(path, "ns")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    with _conf(spark, key, "true"):
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, LongType)
    with _conf(spark, key, "false"):
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
    with _conf(spark, key, "true"):
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, LongType)


def test_infer_timestamp_ntz_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    _write_ts(path, "us")
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    types = []
    for value in ("true", "false", "true"):
        with _conf(spark, key, value):
            types.append(read_parquet(spark, path).schema["ts"].dataType)
    assert types == [TimestampNTZType(), TimestampType(), TimestampNTZType()]



def test_schema_cache_stays_bounded_under_threads(tmp_path):
    """More paths than the bound, read from more threads than cores: the
    cache never exceeds its bound and every read gets its own schema."""
    import sys
    import threading
    from types import SimpleNamespace

    from pyspark.sql.types import StructField, StructType

    from mapreduce_on_google_cloud_platform_spark.sources import tables

    class Reader:
        def __init__(self, schema=None):
            self._schema = schema

        def schema(self, schema):
            return Reader(schema)

        def parquet(self, path):
            name = os.path.basename(path)
            return SimpleNamespace(
                schema=self._schema or StructType([StructField(name, LongType())])
            )

    class FakeSession:
        conf = SimpleNamespace(get=lambda k: "x")

        @property
        def read(self):
            return Reader()

    fake = FakeSession()
    paths = []
    for i in range(tables._SCHEMA_CACHE_MAX + 64):
        paths.append(str(tmp_path / f"t{i}"))
        open(paths[-1], "w").close()
    cache = tables._inferred_schema
    wrong, sizes = [], []

    def worker(k):
        for p in paths[k:] + paths[:k]:
            if read_parquet(fake, p).schema.names != [os.path.basename(p)]:
                wrong.append(p)
            sizes.append(cache.cache_info().currsize)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k * 37,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
        cache.cache_clear()
    assert not any(t.is_alive() for t in threads)
    assert len(sizes) == 8 * len(paths)
    assert wrong == []
    assert max(sizes) <= tables._SCHEMA_CACHE_MAX


# Parquet reads that may stay schema-less: the schema is learned from
# bytes this process just wrote, or merging footers is the point.
_SCHEMALESS_READ_ALLOWLIST = {
    ("sources/tables.py", "return spark.read.parquet(path)"): (
        "paths os.stat cannot see: read uncached"
    ),
    ("sources/tables.py", "return spark.read.parquet(path).schema"): (
        "the cache's inference on a miss"
    ),
    (
        "sources/formats.py",
        'return spark.read.option("mergeSchema", "true").parquet(*paths)',
    ): "mergeSchema read: merging footers is its purpose",
    (
        "sources/index_store.py",
        "spark.read.parquet(stage).repartition(n_files).write.mode(",
    ): "read-back of the staged copy written just before",
    ("sources/partitioned.py", "return spark.read.parquet(path)"): (
        "read-back of a write_partitioned layout; partition discovery types "
        "the partition columns"
    ),
    ("sources/partitioned.py", "df = spark.read.parquet(src_path)"): (
        "compaction rewrite: read once, written back"
    ),
    ("sources/compaction.py", "df = spark.read.parquet(src_path)"): (
        "compaction rewrite: read once, written back"
    ),
    ("sources/sorted_layout.py", "return spark.read.parquet(path)"): (
        "read-back of a write_range_sorted layout"
    ),
    ("sources/zorder.py", "return spark.read.parquet(path)"): (
        "read-back of a z-ordered layout"
    ),
    ("streaming/incremental.py", 'prev = session.read.parquet(state["dir"])'): (
        "read-back of the snapshot the previous micro-batch wrote"
    ),
}

_SCHEMALESS_READ = re.compile(
    r"\.read(?:\s*\.options?\([^()]*\))*\s*\.parquet\("
)


def _blank_strings_and_comments(src):
    """``src`` with every string and comment blanked, offsets kept."""
    starts = [0]
    for line in src.splitlines(keepends=True):
        starts.append(starts[-1] + len(line))
    out = list(src)
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in (tokenize.STRING, tokenize.COMMENT):
            a = starts[tok.start[0] - 1] + tok.start[1]
            b = starts[tok.end[0] - 1] + tok.end[1]
            out[a:b] = [c if c == "\n" else " " for c in out[a:b]]
    return "".join(out)


def test_schemaless_parquet_reads_are_allowlisted():
    """Every schema-less parquet read starts a footer job per call; new
    ones go through ``sources.tables.read_parquet`` or onto the list."""
    pkg = REPO / "mapreduce_on_google_cloud_platform_spark"
    found = set()
    for py in sorted(pkg.rglob("*.py")):
        src = py.read_text()
        for m in _SCHEMALESS_READ.finditer(_blank_strings_and_comments(src)):
            start = src.rfind("\n", 0, m.start()) + 1
            end = src.find("\n", m.start())
            found.add((py.relative_to(pkg).as_posix(), src[start:end].strip()))
    assert found - set(_SCHEMALESS_READ_ALLOWLIST) == set(), (
        "schema-less spark.read.parquet outside the allowlist; use "
        "sources.tables.read_parquet"
    )
    assert set(_SCHEMALESS_READ_ALLOWLIST) - found == set(), "stale allowlist entries"
