"""Index-store (round 10) pins: the materialized probe tables must be
row-identical to the from-raw pipelines they replace, and the store must
invalidate itself when the source dataset changes."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import PySparkException

from mapreduce_on_google_cloud_platform_spark.operators.dedup import (
    dedup_clusters,
    dedup_minhash_lsh,
    neardup_pairs_indexed,
    simhash_clusters_indexed,
)
from mapreduce_on_google_cloud_platform_spark.sources.index_store import (
    _FILE_TARGET_BYTES,
    _fan_out,
    index_path,
    materialized,
)

from .conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_neardup_pairs_index_matches_from_raw(spark):
    """The store builds the verified pair table from the UNRESTRICTED
    exact pair index (cand join full-jaccard) while dedup_minhash_lsh
    verifies over candidate-restricted shingles -- the two must be
    row-identical (pair stats depend only on the two docs' own sets)."""
    assert _rows(neardup_pairs_indexed(spark, SF_SMOKE)) == _rows(
        dedup_minhash_lsh(spark, SF_SMOKE)
    )


def test_simhash_clusters_index_matches_from_raw(spark):
    assert _rows(simhash_clusters_indexed(spark, SF_SMOKE)) == _rows(
        dedup_clusters(spark, SF_SMOKE)
    )


def test_store_path_tracks_dataset_fingerprint(tmp_path, spark):
    """Regenerated source data (mtime/size change) must change the store
    path, so a stale index can never be served across driver rounds."""
    import shutil

    src = str(tmp_path / "sfX")
    shutil.copytree(SF_SMOKE, src)
    p1 = index_path(src, "shingles", "v1")
    os.utime(
        os.path.join(src, "documents.parquet"), ns=(1_000_000_000, 1_000_000_000)
    )
    p2 = index_path(src, "shingles", "v1")
    assert p1 != p2


def test_fingerprint_sees_nested_directory_mutations(tmp_path):
    """A directory-layout table (partitioned parquet dir) keeps the
    top-level dir's size stable when an inner part-file changes -- the
    fingerprint must recurse so the mutation still rotates the store
    path (VERDICT r10 item #5)."""
    src = tmp_path / "sfY"
    inner = src / "events.parquet" / "day=2024-01-01"
    inner.mkdir(parents=True)
    part = inner / "part-000.parquet"
    part.write_bytes(b"aaaa")
    p1 = index_path(str(src), "shingles", "v1")
    # mutate ONLY the nested file (content + mtime); top-level unchanged
    part.write_bytes(b"bbbbbb")
    os.utime(part, ns=(2_000_000_000, 2_000_000_000))
    os.utime(src / "events.parquet", ns=(1_000_000_000, 1_000_000_000))
    os.utime(src, ns=(1_000_000_000, 1_000_000_000))
    p2 = index_path(str(src), "shingles", "v1")
    assert p1 != p2


def test_materialized_builds_once_and_rereads(tmp_path, spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "store"))
    calls = []

    def build(s, d):
        calls.append(d)
        return s.range(5).selectExpr("id AS v")

    df1 = materialized(spark, SF_SMOKE, "probe_test", "v1", build)
    df2 = materialized(spark, SF_SMOKE, "probe_test", "v1", build)
    assert len(calls) == 1  # second call served from parquet
    assert _rows(df1) == _rows(df2) == [(i,) for i in range(5)]
    # a version bump forces a rebuild
    materialized(spark, SF_SMOKE, "probe_test", "v2", build)
    assert len(calls) == 2


def test_failed_build_leaves_no_stage_or_tmp_dir(tmp_path, spark, monkeypatch):
    """A builder whose plan fails at execution must raise and leave no
    ``.stage.<pid>`` / ``.tmp.<pid>`` directory behind in the store."""
    store = tmp_path / "store"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(store))

    def build(s, d):
        return s.range(5).selectExpr("assert_true(id < 0) AS v")

    with pytest.raises(PySparkException):
        materialized(spark, SF_SMOKE, "failing_probe", "v1", build)
    left = [
        p.name
        for p in store.rglob("*")
        if ".stage." in p.name or ".tmp." in p.name
    ]
    assert left == []


def test_fan_out_counts_only_part_file_bytes(tmp_path, monkeypatch):
    """Metadata next to the data (``_SUCCESS``, ``.crc`` checksums, any
    other non-``part-`` file) is never scanned, so it must not raise the
    staged table's part-file count; ``part-`` bytes still do."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    stage = tmp_path / "probe.stage.1"
    stage.mkdir()
    (stage / "part-00000-a.snappy.parquet").write_bytes(b"x" * 1024)
    (stage / "_SUCCESS").write_bytes(b"")
    (stage / ".part-00000-a.snappy.parquet.crc").write_bytes(
        b"c" * (4 * _FILE_TARGET_BYTES)
    )
    (stage / "_metadata").write_bytes(b"m" * (4 * _FILE_TARGET_BYTES))
    assert _fan_out(str(stage)) == 1
    (stage / "part-00001-a.snappy.parquet").write_bytes(
        b"x" * (2 * _FILE_TARGET_BYTES)
    )
    assert _fan_out(str(stage)) == 3
