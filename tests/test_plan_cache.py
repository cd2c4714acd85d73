"""Plan-cache contract of ``plans/registry.py``: a registry query is built
once per (session, sf_dir, session SQL config, input file versions) and
its analysed plan re-issued after that; anything outside that key
rebuilds."""

from __future__ import annotations

import ast
import shutil
import threading

import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from mapreduce_on_google_cloud_platform_spark.plans import QUERIES, registry
from mapreduce_on_google_cloud_platform_spark.session import release_caches
from mapreduce_on_google_cloud_platform_spark.sources.tables import table_path
from tests.conftest import REPO, SF_SMOKE


@pytest.fixture(autouse=True)
def _no_cached_data(spark):
    """Plans over data another test left persisted are not held (the
    gate); start each test from an empty CacheManager."""
    release_caches(spark)


def _benchmark_queries() -> list[str]:
    """The queries of every perfbench workload (``worker.PASSES``)."""
    tree = ast.parse((REPO / "perfbench" / "worker.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "PASSES":
            return [q for qs in ast.literal_eval(node.value).values() for q in qs]
    raise AssertionError("perfbench/worker.py defines no PASSES")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _same_plan(a, b) -> bool:
    """Whether two DataFrames share one analysed plan: a rebuild makes new
    attribute ids, so its plan never equals the first build's."""
    return a._jdf.queryExecution().analyzed().equals(b._jdf.queryExecution().analyzed())


def test_second_call_reissues_the_plan_in_a_new_execution(spark):
    q = QUERIES["q1_pricing_summary"]
    first = q(spark, SF_SMOKE)
    first.collect()
    second = q(spark, SF_SMOKE)
    assert second is not first and _same_plan(second, first)
    # the re-issued DataFrame plans afresh: its adaptive plan has not run
    assert "isFinalPlan=false" in second._jdf.queryExecution().executedPlan().toString()


def test_rewritten_or_missing_table_rebuilds(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    src = table_path(str(sf), "lineitem")
    shutil.copy(table_path(SF_SMOKE, "lineitem"), src)
    q = QUERIES["q1_pricing_summary"]
    first = q(spark, str(sf))
    before = _rows(first)
    assert _same_plan(q(spark, str(sf)), first)

    tbl = pq.read_table(src)
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), src)
    rebuilt = q(spark, str(sf))
    assert not _same_plan(rebuilt, first)
    assert _rows(rebuilt) != before
    assert _rows(rebuilt) == _rows(q.__wrapped__(spark, str(sf)))

    (sf / "lineitem.parquet").unlink()
    with pytest.raises(AnalysisException):
        q(spark, str(sf))


def test_session_config_is_part_of_the_key(spark):
    q = QUERIES["q1_pricing_summary"]
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    first = q(spark, SF_SMOKE)
    try:
        spark.conf.set(key, str(int(saved) + 3))
        other = q(spark, SF_SMOKE)
        assert not _same_plan(other, first)
        assert _same_plan(q(spark, SF_SMOKE), other)
    finally:
        spark.conf.set(key, saved)
    assert _same_plan(q(spark, SF_SMOKE), first)


@pytest.mark.parametrize(
    "name",
    [
        "neardup_pagerank",  # localCheckpoint: LogicalRDD leaves
        "dedup_minhash_lsh",  # persisted shingles and bands: InMemoryRelation
    ],
)
def test_checkpointed_or_persisted_plans_are_never_cached(spark, name):
    try:
        assert not _same_plan(QUERIES[name](spark, SF_SMOKE), QUERIES[name](spark, SF_SMOKE))
    finally:
        release_caches(spark)


def test_cache_stays_bounded_under_threads(spark, tmp_path, monkeypatch):
    """Three times more plans than the bound, built and re-issued from
    eight threads: the cache never holds more than its bound and every
    call returns its own query's plan."""
    bound = 8
    monkeypatch.setattr(registry, "_PLAN_CACHE_MAX", bound)
    probes = [
        registry._plan_cached(f"bounded_probe_{i}", lambda s, d, i=i: s.range(i + 1))
        for i in range(3 * bound)
    ]
    sizes, errors = [], []

    def worker(offset: int) -> None:
        try:
            for k in range(2 * len(probes)):
                i = (offset + k) % len(probes)
                df = probes[i](spark, str(tmp_path))
                assert df._jdf.queryExecution().analyzed().maxRows().get() == i + 1
                sizes.append(len(registry._PLANS))
        except Exception as e:  # noqa: BLE001 -- reported below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(k * 5,)) for k in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    try:
        assert not errors
        assert not any(t.is_alive() for t in threads)
        assert max(sizes) <= bound
    finally:
        for key in [k for k in registry._PLANS if k[0].startswith("bounded_probe_")]:
            registry._PLANS.pop(key, None)


@pytest.mark.parametrize("name", _benchmark_queries())
def test_reissued_plan_matches_fresh_build_after_release(spark, name):
    """A plan re-issued after ``release_caches`` (which leaves the plan
    cache in place) returns the rows of a fresh build."""
    first = QUERIES[name](spark, SF_SMOKE)
    first.write.format("noop").mode("overwrite").save()
    release_caches(spark)
    df = QUERIES[name](spark, SF_SMOKE)
    assert _same_plan(df, first)
    assert _rows(df) == _rows(QUERIES[name].__wrapped__(spark, SF_SMOKE))
