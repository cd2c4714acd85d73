"""The declared query surface.

This registry is the Spark-native successor of the reference's UDF
registries ``MAPPER_FUNCTIONS`` / ``REDUCER_FUNCTIONS``
(``/root/reference/MapReduce.py:51-52``) -- queries addressed by name,
pluggable by adding an entry.  Each entry pairs a DataFrame builder
``(spark, sf_dir) -> DataFrame`` with (where SQL-expressible) a DuckDB
oracle string over the same parquet tables.

Column-name contract: every computed column is aliased identically in the
Spark plan and the oracle SQL -- the driver's comparator sorts columns by
name before hashing values.

Plan cache.  Every ``QUERIES`` entry builds its DataFrame once and
re-issues its analysed plan to later calls that would build the same
plan -- a prepared statement for named queries served many times.  The
contract:

* key: the query name, the session, ``abspath(sf_dir)`` and the
  session's full SQL config (``getAllConfs`` as one string, compared in
  full, so two configs never share an entry).  A build that changes the
  config (the events loader turns on ``nanosAsLong``) is stored under
  the config read after it;
* validity: the build's read log (``sources/tables.recording_reads``:
  the version of every parquet file it read, the index-store path it
  resolved).  A hit re-checks each with ``os.stat`` alone, no JVM call,
  and rebuilds on any change or missing file;
* gate: a build is stored only if every leaf of its plan with cached
  data substituted (``withCachedData``, subqueries included) is a
  ``LogicalRelation`` over paths the build recorded, a ``LocalRelation``,
  ``OneRowRelation``, ``Range`` or a ``CTERelationRef`` (its definition
  is checked in the same plan).  A ``LogicalRDD`` (``localCheckpoint``
  output; holding it would pin checkpoint blocks), an
  ``InMemoryRelation`` (a persisted intermediate that
  ``session.release_caches`` drops), a streaming source, a catalog table
  or an unversioned read keeps the query rebuilding on every call;
* bound: the ``_PLAN_CACHE_MAX`` most recently used plans, in process,
  behind a lock.  ``session.release_caches`` leaves them in place: it
  drops cached data, and the cache holds plans only.

A hit is a new DataFrame over the held analysed plan (``Dataset.ofRows``,
which skips analysis for an analysed plan): it plans and executes in its
own ``QueryExecution``, under the cached data and physical settings of
the moment it runs, as a fresh build would; only the analysed plan, with
its attribute ids, is shared.  So a caller must not join two results of
one query with each other (the ids would clash); operators call each
other's plain functions, never ``QUERIES``.

A hit runs no builder code, so a builder's side effects on the session
are not repeated.  The SQL-text builders (``plans/sql_surface.py``,
``relational.grouping_sets_sales``) register temp views before calling
``spark.sql``; after a hit those views stay as the last build left them,
possibly over another ``sf_dir``.  The re-issued plan is unaffected (the
views' plans were inlined when it was analysed), and no caller in this
repository reads those views after the query returns.

Only repeated calls gain: a call is a hit when the same session already
built the same query over the same ``sf_dir`` and config, with its files
unchanged.  A first call pays the build plus the gate (one
``withCachedData`` pass over the plan's leaves).
"""

from __future__ import annotations

import functools
import os
import threading
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from ..operators import (
    dedup,
    graph,
    join_strategies,
    multimodal,
    pipeline,
    relational,
    similarity,
    statistics,
    temporal,
    text_analysis,
    wordcount,
)
from ..sources import tables
from ..streaming import STREAMING_QUERIES

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


_PLAN_CACHE_MAX = 64
# key -> (analysed plan, read log)
_PLANS: OrderedDict[tuple, tuple[object, tuple]] = OrderedDict()
_PLANS_LOCK = threading.Lock()
# Leaves that hold no data from outside the plan (file relations are
# checked against the build's read log).
_SELF_CONTAINED_LEAVES = frozenset({"LocalRelation", "OneRowRelation", "Range", "CTERelationRef"})


@functools.lru_cache(maxsize=16)
def _jvm_handles(spark: SparkSession) -> tuple:
    """The session's SQLConf and the JVM ``Dataset`` class."""
    return spark._jsparkSession.sessionState().conf(), spark._jvm.org.apache.spark.sql.classic.Dataset


def _conf(spark: SparkSession) -> str:
    return _jvm_handles(spark)[0].getAllConfs().toString()


def _local_path(uri: str) -> str | None:
    if not uri.startswith("file:"):
        return None
    return os.path.normpath(uri[len("file:") :])


def _reissuable(spark: SparkSession, plan, paths: set[str]) -> bool:
    """Whether every leaf of the analysed ``plan``, with cached data
    substituted, is a recorded file or self-contained (the gate of the
    module docstring)."""
    if plan.isStreaming():
        return False
    qe = _jvm_handles(spark)[1].ofRows(spark._jsparkSession, plan).queryExecution()
    with_cached = qe.withCachedData()
    subs = with_cached.subqueriesAll()
    for leaves in (with_cached.collectLeaves(), *(subs.apply(i).collectLeaves() for i in range(subs.size()))):
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            kind = leaf.nodeName()
            if kind == "LogicalRelation":
                try:
                    roots = leaf.relation().location().rootPaths().mkString("\n")
                except Exception:  # noqa: BLE001 -- not a file relation
                    return False
                if not all(_local_path(r) in paths for r in roots.split("\n")):
                    return False
            elif kind not in _SELF_CONTAINED_LEAVES:
                return False
    return True


def _plan_cached(name: str, fn: QueryFn) -> QueryFn:
    """``fn`` behind the plan cache (see the module docstring)."""

    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        where = (name, spark, os.path.abspath(sf_dir))
        key = (*where, _conf(spark))
        with _PLANS_LOCK:
            hit = _PLANS.get(key)
            if hit is not None:
                _PLANS.move_to_end(key)
        if hit is not None:
            plan, reads = hit
            if tables.reads_unchanged(reads):
                jdf = _jvm_handles(spark)[1].ofRows(spark._jsparkSession, plan)
                return ClassicDataFrame(jdf, spark)
            with _PLANS_LOCK:
                _PLANS.pop(key, None)
        with tables.recording_reads() as log:
            df = fn(spark, sf_dir)
        reads = tuple(dict.fromkeys(log))
        plan = df._jdf.queryExecution().analyzed()
        if _reissuable(spark, plan, tables.read_paths(reads)):
            with _PLANS_LOCK:
                _PLANS[(*where, _conf(spark))] = (plan, reads)
                while len(_PLANS) > _PLAN_CACHE_MAX:
                    _PLANS.popitem(last=False)
        return df

    return build


def _register(name: str, fn: QueryFn, oracle: str | None) -> None:
    QUERIES[name] = _plan_cached(name, fn)
    if oracle is not None:
        ORACLES[name] = oracle


# --- reference parity (SURVEY.md §2, M0/M1) ---------------------------------
_register("wordcount", wordcount.word_count, wordcount.word_count_oracle())
# same semantics/oracle as wordcount; declared for its skew-safe plan shape
_register("wordcount_salted", wordcount.word_count_salted, wordcount.word_count_oracle())
_register("inverted_index", wordcount.inverted_index, wordcount.inverted_index_oracle())
_register(
    "inverted_index_postings",
    wordcount.inverted_index_postings,
    wordcount.inverted_index_postings_oracle(),
)
_register(
    "inverted_index_positional",
    wordcount.inverted_index_positional,
    wordcount.inverted_index_positional_oracle(),
)
# Reference-native map shape, rendered as canonical JSON so rows hash
# (the MapType library form is wordcount.inverted_index_maptype).
_register(
    "inverted_index_map",
    wordcount.inverted_index_map,
    wordcount.inverted_index_map_oracle(),
)
# round-7: delta-gap compression estimate over the reference's own index
_register(
    "inverted_index_size_estimate",
    wordcount.inverted_index_size_estimate,
    wordcount.inverted_index_size_estimate_oracle(),
)

# --- relational core (SURVEY.md §7 M2) --------------------------------------
for _name, _fn, _oracle in relational.RELATIONAL_QUERIES:
    _register(_name, _fn, _oracle)

# --- join strategies: salted skew join, bucket-colocated join -----------------
for _name, _fn, _oracle in join_strategies.JOIN_STRATEGY_QUERIES:
    _register(_name, _fn, _oracle)

# --- dedup suite (north star: training-data pipeline ops) -------------------
for _name, _fn, _oracle in dedup.DEDUP_QUERIES:
    _register(_name, _fn, _oracle)

# --- graph analytics over the near-dup evidence graph ------------------------
for _name, _fn, _oracle in graph.GRAPH_QUERIES:
    _register(_name, _fn, _oracle)

# --- similarity search -------------------------------------------------------
for _name, _fn, _oracle in similarity.SIMILARITY_QUERIES:
    _register(_name, _fn, _oracle)

# --- text analysis -----------------------------------------------------------
for _name, _fn, _oracle in text_analysis.TEXT_ANALYSIS_QUERIES:
    _register(_name, _fn, _oracle)

# --- composed curation pipeline ----------------------------------------------
for _name, _fn, _oracle in pipeline.PIPELINE_QUERIES:
    _register(_name, _fn, _oracle)

# --- distribution statistics + deterministic sampling ------------------------
for _name, _fn, _oracle in statistics.STATISTICS_QUERIES:
    _register(_name, _fn, _oracle)

# --- temporal joins (as-of, range) ------------------------------------------
for _name, _fn, _oracle in temporal.TEMPORAL_QUERIES:
    _register(_name, _fn, _oracle)

# --- event-time windowing (batch twins of the streaming plans) ---------------
for _name, _fn, _oracle in STREAMING_QUERIES:
    _register(_name, _fn, _oracle)

# --- multimodal binary columns ------------------------------------------------
for _name, _fn, _oracle in multimodal.MULTIMODAL_QUERIES:
    _register(_name, _fn, _oracle)

# --- SQL-text surface: identical ANSI text on Spark and DuckDB ---------------
from .sql_surface import SQL_SURFACE_QUERIES  # noqa: E402  (avoids circular import)

for _name, _fn, _oracle in SQL_SURFACE_QUERIES:
    _register(_name, _fn, _oracle)


# --- driver correctness window ordering --------------------------------------
# The driver's per-round correctness gate hashes the FIRST 50 registry
# entries (CORRECTNESS_r01.json == first 50 of registration order), so
# iteration order is part of the driver contract.  The window below puts
# one-or-more representatives of EVERY operator family (COVERAGE.md
# tables) inside the gate -- LLM-pipeline operators ahead of relational
# variants, which were all driver-green in round 1 and remain covered by
# tools/sweep.py + pytest.  tests/test_plans.py pins window membership
# per family so registry growth can't silently push a family dark.
DRIVER_WINDOW = 50

# Round-12 rotation (VERDICT r11 items #1-#2): drain the ENTIRE
# never-driver-hashed backlog in one window -- the 42 queries added
# after the r11 rotation (COVERAGE.md "queued r12" list, including the
# 4 r11-deferred siblings and the 2 rows-only stragglers) -- plus the
# pin-required anchors (the reference's own two queries, the sole
# streaming/join_strategies members, one multimodal and one sql_surface
# representative, all driver-green in r11 or earlier).  After this bank,
# every oracle-checked query in the registry holds a driver hash with
# zero exceptions.  42 + 6 anchors = 48; the remaining 2 slots bank this
# round's new operators the same round they land (the r11 verdict's
# window-capacity rule: post-rotation additions may not exceed
# DRIVER_WINDOW minus the anchor set).  Two in-window queries carry
# deliberate round-12 VALUE changes, banked fresh here:
# item_item_cofilter_topk (customer fan-out cap, VERDICT r11 #1) and
# simhash_band_width_audit (wide-geometry row, VERDICT r11 #3).  Every
# rotated-out query keeps its prior banked hash and stays covered by
# tools/sweep.py + pytest.
PRIORITY_FAMILIES: dict[str, tuple[str, ...]] = {
    # reference parity: the reference's own two queries stay pinned
    "parity": (
        "wordcount",  # anchor (driver-green r1-r11)
        "inverted_index",  # anchor (driver-green r1-r11)
        "inverted_index_size_estimate",  # never-hashed (deferred r11)
    ),
    "dedup": (
        "prefix_filter_jaccard_join",  # queued r12
        "simhash_band_width_audit",  # queued r12 (+ r12 wide-geometry row)
        "dbscan_lsh_clusters",  # queued r12
        "dedup_sorted_neighborhood",  # queued r12
        "cdc_chunk_dedup",  # queued r12
        "leakage_safe_split_audit",  # queued r12
    ),
    "graph": (
        "link_prediction_scores",  # queued r12
        "khop_reach_profile",  # queued r12
        "ktruss_peel_funnel",  # queued r12
    ),
    "similarity": (
        "ann_rank_quality_curve",  # queued r12
        "ann_ivf_residual_pq_topk",  # queued r12
        "pq_residual_gain_audit",  # queued r12
        "jl_projection_distortion",  # queued r12
        "ann_filtered_topk",  # queued r12
        "ann_filter_recall_audit",  # queued r12
        "kcenter_coreset_select",  # queued r12
        "rbo_rank_overlap",  # queued r12
    ),
    "text": (
        "cms_width_error_curve",  # queued r12
        "bm25_topk_docs",  # queued r12
        "dirichlet_ql_topk_docs",  # queued r12
        "unigram_piece_candidates",  # queued r12
        "unigram_lm_learn",  # queued r12 (rows-only by design)
        "gate_agreement_kappa",  # queued r12
        "conformal_quality_threshold",  # queued r12 (+ r12 degenerate guard)
        "repeated_passage_windows",  # never-hashed (deferred r11)
        "text_bigrams",  # never-hashed (deferred r11)
        "text_normalize",  # never-hashed (deferred r11)
        # round-12's own additions, banked the round they land (the two
        # slots the anchor arithmetic leaves free)
        "js_divergence_sources",  # NEW r12
        "heaps_law_fit",  # NEW r12
    ),
    "pipeline": ("dp_sensitivity_audit",),  # queued r12
    "statistics": (
        "mann_whitney_u_test",  # queued r12
        "kruskal_wallis_h_test",  # queued r12
        "hill_tail_index",  # queued r12
        "ljung_box_test",  # queued r12
        "weighted_reservoir_sample",  # queued r12
        "stratified_quota_alloc",  # queued r12
        "geomean_event_value",  # never-hashed (rows-only by design)
        "value_decile_features_approx",  # never-hashed (rows-only by design)
    ),
    "relational": (
        "item_item_cofilter_topk",  # queued r12 (+ r12 fan-out cap)
        "pareto_frontier_customers",  # queued r12
        "audience_overlap_matrix",  # queued r12
    ),
    "temporal": (
        "holt_linear_smooth",  # queued r12
        "forecast_backtest_mase",  # queued r12
    ),
    "streaming": ("tumbling_window_events",),  # anchor (green r2-r11)
    "multimodal": ("multimodal_bytes_histogram",),  # anchor (green r11)
    "join_strategies": ("skew_join_salted",),  # anchor (green r2-r11)
    "sql_surface": ("q15_top_supplier_sql",),  # anchor (green r11)
}

PRIORITY_WINDOW: tuple[str, ...] = tuple(
    name for members in PRIORITY_FAMILIES.values() for name in members
)


def _reorder() -> None:
    global QUERIES
    missing = [n for n in PRIORITY_WINDOW if n not in QUERIES]
    if missing:  # fail loudly at import: a typo here would dark a family
        raise KeyError(f"PRIORITY_WINDOW names not registered: {missing}")
    ordered = {n: QUERIES[n] for n in PRIORITY_WINDOW}
    ordered.update((n, f) for n, f in QUERIES.items() if n not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder()
