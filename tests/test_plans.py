"""Physical-plan audits: the 100 TB posture is a property of the PLAN,
not the result.  These tests pin the plan shapes that matter at scale so
a refactor can't silently regress them (e.g. a filter that stops pushing
into the parquet scan, or a dim join that stops broadcasting)."""

from __future__ import annotations

import re

import pytest

from mapreduce_on_google_cloud_platform_spark.plans import QUERIES
from mapreduce_on_google_cloud_platform_spark.session import release_caches

from .conftest import SF_SMOKE


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read unused columns like l_orderkey
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" not in scan and "l_partkey" not in scan


def test_q1_partial_aggregation(spark):
    """Map-side partial agg is exactly what the reference lacked (no
    combiner, SURVEY.md §4): every group-by must show a partial pass."""
    plan = plan_of(spark, "q1_pricing_summary")
    assert "partial_" in plan or "Partial" in plan


def test_q5_broadcasts_dimensions(spark):
    plan = plan_of(spark, "q5_region_revenue")
    assert "BroadcastHashJoin" in plan


def test_wordcount_partial_agg_and_pruning(spark):
    """The tokenize Generate is HOF-based (no codegen, acceptable: cost is
    per token either way); what must hold is (a) map-side partial counts
    before the single exchange -- the combiner the reference never had --
    and (b) the scan reading ONLY the text column."""
    import re

    plan = plan_of(spark, "wordcount")
    assert "partial_count" in plan
    # formatted explain lists each operator twice (tree + detail): count
    # the detail headers
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "text" in scan and "doc_id" not in scan


def test_topk_avoids_global_sort(spark):
    """global top-10 must plan as TakeOrderedAndProject (per-partition
    top-k + driver merge), never a full global Sort+Exchange."""
    plan = plan_of(spark, "global_topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_operators(spark):
    assert "LeftSemi" in plan_of(spark, "high_value_customers_semi")
    assert "LeftAnti" in plan_of(spark, "customers_without_orders")


def test_ann_bruteforce_broadcasts_queries(spark):
    """The query side (small) must broadcast; the corpus side must NOT
    shuffle for the scoring pass."""
    plan = plan_of(spark, "ann_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "q3_shipping_priority", "tumbling_window_events"],
)
def test_no_python_udf_in_relational_paths(spark, name):
    """Relational/window operators must stay JVM-side (no Python eval)."""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_asof_join_is_single_shuffle_no_join(spark):
    """The MERGE formulation's whole point: union + one window, no join
    node, exactly one exchange (on user_id)."""
    import re

    plan = plan_of(spark, "asof_join_purchase_view")
    assert "Join" not in plan  # no SortMergeJoin/BroadcastHashJoin/...
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "Window" in plan


def test_range_join_keeps_equi_key(spark):
    """The band predicate must ride the user_id equi-join (hash/merge),
    never degrade to a nested-loop over the cross product."""
    plan = plan_of(spark, "range_join_purchase_views_1h")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "partial_count" in plan or "Partial" in plan


def test_tfidf_partial_aggs_and_pruned_scan(spark):
    plan = plan_of(spark, "text_tfidf")
    assert "partial_count" in plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "text" in scan and "lang" not in scan and "source" not in scan


def test_sample_pushes_nothing_python(spark):
    plan = plan_of(spark, "sample_stratified")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_" in plan or "Partial" in plan


def test_salted_wordcount_two_stage(spark):
    """The salted variant must show BOTH aggregation rounds (word,_salt
    then word) with partial passes — i.e. the hot key is split before any
    single reducer sees it."""
    import re

    plan = plan_of(spark, "wordcount_salted")
    assert "partial_count" in plan and "partial_sum" in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2


@pytest.mark.parametrize(
    "name,n_exchanges",
    [
        ("inverted_index", 1),
        ("inverted_index_postings", 2),
        ("inverted_index_positional", 1),
    ],
)
def test_doc_keyed_indexes_shuffle_documents_once(spark, name, n_exchanges):
    """The doc-keyed indexes hash-partition the raw documents on doc_id
    with an explicit count before tokenizing: that one exchange satisfies
    groupBy(word, doc_id) and Window.partitionBy(doc_id), so the token
    rows never shuffle, and AQE does not coalesce it back to one task."""
    # quality_gate_stack and cochran_q_test persist this same token
    # stream; a cache another test left behind would stand in for it
    release_caches(spark)
    n = spark.conf.get("spark.sql.shuffle.partitions")
    plan = plan_of(spark, name)
    assert re.search(
        rf"^Arguments: hashpartitioning\(doc_id#\d+L, {n}\), REPARTITION_BY_NUM",
        plan,
        re.M,
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == n_exchanges

    df = QUERIES[name](spark, SF_SMOKE)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    doc_exchange = rf"Exchange hashpartitioning\(doc_id#\d+L, {n}\), REPARTITION_BY_NUM"
    assert re.search(doc_exchange, final)
    assert not re.search(
        rf"AQEShuffleRead[^\n]*\n[^\n]*ShuffleQueryStage[^\n]*\n[^\n]*{doc_exchange}",
        final,
    )


def test_q6_no_join_single_exchange_full_pushdown(spark):
    """Q6 is the pure pushdown benchmark: every predicate must reach the
    parquet scan and the whole query is one partial+final agg pair."""
    import re

    plan = plan_of(spark, "q6_forecast_revenue")
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan


def test_q10_broadcast_dim_and_topk(spark):
    """nation must broadcast and the top-20 must plan as
    TakeOrderedAndProject, never a global Sort+Exchange."""
    plan = plan_of(spark, "q10_returned_items")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q19_disjunction_pushed_to_both_scans(spark):
    """The OR-of-conjunctions must be CNF-extracted so a residual
    disjunction reaches BOTH the lineitem and part scans as a pushed
    filter (not evaluated only post-join)."""
    plan = plan_of(spark, "q19_disjunctive_revenue")
    assert plan.count("Or(Or(") >= 2


def test_q16_not_in_plans_as_broadcast_anti_join(spark):
    """The NOT IN exclusion subquery must decorrelate to a broadcast
    LeftAnti hash join (tiny excluded-supplier set), never a per-row
    subquery or a shuffled anti join of the fact side."""
    plan = plan_of(spark, "q16_supplier_diversity")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_q20_in_subquery_plans_as_semi_join(spark):
    """The qualifying-supplier IN-subquery must plan as LeftSemi: the
    supplier table is probed once, no duplicate expansion."""
    plan = plan_of(spark, "q20_heavy_shippers")
    assert "LeftSemi" in plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime row-level filtering: with a selective build side, Spark
    injects a bloom filter (might_contain over xxhash64) into the
    probe-side scan so most lineitem rows die before the join shuffle --
    a first-class 100 TB lever next to DPP.  Thresholds are lowered so
    the rule fires at test scale; configs are restored afterwards."""
    from mapreduce_on_google_cloud_platform_spark.sources import load_table

    from .conftest import SF_SMOKE

    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        orders = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_SMOKE, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_shuffle_hash_join_hint_is_honored(spark):
    """Join-strategy hints are part of the tuning surface: when a side is
    too big to broadcast but small enough to hash per-partition, the
    SHUFFLE_HASH hint must replace sort-merge (saving both sides' sorts).
    """
    from mapreduce_on_google_cloud_platform_spark.sources import load_table

    from .conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders").hint("shuffle_hash")
    li = load_table(spark, SF_SMOKE, "lineitem")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select("o_custkey")
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "ShuffledHashJoin" in plan
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.slow
def test_no_row_at_a_time_python_anywhere(spark):
    """Global invariant over the WHOLE registry: no oracle-checked query
    may contain a row-at-a-time Python UDF (BatchEvalPython).  Arrow-
    batched Python (ArrowEvalPython / mapInPandas) is allowed only in
    the declared rows-only multimodal/fingerprint paths."""
    from mapreduce_on_google_cloud_platform_spark.plans import ORACLES, QUERIES

    arrow_ok = {"doc_fingerprint", "multimodal_features", "multimodal_resize",
                "multimodal_frame_sample"}
    for name, fn in QUERIES.items():
        plan = fn(spark, SF_SMOKE)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"
        if name in ORACLES and name not in arrow_ok:
            assert "ArrowEvalPython" not in plan, f"{name}: unexpected Python"
        spark.catalog.clearCache()


def test_aqe_coalesces_shuffle_partitions_at_runtime(spark):
    """AQE is a load-bearing scale claim (SCALING.md: declared shuffle
    counts are starting points, not destiny): after execution, a small
    shuffle must show AQEShuffleRead with fewer partitions than the
    static spark.sql.shuffle.partitions."""
    from mapreduce_on_google_cloud_platform_spark.sources import load_table

    from .conftest import SF_SMOKE

    df = load_table(spark, SF_SMOKE, "nation").groupBy("n_regionkey").count()
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in executed
    assert "coalesced" in executed


def test_session_factory_contract(spark):
    """The tuned session settings the whole engine assumes: AQE +
    coalescing + skew handling on, UTC event-time, Arrow interchange."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_skew_join_salted_shape(spark):
    """The salted skew join must (a) stay on the sort-merge path (a
    broadcast would hide the shape under test), and (b) join on the
    composite (key, salt) so the hot house-account key spreads across
    SALT_BUCKETS tasks instead of one."""
    plan = plan_of(spark, "skew_join_salted")
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "_salt" in plan


def test_colocated_bucket_join_no_exchange_no_sort(spark):
    """Bucket-colocated orders x lineitem: the join itself must add NO
    Exchange and NO Sort (both sides pre-bucketed AND bucket-sorted on
    the order key at write time); the only exchange in the whole plan is
    the final groupBy on o_orderpriority."""
    import re

    from mapreduce_on_google_cloud_platform_spark.plans import QUERIES

    df = QUERIES["colocated_bucket_join"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SortMergeJoin" in plan
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1, f"want only the agg exchange, got {len(exchanges)}"
    # the join's children must need no per-task sort: bucket sortBy did it
    smj_pos = plan.index("SortMergeJoin")
    assert len(re.findall(r"^\(\d+\) Sort", plan[:smj_pos], re.M)) == 0
    assert "SelectedBucketsCount" in plan


def test_driver_window_covers_every_family(spark):
    """The driver's correctness gate hashes only the first DRIVER_WINDOW
    registry entries; pin that the window contains representatives of
    every operator family so registry growth can't push a family dark."""
    from mapreduce_on_google_cloud_platform_spark.plans.registry import (
        DRIVER_WINDOW,
        PRIORITY_FAMILIES,
        PRIORITY_WINDOW,
    )

    names = list(QUERIES)
    window = set(names[:DRIVER_WINDOW])
    assert list(names[: len(PRIORITY_WINDOW)]) == list(PRIORITY_WINDOW)
    assert len(PRIORITY_WINDOW) <= DRIVER_WINDOW, (
        "window overflows the driver's hash budget: entries past "
        f"{DRIVER_WINDOW} are silently not hashed"
    )
    # every declared family must have at least one member inside the
    # hashed window, and the reference's own two queries stay pinned
    assert {"wordcount", "inverted_index"} <= window
    expected_families = {
        "parity", "dedup", "graph", "similarity", "text", "pipeline",
        "statistics", "relational", "temporal", "streaming", "multimodal",
        "join_strategies", "sql_surface",
    }
    assert set(PRIORITY_FAMILIES) == expected_families
    for family, members in PRIORITY_FAMILIES.items():
        assert members, f"family {family} has no window members"
        assert set(members) <= window, (
            f"family {family} not fully in driver window"
        )


def test_exact_allpairs_guard_refuses_past_cap(spark):
    """The declared-exact all-pairs oracles must refuse to build their
    quadratic plan past the sample cap (VERDICT r3 standing item #4)."""
    from mapreduce_on_google_cloud_platform_spark.operators.dedup import (
        dedup_embedding_pairs,
    )
    from mapreduce_on_google_cloud_platform_spark.operators.similarity import (
        ann_topk_bruteforce,
    )

    for fn in (dedup_embedding_pairs, ann_topk_bruteforce):
        with pytest.raises(ValueError, match="sample cap"):
            fn(spark, SF_SMOKE, max_rows=10)
        # within budget: plan builds and stays non-empty
        assert fn(spark, SF_SMOKE).limit(1).count() == 1


def test_exact_allpairs_guard_default_cap_sane():
    from mapreduce_on_google_cloud_platform_spark.operators.guards import (
        EXACT_PAIRS_MAX_ROWS,
    )

    # big enough for every shipped SF (2k vectors at sf0.1), small enough
    # that the quadratic plan stays tractable
    assert 2_000 < EXACT_PAIRS_MAX_ROWS <= 200_000


def test_q21_single_aggregate_replaces_correlated_exists(spark):
    """Q21's EXISTS / NOT EXISTS pair must stay collapsed into the
    per-order aggregate: exactly one count-distinct expand over lineitem,
    partial aggregation present, and no CartesianProduct anywhere."""
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    # the per-order distinct-supplier aggregate shuffles on the order key
    assert "hashpartitioning(l_orderkey" in plan


def test_embedding_lsh_joins_on_bucket_not_allpairs(spark):
    """The bucketed near-dup path must join on the LSH bucket (equi-join)
    and never fall back to a cartesian/nested-loop all-pairs plan."""
    plan = plan_of(spark, "dedup_embedding_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan


def test_semantic_hybrid_verifies_candidates_only(spark):
    """The text-verification stage must stay candidate-bounded: since
    round 10 it probes the materialized exact-pair index (a parquet scan
    of jaccard_pairs, left-joined to the semantic candidates) instead of
    recomputing a candidate-restricted shingle self-join -- no quadratic
    stage either way."""
    plan = plan_of(spark, "semantic_dedup_hybrid")
    assert "jaccard_pairs" in plan  # the materialized index scan
    assert "CartesianProduct" not in plan


def test_split_and_decile_stay_single_shuffle_shapes(spark):
    """train_test_split_events: two-phase distinct aggregate (partial
    map-side) on a hash-derived label; value_decile_features: one window
    sort per type, no joins at all."""
    plan = plan_of(spark, "train_test_split_events")
    assert "partial_count" in plan and "md5" in plan
    plan = plan_of(spark, "value_decile_features")
    assert "ntile" in plan and "Join" not in plan


def test_repetition_filter_is_single_pass(spark):
    """The unpivoted formulation: ONE corpus scan feeds all three gram
    statistics -- no per-gram-type rescan, no join-back on doc_id."""
    plan = plan_of(spark, "text_repetition_filter")
    # count scans in the tree section only: the formatted detail section
    # repeats every node name once more
    assert plan.split("\n\n")[0].count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" in plan  # the lead() pass that builds 2/3-grams


def test_mixture_sample_is_scan_local_predicate(spark):
    """Membership is decided row-locally (md5 in the project, no shuffle
    to sample); the only exchanges are the report rollup + final sort."""
    plan = plan_of(spark, "corpus_mixture_sample")
    assert "md5" in plan
    assert "Join" not in plan
    assert plan.split("\n\n")[0].count("Exchange") <= 2


def test_quantize_broadcasts_bounds_not_vectors(spark):
    """Per-dim bounds (64 rows) broadcast back to the exploded stream;
    the vector side must never shuffle for the join."""
    plan = plan_of(spark, "embedding_quantize_int8")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # two linear passes -- bounds pass + error pass -- and nothing more
    assert plan.split("\n\n")[0].count("Scan parquet") == 2


def test_snapshot_diff_pushes_date_filters(spark):
    """Both snapshot scans must push their date cutoffs into parquet and
    meet in a single full-outer shuffle join; the rollup partial-aggs."""
    plan = plan_of(spark, "snapshot_diff_orders")
    assert "FullOuter" in plan
    assert plan.count("LessThan(o_orderdate") == 2
    assert "partial_count" in plan


def test_geomean_exact_is_jvm_only_two_phase(spark):
    """The scale-path geomean: no Python/Arrow evaluation anywhere, the
    value>0 filter pushed to the scan, decimal log-sum partial-agg'd."""
    plan = plan_of(spark, "geomean_event_value_exact")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "AggregateInPandas" not in plan
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value," in plan
    assert "partial_" in plan or "Partial" in plan


def test_int8_topk_broadcasts_queries_and_stays_integer(spark):
    """The quantized brute-force path: query side broadcast (never a
    corpus shuffle for the score join), integer zip_with/aggregate score
    (no float expressions in the ranking)."""
    plan = plan_of(spark, "ann_int8_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_unigram_logprob_single_token_scan_shared(spark):
    """The unigram LM trains and scores in one plan: JVM-only (no
    Python eval), frequency join NOT forced broadcast (vocabulary size
    is corpus-dependent), per-doc rollup partial-agg'd."""
    plan = plan_of(spark, "text_unigram_logprob")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial_count" in plan


def test_dsir_broadcasts_bucket_model_and_stays_jvm(spark):
    """The DSIR scorer: the 256-row scored-bucket model must broadcast
    back onto the feature stream (the stream never shuffles for the
    join), the bucket/doc aggregations partial-agg, and nothing drops to
    Python."""
    import re

    plan = plan_of(spark, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # every window is the doc_id bigram lead -- nothing partitionless
    # (the one SinglePartition exchange is the scalar totals aggregate:
    # map-side partials reduce it to one row per task first)
    wins = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert wins and set(wins) == {"doc_id"}
    # the model + scoring branches share ONE feature stream at runtime:
    # AQE must stitch the repeated subtrees back via exchange reuse
    df = QUERIES["dsir_importance_weights"](spark, SF_SMOKE)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ReusedExchange") >= 2


def test_vocab_rank_window_consumes_the_aggregate(spark):
    """vocab_table's global dense_rank is acceptable ONLY because its
    input is the post-aggregation vocabulary (bounded, Zipf-limited),
    never the token stream: in the plan tree the one Window must sit
    ABOVE a partial-agg'd HashAggregate (its input), so a refactor can't
    silently move the rank onto unbounded input."""
    import re

    plan = plan_of(spark, "vocab_table")
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1
    assert "partial_count" in plan
    win_line = next(i for i, l in enumerate(tree.splitlines()) if "Window" in l)
    agg_line = next(
        i for i, l in enumerate(tree.splitlines()) if "HashAggregate" in l
    )
    assert win_line < agg_line  # parents print above children: window eats agg


def test_rfm_approx_has_no_sort_no_window(spark):
    """The sketch-bounded RFM scale path: quintile bounds from one
    combinable percentile_approx aggregate, broadcast back (single-row
    BNLJ), scores as scan-local comparisons -- no window, no global sort
    of the customer aggregate (VERDICT r4 item #2).  Targets the raw
    scorer: the DECLARED query is the round-7 audit form, which joins
    in the exact (windowed) twin by design."""
    from mapreduce_on_google_cloud_platform_spark.operators.relational import (
        _rfm_scores_approx,
    )

    plan = (
        _rfm_scores_approx(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan  # nb: 'ntile' is a substring of 'percentile'
    assert "BroadcastNestedLoopJoin" in plan
    assert "percentile_approx" in plan


def test_packing_prefix_sum_has_no_single_partition_stage(spark):
    """token_budget_packing's two-pass prefix sum: the corpus cumsum must
    run as a PARTITIONED window (one sort per doc_id range, all parallel)
    with the range offsets folded in as literals from the tiny driver-side
    totals scan -- no partitionless WindowExec, no SinglePartition
    exchange anywhere (VERDICT r4 item #1)."""
    import re

    plan = plan_of(spark, "token_budget_packing")
    assert "SinglePartition" not in plan
    windows = re.findall(r"^\(\d+\) Window", plan, re.M)
    assert len(windows) == 1
    # the one window is partitioned by the range id
    assert "windowspecdefinition(rng" in plan


def test_decile_approx_has_no_sort_on_the_event_stream(spark):
    """The whole point of the sketch path: bounds from a combinable
    aggregate, broadcast back, NO window/sort over the event stream."""
    plan = plan_of(spark, "value_decile_features_approx")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_percentile_approx" in plan or "percentile_approx" in plan


def test_hybrid_rrf_takes_ordered_and_broadcasts(spark):
    """hybrid_search_rrf: each arm's top-K must be TakeOrdered (per-
    partition heap + driver merge), never a global Sort+Exchange of the
    scored stream; the query-term prune and the scalar stats must ride
    broadcasts; nothing Python."""
    plan = plan_of(spark, "hybrid_search_rrf")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "Python" not in plan


def test_skew_profile_takes_ordered_no_global_sort(spark):
    """join_key_skew_profile: heavy-key selection is TakeOrdered over
    the per-key aggregate; stats ride a broadcast scalar."""
    plan = plan_of(spark, "join_key_skew_profile")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_round5_text_ops_are_windowless_jvm_aggregates(spark):
    """char entropy / heavy hitters / sketch profile / decayed value:
    pure (partial-agg) groupBy pipelines -- no window operator at all,
    no Python, map-side combine present."""
    for name in (
        "text_char_entropy",
        "heavy_hitter_words",
        "distinct_users_sketch_profile",
        "time_decayed_user_value",
    ):
        plan = plan_of(spark, name)
        assert "Window" not in plan, name
        assert "Python" not in plan, name
        assert "partial_" in plan or "Partial" in plan, name


def test_repeated_passages_single_window_stream_reuse(spark):
    """repeated_passage_windows: the lead() window is PARTITIONED by
    doc_id (parallel), and the corpus-cardinality window stream is
    collapsed once into the persisted (doc, fp, cnt) table -- the plan
    must reuse that InMemoryRelation, not re-derive the stream."""
    plan = plan_of(spark, "repeated_passage_windows")
    assert "InMemoryTableScan" in plan
    assert "Python" not in plan


def test_pq_adc_all_joins_broadcast(spark):
    """pq_adc_topk: codebook/LUT joins and the rerank's query side are
    broadcast -- no sort-merge join anywhere; the only shuffles belong
    to the encode aggregate and the per-query windows."""
    plan = plan_of(spark, "pq_adc_topk")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_rollup_cascade_reuses_materialized_hourly(spark):
    """event_rollup_cascade: all three levels must read the persisted
    hourly aggregate (one InMemoryTableScan per union branch), so raw
    events are scanned only by the cache builder.  (The formatted plan
    re-prints the cache builder's subtree under each InMemoryTableScan,
    so counting 'Scan parquet' occurrences in the text would be
    misleading -- the cached relation is still built once.)"""
    plan = plan_of(spark, "event_rollup_cascade")
    assert plan.count("InMemoryTableScan") >= 3


def test_profile_ops_are_windowless_combinable_aggregates(spark):
    """fertility / length buckets / hour-of-week: single combinable
    groupBy over the scan (tiny group counts -- |langs|, <64 buckets,
    168 cells), no window, no Python, partial aggregation present; the
    scalar total in hour-of-week arrives via a broadcast join, never a
    shuffle."""
    for name in (
        "tokenizer_fertility_by_lang",
        "length_bucket_profile",
        "hour_of_week_profile",
    ):
        plan = plan_of(spark, name)
        assert "Window" not in plan, name
        assert "Python" not in plan, name
        assert "partial_" in plan or "Partial" in plan, name
    assert "BroadcastExchange" in plan_of(spark, "hour_of_week_profile")


def test_new_dedup_ops_have_no_global_window(spark):
    """containment / survivors / exact-substring: any window in these
    plans must be PARTITIONED by doc_id (the parallel shingle/lead
    pass); a partitionless window over a corpus-cardinality stream
    would be the single-partition scale-killer the packing replan
    removed.  No Python anywhere in the row path."""
    for name in (
        "dedup_containment",
        "dedup_cluster_survivors",
        "exact_substring_dedup",
    ):
        plan = plan_of(spark, name)
        assert "Python" not in plan, name
        for line in plan.splitlines():
            if "windowspecdefinition" in line.lower():
                assert "doc_id" in line, (name, line)


def test_sequence_pack_windows_are_partitioned_only(spark):
    """sequence_pack_tokens inherits token_budget_packing's scale
    contract: the global token order comes from the two-pass prefix sum,
    so every window in the plan is partitioned (doc_id for the dense
    row_number, rng for the in-range cumsum) -- a partitionless window
    here would mean the corpus-cardinality stream is sorted on one
    partition."""
    plan = plan_of(spark, "sequence_pack_tokens")
    assert "Python" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "doc_id" in line or "rng" in line, line


def test_attribution_range_join_keeps_equi_key_no_window(spark):
    """The 24h-lookback touch join must ride the user_id hash join with
    the band as residual (never a nested loop / cartesian), and
    first/last-touch come from combinable min/max(struct) aggregates --
    no window over the fact stream."""
    plan = plan_of(spark, "purchase_attribution")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_" in plan or "Partial" in plan


def test_rfm_exact_has_no_partitionless_window(spark):
    """Round-6 re-plan pin (VERDICT r5 item #4): customer_rfm_features'
    quintiles must come from range-partitioned distributed ranks, never
    a global (partitionless) window -- every Window node in the
    optimized plan must carry a non-empty partition spec, and the
    physical plan must range-partition on each metric order."""
    import re

    df = QUERIES["customer_rfm_features"](spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    windows = re.findall(r"Window \[.*\], \[(.*?)\], \[", logical)
    assert windows, "expected Window nodes in the RFM plan"
    for part in windows:
        assert part.strip(), f"partitionless window found: [{part}]"
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" in physical


def test_source_cap_has_no_full_stream_source_window(spark):
    """Round-7 re-plan pin (VERDICT r6 item #2): source_frequency_cap
    must never rank the FULL document stream in a window partitioned by
    source alone (a mega-source would serialize into one task; AQE
    skew-split does not apply to window partitions).  The plan must be
    the two-phase top-K: a fine-grained (_split, source) local rank,
    then a source-only window that only ever sees the locally-capped
    survivor stream (it must sit ABOVE the local-rank filter in the
    top-down plan print)."""
    import re

    from mapreduce_on_google_cloud_platform_spark.operators.pipeline import SOURCE_CAP

    df = QUERIES["source_frequency_cap"](spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"Window \[.*?\], \[(.*?)\], \[", logical)
    assert any("_split" in s for s in specs), (
        f"expected a (_split, source) local-rank window, got {specs}"
    )
    cap_filter = re.search(rf"_lr#\d+ <= {SOURCE_CAP}\b", logical)
    assert cap_filter, "expected the local-rank cap filter in the plan"
    for m in re.finditer(r"Window \[.*?\], \[(.*?)\], \[", logical):
        spec = m.group(1)
        if "_split" in spec:
            continue
        assert "source" in spec, f"partitionless window found: [{spec}]"
        # top-down print: a parent prints before its children, so the
        # source-only window must print BEFORE the survivor filter
        assert m.start() < cap_filter.start(), (
            "source-only window ranks the full stream (prints below the "
            "local-cap filter)"
        )


def test_lang_budget_cumsum_is_range_partitioned(spark):
    """Round-7 re-plan pin (VERDICT r6 item #3): the per-language
    running token total must come from the two-pass range-partitioned
    prefix sum, never a lang-partitioned full-stream cumsum (English
    alone would serialize into one task).  Every Window in the plan
    must be keyed by the range id, and the physical plan must contain
    the range repartition."""
    import re

    df = QUERIES["lang_token_budget_selection"](spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"Window \[.*?\], \[(.*?)\], \[", logical)
    assert specs, "expected Window nodes in the plan"
    for spec in specs:
        assert "_rng" in spec, f"full-stream per-lang window found: [{spec}]"
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" in physical


def test_profile_similarity_band_join_keeps_equi_key(spark):
    """daily_profile_similarity's pair space must ride the event_type
    equi-key (hash/broadcast join with the day band as residual), never
    a nested-loop/cartesian over the profile table, and the top-K window
    must be partitioned (per type over the bounded band)."""
    import re

    df = QUERIES["daily_profile_similarity"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    for spec in re.findall(r"Window \[.*?\], \[(.*?)\], \[", logical):
        assert spec.strip(), "partitionless window in similarity plan"


def test_bloom_fpr_tracks_fill_rate(spark):
    """The audited filter must behave like a Bloom filter: the observed
    FPR of true non-member probes tracks fill_rate^k (independent-bit
    approximation) within binomial noise, and the exact integer columns
    reconcile."""
    from mapreduce_on_google_cloud_platform_spark.operators.join_strategies import (
        BLOOM_K,
        BLOOM_M_BITS,
    )
    from mapreduce_on_google_cloud_platform_spark.plans import QUERIES

    from .conftest import SF_ORACLE

    r = QUERIES["bloom_filter_fpr_audit"](spark, SF_ORACLE).collect()[0]
    assert r.m_bits == BLOOM_M_BITS and r.k_hashes == BLOOM_K
    assert 0 < r.n_bits_set <= min(BLOOM_M_BITS, BLOOM_K * r.n_keys)
    assert r.fill_rate == r.n_bits_set / BLOOM_M_BITS
    assert 0 < r.n_probes <= r.n_keys
    expected = r.fill_rate**BLOOM_K
    # mean +/- 5 sigma of Binomial(n_probes, expected), plus an absolute
    # floor so a tiny expectation can't fail on one lucky probe
    sigma = (r.n_probes * expected * (1 - expected)) ** 0.5
    assert abs(r.n_false_pos - r.n_probes * expected) <= 5 * sigma + 3


def test_quality_auc_has_no_partitionless_window(spark):
    """Round-7 addition pin: quality_score_auc's strictly-below negative
    cumsum must ride the range-partitioned two-pass prefix sum -- every
    Window node carries a partition spec (the _rng range id), and the
    physical plan range-partitions on the score order."""
    import re

    df = QUERIES["quality_score_auc"](spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    windows = re.findall(r"Window \[.*\], \[(.*?)\], \[", logical)
    assert windows, "expected the prefix-sum Window node"
    for part in windows:
        assert part.strip(), f"partitionless window found: [{part}]"
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" in physical


def test_ks_and_quantile_windows_ride_bounded_bin_tables(spark):
    """ks_drift_test / global_exact_quantiles window over AGGREGATED bin
    rows (value-range-bounded), never raw events: in the top-down plan
    print, every Window node must appear ABOVE the bin HashAggregate
    that collapses the event stream."""
    for name in ("ks_drift_test", "global_exact_quantiles"):
        df = QUERIES[name](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        w_pos = plan.index("Window")
        agg_positions = [
            i
            for i in range(len(plan))
            if plan.startswith("HashAggregate", i) and "bin" in plan[i : i + 400]
        ]
        assert agg_positions, f"{name}: expected a bin HashAggregate"
        assert any(i > w_pos for i in agg_positions), (
            f"{name}: no bin aggregate below the Window -- "
            "the window would be consuming raw events"
        )


def test_matryoshka_broadcasts_queries_never_corpus(spark):
    """matryoshka_dim_recall repeats the audited brute-force shape per
    truncation dim: every join with the corpus must be a broadcast of
    the query-set side (BroadcastNestedLoopJoin), never a corpus
    shuffle-for-scoring."""
    df = QUERIES["matryoshka_dim_recall"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_gini_has_no_partitionless_window(spark):
    """customer_spend_gini rides the same distributed range rank as RFM:
    every Window node must carry a partition spec and the physical plan
    must range-partition on the spend order."""
    import re

    df = QUERIES["customer_spend_gini"](spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    windows = re.findall(r"Window \[.*\], \[(.*?)\], \[", logical)
    assert windows, "expected Window nodes in the gini plan"
    for part in windows:
        assert part.strip(), f"partitionless window found: [{part}]"
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" in physical


def test_pq_distortion_all_joins_broadcast(spark):
    """pq_distortion_stats joins the code table with the fixed-point grid
    and 16 broadcast codebook slices: no sort-merge join, no cartesian,
    no nested loop -- every codebook lookup must stay map-side."""
    plan = plan_of(spark, "pq_distortion_stats")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan  # the per-subspace rollup combines


def test_minhash_lane_uniformity_no_join(spark):
    """The lane audit is a map-side explode of the signature index plus
    one combinable rollup -- no join of any kind may appear."""
    plan = plan_of(spark, "minhash_lane_uniformity")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_mad_outliers_windows_bounded_by_type(spark):
    """daily_value_mad_outliers ranks on the POST-AGGREGATE daily table:
    every window must be partitioned by event_type (never a global or
    per-event window), stats join back via broadcast."""
    plan = plan_of(spark, "daily_value_mad_outliers")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    import re

    windows = re.findall(r"Arguments: \[row_number\(\).*", plan)
    # a formatting change must fail loudly, not leave the pin vacuous:
    # the plan carries two row_number windows (median rank, MAD rank)
    assert len(windows) >= 2, plan
    for w in windows:
        assert "event_type" in w


def test_mann_kendall_pairs_join_post_aggregate(spark):
    """The sign-pair self-join must consume the pre-reduced daily table
    (shuffle keyed on event_type), never the raw event stream; the
    variance/tie terms are combinable rollups."""
    plan = plan_of(spark, "mann_kendall_trend_test")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "hashpartitioning(event_type" in plan


def test_source_epochs_plan_broadcast_scalars(spark):
    """source_epochs_plan reduces the token stream map-side and joins
    only broadcast one-row scalars (total, normalizer) -- no shuffle
    join, no cartesian explosion beyond the two scalar cross joins."""
    plan = plan_of(spark, "source_epochs_plan")
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan  # map-side combine on the token rollup


def test_index_probe_scans_are_column_pruned(spark):
    """Column pruning must reach the materialized index parquet scans:
    ivf_cell_balance reads ONLY the cell column of the assignment index
    (never the 64 fixed-point dims or vec_id), and source_dedup_rate
    reads only the pair endpoints (never the jaccard column)."""
    plan = plan_of(spark, "ivf_cell_balance")
    schemas = [ln.strip() for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all(s.endswith("struct<cell:bigint>") for s in schemas)

    plan = plan_of(spark, "source_dedup_rate")
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            assert "jaccard" not in ln


def test_prefix_filter_join_shapes(spark):
    """The prefix-filter similarity join must stay equi-join shaped end
    to end: candidates join on the shingle column, verification joins on
    doc ids -- never a cartesian/nested-loop fallback -- and the
    rarity ordering runs as a doc-partitioned row_number window."""
    plan = plan_of(spark, "prefix_filter_jaccard_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "row_number" in plan


def test_cms_counter_join_is_broadcast(spark):
    """The CMS estimate join's build side is the counter table -- at most
    depth x width <= 8192 rows by construction -- and must plan as a
    broadcast hash join (a shuffle there would move the vocab-sized lane
    table three extra times)."""
    plan = plan_of(spark, "cms_width_error_curve")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_method_eval_pair_joins_are_shuffle_hash(spark):
    """The tp/fp/fn set joins compare two pair tables, neither of which
    is driver-sized (simhash: 2.4M pairs at sf0.1): the plan must use
    shuffle-hash joins for them, never a broadcast build of a
    corpus-growing side."""
    plan = plan_of(spark, "dedup_method_eval")
    assert "ShuffledHashJoin" in plan


def test_dbscan_stays_bucketed_and_probes_core_subgraph(spark):
    """DBSCAN's epsilon-graph must come from the bucket equi-join (no
    all-pairs fallback), and its output plan is join+aggregate shaped --
    the CC iteration runs ahead of the returned DataFrame, on the core
    subgraph only."""
    plan = plan_of(spark, "dbscan_lsh_clusters")
    assert "CartesianProduct" not in plan
    assert "bucket" in plan


def test_band_audit_joins_on_chunks_not_allpairs(spark):
    """Every geometry's candidate generation must stay a (band, chunk)
    equi-join -- a cartesian/nested-loop fallback would silently turn
    the audit into the very all-pairs plan it exists to avoid."""
    plan = plan_of(spark, "simhash_band_width_audit")
    assert "CartesianProduct" not in plan


def test_rank_quality_probes_materialized_indexes(spark):
    """MRR/NDCG must ride the materialized truth/serving tables (the
    index-build/probe split), not rebuild either ANN pipeline."""
    plan = plan_of(spark, "ann_rank_quality_curve")
    assert "ann_truth" in plan
    assert "ivf_topk" in plan


def test_residual_pq_probes_materialized_indexes(spark):
    """Residual IVF-PQ serving must ride the materialized residual grid,
    residual code table, and coarse assignment (the index-build/probe
    split), and never fall back to an all-pairs plan."""
    plan = plan_of(spark, "ann_ivf_residual_pq_topk")
    assert "pq_res_codes" in plan
    assert "pq_coarse_assign" in plan
    assert "CartesianProduct" not in plan


def test_mann_whitney_window_rides_distinct_value_table(spark):
    """The rank-sum never materializes per-row ranks: the single
    cumulative window must consume the per-distinct-cents aggregate
    (value-domain-bounded), with a map-side partial pass below it, and
    the scan must read only the two columns the test uses."""
    df = QUERIES["mann_whitney_u_test"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    w_pos = plan.index("Window")
    agg_positions = [
        i
        for i in range(len(plan))
        if plan.startswith("HashAggregate", i) and "cents" in plan[i : i + 400]
    ]
    assert agg_positions, "expected a per-cents HashAggregate"
    assert any(i > w_pos for i in agg_positions), (
        "no cents aggregate below the Window -- it would be ranking raw events"
    )
    fplan = plan_of(spark, "mann_whitney_u_test")
    scan = fplan[fplan.index("ReadSchema") :].splitlines()[0]
    assert "value" in scan and "event_type" in scan
    assert "user_id" not in scan and "props" not in scan


def test_weighted_reservoir_topk_is_window_group_limited(spark):
    """A-ES per-source top-k must plan as WindowGroupLimit (map-side
    partial top-k before the shuffle -- the reason a 100 TB stratum
    never materializes a full sort), and the scan must prune to the
    three columns the sampler reads."""
    plan = plan_of(spark, "weighted_reservoir_sample")
    assert "WindowGroupLimit" in plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "n_chars" in scan and "source" in scan
    assert "text" not in scan and "lang" not in scan


def test_bm25_prunes_postings_via_broadcast_query_terms(spark):
    """Scoring must touch only the 8 query terms' postings through a
    broadcast hash join of the tiny qterms table (the corpus-side tf
    never shuffles for the semi-restriction), and the per-term top-k
    must be WindowGroupLimit-ed."""
    plan = plan_of(spark, "bm25_topk_docs")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_link_prediction_probes_pair_index_no_cartesian(spark):
    """The wedge join + anti join must stay equi-joins over the
    checkpointed pair table (the materialized jaccard_pairs probe sits
    behind the localCheckpoint cut, so it shows as an ExistingRDD scan)
    -- a cartesian/nested-loop fallback would be the all-pairs plan link
    prediction exists to avoid."""
    plan = plan_of(spark, "link_prediction_scores")
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pareto_windows_ride_bounded_tables(spark):
    """Both skyline windows must consume aggregates (per-bin table and
    per-spend-level table), never the raw order stream: every Window
    node sits above a HashAggregate in the top-down plan print."""
    df = QUERIES["pareto_frontier_customers"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    w_positions = [m.start() for m in re.finditer(r"Window", plan)]
    assert w_positions, "expected skyline windows"
    agg_positions = [m.start() for m in re.finditer(r"HashAggregate", plan)]
    assert agg_positions
    for w in w_positions:
        assert any(a > w for a in agg_positions), (
            "a skyline window has no aggregate below it -- "
            "it would be windowing raw orders"
        )


def test_sorted_neighborhood_rank_joins_are_equi(spark):
    """The SNM neighbor joins must be grank equi-joins over the
    checkpointed rank table, verified against the materialized
    jaccard_pairs index -- no cartesian, no nested-loop rank-range
    scan."""
    plan = plan_of(spark, "dedup_sorted_neighborhood")
    assert "jaccard_pairs" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cofilter_topk_is_window_group_limited(spark):
    """Item-item CF: per-item neighbor top-k must plan as
    WindowGroupLimit, co-counts must show map-side partials, the
    pair fan-out must stay a customer equi-join, AND the per-customer
    incidence cap (the 100 TB skew lever, VERDICT r11 item #1) must
    itself plan as a second WindowGroupLimit so the history trim
    happens map-side before the pair shuffle."""
    plan = plan_of(spark, "item_item_cofilter_topk")
    assert len(re.findall(r"WindowGroupLimit", plan)) >= 2, (
        "expected BOTH the neighbor top-k and the customer-history cap "
        "to plan as WindowGroupLimit"
    )
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_cofilter_customer_fanout_is_capped(spark):
    """A synthetic power-customer's pair fan-out must be bounded by
    CAP*(CAP-1)/2 regardless of history size (the bot/aggregator
    account that would otherwise put |history|^2 rows on one shuffle
    key at 100 TB)."""
    from mapreduce_on_google_cloud_platform_spark.operators.relational import (
        COFILTER_CUST_CAP,
        _cofilter_incidence,
    )

    n_parts = 3 * COFILTER_CUST_CAP  # one customer, 3x the cap
    li = spark.createDataFrame(
        [(1, p) for p in range(n_parts)], "l_orderkey long, l_partkey long"
    )
    orders = spark.createDataFrame([(1, 7)], "o_orderkey long, o_custkey long")
    inc, capstat = _cofilter_incidence(li, orders)
    kept = inc.count()
    assert kept == COFILTER_CUST_CAP
    assert capstat.collect()[0]["n_capped_cust"] == 1
    # the md5-rank selection is deterministic: same input, same survivors
    s1 = {r.l_partkey for r in inc.collect()}
    s2 = {r.l_partkey for r in _cofilter_incidence(li, orders)[0].collect()}
    assert s1 == s2
    # pair fan-out bound that the cap buys
    assert kept * (kept - 1) // 2 <= COFILTER_CUST_CAP * (COFILTER_CUST_CAP - 1) // 2


def test_unigram_candidates_window_rides_aggregate(spark):
    """The top-K vocabulary window must consume the candidate AGGREGATE
    (alphabet^LMAX-bounded), never the substring explosion stream, and
    the piece counts must show map-side partials."""
    df = QUERIES["unigram_piece_candidates"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    w_pos = plan.index("Window")
    agg_positions = [
        i
        for i in range(len(plan))
        if plan.startswith("HashAggregate", i) and "piece" in plan[i : i + 400]
    ]
    assert agg_positions, "expected a per-piece HashAggregate"
    assert any(i > w_pos for i in agg_positions)
    fplan = plan_of(spark, "unigram_piece_candidates")
    assert "partial_" in fplan


def test_unigram_learn_em_is_jvm_only_over_checkpoints(spark):
    """The EM result plan must ride the checkpointed vocabulary
    (ExistingRDD -- the iterative lineage is truncated per round) with
    no Python evaluation anywhere; the global BatchEvalPython pin
    covers the segmentation pass via the registry sweep."""
    plan = plan_of(spark, "unigram_lm_learn")
    assert "ExistingRDD" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_jl_crossjoin_side_is_constant_sample(spark):
    """The all-pairs stage must be a broadcast nested-loop of the
    JL_SAMPLE-row md5-rank sample (TakeOrderedAndProject limit -- a
    CONSTANT-size side at any corpus), never a corpus-side shuffle."""
    plan = plan_of(spark, "jl_projection_distortion")
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_khop_rides_checkpointed_frontier(spark):
    """Each expansion round is lineage-truncated (ExistingRDD) and the
    per-hop counts are combinable aggregates with no cartesian."""
    plan = plan_of(spark, "khop_reach_profile")
    assert "ExistingRDD" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_filtered_topk_probes_stores_and_prunes_prefilter(spark):
    """Filtered serving must ride the materialized emb_norm/ivf_assign
    stores, and the label predicate must be a JOIN KEY of the candidate
    join -- Catalyst folds the pre-filter equality into the (cell,
    label) key pair, so candidates are pruned by hash lookup BEFORE
    scoring (post-filtering an unfiltered top-k would show label only
    in a Filter above the rank window)."""
    import re

    plan = plan_of(spark, "ann_filtered_topk")
    assert "ivf_assign" in plan and "emb_norm" in plan
    assert "CartesianProduct" not in plan
    keyed = re.search(
        r"Left keys \[2\]: \[q_label#\d+, cell#\d+L\]", plan
    ) or re.search(r"Left keys \[2\]: \[cell#\d+L, q_label#\d+\]", plan)
    assert keyed, "label is not a key of the candidate join"


def test_kappa_single_pass_confusion(spark):
    """The 2x2 confusion table must be one combinable aggregate over the
    doc_id equi-join of the two gates -- no windows, no cartesian."""
    plan = plan_of(spark, "gate_agreement_kappa")
    assert "partial_" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_dp_sensitivity_rollups_are_combinable(spark):
    """(type, user, day) -> (type, user) -> type: three combinable
    aggregates, a pruned scan (props never read), no joins/windows."""
    plan = plan_of(spark, "dp_sensitivity_audit")
    assert "partial_" in plan
    assert "Window" not in plan and "Join" not in plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "props" not in scan and "event_id" not in scan


def test_kruskal_wallis_windows_post_aggregate(spark):
    """Both rank windows consume the per-(type, value) POST-AGGREGATE
    table (bounded by distinct values x k), never raw events; the
    group-by is map-side combinable and the only cross join is the
    broadcast one-row global."""
    plan = plan_of(spark, "kruskal_wallis_h_test")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    # the scan reads only what the test needs
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "event_type" in scan and "value" in scan
    assert "props" not in scan and "user_id" not in scan


def test_cdc_chunk_windows_bounded(spark):
    """The chunk-id prefix sum is partitioned by doc_id and the
    first-occurrence window by fingerprint -- no global windows, no
    joins at all (source rides the token stream), map-side partials on
    the rollup."""
    import re

    plan = plan_of(spark, "cdc_chunk_dedup")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    windows = re.findall(r"Arguments: \[sum\(b.*|Arguments: \[row_number\(\).*", plan)
    assert len(windows) >= 2, plan
    for w in windows:
        assert "doc_id" in w or "fp" in w


def test_kcenter_is_k_linear_scans(spark):
    """Greedy k-center must stay K linear passes: no joins anywhere in
    the distributed plan except the final broadcast one-row radius; the
    per-round argmax is a TakeOrdered, and the scan reads only vec_id +
    embedding."""
    plan = plan_of(spark, "kcenter_coreset_select")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # one-row radius attach
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "embedding" in scan and "label" not in scan


def test_conformal_threshold_plan_shape(spark):
    """The r-th-smallest selection rides the distinct-quality
    post-aggregate window (mann_whitney idiom), the threshold attaches
    as a broadcast one-row relation, and the eval rollup is map-side
    combinable."""
    plan = plan_of(spark, "conformal_quality_threshold")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan  # one-row threshold attach


def test_dirichlet_ql_serving_shape(spark):
    """Same serving posture as bm25: the bounded query-term table
    broadcasts onto the tf stream (no shuffle join against the corpus),
    and the per-term top-k is a WindowGroupLimit partial."""
    plan = plan_of(spark, "dirichlet_ql_topk_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_hill_topk_is_window_group_limit(spark):
    """The only raw-stream window is the per-type rank, and its
    rank <= k+1 filter must rewrite to WindowGroupLimit (map-side
    partial top-k); everything downstream joins bounded per-type
    tables broadcast."""
    plan = plan_of(spark, "hill_tail_index")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "event_type" in scan and "value" in scan and "props" not in scan


def test_ktruss_no_cartesian_and_partial_support(spark):
    """Each peel round is wedge equi-joins plus a combinable support
    rollup -- no cartesian anywhere, and the checkpointed edge list
    keeps the round plans flat."""
    plan = plan_of(spark, "ktruss_peel_funnel")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_leakage_split_probes_indexes(spark):
    """The audit rides the materialized cluster/pair indexes (probe
    path) and attaches flags by equi-join -- no cartesian, map-side
    partials on every rollup."""
    plan = plan_of(spark, "leakage_safe_split_audit")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    # the two one-row leak/total attaches are broadcast
    assert "BroadcastNestedLoopJoin" in plan


def test_rbo_joins_bounded_rank_tables(spark):
    """RBO consumes the two materialized K-bounded rank tables by
    equi-join; the per-query rollup is combinable and the right join
    back to the query list broadcasts."""
    plan = plan_of(spark, "rbo_rank_overlap")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_quota_alloc_window_is_bounded(spark):
    """The rank window runs over the per-source POST-AGGREGATE table
    (bounded by source cardinality), never documents."""
    plan = plan_of(spark, "stratified_quota_alloc")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "source" in scan and "text" not in scan


def test_ljung_box_windows_on_daily_table(spark):
    """All L lag columns ride ONE window over the calendar-bounded
    daily table (partitioned by event_type); the scalar join is
    broadcast and the rollups are combinable."""
    plan = plan_of(spark, "ljung_box_test")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    # one Window node carrying all lag expressions, not L windows
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 4, plan


def test_audience_overlap_self_join_is_user_keyed(spark):
    """The intersection join shuffles on user_id (per-key expansion
    bounded by type cardinality), the size/pair frames broadcast, and
    the distinct is combinable."""
    plan = plan_of(spark, "audience_overlap_matrix")
    assert "partial_count" in plan
    # the bounded type-frame cross join must be the broadcast kind
    assert "CartesianProduct" not in plan


def test_holt_is_joinless_fold(spark):
    """The smoother is one combinable daily rollup + one combinable
    per-type collect + a JVM fold: zero joins, zero windows."""
    plan = plan_of(spark, "holt_linear_smooth")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_" in plan


def test_mase_backtest_is_joinless_fold(spark):
    """Same posture as holt_linear_smooth: combinable rollups + bounded
    per-type arrays + JVM folds; no joins, no windows."""
    plan = plan_of(spark, "forecast_backtest_mase")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_" in plan


def test_js_divergence_shared_vocab_is_equi_join(spark):
    """The word-level stage must stay a word equi-join over the
    per-(source, word) aggregates -- never an outer-join null lattice or
    a cartesian; the only cross joins are the bounded |sources|^2 pair
    grid and broadcast dimension sides."""
    plan = plan_of(spark, "js_divergence_sources")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(word" in plan
    # picogrid squash present: each KL-pair term is quantized to an exact
    # integer (floor(term * 1e12 + 0.5)) and summed in decimal(38,0) --
    # the silhouette-lesson replacement for the DECIMAL(18,15) cast
    assert "1.0e12" in plan.lower() or "floor" in plan.lower()
    assert "decimal(38,0)" in plan.lower()


def test_heaps_windows_ride_the_bounded_bucket_grid(spark):
    """Heaps' law: the cumulative-curve window must consume the 256-row
    bucket grid (spark.range), never a corpus-sized stream -- the no-sort
    md5-bucket design is the whole point; and the token-side aggregates
    stay combinable groupBys."""
    plan = plan_of(spark, "heaps_law_fit")
    assert "CartesianProduct" not in plan
    assert "Range (0, 256" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_ewma_is_joinless_fold_no_windows(spark):
    """EWMA chart: one combinable daily groupBy, then per-type array
    folds -- no window operator, no join of any kind in the plan (the
    holt posture)."""
    plan = plan_of(spark, "ewma_control_chart")
    assert "partial_" in plan
    assert "WindowExec" not in plan and "WindowGroupLimit" not in plan
    assert "Join" not in plan


def test_shard_balance_rank_has_no_partitionless_window(spark):
    """Shard balance: the Gini rank must be the two-pass distributed
    rank (rng-partitioned row_number + per-range offsets), never a
    global single-partition window -- the shard table grows with the
    corpus (corpus_tokens / SHARD_TOKEN_BUDGET rows)."""
    import re

    df = QUERIES["shard_balance_audit"](spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    windows = re.findall(r"Window \[.*?\], \[(.*?)\], \[", logical)
    assert windows, "expected Window nodes in the shard-balance plan"
    for part in windows:
        assert part.strip(), f"partitionless window found: [{part}]"
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" in physical


def test_silhouette_scores_against_broadcast_codebook(spark):
    """Silhouette: the n x K scoring must ride a BROADCAST of the K-row
    codebook (a local relation -- linear in n), never a cartesian of
    distributed sides, and the per-vector/per-cluster rollups keep
    map-side partials."""
    plan = plan_of(spark, "cluster_silhouette_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # n x K, build = local codebook
    # the codebook side is a driver-built literal relation, broadcast
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    assert "partial_" in plan


def test_stump_histogram_is_combinable_no_cartesian(spark):
    """Decision stump: the (feature, bin, label) histogram must keep
    map-side partials, the candidate scan must ride the bounded 16-bin
    per-feature table (partitioned cumsum window, broadcast totals),
    and no stage may form a cartesian product; the gain argmax compares
    picogrid integers, never raw doubles."""
    plan = plan_of(spark, "decision_stump_learn")
    assert "CartesianProduct" not in plan
    assert "partial_" in plan
    assert "FLOOR" in plan.upper()  # picogrid quantization present


def test_mutual_info_sums_picogrid_decimal(spark):
    """Feature-label MI: per-cell terms are floor-quantized to the
    integer picogrid and summed in decimal(38,0) so shuffle order can
    never perturb the divergence; marginal joins stay equi-joins."""
    plan = plan_of(spark, "feature_label_mutual_info")
    assert "CartesianProduct" not in plan
    assert "decimal(38,0)" in plan.lower()
    assert "partial_" in plan


def test_poisson_bootstrap_single_pass_combinable(spark):
    """Poisson bootstrap: all B replicates must ride ONE scan of events
    with map-side partial aggregation (the one-pass trick is the whole
    point); no window, no join, no cartesian anywhere in the plan."""
    plan = plan_of(spark, "poisson_bootstrap_ci")
    assert "CartesianProduct" not in plan
    assert "partial_" in plan
    assert "WindowExec" not in plan and "WindowGroupLimit" not in plan
    assert "Join" not in plan


def test_permutation_windows_ride_calendar_grid(spark):
    """Permutation test: every window must carry a partition spec (the
    ranking grid is calendar x B rows, partitioned by (type, b) /
    (type)); the daily aggregate keeps map-side partials."""
    import re

    df = QUERIES["permutation_test_mean_shift"](spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    windows = re.findall(r"Window \[.*?\], \[(.*?)\], \[", logical)
    assert windows, "expected Window nodes in the permutation plan"
    for part in windows:
        assert part.strip(), f"partitionless window found: [{part}]"
    plan = plan_of(spark, "permutation_test_mean_shift")
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_rake_topk_no_global_sort_partitioned_windows(spark):
    """RAKE: top-K must be TakeOrderedAndProject (never a full global
    sort materialization), every window doc-partitioned, word scores a
    combinable groupBy, no cartesian."""
    import re

    df = QUERIES["rake_keyphrases"](spark, SF_SMOKE)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in physical
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    windows = re.findall(r"Window \[.*?\], \[(.*?)\], \[", logical)
    assert windows, "expected Window nodes in the RAKE plan"
    for part in windows:
        assert part.strip(), f"partitionless window found: [{part}]"
    plan = plan_of(spark, "rake_keyphrases")
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_rank_correlation_plans_bounded(spark):
    """Spearman/Kendall: rank windows must partition by the type pair
    (calendar-bounded frames, never partitionless); the Kendall
    day-pair self-join must be keyed on the type pair (no cartesian);
    the daily aggregate keeps map-side partials."""
    import re

    for name in ("spearman_daily_corr", "kendall_tau_daily"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "partial_" in plan, name
    df = QUERIES["spearman_daily_corr"](spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    windows = re.findall(r"Window \[.*?\], \[(.*?)\], \[", logical)
    assert windows
    for part in windows:
        assert part.strip(), f"partitionless window found: [{part}]"


def test_kmv_sketch_is_window_group_limited(spark):
    """KMV: the bottom-K hash filter must plan as WindowGroupLimit so
    each partition ships at most K+ties rows per type -- the mergeable
    sketch shape the estimator's 100 TB story depends on."""
    plan = plan_of(spark, "kmv_distinct_profile")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_pettitt_and_friedman_windows_are_partitioned(spark):
    """The changepoint/blocked-rank windows must partition (by type /
    by day) -- never a partitionless window over the raw stream; the
    day-pair joins must be equi-joins.  (friedman's one
    BroadcastNestedLoopJoin is the 1-row scalar-stats crossJoin -- the
    graph.py:895 posture -- so only pettitt pins its absence.)"""
    for name in ("pettitt_changepoint_test", "friedman_test"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan_of(
        spark, "pettitt_changepoint_test"
    )


def test_nb_langid_profile_is_broadcast(spark):
    """The NB log-prob table (alphabet-bounded) must reach the doc
    side as a broadcast join, and scoring must show map-side partial
    aggregation."""
    plan = plan_of(spark, "nb_langid_confusion")
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_rm3_feedback_set_is_broadcast(spark):
    """RM3: the 40-row feedback set must broadcast against the tf
    postings -- a 100 TB corpus contributes only the feedback docs'
    own rows to the contribution table."""
    plan = plan_of(spark, "rm3_expansion_terms")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_holt_winters_is_joinless_fold(spark):
    """HW seasonal: same shape contract as holt_linear_smooth -- one
    combinable rollup + a bounded-array fold; no joins, no windows
    over the raw stream."""
    plan = plan_of(spark, "holt_winters_seasonal")
    assert "Join" not in plan.replace("joinless", "")
    assert "WindowExec" not in plan
    assert "partial_" in plan


def test_sprt_llr_is_exact_decimal_stream(spark):
    """SPRT: no engine ln() at query time -- the plan must carry the
    pinned decimal literals, and the crossing scan must be a scalar
    aggregate, not a sort."""
    plan = plan_of(spark, "sprt_conversion_monitor")
    assert "LOG(" not in plan.upper().replace("CATALOG", "")
    assert "CartesianProduct" not in plan
