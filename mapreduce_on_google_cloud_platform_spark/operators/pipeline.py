"""Composed curation pipeline: quality gate -> exact dedup -> source stats.

The end-to-end shape of a training-data curation pass, declared as ONE
plan so Catalyst optimizes across stage boundaries (the token count
feeds both the gate and the stats without recomputation; the scan is
shared).  Stages:

1. signal: token count per doc (tokenizer from functions/text.py);
2. gate: keep docs with >= MIN_TOKENS tokens;
3. dedup: among gated docs, one winner per exact content hash
   (md5 of whitespace-normalized lowercase text, min doc_id wins) --
   expressed as a window min over the hash, NOT a groupBy+join-back, so
   the pipeline stays a single pass over the gated set;
4. report: per-source funnel (docs in, gated, kept, tokens kept, kept
   ratio as a single exact-int division).

At 100 TB: one scan of documents, one shuffle on content hash (the
window), one combinable shuffle on source for the report.  Every number
is an integer sum until the final division, so any partitioning gives
identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import SQL_REVENUE
from ..functions.text import normalize_text, tokenize
from ..sources import load_table

MIN_TOKENS = 50


def _curation_flags(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, source, n_tokens, content_hash, is_pass,
    is_kept): the shared length-gate + exact-dedup decision columns
    behind curation_pipeline and curated_docs_with_observation."""
    base = docs.select(
        "doc_id",
        "source",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.md5(normalize_text(F.col("text"))).alias("content_hash"),
    ).withColumn("is_pass", F.col("n_tokens") >= MIN_TOKENS)
    w = Window.partitionBy("content_hash")
    return base.withColumn(
        "keep_id",
        F.min(F.when(F.col("is_pass"), F.col("doc_id"))).over(w),
    ).withColumn(
        "is_kept", F.col("is_pass") & (F.col("doc_id") == F.col("keep_id"))
    )


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation funnel over the documents table."""
    flagged = _curation_flags(load_table(spark, sf_dir, "documents"))
    kept_i = F.col("is_kept").cast("bigint")
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs_in"),
        F.sum(F.col("is_pass").cast("bigint")).alias("n_pass"),
        F.sum(kept_i).alias("n_kept"),
        F.sum(F.when(F.col("is_kept"), F.col("n_tokens")).otherwise(0)).alias(
            "tokens_kept"
        ),
        (
            F.sum(kept_i).cast("double") / F.count("*")
        ).alias("kept_ratio"),
    )


def curated_docs_with_observation(spark: SparkSession, sf_dir: str):
    """The curation filter as a corpus REWRITE -- returns (kept_docs,
    Observation): the surviving documents plus df.observe() counters
    (docs in/pass/kept, tokens kept) accumulated by the SAME job that
    materializes the output.

    This is the Spark-native pipeline-telemetry primitive: at 100 TB a
    separate audit count() is a second full scan of the corpus;
    observe() metrics ride the task results of the job you were already
    running (internally an AggregatingAccumulator), so the funnel
    report is free.  Not a registry query -- the DataFrame contract
    can't carry the side-channel -- the pytest twin reconciles the
    observed counters against independently-computed counts."""
    from pyspark.sql import Observation

    flagged = _curation_flags(load_table(spark, sf_dir, "documents"))
    obs = Observation("curation_funnel")
    observed = flagged.observe(
        obs,
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.col("is_pass").cast("bigint")).alias("docs_pass"),
        F.sum(F.col("is_kept").cast("bigint")).alias("docs_kept"),
        F.sum(
            F.when(F.col("is_kept"), F.col("n_tokens")).otherwise(F.lit(0))
        ).alias("tokens_kept"),
    )
    kept = observed.filter(F.col("is_kept")).select(
        "doc_id", "source", "n_tokens", "content_hash"
    )
    return kept, obs


CURATION_ORACLE = f"""
    WITH base AS (
        SELECT doc_id, source,
               CAST(len(list_filter(
                   list_transform(regexp_split_to_array(text, '\\s+'),
                                  t -> regexp_replace(lower(t), '[^0-9a-z]', '', 'g')),
                   x -> x <> '')) AS BIGINT) AS n_tokens,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_hash
        FROM documents
    ),
    flagged AS (
        SELECT *,
               n_tokens >= {MIN_TOKENS} AS is_pass,
               min(CASE WHEN n_tokens >= {MIN_TOKENS} THEN doc_id END)
                   OVER (PARTITION BY content_hash) AS keep_id
        FROM base
    ),
    kept AS (
        SELECT *, is_pass AND doc_id = keep_id AS is_kept FROM flagged
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_in,
           CAST(sum(CASE WHEN is_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN is_kept THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
           CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS kept_ratio
    FROM kept
    GROUP BY source
"""


# ---------------------------------------------------------------------------
# Data-quality audit: the validation pass before any pipeline consumes a drop
# ---------------------------------------------------------------------------


def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per table with the standard ingest checks: row count,
    null counts on key columns, domain violations, and referential
    orphans (lineitems whose order does not exist, orders whose customer
    does not exist — anti-join counts).  Shape: each table is audited in
    one partial-aggregated pass; the orphan checks are the only joins
    and they are key-only anti joins.  A real deployment runs this per
    ingest batch and alerts on any nonzero violation column."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    def count_if(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    o_audit = orders.agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        count_if(F.col("o_custkey").isNull()).alias("null_keys"),
        count_if(F.col("o_totalprice") <= 0).alias("domain_violations"),
    )
    l_audit = lineitem.agg(
        F.lit("lineitem").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        count_if(F.col("l_orderkey").isNull()).alias("null_keys"),
        count_if(
            (F.col("l_quantity") <= 0)
            | (F.col("l_discount") < 0)
            | (F.col("l_discount") > 1)
        ).alias("domain_violations"),
    )
    c_audit = customer.agg(
        F.lit("customer").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        count_if(F.col("c_name").isNull()).alias("null_keys"),
        count_if(F.col("c_nationkey") < 0).alias("domain_violations"),
    )
    li_orphans = (
        lineitem.select("l_orderkey")
        .join(orders.select("o_orderkey"), lineitem.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(
            F.lit("lineitem").alias("table_name"),
            F.count(F.lit(1)).alias("orphans"),
        )
    )
    o_orphans = (
        orders.select("o_custkey")
        .join(customer.select("c_custkey"), orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(
            F.lit("orders").alias("table_name"),
            F.count(F.lit(1)).alias("orphans"),
        )
    )
    c_orphans = customer.agg(
        F.lit("customer").alias("table_name"), F.lit(0).cast("bigint").alias("orphans")
    )
    audits = o_audit.unionByName(l_audit).unionByName(c_audit)
    orphans = li_orphans.unionByName(o_orphans).unionByName(c_orphans)
    return audits.join(orphans, "table_name")


DATA_QUALITY_ORACLE = """
    WITH audits AS (
        SELECT 'orders' AS table_name, count(*) AS n_rows,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
               CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS domain_violations
        FROM orders
        UNION ALL
        SELECT 'lineitem', count(*),
               CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN l_quantity <= 0 OR l_discount < 0 OR l_discount > 1
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'customer', count(*),
               CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN c_nationkey < 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM customer
    ),
    orphans AS (
        SELECT 'lineitem' AS table_name,
               (SELECT count(*) FROM lineitem
                WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS orphans
        UNION ALL
        SELECT 'orders',
               (SELECT count(*) FROM orders
                WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
        UNION ALL
        SELECT 'customer', CAST(0 AS BIGINT)
    )
    SELECT table_name, n_rows, null_keys, domain_violations, orphans
    FROM audits JOIN orphans USING (table_name)
"""


# ---------------------------------------------------------------------------
# Training-data prep: normalize -> gate -> cluster-canonical dedup -> report
# ---------------------------------------------------------------------------

PREP_MIN_KEPT = 20   # survive the gate with >= this many clean tokens
PREP_HAMMING = 1     # near-dup criterion for the drop decision: on this
                     # topically-uniform synthetic corpus hamming <= 7 links
                     # ~everything into one mega-cluster (correct for
                     # dedup_clusters' declared semantics, useless as a drop
                     # rule), so the PIPELINE deduplicates at <= 1


def training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pass over the new operator set, composed:

    1. normalize (text_normalize): repeat collapse + stopword strip,
       yielding per-doc clean-token counts;
    2. gate: n_kept >= PREP_MIN_KEPT;
    3. dedup: keep only each near-dup cluster's canonical document
       (dedup_clusters over the SimHash graph — the member with the
       minimum doc_id represents the cluster);
    4. report per source: docs in, gated, kept canonicals, clean tokens
       kept, kept ratio (one exact-int division).

    Gate and canonical flags are evaluated independently and combined,
    so the funnel is monotone (kept implies gated) and the whole report
    is a single pass over the flag table.  The iterative cluster stage
    runs once over the corpus; everything downstream is one join by
    doc_id — at 100 TB the label table is doc_id-sized, joined
    shuffle-on-key against the normalize signals."""
    from .dedup import dedup_clusters
    from .text_analysis import text_normalize

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    norm = text_normalize(spark, sf_dir).select("doc_id", "n_kept")
    clusters = dedup_clusters(spark, sf_dir, hamming_max=PREP_HAMMING).select(
        "doc_id", "is_canonical"
    )
    gated = F.col("n_kept") >= PREP_MIN_KEPT
    flags = (
        docs.join(norm, "doc_id")
        .join(clusters, "doc_id")
        .select(
            "source",
            "n_kept",
            gated.alias("gated"),
            (gated & F.col("is_canonical")).alias("kept"),
        )
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.when(F.col("gated"), 1).otherwise(0)).cast("bigint").alias("n_gated"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept_docs"),
        F.sum(F.when(F.col("kept"), F.col("n_kept")).otherwise(0))
        .cast("bigint")
        .alias("clean_tokens"),
        (
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("kept_ratio"),
    )


def _training_prep_oracle() -> str:
    from .dedup import SIMHASH_SIG_CTE, cc_closure_cte
    from .text_analysis import EN_STOPS

    stops = ", ".join(f"'{s}'" for s in EN_STOPS)
    return f"""
    WITH {SIMHASH_SIG_CTE},
    near AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {PREP_HAMMING}
    ),
    edges AS MATERIALIZED (
        SELECT doc_a AS a, doc_b AS b FROM near
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM near
    ),
    {cc_closure_cte("SELECT doc_id FROM documents", "doc_id")},
    tok AS (
        SELECT doc_id, i AS pos, ts[i] AS word,
               (i = 1 OR ts[i] <> ts[i-1]) AS not_repeat
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
    ),
    norm AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN not_repeat AND word NOT IN ({stops})
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM tok GROUP BY doc_id
    ),
    flags AS (
        SELECT d.source,
               n.n_kept,
               (n.n_kept >= {PREP_MIN_KEPT}) AS gated,
               (n.n_kept >= {PREP_MIN_KEPT} AND c.doc_id = c.cluster_id) AS kept
        FROM documents d
        JOIN norm n USING (doc_id)
        JOIN comp c USING (doc_id)
    )
    SELECT source,
           count(*) AS docs_in,
           CAST(sum(CASE WHEN gated THEN 1 ELSE 0 END) AS BIGINT) AS n_gated,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_docs,
           CAST(sum(CASE WHEN kept THEN n_kept ELSE 0 END) AS BIGINT) AS clean_tokens,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
               AS kept_ratio
    FROM flags
    GROUP BY source
"""


TRAINING_PREP_ORACLE = _training_prep_oracle()


# ---------------------------------------------------------------------------
# MERGE / upsert (SCD1 snapshot maintenance): apply a CDC batch to a base
# snapshot in one pass.  Base = each customer's latest order before the
# cutoff; changes = each customer's latest order after it, applied as
# UPDATE/INSERT (status O/P) or DELETE (status F).  Expressed as a single
# full-outer join on the merge key -- the engine-agnostic MERGE plan (what
# Delta/Iceberg MERGE INTO compiles to when the change set isn't tiny).
#
# At 100 TB: one shuffle of each side on the merge key; if the CDC batch
# is small relative to the snapshot, broadcast it and skip the snapshot
# shuffle entirely.  The window dedup of each side is the same
# shuffle-on-key, so AQE coalesces the exchanges.
# ---------------------------------------------------------------------------

MERGE_CUTOFF = "2001-01-01"


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    base = (
        orders.filter(F.col("o_orderdate") < MERGE_CUTOFF)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )
    chg = (
        orders.filter(F.col("o_orderdate") >= MERGE_CUTOFF)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderkey").alias("c_orderkey"),
            F.col("o_orderdate").alias("c_orderdate"),
            F.col("o_totalprice").alias("c_totalprice"),
            F.col("o_orderstatus").alias("c_status"),
        )
    )
    return (
        base.join(chg, base.o_custkey == chg.c_custkey, "full_outer")
        .filter(F.col("c_status").isNull() | (F.col("c_status") != "F"))
        .select(
            F.coalesce("o_custkey", "c_custkey").alias("custkey"),
            F.coalesce("c_orderkey", "o_orderkey").alias("orderkey"),
            F.coalesce("c_orderdate", "o_orderdate").alias("orderdate"),
            F.coalesce("c_totalprice", "o_totalprice").alias("totalprice"),
            F.when(F.col("c_custkey").isNull(), F.lit("kept"))
            .when(F.col("o_custkey").isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated"))
            .alias("merge_op"),
        )
        .orderBy("custkey")
    )


MERGE_UPSERT_ORACLE = f"""
    WITH rb AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC)
                   AS rn
        FROM orders WHERE o_orderdate < TIMESTAMP '{MERGE_CUTOFF}'
    ),
    base AS (SELECT * FROM rb WHERE rn = 1),
    rc AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, o_orderstatus,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC)
                   AS rn
        FROM orders WHERE o_orderdate >= TIMESTAMP '{MERGE_CUTOFF}'
    ),
    chg AS (SELECT * FROM rc WHERE rn = 1)
    SELECT coalesce(base.o_custkey, chg.o_custkey) AS custkey,
           coalesce(chg.o_orderkey, base.o_orderkey) AS orderkey,
           coalesce(chg.o_orderdate, base.o_orderdate) AS orderdate,
           coalesce(chg.o_totalprice, base.o_totalprice) AS totalprice,
           CASE WHEN chg.o_custkey IS NULL THEN 'kept'
                WHEN base.o_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_op
    FROM base
    FULL JOIN chg ON base.o_custkey = chg.o_custkey
    WHERE chg.o_orderstatus IS NULL OR chg.o_orderstatus <> 'F'
    ORDER BY custkey
"""


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: merge a precomputed base aggregate
# with a new batch's partial aggregate instead of rescanning history --
# the materialized-view refresh pattern.  Works because (count, sum) are
# MERGEABLE states: re-aggregating the union of two partial tables gives
# exactly the full recompute (decimal sums make the merge bit-exact in
# any order).  The oracle IS the full recompute over all rows, proving
# merge == rescan.  At 100 TB the base partials live as a table; a daily
# refresh touches one day of data plus a segment-sized merge.
# ---------------------------------------------------------------------------

INCR_CUTOFF = "2001-01-01"


def incremental_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_dec"),
        )

    base = partial(joined.filter(F.col("o_orderdate") < INCR_CUTOFF))
    batch = partial(joined.filter(F.col("o_orderdate") >= INCR_CUTOFF))
    return (
        base.unionByName(batch)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("c_mktsegment")
    )


INCR_ORACLE = """
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# k-anonymity suppression: the other half of safe data release next to
# PII redaction.  Quasi-identifier groups (here segment x nation) with
# fewer than K members re-identify individuals; the report keeps
# aggregates for compliant groups and collapses every small group into
# one suppressed row ("*") so the output never exposes a small cell.
# One combinable shuffle on the quasi-identifier; the suppression is a
# conditional re-key, not a second pass.
# ---------------------------------------------------------------------------

K_ANON = 10


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    grouped = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_mktsegment", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("bal_dec"),
        )
    )
    keyed = grouped.select(
        F.when(F.col("n") >= K_ANON, F.col("c_mktsegment"))
        .otherwise(F.lit("*"))
        .alias("segment"),
        F.when(F.col("n") >= K_ANON, F.col("n_name")).otherwise(F.lit("*")).alias(
            "nation"
        ),
        "n",
        "bal_dec",
    )
    return (
        keyed.groupBy("segment", "nation")
        .agg(
            F.sum("n").alias("n_customers"),
            F.sum("bal_dec").cast("double").alias("total_acctbal"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells_merged"),
        )
        .orderBy("segment", "nation")
    )


K_ANON_ORACLE = f"""
    WITH g AS (
        SELECT c_mktsegment, n_name, count(*) AS n,
               sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY c_mktsegment, n_name
    )
    SELECT CASE WHEN n >= {K_ANON} THEN c_mktsegment ELSE '*' END AS segment,
           CASE WHEN n >= {K_ANON} THEN n_name ELSE '*' END AS nation,
           CAST(sum(n) AS BIGINT) AS n_customers,
           CAST(sum(bal) AS DOUBLE) AS total_acctbal,
           count(*) AS n_cells_merged
    FROM g
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Corpus release pipeline -- the full LLM-data release flow composed from
# this round's hygiene operators, as ONE declared plan:
#
#   1. redact   : PII scrub chain (emails / digit runs / sensitive vocab);
#   2. split    : train = doc_id % EVAL_MOD != 0 (eval never ships);
#   3. gate     : >= RELEASE_MIN_TOKS clean tokens;
#   4. dedup    : one winner (min doc_id) per redacted-content md5;
#   5. decontam : drop winners sharing > half their 3-gram shingles with
#                 the eval split (exact integer predicate 2*hits > n_sh);
#   6. report   : per-source funnel (in / gated / winners / released /
#                 released tokens) -- every count an integer.
#
# Scale: one token pass, one shingle pass, one shuffle on the content
# hash, one shuffle-on-shingle join against the distinct eval vocabulary
# (broadcastable), and a final combinable per-source rollup.
# ---------------------------------------------------------------------------

RELEASE_MIN_TOKS = 40


def corpus_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import shingles_df, tokens_df
    from .text_analysis import (
        EVAL_MOD,
        PII_EMAIL_RE,
        PII_NUM_RE,
        PII_TERM_RE,
    )

    docs = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"),
            PII_NUM_RE,
            "<NUM>",
        ),
        PII_TERM_RE,
        "<X>",
    )
    ntoks = tokens_df(docs).groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    train = (
        docs.select("doc_id", "source", F.md5(redacted).alias("rmd5"))
        .join(ntoks, "doc_id", "left")
        .withColumn("n_toks", F.coalesce("n_toks", F.lit(0)))
        .filter(F.col("doc_id") % EVAL_MOD != 0)
    )
    gated = train.filter(F.col("n_toks") >= RELEASE_MIN_TOKS)
    winners = gated.groupBy("rmd5").agg(F.min("doc_id").alias("doc_id"))

    sh = shingles_df(docs)
    eval_sh = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cont = (
        sh.join(winners, "doc_id", "left_semi")
        .join(eval_sh, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
        )
    )
    released = cont.filter(2 * F.col("hits") <= F.col("n_sh")).select("doc_id")

    flags = (
        train.join(winners.select("doc_id", F.lit(True).alias("w")), "doc_id", "left")
        .join(released.withColumn("rel", F.lit(True)), "doc_id", "left")
        .select(
            "source",
            "n_toks",
            (F.col("n_toks") >= RELEASE_MIN_TOKS).alias("g"),
            F.coalesce("w", F.lit(False)).alias("w"),
            F.coalesce("rel", F.lit(False)).alias("rel"),
        )
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(F.when(F.col("g"), 1).otherwise(0)).cast("bigint").alias("n_gated"),
            F.sum(F.when(F.col("w"), 1).otherwise(0)).cast("bigint").alias("n_winners"),
            F.sum(F.when(F.col("rel"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_released"),
            F.sum(F.when(F.col("rel"), F.col("n_toks")).otherwise(0))
            .cast("bigint")
            .alias("tokens_released"),
        )
        .orderBy("source")
    )


def _release_oracle() -> str:
    from ..functions.text import DUCKDB_SHINGLES_CTE
    from .text_analysis import EVAL_MOD, PII_EMAIL_RE, PII_NUM_RE, PII_TERM_RE

    red = (
        "regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{PII_EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{PII_NUM_RE}', '<NUM>', 'g'), "
        f"'{PII_TERM_RE}', '<X>', 'g')"
    )
    return f"""
    WITH {DUCKDB_SHINGLES_CTE},
    ntoks AS (SELECT doc_id, len(ts) AS n_toks FROM toks),
    train AS (
        SELECT d.doc_id, d.source, md5({red}) AS rmd5,
               coalesce(n_toks, 0) AS n_toks
        FROM documents d LEFT JOIN ntoks USING (doc_id)
        WHERE d.doc_id % {EVAL_MOD} <> 0
    ),
    gated AS (SELECT * FROM train WHERE n_toks >= {RELEASE_MIN_TOKS}),
    winners AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY rmd5),
    eval_sh AS (
        SELECT DISTINCT sh FROM shing WHERE doc_id % {EVAL_MOD} = 0
    ),
    cont AS (
        SELECT s.doc_id, count(*) AS n_sh,
               sum(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) AS hits
        FROM shing s
        JOIN winners w ON s.doc_id = w.doc_id
        LEFT JOIN eval_sh e ON s.sh = e.sh
        GROUP BY s.doc_id
    ),
    released AS (SELECT doc_id FROM cont WHERE 2 * hits <= n_sh)
    SELECT source,
           count(*) AS docs_in,
           CAST(sum(CASE WHEN n_toks >= {RELEASE_MIN_TOKS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gated,
           CAST(sum(CASE WHEN w.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_winners,
           CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_released,
           CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN n_toks ELSE 0 END)
                AS BIGINT) AS tokens_released
    FROM train t
    LEFT JOIN winners w ON t.doc_id = w.doc_id
    LEFT JOIN released r ON t.doc_id = r.doc_id
    GROUP BY source
    ORDER BY source
"""


RELEASE_ORACLE = _release_oracle()


# ---------------------------------------------------------------------------
# Snapshot diff (CDC classification): given two versions of a table,
# report what changed -- the audit/validation pass run before publishing
# a new data release, and the inverse of merge_upsert_orders above
# (MERGE applies a change set; diff recovers one).  Two order-book
# versions are simulated deterministically from the same scan: version A
# is all orders before SNAP_CUT1; version B extends to SNAP_CUT2, drops
# a DELETE_HEX md5 bucket of keys, and reprices a REPRICE_HEX bucket by
# exactly 1.1 (decimal multiply -- exact on both engines, so 'changed'
# classification never touches a float).  A full-outer join on the key
# then classifies every row added / removed / changed / unchanged and
# rolls up counts + decimal-exact revenue per class.
#
# Real systems diff a row-digest of the serialized tuple; here the
# compare is on the typed columns directly, which is the same plan shape
# (shuffle both sides on the key, compare, combinable rollup) without
# binding to an engine-specific serialization.  At 100 TB: two scans of
# the same parquet (Catalyst shares the exchange under AQE when the
# filters allow), one key shuffle per side, and the report rollup.
# ---------------------------------------------------------------------------

SNAP_CUT1 = "1997-01-01"
SNAP_CUT2 = "1997-07-01"
SNAP_DELETE_HEX = "0"   # first md5 hex char: ~1/16 of keys deleted in B
SNAP_REPRICE_HEX = "1"  # next bucket: repriced *1.1 in B


def _order_key_bucket(key) -> object:
    return F.substring(F.md5(key.cast("string")), 1, 1)


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    bucket = _order_key_bucket(F.col("o_orderkey"))
    base = orders.select(
        "o_orderkey",
        "o_orderdate",
        price.alias("price"),
        bucket.alias("bucket"),
    )
    snap_a = base.filter(F.col("o_orderdate") < SNAP_CUT1).select(
        "o_orderkey", F.col("price").alias("price_a")
    )
    reprice = (F.col("price") * F.lit("1.1").cast("decimal(2,1)")).alias("price_b")
    snap_b = (
        base.filter(
            (F.col("o_orderdate") < SNAP_CUT2)
            & (F.col("bucket") != SNAP_DELETE_HEX)
        )
        .select(
            "o_orderkey",
            # branches unify by WIDENING scale (18,2)->(21,3); never a
            # narrowing cast here, which would round and desync engines
            F.when(F.col("bucket") == SNAP_REPRICE_HEX, reprice)
            .otherwise(F.col("price"))
            .alias("price_b"),
        )
    )
    diff = snap_a.join(snap_b, "o_orderkey", "full_outer").select(
        F.when(F.col("price_a").isNull(), "added")
        .when(F.col("price_b").isNull(), "removed")
        .when(F.col("price_a") != F.col("price_b"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
        "price_a",
        "price_b",
    )
    return (
        diff.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_a").cast("double").alias("revenue_a"),
            F.sum("price_b").cast("double").alias("revenue_b"),
        )
        .orderBy("change_type")
    )


SNAPSHOT_DIFF_ORACLE = f"""
    WITH base AS (
        SELECT o_orderkey, o_orderdate,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS bucket
        FROM orders
    ),
    snap_a AS (
        SELECT o_orderkey, price AS price_a FROM base
        WHERE o_orderdate < '{SNAP_CUT1}'
    ),
    snap_b AS (
        SELECT o_orderkey,
               CASE WHEN bucket = '{SNAP_REPRICE_HEX}'
                    THEN price * CAST('1.1' AS DECIMAL(2,1))
                    ELSE price END AS price_b
        FROM base
        WHERE o_orderdate < '{SNAP_CUT2}' AND bucket <> '{SNAP_DELETE_HEX}'
    ),
    diff AS (
        SELECT CASE WHEN price_a IS NULL THEN 'added'
                    WHEN price_b IS NULL THEN 'removed'
                    WHEN price_a <> price_b THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               price_a, price_b
        FROM snap_a FULL OUTER JOIN snap_b USING (o_orderkey)
    )
    SELECT change_type,
           count(*) AS n_orders,
           CAST(sum(price_a) AS DOUBLE) AS revenue_a,
           CAST(sum(price_b) AS DOUBLE) AS revenue_b
    FROM diff
    GROUP BY change_type
    ORDER BY change_type
"""


# ---------------------------------------------------------------------------
# Domain-mixture sampling: rebalance the corpus language mix by
# downsampling over-represented languages to target rates (the standard
# pretraining-mix move: this corpus is ~44% 'en'; halve it, keep the
# rest).  The sampling decision is a pure row-local function of
# (lang, doc_id) -- keep iff the first two lowercase-hex md5 chars of
# 'lang:doc_id' fall below the language's threshold -- so the sample is
# deterministic, reproducible on any engine/partitioning/cluster size,
# and a re-run or backfill selects exactly the same documents (the same
# property train_test_split_events uses for leakage-free splits; on two
# hex chars lexicographic order IS numeric order, so thresholds are hex
# literals and no hex->int conversion exists on either engine).
#
# Output is the per-language mixture report: docs/chars in, docs/chars
# kept, achieved rate as one exact-int division.  At 100 TB the filter
# is a scan-local predicate (no shuffle to decide membership) followed
# by one combinable shuffle on lang for the report; the sampled rows
# themselves would stream straight to the sink.
# ---------------------------------------------------------------------------

# lang -> max two-hex-char bucket kept (inclusive): 'en' ~50% of 256
# buckets, everything else kept in full.
MIXTURE_RATES: dict[str, str] = {"en": "7f"}
MIXTURE_DEFAULT_MAX_HEX = "ff"  # unlisted languages: keep all


def _mixture_keep(lang, doc_id) -> object:
    h2 = F.substring(F.md5(F.concat_ws(":", lang, doc_id.cast("string"))), 1, 2)
    thr = F.lit(MIXTURE_DEFAULT_MAX_HEX)
    for lg, mx in MIXTURE_RATES.items():
        thr = F.when(lang == lg, mx).otherwise(thr)
    return h2 <= thr


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = F.when(_mixture_keep(F.col("lang"), F.col("doc_id")), 1).otherwise(0)
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum(kept).alias("kept_docs"),
            F.sum(kept * F.col("n_chars")).alias("kept_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_chars",
            "kept_docs",
            "kept_chars",
            # round(6): the driver value-hash is representation-sensitive.
            F.round(F.col("kept_docs") / F.col("n_docs"), 6).alias("kept_rate"),
        )
        .orderBy("lang")
    )


_MIXTURE_THR_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lg}' THEN '{mx}'" for lg, mx in MIXTURE_RATES.items()
) + f" ELSE '{MIXTURE_DEFAULT_MAX_HEX}' END"

MIXTURE_ORACLE = f"""
    WITH flagged AS (
        SELECT lang, n_chars,
               CASE WHEN substring(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 2)
                         <= {_MIXTURE_THR_SQL}
                    THEN 1 ELSE 0 END AS kept
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(kept) AS BIGINT) AS kept_docs,
           CAST(sum(kept * n_chars) AS BIGINT) AS kept_chars,
           round(sum(kept) / count(*), 6) AS kept_rate
    FROM flagged
    GROUP BY lang
    ORDER BY lang
"""


# ---------------------------------------------------------------------------
# l-diversity report: k-anonymity's required companion -- a
# quasi-identifier group can be k-anonymous yet still leak if everyone
# in it shares one sensitive value (the homogeneity attack).  Here the
# quasi-identifier is (market segment, nation) over customers joined
# with their orders, the sensitive attribute is the order priority; a
# cell is l-diverse when it contains >= L_DIVERSITY distinct priorities.
# Output per cell: size, distinct sensitive values, the top value's
# share (a homogeneous cell shows share ~1.0), and the verdict.  Scale:
# one combinable two-level aggregate -- (cell, value) counts first, then
# cell rollups with max(struct) for the dominant value; no windows, no
# distinct-exploded shuffle beyond the first groupBy.
# ---------------------------------------------------------------------------

L_DIVERSITY = 3


def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    joined = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .select("c_mktsegment", "n_name", "o_orderpriority")
    )
    cell_value = joined.groupBy(
        "c_mktsegment", "n_name", "o_orderpriority"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    top = F.max(
        F.struct(
            F.col("cnt").alias("c"), F.col("o_orderpriority").alias("v")
        )
    ).alias("top")
    return (
        cell_value.groupBy("c_mktsegment", "n_name")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_sensitive_values"),
            top,
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
            "n_rows",
            "n_sensitive_values",
            F.col("top.v").alias("dominant_value"),
            F.round(
                F.col("top.c").cast("double") / F.col("n_rows"), 6
            ).alias("dominant_share"),
            (F.col("n_sensitive_values") >= L_DIVERSITY).alias("l_diverse"),
        )
        .orderBy("segment", "nation")
    )


# ---------------------------------------------------------------------------
# t-closeness -- the third rung of the privacy ladder after k-anonymity
# (group size) and l-diversity (value variety): a QI group can be large
# AND varied yet still leak if its sensitive-value DISTRIBUTION differs
# sharply from the corpus-wide one.  For the categorical sensitive
# attribute the distance is total variation:
#     tvd(g) = 1/2 * sum_v | cnt_g(v)/n_g  -  G(v)/N |
# computed here as the EXACT integer sum_v |cnt_g(v)*N - G(v)*n_g| over
# a full (QI group x value) grid (absent values contribute G(v)*n_g --
# a LEFT join + coalesce, NOT just observed cells), divided once at the
# end.  Products are lifted to decimal(38,0) (cnt*N overflows BIGINT
# past ~3e9 rows); the verdict compares integers cross-multiplied
# against the T_CLOSENESS rational, never derived doubles.
#
# Scale: one (segment, nation, value) combinable count; everything
# after is re-aggregation of that cell table (|QI| x |values| rows) and
# one broadcast of the |values|-row global distribution.
# ---------------------------------------------------------------------------

T_CLOSE_NUM, T_CLOSE_DEN = 1, 5  # t = 0.2


def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    joined = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .select("c_mktsegment", "n_name", "o_orderpriority")
    )
    cells = joined.groupBy("c_mktsegment", "n_name", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    qi = cells.groupBy("c_mktsegment", "n_name").agg(
        F.sum("cnt").cast("bigint").alias("n_rows")
    )
    gv = cells.groupBy("o_orderpriority").agg(
        F.sum("cnt").cast("bigint").alias("g")
    )
    tot = gv.agg(F.sum("g").cast("bigint").alias("n_total"))
    grid = qi.crossJoin(F.broadcast(gv)).join(
        cells, ["c_mktsegment", "n_name", "o_orderpriority"], "left"
    )
    d = F.abs(
        F.coalesce("cnt", F.lit(0)).cast("decimal(38,0)") * F.col("n_total")
        - F.col("g").cast("decimal(38,0)") * F.col("n_rows")
    )
    per_qi = (
        grid.crossJoin(F.broadcast(tot))
        .groupBy("c_mktsegment", "n_name")
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.max("n_total").alias("n_total"),
            F.sum(d).alias("sum_d"),
        )
    )
    # integer verdict: tvd <= t  <=>  sum_d * DEN <= 2 * NUM * n_rows * N
    close = F.col("sum_d") * T_CLOSE_DEN <= (
        F.lit(2 * T_CLOSE_NUM).cast("decimal(38,0)")
        * F.col("n_rows")
        * F.col("n_total")
    )
    return per_qi.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation"),
        "n_rows",
        F.round(
            F.col("sum_d").cast("double")
            / (
                2.0
                * F.col("n_rows").cast("double")
                * F.col("n_total").cast("double")
            ),
            6,
        ).alias("tvd"),
        close.alias("t_close"),
    ).orderBy("segment", "nation")


T_CLOSENESS_ORACLE = f"""
    WITH j AS (
        SELECT c_mktsegment, n_name, o_orderpriority
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN orders ON c_custkey = o_custkey
    ),
    cells AS (
        SELECT c_mktsegment, n_name, o_orderpriority, count(*) AS cnt
        FROM j GROUP BY 1, 2, 3
    ),
    qi AS (
        SELECT c_mktsegment, n_name, CAST(sum(cnt) AS BIGINT) AS n_rows
        FROM cells GROUP BY 1, 2
    ),
    gv AS (
        SELECT o_orderpriority, CAST(sum(cnt) AS BIGINT) AS g
        FROM cells GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(g) AS BIGINT) AS n_total FROM gv),
    grid AS (
        SELECT qi.c_mktsegment, qi.n_name, qi.n_rows, gv.g, tot.n_total,
               coalesce(cells.cnt, 0) AS cnt
        FROM qi CROSS JOIN gv CROSS JOIN tot
        LEFT JOIN cells
          ON cells.c_mktsegment = qi.c_mktsegment
         AND cells.n_name = qi.n_name
         AND cells.o_orderpriority = gv.o_orderpriority
    ),
    per_qi AS (
        SELECT c_mktsegment, n_name,
               max(n_rows) AS n_rows,
               max(n_total) AS n_total,
               sum(abs(CAST(cnt AS HUGEINT) * n_total
                       - CAST(g AS HUGEINT) * n_rows)) AS sum_d
        FROM grid
        GROUP BY 1, 2
    )
    SELECT c_mktsegment AS segment, n_name AS nation, n_rows,
           round(CAST(sum_d AS DOUBLE)
                 / (2.0 * CAST(n_rows AS DOUBLE) * CAST(n_total AS DOUBLE)),
                 6) AS tvd,
           sum_d * {T_CLOSE_DEN} <= 2 * {T_CLOSE_NUM}
               * CAST(n_rows AS HUGEINT) * n_total AS t_close
    FROM per_qi
    ORDER BY segment, nation
"""


L_DIVERSITY_ORACLE = f"""
    WITH cv AS (
        SELECT c_mktsegment, n_name, o_orderpriority, count(*) AS cnt
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN orders ON c_custkey = o_custkey
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY c_mktsegment, n_name
                                  ORDER BY cnt DESC, o_orderpriority DESC)
                   AS rk
        FROM cv
    )
    SELECT c_mktsegment AS segment, n_name AS nation,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           count(*) AS n_sensitive_values,
           max(CASE WHEN rk = 1 THEN o_orderpriority END) AS dominant_value,
           round(CAST(max(CASE WHEN rk = 1 THEN cnt END) AS DOUBLE)
                 / sum(cnt), 6) AS dominant_share,
           count(*) >= {L_DIVERSITY} AS l_diverse
    FROM ranked
    GROUP BY 1, 2
    ORDER BY segment, nation
"""


# ---------------------------------------------------------------------------
# Right-to-be-forgotten cascade audit: given a deterministic erasure
# request set (every ERASURE_STRIDE-th customer -- standing in for the
# uploaded id list a privacy pipeline receives), report per market
# segment what a compliant deletion would remove ACROSS the referential
# chain customer -> orders -> lineitem: customers, orders, line items,
# and exact revenue.  This is the dry-run every deletion job should
# emit before rewriting 100 TB of parquet.
#
# Scale: the request set joins orders on the customer key and lineitem
# on the order key -- both plain shuffle-on-key hash joins (a deletion
# vector is a fraction of the dimension; when it IS tiny, AQE broadcasts
# it on its own).  LEFT joins keep requested customers with no orders in
# the audit; every count is a combinable aggregate (distinct counts are
# the two-phase Tungsten expansion) and revenue is the exact decimal sum.
# ---------------------------------------------------------------------------

ERASURE_STRIDE = 37


def erasure_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.portable import money_sum, revenue_expr

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    req = cust.filter(F.col("c_custkey") % ERASURE_STRIDE == 0).select(
        "c_custkey", "c_mktsegment"
    )
    chain = req.join(
        orders.select("o_orderkey", "o_custkey"),
        req["c_custkey"] == orders["o_custkey"],
        "left",
    ).join(li, F.col("o_orderkey") == li["l_orderkey"], "left")
    return (
        chain.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count("l_orderkey").alias("n_lineitems"),
            F.coalesce(
                money_sum(revenue_expr()), F.lit(0.0)
            ).alias("revenue_removed"),
        )
        .orderBy("c_mktsegment")
    )


ERASURE_AUDIT_ORACLE = f"""
    WITH req AS (
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey % {ERASURE_STRIDE} = 0
    )
    SELECT c_mktsegment,
           count(DISTINCT c_custkey) AS n_customers,
           count(DISTINCT o_orderkey) AS n_orders,
           count(l_orderkey) AS n_lineitems,
           coalesce(CAST(sum({SQL_REVENUE}) AS DOUBLE), 0.0)
               AS revenue_removed
    FROM req
    LEFT JOIN orders ON c_custkey = o_custkey
    LEFT JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Temperature-based language sampling weights (the multilingual
# pretraining alpha-sampling rule, e.g. mBERT/XLM-R: q_l proportional
# to p_l^alpha with alpha < 1): flattens the language distribution so
# low-resource languages are upsampled relative to their raw share.
# Output per language: raw share p, temperature share q, and the
# up/downsampling factor q/p a sampler would apply.
#
# Numeric discipline: p is one exact-int division (IEEE-deterministic);
# p^alpha is immediately cast to DECIMAL(25,12) -- truncating well
# below double precision, so a last-ulp pow() disagreement between
# engines cannot surface -- and the normalizer Z is an EXACT decimal
# sum of those terms (order-independent, unlike a double sum).  Scale:
# two combinable aggregates onto |langs| rows + broadcast scalars; the
# per-language table is never wider than the language count.
# ---------------------------------------------------------------------------

SAMPLING_ALPHA = 0.3


def language_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(F.sum("n_docs").alias("total_docs"))
    shared = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("p", F.col("n_docs") / F.col("total_docs"))
        .withColumn(
            "pa",
            F.pow("p", F.lit(SAMPLING_ALPHA)).cast("decimal(25,12)"),
        )
    )
    z = shared.agg(F.sum("pa").alias("z"))
    q = F.col("pa").cast("double") / F.col("z").cast("double")
    return (
        shared.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            F.round("p", 6).alias("raw_share"),
            F.round(q, 6).alias("temp_share"),
            F.round(q / F.col("p"), 6).alias("sample_factor"),
        )
        .orderBy("lang")
    )


SAMPLING_WEIGHTS_ORACLE = f"""
    WITH per AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    tot AS (SELECT sum(n_docs) AS total_docs FROM per),
    shared AS (
        SELECT lang, n_docs,
               CAST(n_docs AS DOUBLE) / total_docs AS p,
               CAST(pow(CAST(n_docs AS DOUBLE) / total_docs,
                        {SAMPLING_ALPHA}) AS DECIMAL(25,12)) AS pa
        FROM per, tot
    ),
    z AS (SELECT sum(pa) AS z FROM shared)
    SELECT lang,
           n_docs,
           round(p, 6) AS raw_share,
           round(CAST(pa AS DOUBLE) / CAST(z AS DOUBLE), 6) AS temp_share,
           round(CAST(pa AS DOUBLE) / CAST(z AS DOUBLE) / p, 6)
               AS sample_factor
    FROM shared, z
    ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Hierarchical rollup cascade (the hypertable/materialized-rollup
# pattern): hourly aggregates computed ONCE from the event stream, then
# daily derived FROM the hourly table and weekly FROM the daily table
# -- never re-scanning raw events.  The hourly aggregate is persisted,
# so the physical plan for the coarser levels reads the materialized
# partial (InMemoryTableScan), which is exactly how a time-series store
# maintains continuous aggregates: each level's input is the bounded
# output of the level below (dimension x buckets rows, not events).
# Counts and cents are exact integers, so re-aggregation is lossless by
# construction.  Cache reclaimed by the session contract.
# ---------------------------------------------------------------------------


def event_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bucket_start"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
        .persist()
    )
    daily = (
        hourly.select(
            "event_type",
            F.date_trunc("day", "bucket_start").alias("bucket_start"),
            "n_events",
            "value_cents",
        )
        .groupBy("event_type", "bucket_start")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
        )
    )
    weekly = (
        daily.select(
            "event_type",
            F.date_trunc("week", "bucket_start").alias("bucket_start"),
            "n_events",
            "value_cents",
        )
        .groupBy("event_type", "bucket_start")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
        )
    )
    return (
        hourly.select(F.lit("hour").alias("level"), "*")
        .unionByName(daily.select(F.lit("day").alias("level"), "*"))
        .unionByName(weekly.select(F.lit("week").alias("level"), "*"))
        .orderBy("level", "event_type", "bucket_start")
    )


ROLLUP_CASCADE_ORACLE = """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket_start,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events GROUP BY 1, 2
    ),
    daily AS (
        SELECT event_type, date_trunc('day', bucket_start) AS bucket_start,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(sum(value_cents) AS BIGINT) AS value_cents
        FROM hourly GROUP BY 1, 2
    ),
    weekly AS (
        SELECT event_type, date_trunc('week', bucket_start) AS bucket_start,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(sum(value_cents) AS BIGINT) AS value_cents
        FROM daily GROUP BY 1, 2
    )
    SELECT 'hour' AS level, * FROM hourly
    UNION ALL
    SELECT 'day', * FROM daily
    UNION ALL
    SELECT 'week', * FROM weekly
    ORDER BY level, event_type, bucket_start
"""


# ---------------------------------------------------------------------------
# Embedding/document alignment audit: semantic_dedup_hybrid and
# semdedup assume embeddings.vec_id IS documents.doc_id 1:1 -- this is
# the ingest check that VERIFIES it instead of assuming (the multimodal
# analogue of data_quality_audit's referential orphans).  Single-row
# report: table sizes, matched ids, orphans in each direction, and the
# go/no-go flag.  Two key-only anti joins + combinable counts; at
# corpus scale each join is shuffle-on-id (or bloom-pruned by the
# runtime filter).
# ---------------------------------------------------------------------------


def embedding_alignment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc_ids = load_table(spark, sf_dir, "documents").select("doc_id")
    vec_ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    matched = doc_ids.join(
        vec_ids, doc_ids["doc_id"] == vec_ids["vec_id"], "left_semi"
    )
    docs_orphan = doc_ids.join(
        vec_ids, doc_ids["doc_id"] == vec_ids["vec_id"], "left_anti"
    )
    vecs_orphan = vec_ids.join(
        doc_ids, vec_ids["vec_id"] == doc_ids["doc_id"], "left_anti"
    )
    return (
        doc_ids.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(vec_ids.agg(F.count(F.lit(1)).alias("n_vecs")))
        .crossJoin(matched.agg(F.count(F.lit(1)).alias("n_matched")))
        .crossJoin(
            docs_orphan.agg(F.count(F.lit(1)).alias("docs_without_vec"))
        )
        .crossJoin(
            vecs_orphan.agg(F.count(F.lit(1)).alias("vecs_without_doc"))
        )
        .select(
            "*",
            (
                (F.col("docs_without_vec") == 0)
                & (F.col("vecs_without_doc") == 0)
            ).alias("aligned"),
        )
    )


EMBEDDING_ALIGNMENT_ORACLE = """
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT count(*) FROM embeddings) AS n_vecs,
           (SELECT count(*) FROM documents d SEMI JOIN embeddings e
              ON d.doc_id = e.vec_id) AS n_matched,
           (SELECT count(*) FROM documents d ANTI JOIN embeddings e
              ON d.doc_id = e.vec_id) AS docs_without_vec,
           (SELECT count(*) FROM embeddings e ANTI JOIN documents d
              ON e.vec_id = d.doc_id) AS vecs_without_doc,
           (SELECT count(*) FROM documents d ANTI JOIN embeddings e
              ON d.doc_id = e.vec_id) = 0
           AND (SELECT count(*) FROM embeddings e ANTI JOIN documents d
              ON e.vec_id = d.doc_id) = 0 AS aligned
"""


# ---------------------------------------------------------------------------
# Week-over-week growth: the reporting layer on top of the rollup
# cascade -- per event type and ISO-truncated week, the exact cents
# total, the prior week's total (lag), the absolute delta, and the
# growth ratio.  The lag window is PARTITIONED by event_type and runs
# over the weekly aggregate (|event types| x |weeks| rows -- bounded by
# calendar time, never by event volume), the one place a window is the
# right tool at any scale.  Integer cents end-to-end; the ratio is one
# division.
# ---------------------------------------------------------------------------


def weekly_value_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    weekly = (
        ev.select(
            "event_type",
            F.date_trunc("week", "ts").alias("week_start"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "week_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("value_cents").over(w)
    return (
        weekly.select(
            "event_type",
            "week_start",
            "n_events",
            "value_cents",
            prev.alias("prev_value_cents"),
            (F.col("value_cents") - prev).alias("delta_cents"),
            F.round(
                F.col("value_cents").cast("double") / prev, 6
            ).alias("wow_ratio"),
        )
        .orderBy("event_type", "week_start")
    )


WOW_ORACLE = """
    WITH weekly AS (
        SELECT event_type,
               -- DuckDB's 'week' truncation yields DATE; Spark's yields
               -- TIMESTAMP -- cast so the driver compares equal types
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events
        GROUP BY 1, 2
    )
    SELECT event_type, week_start, n_events, value_cents,
           lag(value_cents) OVER (PARTITION BY event_type
                                  ORDER BY week_start) AS prev_value_cents,
           value_cents - lag(value_cents) OVER (PARTITION BY event_type
                                                ORDER BY week_start)
               AS delta_cents,
           round(CAST(value_cents AS DOUBLE)
                 / lag(value_cents) OVER (PARTITION BY event_type
                                          ORDER BY week_start), 6)
               AS wow_ratio
    FROM weekly
    ORDER BY event_type, week_start
"""


# ---------------------------------------------------------------------------
# Per-source frequency cap -- the domain-capping curation step: no single
# source may contribute more than SOURCE_CAP documents, so one crawled
# domain can't dominate the training mix.  Which documents survive is
# decided by a deterministic hash order (md5 of source:doc_id, doc_id
# tiebreak), NOT arrival order, so the capped sample is reproducible on
# any engine/partitioning and stable under re-runs -- the same
# hash-sampling discipline as corpus_mixture_sample, but rank-based so
# the cap is EXACT per source rather than a rate.
#
# Output is the per-source report (docs in, kept, dropped, kept chars,
# exact-division kept rate).  Scale (round-7 re-plan, VERDICT r6 item
# #2): a single ``Window.partitionBy("source")`` would colocate ALL
# rows of a source in ONE task -- a mega-crawl source (commonly more
# than half the corpus) would serialize, and AQE skew handling cannot
# help because skew-split applies to shuffle joins/aggregates, not to
# window partitions, which must be task-colocated.  Instead: two-phase
# top-K.  Phase 1 ranks within (input-split, source) -- the window keys
# carry spark_partition_id, so a mega-source spreads over every split
# and no task ever sorts more than one split's rows -- and keeps at
# most SOURCE_CAP rows per (split, source): any row ranked below CAP
# locally is below CAP globally, so everything dropped locally is
# droppable globally.  Phase 2 ranks the <= CAP x #splits survivors per
# source (tiny) for the exact global cap.  The kept set is IDENTICAL to
# the one-window plan: the md5 order is partition-independent.  Totals
# come from one combinable groupBy on the full stream; no global sort,
# no driver state.
# ---------------------------------------------------------------------------

SOURCE_CAP = 60


def source_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.md5(
            F.concat_ws(":", "source", F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    # phase 1: local top-K per (input split, source) -- fine-grained
    # window keys, so no single task owns a whole source
    w_local = Window.partitionBy("_split", "source").orderBy("h", "doc_id")
    survivors = (
        hashed.withColumn("_split", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= SOURCE_CAP)
        .drop("_split", "_lr")
    )
    # phase 2: exact global cap over the <= CAP x #splits survivors
    w_glob = Window.partitionBy("source").orderBy("h", "doc_id")
    kept = (
        survivors.withColumn("_gr", F.row_number().over(w_glob))
        .filter(F.col("_gr") <= SOURCE_CAP)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # LEFT + coalesce keeps a source with zero kept rows (only reachable
    # at SOURCE_CAP = 0) in the report rather than dropping it
    return (
        totals.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("n_docs") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
            F.coalesce("kept_chars", F.lit(0))
            .cast("bigint")
            .alias("kept_chars"),
            F.round(
                F.coalesce("n_kept", F.lit(0)).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("kept_rate"),
        )
        .orderBy("source")
    )


SOURCE_CAP_ORACLE = f"""
    WITH ranked AS (
        SELECT source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(source || ':' || CAST(doc_id AS STRING)),
                            doc_id
               ) <= {SOURCE_CAP} AS kept
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT)
               AS kept_chars,
           round(CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS kept_rate
    FROM ranked
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Per-language token-budget selection -- the "fill each language's
# training quota" curation step: within every language, documents are
# admitted longest-first (n_tokens desc, doc_id tiebreak -- a
# deterministic stand-in for a quality ordering) until the language's
# token budget (BUDGET_NUM/BUDGET_DEN of its total token mass, integer
# floor) is exhausted.  Unlike corpus_mixture_sample's rate-based
# thinning, the constraint here is an exact token BUDGET, which is how
# pretraining mixes are actually specified.
#
# All arithmetic is integer until the final rounded fill ratio, so the
# admitted set is identical on any engine/partitioning.  Scale (round-7
# re-plan, VERDICT r6 item #3): a ``Window.partitionBy("lang")`` cumsum
# would stream an ENTIRE language through one task -- English alone is
# ~half of a web corpus, so the per-lang window is a single-task
# ceiling, not just a parallelism loss.  Instead the running total uses
# the repo's two-pass range-partitioned prefix sum (the
# sequence_pack_tokens / _with_global_rank pattern): range-partition on
# the admission order (lang, n_toks desc, doc_id) so each range owns a
# contiguous slice of every language it touches; pass 1 collects
# per-(range, lang) subtotals (<= #ranges x #langs rows, O(cluster) not
# O(data)); pass 2 cumsums within (range, lang) in parallel and shifts
# by the broadcast per-lang range offsets == the exact global per-lang
# running total.  No task ever sorts more than one range's rows.  The
# ranged intermediate persists because both passes must observe the
# same range assignment; session.release_caches reclaims it.
# ---------------------------------------------------------------------------

BUDGET_NUM, BUDGET_DEN = 1, 2  # keep up to half of each language's tokens


def lang_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "lang", "doc_id", F.size(tokenize(F.col("text"))).alias("n_toks")
    )
    n_ranges = max(int(spark.sparkContext.defaultParallelism), 1)
    ranged = (
        counts.repartitionByRange(
            n_ranges, F.asc("lang"), F.desc("n_toks"), F.asc("doc_id")
        )
        .withColumn("_rng", F.spark_partition_id())
        .persist()
    )
    # pass 1: per-(range, lang) subtotals -> driver; ranges ascend with
    # the (lang, n_toks desc, doc_id) order, so a lang's offset in range
    # r is the sum of its subtotals over ranges < r
    sub = sorted(
        (int(r["_rng"]), r["lang"], int(r["t"]))
        for r in ranged.groupBy("_rng", "lang")
        .agg(F.sum("n_toks").alias("t"))
        .collect()
    )
    acc: dict[str, int] = {}
    offsets: dict[tuple[int, str], int] = {}
    for rng, lang, t in sub:
        offsets[(rng, lang)] = acc.get(lang, 0)
        acc[lang] = acc.get(lang, 0) + t
    if offsets:
        off_col = F.element_at(
            F.create_map(
                *[
                    c
                    for (rng, lang), v in offsets.items()
                    for c in (F.lit(f"{rng}|{lang}"), F.lit(v).cast("bigint"))
                ]
            ),
            F.concat_ws("|", F.col("_rng").cast("string"), "lang"),
        )
    else:
        off_col = F.lit(0).cast("bigint")
    # pass 2: parallel cumsum within each (range, lang) + broadcast offset
    w_in = (
        Window.partitionBy("_rng", "lang")
        .orderBy(F.desc("n_toks"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (off_col + F.sum("n_toks").over(w_in)).alias("cum_toks")
    tot = ranged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("lang_tokens"),
    )
    flagged = (
        ranged.select("lang", "n_toks", cum)
        .join(F.broadcast(tot), "lang")
        .withColumn(
            "budget_tokens",
            F.expr(f"(lang_tokens * {BUDGET_NUM}) div {BUDGET_DEN}"),
        )
        .withColumn("kept", F.col("cum_toks") <= F.col("budget_tokens"))
    )
    k = F.when(F.col("kept"), 1).otherwise(0)
    return (
        flagged.groupBy("lang")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("lang_tokens").alias("lang_tokens"),
            F.max("budget_tokens").alias("budget_tokens"),
            F.sum(k).cast("bigint").alias("kept_docs"),
            F.sum(k * F.col("n_toks")).cast("bigint").alias("kept_tokens"),
        )
        .select(
            "*",
            F.round(
                F.col("kept_tokens").cast("double")
                / F.greatest(F.col("budget_tokens"), F.lit(1)),
                6,
            ).alias("budget_fill"),
        )
        .orderBy("lang")
    )


def _lang_budget_oracle() -> str:
    from ..operators.text_analysis import DUCKDB_TOKS_CTE

    return f"""
    WITH {DUCKDB_TOKS_CTE},
    counts AS (
        SELECT d.lang, d.doc_id, len(t.ts) AS n_toks
        FROM documents d JOIN toks t USING (doc_id)
    ),
    cumd AS (
        SELECT lang, n_toks,
               sum(n_toks) OVER (PARTITION BY lang
                                 ORDER BY n_toks DESC, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS cum_toks
        FROM counts
    ),
    tot AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS lang_tokens
        FROM counts GROUP BY lang
    ),
    flagged AS (
        SELECT c.lang, c.n_toks, t.n_docs, t.lang_tokens,
               (t.lang_tokens * {BUDGET_NUM}) // {BUDGET_DEN} AS budget_tokens,
               c.cum_toks <= (t.lang_tokens * {BUDGET_NUM}) // {BUDGET_DEN}
                   AS kept
        FROM cumd c JOIN tot t USING (lang)
    )
    SELECT lang,
           max(n_docs) AS n_docs,
           max(lang_tokens) AS lang_tokens,
           max(budget_tokens) AS budget_tokens,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
           CAST(sum(CASE WHEN kept THEN n_toks ELSE 0 END) AS BIGINT)
               AS kept_tokens,
           round(CAST(sum(CASE WHEN kept THEN n_toks ELSE 0 END) AS DOUBLE)
                 / greatest(max(budget_tokens), 1), 6) AS budget_fill
    FROM flagged
    GROUP BY lang
    ORDER BY lang
"""


LANG_BUDGET_ORACLE = _lang_budget_oracle()


# ---------------------------------------------------------------------------
# Corpus composition matrix -- the (source x language) crosstab a data
# lead reads first when a new crawl drop lands: which sources carry
# which languages, by document and character mass, with each cell's
# share of its source and of the whole corpus.  The upstream input to
# every mixture decision (corpus_mixture_sample,
# lang_token_budget_selection, language_sampling_weights).
#
# Scale: one combinable (source, lang) groupBy; per-source totals come
# from re-aggregating the CELL table (|sources| x |langs| rows, tiny),
# corpus totals broadcast as one row.  Integer counts, two rounded
# divisions.
# ---------------------------------------------------------------------------


def corpus_source_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    per_source = cells.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("source_docs")
    )
    corpus = cells.agg(F.sum("n_docs").cast("bigint").alias("corpus_docs"))
    return (
        cells.join(F.broadcast(per_source), "source")
        .crossJoin(F.broadcast(corpus))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_chars",
            F.round(
                F.col("n_docs").cast("double") / F.col("source_docs"), 6
            ).alias("share_of_source"),
            F.round(
                F.col("n_docs").cast("double") / F.col("corpus_docs"), 6
            ).alias("share_of_corpus"),
        )
        .orderBy("source", "lang")
    )


SOURCE_LANG_MATRIX_ORACLE = """
    WITH cells AS (
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY source, lang
    ),
    per_source AS (
        SELECT source, CAST(sum(n_docs) AS BIGINT) AS source_docs
        FROM cells GROUP BY source
    ),
    corpus AS (SELECT CAST(sum(n_docs) AS BIGINT) AS corpus_docs FROM cells)
    SELECT source, lang, n_docs, n_chars,
           round(CAST(n_docs AS DOUBLE) / source_docs, 6) AS share_of_source,
           round(CAST(n_docs AS DOUBLE) / corpus_docs, 6) AS share_of_corpus
    FROM cells JOIN per_source USING (source), corpus
    ORDER BY source, lang
"""


# ---------------------------------------------------------------------------
# Per-source quality decision -- the domain-filtering step every
# RefinedWeb/Gopher-style pipeline runs ABOVE document filtering: roll
# the per-document quality counters up to source granularity and attach
# the keep / downsample / drop decision the mixture builder consumes.
# Decisions are integer cross-multiplications of EXACT per-source sums
# (never comparisons on derived doubles), so the verdict is identical
# on any engine/partitioning; the emitted ratios are single rounded
# divisions for the human reading the report.
#
# Thresholds: a source is 'drop' when its corpus-level stopword ratio
# is under 5% (gibberish / non-language) or its alphabetic ratio is
# under 40% (markup/code dumps); 'downsample' when it exceeds
# SOURCE_CAP documents (the frequency-cap interplay); else 'keep'.
#
# Scale: one token scan with map-side-combinable integer sums into
# |sources| rows -- no windows, no per-doc state kept past the rollup.
# ---------------------------------------------------------------------------


def source_quality_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_analysis import EN_STOPS, _hits

    docs = load_table(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    per_doc = docs.select(
        "source",
        F.size(ts).cast("bigint").alias("n_toks"),
        _hits(ts, EN_STOPS).cast("bigint").alias("stop_hits"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
        .cast("bigint")
        .alias("n_alpha"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum("stop_hits").cast("bigint").alias("stop_hits"),
        F.sum("n_alpha").cast("bigint").alias("n_alpha"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    low_stop = F.col("stop_hits") * 100 < F.col("n_tokens") * 5
    low_alpha = F.col("n_alpha") * 100 < F.col("n_chars") * 40
    decision = (
        F.when(low_stop | low_alpha, F.lit("drop"))
        .when(F.col("n_docs") > SOURCE_CAP, F.lit("downsample"))
        .otherwise(F.lit("keep"))
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("stop_hits").cast("double") / F.col("n_tokens"), 6
        ).alias("stop_ratio"),
        F.round(F.col("n_alpha").cast("double") / F.col("n_chars"), 6).alias(
            "alpha_ratio"
        ),
        decision.alias("decision"),
    ).orderBy("source")


def _source_quality_oracle() -> str:
    from .text_analysis import EN_STOPS, _sql_hits
    from .text_analysis import DUCKDB_TOKS_CTE as _TOKS

    return f"""
    WITH {_TOKS},
    per_doc AS (
        SELECT d.source,
               CAST(len(t.ts) AS BIGINT) AS n_toks,
               CAST({_sql_hits('t.ts', EN_STOPS)} AS BIGINT) AS stop_hits,
               CAST(length(regexp_replace(lower(d.text), '[^a-z]', '', 'g'))
                    AS BIGINT) AS n_alpha,
               CAST(length(d.text) AS BIGINT) AS n_chars
        FROM documents d JOIN toks t USING (doc_id)
    ),
    agg AS (
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens,
               CAST(sum(stop_hits) AS BIGINT) AS stop_hits,
               CAST(sum(n_alpha) AS BIGINT) AS n_alpha,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM per_doc
        GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           round(CAST(stop_hits AS DOUBLE) / n_tokens, 6) AS stop_ratio,
           round(CAST(n_alpha AS DOUBLE) / n_chars, 6) AS alpha_ratio,
           CASE WHEN stop_hits * 100 < n_tokens * 5
                     OR n_alpha * 100 < n_chars * 40 THEN 'drop'
                WHEN n_docs > {SOURCE_CAP} THEN 'downsample'
                ELSE 'keep' END AS decision
    FROM agg
    ORDER BY source
"""


SOURCE_QUALITY_ORACLE = _source_quality_oracle()


# ---------------------------------------------------------------------------
# Source-policy application -- the capstone that EXECUTES the verdicts
# the two source-level operators only report: per source,
#   keep        -> all documents survive,
#   downsample  -> exactly the SOURCE_CAP hash-ranked documents survive
#                  (the identical deterministic kept set as
#                  source_frequency_cap's two-phase top-K),
#   drop        -> nothing survives.
# Output is the per-source funnel (decision, docs in/out, chars out,
# keep rate) a release run logs before materializing the corpus.
#
# Scale: the decision table is |sources| rows (broadcast); the rank
# reuses the two-phase top-K (local rank per (split, source), global
# rank over <= CAP x #splits survivors -- no full-stream per-source
# window); rollup is one combinable groupBy.
# ---------------------------------------------------------------------------


def source_policy_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dec = source_quality_decision(spark, sf_dir).select("source", "decision")
    hashed = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.md5(
            F.concat_ws(":", "source", F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    w_local = Window.partitionBy("_split", "source").orderBy("h", "doc_id")
    survivors = (
        hashed.withColumn("_split", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= SOURCE_CAP)
        .drop("_split", "_lr")
    )
    w_glob = Window.partitionBy("source").orderBy("h", "doc_id")
    capped = (
        survivors.withColumn("_gr", F.row_number().over(w_glob))
        .filter(F.col("_gr") <= SOURCE_CAP)
        .select("doc_id")
        .withColumn("in_cap", F.lit(1))
    )
    flagged = (
        hashed.join(capped, "doc_id", "left")
        .join(F.broadcast(dec), "source")
        .withColumn(
            "out",
            F.when(F.col("decision") == "drop", 0)
            .when(
                F.col("decision") == "downsample",
                F.coalesce("in_cap", F.lit(0)),
            )
            .otherwise(1),
        )
    )
    return (
        flagged.groupBy("source", "decision")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum("out").cast("bigint").alias("docs_out"),
            F.sum(F.col("out") * F.col("n_chars"))
            .cast("bigint")
            .alias("chars_out"),
        )
        .select(
            "source",
            "decision",
            "docs_in",
            "docs_out",
            "chars_out",
            F.round(
                F.col("docs_out").cast("double") / F.col("docs_in"), 6
            ).alias("keep_rate"),
        )
        .orderBy("source")
    )


def _source_policy_oracle() -> str:
    return f"""
    WITH dec AS (
        SELECT source, decision FROM ({_source_quality_oracle()})
    ),
    ranked AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(source || ':' || CAST(doc_id AS STRING)),
                            doc_id
               ) <= {SOURCE_CAP} AS in_cap
        FROM documents
    ),
    flagged AS (
        SELECT r.source, dec.decision, r.n_chars,
               CASE WHEN dec.decision = 'drop' THEN 0
                    WHEN dec.decision = 'downsample'
                         THEN CASE WHEN r.in_cap THEN 1 ELSE 0 END
                    ELSE 1 END AS o
        FROM ranked r JOIN dec USING (source)
    )
    SELECT source, decision,
           count(*) AS docs_in,
           CAST(sum(o) AS BIGINT) AS docs_out,
           CAST(sum(o * n_chars) AS BIGINT) AS chars_out,
           round(CAST(sum(o) AS DOUBLE) / count(*), 6) AS keep_rate
    FROM flagged
    GROUP BY source, decision
    ORDER BY source
"""


SOURCE_POLICY_ORACLE = _source_policy_oracle()


# ---------------------------------------------------------------------------
# Temperature-sampling tuning curve -- the alpha ladder for
# language_sampling_weights (the threshold-curve idiom applied to the
# mixture temperature): for each candidate alpha, the per-language
# temperature share q = p^alpha / Z(alpha) and the resulting
# up/down-sampling factor.  The table a release engineer reads to pick
# SAMPLING_ALPHA.  Scale: the per-language table is dimension-sized, the
# ladder explodes |langs| x |alphas| rows, and every pow goes through the
# decimal(25,12) truncation both engines share (the
# language_sampling_weights discipline); Z broadcasts per alpha.
# ---------------------------------------------------------------------------

MIXTURE_ALPHAS = (0.2, 0.3, 0.5, 0.7, 1.0)


def mixture_temperature_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(F.sum("n_docs").alias("total_docs"))
    laddered = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("p", F.col("n_docs") / F.col("total_docs"))
        .withColumn(
            "alpha", F.explode(F.array(*[F.lit(a) for a in MIXTURE_ALPHAS]))
        )
        .withColumn(
            "pa", F.pow("p", F.col("alpha")).cast("decimal(25,12)")
        )
    )
    z = laddered.groupBy("alpha").agg(F.sum("pa").alias("z"))
    q = F.col("pa").cast("double") / F.col("z").cast("double")
    return (
        laddered.join(F.broadcast(z), "alpha")
        .select(
            "alpha",
            "lang",
            "n_docs",
            F.round("p", 6).alias("raw_share"),
            F.round(q, 6).alias("temp_share"),
            F.round(q / F.col("p"), 6).alias("sample_factor"),
        )
        .orderBy("alpha", "lang")
    )


def _mixture_curve_oracle() -> str:
    alpha_values = ", ".join(f"({a}e0)" for a in MIXTURE_ALPHAS)
    return f"""
    WITH per AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    tot AS (SELECT sum(n_docs) AS total_docs FROM per),
    alphas(alpha) AS (VALUES {alpha_values}),
    laddered AS (
        SELECT alpha, lang, n_docs,
               CAST(n_docs AS DOUBLE) / total_docs AS p,
               CAST(pow(CAST(n_docs AS DOUBLE) / total_docs, alpha)
                    AS DECIMAL(25,12)) AS pa
        FROM per, tot, alphas
    ),
    z AS (SELECT alpha, sum(pa) AS z FROM laddered GROUP BY alpha)
    SELECT laddered.alpha,
           lang,
           n_docs,
           round(p, 6) AS raw_share,
           round(CAST(pa AS DOUBLE) / CAST(z AS DOUBLE), 6) AS temp_share,
           round(CAST(pa AS DOUBLE) / CAST(z AS DOUBLE) / p, 6)
               AS sample_factor
    FROM laddered JOIN z ON laddered.alpha = z.alpha
    ORDER BY laddered.alpha, lang
"""


MIXTURE_CURVE_ORACLE = _mixture_curve_oracle()


# ---------------------------------------------------------------------------
# Per-source epoch/repetition plan under a token budget (round 10) --
# the data-constrained-scaling planning table: given a training budget
# of EPOCHS_BUDGET_MULT x the corpus token mass and temperature sampling
# weights over TOKEN mass (q_s ~ p_s^alpha, the same alpha rule as
# language_sampling_weights but on tokens, which is what a sampler
# actually draws), each source is drawn q_s * budget tokens, i.e. is
# repeated for epochs = q_s * budget / tokens_s passes.  Upsampled
# low-resource sources repeat; past ~4 epochs repetition stops buying
# quality (the data-constrained scaling observation), so over_cap flags
# the sources whose plan exceeds EPOCHS_CAP -- the actionable "find more
# of this data or lower its weight" list.  Completes the mixture-design
# ladder: language_sampling_weights (weights) -> mixture_temperature_curve
# (alpha tuning) -> lang_token_budget_selection (admission) -> THIS
# (repetition consequences of the chosen weights).
#
# Numeric discipline: token counts are exact ints; p is one IEEE
# division; p^alpha truncates to DECIMAL(25,12) before the exact decimal
# normalizer sum (the language_sampling_weights discipline, so a
# last-ulp pow() disagreement cannot surface); budget_tokens is an exact
# int; epochs is a fixed-order double chain over those, rounded once.
# Scale: one combinable per-source token rollup (map-side partials over
# the token stream), then |sources| rows with two broadcast scalars.
# ---------------------------------------------------------------------------

EPOCHS_BUDGET_MULT = 2  # train on 2x the corpus token mass
EPOCHS_CAP = 4.0  # repetition ceiling before over_cap flags


def source_epochs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            "source", F.size(tokenize(F.col("text"))).alias("n_toks")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("source_tokens"),
        )
    )
    tot = per.agg(F.sum("source_tokens").cast("bigint").alias("total_tokens"))
    shared = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("p", F.col("source_tokens") / F.col("total_tokens"))
        .withColumn(
            "pa", F.pow("p", F.lit(SAMPLING_ALPHA)).cast("decimal(25,12)")
        )
    )
    z = shared.agg(F.sum("pa").alias("z"))
    q = F.col("pa").cast("double") / F.col("z").cast("double")
    budget = (F.lit(EPOCHS_BUDGET_MULT) * F.col("total_tokens")).cast("bigint")
    epochs = F.round(
        q * F.col("budget_tokens").cast("double")
        / F.col("source_tokens").cast("double"),
        6,
    )
    return (
        shared.crossJoin(F.broadcast(z))
        .withColumn("budget_tokens", budget)
        .select(
            "source",
            "n_docs",
            "source_tokens",
            "budget_tokens",
            F.round("p", 6).alias("raw_share"),
            F.round(q, 6).alias("temp_share"),
            epochs.alias("epochs"),
            (epochs > EPOCHS_CAP).alias("over_cap"),
        )
        .orderBy("source")
    )


def _source_epochs_oracle() -> str:
    from ..operators.text_analysis import DUCKDB_TOKS_CTE

    return f"""
    WITH {DUCKDB_TOKS_CTE},
    per AS (
        SELECT d.source,
               count(*) AS n_docs,
               CAST(sum(len(t.ts)) AS BIGINT) AS source_tokens
        FROM documents d JOIN toks t USING (doc_id)
        GROUP BY d.source
    ),
    tot AS (SELECT CAST(sum(source_tokens) AS BIGINT) AS total_tokens FROM per),
    shared AS (
        SELECT source, n_docs, source_tokens, total_tokens,
               CAST(source_tokens AS DOUBLE) / total_tokens AS p,
               CAST(pow(CAST(source_tokens AS DOUBLE) / total_tokens,
                        {SAMPLING_ALPHA}) AS DECIMAL(25,12)) AS pa
        FROM per, tot
    ),
    z AS (SELECT sum(pa) AS z FROM shared)
    SELECT source,
           n_docs,
           source_tokens,
           CAST({EPOCHS_BUDGET_MULT} * total_tokens AS BIGINT) AS budget_tokens,
           round(p, 6) AS raw_share,
           round(CAST(pa AS DOUBLE) / CAST(z AS DOUBLE), 6) AS temp_share,
           round(CAST(pa AS DOUBLE) / CAST(z AS DOUBLE)
                 * CAST({EPOCHS_BUDGET_MULT} * total_tokens AS DOUBLE)
                 / CAST(source_tokens AS DOUBLE), 6) AS epochs,
           round(CAST(pa AS DOUBLE) / CAST(z AS DOUBLE)
                 * CAST({EPOCHS_BUDGET_MULT} * total_tokens AS DOUBLE)
                 / CAST(source_tokens AS DOUBLE), 6) > {EPOCHS_CAP}
               AS over_cap
    FROM shared, z
    ORDER BY source
"""


SOURCE_EPOCHS_ORACLE = _source_epochs_oracle()


# ---------------------------------------------------------------------------
# Differential-privacy sensitivity audit -- the table a DP release of
# per-event-type aggregates has to be designed AGAINST: before anyone
# picks a noise scale, they need each aggregate's SENSITIVITY (how much
# one user can move it).  Per event type this reports, over exact cents:
#
#   max_user_day_cents   -- L-inf sensitivity of a per-(type, day) sum
#                           under EVENT-level adjacency is one event;
#                           under USER-DAY adjacency it is this value
#   max_user_total_cents -- user-level sensitivity of the type total
#   p95_user_total_cents -- the clipping bound that keeps 95% of users
#                           un-clipped (the standard budget/utility
#                           trade point)
#   top_user_share       -- the dominance diagnostic: a share near 1
#                           means user-level DP noise must swamp the
#                           statistic and the release plan is moot
#
# The audit itself is deterministic exact arithmetic (no noise is added
# here -- adding noise is the RELEASE step and is inherently
# nondeterministic, so it cannot live behind a value-hash gate; the
# k-anon / l-diversity / t-closeness trio plus this sensitivity table
# are the deterministic 90% of a governance review).
#
# Scale: one combinable (type, user, day) rollup, a (type, user)
# re-aggregate, then per-type max/percentile over the user table --
# exact `percentile` is one sort per type group of USER cardinality
# (quantile_summary's documented posture; the sketch path is
# percentile_approx).  No windows, no joins beyond the rollups.
# ---------------------------------------------------------------------------


def dp_sensitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    user_day = ev.groupBy("event_type", "user_id", "day").agg(
        F.sum("cents").cast("bigint").alias("day_cents")
    )
    user = user_day.groupBy("event_type", "user_id").agg(
        F.max("day_cents").alias("max_day_cents"),
        F.sum("day_cents").cast("bigint").alias("total_cents"),
    )
    return (
        user.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.max("max_day_cents").alias("max_user_day_cents"),
            F.max("total_cents").alias("max_user_total_cents"),
            F.expr("percentile(total_cents, 0.95D)").alias(
                "p95_user_total_cents"
            ),
            F.sum("total_cents").cast("bigint").alias("_type_total"),
        )
        .select(
            "event_type",
            "n_users",
            "max_user_day_cents",
            "max_user_total_cents",
            "p95_user_total_cents",
            (
                F.col("max_user_total_cents").cast("double")
                / F.col("_type_total").cast("double")
            ).alias("top_user_share"),
        )
        .orderBy("event_type")
    )


DP_SENSITIVITY_ORACLE = """
    WITH user_day AS (
        SELECT event_type, user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS day_cents
        FROM events GROUP BY 1, 2, 3
    ),
    usr AS (
        SELECT event_type, user_id,
               max(day_cents) AS max_day_cents,
               CAST(sum(day_cents) AS BIGINT) AS total_cents
        FROM user_day GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           max(max_day_cents) AS max_user_day_cents,
           max(total_cents) AS max_user_total_cents,
           quantile_cont(total_cents, 0.95) AS p95_user_total_cents,
           CAST(max(total_cents) AS DOUBLE)
               / CAST(CAST(sum(total_cents) AS BIGINT) AS DOUBLE)
               AS top_user_share
    FROM usr
    GROUP BY event_type
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Supervised curation diagnostics: decision stump + mutual information.
#
# "Which cheap quality signal best predicts duplication?" -- the
# feature-selection question a curation team asks before wiring a gate.
# The label is NEAR-duplicate participation: the doc appears in at
# least one exact n-gram Jaccard pair at JACCARD_THRESHOLD (the
# dedup_ngram_jaccard ground truth, read through the materialized pair
# index -- a probe path, the leakage_safe_split_audit posture; exact
# content hashing labels nothing at the small fixtures, which have
# near-dups but no byte-identical copies).  The features are the four
# text_quality_score ratios, binned to a FIXED 16-slot grid by pure
# INTEGER division (bin = (16*num) div den, capped), so the histogram
# is engine-exact with no IEEE op anywhere in the binning.
#
# decision_stump_learn: for every feature, scan the 15 candidate
# thresholds of the binned histogram and pick the split maximizing
# information gain (Quinlan ID3 on one level).  All candidate counts
# are exact BIGINT prefix sums over the 16-bin per-feature table (a
# bounded PARTITIONED window); the gain is a per-row fixed-order double
# chain over those exact integers, quantized to the integer picogrid
# (floor(gain*1e12 + 0.5) -- the silhouette discipline) BEFORE the
# argmax, so winner selection never compares raw doubles.
#
# feature_label_mutual_info: I(X;Y) = sum p(x,y) ln(p(x,y)/(p(x)p(y)))
# over the <= 16x2 cell grid per feature, each term a fixed-order chain
# of exact-integer single divisions, picogrid-quantized per cell and
# summed EXACTLY; normalized by H(label) computed the same way.
#
# Scale: one scan of documents, one shuffle on content_hash for the
# label, one combinable groupBy to the (feature, bin, label) histogram
# (<= 4*16*2 = 128 rows); everything after rides bounded metadata
# tables.  No driver data paths, no corpus-cardinality windows.
# ---------------------------------------------------------------------------

STUMP_BINS = 16


def _neardup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, is_dup=1) for every doc in an exact-Jaccard near-dup
    pair -- a probe of the materialized pair index, shared by the
    stump/MI/isotonic label."""
    from .dedup import JACCARD_THRESHOLD, jaccard_pairs_indexed

    pairs = jaccard_pairs_indexed(spark, sf_dir).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    return (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1).cast("bigint"))
    )


def _labeled_feature_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, label, feature, bin): the shared exact-integer binned
    feature stream behind decision_stump_learn and
    feature_label_mutual_info."""
    from .dedup import JACCARD_THRESHOLD, jaccard_pairs_indexed
    from .text_analysis import EN_STOPS, _hits

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_indexed(spark, sf_dir).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    dup_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1).cast("bigint"))
    )
    ts = tokenize(F.col("text"))
    base = docs.select(
        "doc_id",
        F.greatest(F.length("text").cast("bigint"), F.lit(1)).alias(
            "n_chars"
        ),
        F.greatest(F.size(ts).cast("bigint"), F.lit(1)).alias("n_tokens"),
        F.size(F.array_distinct(ts)).cast("bigint").alias("n_distinct"),
        F.aggregate(
            F.transform(ts, lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_token_len"),
        _hits(ts, EN_STOPS).cast("bigint").alias("stop_hits"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
        .cast("bigint")
        .alias("n_alpha"),
    )
    labeled = base.join(dup_ids, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("is_dup"), F.lit(0).cast("bigint")).alias("label"),
        F.least(F.expr("(16 * stop_hits) div n_tokens"), F.lit(15))
        .cast("int")
        .alias("stop_bin"),
        F.least(F.expr("(16 * n_distinct) div n_tokens"), F.lit(15))
        .cast("int")
        .alias("distinct_bin"),
        F.least(F.expr("(16 * n_alpha) div n_chars"), F.lit(15))
        .cast("int")
        .alias("alpha_bin"),
        F.least(F.expr("(2 * sum_token_len) div n_tokens"), F.lit(15))
        .cast("int")
        .alias("len_bin"),
    )
    return labeled.select(
        "doc_id",
        "label",
        F.expr(
            "stack(4, 'alpha_ratio', alpha_bin, 'avg_token_len', len_bin,"
            " 'distinct_ratio', distinct_bin, 'stop_ratio', stop_bin)"
            " as (feature, bin)"
        ),
    )


_NEARDUP_IDS_SQL = """
    sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
    jpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    dup_ids AS (
        SELECT DISTINCT d AS dup_doc FROM (
            SELECT doc_a AS d FROM jpairs
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
                  >= {thr}
            UNION ALL
            SELECT doc_b FROM jpairs
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
                  >= {thr}
        )
    )
"""

_FEATURE_BINS_SQL = _NEARDUP_IDS_SQL + """,
    base AS (
        SELECT doc_id,
               GREATEST(CAST(length(text) AS BIGINT), 1) AS n_chars,
               GREATEST(CAST(len(ts) AS BIGINT), 1) AS n_tokens,
               CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(ts, t -> CAST(length(t) AS BIGINT))),
                    (a, x) -> a + x) AS BIGINT) AS sum_token_len,
               CAST({stop_hits} AS BIGINT) AS stop_hits,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                    AS BIGINT) AS n_alpha
        FROM toks JOIN documents USING (doc_id)
    ),
    labeled AS (
        SELECT doc_id,
               CASE WHEN dup_doc IS NOT NULL
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
               END AS label,
               CAST(LEAST((16 * stop_hits) // n_tokens, 15) AS INTEGER)
                   AS stop_bin,
               CAST(LEAST((16 * n_distinct) // n_tokens, 15) AS INTEGER)
                   AS distinct_bin,
               CAST(LEAST((16 * n_alpha) // n_chars, 15) AS INTEGER)
                   AS alpha_bin,
               CAST(LEAST((2 * sum_token_len) // n_tokens, 15) AS INTEGER)
                   AS len_bin
        FROM base LEFT JOIN dup_ids ON base.doc_id = dup_ids.dup_doc
    ),
    feats AS (
        SELECT label, 'alpha_ratio' AS feature, alpha_bin AS bin FROM labeled
        UNION ALL
        SELECT label, 'avg_token_len', len_bin FROM labeled
        UNION ALL
        SELECT label, 'distinct_ratio', distinct_bin FROM labeled
        UNION ALL
        SELECT label, 'stop_ratio', stop_bin FROM labeled
    )
"""


def _entropy_expr(c, m):
    """-p ln p term: (c/m) * ln(c/m) with the 0 log 0 := 0 convention --
    the exact chain mirrored textually in the oracle SQL."""
    p = c.cast("double") / m.cast("double")
    return F.when(c > 0, p * F.log(p)).otherwise(F.lit(0.0))


def decision_stump_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _labeled_feature_bins(spark, sf_dir)
    hist = feats.groupBy("feature", "bin").agg(
        F.sum("label").cast("bigint").alias("n_pos"),
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
    )
    w_cum = (
        Window.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "feature",
        "bin",
        F.sum("n_pos").over(w_cum).alias("lp"),
        F.sum("n_all").over(w_cum).alias("la"),
    )
    tot = hist.groupBy("feature").agg(
        F.sum("n_pos").cast("bigint").alias("tot_pos"),
        F.sum("n_all").cast("bigint").alias("tot_all"),
    )
    cand = (
        cum.filter(F.col("bin") < STUMP_BINS - 1)
        .join(F.broadcast(tot), "feature")
        .select(
            "feature",
            (F.col("bin") + 1).cast("int").alias("t"),
            F.col("lp").cast("bigint").alias("lp"),
            F.col("la").cast("bigint").alias("la"),
            (F.col("tot_pos") - F.col("lp")).cast("bigint").alias("rp"),
            (F.col("tot_all") - F.col("la")).cast("bigint").alias("ra"),
            "tot_pos",
            "tot_all",
        )
    )
    n = F.col("tot_all")
    h_par = -(
        _entropy_expr(F.col("tot_pos"), n)
        + _entropy_expr(n - F.col("tot_pos"), n)
    )
    h_l = -(
        _entropy_expr(F.col("lp"), F.col("la"))
        + _entropy_expr(F.col("la") - F.col("lp"), F.col("la"))
    )
    h_r = -(
        _entropy_expr(F.col("rp"), F.col("ra"))
        + _entropy_expr(F.col("ra") - F.col("rp"), F.col("ra"))
    )
    gain = (
        h_par
        - (F.col("la").cast("double") / n.cast("double")) * h_l
        - (F.col("ra").cast("double") / n.cast("double")) * h_r
    )
    scored = cand.select(
        "feature",
        "t",
        "lp",
        "la",
        "rp",
        "ra",
        F.floor(gain * F.lit(1000000000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("gain_q12"),
    )
    best = scored.groupBy("feature").agg(
        F.max(
            F.struct(
                F.col("gain_q12"),
                (-F.col("t")).alias("nt"),
                F.col("t"),
                F.col("lp"),
                F.col("la"),
                F.col("rp"),
                F.col("ra"),
            )
        ).alias("s")
    )
    w_rank = Window.orderBy(F.desc(F.col("s.gain_q12")), F.col("feature"))
    return (
        best.select(
            "feature",
            F.col("s.t").alias("best_t"),
            F.when(
                F.col("feature") == "avg_token_len",
                F.col("s.t").cast("double") * F.lit(0.5),
            )
            .otherwise(F.col("s.t").cast("double") * F.lit(0.0625))
            .alias("threshold_value"),
            (F.col("s.gain_q12").cast("double") / F.lit(1000000000000.0)).alias(
                "gain_nats"
            ),
            F.col("s.la").alias("n_left"),
            F.col("s.ra").alias("n_right"),
            F.when(
                F.col("s.la") > 0,
                F.col("s.lp").cast("double") / F.col("s.la").cast("double"),
            ).alias("pos_rate_left"),
            F.when(
                F.col("s.ra") > 0,
                F.col("s.rp").cast("double") / F.col("s.ra").cast("double"),
            ).alias("pos_rate_right"),
            F.row_number().over(w_rank).cast("int").alias("gain_rank"),
        )
        .orderBy("feature")
    )


_SQL_H = (
    "CASE WHEN {c} > 0 THEN (CAST({c} AS DOUBLE) / CAST({m} AS DOUBLE))"
    " * ln(CAST({c} AS DOUBLE) / CAST({m} AS DOUBLE)) ELSE 0.0 END"
)


def _stump_oracle() -> str:
    from ..functions.text import DUCKDB_SHINGLES_CTE
    from .dedup import JACCARD_THRESHOLD
    from .text_analysis import EN_STOPS, _sql_hits

    feats = _FEATURE_BINS_SQL.format(
        stop_hits=_sql_hits("ts", EN_STOPS), thr=JACCARD_THRESHOLD
    )
    h_par = (
        "-("
        + _SQL_H.format(c="tot_pos", m="tot_all")
        + " + "
        + _SQL_H.format(c="tot_all - tot_pos", m="tot_all")
        + ")"
    )
    h_l = (
        "-("
        + _SQL_H.format(c="lp", m="la")
        + " + "
        + _SQL_H.format(c="la - lp", m="la")
        + ")"
    )
    h_r = (
        "-("
        + _SQL_H.format(c="rp", m="ra")
        + " + "
        + _SQL_H.format(c="ra - rp", m="ra")
        + ")"
    )
    return f"""
    WITH {DUCKDB_SHINGLES_CTE},
    {feats},
    hist AS (
        SELECT feature, bin,
               CAST(sum(label) AS BIGINT) AS n_pos,
               CAST(count(*) AS BIGINT) AS n_all
        FROM feats GROUP BY 1, 2
    ),
    cum AS (
        SELECT feature, bin,
               CAST(sum(n_pos) OVER (PARTITION BY feature ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS lp,
               CAST(sum(n_all) OVER (PARTITION BY feature ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS la
        FROM hist
    ),
    tot AS (
        SELECT feature,
               CAST(sum(n_pos) AS BIGINT) AS tot_pos,
               CAST(sum(n_all) AS BIGINT) AS tot_all
        FROM hist GROUP BY 1
    ),
    cand AS (
        SELECT c.feature, CAST(c.bin + 1 AS INTEGER) AS t,
               c.lp, c.la,
               CAST(t2.tot_pos - c.lp AS BIGINT) AS rp,
               CAST(t2.tot_all - c.la AS BIGINT) AS ra,
               t2.tot_pos, t2.tot_all
        FROM cum c JOIN tot t2 USING (feature)
        WHERE c.bin < {STUMP_BINS - 1}
    ),
    scored AS (
        SELECT feature, t, lp, la, rp, ra,
               CAST(floor(({h_par}
                   - (CAST(la AS DOUBLE) / CAST(tot_all AS DOUBLE)) * ({h_l})
                   - (CAST(ra AS DOUBLE) / CAST(tot_all AS DOUBLE)) * ({h_r}))
                   * 1000000000000.0 + 0.5) AS BIGINT) AS gain_q12
        FROM cand
    ),
    best AS (
        SELECT *, row_number() OVER (PARTITION BY feature
                    ORDER BY gain_q12 DESC, t ASC) AS rk
        FROM scored
    )
    SELECT feature,
           t AS best_t,
           CASE WHEN feature = 'avg_token_len'
                THEN CAST(t AS DOUBLE) * 0.5
                ELSE CAST(t AS DOUBLE) * 0.0625 END AS threshold_value,
           CAST(gain_q12 AS DOUBLE) / 1000000000000.0 AS gain_nats,
           la AS n_left,
           ra AS n_right,
           CASE WHEN la > 0 THEN CAST(lp AS DOUBLE) / CAST(la AS DOUBLE)
           END AS pos_rate_left,
           CASE WHEN ra > 0 THEN CAST(rp AS DOUBLE) / CAST(ra AS DOUBLE)
           END AS pos_rate_right,
           CAST(row_number() OVER (ORDER BY gain_q12 DESC, feature)
                AS INTEGER) AS gain_rank
    FROM best WHERE rk = 1
    ORDER BY feature
"""


DECISION_STUMP_ORACLE = _stump_oracle()

LN2_LIT = 0.6931471805599453


def feature_label_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _labeled_feature_bins(spark, sf_dir)
    cells = feats.groupBy("feature", "bin", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    row_tot = cells.groupBy("feature", "bin").agg(
        F.sum("n").cast("bigint").alias("row_tot")
    )
    col_tot = cells.groupBy("feature", "label").agg(
        F.sum("n").cast("bigint").alias("col_tot")
    )
    n_tot = cells.groupBy("feature").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("label") == 1, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_dup"),
    )
    joined = (
        cells.join(row_tot, ["feature", "bin"])
        .join(F.broadcast(col_tot), ["feature", "label"])
        .join(F.broadcast(n_tot), "feature")
    )
    nd = F.col("n_docs").cast("double")
    pxy = F.col("n").cast("double") / nd
    px = F.col("row_tot").cast("double") / nd
    py = F.col("col_tot").cast("double") / nd
    term = pxy * F.log(pxy / (px * py))
    per_feat = joined.select(
        "feature",
        "n_docs",
        "n_dup",
        F.floor(term * F.lit(1000000000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("t_q12"),
    ).groupBy("feature", "n_docs", "n_dup").agg(
        F.sum(F.col("t_q12").cast("decimal(38,0)")).alias("mi_q12")
    )
    hn = F.col("n_docs").cast("double")
    h_label = -(
        _entropy_expr(F.col("n_dup"), F.col("n_docs"))
        + _entropy_expr(F.col("n_docs") - F.col("n_dup"), F.col("n_docs"))
    )
    return (
        per_feat.select(
            "feature",
            "n_docs",
            "n_dup",
            (
                F.col("mi_q12").cast("double") / F.lit(1000000000000.0)
            ).alias("mi_nats"),
            (
                F.col("mi_q12").cast("double")
                / F.lit(1000000000000.0)
                / F.lit(LN2_LIT)
            ).alias("mi_bits"),
            F.floor(h_label * F.lit(1000000000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("h_label_q12"),
        )
        .select(
            "feature",
            "n_docs",
            "n_dup",
            "mi_nats",
            "mi_bits",
            (
                F.col("h_label_q12").cast("double")
                / F.lit(1000000000000.0)
            ).alias("h_label_nats"),
            F.when(
                F.col("h_label_q12") > 0,
                (F.col("mi_nats") * F.lit(1000000000000.0)).cast("double")
                / F.col("h_label_q12").cast("double"),
            ).alias("normalized_mi"),
        )
        .orderBy("feature")
    )


def _mi_oracle() -> str:
    from ..functions.text import DUCKDB_SHINGLES_CTE
    from .dedup import JACCARD_THRESHOLD
    from .text_analysis import EN_STOPS, _sql_hits

    feats = _FEATURE_BINS_SQL.format(
        stop_hits=_sql_hits("ts", EN_STOPS), thr=JACCARD_THRESHOLD
    )
    h_label = (
        "-("
        + _SQL_H.format(c="n_dup", m="n_docs")
        + " + "
        + _SQL_H.format(c="n_docs - n_dup", m="n_docs")
        + ")"
    )
    return f"""
    WITH {DUCKDB_SHINGLES_CTE},
    {feats},
    cells AS (
        SELECT feature, bin, label, CAST(count(*) AS BIGINT) AS n
        FROM feats GROUP BY 1, 2, 3
    ),
    row_tot AS (
        SELECT feature, bin, CAST(sum(n) AS BIGINT) AS row_tot
        FROM cells GROUP BY 1, 2
    ),
    col_tot AS (
        SELECT feature, label, CAST(sum(n) AS BIGINT) AS col_tot
        FROM cells GROUP BY 1, 2
    ),
    n_tot AS (
        SELECT feature, CAST(sum(n) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN label = 1 THEN n ELSE 0 END) AS BIGINT)
                   AS n_dup
        FROM cells GROUP BY 1
    ),
    per_feat AS (
        SELECT feature, n_docs, n_dup,
               CAST(sum(CAST(floor(
                   (CAST(n AS DOUBLE) / CAST(n_docs AS DOUBLE))
                   * ln((CAST(n AS DOUBLE) / CAST(n_docs AS DOUBLE))
                        / ((CAST(row_tot AS DOUBLE) / CAST(n_docs AS DOUBLE))
                           * (CAST(col_tot AS DOUBLE)
                              / CAST(n_docs AS DOUBLE))))
                   * 1000000000000.0 + 0.5) AS BIGINT))
                   AS DECIMAL(38,0)) AS mi_q12
        FROM cells
        JOIN row_tot USING (feature, bin)
        JOIN col_tot USING (feature, label)
        JOIN n_tot USING (feature)
        GROUP BY 1, 2, 3
    )
    SELECT feature, n_docs, n_dup,
           CAST(mi_q12 AS DOUBLE) / 1000000000000.0 AS mi_nats,
           CAST(mi_q12 AS DOUBLE) / 1000000000000.0
               / {LN2_LIT!r} AS mi_bits,
           CAST(CAST(floor(({h_label}) * 1000000000000.0 + 0.5) AS BIGINT)
                AS DOUBLE) / 1000000000000.0 AS h_label_nats,
           CASE WHEN CAST(floor(({h_label}) * 1000000000000.0 + 0.5)
                     AS BIGINT) > 0
                THEN CAST(CAST(mi_q12 AS DOUBLE) / 1000000000000.0
                          * 1000000000000.0 AS DOUBLE)
                     / CAST(CAST(floor(({h_label}) * 1000000000000.0 + 0.5)
                            AS BIGINT) AS DOUBLE)
           END AS normalized_mi
    FROM per_feat
    ORDER BY feature
"""


MUTUAL_INFO_ORACLE = _mi_oracle()


# ---------------------------------------------------------------------------
# Isotonic (here: ANTITONIC) regression of the near-dup rate on the
# composite quality score -- the monotone-fit layer above the raw
# reliability table: "does duplication decrease monotonically with
# quality, and what is the best monotone curve?"  Standard PAV is a
# sequential pool-adjacent-violators stack; over the FIXED 16-bin score
# grid the closed-form minimax identity is the scale-native shape:
#
#     antitonic fit at bin i = min_{j<=i} max_{k>=i} avg(rate over j..k)
#
# (the non-increasing dual of Robertson-Wright-Dykstra's max-min
# formula), computable as two bounded groupBys over the <= 16^3
# interval grid -- no sequential stack, no driver loop, and provably
# the exact weighted-least-squares antitonic fit.
#
# Determinism: bins are floor(quality * 16) of the engine-identical
# quality chain; interval averages are single divisions of exact
# BIGINT prefix sums; min/max compare identical doubles.  The prefix
# window is partitionless over the <= 16-row histogram -- the
# bounded-table window posture (ljung/quota class), never a
# corpus-cardinality frame.
# ---------------------------------------------------------------------------

ISO_BINS = 16


def isotonic_dup_rate_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_analysis import text_quality_score

    q = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    dup = _neardup_ids(spark, sf_dir)
    binned = q.join(dup, "doc_id", "left").select(
        F.least(
            F.floor(F.col("quality") * ISO_BINS).cast("bigint"),
            F.lit(ISO_BINS - 1).cast("bigint"),
        ).alias("bin"),
        F.coalesce(F.col("is_dup"), F.lit(0).cast("bigint")).alias("label"),
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("tot"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    w_pre = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = hist.select(
        "bin",
        "tot",
        "pos",
        F.sum("pos").over(w_pre).cast("bigint").alias("pp"),
        F.sum("tot").over(w_pre).cast("bigint").alias("pt"),
    )
    ja = pre.select(
        F.col("bin").alias("bin_j"),
        (F.col("pp") - F.col("pos")).alias("ppx"),
        (F.col("pt") - F.col("tot")).alias("ptx"),
    )
    kb = pre.select(
        F.col("bin").alias("bin_k"),
        F.col("pp").alias("ppk"),
        F.col("pt").alias("ptk"),
    )
    intervals = ja.join(kb, F.col("bin_j") <= F.col("bin_k")).select(
        "bin_j",
        "bin_k",
        (
            (F.col("ppk") - F.col("ppx")).cast("double")
            / (F.col("ptk") - F.col("ptx")).cast("double")
        ).alias("avg_jk"),
    )
    grid = intervals.join(
        hist.select(F.col("bin").alias("i")),
        (F.col("bin_j") <= F.col("i")) & (F.col("i") <= F.col("bin_k")),
    )
    mx = grid.groupBy("i", "bin_j").agg(F.max("avg_jk").alias("mx"))
    iso = mx.groupBy("i").agg(F.min("mx").alias("antitonic_rate"))
    return (
        hist.join(iso, F.col("bin") == F.col("i"))
        .select(
            "bin",
            F.col("tot").alias("n_docs"),
            F.col("pos").alias("n_dup"),
            (F.col("pos").cast("double") / F.col("tot").cast("double")).alias(
                "raw_dup_rate"
            ),
            "antitonic_rate",
        )
        .orderBy("bin")
    )


def _isotonic_oracle() -> str:
    from ..functions.text import DUCKDB_SHINGLES_CTE
    from .dedup import JACCARD_THRESHOLD
    from .text_analysis import QUALITY_ORACLE

    dup = _NEARDUP_IDS_SQL.format(thr=JACCARD_THRESHOLD)
    return f"""
    WITH {DUCKDB_SHINGLES_CTE},
    {dup},
    binned AS (
        SELECT LEAST(CAST(floor(q.quality * {ISO_BINS}) AS BIGINT),
                     {ISO_BINS - 1}) AS bin,
               CASE WHEN dup_doc IS NOT NULL
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
               END AS label
        FROM ({QUALITY_ORACLE}) q
        LEFT JOIN dup_ids ON q.doc_id = dup_ids.dup_doc
    ),
    hist AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS tot,
               CAST(sum(label) AS BIGINT) AS pos
        FROM binned GROUP BY 1
    ),
    pre AS (
        SELECT bin, tot, pos,
               CAST(sum(pos) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS pp,
               CAST(sum(tot) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS pt
        FROM hist
    ),
    intervals AS (
        SELECT j.bin AS bin_j, k.bin AS bin_k,
               CAST(k.pp - (j.pp - j.pos) AS DOUBLE)
               / CAST(k.pt - (j.pt - j.tot) AS DOUBLE) AS avg_jk
        FROM pre j JOIN pre k ON j.bin <= k.bin
    ),
    mx AS (
        SELECT h.bin AS i, v.bin_j, max(v.avg_jk) AS mx
        FROM intervals v JOIN hist h
          ON v.bin_j <= h.bin AND h.bin <= v.bin_k
        GROUP BY 1, 2
    ),
    iso AS (
        SELECT i, min(mx) AS antitonic_rate FROM mx GROUP BY 1
    )
    SELECT h.bin, h.tot AS n_docs, h.pos AS n_dup,
           CAST(h.pos AS DOUBLE) / CAST(h.tot AS DOUBLE) AS raw_dup_rate,
           iso.antitonic_rate
    FROM hist h JOIN iso ON h.bin = iso.i
    ORDER BY h.bin
"""


ISOTONIC_ORACLE = _isotonic_oracle()


# ---------------------------------------------------------------------------
# Leave-one-out source influence -- the cheapest data-valuation
# statistic: how much does dropping source s move the corpus mean
# quality?  influence(s) = mean(corpus) - mean(corpus \ s), positive
# when the source PULLS THE MEAN UP (removing it hurts).  Closed form
# from per-source sufficient statistics -- no re-scan per source, the
# property that makes LOO (unlike Shapley) free at 100 TB.
#
# Determinism: per-doc quality is quantized to the exact picogrid
# (floor(q*1e12 + 0.5) -- the silhouette discipline) BEFORE summing,
# so the per-source sums are exact DECIMAL(38,0) under any shuffle
# order; the corpus totals come from a single-row cross join of the
# per-source aggregate (bounded metadata, the graph-scalar pattern);
# all means are single divisions.  The rank window orders |sources|
# rows -- bounded-table posture.
# ---------------------------------------------------------------------------


def source_loo_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_analysis import text_quality_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    q = text_quality_score(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("quality") * F.lit(1000000000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("q12"),
    )
    per_source = (
        docs.join(q, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("q12").cast("decimal(38,0)")).alias("s12"),
        )
    )
    totals = per_source.agg(
        F.sum("n_docs").cast("bigint").alias("n_all"),
        F.sum("s12").cast("decimal(38,0)").alias("s_all"),
    )
    j = per_source.crossJoin(F.broadcast(totals))
    mean_corpus = (
        F.col("s_all").cast("double")
        / F.lit(1000000000000.0)
        / F.col("n_all").cast("double")
    )
    mean_s = (
        F.col("s12").cast("double")
        / F.lit(1000000000000.0)
        / F.col("n_docs").cast("double")
    )
    loo = (
        (F.col("s_all") - F.col("s12")).cast("double")
        / F.lit(1000000000000.0)
        / (F.col("n_all") - F.col("n_docs")).cast("double")
    )
    w_rank = Window.orderBy(F.desc("influence"), "source")
    return (
        j.select(
            "source",
            "n_docs",
            mean_s.alias("mean_quality"),
            F.when(F.col("n_all") > F.col("n_docs"), loo).alias(
                "loo_corpus_mean"
            ),
            F.when(
                F.col("n_all") > F.col("n_docs"), mean_corpus - loo
            ).alias("influence"),
        )
        .withColumn(
            "influence_rank", F.row_number().over(w_rank).cast("int")
        )
        .orderBy("source")
    )


def _loo_oracle() -> str:
    from .text_analysis import QUALITY_ORACLE

    return f"""
    WITH q AS (
        SELECT doc_id,
               CAST(floor(quality * 1000000000000.0 + 0.5) AS BIGINT) AS q12
        FROM ({QUALITY_ORACLE})
    ),
    per_source AS (
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CAST(q12 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s12
        FROM documents d JOIN q USING (doc_id)
        GROUP BY 1
    ),
    totals AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
               CAST(sum(s12) AS DECIMAL(38,0)) AS s_all
        FROM per_source
    ),
    j AS (
        SELECT p.source, p.n_docs,
               CAST(p.s12 AS DOUBLE) / 1000000000000.0
                   / CAST(p.n_docs AS DOUBLE) AS mean_quality,
               CASE WHEN t.n_all > p.n_docs THEN
                   CAST(t.s_all - p.s12 AS DOUBLE) / 1000000000000.0
                   / CAST(t.n_all - p.n_docs AS DOUBLE)
               END AS loo_corpus_mean,
               CASE WHEN t.n_all > p.n_docs THEN
                   CAST(t.s_all AS DOUBLE) / 1000000000000.0
                       / CAST(t.n_all AS DOUBLE)
                   - CAST(t.s_all - p.s12 AS DOUBLE) / 1000000000000.0
                     / CAST(t.n_all - p.n_docs AS DOUBLE)
               END AS influence
        FROM per_source p, totals t
    )
    SELECT source, n_docs, mean_quality, loo_corpus_mean, influence,
           CAST(row_number() OVER (ORDER BY influence DESC, source)
                AS INTEGER) AS influence_rank
    FROM j
    ORDER BY source
"""


SOURCE_LOO_ORACLE = _loo_oracle()


PIPELINE_QUERIES: list[tuple[str, object, str | None]] = [
    ("isotonic_dup_rate_fit", isotonic_dup_rate_fit, ISOTONIC_ORACLE),
    ("source_loo_influence", source_loo_influence, SOURCE_LOO_ORACLE),
    ("decision_stump_learn", decision_stump_learn, DECISION_STUMP_ORACLE),
    (
        "feature_label_mutual_info",
        feature_label_mutual_info,
        MUTUAL_INFO_ORACLE,
    ),
    ("dp_sensitivity_audit", dp_sensitivity_audit, DP_SENSITIVITY_ORACLE),
    ("source_epochs_plan", source_epochs_plan, SOURCE_EPOCHS_ORACLE),
    (
        "source_quality_decision",
        source_quality_decision,
        SOURCE_QUALITY_ORACLE,
    ),
    ("source_policy_apply", source_policy_apply, SOURCE_POLICY_ORACLE),
    ("source_frequency_cap", source_frequency_cap, SOURCE_CAP_ORACLE),
    (
        "corpus_source_lang_matrix",
        corpus_source_lang_matrix,
        SOURCE_LANG_MATRIX_ORACLE,
    ),
    (
        "lang_token_budget_selection",
        lang_token_budget_selection,
        LANG_BUDGET_ORACLE,
    ),
    ("curation_pipeline", curation_pipeline, CURATION_ORACLE),
    ("merge_upsert_orders", merge_upsert_orders, MERGE_UPSERT_ORACLE),
    ("corpus_release_pipeline", corpus_release_pipeline, RELEASE_ORACLE),
    ("k_anonymity_report", k_anonymity_report, K_ANON_ORACLE),
    ("incremental_segment_revenue", incremental_segment_revenue, INCR_ORACLE),
    ("data_quality_audit", data_quality_audit, DATA_QUALITY_ORACLE),
    ("training_data_prep", training_data_prep, TRAINING_PREP_ORACLE),
    ("corpus_mixture_sample", corpus_mixture_sample, MIXTURE_ORACLE),
    ("snapshot_diff_orders", snapshot_diff_orders, SNAPSHOT_DIFF_ORACLE),
    ("event_rollup_cascade", event_rollup_cascade, ROLLUP_CASCADE_ORACLE),
    (
        "language_sampling_weights",
        language_sampling_weights,
        SAMPLING_WEIGHTS_ORACLE,
    ),
    (
        "mixture_temperature_curve",
        mixture_temperature_curve,
        MIXTURE_CURVE_ORACLE,
    ),
    ("erasure_cascade_audit", erasure_cascade_audit, ERASURE_AUDIT_ORACLE),
    ("l_diversity_report", l_diversity_report, L_DIVERSITY_ORACLE),
    ("t_closeness_report", t_closeness_report, T_CLOSENESS_ORACLE),
    ("weekly_value_wow", weekly_value_wow, WOW_ORACLE),
    (
        "embedding_alignment_audit",
        embedding_alignment_audit,
        EMBEDDING_ALIGNMENT_ORACLE,
    ),
]
