"""Join strategies for hostile key distributions and exchange-free layouts.

Two plan shapes the rest of the surface doesn't exercise, each the
canonical answer to a 100 TB join problem the reference never faced (its
one shuffle was centralized through a single KV-store process,
``/root/reference/master.py:176-182``):

* **Salted skew join** (``skew_join_salted``): when one join key holds a
  constant fraction of a 100 TB fact table, a plain hash shuffle sends
  that whole fraction to ONE reducer -- the job runs at the speed of its
  hottest key.  AQE's skew splitting (enabled in ``session.py``) handles
  this at runtime by splitting oversized partitions, but only for the
  sort-merge path it can see; the manual salt below is the deterministic,
  always-available fallback and the same trick ``wordcount_salted`` plays
  for aggregation.  Big side: salt = pmod(xxhash64(row id), S) -- a
  function of the row, never rand(), so the plan is re-runnable.  Small
  side: replicate each row S times (explode over a literal range).  The
  join key becomes (key, salt): the hot key's rows spread across S tasks,
  and the result is provably identical to the unsalted join (same oracle).

* **Bucket-colocated join** (``colocated_bucket_join``): pre-shuffled
  storage.  Both fact tables are written bucketed (and bucket-sorted) on
  the join key, so the recurring orders x lineitem join reads co-located
  buckets and plans with NO Exchange and NO Sort on either side -- the
  write-once shuffle amortizes across every later join on that key.
  At 100 TB this is the difference between re-shuffling ~100 TB per query
  and a pure scan-side merge (SURVEY.md §4: the physical mechanisms the
  reference centralizes, done Spark-native).  Plan pinned in
  tests/test_plans.py; layout mechanics in ``sources/bucketing.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable import SQL_REVENUE, dec, money_sum, revenue_expr, sql_money_sum
from ..sources import load_table
from ..sources.bucketing import write_bucketed

SALT_BUCKETS = 8

# Events with no logged-in user (anonymous click/view traffic) are
# attributed to the house account, customer 1 -- a deliberate hot key:
# ~40% of a 100 TB events table lands on one join key.
HOUSE_ACCOUNT_TYPES = ("click", "view")


def _house_keyed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.when(F.col("event_type").isin(*HOUSE_ACCOUNT_TYPES), F.lit(1))
        .otherwise(F.col("user_id"))
        .alias("cust_key"),
        "event_id",
        "value",
    )


def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment traffic with anonymous events on the house account,
    joined through an S-way salted sort-merge join.

    ``hint("merge")`` forces the SMJ path (customer would broadcast at
    test scale, hiding the shape under test); on a cluster the small
    side's S-fold replication is pennies next to unsplitting the hot key.
    """
    ev = _house_keyed_events(spark, sf_dir).withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
        )
        .withColumn("_salt", F.col("_salt").cast("long"))
    )
    joined = ev.hint("merge").join(
        cust,
        (ev.cust_key == cust.c_custkey) & (ev._salt == cust._salt),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum(dec("value")).alias("sum_value"),
    )


def skew_join_salted_oracle() -> str:
    return f"""
        SELECT c_mktsegment,
               count(*) AS n_events,
               {sql_money_sum("value")} AS sum_value
        FROM (
            SELECT CASE WHEN event_type IN ('click', 'view')
                        THEN 1 ELSE user_id END AS cust_key,
                   value
            FROM events
        ) e
        JOIN customer c ON c.c_custkey = e.cust_key
        GROUP BY c_mktsegment
    """


def _bucket_suffix(sf_dir: str) -> str:
    import hashlib

    return hashlib.md5(sf_dir.encode()).hexdigest()[:8]


def _source_fingerprint(src_path: str) -> str:
    """Cheap content fingerprint of a parquet source: (name, size, mtime)
    of every data file.  Detects testdata regeneration without reading a
    byte of data -- the reason this exists is the round-3 incident where
    regenerated parquet silently diverged from derived state."""
    import hashlib

    entries = []
    if os.path.isdir(src_path):
        for dirpath, _, files in os.walk(src_path):
            for fn in sorted(files):
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                entries.append(f"{os.path.relpath(p, src_path)}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(src_path)
        entries.append(f"{os.path.basename(src_path)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("\n".join(entries).encode()).hexdigest()


def ensure_bucketed_order_tables(
    spark: SparkSession, sf_dir: str, *, num_buckets: int = 16
) -> tuple[str, str]:
    """Write orders + lineitem bucketed/sorted on the order key (once per
    sf_dir; reused across calls).  External-table paths under /tmp keep
    the layout independent of the caller session's warehouse dir.

    Reuse is gated on a source fingerprint (``_fingerprint`` marker file
    beside each bucketed table): if the source parquet was regenerated,
    the stale layout is rebuilt instead of silently served."""
    from ..sources.tables import table_path

    sfx = _bucket_suffix(sf_dir)
    ord_t, li_t = f"orders_bkt_{sfx}", f"lineitem_bkt_{sfx}"
    root = f"/tmp/spark_graft_buckets_{sfx}"
    for name, table, key in (
        ("orders", ord_t, "o_orderkey"),
        ("lineitem", li_t, "l_orderkey"),
    ):
        path = os.path.join(root, table)
        fp_file = os.path.join(root, f"{table}._fingerprint")
        fp = _source_fingerprint(table_path(sf_dir, name))
        if spark.catalog.tableExists(table) and os.path.isdir(path):
            try:
                with open(fp_file, encoding="utf-8") as f:
                    if f.read().strip() == fp:
                        continue
            except OSError:
                pass  # no marker -> treat as stale, rebuild
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        df = load_table(spark, sf_dir, name)
        write_bucketed(
            df, table, [key], num_buckets, sort_cols=[key], path=path
        )
        os.makedirs(root, exist_ok=True)
        with open(fp_file, "w", encoding="utf-8") as f:
            f.write(fp)
    return ord_t, li_t


def colocated_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority revenue over the bucket-colocated orders x lineitem
    join: both scans are pre-bucketed on the order key, so the SMJ plans
    with no Exchange and no Sort on either side (pinned in
    tests/test_plans.py).  Result is layout-independent -- the oracle is
    the plain join on the raw parquet."""
    ord_t, li_t = ensure_bucketed_order_tables(spark, sf_dir)
    orders = spark.table(ord_t)
    lineitem = spark.table(li_t)
    # hint("merge"): at test SF orders fits under the broadcast threshold
    # and Catalyst would pick BHJ, hiding the layout's point; at 100 TB
    # neither fact side broadcasts, so the hint pins the at-scale plan --
    # an SMJ whose pre-bucketed, pre-sorted children need no Exchange/Sort.
    joined = orders.hint("merge").join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        money_sum(revenue_expr()).alias("revenue"),
    )


def colocated_bucket_join_oracle() -> str:
    return f"""
        SELECT o_orderpriority,
               count(*) AS n_lines,
               CAST(sum({SQL_REVENUE}) AS DOUBLE) AS revenue
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o_orderpriority
    """


# ---------------------------------------------------------------------------
# Bloom-filter false-positive audit: build the filter a runtime
# bloom-pruned join actually ships (tests/test_partitioned.py pins
# Spark's InjectRuntimeFilter doing this invisibly) as an EXPLICIT
# relational plan, probe it with guaranteed non-members, and report the
# observed fill rate and false-positive rate.  This is the sizing table
# for "how many bits does the build side need before the pruned scan
# stops doing wasted work" -- measured, not assumed from the 0.03
# default.
#
# Determinism/portability: positions come from the repo's portable
# md5-hex60 universal hashing (functions/hashing.py) -- k affine lanes
# mod P, then mod M_BITS -- identical integers in both engines; the
# probe set is (key + offset) anti-joined against the build keys, so
# every probe is a TRUE non-member and every filter hit a TRUE false
# positive.  All counts exact; the two rates are single divisions.
#
# Scale shape: hashing is per DISTINCT build key; the bit table is
# bounded by M_BITS regardless of data volume; probes meet bits in an
# equi-join on position (shuffle keyed by bit position, M-bounded
# build side); the verdict is one combinable aggregate.  Nothing driver-
# side; at 100 TB the real filter would be a broadcast bitmap -- this
# audit measures the SAME math relationally.
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 17  # 131072 bits
BLOOM_K = 3             # hash lanes (first 3 universal-hash lanes)
BLOOM_PROBE_OFFSET = 1_000_000_000


def _bloom_positions(key_col, i: int):
    from ..functions.hashing import MINHASH_AB, MINHASH_P, md5_prefix

    a, b = MINHASH_AB[i]
    h = md5_prefix(key_col.cast("string")) % MINHASH_P
    return ((F.lit(a) * h + F.lit(b)) % MINHASH_P) % BLOOM_M_BITS


def bloom_filter_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        load_table(spark, sf_dir, "orders").select("o_orderkey").distinct()
    )
    key = F.col("o_orderkey")
    bits = (
        keys.select(
            F.explode(
                F.array(*[_bloom_positions(key, i) for i in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probes = keys.select(
        (key + BLOOM_PROBE_OFFSET).alias("probe_key")
    ).join(
        keys.select(key.alias("probe_key")), "probe_key", "left_anti"
    )
    pk = F.col("probe_key")
    probe_hits = (
        probes.select(
            "probe_key",
            F.explode(
                F.array(*[_bloom_positions(pk, i) for i in range(BLOOM_K)])
            ).alias("pos"),
        )
        .join(bits, "pos", "left")
        .groupBy("probe_key")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"))
    )
    n_keys = keys.agg(F.count(F.lit(1)).alias("n_keys"))
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    verdict = probe_hits.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.when(F.col("hits") == BLOOM_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    )
    return (
        verdict.crossJoin(F.broadcast(n_keys))
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_keys",
            F.lit(BLOOM_M_BITS).cast("bigint").alias("m_bits"),
            F.lit(BLOOM_K).cast("int").alias("k_hashes"),
            "n_bits_set",
            (F.col("n_bits_set").cast("double") / BLOOM_M_BITS).alias(
                "fill_rate"
            ),
            "n_probes",
            "n_false_pos",
            (F.col("n_false_pos").cast("double") / F.col("n_probes")).alias(
                "observed_fpr"
            ),
        )
    )


def bloom_filter_fpr_audit_oracle() -> str:
    from ..functions.hashing import MINHASH_AB, MINHASH_P

    def pos(key: str, i: int) -> str:
        a, b = MINHASH_AB[i]
        h = (
            f"(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15))::BIGINT"
            f" % {MINHASH_P})"
        )
        return f"((({a} * {h} + {b}) % {MINHASH_P}) % {BLOOM_M_BITS})"

    build_pos = ", ".join(pos("o_orderkey", i) for i in range(BLOOM_K))
    probe_pos = ", ".join(pos("probe_key", i) for i in range(BLOOM_K))
    return f"""
        WITH keys AS (SELECT DISTINCT o_orderkey FROM orders),
        bits AS (
            SELECT DISTINCT unnest([{build_pos}]) AS pos FROM keys
        ),
        probes AS (
            SELECT o_orderkey + {BLOOM_PROBE_OFFSET} AS probe_key FROM keys
            WHERE o_orderkey + {BLOOM_PROBE_OFFSET} NOT IN
                  (SELECT o_orderkey FROM keys)
        ),
        ppos AS (
            SELECT probe_key, unnest([{probe_pos}]) AS pos FROM probes
        ),
        probe_hits AS (
            SELECT p.probe_key,
                   sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS hits
            FROM ppos p LEFT JOIN bits b ON p.pos = b.pos
            GROUP BY p.probe_key
        )
        SELECT (SELECT count(*) FROM keys) AS n_keys,
               CAST({BLOOM_M_BITS} AS BIGINT) AS m_bits,
               CAST({BLOOM_K} AS INTEGER) AS k_hashes,
               (SELECT count(*) FROM bits) AS n_bits_set,
               CAST((SELECT count(*) FROM bits) AS DOUBLE) / {BLOOM_M_BITS}
                   AS fill_rate,
               count(*) AS n_probes,
               CAST(sum(CASE WHEN hits = {BLOOM_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos,
               CAST(sum(CASE WHEN hits = {BLOOM_K} THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS observed_fpr
        FROM probe_hits
    """


JOIN_STRATEGY_QUERIES = [
    ("skew_join_salted", skew_join_salted, skew_join_salted_oracle()),
    ("colocated_bucket_join", colocated_bucket_join, colocated_bucket_join_oracle()),
    (
        "bloom_filter_fpr_audit",
        bloom_filter_fpr_audit,
        bloom_filter_fpr_audit_oracle(),
    ),
]
