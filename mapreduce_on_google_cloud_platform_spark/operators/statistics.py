"""Distribution statistics and deterministic sampling.

North-star curation ops (nothing like them exists in the reference --
SURVEY.md §2 lists no aggregates beyond SUM): a data pipeline needs
distribution summaries to size joins/partitions and samples to eyeball
or hold out data, and both must be reproducible across runs and engines.

* ``quantile_summary`` -- exact interpolated quantiles per group.
  Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
  definition (index = p*(n-1), linear interpolation) and match
  bit-for-bit on this data (verified).  Exact percentile is a full sort
  per group -- fine for bounded group counts; the 100 TB path is
  ``percentile_approx`` (GK sketch, mergeable, one pass), surfaced in
  ``sketch_summary`` below because approx answers are engine-specific.

* ``sample_stratified`` -- deterministic 1/16 Bernoulli sample per
  stratum: keep rows whose ``md5(key)`` starts with '0'.  Hash-based
  sampling is the only kind that is stable across engines, runs, AND
  cluster sizes (Spark's ``sample()`` is seed+partitioning dependent);
  it also composes: the same predicate picks the same rows on any
  engine, so hold-out sets stay aligned between systems.

* ``sample_topk_per_group`` -- "first k by md5 order" per stratum: a
  deterministic stand-in for reservoir sampling whose witness set is
  reproducible (md5 of a unique key is a total order).  Plain
  row_number window, one shuffle on the stratum key.

* ``sketch_summary`` (rows-only; no SQL oracle by design) -- the scale
  path: HLL++ ``approx_count_distinct`` and GK ``percentile_approx``
  next to their exact twins, with error asserted in unit tests.  Sketch
  outputs are engine-specific so a DuckDB hash-match is impossible --
  the driver records the weaker rows-only check for exactly this entry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_P, md5_prefix
from ..functions.numeric import checked_bigint as _checked_bigint
from ..functions.portable import dec
from ..session import shuffle_partitions
from ..sources import load_table

QS = (0.25, 0.5, 0.75, 0.95)


def quantile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles of lineitem quantity and price.

    One ``percentile(col, array(...))`` buffer per column, not one per
    (column, q): each percentile aggregate keeps its own copy of the
    group's values, so 8 scalar calls buffer the data 8x (measured 3.3s
    -> 1.7s warm at sf0.1 collapsing to 2 array calls)."""
    li = load_table(spark, sf_dir, "lineitem")
    qlist = ", ".join(str(q) for q in QS)
    grouped = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.expr(f"percentile(l_quantity, array({qlist}))").alias("_qty"),
        F.expr(f"percentile(l_extendedprice, array({qlist}))").alias("_price"),
    )
    cols = [F.col("l_returnflag"), F.col("n_rows")]
    for i, q in enumerate(QS):
        tag = str(int(q * 100))
        cols.append(F.col("_qty")[i].alias(f"qty_p{tag}"))
        cols.append(F.col("_price")[i].alias(f"price_p{tag}"))
    return grouped.select(*cols)


def _quantile_oracle() -> str:
    cols = []
    for q in QS:
        tag = str(int(q * 100))
        cols.append(f"quantile_cont(l_quantity, {q}) AS qty_p{tag}")
        cols.append(f"quantile_cont(l_extendedprice, {q}) AS price_p{tag}")
    return f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           {", ".join(cols)}
    FROM lineitem
    GROUP BY l_returnflag
"""


QUANTILE_ORACLE = _quantile_oracle()

# Keep a row iff the first hex digit of md5(key) is '0' (exact 1/16 rate).
_SAMPLE_HEX = "0"


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1/16 sample of orders per priority + scaled estimate."""
    orders = load_table(spark, sf_dir, "orders")
    sampled = orders.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == _SAMPLE_HEX
    )
    return sampled.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_sampled"),
        (F.count("*") * 16).alias("est_total"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sampled_revenue"),
    )


SAMPLE_STRATIFIED_ORACLE = f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(count(*) * 16 AS BIGINT) AS est_total,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sampled_revenue
    FROM orders
    WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '{_SAMPLE_HEX}'
    GROUP BY o_orderpriority
"""

SAMPLE_K = 5


def sample_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First k orders per priority in md5-of-key order (reproducible
    reservoir stand-in); md5 of the unique key gives a total order so the
    witness set is unambiguous on any engine."""
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.md5(F.col("o_orderkey").cast("string")).alias("_h"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("_h")
    return (
        keyed.select("*", F.row_number().over(w).alias("pick_rank"))
        .filter(F.col("pick_rank") <= SAMPLE_K)
        .drop("_h")
    )


SAMPLE_TOPK_ORACLE = f"""
    SELECT o_orderkey, o_orderpriority, o_totalprice, pick_rank
    FROM (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY md5(CAST(o_orderkey AS VARCHAR))
               ) AS INTEGER) AS pick_rank
        FROM orders
    )
    WHERE pick_rank <= {SAMPLE_K}
"""


SKETCH_P50_ACC = 10_000


def sketch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch scale path beside exact twins: HLL++ distinct
    users and a GK median per event type -- one pass, fixed memory per
    sketch, map-side combinable; what replaces the exact forms at 100 TB.

    Round-7 re-shape (VERDICT r6 item #6): the EXACT columns (count,
    min/max, exact distinct) are oracle-checked against DuckDB, and the
    engine-specific sketch estimates are emitted as their CONTRACT
    booleans, verified in-plan against the exact data: the HLL++ count
    must sit within max(3, 10%) of the exact distinct, and the GK median
    must be an observed value whose rank interval overlaps
    n/2 +- n/ACC (+1 slack).  Both engines agree on the booleans (the
    oracle states the contract as literals), so the whole row hashes --
    nothing is rows-only.  The raw estimate magnitudes remain covered by
    distinct_users_sketch_profile (exact below sketch capacity) and
    tests/test_statistics.py."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id").alias("_au"),
        F.percentile_approx("value", 0.5, SKETCH_P50_ACC).alias("_p50"),
    )
    # rank-audit the GK estimate against the raw stream: one broadcast
    # join of the |event_types|-row sketch table back onto events
    ranks = (
        ev.join(F.broadcast(sk.select("event_type", "_p50")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("value") <= F.col("_p50"), 1).otherwise(0)
            ).alias("_le"),
            F.sum(
                F.when(F.col("value") < F.col("_p50"), 1).otherwise(0)
            ).alias("_lt"),
        )
    )
    n = F.col("n_events").cast("double")
    eps = n / SKETCH_P50_ACC + 1.0
    return (
        sk.join(ranks, "event_type")
        .select(
            "event_type",
            "n_events",
            "min_value",
            "max_value",
            "exact_users",
            (
                F.abs(F.col("_au") - F.col("exact_users"))
                <= F.greatest(F.lit(3.0), 0.1 * F.col("exact_users"))
            ).alias("approx_users_in_bounds"),
            (
                (F.col("_le").cast("double") >= n / 2 - eps)
                & (F.col("_lt").cast("double") <= n / 2 + eps)
            ).alias("approx_p50_rank_ok"),
        )
        .orderBy("event_type")
    )


SKETCH_SUMMARY_ORACLE = """
    SELECT event_type,
           count(*) AS n_events,
           min(value) AS min_value,
           max(value) AS max_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS approx_users_in_bounds,
           TRUE AS approx_p50_rank_ok
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Datasketches distinct-user profile: per event type, exact distinct
# users beside Apache Datasketches Theta and HLL estimates, plus an
# 'ALL' rollup whose HLL figure is produced by MERGING the per-type
# sketches (hll_union_agg) rather than re-scanning the events -- the
# two-level partial-aggregate shape that makes sketch counting one pass
# at 100 TB (each executor sketches its partition; only fixed-size
# sketch buffers shuffle).
#
# Oracle-exactness: both sketch families are EXACT below their retained
# -entry capacity (Theta keeps raw hashes until 2^lgK nominal entries;
# Datasketches HLL is in exact coupon-list mode at small n), so at the
# driver/sweep scale factors every estimate equals the exact count and
# the query is fully hash-checkable against a plain COUNT(DISTINCT)
# oracle.  The crossover is the point of the operator: past ~65k
# distinct users per type (THETA_LGK=16) the same plan degrades to
# bounded-error estimates with unchanged shape -- pinned in
# tests/test_statistics.py.
# ---------------------------------------------------------------------------

THETA_LGK = 16
HLL_LGK = 20  # coupon (exact) mode to ~2^lgK/4 distinct; 0.4% rel. err past


def distinct_users_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("distinct_exact"),
        F.theta_sketch_estimate(
            F.theta_sketch_agg("user_id", F.lit(THETA_LGK))
        ).alias("distinct_theta"),
        F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("_sk"),
    )
    typed = per_type.select(
        "event_type",
        "n_events",
        "distinct_exact",
        "distinct_theta",
        F.hll_sketch_estimate("_sk").alias("distinct_hll"),
    )
    # 'ALL' row: hll via union of the per-type sketches (no re-scan);
    # the exact/theta figures need one full-table pass by definition.
    hll_all = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("distinct_hll")
    )
    overall = (
        ev.agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("distinct_exact"),
            F.theta_sketch_estimate(
                F.theta_sketch_agg("user_id", F.lit(THETA_LGK))
            ).alias("distinct_theta"),
        )
        .crossJoin(F.broadcast(hll_all))
        .select(
            F.lit("ALL").alias("event_type"),
            "n_events",
            "distinct_exact",
            "distinct_theta",
            "distinct_hll",
        )
    )
    return typed.unionByName(overall).orderBy("event_type")


SKETCH_PROFILE_ORACLE = """
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS distinct_exact,
           count(DISTINCT user_id) AS distinct_theta,
           count(DISTINCT user_id) AS distinct_hll
    FROM events
    GROUP BY event_type
    UNION ALL
    SELECT 'ALL',
           count(*),
           count(DISTINCT user_id),
           count(DISTINCT user_id),
           count(DISTINCT user_id)
    FROM events
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Fixed-width histogram: the distribution profile a pipeline sizes its
# partitions/joins from.  Bin edges are FIXED literals (not data-derived
# min/max) so the result is stable under appends and identical across
# engines: bin = floor(value / width) is the same IEEE division+floor in
# both.  One combinable shuffle on (event_type, bin).
# ---------------------------------------------------------------------------

HIST_WIDTH = 50.0  # events.value spans [0, ~500) -> ~10 live bins


def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bin_col = F.floor(F.col("value") / HIST_WIDTH).cast("bigint")
    return (
        ev.groupBy("event_type", bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bin_lo", F.col("bin") * HIST_WIDTH)
        .orderBy("event_type", "bin")
    )


HISTOGRAM_ORACLE = f"""
    SELECT event_type,
           CAST(floor(value / {HIST_WIDTH}) AS BIGINT) AS bin,
           count(*) AS n,
           CAST(CAST(floor(value / {HIST_WIDTH}) AS BIGINT) * {HIST_WIDTH}
                AS DOUBLE) AS bin_lo
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

# ---------------------------------------------------------------------------
# Distribution-drift monitoring -- the checks a production pipeline runs
# before admitting a new data slice:
#
# * ``value_distribution_psi``: population stability index between the
#   earlier and later half of the event stream (split at the midpoint
#   of the observed time range), per event type over fixed HIST_WIDTH
#   value bins.  PSI = sum_bins (p - q) * ln(p / q) with add-one
#   smoothing over the per-type live-bin count (so empty bins are
#   defined identically on both engines); industry rule of thumb:
#   < 0.1 stable, > 0.2 drifted.
# * ``daily_value_anomalies``: per (event_type, day) value totals
#   z-scored against that type's across-days distribution.  Sufficient
#   statistics (n, sum, sum-of-squares) are exact integer CENTS
#   (price_balance_correlation's discipline, DECIMAL-lifted products),
#   and z = (n*x - Sx) / sqrt(n*Sxx - Sx^2) -- algebraically identical
#   to (x - mean) / population-std -- is evaluated as ONE closed-form
#   double expression over exact integers in both engines.
#
# Scale: both are two combinable aggregations (fine bins / days, then
# the per-type rollup) plus a broadcast of per-type scalars back onto
# the bounded bin/day table.  No windows, no sorts.
# ---------------------------------------------------------------------------

PSI_DRIFT_THRESHOLD = 0.2
ANOMALY_Z = 2.5


def value_distribution_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        ((F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2)
        .cast("bigint")
        .alias("mid_us")
    )
    binned = (
        ev.crossJoin(F.broadcast(mid))
        .select(
            "event_type",
            F.floor(F.col("value") / HIST_WIDTH).cast("bigint").alias("bin"),
            (F.unix_micros("ts") <= F.col("mid_us")).alias("is_base"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("base_n"),
            F.sum(F.when(F.col("is_base"), 0).otherwise(1)).alias("cur_n"),
        )
    )
    totals = binned.groupBy("event_type").agg(
        F.sum("base_n").alias("base_total"),
        F.sum("cur_n").alias("cur_total"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    p = (F.col("base_n") + 1).cast("double") / (
        F.col("base_total") + F.col("n_bins")
    ).cast("double")
    q = (F.col("cur_n") + 1).cast("double") / (
        F.col("cur_total") + F.col("n_bins")
    ).cast("double")
    term = ((p - q) * F.log(p / q)).cast("decimal(25,12)")
    psi = F.round(F.sum(term).cast("double"), 6)
    return (
        binned.join(F.broadcast(totals), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_bins").alias("n_bins"),
            F.max("base_total").alias("base_n"),
            F.max("cur_total").alias("cur_n"),
            psi.alias("psi"),
            (psi > PSI_DRIFT_THRESHOLD).alias("drifted"),
        )
        .orderBy("event_type")
    )


PSI_ORACLE = f"""
    WITH mid AS (
        SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))) / 2 AS BIGINT)
               AS mid_us
        FROM events
    ),
    binned AS (
        SELECT event_type,
               CAST(floor(value / {HIST_WIDTH}) AS BIGINT) AS bin,
               sum(CASE WHEN epoch_us(ts) <= mid_us THEN 1 ELSE 0 END)
                   AS base_n,
               sum(CASE WHEN epoch_us(ts) <= mid_us THEN 0 ELSE 1 END)
                   AS cur_n
        FROM events, mid
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT event_type,
               CAST(sum(base_n) AS BIGINT) AS base_total,
               CAST(sum(cur_n) AS BIGINT) AS cur_total,
               count(*) AS n_bins
        FROM binned GROUP BY event_type
    ),
    terms AS (
        SELECT b.event_type, t.n_bins, t.base_total, t.cur_total,
               CAST(
                   (CAST(b.base_n + 1 AS DOUBLE)
                        / CAST(t.base_total + t.n_bins AS DOUBLE)
                    - CAST(b.cur_n + 1 AS DOUBLE)
                        / CAST(t.cur_total + t.n_bins AS DOUBLE))
                   * ln((CAST(b.base_n + 1 AS DOUBLE)
                         / CAST(t.base_total + t.n_bins AS DOUBLE))
                        / (CAST(b.cur_n + 1 AS DOUBLE)
                           / CAST(t.cur_total + t.n_bins AS DOUBLE)))
               AS DECIMAL(25,12)) AS term
        FROM binned b JOIN totals t USING (event_type)
    )
    SELECT event_type,
           max(n_bins) AS n_bins,
           max(base_total) AS base_n,
           max(cur_total) AS cur_n,
           round(CAST(sum(term) AS DOUBLE), 6) AS psi,
           round(CAST(sum(term) AS DOUBLE), 6) > {PSI_DRIFT_THRESHOLD}
               AS drifted
    FROM terms
    GROUP BY event_type
    ORDER BY event_type
"""


def daily_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("x"),
        )
    )
    DEC = "decimal(38,0)"
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast(DEC) * F.col("x").cast(DEC)).alias("sxx"),
    )
    num = (F.col("n_days").cast(DEC) * F.col("x").cast(DEC) - F.col("sx").cast(DEC)).cast(
        "double"
    )
    den = F.sqrt(
        (
            F.col("n_days").cast(DEC) * F.col("sxx")
            - F.col("sx").cast(DEC) * F.col("sx").cast(DEC)
        ).cast("double")
    )
    z = F.round(num / den, 6)
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "day",
            "n_events",
            F.col("x").alias("value_cents"),
            z.alias("z"),
            (F.abs(z) > ANOMALY_Z).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


DAILY_ANOMALY_ORACLE = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               count(*) AS n_days,
               CAST(sum(x) AS BIGINT) AS sx,
               sum(CAST(x AS HUGEINT) * x) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n_events, d.x AS value_cents,
           round(CAST(CAST(s.n_days AS HUGEINT) * d.x - s.sx AS DOUBLE)
                 / sqrt(CAST(CAST(s.n_days AS HUGEINT) * s.sxx
                             - CAST(s.sx AS HUGEINT) * s.sx AS DOUBLE)), 6)
               AS z,
           abs(round(CAST(CAST(s.n_days AS HUGEINT) * d.x - s.sx AS DOUBLE)
                     / sqrt(CAST(CAST(s.n_days AS HUGEINT) * s.sxx
                                 - CAST(s.sx AS HUGEINT) * s.sx AS DOUBLE)), 6))
               > {ANOMALY_Z} AS is_anomaly
    FROM daily d JOIN stats s USING (event_type)
    ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# Robust (median/MAD) daily anomaly twin of daily_value_anomalies (round
# 10).  The z-score screen above is itself distorted by the outliers it
# hunts (one extreme day inflates the stdev and masks the rest --
# "masking"); the robust version scores each day against the MEDIAN and
# the median-absolute-deviation, which tolerate up to half the days being
# corrupted.  Production monitors run both: z for sensitivity on clean
# series, MAD for breakdown resistance.  |robust_z| > 3.5 is the standard
# Iglewicz-Hoaglin cutoff (their B = 0.6745 consistency constant folded
# into the 1.349 below).
#
# Numeric discipline: medians stay on the integer lattice by doubling --
# med2 = x_(k1) + x_(k2) is TWICE the interpolated median (k1/k2 the two
# middle ranks; equal when n is odd), dev2 = |2x - med2| is twice the
# absolute deviation, mad4 = dev2_(k1) + dev2_(k2) is FOUR times the MAD.
# robust_z = 0.6745 * (x - med) / MAD = 1.349 * (2x - med2) / mad4: one
# double expression of exact integers, identical in both engines.  The
# emitted median/MAD are med2/2 and mad4/4 -- halves and quarters are
# exact binary doubles, so no rounding is needed on either.
#
# Scale: the rank windows run on the POST-AGGREGATE daily table
# (|event_type| x |days| rows, bounded by the calendar), partitioned by
# event_type -- never a per-event window; everything upstream is one
# combinable groupBy over the raw scan.
# ---------------------------------------------------------------------------

MAD_OUTLIER_Z = 3.5


def daily_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("x"),
        )
    )

    def _middle_two(df: DataFrame, col: str) -> DataFrame:
        """event_type -> x_(k1) + x_(k2) over ``col`` (twice the median
        on the integer lattice); bounded post-aggregate window."""
        ranked = df.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(col, "day")
            ),
        ).withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        )
        k1 = F.floor((F.col("n") + F.lit(1)) / F.lit(2))
        k2 = F.floor((F.col("n") + F.lit(2)) / F.lit(2))
        return ranked.groupBy("event_type").agg(
            (
                F.sum(F.when(F.col("rn") == k1, F.col(col)).otherwise(F.lit(0)))
                + F.sum(
                    F.when(F.col("rn") == k2, F.col(col)).otherwise(F.lit(0))
                )
            )
            .cast("bigint")
            .alias(f"_m_{col}")
        )

    med = _middle_two(daily, "x").withColumnRenamed("_m_x", "med2")
    devs = daily.join(F.broadcast(med), "event_type").withColumn(
        "dev2", F.abs(F.lit(2) * F.col("x") - F.col("med2"))
    )
    mad = _middle_two(devs, "dev2").withColumnRenamed("_m_dev2", "mad4")
    z = F.round(
        F.lit(1.349)
        * (F.lit(2) * F.col("x") - F.col("med2")).cast("double")
        / F.col("mad4").cast("double"),
        6,
    )
    robust_z = F.when(F.col("mad4") == 0, F.lit(None).cast("double")).otherwise(z)
    return (
        devs.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day",
            "n_events",
            F.col("x").alias("value_cents"),
            (F.col("med2").cast("double") / F.lit(2.0)).alias("median_cents"),
            (F.col("mad4").cast("double") / F.lit(4.0)).alias("mad_cents"),
            robust_z.alias("robust_z"),
            F.when(F.col("mad4") == 0, F.lit(False))
            .otherwise(F.abs(z) > MAD_OUTLIER_Z)
            .alias("is_outlier"),
        )
        .orderBy("event_type", "day")
    )


DAILY_MAD_ORACLE = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY x, day) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ),
    med AS (
        SELECT event_type,
               CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN x ELSE 0 END)
                    + sum(CASE WHEN rn = (n + 2) // 2 THEN x ELSE 0 END)
                    AS BIGINT) AS med2
        FROM ranked GROUP BY event_type
    ),
    devs AS (
        SELECT d.*, med2, abs(2 * d.x - med2) AS dev2
        FROM daily d JOIN med USING (event_type)
    ),
    dranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY dev2, day) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM devs
    ),
    mad AS (
        SELECT event_type,
               CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN dev2 ELSE 0 END)
                    + sum(CASE WHEN rn = (n + 2) // 2 THEN dev2 ELSE 0 END)
                    AS BIGINT) AS mad4
        FROM dranked GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n_events, d.x AS value_cents,
           CAST(med2 AS DOUBLE) / 2 AS median_cents,
           CAST(mad4 AS DOUBLE) / 4 AS mad_cents,
           CASE WHEN mad4 = 0 THEN NULL
                ELSE round(1.349 * CAST(2 * d.x - med2 AS DOUBLE)
                           / CAST(mad4 AS DOUBLE), 6) END AS robust_z,
           CASE WHEN mad4 = 0 THEN false
                ELSE abs(round(1.349 * CAST(2 * d.x - med2 AS DOUBLE)
                               / CAST(mad4 AS DOUBLE), 6))
                     > {MAD_OUTLIER_Z} END AS is_outlier
    FROM devs d JOIN mad USING (event_type)
    ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov drift test, per event type, between
# the earlier and later half of the event stream (the same time-midpoint
# split and fixed HIST_WIDTH value bins as value_distribution_psi -- the
# two monitors are complementary: PSI weighs the whole distribution, KS
# reports the single worst CDF gap, the statistic with a distribution-free
# critical value).  Computed on the binned distributions, the statistic is
# the EXACT KS distance between them: D = max_bin |CDF_base - CDF_cur|,
# and the max is attained at a bin boundary, so scanning the observed bin
# rows covers every step of both CDFs.
#
# Numeric discipline: D's numerator stays on the integer lattice --
# |cum_base * cur_total - cum_cur * base_total| computed in
# decimal(38,0) (counts up to ~1e13 at 100 TB keep the product < 1e27,
# well inside 38 digits; a BIGINT accumulator would wrap at ~3e9
# events/half) but EMITTED as BIGINT: decimal output columns decay to
# float64 through the driver's pandas fetch of the DuckDB oracle (the
# r7+r8 red class).  d_num <= 8.9e5 at sf0.1 (the CDF gap is a small
# fraction of the lattice), int64-safe far past any testdata SF; lift
# the OUTPUT to the canonical STRING channel past ~1e18.  The double
# division
# and the sqrt in the critical value are single IEEE ops (sqrt is
# correctly-rounded by IEEE-754, unlike ln/exp), so both engines produce
# bit-identical doubles.
#
# Scale shape: the cumsum window partitions by event_type over BIN rows,
# and the bin count is bounded by the VALUE RANGE (~10 live bins per
# type), not by the event stream -- the window input is a range-bounded
# aggregate, never raw events.
# ---------------------------------------------------------------------------

KS_CRIT_COEFF = 1.358  # two-sample KS critical coefficient at alpha = 0.05


def ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        ((F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2)
        .cast("bigint")
        .alias("mid_us")
    )
    binned = (
        ev.crossJoin(F.broadcast(mid))
        .select(
            "event_type",
            F.floor(F.col("value") / HIST_WIDTH).cast("bigint").alias("bin"),
            (F.unix_micros("ts") <= F.col("mid_us")).alias("is_base"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("base_n"),
            F.sum(F.when(F.col("is_base"), 0).otherwise(1)).alias("cur_n"),
        )
    )
    totals = binned.groupBy("event_type").agg(
        F.sum("base_n").cast("bigint").alias("base_total"),
        F.sum("cur_n").cast("bigint").alias("cur_total"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    DEC = "decimal(38,0)"
    cum = binned.select(
        "event_type",
        F.sum("base_n").over(w).cast(DEC).alias("cb"),
        F.sum("cur_n").over(w).cast(DEC).alias("cc"),
    )
    agg = (
        cum.join(F.broadcast(totals), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.max("base_total").alias("base_n"),
            F.max("cur_total").alias("cur_n"),
            # overflow-guarded BIGINT emission (ADVICE r9: the bare
            # non-ANSI cast nulls past int64 while DuckDB errors loudly)
            _checked_bigint(
                F.max(
                    F.abs(
                        F.col("cb") * F.col("cur_total").cast(DEC)
                        - F.col("cc") * F.col("base_total").cast(DEC)
                    )
                ),
                "d_num",
            ).alias("d_num"),
        )
    )
    prod = (F.col("base_n").cast(DEC) * F.col("cur_n").cast(DEC)).cast("double")
    ks_d = F.col("d_num").cast("double") / prod
    crit = KS_CRIT_COEFF * F.sqrt(
        (F.col("base_n") + F.col("cur_n")).cast("double") / prod
    )
    return agg.select(
        "event_type",
        "n_bins",
        "base_n",
        "cur_n",
        "d_num",
        ks_d.alias("ks_d"),
        crit.alias("ks_crit"),
        (ks_d > crit).alias("drifted"),
    ).orderBy("event_type")


KS_DRIFT_ORACLE = f"""
    WITH mid AS (
        SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))) / 2 AS BIGINT)
               AS mid_us
        FROM events
    ),
    binned AS (
        SELECT event_type,
               CAST(floor(value / {HIST_WIDTH}) AS BIGINT) AS bin,
               sum(CASE WHEN epoch_us(ts) <= mid_us THEN 1 ELSE 0 END)
                   AS base_n,
               sum(CASE WHEN epoch_us(ts) <= mid_us THEN 0 ELSE 1 END)
                   AS cur_n
        FROM events, mid
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT event_type,
               CAST(sum(base_n) AS BIGINT) AS base_total,
               CAST(sum(cur_n) AS BIGINT) AS cur_total
        FROM binned GROUP BY event_type
    ),
    cum AS (
        SELECT event_type,
               CAST(sum(base_n) OVER (PARTITION BY event_type ORDER BY bin
                    ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cb,
               CAST(sum(cur_n) OVER (PARTITION BY event_type ORDER BY bin
                    ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cc
        FROM binned
    ),
    agg AS (
        SELECT c.event_type,
               count(*) AS n_bins,
               max(t.base_total) AS base_n,
               max(t.cur_total) AS cur_n,
               CAST(max(abs(c.cb * t.cur_total - c.cc * t.base_total))
                    AS BIGINT) AS d_num
        FROM cum c JOIN totals t USING (event_type)
        GROUP BY c.event_type
    )
    SELECT event_type, n_bins, base_n, cur_n, d_num,
           CAST(d_num AS DOUBLE)
               / CAST(CAST(base_n AS HUGEINT) * cur_n AS DOUBLE) AS ks_d,
           {KS_CRIT_COEFF} * sqrt(CAST(base_n + cur_n AS DOUBLE)
               / CAST(CAST(base_n AS HUGEINT) * cur_n AS DOUBLE)) AS ks_crit,
           CAST(d_num AS DOUBLE)
               / CAST(CAST(base_n AS HUGEINT) * cur_n AS DOUBLE)
               > {KS_CRIT_COEFF} * sqrt(CAST(base_n + cur_n AS DOUBLE)
               / CAST(CAST(base_n AS HUGEINT) * cur_n AS DOUBLE)) AS drifted
    FROM agg
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Exact GLOBAL quantiles without a global sort -- the distributed
# selection algorithm (two-phase bin + within-bin pick) that replaces
# quantile_summary's per-group percentile buffer once a single group IS
# the whole table.  percentile() buffers every value of its group in one
# aggregation buffer: exact per small group, memory-fatal on a 100 TB
# stream.  Here: (1) one combinable histogram over fixed HIST_WIDTH bins
# (bounded by the VALUE RANGE like ks_drift_test); (2) the cumulative
# bin counts locate, IN-PLAN, the bin holding each target rank (a
# cross join of <=4 rank rows x ~10 bin rows -- no driver collect);
# (3) one broadcast semi-selection re-scans ONLY the candidate bins and
# row_numbers within them -- per-bin occupancy, never the stream.  The
# returned quantile is an ACTUAL element (type-1 / lower quantile,
# rank = ceil(p*n)), so the doubles are read, not computed: bit-stable
# by construction.  Ties are safe: ranking orders by value alone, and
# any permutation of equal values yields the same selected value.
# ---------------------------------------------------------------------------

GLOBAL_QUANTILE_PS = (0.25, 0.5, 0.75, 0.95)


def global_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "value", F.floor(F.col("value") / HIST_WIDTH).cast("bigint").alias("bin")
    )
    total = ev.agg(F.count(F.lit(1)).alias("n"))
    ranks = total.select(
        "n",
        F.explode(
            F.array(*[F.lit(p).cast("double") for p in GLOBAL_QUANTILE_PS])
        ).alias("p"),
    ).select(
        "n", "p", F.ceil(F.col("p") * F.col("n")).cast("bigint").alias("rank")
    )
    binned = ev.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = binned.select(
        "bin", "cnt", F.sum("cnt").over(w).alias("cum")
    )  # window input is the range-bounded bin table, not events
    targets = (
        ranks.crossJoin(cum)
        .filter(
            (F.col("cum") >= F.col("rank"))
            & (F.col("cum") - F.col("cnt") < F.col("rank"))
        )
        .select(
            "n",
            "p",
            "rank",
            "bin",
            (F.col("rank") - (F.col("cum") - F.col("cnt"))).alias("offset"),
        )
    )
    w_in = Window.partitionBy("p", "bin").orderBy("value")
    return (
        ev.join(F.broadcast(targets), "bin")
        .withColumn("r", F.row_number().over(w_in))
        .filter(F.col("r") == F.col("offset"))
        .select("p", "n", "rank", "value")
        .orderBy("p")
    )


def _global_quantiles_oracle() -> str:
    ps = ", ".join(f"CAST({p} AS DOUBLE)" for p in GLOBAL_QUANTILE_PS)
    return f"""
    WITH t AS (SELECT count(*) AS n FROM events),
    ranks AS (
        SELECT n, p, CAST(ceil(p * n) AS BIGINT) AS rank
        FROM t, unnest([{ps}]) u(p)
    ),
    ranked AS (
        SELECT value, row_number() OVER (ORDER BY value) AS r FROM events
    )
    SELECT k.p, k.n, k.rank, v.value
    FROM ranks k JOIN ranked v ON v.r = k.rank
    ORDER BY k.p
"""


GLOBAL_QUANTILES_ORACLE = _global_quantiles_oracle()


# ---------------------------------------------------------------------------
# Benford first-significant-digit audit -- the forensic screen for
# fabricated or synthetic numeric columns: naturally-grown monetary
# values follow P(d) = log10(1 + 1/d); generator output usually does
# not, and the per-digit deviation localizes HOW it fails.  (On this
# repo's own synthetic events the audit duly reports a strong Benford
# violation -- the query is the detector, the testdata is the culprit.)
#
# Exactness: digits come from exact integer cents via string prefix (no
# log10 on data); the nine Benford probabilities are Python-literal
# doubles embedded identically in both plans; shares and per-digit
# chi-square contributions are fixed per-row double expressions over
# exact integers.  Scale: one combinable groupBy into nine rows.
# ---------------------------------------------------------------------------

BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("cents")
    ).filter(F.col("cents") > 0)
    digit = F.substring(F.col("cents").cast("string"), 1, 1).cast("int")
    counts = ev.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    total = counts.agg(F.sum("n_obs").cast("bigint").alias("n"))
    bp = F.element_at(
        F.create_map(
            *[
                c
                for d, p in BENFORD_P.items()
                for c in (F.lit(d).cast("int"), F.lit(p))
            ]
        ),
        F.col("digit"),
    )
    obs = F.col("n_obs").cast("double") / F.col("n")
    expected = F.col("n") * F.col("benford_p")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            "n",
            obs.alias("obs_share"),
            bp.alias("benford_p"),
        )
        .select(
            "digit",
            "n_obs",
            "n",
            "obs_share",
            "benford_p",
            (F.col("obs_share") - F.col("benford_p")).alias("deviation"),
            (
                (F.col("n_obs") - expected)
                * (F.col("n_obs") - expected)
                / expected
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


def _benford_oracle() -> str:
    # the e0 suffix makes DuckDB parse the literal directly as DOUBLE
    # (a plain decimal literal routes through DECIMAL(17,17) and double-
    # rounds, off by one ulp from Spark's lit())
    cases = " ".join(
        f"WHEN {d} THEN {p!r}e0" for d, p in BENFORD_P.items()
    )
    return f"""
    WITH cents AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
        WHERE CAST(round(value * 100) AS BIGINT) > 0
    ),
    counts AS (
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
                   AS digit,
               count(*) AS n_obs
        FROM cents GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM counts),
    base AS (
        SELECT digit, n_obs, n,
               CAST(n_obs AS DOUBLE) / n AS obs_share,
               CASE digit {cases} END AS benford_p
        FROM counts, t
    )
    SELECT digit, n_obs, n, obs_share, benford_p,
           obs_share - benford_p AS deviation,
           (n_obs - n * benford_p) * (n_obs - n * benford_p)
               / (n * benford_p) AS chi2_term
    FROM base
    ORDER BY digit
"""


BENFORD_ORACLE = _benford_oracle()


# ---------------------------------------------------------------------------
# Theil-Sen robust trend: per event type, the MEDIAN of all pairwise
# daily slopes (sum-of-cents per day) -- the estimator that shrugs off
# the outlier days daily_value_anomalies flags, where an OLS slope would
# chase them.  Exactness: daily totals are integer cents, day indices
# are integer epoch days, so each pairwise slope is ONE double division
# of exact integers; the median picks an actual slope (odd count) or the
# single-add average of the two middle slopes (even count) -- IEEE
# addition of two doubles is deterministic, no accumulation anywhere.
#
# Scale shape: events collapse to a CALENDAR-bounded (type, day) table
# first (one combinable groupBy -- the only stage that sees the event
# stream); the pair self-join and the median rank window act on days^2 /
# 2 rows per type (a year = ~66k pairs), bounded by the calendar like
# daily_profile_similarity's band join, never by event volume.
# ---------------------------------------------------------------------------


def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("cents").alias("x"))
    )
    a = daily.select(
        "event_type", F.col("d").alias("d1"), F.col("x").alias("x1")
    )
    b = daily.select(
        "event_type", F.col("d").alias("d2"), F.col("x").alias("x2")
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("d2") > F.col("d1"))
        .select(
            "event_type",
            (
                (F.col("x2") - F.col("x1")).cast("double")
                / (F.col("d2") - F.col("d1"))
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    counts = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    mid = (
        pairs.withColumn("r", F.row_number().over(w))
        .join(F.broadcast(counts), "event_type")
        .filter(
            (F.col("r") == F.expr("(n_pairs + 1) div 2"))
            | (F.col("r") == F.expr("n_pairs div 2 + 1"))
        )
        .groupBy("event_type")
        .agg(
            F.max("n_pairs").alias("n_pairs"),
            (F.sum("slope") / F.count(F.lit(1))).alias(
                "slope_cents_per_day"
            ),
        )
    )
    n_days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    return (
        mid.join(F.broadcast(n_days), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            "slope_cents_per_day",
            F.signum("slope_cents_per_day").cast("int").alias("trend_sign"),
        )
        .orderBy("event_type")
    )


THEIL_SEN_ORACLE = """
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CAST(b.x - a.x AS DOUBLE) / (b.d - a.d) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.d > a.d
    ),
    counts AS (
        SELECT event_type, count(*) AS n_pairs FROM pairs GROUP BY 1
    ),
    ranked AS (
        SELECT p.event_type, p.slope, c.n_pairs,
               row_number() OVER (PARTITION BY p.event_type
                                  ORDER BY p.slope) AS r
        FROM pairs p JOIN counts c USING (event_type)
    ),
    mid AS (
        SELECT event_type,
               max(n_pairs) AS n_pairs,
               sum(slope) / count(*) AS slope_cents_per_day
        FROM ranked
        WHERE r = (n_pairs + 1) // 2 OR r = n_pairs // 2 + 1
        GROUP BY event_type
    ),
    nd AS (
        SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1
    )
    SELECT m.event_type, nd.n_days, m.n_pairs, m.slope_cents_per_day,
           CAST(sign(m.slope_cents_per_day) AS INTEGER) AS trend_sign
    FROM mid m JOIN nd USING (event_type)
    ORDER BY m.event_type
"""


# ---------------------------------------------------------------------------
# Pearson correlation with exact components: corr(o_totalprice, c_acctbal)
# per market segment.  Never uses either engine's corr() (their internal
# accumulation orders differ); instead the sufficient statistics
# (n, Sx, Sy, Sxy, Sxx, Syy) are exact sums over INTEGER CENTS
# (correlation is scale-invariant, so x,y are multiplied by 100), each
# cast to double once, and the closed-form combination is the identical
# double expression in both engines.  Cents matter: a scale-4 decimal sum
# (price*balance keeps 4 decimals) casts to double through a 10^-4
# scaling that DuckDB rounds differently from Spark in the last ulp;
# scale-0 decimals cast exactly the same way in both.
# ---------------------------------------------------------------------------


def price_balance_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    x = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("decimal(14,0)")
    y = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("decimal(14,0)")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "c_mktsegment",
        F.col("n").cast("bigint").alias("n_orders"),
        corr.alias("price_balance_corr"),
    ).orderBy("c_mktsegment")


CORRELATION_ORACLE = """
    WITH cents AS (
        SELECT c_mktsegment,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS DECIMAL(14,0)) AS x,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                    AS DECIMAL(14,0)) AS y
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    s AS (
        SELECT c_mktsegment,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(x * x) AS DOUBLE) AS sxx,
               CAST(sum(y * y) AS DOUBLE) AS syy
        FROM cents
        GROUP BY c_mktsegment
    )
    SELECT c_mktsegment,
           CAST(n AS BIGINT) AS n_orders,
           (n * sxy - sx * sy)
               / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
               AS price_balance_corr
    FROM s
    ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Winsorization: clip each group's values at its own [p01, p99] -- the
# standard outlier treatment before a training-data pipeline normalizes a
# numeric feature.  Per group: one percentile aggregate (same interpolated
# definition as quantile_summary, verified bit-equal to quantile_cont),
# broadcast-joined back, then integer clip counters and a decimal-exact
# sum of the clipped column.
# ---------------------------------------------------------------------------

WINSOR_LO = 0.01
WINSOR_HI = 0.99


def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(value, {WINSOR_HI})").alias("hi"),
    )
    clipped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0)).alias(
                "n_clipped_low"
            ),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0)).alias(
                "n_clipped_high"
            ),
            F.sum(clipped.cast("decimal(18,6)")).cast("double").alias(
                "winsorized_sum"
            ),
        )
        .orderBy("event_type")
    )


WINSORIZE_ORACLE = f"""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, {WINSOR_LO}) AS lo,
               quantile_cont(value, {WINSOR_HI}) AS hi
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           CAST(sum(CAST(CASE WHEN value < lo THEN lo
                              WHEN value > hi THEN hi
                              ELSE value END AS DECIMAL(18,6))) AS DOUBLE)
               AS winsorized_sum
    FROM events JOIN b USING (event_type)
    GROUP BY event_type
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Deterministic bootstrap: N_BOOT independent ~1/16 resamples of orders,
# each selected by an md5 predicate over (orderkey, replicate) -- the
# hash-sampling discipline of sample_stratified extended to replicate
# ensembles, so confidence intervals are computable from resamples that
# are reproducible across engines, runs, and cluster sizes.  The
# replicate fan-out is a row-local explode (16x rows pre-filter, ~1x
# post); totals are decimal-exact.
# ---------------------------------------------------------------------------

N_BOOT = 5


def sample_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_totalprice",
            F.explode(F.sequence(F.lit(0), F.lit(N_BOOT - 1))).alias("replicate"),
        )
        .filter(
            F.md5(F.concat_ws("#", F.col("o_orderkey"), F.col("replicate"))).startswith(
                "0"
            )
        )
        .groupBy("replicate")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("replicate")
    )


BOOTSTRAP_ORACLE = f"""
    SELECT CAST(replicate AS INTEGER) AS replicate,
           count(*) AS n_sampled,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM (
        SELECT o_orderkey, o_totalprice, r AS replicate
        FROM orders, unnest(range(0, {N_BOOT})) t(r)
        WHERE md5(o_orderkey || '#' || r) LIKE '0%'
    )
    GROUP BY replicate
    ORDER BY replicate
"""


# ---------------------------------------------------------------------------
# Custom aggregate via Arrow GROUPED_AGG pandas_udf: per-group geometric
# mean.  The one vectorized-Python surface the engine hadn't exercised
# (mapInPandas and applyInPandasWithState live elsewhere): a whole group's
# column arrives as ONE pandas Series per Arrow batch and reduces
# Python-side.  Declared rows-only (no SQL oracle): log-sum reduction
# order makes the float engine-specific; the pytest twin checks against
# numpy within 1e-9 instead.  Use ONLY when the aggregate genuinely has
# no built-in/exact formulation -- and never in a hot path when
# exp(avg(ln(x))) as JVM expressions would do.
# ---------------------------------------------------------------------------


def geomean_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql.functions import PandasUDFType

    @F.pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v: pd.Series) -> float:
        # Decimal-disciplined log-mean (optimization round 13, VERDICT
        # r12 item #1): the old np.log(v).mean() summed floats in
        # partition-arrival order, so the last ulps were run-specific and
        # the query could only ever be rows-only for the driver.  Now
        # each ln is quantized to the same DECIMAL 1e-12 grid the
        # geomean_event_value_exact twin uses, summed exactly (order
        # cannot perturb integer-grid decimal sums), and the result is
        # rounded to 6 dp with the twin's HALF_UP semantics -- making
        # the pandas GROUPED_AGG surface engine-deterministic and
        # oracle-checkable against the same SQL as the twin.  Python's
        # math.log/libm is bit-identical to DuckDB's ln on every value
        # in the corpus (verified exhaustively; the JVM side of the twin
        # has the same agreement, banked across rounds).
        import math
        from decimal import ROUND_HALF_UP, Decimal

        grid = Decimal(1).scaleb(-12)
        total = Decimal(0)
        for x in v:
            total += Decimal(math.log(x)).quantize(
                grid, rounding=ROUND_HALF_UP
            )
        val = math.exp(float(total) / len(v))
        return float(
            Decimal(val).quantize(Decimal(1).scaleb(-6), rounding=ROUND_HALF_UP)
        )

    # a GROUPED_AGG udf cannot mix with JVM aggregates in one agg();
    # group size therefore also goes through the pandas path
    @F.pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def group_n(v: pd.Series) -> int:
        return len(v)

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    return (
        ev.groupBy("event_type")
        .agg(
            group_n("value").alias("n"),
            geomean("value").alias("geomean_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# The same aggregate as geomean_event_value but in its scale-path form:
# exp(avg(ln(x))) as pure JVM expressions.  This is the formulation the
# GROUPED_AGG docstring above says to prefer in a hot path -- log/sum/count
# are map-side combinable inside whole-stage codegen, no Python, no Arrow
# transfer.  Cross-engine determinism: each ln(value) is cast to
# DECIMAL(25,12) BEFORE summing, so the reduction is exact integer
# arithmetic and partitioning/summation order cannot perturb it (the
# module's decimal-sum discipline); the single decimal->double cast,
# division and exp are then identical given identical inputs, and the
# final round(6) absorbs last-ulp libm differences between the JVM's
# Math.exp/log and DuckDB's libm.
# ---------------------------------------------------------------------------


def geomean_event_value_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    log_sum = F.sum(F.log(F.col("value")).cast("decimal(25,12)")).cast("double")
    n = F.count(F.lit(1))
    return (
        ev.groupBy("event_type")
        .agg(
            n.alias("n"),
            F.round(F.exp(log_sum / n), 6).alias("geomean_value"),
        )
        .orderBy("event_type")
    )


GEOMEAN_EXACT_ORACLE = """
    SELECT event_type,
           count(*) AS n,
           round(exp(CAST(sum(CAST(ln(value) AS DECIMAL(25,12))) AS DOUBLE)
                     / count(*)), 6) AS geomean_value
    FROM events
    WHERE value > 0
    GROUP BY event_type
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split: the split key is the GROUP (user),
# never the row -- rows of one user land in exactly one split by
# construction, which is the property that keeps eval honest (row-level
# sampling leaks a user's near-duplicate interactions across splits).
# Assignment = two md5 hex chars of the user id -> 256 stable buckets,
# ~80/10/10; a pure row-local function of the key, so the split is
# identical on any engine, partitioning, cluster size, or re-run, and a
# later backfill lands each user back in the same split.  One combinable
# shuffle on (split, event_type) for the report.
# ---------------------------------------------------------------------------

# Bucket = first two lowercase-hex md5 chars; on exactly-two hex chars
# lexicographic order IS numeric order, so the thresholds are hex string
# literals and no engine-specific hex->int conversion exists anywhere.
SPLIT_TRAIN_MAX_HEX = "cc"  # 0x00-0xcc -> ~80.1%
SPLIT_VAL_MAX_HEX = "e5"    # 0xcd-0xe5 -> ~9.8%; rest -> test


def split_assignment(key) -> Column:
    """Leakage-safe split label for a grouping key column: a pure
    row-local function of the key, identical on any engine/partitioning."""
    h2 = F.substring(F.md5(key.cast("string")), 1, 2)
    return (
        F.when(h2 <= SPLIT_TRAIN_MAX_HEX, "train")
        .when(h2 <= SPLIT_VAL_MAX_HEX, "val")
        .otherwise("test")
    )


def train_test_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("*", split_assignment(F.col("user_id")).alias("split"))
        .groupBy("split", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .orderBy("split", "event_type")
    )


TRAIN_TEST_SPLIT_ORACLE = f"""
    WITH b AS (
        SELECT *, substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS h2
        FROM events
    )
    SELECT CASE WHEN h2 <= '{SPLIT_TRAIN_MAX_HEX}' THEN 'train'
                WHEN h2 <= '{SPLIT_VAL_MAX_HEX}' THEN 'val'
                ELSE 'test' END AS split,
           event_type,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM b
    GROUP BY 1, 2
    ORDER BY split, event_type
"""


# ---------------------------------------------------------------------------
# Quantile discretization: per-type decile assignment -- the standard
# feature-engineering binning (equal-frequency, robust to heavy tails
# where fixed-width histogram bins are not).  ntile is deterministic
# given a TOTAL order, so the sort key is (value, event_id) -- event_id
# is unique, the tie-break makes the row->decile map identical on any
# engine/partitioning.  One shuffle: the per-type sort that the window
# needs; at 100 TB with few types this wants the two-level trick
# (percentile_approx bounds broadcast back) -- declared here in its
# exact form, the approx path is sketch_summary's.
# ---------------------------------------------------------------------------

N_DECILES = 10


def value_decile_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.ntile(N_DECILES).over(w).cast("int").alias("decile"),
    )


VALUE_DECILE_ORACLE = f"""
    SELECT event_id, event_type, value,
           CAST(ntile({N_DECILES}) OVER (
               PARTITION BY event_type ORDER BY value, event_id
           ) AS INTEGER) AS decile
    FROM events
"""


# ---------------------------------------------------------------------------
# The scale path for decile binning: value_decile_features above is
# EXACT but pays a full per-type sort (the window ntile) -- at 100 TB
# that sort is the job.  Here decile BOUNDS come from percentile_approx
# (a partial-aggregable quantile sketch: one combinable shuffle reduces
# per-partition sketches to 9 numbers per type), broadcast back, and
# bin assignment is a scan-local comparison against 9 doubles -- no
# sort anywhere, one linear pass to learn bounds and one to assign.
#
# Declared rows-only: the sketch is engine-specific by construction
# (DuckDB cannot reproduce Spark's GK boundaries), the same disposition
# as sketch_summary; the pytest twin checks assignments against the
# exact ntile path instead (>=99% of rows within one bin).
# ---------------------------------------------------------------------------

DECILE_SKETCH_ACC = 10_000


def value_decile_features_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    probs = [i / N_DECILES for i in range(1, N_DECILES)]
    bounds = ev.groupBy("event_type").agg(
        F.percentile_approx("value", probs, DECILE_SKETCH_ACC).alias("bnds")
    )
    decile = (
        F.size(F.filter("bnds", lambda b: F.col("value") > b)) + 1
    ).cast("int")
    return ev.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value",
        decile.alias("decile"),
    )


# ---------------------------------------------------------------------------
# ANALYZE-style table statistics profile -- the numbers a cost-based
# optimizer (or a human sizing a join) reads first: per column of the
# orders table, row count, null count, EXACT distinct count, and
# stringified min/max.  Stringification is type-disciplined so both
# engines render identical text: integers/varchars cast directly,
# doubles through DECIMAL(18,2), timestamps through DATE.
#
# Scale: ONE scan -- the six exact count(DISTINCT)s compile to a single
# Expand-based aggregate (each input row fans out once per distinct
# aggregate, deduped map-side before the shuffle), which beats
# re-scanning the fact table per column 6x; at petabyte scale you swap
# exact NDV for approx_count_distinct per column (engine-specific sketch,
# hence not in this oracle-checked profile).
# ---------------------------------------------------------------------------

_STATS_SPECS: list[tuple[str, str]] = [
    # (column, stringify rule: int | str | money | date)
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "str"),
]


def _stat_stringify(col, rule: str):
    if rule == "money":
        return col.cast("decimal(18,2)").cast("string")
    if rule == "date":
        return col.cast("date").cast("string")
    return col.cast("string")


def table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    exprs = [F.count(F.lit(1)).alias("n_rows")]
    for name, rule in _STATS_SPECS:
        exprs += [
            F.sum(F.when(F.col(name).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"nn_{name}"),
            F.countDistinct(name).alias(f"nd_{name}"),
            _stat_stringify(F.min(name), rule).alias(f"mn_{name}"),
            _stat_stringify(F.max(name), rule).alias(f"mx_{name}"),
        ]
    one = orders.agg(*exprs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("column_name"),
                F.col(f"nn_{name}").alias("n_nulls"),
                F.col(f"nd_{name}").alias("n_distinct"),
                F.col(f"mn_{name}").alias("min_value"),
                F.col(f"mx_{name}").alias("max_value"),
            )
            for name, _ in _STATS_SPECS
        ]
    )
    return (
        one.select("n_rows", F.explode(rows).alias("s"))
        .select(
            F.col("s.column_name").alias("column_name"),
            "n_rows",
            F.col("s.n_nulls").alias("n_nulls"),
            F.col("s.n_distinct").alias("n_distinct"),
            F.col("s.min_value").alias("min_value"),
            F.col("s.max_value").alias("max_value"),
        )
        .orderBy("column_name")
    )


def _stats_oracle() -> str:
    def sql_stringify(name: str, rule: str, mm: str) -> str:
        if rule == "money":
            return f"CAST(CAST({mm}({name}) AS DECIMAL(18,2)) AS STRING)"
        if rule == "date":
            return f"CAST(CAST({mm}({name}) AS DATE) AS STRING)"
        return f"CAST({mm}({name}) AS STRING)"

    selects = "\n    UNION ALL\n".join(
        f"""    SELECT '{name}' AS column_name,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           count(DISTINCT {name}) AS n_distinct,
           {sql_stringify(name, rule, 'min')} AS min_value,
           {sql_stringify(name, rule, 'max')} AS max_value
    FROM orders"""
        for name, rule in _STATS_SPECS
    )
    return f"{selects}\n    ORDER BY column_name"


TABLE_STATS_ORACLE = _stats_oracle()


# ---------------------------------------------------------------------------
# Stratified k-fold assignment -- deterministic cross-validation folds
# for training data: every document lands in fold md5(doc_id) mod K, so
# the assignment is reproducible on any engine/cluster/partitioning and
# stable under re-runs (no RNG state to ship).  The report shows, per
# (lang, fold), the document and character mass plus each fold's share
# of its language -- the balance check that the hash actually stratifies
# (shares ~1/K per stratum) before anyone trains on the folds.
#
# Scale: one combinable (lang, fold) groupBy; per-lang totals come from
# re-aggregating the |langs| x K cell table (tiny), broadcast back.
# The per-row fold expression is pure JVM hash arithmetic -- the same
# conv(md5) idiom as split_assignment, mod K instead of hex bands.
# ---------------------------------------------------------------------------

KFOLD_K = 5


def stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fold = (md5_prefix(F.col("doc_id").cast("string"), 8) % KFOLD_K).cast("int")
    cells = docs.select("lang", fold.alias("fold"), "n_chars").groupBy(
        "lang", "fold"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    per_lang = cells.groupBy("lang").agg(
        F.sum("n_docs").cast("bigint").alias("lang_docs")
    )
    return (
        cells.join(F.broadcast(per_lang), "lang")
        .select(
            "lang",
            "fold",
            "n_docs",
            "n_chars",
            F.round(
                F.col("n_docs").cast("double") / F.col("lang_docs"), 6
            ).alias("fold_share"),
        )
        .orderBy("lang", "fold")
    )


KFOLD_ORACLE = f"""
    WITH cells AS (
        SELECT lang,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    ::BIGINT % {KFOLD_K} AS INTEGER) AS fold,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM documents
        GROUP BY 1, 2
    ),
    per_lang AS (
        SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_docs
        FROM cells GROUP BY lang
    )
    SELECT lang, fold, n_docs, n_chars,
           round(CAST(n_docs AS DOUBLE) / lang_docs, 6) AS fold_share
    FROM cells JOIN per_lang USING (lang)
    ORDER BY lang, fold
"""


# --- chi-square independence: event mix vs time-of-day ---------------------
# The categorical-drift sibling of ks_drift_test: does the event-type mix
# depend on the time-of-day block?  Pure contingency-table arithmetic --
# integer cell counts, expected = row_total*col_total/N as ONE double
# division of an exact bigint product (counts <= ~1e7, product <= ~1e14,
# exact in int64 AND in float64), then (obs-exp)^2/exp with an identical
# op order on both engines (the benford_first_digit_audit precedent).
# Scale: cells are bounded (|event_type| x 4 blocks); everything reduces
# map-side; the three marginals broadcast.  Time-of-day comes from pure
# UTC epoch arithmetic (hour_of_week_profile discipline), never hour().

CHI2_BLOCK_HOURS = 6  # 4 blocks of 6h


def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    block = (
        (F.floor(F.unix_timestamp("ts") / 3600) % 24) / CHI2_BLOCK_HOURS
    )
    cells = (
        ev.select(
            "event_type",
            F.floor(block).cast("int").alias("tod_block"),
        )
        .groupBy("event_type", "tod_block")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    row_tot = cells.groupBy("event_type").agg(
        F.sum("n_obs").cast("bigint").alias("row_n")
    )
    col_tot = cells.groupBy("tod_block").agg(
        F.sum("n_obs").cast("bigint").alias("col_n")
    )
    tot = cells.agg(F.sum("n_obs").cast("bigint").alias("n"))
    exp = (F.col("row_n") * F.col("col_n")).cast("double") / F.col("n")
    obs = F.col("n_obs").cast("double")
    return (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "tod_block")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "tod_block",
            "n_obs",
            exp.alias("expected"),
            ((obs - exp) * (obs - exp) / exp).alias("chi2_term"),
        )
        .orderBy("event_type", "tod_block")
    )


CHI2_ORACLE = f"""
    WITH cells AS (
        SELECT event_type,
               CAST(floor((floor(epoch(ts) / 3600) % 24)
                          / {CHI2_BLOCK_HOURS}) AS INTEGER) AS tod_block,
               count(*) AS n_obs
        FROM events
        GROUP BY 1, 2
    ),
    row_tot AS (
        SELECT event_type, CAST(sum(n_obs) AS BIGINT) AS row_n
        FROM cells GROUP BY event_type
    ),
    col_tot AS (
        SELECT tod_block, CAST(sum(n_obs) AS BIGINT) AS col_n
        FROM cells GROUP BY tod_block
    ),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM cells)
    SELECT event_type, tod_block, CAST(n_obs AS BIGINT) AS n_obs,
           CAST(row_n * col_n AS DOUBLE) / n AS expected,
           (CAST(n_obs AS DOUBLE) - CAST(row_n * col_n AS DOUBLE) / n)
           * (CAST(n_obs AS DOUBLE) - CAST(row_n * col_n AS DOUBLE) / n)
           / (CAST(row_n * col_n AS DOUBLE) / n) AS chi2_term
    FROM cells
    JOIN row_tot USING (event_type)
    JOIN col_tot USING (tod_block)
    CROSS JOIN tot
    ORDER BY event_type, tod_block
"""


# --- Welch two-sample t-test: value drift between time halves ---------------
# The mean-shift sibling of ks_drift_test (which detects shape changes but
# dilutes small mean shifts across bins).  Same base/current split at the
# time-range midpoint; per event type both halves reduce to exact integer
# sufficient statistics (count, sum-cents, sum-cents^2 in decimal), then
# Welch's t and the Satterthwaite df are short fixed-order double chains
# over those exact inputs -- deterministic cross-engine, rounded at 6/3 dp.
# Scale: one map-side-combinable aggregate over events; output |event_type|.

T_CRIT_95 = 1.96  # two-sided normal approximation (df >> 30 here)


def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        ((F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2)
        .cast("bigint")
        .alias("mid_us")
    )
    DEC = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    half = ev.crossJoin(F.broadcast(mid)).select(
        "event_type",
        (F.unix_micros("ts") <= F.col("mid_us")).alias("is_base"),
        cents.alias("cents"),
    )
    agg = half.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(~F.col("is_base"), 1).otherwise(0)).cast("bigint").alias("n_c"),
        F.sum(F.when(F.col("is_base"), F.col("cents")).otherwise(0))
        .cast(DEC)
        .alias("sx_b"),
        F.sum(F.when(~F.col("is_base"), F.col("cents")).otherwise(0))
        .cast(DEC)
        .alias("sx_c"),
        F.sum(
            F.when(F.col("is_base"), F.col("cents").cast(DEC) * F.col("cents").cast(DEC))
            .otherwise(F.lit(0).cast(DEC))
        ).alias("sxx_b"),
        F.sum(
            F.when(~F.col("is_base"), F.col("cents").cast(DEC) * F.col("cents").cast(DEC))
            .otherwise(F.lit(0).cast(DEC))
        ).alias("sxx_c"),
    )

    # Round-9 output contract (VERDICT r8 #1): the mean-shift and
    # variance NUMERATORS are exact integers computed in DECIMAL(38,0)
    # internally but EMITTED as BIGINT (mean_diff = mean_diff_num /
    # (n_b*n_c), var = var_num/(n*(n-1))) -- decimal output columns
    # decay to float64 through the driver's pandas fetch of the DuckDB
    # oracle while Spark surfaces decimal.Decimal, so the
    # representation-sensitive driver hash reds on bit-identical values
    # (the r7+r8 red class).  Magnitudes: var_num <= 2.6e15 at sf0.1
    # (measured), linear in rows -- int64-safe through ~sf300.
    # t_stat / welch_df are emitted UNROUNDED -- every op in their
    # chain (+,-,/,sqrt over bit-identical inputs, no a*b+c pattern any
    # compiler could FMA-contract) is IEEE correctly-rounded, so the raw
    # doubles are bit-deterministic cross-engine.  The oracle's
    # var->double casts now start from BIGINT (native int64->double,
    # correctly rounded at any magnitude), side-stepping DuckDB's
    # DECIMAL(38,0)->DOUBLE mis-rounding >= 2^63 (ADVICE r8, measured).
    def _var_num(n, sx, sxx):
        return (n.cast(DEC) * sxx - sx * sx).cast(DEC)

    n_b, n_c = F.col("n_b"), F.col("n_c")
    mean_b = F.col("sx_b").cast("double") / n_b
    mean_c = F.col("sx_c").cast("double") / n_c
    vnum_b = _var_num(n_b, F.col("sx_b"), F.col("sxx_b"))
    vnum_c = _var_num(n_c, F.col("sx_c"), F.col("sxx_c"))
    var_b = vnum_b.cast("double") / (n_b * (n_b - F.lit(1))).cast("double")
    var_c = vnum_c.cast("double") / (n_c * (n_c - F.lit(1))).cast("double")
    se_b = var_b / n_b.cast("double")
    se_c = var_c / n_c.cast("double")
    t = (mean_b - mean_c) / F.sqrt(se_b + se_c)
    df = (se_b + se_c) * (se_b + se_c) / (
        se_b * se_b / (n_b - F.lit(1)).cast("double")
        + se_c * se_c / (n_c - F.lit(1)).cast("double")
    )
    return agg.select(
        "event_type",
        "n_b",
        "n_c",
        # unrounded: single IEEE divisions of exact ints (round(6)
        # of an exact rational is the pca red-class)
        mean_b.alias("mean_base_cents"),
        mean_c.alias("mean_cur_cents"),
        # overflow-guarded BIGINT emissions (ADVICE r9): past the
        # documented ~sf300 bound the job fails loudly, never nulls
        _checked_bigint(
            n_c.cast(DEC) * F.col("sx_b") - n_b.cast(DEC) * F.col("sx_c"),
            "mean_diff_num",
        ).alias("mean_diff_num"),
        _checked_bigint(vnum_b, "var_num_b").alias("var_num_b"),
        _checked_bigint(vnum_c, "var_num_c").alias("var_num_c"),
        t.alias("t_stat"),
        df.alias("welch_df"),
        (F.abs(t) > T_CRIT_95).alias("mean_shifted"),
    ).orderBy("event_type")


WELCH_T_ORACLE = f"""
    WITH mid AS (
        SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))) / 2 AS BIGINT)
               AS mid_us
        FROM events
    ),
    half AS (
        SELECT event_type,
               epoch_us(ts) <= mid_us AS is_base,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events, mid
    ),
    agg AS (
        SELECT event_type,
               CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_c,
               CAST(sum(CASE WHEN is_base THEN cents ELSE 0 END)
                    AS DECIMAL(38,0)) AS sx_b,
               CAST(sum(CASE WHEN NOT is_base THEN cents ELSE 0 END)
                    AS DECIMAL(38,0)) AS sx_c,
               sum(CASE WHEN is_base
                        THEN CAST(cents AS DECIMAL(38,0))
                             * CAST(cents AS DECIMAL(38,0))
                        ELSE CAST(0 AS DECIMAL(38,0)) END) AS sxx_b,
               sum(CASE WHEN NOT is_base
                        THEN CAST(cents AS DECIMAL(38,0))
                             * CAST(cents AS DECIMAL(38,0))
                        ELSE CAST(0 AS DECIMAL(38,0)) END) AS sxx_c
        FROM half
        GROUP BY event_type
    ),
    vars_ AS (
        SELECT event_type, n_b, n_c,
               CAST(sx_b AS DOUBLE) / n_b AS mean_b,
               CAST(sx_c AS DOUBLE) / n_c AS mean_c,
               CAST(CAST(n_c AS HUGEINT) * CAST(sx_b AS HUGEINT)
                    - CAST(n_b AS HUGEINT) * CAST(sx_c AS HUGEINT)
                    AS BIGINT) AS mean_diff_num,
               CAST(CAST(n_b AS HUGEINT) * CAST(sxx_b AS HUGEINT)
                    - CAST(sx_b AS HUGEINT) * CAST(sx_b AS HUGEINT)
                    AS BIGINT) AS var_num_b,
               CAST(CAST(n_c AS HUGEINT) * CAST(sxx_c AS HUGEINT)
                    - CAST(sx_c AS HUGEINT) * CAST(sx_c AS HUGEINT)
                    AS BIGINT) AS var_num_c
        FROM agg
    ),
    terms AS (
        SELECT event_type, n_b, n_c, mean_b, mean_c,
               mean_diff_num, var_num_b, var_num_c,
               CAST(var_num_b AS DOUBLE) / CAST(n_b * (n_b - 1) AS DOUBLE)
                   / CAST(n_b AS DOUBLE) AS se_b,
               CAST(var_num_c AS DOUBLE) / CAST(n_c * (n_c - 1) AS DOUBLE)
                   / CAST(n_c AS DOUBLE) AS se_c
        FROM vars_
    )
    SELECT event_type, n_b, n_c,
           mean_b AS mean_base_cents,
           mean_c AS mean_cur_cents,
           mean_diff_num, var_num_b, var_num_c,
           (mean_b - mean_c) / sqrt(se_b + se_c) AS t_stat,
           (se_b + se_c) * (se_b + se_c)
               / (se_b * se_b / (n_b - 1) + se_c * se_c / (n_c - 1))
               AS welch_df,
           abs((mean_b - mean_c) / sqrt(se_b + se_c))
               > {T_CRIT_95}e0 AS mean_shifted
    FROM terms
    ORDER BY event_type
"""

# --- CUSUM changepoint scan over daily totals -------------------------------
# Where daily_value_anomalies flags single outlier days, the CUSUM path
# S_t = sum_{i<=t}(x_i - mean) localizes a LEVEL SHIFT: |S_t| peaks at the
# changepoint.  Everything is exact integer arithmetic until the last
# step: with P_t the decimal prefix sum and T the total over n days,
# n*S_t = n*P_t - t*T is decimal-exact, so the peak-day argmax compares
# decimals (no float ties) and only the reported cusum value takes the
# single double division by n.  Scale: the window runs per event type
# over DAYS (bounded partitions on a pre-reduced daily table), the
# per-type totals broadcast -- the raw event stream is never windowed.


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    DEC = "decimal(38,0)"
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast(DEC).alias("total"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pref = daily.select(
        "event_type",
        "day",
        "x",
        F.sum(F.col("x").cast(DEC)).over(w).alias("p"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("bigint")
        .alias("t"),
    )
    num = F.col("n_days").cast(DEC) * F.col("p") - F.col("t").cast(DEC) * F.col("total")
    scored = pref.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        F.col("x").alias("value_cents"),
        num.alias("_num"),
        F.abs(num).alias("_absnum"),
        "n_days",
    )
    peak = F.max("_absnum").over(Window.partitionBy("event_type"))
    return (
        scored.withColumn("_peak", peak)
        .select(
            "event_type",
            "day",
            "value_cents",
            # unrounded: single IEEE division of exact decimals
            # (round(6) of an exact rational is the pca red-class)
            (
                F.col("_num").cast("double") / F.col("n_days").cast("double")
            ).alias("cusum_cents"),
            (F.col("_absnum") == F.col("_peak")).alias("is_peak"),
        )
        .orderBy("event_type", "day")
    )


CUSUM_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(x) AS DECIMAL(38,0)) AS total
        FROM daily GROUP BY event_type
    ),
    pref AS (
        SELECT event_type, day, x,
               sum(CAST(x AS DECIMAL(38,0))) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY day) AS BIGINT) AS t
        FROM daily
    ),
    scored AS (
        SELECT pref.event_type, day, x,
               CAST(n_days AS DECIMAL(38,0)) * p
               - CAST(t AS DECIMAL(38,0)) * total AS num,
               n_days
        FROM pref JOIN tot ON pref.event_type = tot.event_type
    )
    SELECT event_type, day, CAST(x AS BIGINT) AS value_cents,
           CAST(num AS DOUBLE) / CAST(n_days AS DOUBLE) AS cusum_cents,
           abs(num) = max(abs(num)) OVER (PARTITION BY event_type) AS is_peak
    FROM scored
    ORDER BY event_type, day
"""


# --- lag-1 autocorrelation of daily totals ----------------------------------
# The persistence diagnostic behind forecasting/backfill decisions: is a
# heavy day followed by another heavy day (r1 > 0) or does load mean-revert?
# Pearson correlation over consecutive-day pairs via lag(1) on the bounded
# per-type daily table; all five sufficient sums are decimal-exact, the
# two variance factors cast to double SEPARATELY before sqrt (their
# decimal product could exceed 38 digits), and r1 is a fixed-order double
# chain emitted UNROUNDED (round-8 de-float: every op is IEEE
# correctly-rounded over exact inputs, so the raw double is
# bit-deterministic cross-engine while round() was the pca red-class).  Scale: same shape as cusum_changepoint -- the
# window touches only (event_type, day) aggregates, bounded by the
# calendar, with map-side-combinable daily reduction underneath.


def daily_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    DEC = "decimal(38,0)"
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = daily.select(
        "event_type",
        F.lag("x").over(w).alias("a"),
        F.col("x").alias("b"),
    ).where(F.col("a").isNotNull())
    d = lambda c: F.col(c).cast(DEC)  # noqa: E731
    agg = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(d("a")).alias("sa"),
        F.sum(d("b")).alias("sb"),
        F.sum(d("a") * d("b")).alias("sab"),
        F.sum(d("a") * d("a")).alias("saa"),
        F.sum(d("b") * d("b")).alias("sbb"),
    )
    n = F.col("n_pairs").cast(DEC)
    num = (n * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    fa = (n * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    fb = (n * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    # unrounded fixed IEEE chain over exact decimal-cast inputs (the
    # welch_t_test de-float precedent); round(6) was the pca red-class
    r1 = num / (F.sqrt(fa) * F.sqrt(fb))
    return agg.select(
        "event_type",
        "n_pairs",
        r1.alias("r1"),
        (r1 > 0.0).alias("is_persistent"),
    ).orderBy("event_type")


AUTOCORR_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT event_type,
               lag(x) OVER (PARTITION BY event_type ORDER BY day) AS a,
               x AS b
        FROM daily
        QUALIFY a IS NOT NULL
    ),
    agg AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_pairs,
               sum(CAST(a AS DECIMAL(38,0))) AS sa,
               sum(CAST(b AS DECIMAL(38,0))) AS sb,
               sum(CAST(a AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0))) AS sab,
               sum(CAST(a AS DECIMAL(38,0)) * CAST(a AS DECIMAL(38,0))) AS saa,
               sum(CAST(b AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0))) AS sbb
        FROM pairs
        GROUP BY event_type
    )
    SELECT event_type, n_pairs,
           CAST(CAST(n_pairs AS DECIMAL(38,0)) * sab - sa * sb AS DOUBLE)
               / (sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * saa - sa * sa
                            AS DOUBLE))
                  * sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * sbb - sb * sb
                              AS DOUBLE))) AS r1,
           CAST(CAST(n_pairs AS DECIMAL(38,0)) * sab - sa * sb AS DOUBLE)
               / (sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * saa - sa * sa
                            AS DOUBLE))
                  * sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * sbb - sb * sb
                              AS DOUBLE))) > 0.0e0 AS is_persistent
    FROM agg
    ORDER BY event_type
"""


# --- daily cross-correlation matrix between event types ---------------------
# daily_autocorr_lag1 measures self-persistence; this is the PAIRWISE
# Pearson matrix between the types' daily series -- the co-movement
# report behind "do purchases track views?" and the feature-redundancy
# check before stuffing both series into a model.  Same discipline:
# the raw stream reduces to the calendar-bounded (type, day) table, the
# pair space is |types|^2 x days via a day-equi self-join of that tiny
# table, all five sufficient sums are decimal-exact, and r is a
# fixed-order double chain with separately-cast variance factors.


def event_type_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    DEC = "decimal(38,0)"
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    a = daily.select(
        F.col("event_type").alias("type_a"), "day", F.col("x").alias("xa")
    )
    b = daily.select(
        F.col("event_type").alias("type_b"), "day", F.col("x").alias("xb")
    )
    joined = a.join(b, "day").where(F.col("type_a") < F.col("type_b"))
    d = lambda c: F.col(c).cast(DEC)  # noqa: E731
    agg = joined.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(d("xa")).alias("sa"),
        F.sum(d("xb")).alias("sb"),
        F.sum(d("xa") * d("xb")).alias("sab"),
        F.sum(d("xa") * d("xa")).alias("saa"),
        F.sum(d("xb") * d("xb")).alias("sbb"),
    )
    n = F.col("n_days").cast(DEC)
    num = (n * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    fa = (n * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    fb = (n * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    # unrounded fixed IEEE chain over exact decimal-cast inputs (the
    # welch_t_test de-float precedent); round(6) was the pca red-class
    r = num / (F.sqrt(fa) * F.sqrt(fb))
    return agg.select(
        "type_a", "type_b", "n_days", r.alias("r")
    ).orderBy("type_a", "type_b")


DAILY_CORR_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    joined AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.x AS xa, b.x AS xb
        FROM daily a JOIN daily b
          ON a.day = b.day AND a.event_type < b.event_type
    ),
    agg AS (
        SELECT type_a, type_b,
               CAST(count(*) AS BIGINT) AS n_days,
               sum(CAST(xa AS DECIMAL(38,0))) AS sa,
               sum(CAST(xb AS DECIMAL(38,0))) AS sb,
               sum(CAST(xa AS DECIMAL(38,0)) * CAST(xb AS DECIMAL(38,0)))
                   AS sab,
               sum(CAST(xa AS DECIMAL(38,0)) * CAST(xa AS DECIMAL(38,0)))
                   AS saa,
               sum(CAST(xb AS DECIMAL(38,0)) * CAST(xb AS DECIMAL(38,0)))
                   AS sbb
        FROM joined
        GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n_days,
           CAST(CAST(n_days AS DECIMAL(38,0)) * sab - sa * sb AS DOUBLE)
               / (sqrt(CAST(CAST(n_days AS DECIMAL(38,0)) * saa - sa * sa
                            AS DOUBLE))
                  * sqrt(CAST(CAST(n_days AS DECIMAL(38,0)) * sbb - sb * sb
                              AS DOUBLE))) AS r
    FROM agg
    ORDER BY type_a, type_b
"""


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (round 10) -- the nonparametric SIGNIFICANCE
# test that pairs with theil_sen_daily_trend's slope ESTIMATE:
# S = sum_{i<j} sign(x_j - x_i) over the chronologically ordered daily
# totals, normal approximation z = (S -+ 1) / sqrt(Var S) with the
# standard tie correction Var S = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)]/18
# (t = size of each tied-value group).  Distribution-free (none of the
# normality daily_value_anomalies' z-scores lean on), robust to
# outliers, and the standard monitoring answer to "is load actually
# drifting or am I reading noise?" -- Theil-Sen says how fast, this
# says whether to believe it.
#
# Numeric discipline: S, n, and both variance terms are exact integers
# (n^3 scale -- a decade of daily rows keeps them far below 2^63); the
# only double chain is num / sqrt(var18 / 18.0) with num = S -+ 1 exact,
# identical op order in both engines, rounded once.  Degenerate series
# (every day equal, or a single observed day -> Var S = 0) emit an
# explicit n_days/s_stat=0/var 0/NULL z/false trending row symmetrically
# -- the monitor lists every observed type, never silently drops one.
# Scale: the sign pairs come from theil_sen's exact join shape -- the
# BOUNDED post-aggregate daily table self-joined per event type (days^2
# per type, calendar-bounded); ties are one (type, value) rollup.  The
# raw event stream is never pair-joined.
# ---------------------------------------------------------------------------

MK_Z_CRIT = 1.96


def mann_kendall_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("x"))
    )
    a = daily.select(
        "event_type", F.col("day").alias("d1"), F.col("x").alias("x1")
    )
    b = daily.select(
        "event_type", F.col("day").alias("d2"), F.col("x").alias("x2")
    )
    s = (
        a.join(b, "event_type")
        .filter(F.col("d2") > F.col("d1"))
        .select(
            "event_type",
            F.when(F.col("x2") > F.col("x1"), 1)
            .when(F.col("x2") < F.col("x1"), -1)
            .otherwise(0)
            .alias("sgn"),
        )
        .groupBy("event_type")
        .agg(F.sum("sgn").cast("bigint").alias("s_stat"))
    )
    t = F.col("t")
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(t * (t - 1) * (2 * t + 5)).cast("bigint").alias("_tie")
        )
    )
    n_days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    nd = F.col("n_days")
    var18 = (
        nd * (nd - 1) * (2 * nd + 5) - F.col("_tie")
    ).cast("bigint")
    num = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(F.lit(0))
        .cast("double")
    )
    z = F.round(
        num / F.sqrt(F.col("var_s_x18").cast("double") / F.lit(18.0)), 6
    )
    # Build from n_days (one row per OBSERVED type), left-joining the
    # pair rollup: a one-day series has no d2>d1 pair, so an inner join
    # starting from s would silently drop the type instead of emitting
    # the documented degenerate row (n_days=1, var_s_x18=0, z NULL,
    # trending false).  The oracle mirrors the same LEFT JOIN.
    return (
        n_days.join(F.broadcast(s), "event_type", "left")
        .withColumn("s_stat", F.coalesce("s_stat", F.lit(0).cast("bigint")))
        .join(F.broadcast(ties), "event_type")
        .withColumn("var_s_x18", var18)
        .select(
            "event_type",
            "n_days",
            "s_stat",
            "var_s_x18",
            F.when(F.col("var_s_x18") == 0, F.lit(None).cast("double"))
            .otherwise(z)
            .alias("z"),
            F.when(F.col("var_s_x18") == 0, F.lit(False))
            .otherwise(F.abs(z) > MK_Z_CRIT)
            .alias("trending"),
        )
        .orderBy("event_type")
    )


MANN_KENDALL_ORACLE = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    s AS (
        SELECT a.event_type,
               CAST(sum(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.day > a.day
        GROUP BY a.event_type
    ),
    ties AS (
        SELECT event_type,
               CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
        FROM (
            SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY event_type, x
        ) GROUP BY event_type
    ),
    nd AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        FROM daily GROUP BY event_type
    ),
    assembled AS (
        SELECT nd.event_type, n_days,
               CAST(COALESCE(s_stat, 0) AS BIGINT) AS s_stat,
               CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie
                    AS BIGINT) AS var_s_x18,
               CAST(CASE WHEN COALESCE(s_stat, 0) > 0 THEN s_stat - 1
                         WHEN COALESCE(s_stat, 0) < 0 THEN s_stat + 1
                         ELSE 0 END AS DOUBLE) AS num
        FROM nd LEFT JOIN s USING (event_type) JOIN ties USING (event_type)
    )
    SELECT event_type, n_days, s_stat, var_s_x18,
           CASE WHEN var_s_x18 = 0 THEN NULL
                ELSE round(num / sqrt(CAST(var_s_x18 AS DOUBLE) / 18.0), 6)
                END AS z,
           CASE WHEN var_s_x18 = 0 THEN false
                ELSE abs(round(num / sqrt(CAST(var_s_x18 AS DOUBLE) / 18.0),
                               6)) > {MK_Z_CRIT}
                END AS trending
    FROM assembled
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) -- the NONPARAMETRIC two-sample
# location test beside welch_t_test's parametric one: does the 'purchase'
# value distribution sit higher/lower than 'click', without assuming
# normality?  Complements ks_drift_test (which detects ANY shape change;
# U is specifically a stochastic-dominance / location test with far more
# power against shift alternatives).
#
# Exact-integer rank discipline (house rule since kmeans/welch): ranks
# are never materialized per row.  Pool both groups, aggregate to
# per-distinct-value counts (nA, nB), then a running cumulative count
# over the SORTED DISTINCT-VALUE table gives every tie group's midrank
# in closed form:
#
#     midrank(v) x2 = 2*cum(v) - cnt(v) + 1        (an exact integer)
#
# so 2*R1 = sum_v nA(v) * (2*cum(v) - cnt(v) + 1) and the test statistic
# 2*U1 = 2*R1 - n1*(n1+1) are pure BIGINT arithmetic -- identical on any
# engine, any partitioning, any iteration order.  The tie-corrected
# normal approximation
#
#     z = (U1 - n1*n2/2) / sqrt(n1*n2/12 * ((N+1) - T/(N*(N-1))))
#     T = sum_v cnt(v)^3 - cnt(v)
#
# is assembled from those integers in doubles with a FIXED operand
# order mirrored token-for-token in the oracle; every op (+,-,*,/,sqrt
# over bit-identical inputs) is IEEE correctly-rounded, so the raw
# double is bit-deterministic cross-engine (welch_t_test precedent).
# Also emits the rank-biserial effect size r = 1 - 2*U1/(n1*n2).
#
# Magnitudes: u1_x2 <= 2*n1*n2, tie_term < N^3.  At sf0.1 (N ~ 4e3)
# both ~1e11; int64-safe to N ~ 2e6 for tie_term -- internal math runs
# in DECIMAL(38,0) and emission goes through checked_bigint, so past
# that the query FAILS LOUDLY instead of wrapping (ADVICE r9 rule).
#
# Scale shape: one combinable groupBy over the (filtered) event stream
# -> a distinct-VALUE table bounded by the cents domain, NOT the row
# count (same argument as ks_drift_test's bins); the cumulative window
# runs over that post-aggregate table; the final assembly is a scalar
# single-row reduce.  No per-row ranks, no global row window, no joins.
# ---------------------------------------------------------------------------

MWU_GROUP_A = "purchase"
MWU_GROUP_B = "click"


def mann_whitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(MWU_GROUP_A, MWU_GROUP_B)
    )
    DEC = "decimal(38,0)"
    per_value = ev.select(
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (F.col("event_type") == MWU_GROUP_A).alias("is_a"),
    ).groupBy("cents").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("bigint").alias("nb"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    # window input is the distinct-cents table (post-aggregate), not events
    ranked = per_value.select(
        "na",
        "nb",
        (F.col("na") + F.col("nb")).alias("cnt"),
        F.sum(F.col("na") + F.col("nb")).over(w).alias("cum"),
    )
    agg = ranked.select(
        F.col("na").cast(DEC).alias("na"),
        F.col("nb").cast(DEC).alias("nb"),
        F.col("cnt").cast(DEC).alias("cnt"),
        F.col("cum").cast(DEC).alias("cum"),
    ).agg(
        F.sum("na").alias("n1"),
        F.sum("nb").alias("n2"),
        F.sum(F.col("na") * (2 * F.col("cum") - F.col("cnt") + 1)).alias("r1_x2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias(
            "tie"
        ),
    )
    stats = agg.select(
        _checked_bigint(F.col("n1")).alias("n1"),
        _checked_bigint(F.col("n2")).alias("n2"),
        _checked_bigint(
            F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
        ).alias("u1_x2"),
        _checked_bigint(F.col("tie")).alias("tie_term"),
        (F.col("n1") + F.col("n2")).alias("_n"),
        (F.col("n1") * F.col("n2")).alias("_n1n2"),
    )
    # fixed operand order, mirrored in the oracle token-for-token:
    #   var = (n1n2 / 12.0) * ((N + 1) - tie / (N * (N - 1)))
    #   z   = (u1_x2 - n1n2) / (2.0 * sqrt(var))
    var = (F.col("_n1n2").cast("double") / F.lit(12.0)) * (
        (F.col("_n").cast("double") + F.lit(1.0))
        - F.col("tie_term").cast("double")
        / (F.col("_n").cast("double") * (F.col("_n").cast("double") - F.lit(1.0)))
    )
    z = (F.col("u1_x2").cast("double") - F.col("_n1n2").cast("double")) / (
        F.lit(2.0) * F.sqrt(var)
    )
    rbc = F.lit(1.0) - F.col("u1_x2").cast("double") / F.col("_n1n2").cast(
        "double"
    )
    return stats.select(
        "n1",
        "n2",
        "u1_x2",
        "tie_term",
        z.alias("z"),
        rbc.alias("rank_biserial"),
        (F.abs(z) > MK_Z_CRIT).alias("significant"),
    )


MANN_WHITNEY_ORACLE = f"""
    WITH per_value AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(sum(CASE WHEN event_type = '{MWU_GROUP_A}' THEN 1
                             ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN event_type = '{MWU_GROUP_A}' THEN 0
                             ELSE 1 END) AS BIGINT) AS nb
        FROM events
        WHERE event_type IN ('{MWU_GROUP_A}', '{MWU_GROUP_B}')
        GROUP BY 1
    ),
    ranked AS (
        SELECT CAST(na AS HUGEINT) AS na, CAST(nb AS HUGEINT) AS nb,
               CAST(na + nb AS HUGEINT) AS cnt,
               CAST(sum(na + nb) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS HUGEINT) AS cum
        FROM per_value
    ),
    agg AS (
        SELECT sum(na) AS n1, sum(nb) AS n2,
               sum(na * (2 * cum - cnt + 1)) AS r1_x2,
               sum(cnt * cnt * cnt - cnt) AS tie
        FROM ranked
    ),
    stats AS (
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
               CAST(tie AS BIGINT) AS tie_term,
               CAST(n1 + n2 AS BIGINT) AS _n,
               CAST(n1 * n2 AS BIGINT) AS _n1n2
        FROM agg
    )
    SELECT n1, n2, u1_x2, tie_term,
           (CAST(u1_x2 AS DOUBLE) - CAST(_n1n2 AS DOUBLE))
               / (2.0 * sqrt((CAST(_n1n2 AS DOUBLE) / 12.0)
                   * ((CAST(_n AS DOUBLE) + 1.0)
                      - CAST(tie_term AS DOUBLE)
                        / (CAST(_n AS DOUBLE) * (CAST(_n AS DOUBLE) - 1.0)))))
               AS z,
           1.0 - CAST(u1_x2 AS DOUBLE) / CAST(_n1n2 AS DOUBLE)
               AS rank_biserial,
           abs((CAST(u1_x2 AS DOUBLE) - CAST(_n1n2 AS DOUBLE))
               / (2.0 * sqrt((CAST(_n1n2 AS DOUBLE) / 12.0)
                   * ((CAST(_n AS DOUBLE) + 1.0)
                      - CAST(tie_term AS DOUBLE)
                        / (CAST(_n AS DOUBLE) * (CAST(_n AS DOUBLE) - 1.0))))))
               > {MK_Z_CRIT} AS significant
    FROM stats
"""


# ---------------------------------------------------------------------------
# Weighted reservoir sample (Efraimidis-Spirakis A-ES) -- the missing
# member of the sampling family: sample_stratified is UNWEIGHTED
# Bernoulli, sample_topk_per_group is unweighted fixed-k; a curation
# pipeline routinely needs "k docs per source, probability proportional
# to size" (chars here) for eyeballing and eval-set construction.
#
# A-ES: each item draws u ~ U(0,1] and keeps key u^(1/w); the k largest
# keys per stratum are EXACTLY a weighted sample without replacement.
# One pass, embarrassingly parallel, mergeable -- the canonical
# distributed weighted reservoir.
#
# Determinism: u is hash-derived, u = (hex60(md5(doc_id)) mod P + 1) /
# 2^31 in (0,1] (P = 2^31-1, the MinHash modulus) -- the same
# conv(md5) idiom as split_assignment, so the witness set replays on
# any engine/run/cluster size.  Ranking uses ln(u)/w (monotone in the
# key, avoids pow); ln is squashed through DECIMAL(18,9) because JVM
# Math.log and DuckDB ln disagree in the last ulp (text_tfidf
# precedent), and the subsequent decimal->double cast and division by
# the bigint weight are correctly rounded on identical operands.
#
# Scale shape: scan -> per-row hash arithmetic (all codegen) -> per-
# source top-k.  Spark 4 rewrites the rank<=k filter into
# WindowGroupLimit, a map-side partial top-k BEFORE the shuffle (pinned
# in tests/test_plans.py), so the exchange ships at most k rows per
# source per input partition -- the same reason a 100 TB stratum never
# materializes a full sort.
# ---------------------------------------------------------------------------

RESERVOIR_K = 10
_RES_P = MINHASH_P  # one modulus, three sites: batch plan, oracle, streaming twin


def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = md5_prefix(F.col("doc_id").cast("string")) % _RES_P
    lnu9 = F.log(((h + 1).cast("double") / F.lit(2147483648.0))).cast(
        "decimal(18,9)"
    )
    scored = docs.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        (lnu9.cast("double") / F.col("n_chars").cast("double")).alias("key"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        scored.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= RESERVOIR_K)
        .select("source", "sample_rank", "doc_id", "weight", "key")
        .orderBy("source", "sample_rank")
    )


WEIGHTED_RESERVOIR_ORACLE = f"""
    WITH scored AS (
        SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
               CAST(CAST(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                   1, 15))::BIGINT % {_RES_P} + 1 AS DOUBLE))
                             / 2147483648.0)
                         AS DECIMAL(18,9)) AS DOUBLE)
                   / CAST(n_chars AS DOUBLE) AS key
        FROM documents
    )
    SELECT source, sample_rank, doc_id, weight, key
    FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY source ORDER BY key DESC, doc_id
               ) AS INTEGER) AS sample_rank
        FROM scored
    )
    WHERE sample_rank <= {RESERVOIR_K}
    ORDER BY source, sample_rank
"""


# ---------------------------------------------------------------------------
# Kruskal-Wallis H -- the k-group extension of mann_whitney_u_test: "do
# the k event types draw value from the same distribution?" in one
# rank-based test instead of k^2 pairwise MWUs.  Same exact-rank
# machinery: values quantized to cents, pooled mid-ranks via the x2
# integer trick (midrank*2 = 2*cum - cnt + 1 -- always an integer), tie
# correction from the pooled per-value counts.
#
# The one new numeric hazard vs MWU: H sums the per-group term
# R_g^2 / (4 n_g) ACROSS groups, and a cross-group sum of raw doubles is
# execution-order-dependent -- exactly the nondeterminism this file
# bans.  (A decimal-grid squash does NOT work here: the terms reach
# ~1e15 * 1e6 scale units, past 2^53, where the two engines' double->
# decimal casts disagree -- measured.)  Each per-group term is instead a
# fixed-order double chain over exact integers (deterministic per row),
# and the cross-group sum is an ORDERED SEQUENTIAL FOLD over the
# event_type-sorted k-element array: Spark's F.aggregate and DuckDB's
# list_reduce add the identical doubles in the identical order, so the
# sum is bit-equal (the flat-dot idiom of similarity.py, applied to k
# group terms).  The final H / tie-corrected H / significance are
# per-row double chains over that sum, mirrored token-for-token in the
# oracle.
#
# Scale shape: one combinable groupBy(event_type, cents) over events,
# two windows on the POST-AGGREGATE per-(type, value) table (the RANGE
# frame pools cum counts across groups without a self-join; input is
# bounded by distinct values x k, same posture as mann_whitney's
# distinct-cents window), then a k-row aggregate joined back broadcast.
# Output: one row per event type with the global test repeated.
# ---------------------------------------------------------------------------

# chi-square 0.95 quantiles, df 1..32 (public tables); both engines
# evaluate the same generated CASE over df = k - 1.  df > 32 (i.e. a
# 34th event type) falls through to NULL `significant`; the emitted
# `df` column disambiguates "table exhausted" from "not significant",
# and the events schema ships 6 types, so 32 is a 5x headroom pin --
# extend the dict if the schema ever grows past it.
CHI2_CRIT_95 = {
    1: 3.841, 2: 5.991, 3: 7.815, 4: 9.488, 5: 11.070, 6: 12.592,
    7: 14.067, 8: 15.507, 9: 16.919, 10: 18.307, 11: 19.675, 12: 21.026,
    13: 22.362, 14: 23.685, 15: 24.996, 16: 26.296, 17: 27.587,
    18: 28.869, 19: 30.144, 20: 31.410, 21: 32.671, 22: 33.924,
    23: 35.172, 24: 36.415, 25: 37.652, 26: 38.885, 27: 40.113,
    28: 41.337, 29: 42.557, 30: 43.773, 31: 44.985, 32: 46.194,
}
_KW_CRIT_CASE = (
    "CASE "
    + " ".join(
        f"WHEN df = {d} THEN {c}" for d, c in sorted(CHI2_CRIT_95.items())
    )
    + " ELSE CAST(NULL AS DOUBLE) END"
)


def kruskal_wallis_h_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_tc = (
        ev.select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # pooled per-value totals WITHOUT a self-join: the RANGE frame sums
    # every row with cents <= current (all groups), the cents partition
    # gives the per-value tie count.  Both windows consume the
    # post-aggregate per-(type, value) table, never raw events.
    w_cum = (
        Window.orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_val = Window.partitionBy("cents")
    ranked = per_tc.select(
        "event_type",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_val).alias("cnt"),
    )
    DEC = "decimal(38,0)"
    groups = (
        ranked.select(
            "event_type",
            F.col("n").cast(DEC).alias("n"),
            F.col("cum").cast(DEC).alias("cum"),
            F.col("cnt").cast(DEC).alias("cnt"),
        )
        .groupBy("event_type")
        .agg(
            _checked_bigint(F.sum("n")).alias("n"),
            _checked_bigint(
                F.sum(F.col("n") * (2 * F.col("cum") - F.col("cnt") + 1))
            ).alias("rank_sum_x2"),
        )
    )
    # tie term over pooled distinct values: sum(cnt^3 - cnt)
    ties = (
        per_tc.groupBy("cents")
        .agg(F.sum("n").cast(DEC).alias("c"))
        .agg(
            _checked_bigint(
                F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
            ).alias("tie_term")
        )
    )
    # per-group H term: fixed-order double chain over exact integers;
    # summed by an ordered fold over the event_type-sorted array so both
    # engines add the same doubles in the same order (bit-equal).
    term = (
        F.col("rank_sum_x2").cast("double") * F.col("rank_sum_x2").cast("double")
    ) / (F.lit(4.0) * F.col("n").cast("double"))
    glob = (
        groups.select(
            F.col("n"),
            F.struct(F.col("event_type").alias("e"), term.alias("t")).alias(
                "et"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("int").alias("k_groups"),
            _checked_bigint(F.sum(F.col("n").cast(DEC))).alias("n_total"),
            F.array_sort(F.collect_list("et")).alias("terms"),
        )
        .select(
            "k_groups",
            "n_total",
            F.aggregate(
                "terms", F.lit(0.0), lambda acc, x: acc + x["t"]
            ).alias("s_fold"),
        )
        .crossJoin(F.broadcast(ties))
    )
    # fixed operand order, mirrored in the oracle token-for-token:
    #   h     = 12.0 * S / (N * (N + 1.0)) - 3.0 * (N + 1.0)
    #   c_tie = 1.0 - tie / (N^3 - N);  h_tie = h / c_tie
    nd = F.col("n_total").cast("double")
    h = (
        F.lit(12.0) * F.col("s_fold") / (nd * (nd + F.lit(1.0)))
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    c_tie = F.lit(1.0) - F.col("tie_term").cast("double") / (nd * nd * nd - nd)
    # all-tied degenerate regime (tie = N^3 - N -> c_tie = 0): the
    # honest answer is NULL, and an unguarded double division diverges
    # cross-engine (Spark NULL vs DuckDB inf) -- same guard discipline
    # as hill/ljung/leakage
    tie_ok = F.col("tie_term").cast("double") < (nd * nd * nd - nd)
    stats = glob.select(
        "k_groups",
        "n_total",
        "tie_term",
        h.alias("h"),
        F.when(tie_ok, h / c_tie).alias("h_tie"),
        (F.col("k_groups") - 1).alias("df"),
    ).withColumn("crit_95", F.expr(_KW_CRIT_CASE)).select(
        "k_groups",
        "n_total",
        "tie_term",
        "h",
        "h_tie",
        (F.col("h_tie") > F.col("crit_95")).alias("significant"),
    )
    return (
        groups.select(
            "event_type",
            "n",
            "rank_sum_x2",
            (
                F.col("rank_sum_x2").cast("double")
                / (F.lit(2.0) * F.col("n").cast("double"))
            ).alias("mean_rank"),
        )
        .crossJoin(F.broadcast(stats))
        .orderBy("event_type")
    )


KRUSKAL_WALLIS_ORACLE = f"""
    WITH per_tc AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, CAST(n AS HUGEINT) AS n,
               CAST(sum(n) OVER (ORDER BY cents
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS HUGEINT) AS cum,
               CAST(sum(n) OVER (PARTITION BY cents) AS HUGEINT) AS cnt
        FROM per_tc
    ),
    groups AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(n * (2 * cum - cnt + 1)) AS BIGINT) AS rank_sum_x2
        FROM ranked
        GROUP BY event_type
    ),
    ties AS (
        SELECT CAST(sum(c * c * c - c) AS BIGINT) AS tie_term
        FROM (SELECT CAST(sum(n) AS HUGEINT) AS c FROM per_tc GROUP BY cents)
    ),
    kw_tot AS (
        SELECT CAST(count(*) AS INTEGER) AS k_groups,
               CAST(sum(n) AS BIGINT) AS n_total,
               list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(
                           list_sort(list({{'e': event_type,
                               't': CAST(rank_sum_x2 AS DOUBLE)
                                    * CAST(rank_sum_x2 AS DOUBLE)
                                    / (4.0 * CAST(n AS DOUBLE))}})),
                           x -> x.t)),
                   (acc, t) -> acc + t) AS s_fold
        FROM groups
    ),
    stats AS (
        SELECT k_groups, n_total, tie_term,
               12.0 * s_fold
                   / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0))
                   - 3.0 * (CAST(n_total AS DOUBLE) + 1.0) AS h,
               CASE WHEN CAST(tie_term AS DOUBLE)
                        < (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                           * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))
               THEN (12.0 * s_fold
                   / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0))
                   - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))
               / (1.0 - CAST(tie_term AS DOUBLE)
                   / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                      * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)))
               END AS h_tie,
               k_groups - 1 AS df
        FROM kw_tot CROSS JOIN ties
    )
    SELECT event_type, n, rank_sum_x2,
           CAST(rank_sum_x2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)) AS mean_rank,
           k_groups, n_total, tie_term, h, h_tie,
           h_tie > ({_KW_CRIT_CASE.replace("df", "(k_groups - 1)")}) AS significant
    FROM groups CROSS JOIN stats
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Hill tail-index estimator -- "how heavy is the tail?" as a number,
# per event type.  Every skew decision in this repo (salting, AQE skew
# joins, percentile cutoffs) is downstream of tail weight, and none of
# the existing tests measures it: KS/Welch/MWU detect SHIFTS,
# winsorize/MAD CAP tails.  Hill's estimator on the top k order
# statistics,
#
#     1 / alpha = (1/k) * sum_{i<=k} ln( x_(i) / x_(k+1) ),
#
# is the standard Pareto-exponent MLE: alpha <= 2 means infinite
# variance (mean-based monitors are meaningless), alpha large means the
# tail is benign.
#
# Determinism: order statistics of exact cents are unique VALUES at
# every rank regardless of how ties permute (the rank window orders by
# cents alone), each ln rides the DECIMAL(18,9) squash (JVM log vs
# DuckDB ln last-ulp rule), and the k-term sum is then exact decimal --
# order-free.  Degenerate regimes are explicit: a type with fewer than
# 2 positive values, or a top-(k+1) block of identical values (sum 0),
# emits NULL alpha rather than an infinity.
#
# Scale shape: the only raw-stream window is the per-type rank, and the
# rank <= HILL_K + 1 filter rewrites to WindowGroupLimit (map-side
# partial top-k before the shuffle -- the weighted_reservoir_sample
# posture), so at 100 TB each partition ships at most k+1 rows per
# type.  Everything after runs on the bounded (types x (k+1)) table.
# ---------------------------------------------------------------------------

HILL_K = 50  # tail order statistics per type (k+1 rows kept)


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).filter(F.col("cents") > 0)
    n_pos = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pos")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("cents"))
    kept = (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HILL_K + 1)
    )
    stats = kept.groupBy("event_type").agg(
        F.max("rank").cast("int").alias("maxrank"),
        F.min("cents").alias("xkp1_cents"),
    )
    term9 = F.log(
        F.col("cents").cast("double") / F.col("xkp1_cents").cast("double")
    ).cast("decimal(18,9)")
    sums = (
        kept.join(F.broadcast(stats), "event_type")
        .filter(F.col("rank") < F.col("maxrank"))
        .groupBy("event_type")
        .agg(
            F.sum(term9).alias("s9"),
            F.count(F.lit(1)).cast("int").alias("k_used"),
        )
    )
    out = (
        stats.join(F.broadcast(sums), "event_type", "left")
        .join(F.broadcast(n_pos), "event_type")
        .select(
            "event_type",
            "n_pos",
            F.coalesce(F.col("k_used"), F.lit(0)).cast("int").alias("k_used"),
            "xkp1_cents",
            F.when(
                F.col("k_used") >= 1,
                F.col("s9").cast("double") / F.col("k_used").cast("double"),
            ).alias("mean_log_excess"),
            F.when(
                F.col("s9").cast("double") > 0,
                F.col("k_used").cast("double") / F.col("s9").cast("double"),
            ).alias("hill_alpha"),
        )
    )
    return out.orderBy("event_type")


HILL_ORACLE = f"""
    WITH ev AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE CAST(round(value * 100) AS BIGINT) > 0
    ),
    n_pos AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_pos
        FROM ev GROUP BY event_type
    ),
    kept AS (
        SELECT event_type, cents, rank FROM (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents DESC) AS rank
            FROM ev
        ) WHERE rank <= {HILL_K + 1}
    ),
    stats AS (
        SELECT event_type, CAST(max(rank) AS INTEGER) AS maxrank,
               min(cents) AS xkp1_cents
        FROM kept GROUP BY event_type
    ),
    sums AS (
        SELECT k.event_type,
               sum(CAST(ln(CAST(k.cents AS DOUBLE)
                           / CAST(s.xkp1_cents AS DOUBLE))
                        AS DECIMAL(18,9))) AS s9,
               CAST(count(*) AS INTEGER) AS k_used
        FROM kept k JOIN stats s USING (event_type)
        WHERE k.rank < s.maxrank
        GROUP BY k.event_type
    )
    SELECT s.event_type, n_pos,
           CAST(COALESCE(k_used, 0) AS INTEGER) AS k_used,
           xkp1_cents,
           CASE WHEN k_used >= 1
                THEN CAST(s9 AS DOUBLE) / CAST(k_used AS DOUBLE)
                ELSE NULL END AS mean_log_excess,
           CASE WHEN CAST(s9 AS DOUBLE) > 0
                THEN CAST(k_used AS DOUBLE) / CAST(s9 AS DOUBLE)
                ELSE NULL END AS hill_alpha
    FROM stats s
    LEFT JOIN sums USING (event_type)
    JOIN n_pos USING (event_type)
    ORDER BY s.event_type
"""


# ---------------------------------------------------------------------------
# Largest-remainder quota allocation (Hamilton apportionment) -- "give
# me exactly QUOTA_TOTAL sample slots, proportional to source size"
# answered exactly: floor(n_s * K / N) base seats, then the K - sum
# leftover seats go to the largest remainders (tie: source name).  The
# existing samplers can't produce this: sample_stratified is Bernoulli
# (random total), weighted_reservoir_sample is k PER stratum --
# eval-set construction and labeling budgets need a FIXED total with
# the standard no-paradox-free-lunch caveats documented by the method
# name itself.  Pure integer arithmetic end-to-end (n_s * K fits int64
# at any corpus size since K is a pinned constant), so both engines
# agree bit-for-bit; the allocation provably sums to K (pytest-pinned).
#
# Scale shape: one combinable groupBy(source), a broadcast one-row
# total, and a rank window over the BOUNDED per-source table.
# ---------------------------------------------------------------------------

QUOTA_TOTAL = 100


def stratified_quota_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = per.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    base = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_total",
        F.expr(f"(n_docs * {QUOTA_TOTAL}) div n_total").alias("base_alloc"),
        F.expr(f"(n_docs * {QUOTA_TOTAL}) % n_total").alias("remainder_num"),
    )
    leftover = base.agg(
        (F.lit(QUOTA_TOTAL) - F.sum("base_alloc")).cast("int").alias("leftover")
    )
    # rank window over the bounded per-source table
    w = Window.orderBy(F.desc("remainder_num"), F.asc("source"))
    return (
        base.crossJoin(F.broadcast(leftover))
        .withColumn("rk", F.row_number().over(w))
        .select(
            "source",
            "n_docs",
            "n_total",
            "base_alloc",
            "remainder_num",
            (F.col("rk") <= F.col("leftover")).alias("extra_seat"),
            (
                F.col("base_alloc")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            ).alias("alloc"),
        )
        .withColumn(
            "alloc_share",
            F.col("alloc").cast("double") / F.lit(float(QUOTA_TOTAL)),
        )
        .orderBy("source")
    )


QUOTA_ALLOC_ORACLE = f"""
    WITH per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM per),
    base AS (
        SELECT source, n_docs, n_total,
               CAST((n_docs * {QUOTA_TOTAL}) // n_total AS BIGINT)
                   AS base_alloc,
               CAST((n_docs * {QUOTA_TOTAL}) % n_total AS BIGINT)
                   AS remainder_num
        FROM per CROSS JOIN tot
    ),
    leftover AS (
        SELECT CAST({QUOTA_TOTAL} - sum(base_alloc) AS INTEGER) AS leftover
        FROM base
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   ORDER BY remainder_num DESC, source) AS rk
        FROM base CROSS JOIN leftover
    )
    SELECT source, n_docs, n_total, base_alloc, remainder_num,
           rk <= leftover AS extra_seat,
           CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc,
           CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS DOUBLE) / {float(QUOTA_TOTAL)} AS alloc_share
    FROM ranked
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test -- "is the daily series white noise?" in
# one number.  daily_autocorr_lag1 reports a single correlation;
# Ljung-Box pools the whole ACF ladder rho_1..rho_L into
# Q = n (n+2) sum_k rho_k^2 / (n - k), chi-square(L) under the null,
# which is the standard pre-flight check before trusting trend/
# changepoint monitors (CUSUM on an autocorrelated series false-alarms).
#
# Exact-arithmetic form: the standard ACF uses deviations from the
# GLOBAL series mean with the total sum of squares as denominator;
# clearing the rational mean by n,
#     rho_k = sum_t (n x_t - S)(n x_{t-k} - S) / sum_t (n x_t - S)^2,
# makes numerators and the shared denominator exact DECIMAL(38,0)
# integers (the daily_autocorr_lag1 de-float discipline extended to L
# lags).  Each rho is one guarded double division; the cross-lag sum of
# rho^2/(n-k) terms is a FIXED L-term decimal addition chain (each term
# < 1, squashed to DECIMAL(18,15) -- under 2^53 scaled, engine-safe),
# so Q is order-free.  Significance reuses the pinned chi-square
# criticals at df = L.
#
# Scale shape: one combinable daily rollup, one per-type window issuing
# the L lag columns over the calendar-bounded daily table, a broadcast
# per-type scalar join, one combinable rollup, and a bounded explode to
# per-lag rows.
# ---------------------------------------------------------------------------

LJUNG_BOX_LAGS = 7


def ljung_box_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    DEC = "decimal(38,0)"
    L = LJUNG_BOX_LAGS
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.col("x").cast(DEC)).alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        F.col("x"),
        *[F.lag("x", k).over(w).alias(f"a{k}") for k in range(1, L + 1)],
    ).join(F.broadcast(stats), "event_type")
    n = F.col("n_days").cast(DEC)
    dev = n * F.col("x").cast(DEC) - F.col("s")
    per_type = lagged.groupBy("event_type").agg(
        F.max("n_days").alias("n_days"),
        F.sum(dev * dev).alias("den"),
        *[
            F.sum(
                F.when(
                    F.col(f"a{k}").isNotNull(),
                    dev * (n * F.col(f"a{k}").cast(DEC) - F.col("s")),
                ).otherwise(F.lit(0).cast(DEC))
            ).alias(f"num{k}")
            for k in range(1, L + 1)
        ],
    )
    rho = {
        k: F.when(
            F.col("den").cast("double") > 0,
            F.col(f"num{k}").cast("double") / F.col("den").cast("double"),
        )
        for k in range(1, L + 1)
    }
    nd = F.col("n_days").cast("double")
    # n_days == k would make the term 0.0/0.0 (NaN) -- guard it like
    # the den > 0 guard on rho, so the coalesce sees NULL, never NaN.
    # DECIMAL(18,15) precondition (round-12 finding): double->decimal
    # casts are engine-identical only while the value carries < ~14
    # significant decimals at the target scale (Spark routes through
    # shortest-repr BigDecimal; DuckDB converts exactly -- measured
    # 0.56% divergence on ~0.1-magnitude doubles at scale 15).  Here
    # |term| = rho^2/(n-k) <= 1/(n_days-L) ~ 3e-3 on the 300-day
    # calendar, i.e. <= 13 significant decimals at scale 15 -- inside
    # the safe zone.  If the events calendar ever shrinks near L days,
    # switch to the floor(term*1e12+0.5) picogrid (the
    # cluster_silhouette_audit / js_divergence_sources discipline).
    term = {
        k: F.coalesce(
            F.when(
                nd > F.lit(float(k)),
                rho[k] * rho[k] / (nd - F.lit(float(k))),
            ).cast("decimal(18,15)"),
            F.lit(0).cast("decimal(18,15)"),
        )
        for k in range(1, L + 1)
    }
    q_sum = term[1]
    for k in range(2, L + 1):
        q_sum = q_sum + term[k]
    q = nd * (nd + F.lit(2.0)) * q_sum.cast("double")
    crit = CHI2_CRIT_95[L]
    ladder = F.array(
        *[
            F.struct(F.lit(k).cast("int").alias("lag"), rho[k].alias("rho"))
            for k in range(1, L + 1)
        ]
    )
    return (
        per_type.select(
            "event_type",
            "n_days",
            q.alias("q_stat"),
            F.lit(L).cast("int").alias("df"),
            (q > F.lit(crit)).alias("significant"),
            F.explode(ladder).alias("row"),
        )
        .select(
            "event_type",
            F.col("row.lag").alias("lag"),
            "n_days",
            F.col("row.rho").alias("rho"),
            "q_stat",
            "df",
            "significant",
        )
        .orderBy("event_type", "lag")
    )


def _ljung_box_oracle() -> str:
    L = LJUNG_BOX_LAGS
    lag_cols = ",\n               ".join(
        f"lag(x, {k}) OVER (PARTITION BY event_type ORDER BY day) AS a{k}"
        for k in range(1, L + 1)
    )
    num_cols = ",\n               ".join(
        f"sum(CASE WHEN a{k} IS NOT NULL THEN"
        f" (n_days * CAST(x AS HUGEINT) - s)"
        f" * (n_days * CAST(a{k} AS HUGEINT) - s)"
        f" ELSE CAST(0 AS HUGEINT) END) AS num{k}"
        for k in range(1, L + 1)
    )
    rho_sql = {
        k: (
            f"CASE WHEN CAST(den AS DOUBLE) > 0"
            f" THEN CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE)"
            f" ELSE NULL END"
        )
        for k in range(1, L + 1)
    }
    term_sql = " + ".join(
        f"COALESCE(CAST(CASE WHEN CAST(n_days AS DOUBLE) > {float(k)}"
        f" THEN ({rho_sql[k]}) * ({rho_sql[k]})"
        f" / (CAST(n_days AS DOUBLE) - {float(k)}) END AS DECIMAL(18,15)),"
        f" CAST(0 AS DECIMAL(18,15)))"
        for k in range(1, L + 1)
    )
    rows = "\n        UNION ALL\n".join(
        f"        SELECT event_type, {k} AS lag, n_days,"
        f" {rho_sql[k]} AS rho, q_stat, df, significant FROM scored"
        for k in range(1, L + 1)
    )
    return f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, CAST(count(*) AS HUGEINT) AS n_days,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s
        FROM daily GROUP BY event_type
    ),
    lagged AS (
        SELECT daily.event_type, x, n_days, s,
               {lag_cols}
        FROM daily JOIN stats USING (event_type)
    ),
    per_type AS (
        SELECT event_type,
               CAST(max(n_days) AS BIGINT) AS n_days,
               sum((n_days * CAST(x AS HUGEINT) - s)
                   * (n_days * CAST(x AS HUGEINT) - s)) AS den,
               {num_cols}
        FROM lagged
        GROUP BY event_type
    ),
    scored AS (
        SELECT *,
               CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0)
                   * CAST(({term_sql}) AS DOUBLE) AS q_stat,
               {L} AS df,
               CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0)
                   * CAST(({term_sql}) AS DOUBLE)
                   > {CHI2_CRIT_95[L]} AS significant
        FROM per_type
    )
    SELECT event_type, CAST(lag AS INTEGER) AS lag, n_days, rho,
           q_stat, df, significant
    FROM (
{rows}
    )
    ORDER BY event_type, lag
"""


LJUNG_BOX_ORACLE = _ljung_box_oracle()


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (Chamandy et al. 2012, "Estimating
# uncertainty for massive data streams" -- the Google one-pass bootstrap):
# the classic n-out-of-n bootstrap needs B independent resamples (B full
# passes or a shuffled copy per replicate); the Poisson bootstrap observes
# that each row's multiplicity in a resample is ~Binomial(n, 1/n) ->
# Poisson(1), INDEPENDENT per row, so all B replicates ride ONE scan:
# every row carries B deterministic Poisson(1) weights and each replicate
# statistic is a combinable weighted sum.
#
# Determinism: row variates come from ONE md5 per row reduced to the
# 31-bit lane h (the MinHash discipline), expanded to B_BOOT affine
# lanes u_b = (a_b*h + c_b) mod P (int64-safe), and inverted through the
# pinned integer thresholds BOOT_T[k] = floor(cdf_k * P) of the exact
# Poisson(1) CDF -- w_b = #{k: u_b >= T_k}, a pure integer comparison
# chain, identical in both engines.  Replicate means are single IEEE
# divisions of exact integer sums; the CI bounds are order statistics of
# the sorted 64-array; the bootstrap SE is an ordered fold over that
# sorted array (deterministic).  The B-wide expression is built as ONE
# SQL string parsed JVM-side (the kmeans py4j lesson).
#
# Scale: one scan of events, one combinable groupBy(event_type) carrying
# 2*B_BOOT + 3 integer sums; everything after is a per-type single row.
# ---------------------------------------------------------------------------

B_BOOT = 64


def _poisson_cum() -> list[float]:
    import math

    p = math.exp(-1.0)
    cum, acc = [], 0.0
    for k in range(8):
        acc += p
        cum.append(acc)
        p /= k + 1
    return cum


BOOT_T = [int(c * MINHASH_P) for c in _poisson_cum()]
BOOT_AB = [
    (
        ((i + 17) * 2654435761 + 3) % MINHASH_P,
        ((i + 17) * 2654435869 + 29) % MINHASH_P,
    )
    for i in range(B_BOOT)
]
assert all(a != 0 for a, _ in BOOT_AB)


def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (md5_prefix(F.col("event_id").cast("string")) % MINHASH_P).alias("h"),
    )
    # Optimization round 12 (values identical, re-verified vs the
    # unchanged oracle): each lane's weight is ONE ascending CASE chain
    # (first threshold above u wins, expected ~2 comparisons under the
    # uniform u) instead of summing all 8 >= comparisons -- measured 3.3x
    # on this projection -- and the scan is re-spread by the md5 lane h
    # before the heavy 64-lane projection: the single small parquet file
    # otherwise serializes 512 CASE evaluations per row onto one task
    # (guide SS2.5 "one huge unsplittable file -> repartition immediately
    # after the read"; the key is deterministic, the sums combinable).
    w_cols = []
    for i, (a, c) in enumerate(BOOT_AB):
        u = f"(({a} * h + {c}) % {MINHASH_P})"
        branches = " ".join(
            f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(BOOT_T)
        )
        w_cols.append(
            f"CAST(CASE {branches} ELSE {len(BOOT_T)} END AS BIGINT) AS w{i}"
        )
    weighted = base.repartition(
        shuffle_partitions(spark), F.col("h")
    ).selectExpr("event_type", "cents", *w_cols)
    aggs = [
        F.expr("CAST(count(*) AS BIGINT)").alias("n_events"),
        F.expr("CAST(sum(cents) AS BIGINT)").alias("sx"),
    ]
    for i in range(B_BOOT):
        aggs.append(F.expr(f"CAST(sum(w{i} * cents) AS BIGINT)").alias(f"s{i}"))
        aggs.append(F.expr(f"CAST(sum(w{i}) AS BIGINT)").alias(f"n{i}"))
    per_type = weighted.groupBy("event_type").agg(*aggs)
    ms = ", ".join(
        f"CASE WHEN n{i} > 0 THEN CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE)"
        " END"
        for i in range(B_BOOT)
    )
    n_zero = " + ".join(
        f"(CASE WHEN n{i} = 0 THEN 1 ELSE 0 END)" for i in range(B_BOOT)
    )
    return (
        per_type.selectExpr(
            "event_type",
            "n_events",
            "sx",
            f"CAST({n_zero} AS BIGINT) AS n_zero_replicates",
            f"array_sort(array({ms})) AS msorted",
        )
        .selectExpr(
            "event_type",
            "n_events",
            "CAST(sx AS DOUBLE) / CAST(n_events AS DOUBLE) AS mean_cents",
            "n_zero_replicates",
            "CASE WHEN n_zero_replicates = 0 THEN element_at(msorted, 4)"
            " END AS boot_lo_cents",
            "CASE WHEN n_zero_replicates = 0 THEN element_at(msorted, 61)"
            " END AS boot_hi_cents",
            "CASE WHEN n_zero_replicates = 0 THEN"
            " aggregate(msorted, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            " END AS bsum",
            "CASE WHEN n_zero_replicates = 0 THEN"
            " aggregate(msorted, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)"
            " END AS bsumsq",
        )
        .selectExpr(
            "event_type",
            "n_events",
            "mean_cents",
            "n_zero_replicates",
            "boot_lo_cents",
            "boot_hi_cents",
            f"CASE WHEN n_zero_replicates = 0 THEN"
            f" sqrt((bsumsq - bsum * bsum / {float(B_BOOT)!r})"
            f" / {float(B_BOOT - 1)!r}) END AS boot_se_cents",
        )
        .orderBy("event_type")
    )


def _poisson_bootstrap_oracle() -> str:
    h = (
        "(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT"
        f" % {MINHASH_P})"
    )
    w_cols = []
    for i, (a, c) in enumerate(BOOT_AB):
        u = f"(({a} * h + {c}) % {MINHASH_P})"
        w = " + ".join(
            f"(CASE WHEN {u} >= {t} THEN 1 ELSE 0 END)" for t in BOOT_T
        )
        w_cols.append(f"CAST({w} AS BIGINT) AS w{i}")
    s_aggs = ",\n               ".join(
        f"CAST(sum(w{i} * cents) AS BIGINT) AS s{i},"
        f" CAST(sum(w{i}) AS BIGINT) AS n{i}"
        for i in range(B_BOOT)
    )
    ms = ", ".join(
        f"CASE WHEN n{i} > 0 THEN CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE)"
        " END"
        for i in range(B_BOOT)
    )
    n_zero = " + ".join(
        f"(CASE WHEN n{i} = 0 THEN 1 ELSE 0 END)" for i in range(B_BOOT)
    )
    return f"""
    WITH base AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               {h} AS h
        FROM events
    ),
    weighted AS (
        SELECT event_type, cents, {', '.join(w_cols)}
        FROM base
    ),
    per_type AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(cents) AS BIGINT) AS sx,
               {s_aggs}
        FROM weighted GROUP BY event_type
    ),
    arr AS (
        SELECT event_type, n_events, sx,
               CAST({n_zero} AS BIGINT) AS n_zero_replicates,
               list_sort([{ms}]) AS msorted
        FROM per_type
    ),
    folded AS (
        SELECT event_type, n_events,
               CAST(sx AS DOUBLE) / CAST(n_events AS DOUBLE) AS mean_cents,
               n_zero_replicates,
               CASE WHEN n_zero_replicates = 0 THEN msorted[4]
               END AS boot_lo_cents,
               CASE WHEN n_zero_replicates = 0 THEN msorted[61]
               END AS boot_hi_cents,
               CASE WHEN n_zero_replicates = 0 THEN
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE), msorted),
                               (acc, x) -> acc + x)
               END AS bsum,
               CASE WHEN n_zero_replicates = 0 THEN
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE), msorted),
                               (acc, x) -> acc + x * x)
               END AS bsumsq
        FROM arr
    )
    SELECT event_type, n_events, mean_cents, n_zero_replicates,
           boot_lo_cents, boot_hi_cents,
           CASE WHEN n_zero_replicates = 0 THEN
               sqrt((bsumsq - bsum * bsum / {float(B_BOOT)!r})
                    / {float(B_BOOT - 1)!r})
           END AS boot_se_cents
    FROM folded
    ORDER BY event_type
"""


POISSON_BOOTSTRAP_ORACLE = _poisson_bootstrap_oracle()


# ---------------------------------------------------------------------------
# Permutation test for a level shift between calendar halves -- the
# NONPARAMETRIC companion to welch_t_test (which assumes near-normal
# sampling distributions): is the mean daily total of the later half of
# the calendar different from the earlier half, judged against the
# permutation null instead of a t reference?
#
# The B_PERM pseudo-permutations are deterministic md5 re-labelings:
# permutation b ranks the days by md5(type:day:b) and assigns the first
# n_a ranks to group A -- a uniformly pseudo-random equal-size
# relabeling identical in both engines.  Every statistic |mean_B -
# mean_A| is a fixed chain of single IEEE divisions of exact integer
# day sums, so the >= comparison against the observed statistic is
# bit-deterministic; p = (1 + #{b: stat_b >= obs}) / (B_PERM + 1), the
# add-one permutation p-value (Phipson & Smyth 2010).
#
# Scale: one combinable daily groupBy over events; the permutation grid
# is CALENDAR x B_PERM rows (bounded by the calendar, never by events);
# ranking windows partition by (type, b) over <= |days| rows.
# ---------------------------------------------------------------------------

B_PERM = 64
PERM_ALPHA = 0.05


def permutation_test_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    w_day = Window.partitionBy("event_type").orderBy("day")
    counts = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    ranked = daily.withColumn(
        "rk", F.row_number().over(w_day).cast("bigint")
    ).join(F.broadcast(counts), "event_type")
    na = F.expr("n_days div 2")
    obs_grp = ranked.select(
        "event_type",
        "n_days",
        F.when(F.col("rk") <= na, F.lit(0)).otherwise(F.lit(1)).alias("grp"),
        "x",
    ).groupBy("event_type", "n_days").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("x"))).cast("bigint").alias("sa"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("x"))).cast("bigint").alias("sb"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    diff = F.abs(
        F.col("sb").cast("double") / F.col("n_b").cast("double")
        - F.col("sa").cast("double") / F.col("n_a").cast("double")
    )
    obs = obs_grp.select(
        "event_type",
        "n_days",
        "n_a",
        "n_b",
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), diff).alias(
            "obs_diff_cents"
        ),
    )
    grid = daily.select(
        "event_type",
        "day",
        "x",
        F.explode(F.sequence(F.lit(1), F.lit(B_PERM))).alias("b"),
    )
    key = F.md5(
        F.concat_ws(
            ":",
            F.col("event_type"),
            F.col("day").cast("string"),
            F.col("b").cast("string"),
        )
    )
    w_perm = Window.partitionBy("event_type", "b").orderBy(key, "day")
    perm_grp = (
        grid.withColumn("prk", F.row_number().over(w_perm).cast("bigint"))
        .join(F.broadcast(counts), "event_type")
        .select(
            "event_type",
            "b",
            F.when(F.col("prk") <= na, F.lit(0)).otherwise(F.lit(1)).alias(
                "grp"
            ),
            "x",
        )
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.when(F.col("grp") == 0, F.col("x")))
            .cast("bigint")
            .alias("sa"),
            F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("grp") == 1, F.col("x")))
            .cast("bigint")
            .alias("sb"),
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
        )
    )
    stats = perm_grp.select(
        "event_type",
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), diff).alias("stat"),
    )
    ge = (
        stats.join(
            F.broadcast(obs.select("event_type", "obs_diff_cents")),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("stat") >= F.col("obs_diff_cents"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_perm_ge")
        )
    )
    p = (F.col("n_perm_ge") + 1).cast("double") / F.lit(float(B_PERM + 1))
    return (
        obs.join(ge, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            "n_a",
            "n_b",
            "obs_diff_cents",
            F.when(F.col("obs_diff_cents").isNotNull(), F.col("n_perm_ge"))
            .alias("n_perm_ge"),
            F.when(F.col("obs_diff_cents").isNotNull(), p).alias("p_value"),
            F.when(
                F.col("obs_diff_cents").isNotNull(), p <= F.lit(PERM_ALPHA)
            ).alias("significant"),
        )
        .orderBy("event_type")
    )


PERMUTATION_TEST_ORACLE = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    counts AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        FROM daily GROUP BY 1
    ),
    ranked AS (
        SELECT d.event_type, c.n_days, d.x,
               CAST(row_number() OVER (PARTITION BY d.event_type
                                       ORDER BY d.day) AS BIGINT) AS rk
        FROM daily d JOIN counts c USING (event_type)
    ),
    obs AS (
        SELECT event_type, n_days,
               CAST(sum(CASE WHEN rk <= n_days // 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN rk > n_days // 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN rk <= n_days // 2 THEN x END)
                    AS BIGINT) AS sa,
               CAST(sum(CASE WHEN rk > n_days // 2 THEN x END)
                    AS BIGINT) AS sb
        FROM ranked GROUP BY 1, 2
    ),
    obs2 AS (
        SELECT event_type, n_days, n_a, n_b,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                   abs(CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)
                       - CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
               END AS obs_diff_cents
        FROM obs
    ),
    grid AS (
        SELECT d.event_type, d.day, d.x, g.b, c.n_days,
               CAST(row_number() OVER (
                   PARTITION BY d.event_type, g.b
                   ORDER BY md5(d.event_type || ':'
                                || CAST(d.day AS VARCHAR) || ':'
                                || CAST(g.b AS VARCHAR)), d.day
               ) AS BIGINT) AS prk
        FROM daily d
        JOIN counts c USING (event_type),
             unnest(range(1, {B_PERM + 1})) g(b)
    ),
    perm AS (
        SELECT event_type, b,
               CAST(sum(CASE WHEN prk <= n_days // 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN prk > n_days // 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN prk <= n_days // 2 THEN x END)
                    AS BIGINT) AS sa,
               CAST(sum(CASE WHEN prk > n_days // 2 THEN x END)
                    AS BIGINT) AS sb
        FROM grid GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                   abs(CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)
                       - CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
               END AS stat
        FROM perm
    ),
    ge AS (
        SELECT s.event_type,
               CAST(sum(CASE WHEN s.stat >= o.obs_diff_cents
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_perm_ge
        FROM stats s JOIN obs2 o USING (event_type)
        GROUP BY 1
    )
    SELECT o.event_type, o.n_days, o.n_a, o.n_b, o.obs_diff_cents,
           CASE WHEN o.obs_diff_cents IS NOT NULL THEN g.n_perm_ge
           END AS n_perm_ge,
           CASE WHEN o.obs_diff_cents IS NOT NULL THEN
               CAST(g.n_perm_ge + 1 AS DOUBLE) / {float(B_PERM + 1)!r}
           END AS p_value,
           CASE WHEN o.obs_diff_cents IS NOT NULL THEN
               CAST(g.n_perm_ge + 1 AS DOUBLE) / {float(B_PERM + 1)!r}
               <= {PERM_ALPHA!r}
           END AS significant
    FROM obs2 o LEFT JOIN ge g USING (event_type)
    ORDER BY o.event_type
"""


# ---------------------------------------------------------------------------
# Rank correlations between event-type daily series -- the robust
# companions to event_type_daily_corr's Pearson r (which a single
# outlier day can dominate):
#
# spearman_daily_corr: Pearson over MIDRANKS.  Ranks ride the doubled
# integer lattice m2 = 2*min_rank + n_ties - 1 (twice the midrank --
# an exact integer, the kruskal/mann-whitney midrank discipline), so
# the sufficient statistics are exact DECIMAL(38,0) sums and rho is
# one fixed IEEE chain at the end.
#
# kendall_tau_daily: tau-b from exact concordant/discordant/tie pair
# counts.  The day-pair self-join is keyed on the type pair with
# per-key fan-out |days|^2 -- CALENDAR-bounded, never event-bounded
# (the audience_overlap posture); every count is an integer sum.
#
# Both rank/pair stages run over the per-(type-pair) common-day table:
# windows partition by (type_a, type_b[, value]), never partitionless.
# ---------------------------------------------------------------------------


def _daily_pair_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(type_a, type_b, day, xa, xb) over common days -- the shared
    input of the rank-correlation pair (event_type_daily_corr's join)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    a = daily.select(
        F.col("event_type").alias("type_a"), "day", F.col("x").alias("xa")
    )
    b = daily.select(
        F.col("event_type").alias("type_b"), "day", F.col("x").alias("xb")
    )
    return a.join(b, "day").where(F.col("type_a") < F.col("type_b"))


_DAILY_PAIR_SQL = """
    daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    joined AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.day AS day, a.x AS xa, b.x AS xb
        FROM daily a JOIN daily b
          ON a.day = b.day AND a.event_type < b.event_type
    )
"""


def spearman_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _daily_pair_table(spark, sf_dir)
    w_ra = Window.partitionBy("type_a", "type_b").orderBy("xa")
    w_rb = Window.partitionBy("type_a", "type_b").orderBy("xb")
    w_ta = Window.partitionBy("type_a", "type_b", "xa")
    w_tb = Window.partitionBy("type_a", "type_b", "xb")
    m2 = joined.select(
        "type_a",
        "type_b",
        (
            2 * F.rank().over(w_ra).cast("bigint")
            + F.count(F.lit(1)).over(w_ta).cast("bigint")
            - 1
        ).alias("ma"),
        (
            2 * F.rank().over(w_rb).cast("bigint")
            + F.count(F.lit(1)).over(w_tb).cast("bigint")
            - 1
        ).alias("mb"),
    )
    DEC = "decimal(38,0)"
    d = lambda c: F.col(c).cast(DEC)  # noqa: E731
    agg = m2.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(d("ma")).alias("sa"),
        F.sum(d("mb")).alias("sb"),
        F.sum(d("ma") * d("mb")).alias("sab"),
        F.sum(d("ma") * d("ma")).alias("saa"),
        F.sum(d("mb") * d("mb")).alias("sbb"),
    )
    n = F.col("n_days").cast(DEC)
    num = (n * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    fa = (n * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    fb = (n * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    rho = num / (F.sqrt(fa) * F.sqrt(fb))
    return agg.select(
        "type_a",
        "type_b",
        "n_days",
        F.when((fa > 0) & (fb > 0), rho).alias("rho"),
    ).orderBy("type_a", "type_b")


SPEARMAN_ORACLE = f"""
    WITH {_DAILY_PAIR_SQL.strip()},
    m2 AS (
        SELECT type_a, type_b,
               CAST(2 * rank() OVER (PARTITION BY type_a, type_b
                                     ORDER BY xa)
                    + count(*) OVER (PARTITION BY type_a, type_b, xa)
                    - 1 AS BIGINT) AS ma,
               CAST(2 * rank() OVER (PARTITION BY type_a, type_b
                                     ORDER BY xb)
                    + count(*) OVER (PARTITION BY type_a, type_b, xb)
                    - 1 AS BIGINT) AS mb
        FROM joined
    ),
    agg AS (
        SELECT type_a, type_b,
               CAST(count(*) AS BIGINT) AS n_days,
               sum(CAST(ma AS DECIMAL(38,0))) AS sa,
               sum(CAST(mb AS DECIMAL(38,0))) AS sb,
               sum(CAST(ma AS DECIMAL(38,0)) * CAST(mb AS DECIMAL(38,0)))
                   AS sab,
               sum(CAST(ma AS DECIMAL(38,0)) * CAST(ma AS DECIMAL(38,0)))
                   AS saa,
               sum(CAST(mb AS DECIMAL(38,0)) * CAST(mb AS DECIMAL(38,0)))
                   AS sbb
        FROM m2 GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_days,
           CASE WHEN CAST(CAST(n_days AS DECIMAL(38,0)) * saa - sa * sa
                          AS DOUBLE) > 0
                 AND CAST(CAST(n_days AS DECIMAL(38,0)) * sbb - sb * sb
                          AS DOUBLE) > 0
                THEN CAST(CAST(n_days AS DECIMAL(38,0)) * sab - sa * sb
                          AS DOUBLE)
                     / (sqrt(CAST(CAST(n_days AS DECIMAL(38,0)) * saa
                                  - sa * sa AS DOUBLE))
                        * sqrt(CAST(CAST(n_days AS DECIMAL(38,0)) * sbb
                                    - sb * sb AS DOUBLE)))
           END AS rho
    FROM agg
    ORDER BY type_a, type_b
"""


def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _daily_pair_table(spark, sf_dir)
    j1 = joined.alias("k1")
    j2 = joined.alias("k2")
    pairs = j1.join(
        j2,
        (F.col("k1.type_a") == F.col("k2.type_a"))
        & (F.col("k1.type_b") == F.col("k2.type_b"))
        & (F.col("k1.day") < F.col("k2.day")),
    ).select(
        F.col("k1.type_a").alias("type_a"),
        F.col("k1.type_b").alias("type_b"),
        F.signum((F.col("k2.xa") - F.col("k1.xa")).cast("double"))
        .cast("bigint")
        .alias("sx"),
        F.signum((F.col("k2.xb") - F.col("k1.xb")).cast("double"))
        .cast("bigint")
        .alias("sy"),
    )
    agg = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("sx") * F.col("sy") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_concordant"),
        F.sum(F.when(F.col("sx") * F.col("sy") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_discordant"),
        F.sum(F.when(F.col("sx") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_tie_x"),
        F.sum(F.when(F.col("sy") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_tie_y"),
    )
    fx = (F.col("n_pairs") - F.col("n_tie_x")).cast("double")
    fy = (F.col("n_pairs") - F.col("n_tie_y")).cast("double")
    tau = (F.col("n_concordant") - F.col("n_discordant")).cast("double") / (
        F.sqrt(fx) * F.sqrt(fy)
    )
    return agg.select(
        "type_a",
        "type_b",
        "n_pairs",
        "n_concordant",
        "n_discordant",
        F.when((fx > 0) & (fy > 0), tau).alias("tau_b"),
    ).orderBy("type_a", "type_b")


KENDALL_ORACLE = f"""
    WITH {_DAILY_PAIR_SQL.strip()},
    pairs AS (
        SELECT k1.type_a, k1.type_b,
               CAST(sign(CAST(k2.xa - k1.xa AS DOUBLE)) AS BIGINT) AS sx,
               CAST(sign(CAST(k2.xb - k1.xb AS DOUBLE)) AS BIGINT) AS sy
        FROM joined k1 JOIN joined k2
          ON k1.type_a = k2.type_a AND k1.type_b = k2.type_b
         AND k1.day < k2.day
    ),
    agg AS (
        SELECT type_a, type_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_concordant,
               CAST(sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_discordant,
               CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_tie_x,
               CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_tie_y
        FROM pairs GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_pairs, n_concordant, n_discordant,
           CASE WHEN CAST(n_pairs - n_tie_x AS DOUBLE) > 0
                 AND CAST(n_pairs - n_tie_y AS DOUBLE) > 0
                THEN CAST(n_concordant - n_discordant AS DOUBLE)
                     / (sqrt(CAST(n_pairs - n_tie_x AS DOUBLE))
                        * sqrt(CAST(n_pairs - n_tie_y AS DOUBLE)))
           END AS tau_b
    FROM agg
    ORDER BY type_a, type_b
"""


# ---------------------------------------------------------------------------
# kmv_distinct_profile: KMV (k-minimum-values) distinct-count sketch
# audit (Bar-Yossef et al. 2002; Beyer et al. 2007 unbiased (K-1)/u_(K)
# estimator).  The mergeable sketch behind "how many distinct users per
# type" at 100 TB is "keep the K smallest hash values per group": each
# executor keeps a local bottom-K (WindowGroupLimit pushes the rank
# filter map-side), merge is a K-way min-merge, and the estimate is one
# IEEE chain (K-1) * 2^60 / h_(K) at the end.  Hashes are the portable
# 60-bit md5 prefix, so sketch membership -- not just the estimate --
# replicates exactly in the oracle.  rank() (not row_number) keeps the
# boundary deterministic under hash ties; below capacity (n_distinct
# <= K) the sketch IS the exact set and the estimate is declared exact
# (the distinct_users_sketch_profile discipline).  The exact-NDV column
# is the audit anchor: it pays the same distinct shuffle the sketch
# path prunes at scale.
# ---------------------------------------------------------------------------

KMV_K = 64
_HEX60_MAX = float(1 << 60)


def kmv_distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pairs = (
        ev.select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            md5_prefix(F.col("user_id").cast("string")).alias("h"),
        )
    )
    exact = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    kept = (
        pairs.withColumn("rk", F.rank().over(w))
        .where(F.col("rk") <= KMV_K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.max("h").cast("bigint").alias("h_kth"),
        )
    )
    est = F.when(
        F.col("n_exact") <= F.lit(KMV_K), F.col("n_exact").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1))
        * F.lit(_HEX60_MAX)
        / F.col("h_kth").cast("double")
    )
    return (
        exact.join(kept, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_kept",
            est.alias("kmv_estimate"),
            (
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double")
            ).alias("abs_rel_error"),
        )
        .orderBy("event_type")
    )


KMV_ORACLE = f"""
    WITH pairs AS (
        SELECT event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM (SELECT DISTINCT event_type, user_id FROM events)
    ),
    exact AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
        FROM pairs GROUP BY 1
    ),
    ranked AS (
        SELECT event_type, h,
               rank() OVER (PARTITION BY event_type ORDER BY h) AS rk
        FROM pairs
    ),
    kept AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_kept,
               CAST(max(h) AS BIGINT) AS h_kth
        FROM ranked WHERE rk <= {KMV_K} GROUP BY 1
    )
    SELECT e.event_type, e.n_exact, k.n_kept,
           CASE WHEN e.n_exact <= {KMV_K} THEN CAST(e.n_exact AS DOUBLE)
                ELSE {float(KMV_K - 1)!r} * {_HEX60_MAX!r}
                     / CAST(k.h_kth AS DOUBLE)
           END AS kmv_estimate,
           abs(CASE WHEN e.n_exact <= {KMV_K} THEN CAST(e.n_exact AS DOUBLE)
                    ELSE {float(KMV_K - 1)!r} * {_HEX60_MAX!r}
                         / CAST(k.h_kth AS DOUBLE)
               END - CAST(e.n_exact AS DOUBLE))
               / CAST(e.n_exact AS DOUBLE) AS abs_rel_error
    FROM exact e JOIN kept k USING (event_type)
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# dedup_bloom_admission_audit: Bloom-filter admission audit (Bloom
# 1970) for the DEDUP INGEST gate "have we seen this content hash
# before?" -- the content-hash sibling of join_strategies.
# bloom_filter_fpr_audit (which audits the ORDER-KEY join-pruning
# filter with synthetic offset probes; here both halves come from the
# REAL content-hash distribution).  This query measures the filter
# the dedup pipeline would ship: build an m=2^16-bit / k=4 filter over HALF the distinct
# content hashes (md5-last-nibble split -- member and probe sets are
# disjoint BY CONSTRUCTION on the distinct-hash table), then probe with
# the other half, all of which are true negatives, so every full-k hit
# is a false positive.  Bit positions are four disjoint 16-bit md5
# slices (re-hashed with the lane index), the occupied-bit set is <= m
# rows (auto-broadcast on the probe join), and predicted FPR =
# fill^k is the standard approximation emitted beside the measured
# rate.  Everything up to the two final divisions is exact integers.
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 65536  # 2^16: one 4-nibble md5 slice IS a bit position
BLOOM_K = 4


def dedup_bloom_admission_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hashes = (
        docs.select(F.md5("text").alias("ch"))
        .distinct()
        .withColumn(
            "is_member",
            F.expr("substring(ch, 32, 1) IN ('0','1','2','3','4','5','6','7')"),
        )
    )
    pos_exprs = [
        f"CAST(conv(substring(md5(concat(ch, '|', '{j}')), {1 + 4 * j}, 4),"
        f" 16, 10) AS BIGINT) AS p{j}"
        for j in range(BLOOM_K)
    ]
    with_pos = hashes.selectExpr("ch", "is_member", *pos_exprs)
    stacked = with_pos.selectExpr(
        "ch",
        "is_member",
        "stack({}, {}) AS pos".format(
            BLOOM_K, ", ".join(f"p{j}" for j in range(BLOOM_K))
        ),
    )
    occupied = (
        stacked.where("is_member").select("pos").distinct()
    )
    counts = hashes.groupBy("is_member").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    n_members = counts.where("is_member").select(F.col("n").alias("n_members"))
    n_probes = counts.where("NOT is_member").select(F.col("n").alias("n_probes"))
    n_bits = occupied.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bits_set")
    )
    probe_hits = (
        stacked.where("NOT is_member")
        .join(occupied, "pos")
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .where(F.col("n_hit") == BLOOM_K)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_false_pos"))
    )
    fill = F.col("n_bits_set").cast("double") / F.lit(float(BLOOM_M_BITS))
    return (
        n_members.crossJoin(n_probes)
        .crossJoin(n_bits)
        .crossJoin(probe_hits)
        .select(
            "n_members",
            "n_probes",
            F.lit(BLOOM_M_BITS).cast("bigint").alias("m_bits"),
            F.lit(BLOOM_K).cast("bigint").alias("k_hashes"),
            "n_bits_set",
            fill.alias("fill_fraction"),
            F.pow(fill, F.lit(float(BLOOM_K))).alias("predicted_fpr"),
            "n_false_pos",
            (
                F.col("n_false_pos").cast("double")
                / F.col("n_probes").cast("double")
            ).alias("measured_fpr"),
        )
    )


def _bloom_pos_sql(j: int) -> str:
    return (
        f"('0x' || substr(md5(ch || '|' || '{j}'), {1 + 4 * j}, 4))::BIGINT"
    )


BLOOM_FPR_ORACLE = f"""
    WITH hashes AS (
        SELECT ch,
               substr(ch, 32, 1) IN ('0','1','2','3','4','5','6','7')
                   AS is_member
        FROM (SELECT DISTINCT md5(text) AS ch FROM documents)
    ),
    stacked AS (
        SELECT ch, is_member, pos
        FROM hashes, UNNEST([{', '.join(_bloom_pos_sql(j) for j in range(BLOOM_K))}]) AS t(pos)
    ),
    occupied AS (
        SELECT DISTINCT pos FROM stacked WHERE is_member
    ),
    n_members AS (
        SELECT CAST(count(*) AS BIGINT) AS n_members FROM hashes
        WHERE is_member
    ),
    n_probes AS (
        SELECT CAST(count(*) AS BIGINT) AS n_probes FROM hashes
        WHERE NOT is_member
    ),
    n_bits AS (
        SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM occupied
    ),
    fp AS (
        SELECT CAST(count(*) AS BIGINT) AS n_false_pos
        FROM (
            SELECT s.ch
            FROM stacked s JOIN occupied o USING (pos)
            WHERE NOT s.is_member
            GROUP BY s.ch
            HAVING count(*) = {BLOOM_K}
        )
    )
    SELECT n_members, n_probes,
           CAST({BLOOM_M_BITS} AS BIGINT) AS m_bits,
           CAST({BLOOM_K} AS BIGINT) AS k_hashes,
           n_bits_set,
           CAST(n_bits_set AS DOUBLE) / {float(BLOOM_M_BITS)!r}
               AS fill_fraction,
           pow(CAST(n_bits_set AS DOUBLE) / {float(BLOOM_M_BITS)!r},
               {float(BLOOM_K)!r}) AS predicted_fpr,
           n_false_pos,
           CAST(n_false_pos AS DOUBLE) / CAST(n_probes AS DOUBLE)
               AS measured_fpr
    FROM n_members, n_probes, n_bits, fp
"""


# ---------------------------------------------------------------------------
# pettitt_changepoint_test: nonparametric changepoint LOCALIZATION
# (Pettitt 1979) -- the rank-based companion to cusum_changepoint's
# mean-shift peak: K = max_t |U_t| with U_t = sum_{i<=t, j>t}
# sgn(x_i - x_j), robust to the heavy-tailed daily totals CUSUM's
# level sums are dominated by.  Computed via the O(n^2) identity
# U_t = U_{t-1} + V_t, V_t = sum_j sgn(x_t - x_j): one
# calendar-bounded day-pair self-join per type (the mann_kendall
# posture -- |days|^2 pairs, never event-bounded), one partitioned
# cumulative window, exact integers throughout.  The approximate
# significance p ~ 2 exp(-6K^2 / (n^3 + n^2)) is one IEEE chain
# emitted through round(.,9) (JVM-vs-libm exp last-ulp rule); all the
# double inputs (K^2 <= n^4/16, n^3) are exactly representable far
# below 2^53 for any calendar span.  One-day series emit the honest
# degenerate row (NULL statistic) via the mann_kendall left-join
# discipline.
# ---------------------------------------------------------------------------


def pettitt_changepoint_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    a = daily.select("event_type", "day", F.col("x").alias("xa"))
    b = daily.select("event_type", F.col("day").alias("day_b"), F.col("x").alias("xb"))
    v = (
        a.join(b, "event_type")
        .groupBy("event_type", "day")
        .agg(
            F.sum(
                F.when(F.col("xa") > F.col("xb"), 1)
                .when(F.col("xa") < F.col("xb"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("v")
        )
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("day").alias("max_day"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = v.withColumn("u", F.sum("v").over(wcum))
    k = (
        u.join(stats, "event_type")
        .where(F.col("day") < F.col("max_day"))
        .groupBy("event_type")
        .agg(
            F.max(F.abs(F.col("u"))).cast("bigint").alias("k_stat"),
            F.min(
                F.struct(
                    (-F.abs(F.col("u"))).alias("neg"),
                    F.col("day").alias("d"),
                )
            )["d"].alias("change_day"),
        )
    )
    nD = F.col("n_days").cast("double")
    p = F.round(
        F.lit(2.0)
        * F.exp(
            F.lit(-6.0)
            * F.col("k_stat").cast("double")
            * F.col("k_stat").cast("double")
            / (nD * nD * nD + nD * nD)
        ),
        9,
    )
    return (
        stats.join(k, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            "k_stat",
            "change_day",
            F.when(F.col("k_stat").isNotNull(), p).alias("p_approx"),
            F.when(F.col("k_stat").isNotNull(), p < 0.05).alias("significant"),
        )
        .orderBy("event_type")
    )


PETTITT_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    v AS (
        SELECT a.event_type, a.day,
               CAST(sum(CASE WHEN a.x > b.x THEN 1
                             WHEN a.x < b.x THEN -1 ELSE 0 END) AS BIGINT)
                   AS v
        FROM daily a JOIN daily b ON a.event_type = b.event_type
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               max(day) AS max_day
        FROM daily GROUP BY 1
    ),
    u AS (
        SELECT event_type, day,
               CAST(sum(v) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS u
        FROM v
    ),
    ranked AS (
        SELECT u.event_type, u.u, u.day,
               row_number() OVER (
                   PARTITION BY u.event_type
                   ORDER BY abs(u.u) DESC, u.day ASC
               ) AS rn
        FROM u JOIN stats s ON u.event_type = s.event_type
        WHERE u.day < s.max_day
    ),
    k AS (
        SELECT event_type, CAST(abs(u) AS BIGINT) AS k_stat,
               day AS change_day
        FROM ranked WHERE rn = 1
    )
    SELECT s.event_type, s.n_days, k.k_stat, k.change_day,
           CASE WHEN k.k_stat IS NOT NULL THEN
               round(2.0 * exp(-6.0 * CAST(k.k_stat AS DOUBLE)
                               * CAST(k.k_stat AS DOUBLE)
                               / (CAST(s.n_days AS DOUBLE)
                                  * CAST(s.n_days AS DOUBLE)
                                  * CAST(s.n_days AS DOUBLE)
                                  + CAST(s.n_days AS DOUBLE)
                                    * CAST(s.n_days AS DOUBLE))), 9)
           END AS p_approx,
           CASE WHEN k.k_stat IS NOT NULL THEN
               round(2.0 * exp(-6.0 * CAST(k.k_stat AS DOUBLE)
                               * CAST(k.k_stat AS DOUBLE)
                               / (CAST(s.n_days AS DOUBLE)
                                  * CAST(s.n_days AS DOUBLE)
                                  * CAST(s.n_days AS DOUBLE)
                                  + CAST(s.n_days AS DOUBLE)
                                    * CAST(s.n_days AS DOUBLE))), 9) < 0.05
           END AS significant
    FROM stats s LEFT JOIN k USING (event_type)
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# sprt_conversion_monitor: Wald's sequential probability ratio test
# (Wald 1945) on the daily purchase-conversion rate -- the sequential
# A/B decision procedure beside the fixed-horizon tests (welch/
# mann-whitney): after each day, accumulate the log-likelihood ratio
# of H1: p = SPRT_P1 against H0: p = SPRT_P0 over that day's
# (purchases x, trials n) binomial increment
#
#     llr += x ln(p1/p0) + (n - x) ln((1-p1)/(1-p0))
#
# and stop the first day llr exits (B, A), A = ln((1-beta)/alpha),
# B = ln(beta/(1-alpha)).  NO engine ln() runs at query time: all four
# log constants are PINNED DECIMAL(18,9) literals computed once at
# import (the rbo_rank_overlap literal discipline), so the cumulative
# llr is an exact decimal sum and the crossing day is an exact decimal
# comparison -- bit-deterministic in both engines.  Post-crossing days
# keep reporting the frozen decision (a monitor keeps emitting).
#
# Scale shape: one combinable daily aggregate, a calendar-bounded
# cumulative window, two scalar crossing-day aggregates broadcast
# back.  The streaming twin is trivially order-free (the increment map
# is commutative per day) -- batch form declared here.
# ---------------------------------------------------------------------------

SPRT_P0 = 0.18
SPRT_P1 = 0.22
SPRT_ALPHA = 0.05
SPRT_BETA = 0.05


def _dec9(x: float) -> str:
    from decimal import ROUND_HALF_UP, Decimal

    return str(
        Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
    )


import math as _math  # noqa: E402  (module-level pinned-literal helper)

# 9-decimal pins (not 15): scale-9 decimals survive BOTH engines'
# decimal->double emission exactly (mantissa below 2^53), and no
# rescale -- whose half-rule differs between the engines (measured:
# Spark HALF_UP vs DuckDB truncation on negative scale-15 sums) --
# ever runs.
SPRT_L1 = _dec9(_math.log(SPRT_P1 / SPRT_P0))
SPRT_L2 = _dec9(_math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0)))
SPRT_A = _dec9(_math.log((1.0 - SPRT_BETA) / SPRT_ALPHA))
SPRT_B = _dec9(_math.log(SPRT_BETA / (1.0 - SPRT_ALPHA)))


def sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
    )
    inc = (
        F.col("n_purchases").cast("decimal(18,0)")
        * F.lit(SPRT_L1).cast("decimal(18,9)")
        + (F.col("n_events") - F.col("n_purchases")).cast("decimal(18,0)")
        * F.lit(SPRT_L2).cast("decimal(18,9)")
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    # calendar-bounded cumulative window (the kaplan_meier posture)
    cum = daily.withColumn("llr15", F.sum(inc).over(wcum))
    a15 = F.lit(SPRT_A).cast("decimal(18,9)")
    b15 = F.lit(SPRT_B).cast("decimal(18,9)")
    stops = cum.agg(
        F.min(F.when(F.col("llr15") >= a15, F.col("day"))).alias("h1_day"),
        F.min(F.when(F.col("llr15") <= b15, F.col("day"))).alias("h0_day"),
    )
    decided_h1 = F.col("h1_day").isNotNull() & (
        F.col("h0_day").isNull() | (F.col("h1_day") <= F.col("h0_day"))
    )
    stop_day = F.when(decided_h1, F.col("h1_day")).otherwise(F.col("h0_day"))
    return (
        cum.crossJoin(F.broadcast(stops))
        .select(
            "day",
            "n_events",
            "n_purchases",
            F.col("llr15").cast("double").alias("llr"),
            F.when(
                stop_day.isNull() | (F.col("day") < stop_day), "continue"
            )
            .when(decided_h1, "accept_h1")
            .otherwise("accept_h0")
            .alias("state"),
        )
        .orderBy("day")
    )


SPRT_ORACLE = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT day, n_events, n_purchases,
               sum(CAST(n_purchases AS DECIMAL(18,0))
                       * CAST({SPRT_L1} AS DECIMAL(18,9))
                   + CAST(n_events - n_purchases AS DECIMAL(18,0))
                       * CAST({SPRT_L2} AS DECIMAL(18,9))) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS llr15
        FROM daily
    ),
    stops AS (
        SELECT min(CASE WHEN llr15 >= CAST({SPRT_A} AS DECIMAL(18,9))
                        THEN day END) AS h1_day,
               min(CASE WHEN llr15 <= CAST({SPRT_B} AS DECIMAL(18,9))
                        THEN day END) AS h0_day
        FROM cum
    )
    SELECT day, n_events, n_purchases,
           CAST(llr15 AS DOUBLE) AS llr,
           CASE WHEN (CASE WHEN h1_day IS NOT NULL
                            AND (h0_day IS NULL OR h1_day <= h0_day)
                           THEN h1_day ELSE h0_day END) IS NULL
                  OR day < (CASE WHEN h1_day IS NOT NULL
                                  AND (h0_day IS NULL OR h1_day <= h0_day)
                                 THEN h1_day ELSE h0_day END)
                THEN 'continue'
                WHEN h1_day IS NOT NULL
                     AND (h0_day IS NULL OR h1_day <= h0_day)
                THEN 'accept_h1'
                ELSE 'accept_h0'
           END AS state
    FROM cum, stops
    ORDER BY day
"""


# ---------------------------------------------------------------------------
# neyman_allocation: optimal stratified-sample allocation (Neyman
# 1934) -- the companion to stratified_quota_alloc's proportional
# Hamilton split: sample slots go proportional to N_h * S_h (stratum
# size x stratum standard deviation), which minimizes the variance of
# the stratified mean under a fixed budget.  High-variance strata earn
# more than their headcount; a zero-variance stratum needs (almost) no
# sample at all.
#
# Determinism: S_h's variance numerator n*sum(x^2) - (sum x)^2 is an
# exact DECIMAL(38,0); sqrt and the N_h * S_h product are
# correctly-rounded IEEE ops over bit-identical operands; the weight
# is then ROUNDED TO AN INTEGER (cents-scale) and the Hamilton
# largest-remainder apportionment runs in pure integer/decimal
# arithmetic exactly like stratified_quota_alloc (products ride
# DECIMAL(38,0) because weight * budget exceeds int64).  Allocation
# provably sums to the budget (pytest-pinned).  Strata with n < 2 get
# weight 0 (no variance estimate), documented by the n_events column.
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 10000


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    DEC = "decimal(38,0)"
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    per = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("cents").cast(DEC)).alias("sx"),
        F.sum(F.col("cents").cast(DEC) * F.col("cents").cast(DEC)).alias(
            "sxx"
        ),
    )
    n = F.col("n_events").cast(DEC)
    var_num = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    var_den = (n * (n - 1)).cast("double")
    sd = F.when(
        F.col("n_events") >= 2, F.sqrt(var_num / var_den)
    ).otherwise(F.lit(0.0))
    weighted = per.select(
        "event_type",
        "n_events",
        sd.alias("sd_cents"),
        F.round(F.col("n_events").cast("double") * sd)
        .cast(DEC)
        .alias("w_int"),
    )
    tot = weighted.agg(F.sum("w_int").alias("w_total"))
    alloc_base = weighted.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_events",
        "sd_cents",
        _checked_bigint(F.col("w_int"), "neyman weight").alias("weight_int"),
        F.expr(
            f"CAST((w_int * {NEYMAN_BUDGET}) div w_total AS BIGINT)"
        ).alias("base_alloc"),
        F.expr(
            f"CAST((w_int * {NEYMAN_BUDGET}) % w_total AS DECIMAL(38,0))"
        ).alias("remainder_num"),
    )
    leftover = alloc_base.agg(
        (F.lit(NEYMAN_BUDGET) - F.sum("base_alloc")).cast("int").alias("leftover")
    )
    w = Window.orderBy(F.desc("remainder_num"), F.asc("event_type"))
    return (
        alloc_base.crossJoin(F.broadcast(leftover))
        .withColumn("rk", F.row_number().over(w))
        .select(
            "event_type",
            "n_events",
            "sd_cents",
            "weight_int",
            "base_alloc",
            _checked_bigint(F.col("remainder_num"), "neyman remainder").alias(
                "remainder_num"
            ),
            (
                F.col("base_alloc")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("event_type")
    )


NEYMAN_ORACLE = f"""
    WITH base AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    per AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               sum(CAST(cents AS DECIMAL(38,0))) AS sx,
               sum(CAST(cents AS DECIMAL(38,0))
                   * CAST(cents AS DECIMAL(38,0))) AS sxx
        FROM base GROUP BY 1
    ),
    weighted AS (
        SELECT event_type, n_events,
               CASE WHEN n_events >= 2
                    THEN sqrt(CAST(CAST(n_events AS DECIMAL(38,0)) * sxx
                                   - sx * sx AS DOUBLE)
                              / CAST(CAST(n_events AS DECIMAL(38,0))
                                     * (CAST(n_events AS DECIMAL(38,0)) - 1)
                                     AS DOUBLE))
                    ELSE 0.0 END AS sd_cents
        FROM per
    ),
    wint AS (
        SELECT event_type, n_events, sd_cents,
               CAST(round(CAST(n_events AS DOUBLE) * sd_cents)
                    AS HUGEINT) AS w_int
        FROM weighted
    ),
    tot AS (SELECT CAST(sum(w_int) AS HUGEINT) AS w_total FROM wint),
    alloc_base AS (
        -- HUGEINT, not DECIMAL: DuckDB's DECIMAL // is a double
        -- division (measured off-by-one vs floor); int128 // truncates
        SELECT event_type, n_events, sd_cents,
               CAST(w_int AS BIGINT) AS weight_int,
               CAST((w_int * {NEYMAN_BUDGET}) // w_total AS BIGINT)
                   AS base_alloc,
               CAST((w_int * {NEYMAN_BUDGET}) % w_total AS BIGINT)
                   AS remainder_num
        FROM wint CROSS JOIN tot
    ),
    leftover AS (
        SELECT CAST({NEYMAN_BUDGET} - sum(base_alloc) AS INTEGER) AS leftover
        FROM alloc_base
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   ORDER BY remainder_num DESC, event_type) AS rk
        FROM alloc_base CROSS JOIN leftover
    )
    SELECT event_type, n_events, sd_cents, weight_int, base_alloc,
           CAST(remainder_num AS BIGINT) AS remainder_num,
           CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# benjamini_hochberg_fdr: multiple-testing control over the per-type
# changepoint battery (Benjamini & Hochberg 1995).  Running the
# Pettitt test on every event type is m simultaneous hypotheses; at
# alpha = BH_Q this emits the step-up decision set: rank the p-values
# ascending, find the largest i with p_(i) <= q*i/m, reject ranks
# <= i.  This is the report a monitoring dashboard should show instead
# of m independent 0.05 gates -- the repo's own battery discipline
# applied to itself.
#
# Determinism: the input p-values are the pettitt round(.,9) doubles
# (deterministic by construction); the rank is (p asc, type asc); the
# threshold comparison is one IEEE chain per row.  Degenerate one-day
# types carry NULL p and are excluded from m (emitted with NULL
# verdict).  Everything runs over the |event types|-bounded battery
# table.
# ---------------------------------------------------------------------------

BH_Q = 0.10


def benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    pett = pettitt_changepoint_test(spark, sf_dir).select(
        "event_type", F.col("p_approx").alias("p_value")
    )
    m = pett.agg(
        F.count("p_value").cast("bigint").alias("m_tests")
    )
    wr = Window.orderBy(F.asc_nulls_last("p_value"), F.asc("event_type"))
    ranked = (
        pett.crossJoin(F.broadcast(m))
        .withColumn(
            "p_rank",
            F.when(
                F.col("p_value").isNotNull(),
                F.row_number().over(wr).cast("bigint"),
            ),
        )
        .withColumn(
            "bh_threshold",
            F.when(
                F.col("p_value").isNotNull(),
                F.lit(BH_Q)
                * F.col("p_rank").cast("double")
                / F.col("m_tests").cast("double"),
            ),
        )
    )
    kmax = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_value") <= F.col("bh_threshold"),
                    F.col("p_rank"),
                )
            ),
            F.lit(0).cast("bigint"),
        ).alias("k_max")
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            "event_type",
            "p_value",
            "p_rank",
            "m_tests",
            "bh_threshold",
            F.when(
                F.col("p_value").isNotNull(), F.col("p_rank") <= F.col("k_max")
            ).alias("rejected"),
        )
        .orderBy("event_type")
    )


BH_FDR_ORACLE = f"""
    WITH pett AS ({PETTITT_ORACLE}),
    pv AS (SELECT event_type, p_approx AS p_value FROM pett),
    m AS (SELECT CAST(count(p_value) AS BIGINT) AS m_tests FROM pv),
    ranked AS (
        SELECT event_type, p_value, m_tests,
               CASE WHEN p_value IS NOT NULL THEN
                   CAST(row_number() OVER (
                       ORDER BY p_value ASC NULLS LAST, event_type ASC
                   ) AS BIGINT)
               END AS p_rank
        FROM pv CROSS JOIN m
    ),
    thr AS (
        SELECT *,
               CASE WHEN p_value IS NOT NULL THEN
                   {BH_Q} * CAST(p_rank AS DOUBLE) / CAST(m_tests AS DOUBLE)
               END AS bh_threshold
        FROM ranked
    ),
    kmax AS (
        SELECT COALESCE(max(CASE WHEN p_value <= bh_threshold
                                 THEN p_rank END), 0) AS k_max
        FROM thr
    )
    SELECT event_type, p_value, p_rank, m_tests, bh_threshold,
           CASE WHEN p_value IS NOT NULL THEN p_rank <= k_max END AS rejected
    FROM thr CROSS JOIN kmax
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# hodges_lehmann_center: the Hodges-Lehmann pseudo-median (1963) of
# each type's daily totals -- the location estimator dual to the
# Wilcoxon test, sitting between the mean (daily_value_anomalies'
# z-scores; 0% breakdown) and the median (daily_value_mad_outliers;
# 29% efficiency loss at the normal): median of all Walsh averages
# (x_i + x_j)/2, i <= j.  Exact-integer form: Walsh DOUBLES w = x_i +
# x_j over the calendar-bounded day-pair join (the mann_kendall
# posture), the median of the w-multiset via combinable (type, w)
# counts + a lattice-bounded cumulative window (the doubled-median
# discipline: lo/hi order statistics, hl = (lo + hi)/4), so the only
# float is the final division by 4.
# ---------------------------------------------------------------------------


def hodges_lehmann_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    a = daily.select("event_type", F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select("event_type", F.col("day").alias("db"), F.col("x").alias("xb"))
    walsh = (
        a.join(b, "event_type")
        .where(F.col("da") <= F.col("db"))
        .select("event_type", (F.col("xa") + F.col("xb")).alias("w"))
    )
    wcnt = walsh.groupBy("event_type", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("w")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = wcnt.withColumn("cum", F.sum("cnt").over(wcum))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    np_ = (F.col("n_days") * (F.col("n_days") + 1) / 2).cast("bigint")
    med = (
        cum.join(stats, "event_type")
        .withColumn("n_pairs", np_)
        .groupBy("event_type", "n_days", "n_pairs")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(n_pairs + 1) div 2"), F.col("w")
                )
            ).alias("w_lo"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("n_pairs div 2 + 1"), F.col("w")
                )
            ).alias("w_hi"),
        )
    )
    return med.select(
        "event_type",
        "n_days",
        "n_pairs",
        (
            (F.col("w_lo") + F.col("w_hi")).cast("double") / F.lit(4.0)
        ).alias("hl_center_cents"),
    ).orderBy("event_type")


# integer halves: (n+1)/2 and n/2 + 1 must be FLOOR divisions
HODGES_LEHMANN_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    walsh AS (
        SELECT a.event_type, a.x + b.x AS w
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day <= b.day
    ),
    wcnt AS (
        SELECT event_type, w, CAST(count(*) AS BIGINT) AS cnt
        FROM walsh GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, w,
               CAST(sum(cnt) OVER (
                   PARTITION BY event_type ORDER BY w
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM wcnt
    ),
    stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(count(*) * (count(*) + 1) // 2 AS BIGINT) AS n_pairs
        FROM daily GROUP BY 1
    )
    SELECT s.event_type, s.n_days, s.n_pairs,
           CAST(min(CASE WHEN c.cum >= (s.n_pairs + 1) // 2 THEN c.w END)
                + min(CASE WHEN c.cum >= s.n_pairs // 2 + 1 THEN c.w END)
                AS DOUBLE) / 4.0 AS hl_center_cents
    FROM cum c JOIN stats s USING (event_type)
    GROUP BY s.event_type, s.n_days, s.n_pairs
    ORDER BY s.event_type
"""


# ---------------------------------------------------------------------------
# friedman_test: Friedman's rank test (1937) for the blocked design
# the unblocked tests can't see -- days are BLOCKS, event types are
# TREATMENTS: within each complete day, rank the k types' daily
# totals; systematic rank differences across days mean the types'
# levels differ even when day-to-day swings dwarf the between-type
# gaps (exactly where kruskal_wallis_h_test loses power).  Doubled
# midranks m2 = 2*rank + ties - 1 (the spearman/kruskal lattice
# identity) clear every rational:
#
#     Q = (k-1) * sum_j (S_j - n(k+1))^2 / (sum_ij m2^2 - n k (k+1)^2)
#
# with S_j the doubled rank sum -- the tie-corrected Friedman
# statistic in PURE INTEGERS to one final division, chi-square(k-1)
# against the pinned critical table.  Incomplete days (a type with no
# events) are excluded -- the standard complete-block requirement,
# emitted as n_complete_days.  The rank window partitions by DAY
# (k-bounded partitions, never corpus-bounded).  The all-tied
# degenerate (denominator 0) is an explicit NULL.
# ---------------------------------------------------------------------------


def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    k = daily.select("event_type").distinct().count()
    counts = daily.groupBy("day").agg(F.count(F.lit(1)).alias("n_types"))
    complete = counts.where(F.col("n_types") == k).select("day")
    blocks = daily.join(complete, "day")
    w_r = Window.partitionBy("day").orderBy("x")
    w_t = Window.partitionBy("day", "x")
    m2 = blocks.select(
        "event_type",
        "day",
        (
            2 * F.rank().over(w_r).cast("bigint")
            + F.count(F.lit(1)).over(w_t).cast("bigint")
            - 1
        ).alias("m2"),
    )
    per_type = m2.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_complete_days"),
        F.sum("m2").cast("bigint").alias("rank_sum2"),
        F.sum(F.col("m2") * F.col("m2")).cast("bigint").alias("_sq"),
    )
    glob = per_type.agg(
        F.sum("_sq").cast("bigint").alias("sum_m2_sq"),
        F.max("n_complete_days").cast("bigint").alias("n_blocks"),
        F.sum(
            (F.col("rank_sum2") - F.col("n_complete_days") * (k + 1))
            * (F.col("rank_sum2") - F.col("n_complete_days") * (k + 1))
        )
        .cast("bigint")
        .alias("num_sq"),
    )
    den = F.col("sum_m2_sq") - F.col("n_blocks") * k * (k + 1) * (k + 1)
    q = F.when(
        den > 0,
        F.lit(float(k - 1)) * F.col("num_sq").cast("double") / den.cast("double"),
    )
    crit = CHI2_CRIT_95.get(k - 1)
    return (
        per_type.crossJoin(F.broadcast(glob))
        .select(
            "event_type",
            "n_complete_days",
            "rank_sum2",
            q.alias("q_stat"),
            F.when(den > 0, q > F.lit(crit)).alias("significant")
            if crit is not None
            else F.lit(None).cast("boolean").alias("significant"),
        )
        .orderBy("event_type")
    )


FRIEDMAN_ORACLE = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY 1, 2
    ),
    kv AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM daily),
    complete AS (
        SELECT day FROM daily GROUP BY day
        HAVING count(*) = (SELECT k FROM kv)
    ),
    m2 AS (
        SELECT d.event_type, d.day,
               CAST(2 * rank() OVER (PARTITION BY d.day ORDER BY d.x)
                    + count(*) OVER (PARTITION BY d.day, d.x)
                    - 1 AS BIGINT) AS m2
        FROM daily d JOIN complete USING (day)
    ),
    per_type AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_complete_days,
               CAST(sum(m2) AS BIGINT) AS rank_sum2,
               CAST(sum(m2 * m2) AS BIGINT) AS sq
        FROM m2 GROUP BY 1
    ),
    gstats AS (
        SELECT CAST(sum(p.sq) AS BIGINT) AS sum_m2_sq,
               CAST(max(p.n_complete_days) AS BIGINT) AS n_blocks,
               CAST(sum((p.rank_sum2 - p.n_complete_days * (kv.k + 1))
                        * (p.rank_sum2 - p.n_complete_days * (kv.k + 1)))
                    AS BIGINT) AS num_sq,
               CAST(any_value(kv.k) AS BIGINT) AS k
        FROM per_type p, kv
    ),
    verdict AS (
        SELECT *,
               CASE WHEN sum_m2_sq - n_blocks * k * (k + 1) * (k + 1) > 0
                    THEN CAST(k - 1 AS DOUBLE) * CAST(num_sq AS DOUBLE)
                         / CAST(sum_m2_sq - n_blocks * k * (k + 1) * (k + 1)
                                AS DOUBLE)
               END AS q_stat,
               CAST(k - 1 AS BIGINT) AS df
        FROM gstats
    )
    SELECT p.event_type, p.n_complete_days, p.rank_sum2, v.q_stat,
           CASE WHEN v.q_stat IS NOT NULL
                THEN v.q_stat > ({_KW_CRIT_CASE})
           END AS significant
    FROM per_type p, verdict v
    ORDER BY p.event_type
"""


# ---------------------------------------------------------------------------
# brown_forsythe_test: variance-homogeneity across event types (Brown
# & Forsythe 1974 -- Levene's test with the group MEDIAN center,
# robust to the heavy-tailed values).  The missing axis of the test
# battery: welch compares means, kruskal/mann-whitney compare
# distributions by rank, nothing yet asks "do the types' SPREADS
# differ?" -- the question that decides whether pooled-variance
# monitors are even valid.  One-way ANOVA F on z_ij = |x_ij - med_j|:
#
#     W = ((N-k)/(k-1)) * (sum_j S_j^2/n_j - T^2/N) / (sum Q_j - sum_j S_j^2/n_j)
#
# Exactness: group medians ride the doubled-cents lattice (lo+hi
# order statistics, the hodges/MAD discipline) so z2 = |2x - m2| is an
# exact integer; S_j / Q_j are exact decimals; each S_j^2/n_j is one
# IEEE chain squashed to DECIMAL(38,6) so the cross-group sum is
# order-free; W is one final double chain.  Significance uses the
# large-sample identity (k-1) W ~ chi-square(k-1) against the pinned
# critical ladder (F(k-1, N-k) -> chi2(k-1)/(k-1) as N -> inf;
# exact F criticals would need a 2-D table -- the approximation is
# documented, conservative for N in the thousands).  Degenerate
# zero-within-spread emits NULL.
#
# Scale shape: the median lattice is distinct-cents-bounded per type;
# z2 is a broadcast join + map; everything after runs on k rows.
# ---------------------------------------------------------------------------


def brown_forsythe_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    DEC = "decimal(38,0)"
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    mcnt = base.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = mcnt.withColumn("cum", F.sum("cnt").over(wcum))
    sizes = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    med = (
        cum.join(sizes, "event_type")
        .groupBy("event_type", "n_events")
        .agg(
            (
                F.min(
                    F.when(
                        F.col("cum") >= F.expr("(n_events + 1) div 2"),
                        F.col("cents"),
                    )
                )
                + F.min(
                    F.when(
                        F.col("cum") >= F.expr("n_events div 2 + 1"),
                        F.col("cents"),
                    )
                )
            )
            .cast("bigint")
            .alias("m2_cents")
        )
    )
    z = base.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n_events",
        "m2_cents",
        F.abs(2 * F.col("cents") - F.col("m2_cents")).alias("z2"),
    )
    per = z.groupBy("event_type", "n_events", "m2_cents").agg(
        F.sum(F.col("z2").cast(DEC)).alias("s_j"),
        F.sum(F.col("z2").cast(DEC) * F.col("z2").cast(DEC)).alias("q_j"),
    )
    # Exact rational bookkeeping: S^2/n = (S^2 div n) + (S^2 mod n)/n.
    # The integer parts stay exact DECIMAL(38,0); only the O(1)
    # fractions (< 1) are squashed to DECIMAL(18,15) -- large-magnitude
    # double->decimal squashes are NOT portable (measured: DuckDB's
    # cast of a ~1e10 double to DECIMAL(38,6) rounds differently than
    # the exact-value rounding Spark does), O(1) squashes are the
    # proven discipline.  Final doubles go through the hi/lo portable
    # conversion (hi*2^40 is exact scaling, + lo one rounded add).
    per2 = per.selectExpr(
        "event_type",
        "n_events",
        "m2_cents",
        "s_j",
        "q_j",
        "CAST((s_j * s_j) div CAST(n_events AS DECIMAL(38,0))"
        " AS DECIMAL(38,0)) AS sq_int",
        "CAST(CAST((s_j * s_j) % CAST(n_events AS DECIMAL(38,0)) AS DOUBLE)"
        " / CAST(n_events AS DOUBLE) AS DECIMAL(18,15)) AS sq_frac",
    )
    glob = per2.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum("n_events").cast("bigint").alias("n_total"),
        F.sum("s_j").alias("t_sum"),
        F.sum("sq_int").alias("a_int"),
        F.sum("sq_frac").alias("a_frac"),
        F.sum("q_j").alias("c_sum"),
    )
    pre = glob.selectExpr(
        "k_groups",
        "n_total",
        "a_int",
        "a_frac",
        "c_sum",
        "CAST((t_sum * t_sum) div CAST(n_total AS DECIMAL(38,0))"
        " AS DECIMAL(38,0)) AS t_int",
        "CAST(CAST((t_sum * t_sum) % CAST(n_total AS DECIMAL(38,0))"
        " AS DOUBLE) / CAST(n_total AS DOUBLE) AS DECIMAL(18,15)) AS t_frac",
    )
    P2_40 = 1 << 40
    big2d = (
        lambda x: f"CAST(({x}) div {P2_40} AS DOUBLE) * {float(P2_40)!r}"
        f" + CAST(({x}) % {P2_40} AS DOUBLE)"
    )
    between = F.expr(big2d("a_int - t_int")) + (
        F.col("a_frac") - F.col("t_frac")
    ).cast("double")
    within = F.expr(big2d("c_sum - a_int")) - F.col("a_frac").cast("double")
    k = F.col("k_groups")
    w_stat = F.when(
        (within > 0) & (k > 1),
        (F.col("n_total") - k).cast("double")
        / (k - 1).cast("double")
        * F.greatest(between, F.lit(0.0))
        / within,
    )
    return (
        per2.crossJoin(F.broadcast(pre))
        .withColumn("df", (k - 1).cast("bigint"))
        .select(
            "event_type",
            "n_events",
            "m2_cents",
            _checked_bigint(F.col("s_j"), "brown-forsythe z2 sum").alias(
                "z2_sum"
            ),
            w_stat.alias("w_stat"),
            F.when(
                w_stat.isNotNull(),
                (k - 1).cast("double") * w_stat > F.expr(_KW_CRIT_CASE),
            ).alias("significant"),
        )
        .orderBy("event_type")
    )


BROWN_FORSYTHE_ORACLE = f"""
    WITH base AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    mcnt AS (
        SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, cents,
               CAST(sum(cnt) OVER (
                   PARTITION BY event_type ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM mcnt
    ),
    sizes AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM base GROUP BY 1
    ),
    med AS (
        SELECT c.event_type, s.n_events,
               CAST(min(CASE WHEN c.cum >= (s.n_events + 1) // 2
                             THEN c.cents END)
                    + min(CASE WHEN c.cum >= s.n_events // 2 + 1
                               THEN c.cents END) AS BIGINT) AS m2_cents
        FROM cum c JOIN sizes s USING (event_type)
        GROUP BY 1, 2
    ),
    z AS (
        SELECT b.event_type, m.n_events, m.m2_cents,
               abs(2 * b.cents - m.m2_cents) AS z2
        FROM base b JOIN med m USING (event_type)
    ),
    per AS (
        SELECT event_type, n_events, m2_cents,
               sum(CAST(z2 AS DECIMAL(38,0))) AS s_j,
               sum(CAST(z2 AS DECIMAL(38,0)) * CAST(z2 AS DECIMAL(38,0)))
                   AS q_j
        FROM z GROUP BY 1, 2, 3
    ),
    per2 AS (
        -- S^2/n split into exact integer part + O(1) squashed fraction
        -- (large-magnitude double->decimal casts are not portable)
        SELECT *,
               CAST(CAST(s_j * s_j AS HUGEINT) // n_events
                    AS DECIMAL(38,0)) AS sq_int,
               CAST(CAST(CAST(s_j * s_j AS HUGEINT) % n_events AS DOUBLE)
                    / CAST(n_events AS DOUBLE) AS DECIMAL(18,15)) AS sq_frac
        FROM per
    ),
    gstats AS (
        SELECT CAST(count(*) AS BIGINT) AS k_groups,
               CAST(sum(n_events) AS BIGINT) AS n_total,
               sum(s_j) AS t_sum,
               sum(sq_int) AS a_int,
               sum(sq_frac) AS a_frac,
               sum(q_j) AS c_sum
        FROM per2
    ),
    pre AS (
        SELECT *,
               CAST(CAST(t_sum * t_sum AS HUGEINT) // n_total
                    AS DECIMAL(38,0)) AS t_int,
               CAST(CAST(CAST(t_sum * t_sum AS HUGEINT) % n_total AS DOUBLE)
                    / CAST(n_total AS DOUBLE) AS DECIMAL(18,15)) AS t_frac
        FROM gstats
    ),
    verdict AS (
        SELECT *,
               CAST(k_groups - 1 AS BIGINT) AS df,
               CAST(CAST(c_sum - a_int AS HUGEINT) // 1099511627776 AS DOUBLE)
                   * 1099511627776.0
                   + CAST(CAST(c_sum - a_int AS HUGEINT) % 1099511627776 AS DOUBLE)
                   - CAST(a_frac AS DOUBLE) AS within_d,
               CAST(CAST(a_int - t_int AS HUGEINT) // 1099511627776 AS DOUBLE)
                   * 1099511627776.0
                   + CAST(CAST(a_int - t_int AS HUGEINT) % 1099511627776 AS DOUBLE)
                   + CAST(a_frac - t_frac AS DOUBLE) AS between_d
        FROM pre
    ),
    verdict2 AS (
        SELECT *,
               CASE WHEN within_d > 0 AND k_groups > 1 THEN
                   CAST(n_total - k_groups AS DOUBLE)
                   / CAST(k_groups - 1 AS DOUBLE)
                   * GREATEST(between_d, 0.0) / within_d
               END AS w_stat
        FROM verdict
    )
    SELECT p.event_type, p.n_events, p.m2_cents,
           CAST(p.s_j AS BIGINT) AS z2_sum,
           v.w_stat,
           CASE WHEN v.w_stat IS NOT NULL THEN
               CAST(v.k_groups - 1 AS DOUBLE) * v.w_stat
               > ({_KW_CRIT_CASE})
           END AS significant
    FROM per2 p, verdict2 v
    ORDER BY p.event_type
"""


STATISTICS_QUERIES: list[tuple[str, object, str | None]] = [
    ("kmv_distinct_profile", kmv_distinct_profile, KMV_ORACLE),
    ("brown_forsythe_test", brown_forsythe_test, BROWN_FORSYTHE_ORACLE),
    ("hodges_lehmann_center", hodges_lehmann_center, HODGES_LEHMANN_ORACLE),
    ("friedman_test", friedman_test, FRIEDMAN_ORACLE),
    ("pettitt_changepoint_test", pettitt_changepoint_test, PETTITT_ORACLE),
    ("sprt_conversion_monitor", sprt_conversion_monitor, SPRT_ORACLE),
    ("neyman_allocation", neyman_allocation, NEYMAN_ORACLE),
    ("benjamini_hochberg_fdr", benjamini_hochberg_fdr, BH_FDR_ORACLE),
    ("dedup_bloom_admission_audit", dedup_bloom_admission_audit, BLOOM_FPR_ORACLE),
    ("spearman_daily_corr", spearman_daily_corr, SPEARMAN_ORACLE),
    ("kendall_tau_daily", kendall_tau_daily, KENDALL_ORACLE),
    ("poisson_bootstrap_ci", poisson_bootstrap_ci, POISSON_BOOTSTRAP_ORACLE),
    (
        "permutation_test_mean_shift",
        permutation_test_mean_shift,
        PERMUTATION_TEST_ORACLE,
    ),
    ("hill_tail_index", hill_tail_index, HILL_ORACLE),
    ("stratified_quota_alloc", stratified_quota_alloc, QUOTA_ALLOC_ORACLE),
    ("ljung_box_test", ljung_box_test, LJUNG_BOX_ORACLE),
    ("mann_kendall_trend_test", mann_kendall_trend_test, MANN_KENDALL_ORACLE),
    ("mann_whitney_u_test", mann_whitney_u_test, MANN_WHITNEY_ORACLE),
    ("kruskal_wallis_h_test", kruskal_wallis_h_test, KRUSKAL_WALLIS_ORACLE),
    ("weighted_reservoir_sample", weighted_reservoir_sample, WEIGHTED_RESERVOIR_ORACLE),
    ("daily_value_mad_outliers", daily_value_mad_outliers, DAILY_MAD_ORACLE),
    ("stratified_kfold_assign", stratified_kfold_assign, KFOLD_ORACLE),
    ("table_stats_profile", table_stats_profile, TABLE_STATS_ORACLE),
    ("quantile_summary", quantile_summary, QUANTILE_ORACLE),
    ("sample_stratified", sample_stratified, SAMPLE_STRATIFIED_ORACLE),
    ("sample_topk_per_group", sample_topk_per_group, SAMPLE_TOPK_ORACLE),
    # sketches are engine-specific by nature: rows-only check, see docstring
    ("sketch_summary", sketch_summary, SKETCH_SUMMARY_ORACLE),
    # exact below sketch capacity (see docstring) -> fully oracle-checked
    (
        "distinct_users_sketch_profile",
        distinct_users_sketch_profile,
        SKETCH_PROFILE_ORACLE,
    ),
    ("histogram_event_values", histogram_event_values, HISTOGRAM_ORACLE),
    ("value_distribution_psi", value_distribution_psi, PSI_ORACLE),
    ("ks_drift_test", ks_drift_test, KS_DRIFT_ORACLE),
    ("chi_square_independence", chi_square_independence, CHI2_ORACLE),
    ("welch_t_test", welch_t_test, WELCH_T_ORACLE),
    ("cusum_changepoint", cusum_changepoint, CUSUM_ORACLE),
    ("daily_autocorr_lag1", daily_autocorr_lag1, AUTOCORR_ORACLE),
    ("event_type_daily_corr", event_type_daily_corr, DAILY_CORR_ORACLE),
    ("theil_sen_daily_trend", theil_sen_daily_trend, THEIL_SEN_ORACLE),
    ("global_exact_quantiles", global_exact_quantiles, GLOBAL_QUANTILES_ORACLE),
    ("benford_first_digit_audit", benford_first_digit_audit, BENFORD_ORACLE),
    ("daily_value_anomalies", daily_value_anomalies, DAILY_ANOMALY_ORACLE),
    ("price_balance_correlation", price_balance_correlation, CORRELATION_ORACLE),
    ("winsorize_event_values", winsorize_event_values, WINSORIZE_ORACLE),
    ("sample_bootstrap", sample_bootstrap, BOOTSTRAP_ORACLE),
    ("train_test_split_events", train_test_split_events, TRAIN_TEST_SPLIT_ORACLE),
    ("value_decile_features", value_decile_features, VALUE_DECILE_ORACLE),
    # Arrow GROUPED_AGG path, decimal-disciplined since round 13: the
    # pandas fold reproduces the twin's exact-grid log-mean, so it
    # shares the twin's oracle (previously rows-only)
    ("geomean_event_value", geomean_event_value, GEOMEAN_EXACT_ORACLE),
    # ... and its JVM-expression scale path, exact enough to oracle-check
    ("geomean_event_value_exact", geomean_event_value_exact, GEOMEAN_EXACT_ORACLE),
    # sketch-bounded binning: engine-specific boundaries -> rows-only
    ("value_decile_features_approx", value_decile_features_approx, None),
]
