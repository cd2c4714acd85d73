"""Custom stateful streaming operator via ``applyInPandasWithState``.

The built-in windowed aggregations (windows.py) cover time-bucketed
state; this is the escape hatch for operators whose state logic Spark
has no built-in for -- per-key accumulators with arbitrary Python
transition functions (SURVEY.md §7: custom stateful streaming ops).

Demo operator: per-user running totals (event count + value sum + last
event time), emitted in ``update`` mode each micro-batch.  The state
transition is associative, so the pytest check replays the same data as
a plain batch aggregation and the final per-user rows must agree --
the standard way to validate a stateful stream without an oracle that
can consume streams.

Scale posture: state lives in the state store keyed by user_id (size ~
|active keys|, not |events|); an Arrow batch crosses the Python boundary
once per key per micro-batch.  A production variant adds a timeout
(``GroupStateTimeout.ProcessingTimeTimeout``) to expire idle keys --
without one, state grows with the key universe forever.
"""

from __future__ import annotations


from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .windows import events_stream

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_us", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_us", LongType()),
    ]
)


def streaming_user_totals_query(spark: SparkSession, sf_dir: str):
    """readStream -> groupBy(user_id) -> applyInPandasWithState running
    totals.  Returns the unstarted streaming DataFrame (caller attaches a
    sink); ``update`` output mode emits each touched key per batch."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Self-contained closure (captures nothing module-level): executors
    # unpickle it without importing this package.
    def update_totals(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        n, total, last = (
            state.get if state.exists else (0, 0.0, 0)
        )
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            last = max(last, int(pdf["us"].max()))
        state.update((n, total, last))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total],
                "last_us": [last],
            }
        )

    return (
        events_stream(spark, sf_dir)
        .select(
            "user_id",
            "value",
            F.unix_micros("ts").alias("us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def batch_user_totals(spark: SparkSession, sf_dir: str):
    """The batch twin the stream's final state must agree with."""
    from ..sources import load_table

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )


# ---------------------------------------------------------------------------
# Exponentially time-decayed per-user value, incrementally: the streaming
# twin of operators.temporal.time_decayed_user_value.  State per user is
# (acc, anchor_us) where acc = sum_i v_i * exp(-(anchor - t_i)/tau)
# anchored at the largest event time seen for that user.  The re-anchor
# identity  acc' = acc * exp(-(anchor' - anchor)/tau) + sum_new(...)
# makes the update ORDER-INDEPENDENT across micro-batches (each event's
# contribution is fixed by its own timestamp), so no intra- or
# inter-batch sorting is required -- the per-batch work is one
# vectorized numpy expression.  The batch query anchors at the GLOBAL
# watermark T; discounting the stream's per-user (acc, anchor) by
# exp(-(T - anchor)/tau) must reproduce it -- asserted in pytest.
# ---------------------------------------------------------------------------

DECAY_STATE_SCHEMA = StructType(
    [
        StructField("acc", DoubleType()),
        StructField("anchor_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

DECAY_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("decayed_at_anchor", DoubleType()),
        StructField("anchor_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def streaming_decayed_value_query(spark: SparkSession, sf_dir: str):
    """readStream -> groupBy(user_id) -> applyInPandasWithState exp-decay
    accumulator.  Returns the unstarted streaming DataFrame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.temporal import DECAY_TAU_US

    tau = float(DECAY_TAU_US)

    def update_decay(key, pdfs, state):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        acc, anchor, n = state.get if state.exists else (0.0, 0, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            new_anchor = max(anchor, int(pdf["us"].max()))
            if anchor:
                acc *= float(np.exp(-(new_anchor - anchor) / tau))
            acc += float(
                (
                    pdf["value"].to_numpy()
                    * np.exp(-(new_anchor - pdf["us"].to_numpy()) / tau)
                ).sum()
            )
            anchor = new_anchor
            n += len(pdf)
        state.update((acc, anchor, n))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "decayed_at_anchor": [acc],
                "anchor_us": [anchor],
                "n_events": [n],
            }
        )

    return (
        events_stream(spark, sf_dir)
        .select("user_id", "value", F.unix_micros("ts").alias("us"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update_decay,
            outputStructType=DECAY_OUTPUT_SCHEMA,
            stateStructType=DECAY_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming per-source admission cap -- the continuous-ingest twin of
# the batch ``source_frequency_cap``: documents arrive as a stream and
# each source's admission counter lives in the state store; once a
# source has admitted SOURCE_CAP documents, the rest are rejected at
# ingest.  Unlike the batch operator (which picks a deterministic
# hash-ranked kept SET over the full corpus), the streaming semantics
# is honest first-arrived admission -- the policy a live ingest can
# actually enforce -- so the batch/stream agreement is on the COUNTS:
# final admitted per source == min(CAP, docs seen), verified in pytest.
#
# Scale posture: state is one bigint per source (|sources| keys, not
# |docs|); one Arrow batch crosses the Python boundary per source per
# micro-batch.
# ---------------------------------------------------------------------------

CAP_STATE_SCHEMA = StructType([StructField("n_admitted", LongType())])

CAP_OUTPUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("n_seen", LongType()),
        StructField("n_admitted", LongType()),
    ]
)


def documents_stream(spark: SparkSession, sf_dir: str):
    """readStream twin of the documents loader."""
    from ..sources.tables import read_parquet, table_path
    from .windows import _table_stream_dir

    schema = read_parquet(spark, table_path(sf_dir, "documents")).schema
    return spark.readStream.schema(schema).parquet(
        _table_stream_dir(sf_dir, "documents")
    )


def streaming_source_cap_query(spark: SparkSession, sf_dir: str):
    """readStream -> groupBy(source) -> applyInPandasWithState admission
    counter.  Returns the unstarted streaming DataFrame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.pipeline import SOURCE_CAP

    cap = int(SOURCE_CAP)

    def admit(key, pdfs, state):
        import pandas as pd

        (source,) = key
        (admitted,) = state.get if state.exists else (0,)
        seen = 0
        for pdf in pdfs:
            n = len(pdf)
            seen += n
            take = max(0, min(cap - admitted, n))
            admitted += take
        state.update((admitted,))
        yield pd.DataFrame(
            {
                "source": [source],
                "n_seen": [seen],
                "n_admitted": [admitted],
            }
        )

    return (
        documents_stream(spark, sf_dir)
        .select("source", "doc_id")
        .groupBy("source")
        .applyInPandasWithState(
            admit,
            outputStructType=CAP_OUTPUT_SCHEMA,
            stateStructType=CAP_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming drift monitor: the continuous-ingest twin of the batch
# ks_drift_test.  The FIRST micro-batch a key sees freezes that key's
# BASELINE histogram; every later batch accumulates into the CURRENT
# histogram and emits the exact two-sample KS distance of current vs
# baseline -- the "is the live stream still shaped like the reference
# slice" gate a production ingest runs per source/type.
#
# State is two fixed-size bin-count vectors per event_type (bins =
# value / HIST_WIDTH clamped to KS_STREAM_NBINS) -- O(bins) longs per
# key, never per event; one Arrow batch per key per micro-batch.  The D
# numerator stays on the integer lattice in Python (arbitrary-precision
# ints), divided once -- the same rational the batch query computes, so
# stream and batch agree BIT-EXACTLY on an identical split (pinned in
# tests/test_streaming.py).
# ---------------------------------------------------------------------------

KS_STREAM_NBINS = 32

KS_STATE_SCHEMA = StructType(
    [
        StructField("base_counts", StringType()),  # csv of KS_STREAM_NBINS longs
        StructField("cur_counts", StringType()),
    ]
)

KS_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("base_n", LongType()),
        StructField("cur_n", LongType()),
        StructField("ks_d", DoubleType()),
        StructField("is_baseline", StringType()),  # 'y'/'n'
    ]
)


def streaming_ks_drift_query(spark: SparkSession, in_dir: str, schema):
    """readStream(events parquet dir) -> groupBy(event_type) ->
    applyInPandasWithState KS drift vs the frozen first-batch baseline.
    Caller supplies the input dir + schema so tests can stage explicit
    micro-batches (maxFilesPerTrigger=1)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    nbins = int(KS_STREAM_NBINS)
    width = 50.0  # operators.statistics.HIST_WIDTH (kept literal: the
    # closure must unpickle on executors without importing this package)

    def track(key, pdfs, state):
        import math

        import pandas as pd

        (event_type,) = key
        if state.exists:
            base_s, cur_s = state.get
            base = [int(x) for x in base_s.split(",")]
            cur = [int(x) for x in cur_s.split(",")]
            first = False
        else:
            base, cur = [0] * nbins, [0] * nbins
            first = True
        batch = [0] * nbins
        for pdf in pdfs:
            for v in pdf["value"]:
                b = int(math.floor(float(v) / width))
                batch[min(max(b, 0), nbins - 1)] += 1
        tgt = base if first else cur
        for i, c in enumerate(batch):
            tgt[i] += c
        state.update(
            (",".join(map(str, base)), ",".join(map(str, cur)))
        )
        nb, nc = sum(base), sum(cur)
        if first or nc == 0:
            ks_d = 0.0
        else:
            cb = cc = d_num = 0
            for i in range(nbins):
                cb += base[i]
                cc += cur[i]
                d_num = max(d_num, abs(cb * nc - cc * nb))
            ks_d = d_num / (nb * nc)
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "base_n": [nb],
                "cur_n": [nc],
                "ks_d": [ks_d],
                "is_baseline": ["y" if first else "n"],
            }
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            track,
            outputStructType=KS_OUTPUT_SCHEMA,
            stateStructType=KS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming mean-shift monitor: the continuous-ingest twin of the batch
# ``welch_t_test``.  The FIRST micro-batch a key sees freezes that key's
# BASELINE sufficient statistics (n, Σcents, Σcents²); every later batch
# accumulates the CURRENT statistics and emits Welch's t of current vs
# baseline -- the "has the live stream's mean moved off the reference
# slice" alarm, complementing the KS monitor's shape test (KS dilutes a
# small mean shift across bins; t is exactly that shift's detector).
#
# State is six integers per event_type (arbitrary-precision via strings,
# exactly like the KS monitor's bin vectors) -- O(1) per key, never per
# event.  The t statistic repeats the batch plan's fixed op order over
# the same exact-integer inputs (decimal→double casts become Python
# float() of exact ints; both round to nearest), so stream and batch
# agree BIT-EXACTLY on an identical split (pinned in
# tests/test_streaming.py).  Round 9: t AND the means are emitted
# UNROUNDED, matching the de-floated batch welch_t_test -- every op in
# the chain is IEEE correctly-rounded over identical inputs, so no
# rounding-tie channel remains anywhere in the row.
# ---------------------------------------------------------------------------

WELCH_STATE_SCHEMA = StructType(
    [
        StructField("base_stats", StringType()),  # "n,sx,sxx" exact ints
        StructField("cur_stats", StringType()),
    ]
)

WELCH_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_base", LongType()),
        StructField("n_cur", LongType()),
        StructField("mean_base_cents", DoubleType()),
        StructField("mean_cur_cents", DoubleType()),
        StructField("t_stat", DoubleType()),
        StructField("mean_shifted", StringType()),  # 'y'/'n'
        StructField("is_baseline", StringType()),
    ]
)


def streaming_mean_shift_query(spark: SparkSession, in_dir: str, schema):
    """readStream(events parquet dir) -> groupBy(event_type) ->
    applyInPandasWithState Welch-t mean-shift vs the frozen first-batch
    baseline.  Caller supplies input dir + schema so tests can stage
    explicit micro-batches (maxFilesPerTrigger=1)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    crit = 1.96  # operators.statistics.T_CRIT_95 (literal: the closure
    # must unpickle on executors without importing this package)

    def track(key, pdfs, state):
        import math

        import pandas as pd

        (event_type,) = key
        if state.exists:
            base_s, cur_s = state.get
            base = [int(x) for x in base_s.split(",")]
            cur = [int(x) for x in cur_s.split(",")]
            first = False
        else:
            base, cur = [0, 0, 0], [0, 0, 0]
            first = True
        tgt = base if first else cur
        for pdf in pdfs:
            for v in pdf["value"]:
                c = round(float(v) * 100)
                tgt[0] += 1
                tgt[1] += c
                tgt[2] += c * c
        state.update(
            (",".join(map(str, base)), ",".join(map(str, cur)))
        )
        nb, sxb, sxxb = base
        nc, sxc, sxxc = cur
        if first or nb < 2 or nc < 2:
            yield pd.DataFrame(
                {
                    "event_type": [event_type],
                    "n_base": [nb],
                    "n_cur": [nc],
                    "mean_base_cents": [0.0],
                    "mean_cur_cents": [0.0],
                    "t_stat": [0.0],
                    "mean_shifted": ["n"],
                    "is_baseline": ["y" if first else "n"],
                }
            )
            return
        # EXACT op-order mirror of operators.statistics.welch_t_test
        mean_b = float(sxb) / nb
        mean_c = float(sxc) / nc
        var_b = float(nb * sxxb - sxb * sxb) / float(nb * (nb - 1))
        var_c = float(nc * sxxc - sxc * sxc) / float(nc * (nc - 1))
        se_b = var_b / float(nb)
        se_c = var_c / float(nc)
        t = (mean_b - mean_c) / math.sqrt(se_b + se_c)
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n_base": [nb],
                "n_cur": [nc],
                # unrounded, matching the de-floated batch welch_t_test:
                # a single IEEE division of exact ints is bit-identical
                # in CPython and the JVM
                "mean_base_cents": [mean_b],
                "mean_cur_cents": [mean_c],
                "t_stat": [t],
                "mean_shifted": ["y" if abs(t) > crit else "n"],
                "is_baseline": ["n"],
            }
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            track,
            outputStructType=WELCH_OUTPUT_SCHEMA,
            stateStructType=WELCH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM changepoint monitor: the continuous-ingest twin of the
# batch ``cusum_changepoint`` (operators/statistics.py).  CUSUM is a
# PREFIX statistic (S_t depends on every day up to t), so unlike the
# KS/Welch monitors it cannot be six integers of running state -- but it
# CAN be order-free: the state is the per-(type, day) daily total map,
# which merges commutatively across micro-batches (late or out-of-order
# events just add into their day's cell), and each emission recomputes
# the whole CUSUM table from the day map in sorted-day order.  The
# result is a pure function of the events seen so far, so replays and
# retries cannot change it, and on the complete input it agrees with
# the batch query BIT-EXACTLY (pinned in tests/test_streaming.py):
# day-bucketing and cents-rounding happen JVM-side with the batch
# query's exact expressions, the n*P_t - t*T numerator is exact Python
# int arithmetic (== the batch plan's DECIMAL(38,0)), and the single
# float division of exact ints is IEEE-identical in CPython and the JVM.
#
# Scale posture: state is O(#days) per event type -- calendar-bounded
# like the KS monitor's fixed bin vectors, never O(events); one Arrow
# batch per type per micro-batch; emission cost is |days| rows.  A
# production variant caps the horizon (drop days older than the
# monitoring window) -- the map representation makes that a dict prune.
# ---------------------------------------------------------------------------

CUSUM_STATE_SCHEMA = StructType(
    # "2024-01-03:123;2024-01-04:-7;..." -- sorted ISO day -> exact cents
    [StructField("day_totals", StringType())]
)

CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("day", DateType()),
        StructField("value_cents", LongType()),
        StructField("cusum_cents", DoubleType()),
        StructField("is_peak", StringType()),  # 'y'/'n'
        StructField("n_days", LongType()),  # emission horizon (grows)
    ]
)


def streaming_cusum_query(spark: SparkSession, in_dir: str, schema):
    """readStream(events parquet dir) -> groupBy(event_type) ->
    applyInPandasWithState order-free CUSUM level-shift localization
    over the accumulated daily-total map.  Caller supplies input dir +
    schema so tests can stage explicit micro-batches."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def track(key, pdfs, state):
        import datetime

        import pandas as pd

        (event_type,) = key
        acc: dict[str, int] = {}
        if state.exists:
            (packed,) = state.get
            if packed:
                for part in packed.split(";"):
                    d, v = part.split(":")
                    acc[d] = int(v)
        for pdf in pdfs:
            for d, c in zip(pdf["day"], pdf["cents"]):
                k = str(d)
                acc[k] = acc.get(k, 0) + int(c)
        state.update((";".join(f"{d}:{v}" for d, v in sorted(acc.items())),))

        days = sorted(acc)
        n = len(days)
        total = sum(acc.values())  # exact int == batch DECIMAL total
        p = 0
        nums = []
        for t, d in enumerate(days, start=1):
            p += acc[d]
            nums.append(n * p - t * total)  # exact: n*P_t - t*T
        peak = max(abs(v) for v in nums)
        yield pd.DataFrame(
            {
                "event_type": [event_type] * n,
                "day": [datetime.date.fromisoformat(d) for d in days],
                "value_cents": [acc[d] for d in days],
                # single IEEE division of exact ints: bit-identical to
                # the batch plan's decimal->double cast + divide
                "cusum_cents": [float(v) / float(n) for v in nums],
                "is_peak": ["y" if abs(v) == peak else "n" for v in nums],
                "n_days": [n] * n,
            }
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        # the batch query's exact day/cents expressions, JVM-side
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            track,
            outputStructType=CUSUM_OUTPUT_SCHEMA,
            stateStructType=CUSUM_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming heavy-hitter monitor: the continuous-ingest twin of the
# batch ``heavy_hitter_words`` (operators/text_analysis.py).  The batch
# query affords an exact vocabulary-bounded groupBy; a live ingest
# cannot hold an unbounded vocabulary in the state store, so this
# monitor runs SPACE-SAVING (Metwally et al. 2005, "Efficient
# computation of frequent and top-k elements in data streams") with a
# FIXED capacity of counters per shard -- the textbook bounded-state
# frequent-items sketch, with its two contracts kept testable:
#
#   * sandwich bound: for every tracked word,
#     ``est - err <= true_count <= est``;
#   * coverage: any word whose true shard count exceeds
#     ``n_tokens_shard / capacity`` is guaranteed tracked.
#
# Sharding: words are hash-partitioned into SS_SHARDS groups by the
# repo's portable md5 lane (every occurrence of a word lands in ONE
# shard), so state is ``SS_SHARDS x capacity`` counters total and the
# per-shard guarantee is at least as strong as the global one at the
# same relative threshold.  This is exactly how the sketch distributes
# at 100 TB: shard-local summaries, union for the report.
#
# Determinism discipline: classic Space-Saving is arrival-order
# dependent.  Here each micro-batch is pre-aggregated to (word, count)
# and merged in SORTED word order with weighted inserts, and eviction
# picks the lexicographically smallest minimum-count victim -- the
# result is a pure function of the sequence of micro-batch MULTISETS,
# so replays and retries (Spark may re-run a failed micro-batch) cannot
# change the table.  Exactness below capacity: while a shard has seen
# fewer distinct words than its capacity, no eviction has happened and
# every (word, est, err=0) is the exact count -- pinned against the
# batch word count in pytest; the above-capacity contracts are pinned
# on a skewed synthetic stream.
#
# State is three joined strings per shard (words, counts, errors) --
# O(capacity) per key, never O(vocabulary); one Arrow batch per shard
# per micro-batch.
# ---------------------------------------------------------------------------

SS_SHARDS = 8
SS_CAPACITY = 64  # counters per shard

SS_STATE_SCHEMA = StructType(
    [
        StructField("words", StringType()),   # \x1f-joined tracked words
        StructField("counts", StringType()),  # comma-joined exact ints
        StructField("errs", StringType()),    # comma-joined exact ints
        StructField("n_tokens", LongType()),  # shard stream length
    ]
)

SS_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("word", StringType()),
        StructField("est", LongType()),
        StructField("err", LongType()),
        StructField("n_tokens", LongType()),
    ]
)


def streaming_heavy_hitters_query(
    spark: SparkSession, in_dir: str, schema, capacity: int = SS_CAPACITY
):
    """readStream(documents parquet dir) -> tokenize -> shard by word
    hash -> applyInPandasWithState Space-Saving table per shard.
    Caller supplies input dir + schema so tests can stage explicit
    micro-batches (maxFilesPerTrigger=1)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions.hashing import md5_prefix
    from ..functions.text import tokens_df

    cap = int(capacity)

    def track(key, pdfs, state):
        import pandas as pd

        (shard,) = key
        if state.exists:
            words_s, counts_s, errs_s, n_tokens = state.get
            table: dict[str, list[int]] = {
                w: [int(c), int(e)]
                for w, c, e in zip(
                    words_s.split("\x1f") if words_s else [],
                    counts_s.split(",") if counts_s else [],
                    errs_s.split(",") if errs_s else [],
                )
            }
        else:
            table, n_tokens = {}, 0
        batch: dict[str, int] = {}
        for pdf in pdfs:
            for w in pdf["word"]:
                batch[w] = batch.get(w, 0) + 1
        for w in sorted(batch):  # sorted merge: order-free determinism
            c = batch[w]
            n_tokens += c
            if w in table:
                table[w][0] += c
            elif len(table) < cap:
                table[w] = [c, 0]
            else:
                # evict the lexicographically smallest minimum-count
                # entry (deterministic tie-break), inherit its count as
                # the overestimation error (weighted Space-Saving)
                victim = min(table, key=lambda k: (table[k][0], k))
                m = table[victim][0]
                del table[victim]
                table[w] = [m + c, m]
        ws = sorted(table)
        state.update(
            (
                "\x1f".join(ws),
                ",".join(str(table[w][0]) for w in ws),
                ",".join(str(table[w][1]) for w in ws),
                n_tokens,
            )
        )
        yield pd.DataFrame(
            {
                "shard": [shard] * len(ws),
                "word": ws,
                "est": [table[w][0] for w in ws],
                "err": [table[w][1] for w in ws],
                "n_tokens": [n_tokens] * len(ws),
            }
        )

    docs = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    toks = tokens_df(docs).select(
        "word",
        (md5_prefix("word") % SS_SHARDS).alias("shard"),
    )
    return toks.groupBy("shard").applyInPandasWithState(
        track,
        outputStructType=SS_OUTPUT_SCHEMA,
        stateStructType=SS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming weighted reservoir -- the continuous-ingest twin of the
# batch ``weighted_reservoir_sample``.  A-ES is MERGEABLE by
# construction (the reservoir is just the top-K items by the
# hash-derived key u^(1/w), and top-K of a union is top-K of top-Ks),
# so the stream maintains per-source state of at most RESERVOIR_K
# (doc_id, weight) pairs and re-emits the current reservoir each
# micro-batch.  Any ingest order, any batch split, yields the same
# final reservoir as the batch query over the same rows -- pinned
# BIT-EXACTLY in tests/test_streaming.py (two-split replay vs
# weighted_reservoir_sample).
#
# The selection key is recomputed from (doc_id, weight) on every merge
# -- state stays a K-pair csv, no float round-trips through state --
# with the IDENTICAL arithmetic the batch plan runs: u = (hex60(md5)
# mod P + 1)/2^31, ln squashed to the DECIMAL(18,9) quantum, one IEEE
# division by the weight.
#
# Scale posture: state is O(K) per source (constant), one Arrow batch
# per source per micro-batch; idle keys would take a timeout in a
# production variant, as with the other monitors.
# ---------------------------------------------------------------------------

RES_STATE_SCHEMA = StructType(
    [StructField("members", StringType())]  # csv of doc_id:weight pairs
)

RES_OUTPUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("sample_rank", LongType()),
        StructField("doc_id", LongType()),
        StructField("weight", LongType()),
        StructField("key", DoubleType()),
    ]
)


def _aes_key(doc_id: int, weight: int) -> float:
    """The batch plan's A-ES ranking key, recomputed exactly in Python
    (the same recompute tests/test_statistics.py proves bit-equal to the
    Spark expression)."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from ..functions.hashing import MINHASH_P

    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % MINHASH_P
    ln9 = Decimal(repr(math.log((h + 1) / 2147483648.0))).quantize(
        Decimal("1.000000000"), rounding=ROUND_HALF_UP
    )
    return float(ln9) / weight


def streaming_weighted_reservoir_query(spark: SparkSession, in_dir: str, schema):
    """readStream(documents parquet dir) -> groupBy(source) ->
    applyInPandasWithState A-ES top-K reservoir merge.  Caller supplies
    input dir + schema so tests can stage explicit micro-batches."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.statistics import RESERVOIR_K

    def merge(key, pdfs, state):
        import pandas as pd

        (source,) = key
        members: list[tuple[int, int]] = []
        if state.exists:
            (packed,) = state.get
            if packed:
                members = [
                    (int(d), int(w))
                    for d, w in (p.split(":") for p in packed.split(";"))
                ]
        for pdf in pdfs:
            members.extend(
                (int(d), int(w))
                for d, w in zip(pdf["doc_id"], pdf["n_chars"])
            )
        # top-K by (key desc, doc_id asc): identical order to the batch
        # window's ORDER BY key DESC, doc_id
        members.sort(key=lambda t: (-_aes_key(t[0], t[1]), t[0]))
        members = members[:RESERVOIR_K]
        state.update((";".join(f"{d}:{w}" for d, w in members),))
        yield pd.DataFrame(
            {
                "source": [source] * len(members),
                "sample_rank": list(range(1, len(members) + 1)),
                "doc_id": [d for d, _ in members],
                "weight": [w for _, w in members],
                "key": [_aes_key(d, w) for d, w in members],
            }
        )

    docs = spark.readStream.schema(schema).parquet(in_dir)
    return (
        docs.select("source", "doc_id", "n_chars")
        .groupBy("source")
        .applyInPandasWithState(
            merge,
            outputStructType=RES_OUTPUT_SCHEMA,
            stateStructType=RES_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming EWMA control-chart monitor: the continuous-ingest twin of
# the batch ``ewma_control_chart`` (operators/temporal.py).  Like the
# CUSUM monitor, the EWMA level z_t is a PREFIX statistic, so the state
# is the same order-free per-(type, day) daily-total map (commutative
# merge across micro-batches -- late/out-of-order events add into their
# day's cell) and each emission recomputes the chart from the sorted
# day map.  The result is a pure function of the events seen so far
# (replay/retry safe) and agrees with the batch query BIT-EXACTLY on
# the complete input (pinned in tests/test_streaming.py): the
# day-bucketing and cents-rounding run JVM-side with the batch query's
# exact expressions, mu/sigma come from exact integer sufficient
# statistics with the batch's IEEE chain, the z and (1-lambda)^(2t)
# recurrences are the same literal-coefficient multiplication chains
# (CPython and the JVM round each * and + identically), and the
# 6-decimal rounding reproduces Spark's round() via
# Decimal(repr(x)).quantize(HALF_UP) -- BigDecimal.valueOf uses the
# shortest double repr, exactly what repr() emits.
#
# Scale posture: state is O(#days) per event type (calendar-bounded,
# never O(events)); one Arrow batch per type per micro-batch; emission
# cost is |days| rows.
# ---------------------------------------------------------------------------

EWMA_STATE_SCHEMA = StructType(
    # "2024-01-03:123;..." -- sorted ISO day -> exact cents (CUSUM layout)
    [StructField("day_totals", StringType())]
)

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_days", LongType()),
        StructField("day_index", LongType()),
        StructField("day", DateType()),
        StructField("cents", LongType()),
        StructField("mu_cents", DoubleType()),
        StructField("sigma_cents", DoubleType()),
        StructField("ewma_cents", DoubleType()),
        StructField("ucl_cents", DoubleType()),
        StructField("lcl_cents", DoubleType()),
        StructField("out_of_control", StringType()),  # 'y'/'n'/'' (n<2)
    ]
)


def streaming_ewma_query(spark: SparkSession, in_dir: str, schema):
    """readStream(events parquet dir) -> groupBy(event_type) ->
    applyInPandasWithState order-free EWMA control chart over the
    accumulated daily-total map.  Caller supplies input dir + schema so
    tests can stage explicit micro-batches."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    lam = 0.2  # operators.temporal.EWMA_LAMBDA (literal: the closure
    ell = 3.0  # and EWMA_L must unpickle without importing the package)

    def track(key, pdfs, state):
        import datetime
        import math
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        def r6(x):
            # Spark round(x, 6): BigDecimal.valueOf(x) == repr(x)
            return float(
                Decimal(repr(x)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )

        (event_type,) = key
        acc: dict[str, int] = {}
        if state.exists:
            (packed,) = state.get
            if packed:
                for part in packed.split(";"):
                    d, v = part.split(":")
                    acc[d] = int(v)
        for pdf in pdfs:
            for d, c in zip(pdf["day"], pdf["cents"]):
                k = str(d)
                acc[k] = acc.get(k, 0) + int(c)
        state.update((";".join(f"{d}:{v}" for d, v in sorted(acc.items())),))

        days = sorted(acc)
        n = len(days)
        sx = sum(acc.values())
        sxx = sum(v * v for v in acc.values())
        # EXACT op-order mirror of operators.temporal.ewma_control_chart
        mu = float(sx) / float(n)
        sigma = (
            math.sqrt(
                (float(sxx) - float(sx) * float(sx) / float(n))
                / float(n - 1)
            )
            if n > 1
            else None
        )
        q = 1 - lam
        q2 = q * q
        z, w = mu, 1.0
        rows = []
        for t, d in enumerate(days, start=1):
            x = float(acc[d])
            z = lam * x + q * z
            w = q2 * w
            if n > 1:
                half = ell * sigma * math.sqrt(1.0 / 9.0 * (1.0 - w))
                ucl, lcl = mu + half, mu - half
                ooc = "y" if (z > ucl or z < lcl) else "n"
                rows.append(
                    (t, d, acc[d], r6(mu), r6(sigma), r6(z), r6(ucl),
                     r6(lcl), ooc)
                )
            else:
                rows.append(
                    (t, d, acc[d], r6(mu), None, r6(z), None, None, "")
                )
        yield pd.DataFrame(
            {
                "event_type": [event_type] * n,
                "n_days": [n] * n,
                "day_index": [r[0] for r in rows],
                "day": [datetime.date.fromisoformat(r[1]) for r in rows],
                "cents": [r[2] for r in rows],
                "mu_cents": [r[3] for r in rows],
                "sigma_cents": [r[4] for r in rows],
                "ewma_cents": [r[5] for r in rows],
                "ucl_cents": [r[6] for r in rows],
                "lcl_cents": [r[7] for r in rows],
                "out_of_control": [r[8] for r in rows],
            }
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        # the batch query's exact day/cents expressions, JVM-side
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            track,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming Poisson-bootstrap monitor: the continuous-ingest twin of the
# batch ``poisson_bootstrap_ci`` (operators/statistics.py).  The one-pass
# Poisson bootstrap is STREAMING-NATIVE by construction: the entire
# uncertainty state per event type is 2*B_BOOT + 2 exact integers (the
# replicate weighted sums and weights, plus n and sum), which merge
# commutatively across micro-batches -- so a live stream maintains a
# full bootstrap confidence interval with O(B) state and zero
# recomputation.  Emission mirrors the batch query's IEEE chain
# exactly (replicate means as single divisions of exact ints, CI from
# the sorted 64-array, SE from the ordered folds) and the per-row
# weights replay the identical md5 -> 31-bit lane -> affine variate ->
# pinned-threshold chain in Python ints -- pinned bit-exact vs batch in
# tests/test_streaming.py.
# ---------------------------------------------------------------------------

BOOT_STATE_SCHEMA = StructType(
    [StructField("packed", StringType())]  # "n,sx,s0..s63,m0..m63" ints
)

BOOT_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("mean_cents", DoubleType()),
        StructField("n_zero_replicates", LongType()),
        StructField("boot_lo_cents", DoubleType()),
        StructField("boot_hi_cents", DoubleType()),
        StructField("boot_se_cents", DoubleType()),
    ]
)


def streaming_bootstrap_query(spark: SparkSession, in_dir: str, schema):
    """readStream(events parquet dir) -> groupBy(event_type) ->
    applyInPandasWithState running Poisson-bootstrap CI."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # literals: the closure must unpickle without importing the package
    from ..functions.hashing import MINHASH_P as _P
    from ..operators.statistics import B_BOOT as _B
    from ..operators.statistics import BOOT_AB as _AB
    from ..operators.statistics import BOOT_T as _T

    P, B, AB, T = int(_P), int(_B), list(_AB), list(_T)

    def track(key, pdfs, state):
        import hashlib
        import math

        import pandas as pd

        (event_type,) = key
        if state.exists:
            (packed,) = state.get
            vals = [int(x) for x in packed.split(",")]
        else:
            vals = [0] * (2 + 2 * B)
        n, sx = vals[0], vals[1]
        s = vals[2 : 2 + B]
        m = vals[2 + B :]
        for pdf in pdfs:
            for eid, c in zip(pdf["event_id"], pdf["cents"]):
                c = int(c)
                n += 1
                sx += c
                h = (
                    int(
                        hashlib.md5(str(int(eid)).encode()).hexdigest()[:15],
                        16,
                    )
                    % P
                )
                for i, (a, b) in enumerate(AB):
                    u = (a * h + b) % P
                    w = 0
                    for t in T:
                        if u >= t:
                            w += 1
                    if w:
                        s[i] += w * c
                        m[i] += w
        state.update((",".join(map(str, [n, sx] + s + m)),))
        n_zero = sum(1 for x in m if x == 0)
        # EXACT op-order mirror of operators.statistics.poisson_bootstrap_ci
        mean = float(sx) / float(n)
        if n_zero == 0:
            ms = sorted(float(si) / float(mi) for si, mi in zip(s, m))
            lo, hi = ms[3], ms[60]  # element_at(.., 4) / (.., 61), 1-indexed
            bsum = 0.0
            bsumsq = 0.0
            for x in ms:
                bsum += x
                bsumsq += x * x
            se = math.sqrt(
                (bsumsq - bsum * bsum / float(B)) / float(B - 1)
            )
        else:
            lo = hi = se = None
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n_events": [n],
                "mean_cents": [mean],
                "n_zero_replicates": [n_zero],
                "boot_lo_cents": [lo],
                "boot_hi_cents": [hi],
                "boot_se_cents": [se],
            }
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        # the batch query's exact cents expression, JVM-side
        .select(
            "event_type",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            track,
            outputStructType=BOOT_OUTPUT_SCHEMA,
            stateStructType=BOOT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming SPRT conversion monitor: the continuous-ingest twin of the
# batch ``sprt_conversion_monitor`` (operators/statistics.py).  Wald's
# LLR is a PREFIX statistic over days (the CUSUM posture): the state
# is the per-day (trials, purchases) map, which merges COMMUTATIVELY
# across micro-batches -- late events just add into their day's cell
# -- and each emission recomputes the whole decision stream from the
# map in sorted-day order.  The LLR arithmetic uses the SAME pinned
# DECIMAL(18,9) log literals as the batch plan, carried as exact
# Python Decimals, so on the complete input the monitor agrees with
# the batch query BIT-EXACTLY (pinned in tests/test_streaming.py):
# x*L1 + (n-x)*L2 sums are exact decimal on both sides and
# float(Decimal) is the same correctly-rounded conversion as Spark's
# decimal->double cast.
#
# Scale posture: state is O(#days) -- calendar-bounded; one global
# group (the conversion series is corpus-wide), so a single Arrow
# batch per micro-batch; emission cost is |days| rows.  The decision
# FREEZES at the first boundary crossing exactly like the batch twin.
# ---------------------------------------------------------------------------

SPRT_STATE_SCHEMA = StructType(
    # "2024-01-03:412:80;..." -- sorted ISO day -> (n_events, n_purchases)
    [StructField("day_counts", StringType())]
)

SPRT_OUTPUT_SCHEMA = StructType(
    [
        StructField("day", DateType()),
        StructField("n_events", LongType()),
        StructField("n_purchases", LongType()),
        StructField("llr", DoubleType()),
        StructField("state", StringType()),
    ]
)


def streaming_sprt_query(spark: SparkSession, in_dir: str, schema):
    """readStream(events parquet dir) -> single global group ->
    applyInPandasWithState order-free Wald SPRT over the accumulated
    per-day (trials, purchases) map."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def track(key, pdfs, state):
        import datetime
        from decimal import Decimal

        import pandas as pd

        from ..operators.statistics import SPRT_A, SPRT_B, SPRT_L1, SPRT_L2

        acc: dict[str, tuple[int, int]] = {}
        if state.exists:
            (packed,) = state.get
            if packed:
                for part in packed.split(";"):
                    d, n, x = part.split(":")
                    acc[d] = (int(n), int(x))
        for pdf in pdfs:
            for d, is_p in zip(pdf["day"], pdf["is_purchase"]):
                k = str(d)
                n, x = acc.get(k, (0, 0))
                acc[k] = (n + 1, x + int(is_p))
        state.update(
            (";".join(f"{d}:{n}:{x}" for d, (n, x) in sorted(acc.items())),)
        )

        l1, l2 = Decimal(SPRT_L1), Decimal(SPRT_L2)
        a, b = Decimal(SPRT_A), Decimal(SPRT_B)
        days = sorted(acc)
        llr = Decimal(0)
        llrs = []
        h1_day = h0_day = None
        for d in days:
            n, x = acc[d]
            llr += x * l1 + (n - x) * l2
            llrs.append(llr)
            if llr >= a and h1_day is None:
                h1_day = d
            if llr <= b and h0_day is None:
                h0_day = d
        if h1_day is not None and (h0_day is None or h1_day <= h0_day):
            stop, verdict = h1_day, "accept_h1"
        elif h0_day is not None:
            stop, verdict = h0_day, "accept_h0"
        else:
            stop, verdict = None, None
        yield pd.DataFrame(
            {
                "day": [datetime.date.fromisoformat(d) for d in days],
                "n_events": [acc[d][0] for d in days],
                "n_purchases": [acc[d][1] for d in days],
                # float(Decimal): same correctly-rounded conversion as
                # the batch plan's decimal(38,9) -> double cast
                "llr": [float(v) for v in llrs],
                "state": [
                    "continue"
                    if stop is None or d < stop
                    else verdict
                    for d in days
                ],
            }
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        # the batch query's exact day/purchase expressions, JVM-side
        .select(
            F.to_date("ts").alias("day"),
            (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
            F.lit(1).alias("_g"),
        )
        .groupBy("_g")
        .applyInPandasWithState(
            track,
            outputStructType=SPRT_OUTPUT_SCHEMA,
            stateStructType=SPRT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
