"""Incremental snapshot maintenance: streaming foreachBatch MERGE.

The streaming counterpart of ``operators.pipeline.merge_upsert_orders``:
a purchase event stream continuously maintains a latest-purchase-per-user
snapshot.  Each micro-batch is reduced to its own latest-per-user rows,
then merged with the previous snapshot (union + window max -- the same
plan a MERGE INTO compiles to when change keys overlap snapshot keys).

Exactly-once posture: every batch writes a NEW versioned snapshot
directory keyed by ``batch_id`` (``snap_v{batch_id}``).  A replayed batch
(restart mid-commit) rewrites the same directory with the same content --
idempotent -- and readers always follow the latest completed version, the
transaction-log pattern lakehouse tables use.  At 100 TB the union+window
re-shuffles only |snapshot|+|batch| rows on the merge key; partitioning
both sides by user bucket would make it a co-located merge.

The reference has no streaming at all (SURVEY.md §2 "explicitly
absent"); this is north-star surface, pytest-verified against the batch
twin ``purchase_snapshot_latest`` (which IS oracle-checked by DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from ..sources.tables import read_parquet

N_STREAM_CHUNKS = 4


def purchase_snapshot_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin: the latest purchase per user (ts, then event_id as the
    deterministic tie-break), i.e. what the maintained snapshot must
    converge to after the stream drains."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "value")
        .orderBy("user_id")
    )


PURCHASE_SNAPSHOT_ORACLE = """
    SELECT user_id, event_id, ts, value
    FROM (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE event_type = 'purchase'
    )
    WHERE rn = 1
    ORDER BY user_id
"""


def _latest_per_user(df: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def run_snapshot_maintenance(
    spark: SparkSession, sf_dir: str, work_dir: str, n_chunks: int = N_STREAM_CHUNKS
) -> tuple[str, int]:
    """Drive the foreachBatch merge over a chunked purchase stream.

    Splits the purchase events into ``n_chunks`` parquet files, streams
    them one file per trigger, and folds each micro-batch into the
    versioned snapshot.  Returns (final snapshot dir, batches applied).
    """
    in_dir = os.path.join(work_dir, "incoming")
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cols = ["event_id", "ts", "user_id", "value"]
    for c in range(n_chunks):
        (
            ev.filter(F.col("event_id") % n_chunks == c)
            .select(*cols)
            .coalesce(1)
            .write.mode("append")
            .parquet(in_dir)
        )

    state = {"dir": None, "batches": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        latest = _latest_per_user(batch_df)
        if state["dir"] is not None:
            prev = session.read.parquet(state["dir"])
            latest = _latest_per_user(prev.unionByName(latest))
        out = os.path.join(work_dir, f"snap_v{batch_id}")
        latest.write.mode("overwrite").parquet(out)
        state["dir"] = out
        state["batches"] += 1

    schema = read_parquet(spark, in_dir).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return state["dir"], state["batches"]
