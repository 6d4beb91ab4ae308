"""Streaming materialized-view maintenance: an event stream kept rolled up
into the incremental DailyRollup table (operators/rollup.py) — the
streaming form of the 'hypertable rollup' pattern.

Every micro-batch does two idempotent steps inside ``foreachBatch``:

1. land the batch in the record store under a DETERMINISTIC
   ``batch_id=<n>`` directory with overwrite mode, sub-partitioned by day
   (``day_p`` DATE) — a replayed batch overwrites its own files, so the
   system of record never duplicates (the standard exactly-once
   foreachBatch idiom: deterministic target + overwrite, no transaction
   log needed);
2. refresh the rollup for exactly the days the batch touches, recomputing
   them from the record store — recompute-from-source is naturally
   idempotent, so a replay after a crash between steps converges to the
   same rollup state.

Late rows for an old day land in a new batch but correctly re-dirty and
recompute that old day — the batch-side analog of watermark-window
invalidation. Because the record store is partitioned by day, the
dirty-day filter reaches the scan as a PartitionFilter and each refresh
reads only the touched day directories: both steps are genuinely
O(batch + dirty days), never O(history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnarchive_spark.operators.rollup import DailyRollup
from hnarchive_spark.streaming.index_maint import stream_maintenance


def stream_rollup(
    events_stream: DataFrame,
    record_path: str,
    rollup: DailyRollup,
    checkpoint_dir: str,
):
    """events stream -> record store + maintained daily rollup.

    ``events_stream`` needs (ts, <key_col>, <value_col>) matching the
    rollup's configuration. Returns the started StreamingQuery.
    """
    spark = events_stream.sparkSession

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Land the batch partitioned by day (day_p DATE) inside its
        # deterministic batch_id directory: the refresh's dirty-day filter
        # then prunes to exactly the touched day partitions across ALL
        # batches instead of rescanning full history (a batch_id-only layout
        # cannot prune a day predicate).
        (
            batch_df.withColumn("day_p", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("day_p")
            .parquet(f"{record_path}/batch_id={batch_id}")
        )
        record = spark.read.parquet(record_path).drop("batch_id")
        rollup.refresh(record, batch_df)

    return stream_maintenance(events_stream, apply, checkpoint_dir)


def rollup_equals_batch(rollup: DailyRollup, record: DataFrame) -> bool:
    """Test helper: does the maintained rollup equal a from-scratch batch
    aggregate of the record store?"""
    cols = ["day", rollup.key_col, "n", "total", "vmin", "vmax"]
    maintained = rollup.read().select(*cols)
    fresh = rollup._aggregate(record).select(*cols)
    return maintained.exceptAll(fresh).isEmpty() and fresh.exceptAll(maintained).isEmpty()
