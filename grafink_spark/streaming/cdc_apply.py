"""Streaming CDC apply: a change stream (upserts/deletes) maintained
as a managed parquet table.

Each microbatch is a changeset (rows carrying ``_op`` ∈ {I, U, D} and a
``_seq`` ordinal); ``cdc.merge_changes`` resolves it against the table
(latest change per key wins, deletes drop) and the result replaces the
table via an atomic filter-and-swap — the same recipe Delta/Iceberg's
MERGE INTO implements, expressed with stock Spark + a Hadoop-FS swap.

Exactly-once: a commit marker per ``batch_id`` (beside the table, like
graph_ingest) makes a replayed microbatch a no-op. The
merge itself is also idempotent for a given changeset — replaying
U/I/D on an already-merged table yields the same table — so even a
crash between swap and marker-touch cannot corrupt state; the marker
only skips redundant work.

At scale the swap rewrite is the simple-and-correct default; tables
with partition-localized churn should route through
``cdc.touched_partitions`` + ``replaceWhere``-style partition
overwrite instead of the full rewrite (same merge, bounded I/O).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafink_spark import fsutil
from grafink_spark.cdc import OP_COL, SEQ_COL, merge_changes


def apply_cdc_stream(
    changes_stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    key: str,
    available_now: bool = True,
):
    """Run the change stream; each microbatch merges into the table at
    ``table_path``. Returns the query handle (awaited when
    ``available_now``)."""
    spark = changes_stream.sparkSession
    payload_cols = [
        c for c in changes_stream.columns if c not in (OP_COL, SEQ_COL)
    ]

    def process(batch: DataFrame, batch_id: int) -> None:
        marker = os.path.join(
            table_path.rstrip("/") + "_commits", str(batch_id)
        )
        tmp = table_path.rstrip("/") + "__merge_tmp"
        # a crash INSIDE a previous swap (target deleted, tmp not yet
        # renamed) leaves the table missing and the fully-merged tmp
        # behind — finish that rename BEFORE the missing-path check
        # below, or the replay would bootstrap from empty and lose
        # every previously merged batch
        fsutil.complete_interrupted_swap(spark, tmp, table_path)
        if fsutil.exists(spark, marker):
            return
        try:
            base = spark.read.parquet(table_path)
        except Exception as e:
            from grafink_spark.id_manager import _is_path_empty_error

            # ONLY a missing/empty table bootstraps from scratch — a
            # corrupt/unreadable table must fail loudly, or the merge
            # below would swap the damaged-but-recoverable data away
            if not _is_path_empty_error(e):
                raise
            base = None
        if base is None:
            merged = merge_changes(
                spark.createDataFrame([], batch.select(*payload_cols).schema),
                batch,
                key,
            )
        else:
            merged = merge_changes(base, batch, key)
        merged.write.mode("overwrite").parquet(tmp)
        fsutil.swap(spark, tmp, table_path)
        fsutil.touch(spark, marker)

    writer = (
        changes_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()
