"""Shared crash-replay purge for the foreachBatch exactly-once recipe.

The recipe (graph_ingest carries a multi-target variant of these
steps): tag every appended row with the microbatch id, touch a commit
marker AFTER the append, skip a
replayed batch whose marker exists, and — when the marker is missing
but tagged rows exist — purge the crashed attempt's rows before
re-appending. This module holds the purge so the protocol can't drift
between ingests (it already had: one copy filtered
``BATCH_COL != batch_id``, which is NULL — row dropped — for every
PRE-EXISTING untagged row, so a single crashed batch would have purged
the entire resident store)."""

from __future__ import annotations

from pyspark.sql import functions as F

from grafink_spark import fsutil

BATCH_COL = "_ingest_batch_id"


def purge_batch_rows(
    spark,
    path: str,
    batch_id: int,
    part_cols=None,
) -> None:
    """Rewrite the parquet dir at ``path`` without ``batch_id``'s tagged
    rows (filter-and-swap, remote-URI safe). NULL-SAFE on the batch
    column: rows from before the stream existed (no tag) always
    survive. Completes a previous purge's interrupted swap first; a
    missing/empty dir is a no-op; an unreadable (corrupt) dir raises —
    silently skipping a purge would double-append. ``part_cols`` is a
    column list or a callable ``(df) -> list`` for layouts whose
    partition columns must be probed from the data (graph stores keep
    whatever of year/month/day the alerts carried)."""
    tmp = path.rstrip("/") + "__purge_tmp"
    fsutil.complete_interrupted_swap(spark, tmp, path)
    try:
        # mergeSchema: stores seeded by a batch writer (no tag column)
        # and appended by the stream (tagged) mix schemas; default
        # footer sampling could miss BATCH_COL and skip the purge
        df = (
            spark.read.option("basePath", path)
            .option("mergeSchema", "true")
            .parquet(path)
        )
    except Exception as e:
        from grafink_spark.id_manager import _is_path_empty_error

        if _is_path_empty_error(e):
            return
        raise
    if BATCH_COL not in df.columns:
        return
    if df.where(F.col(BATCH_COL) == batch_id).limit(1).count() == 0:
        return
    remaining = df.where(
        F.col(BATCH_COL).isNull() | (F.col(BATCH_COL) != batch_id)
    )
    if callable(part_cols):
        part_cols = part_cols(df)
    writer = remaining.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(tmp)
    fsutil.swap(spark, tmp, path)
