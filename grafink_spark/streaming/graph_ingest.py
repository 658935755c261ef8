"""Streaming graph construction — the reference's daily batch job as a
Structured Streaming pipeline, with exactly-once microbatches.

The reference (Job.scala:71-115) runs once per day over yesterday's
partition. Here the same stages — consecutive id assignment, edge
classification against previously loaded vertices, graph-table sink —
run per microbatch via ``foreachBatch``: the streaming engine tracks
which input files are new (checkpointed), and each batch plays the role
of one "day".

Semantics match the batch job exactly because every stage already
distinguishes *loaded* (everything previously ingested, read from the
id store) from *current* (this batch): new×new and new×old edges both
materialize, ids continue consecutively from the store's max.

Delivery is **exactly-once** on top of plain parquet appends:

1. every row written by a batch (id store, vertices, edges) carries an
   ``_ingest_batch_id`` column;
2. a start marker ``<graph root>/_ingest_commits/<batch_id>.started``
   is written strictly *before* the first append, and a commit marker
   ``<graph root>/_ingest_commits/<batch_id>`` strictly *after* all
   appends succeed (the start marker is then removed);
3. on entry, a batch whose commit marker already exists is skipped
   outright (the retry of a batch that crashed after commit but before
   checkpoint advance), and a batch with a start marker but no commit
   marker first purges any rows tagged with its batch_id (the retry of
   a batch that crashed mid-append), then re-runs cleanly. A batch with
   neither marker never appended anything, so it runs without a purge.

The purge is a filter-and-swap rewrite — it only ever executes on
crash recovery, never in the steady state (where even probing the
three stores for tagged rows would cost a schema-merge read and a
count each), so its full-table cost is paid exactly when a batch
actually failed half-written. Id continuity
survives too: purging the failed batch's id-store rows rolls max(id)
back, so the replay assigns the same ids the crashed attempt did.
"""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafink_spark import fsutil
from grafink_spark.graph.catalog import GraphCatalog
from grafink_spark.graph.storage import GraphStore
from grafink_spark.id_manager import IDManager
from grafink_spark.job import load_batch
from grafink_spark.rules.base import ClassifierRule
from grafink_spark.streaming.exactly_once import BATCH_COL, purge_batch_rows


log = logging.getLogger(__name__)


def _commit_marker(store: GraphStore, batch_id: int) -> str:
    return os.path.join(store.root, "_ingest_commits", str(batch_id))


def _date_parts(df) -> list:
    """Preserve whatever of the hive date partitioning the alerts
    carried (year/month/day columns are optional in the id store and
    vertex store layouts)."""
    return [c for c in ("year", "month", "day") if c in df.columns]


def _purge_batch(
    id_manager: IDManager, store: GraphStore, batch_id: int
) -> None:
    """Remove every row a crashed attempt of ``batch_id`` appended —
    the shared null-safe purge (streaming/exactly_once.py) applied to
    each graph-side store; the same filter-and-swap, interrupted-swap
    recovery, and missing/empty handling as the corpus and ANN
    ingests."""
    spark = store.spark
    targets = [
        (id_manager.config.dataPath, _date_parts),
        (store.vertex_path, _date_parts),
        (store.edge_path, ["label"]),
    ]
    for path, part_cols in targets:
        purge_batch_rows(spark, path, batch_id, part_cols=part_cols)


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    id_manager: IDManager,
    store: GraphStore,
    rules: list[ClassifierRule],
    vertex_label: str = "alert",
) -> None:
    """Process one microbatch exactly once (idempotent under replay).
    Exposed separately from the stream wiring so crash/replay behavior
    is directly testable. Logs ``load_batch``'s phase record as one
    JSON line per committed batch; an empty batch, or a replay of an
    already committed one, logs nothing."""
    if not batch_df.take(1):
        return
    spark = store.spark
    marker = _commit_marker(store, batch_id)
    if fsutil.exists(spark, marker):
        return  # batch fully committed on a previous attempt
    started = marker + ".started"
    if fsutil.exists(spark, started):
        _purge_batch(id_manager, store, batch_id)  # clear partial leftovers
    else:
        fsutil.touch(spark, started)

    phases = load_batch(
        batch_df.withColumn(BATCH_COL, F.lit(batch_id)),
        id_manager,
        store,
        GraphCatalog(store.root),
        rules,
        vertex_label,
        tags={BATCH_COL: batch_id},
    )
    fsutil.touch(spark, marker)
    fsutil.delete(spark, started)
    log.info(
        "%s", json.dumps({"event": "ingest_batch", "batch_id": batch_id, **phases})
    )


def stream_to_graph(
    stream: DataFrame,
    id_manager: IDManager,
    store: GraphStore,
    rules: list[ClassifierRule],
    checkpoint_path: str,
    vertex_label: str = "alert",
    available_now: bool = True,
):
    """Run a streaming DataFrame of alert-shaped rows into the graph
    store. Returns the StreamingQuery (already started; terminated
    before return when ``available_now``)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch_df, batch_id, id_manager, store, rules, vertex_label
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.trigger(processingTime="30 seconds").start()
    return q
