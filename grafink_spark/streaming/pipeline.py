"""Structured-streaming ingestion.

The reference is strictly daily batch (SURVEY §1.1: no streams); its
"incremental" story is append + new-vs-loaded joins. For a modern
pipeline we add the streaming path: the same events/alerts tables as an
unbounded source, with watermarked tumbling-window aggregation and an
``availableNow`` trigger so the identical code runs as an incremental
batch (the Spark-native replacement for grafink's daily cron).

At scale: file-source streaming reads only new files per microbatch;
the windowed agg keeps state bounded by the watermark; sinks are
exactly-once via checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# legacy driver format: INT64 TIMESTAMP(NANOS), read as long with the
# nanosAsLong flag and rebuilt via timestamp_micros below
EVENTS_SCHEMA = _events_schema(T.LongType())


def _source_ts_type(spark: SparkSession, path: str) -> T.DataType:
    """Probe existing files for the physical ts encoding — the driver's
    generator has shipped both TIMESTAMP(NANOS)-as-long and
    TIMESTAMP(MICROS, ntz) over time."""
    try:
        schema = spark.read.parquet(path).schema
    except Exception:
        return T.LongType()
    for f in schema.fields:
        if f.name == "ts":
            return f.dataType
    return T.LongType()


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over an events parquet directory; ts is
    normalized to TimestampType whatever the source encoding."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = _source_ts_type(spark, path)
    reader = spark.readStream.schema(_events_schema(ts_type))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if isinstance(ts_type, T.LongType):
        return df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts + value sum per event_type; the watermark
    bounds state and defines late-data drop semantics."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration).alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_to_parquet(
    result: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = True,
) -> None:
    """Run the stream to a parquet sink. ``available_now`` processes the
    current backlog then stops — incremental batch semantics (what the
    reference's daily job would be in Structured Streaming)."""
    writer = (
        result.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        writer.trigger(processingTime="10 seconds").start()


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    bound: str = "1 hour",
    watermark: str = "2 hours",
    right_suffix: str = "_r",
    how: str = "inner",
) -> DataFrame:
    """Event-time bounded stream-stream join: each left row pairs
    with right rows of the same key whose timestamp lies in
    ``[left_ts - bound, left_ts]`` (the "enrich with recent context"
    shape — clicks with the views that preceded them).

    ``how='left_outer'`` additionally emits unmatched left rows with
    null right columns — in streaming mode those nulls surface only
    once the watermark passes the row's join window (the engine must
    prove no future match can arrive), so a drained availableNow run
    can legitimately hold back trailing unmatched rows whose windows
    the final watermark never closed; the batch twin emits them all.

    Both sides carry watermarks and the join condition bounds event
    time on BOTH sides, so Spark can expire buffered state: a side's
    rows are dropped once the other side's watermark passes
    ts + bound. Without the time bound the state store would grow
    forever — that construction is rejected by Spark for good reason.

    Works identically on bounded inputs (batch twin = the same join
    condition), which is how the oracle checks it.
    """
    r_cols = [c for c in right.columns if c != on]
    r = right.select(
        F.col(on).alias("_jk"),
        *[F.col(c).alias(f"{c}{right_suffix}") for c in r_cols],
    )
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        r = r.withWatermark(f"{right_ts}{right_suffix}", watermark)
    rts = F.col(f"{right_ts}{right_suffix}")
    cond = (
        (F.col(on) == F.col("_jk"))
        & (rts >= F.col(left_ts) - F.expr(f"interval {bound}"))
        & (rts <= F.col(left_ts))
    )
    return left.join(r, cond, how).drop("_jk")


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join a streaming DataFrame against a
    bounded dimension table. Spark plans this as a per-microbatch
    broadcast (or shuffled) join with NO streaming state — the static
    side is re-resolved each microbatch, so a dimension table that is
    overwritten between batches is picked up automatically (slowly
    changing dimension, refresh-on-read).

    At scale: keep the dim table compact (or pre-bucketed on the key)
    — the join runs once per microbatch. Inner/left joins are the
    stream-static shapes Spark supports without watermarks."""
    return events.join(dim, on, how)
