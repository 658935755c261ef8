"""Structured-streaming pipeline: events file-stream → watermarked
windowed agg → parquet sink, batch-equivalence checked."""

import os
import shutil

from pyspark.sql import functions as F

from grafink_spark.sources.tables import load_table
from grafink_spark.streaming.pipeline import (
    read_event_stream,
    run_stream_to_parquet,
    windowed_event_counts,
)

SRC = "/root/testdata/sf0.001/events.parquet"


def test_stream_matches_batch(spark, tmp_path):
    src_dir = str(tmp_path / "events_src")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(SRC, os.path.join(src_dir, "part-0.parquet"))

    stream = read_event_stream(spark, src_dir)
    assert stream.isStreaming
    result = windowed_event_counts(stream, "1 hour", "2 hours")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_stream_to_parquet(result, out, ckpt, available_now=True)

    got = spark.read.parquet(out)
    batch = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )
    # append-mode stream emits only windows closed by the watermark;
    # every emitted row must match the batch computation exactly
    assert got.count() > 0
    joined = got.join(
        batch.select(
            F.col("window.start").alias("window_start"),
            "event_type",
            F.col("n_events").alias("b_n"),
            F.col("sum_value").alias("b_sum"),
        ),
        ["window_start", "event_type"],
        "inner",
    )
    assert joined.count() == got.count()
    mismatches = joined.where(
        (F.col("n_events") != F.col("b_n"))
        | (F.abs(F.col("sum_value") - F.col("b_sum")) > 1e-9)
    )
    assert mismatches.count() == 0

    # incremental: append a second file with 30-days-later events (keep
    # ts as long nanos like the source), rerun with availableNow — only
    # the new backlog is processed, output grows
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    later = spark.read.parquet(SRC)
    later = later.withColumn(
        "ts",
        F.col("ts") + F.lit(30 * 24 * 3600 * 10**9)
        if dict(later.dtypes)["ts"] == "bigint"  # legacy long-nanos files
        else F.col("ts") + F.expr("INTERVAL 30 DAYS"),
    )
    later.coalesce(1).write.mode("append").parquet(src_dir)
    run_stream_to_parquet(
        windowed_event_counts(read_event_stream(spark, src_dir), "1 hour", "2 hours"),
        out,
        ckpt,
        available_now=True,
    )
    got2 = spark.read.parquet(out)
    assert got2.count() > got.count()


def test_interval_join_streams_matches_batch(spark, tmp_path):
    from grafink_spark.streaming.pipeline import interval_join_streams

    src_dir = str(tmp_path / "ij_src")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(SRC, os.path.join(src_dir, "part-0.parquet"))

    def split(df):
        purchases = df.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        clicks = df.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        return purchases, clicks

    # streaming run: both sides from the same file stream
    sp, sc = split(read_event_stream(spark, src_dir))
    joined = interval_join_streams(
        sp, sc, on="user_id", bound="1 hour", watermark="2 hours"
    )
    out = str(tmp_path / "ij_out")
    ckpt = str(tmp_path / "ij_ckpt")
    run_stream_to_parquet(joined, out, ckpt, available_now=True)
    got = {
        (r.event_id, r.event_id_r)
        for r in spark.read.parquet(out).collect()
    }

    # batch twin: identical operator on the bounded table
    bp, bc = split(load_table(spark, "/root/testdata/sf0.001", "events"))
    expected = {
        (r.event_id, r.event_id_r)
        for r in interval_join_streams(
            bp, bc, on="user_id", bound="1 hour"
        ).collect()
    }
    assert len(expected) > 0
    # append-mode stream-stream inner join emits exactly the batch set
    # (availableNow drains the full backlog; watermark only bounds state)
    assert got == expected


def test_interval_join_left_outer_streaming(spark, tmp_path):
    from grafink_spark.streaming.pipeline import interval_join_streams

    src_dir = str(tmp_path / "ijl_src")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(SRC, os.path.join(src_dir, "part-0.parquet"))

    def split(df):
        p = df.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        c = df.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        return p, c

    sp, sc = split(read_event_stream(spark, src_dir))
    joined = interval_join_streams(
        sp, sc, on="user_id", bound="1 hour", watermark="2 hours",
        how="left_outer",
    )
    out = str(tmp_path / "ijl_out")
    ckpt = str(tmp_path / "ijl_ckpt")
    run_stream_to_parquet(joined, out, ckpt, available_now=True)
    got = {
        (r.event_id, r.event_id_r)
        for r in spark.read.parquet(out).collect()
    }

    bp, bc = split(load_table(spark, "/root/testdata/sf0.001", "events"))
    batch = {
        (r.event_id, r.event_id_r)
        for r in interval_join_streams(
            bp, bc, on="user_id", bound="1 hour", how="left_outer"
        ).collect()
    }
    inner = {(a, b) for a, b in batch if b is not None}
    # every matched pair must stream through; null (unmatched) rows are
    # a subset of the batch twin's — the final watermark may not close
    # every trailing window (documented Spark semantics)
    assert inner <= got
    assert got <= batch
    assert len(batch) > len(inner)  # the dataset does have lonely purchases


def test_session_window_stream_matches_batch(spark, tmp_path):
    """Native session_window on a stream: watermark-bounded merging
    state, append-mode emission; every emitted session must equal the
    batch twin exactly."""
    from grafink_spark.timeseries import session_window_agg

    src_dir = str(tmp_path / "sess_src")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(SRC, os.path.join(src_dir, "part-0.parquet"))

    stream = read_event_stream(spark, src_dir).select("user_id", "ts", "value")
    result = session_window_agg(stream, gap="30 minutes", watermark="2 hours")
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    run_stream_to_parquet(result, out, ckpt, available_now=True)

    got = spark.read.parquet(out)
    assert got.count() > 0
    batch = session_window_agg(
        load_table(spark, "/root/testdata/sf0.001", "events").select(
            "user_id", "ts", "value"
        ),
        gap="30 minutes",
    )
    # append mode emits only watermark-closed sessions; each must match
    # the batch computation row-for-row
    joined = got.alias("g").join(
        batch.alias("b"),
        (F.col("g.user_id") == F.col("b.user_id"))
        & (F.col("g.session_start") == F.col("b.session_start")),
        "inner",
    )
    matched = joined.where(
        (F.col("g.session_end") == F.col("b.session_end"))
        & (F.col("g.n_events") == F.col("b.n_events"))
        & (F.abs(F.col("g.sum_value") - F.col("b.sum_value")) < 1e-9)
    )
    assert matched.count() == got.count()


def test_stream_static_enrichment(spark, tmp_path):
    """Stream-static join: every emitted row carries the dimension
    attributes; rows without a dim match keep nulls (left join)."""
    from grafink_spark.streaming.pipeline import enrich_stream

    src_dir = str(tmp_path / "enrich_src")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(SRC, os.path.join(src_dir, "part-0.parquet"))

    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue")],
        "event_type string, category string",
    )
    stream = read_event_stream(spark, src_dir).select(
        "event_id", "event_type", "value"
    )
    out = str(tmp_path / "enrich_out")
    ckpt = str(tmp_path / "enrich_ckpt")
    q = (
        enrich_stream(stream, dim, on="event_type")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out)
    batch = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type"
    )
    assert got.count() == batch.count()  # left join: nothing dropped
    cats = {
        r.event_type: r.category
        for r in got.where(F.col("category").isNotNull())
        .select("event_type", "category")
        .distinct()
        .collect()
    }
    assert cats == {"click": "engagement", "purchase": "revenue"}
    assert (
        got.where(
            (F.col("event_type") == "click")
            & (F.col("category") != "engagement")
        ).count()
        == 0
    )
