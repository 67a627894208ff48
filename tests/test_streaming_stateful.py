"""applyInPandasWithState + watermark tests (streaming-native state)."""

from __future__ import annotations

import glob
import os
import time

import pytest

#: heavy streaming/e2e tail — excluded from the fast path
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from tigate_spark.sources.changes import changes_stream, normalize_events
from tigate_spark.streaming.changefeed import run_available_now
from tigate_spark.streaming.stateful import first_seen, windowed_counts


@pytest.fixture(scope="module")
def chunked_source(spark, sf_dir, tmp_path_factory):
    """events split into 4 files by event_id quartile (ascending seq)."""
    src = str(tmp_path_factory.mktemp("ev4"))
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    qs = ev.approxQuantile("event_id", [0.25, 0.5, 0.75], 0.0)
    bounds = [float("-inf"), *qs, float("inf")]
    flat = str(tmp_path_factory.mktemp("ev4_flat"))
    for i in range(4):
        part = ev.filter(
            (F.col("event_id") > bounds[i]) & (F.col("event_id") <= bounds[i + 1])
        )
        d = os.path.join(src, f"c{i}")
        part.coalesce(1).write.parquet(d)
        for f in sorted(glob.glob(os.path.join(d, "part-*.parquet"))):
            dst = os.path.join(flat, f"{i:02d}.parquet")
            os.link(f, dst)
            os.utime(dst, (time.time() + i, time.time() + i))
    return flat


def _stream(spark, path):
    schema = spark.read.parquet(path).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    return normalize_events(raw)


def test_first_seen_dedup_across_batches(spark, sf_dir, chunked_source, tmp_path):
    ch = _stream(spark, chunked_source)
    keyed = ch.withColumn(
        "k", F.concat_ws(":", F.col("table_id"), F.col("pk"))
    )
    out = first_seen(keyed, "k", "pk", "seq")
    run_available_now(
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out")),
        str(tmp_path / "ckpt"))
    got = spark.read.parquet(str(tmp_path / "out"))
    # chunks ascend in seq, so the first batch containing a key holds its
    # global min seq → output == batch min(seq) per key
    exp = (
        changes_stream(spark, sf_dir)
        .groupBy(F.concat_ws(":", F.col("table_id"), F.col("pk")).alias("group_key"))
        .agg(F.min("seq").alias("first_seq"))
    )
    assert got.count() == exp.count()
    j = got.join(exp, "group_key", "full_outer").filter(
        got["first_seq"] != exp["first_seq"]
    )
    assert j.count() == 0
    # every key emitted exactly once despite appearing in several batches
    assert got.groupBy("group_key").count().filter("count > 1").count() == 0


def test_windowed_counts_with_watermark(spark, sf_dir, chunked_source, tmp_path):
    ch = _stream(spark, chunked_source)
    agg = windowed_counts(ch, window="1 hour", watermark_delay="30 minutes")
    run_available_now(
        agg.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .outputMode("append"),
        str(tmp_path / "ckpt"))
    got = spark.read.parquet(str(tmp_path / "out"))
    # append mode only emits windows the final watermark passed; every
    # emitted window must match the batch count exactly
    batch = (
        changes_stream(spark, sf_dir)
        .withColumn("commit_time", F.timestamp_micros(F.col("commit_ts")))
        .groupBy(F.window("commit_time", "1 hour").alias("w"), "table_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "table_id",
                F.col("n_events").alias("exp_events"))
    )
    assert got.count() > 0
    bad = got.join(batch, ["window_start", "table_id"], "left").filter(
        (F.col("exp_events").isNull()) | (F.col("exp_events") != F.col("n_events"))
    )
    assert bad.count() == 0


def test_late_rows_dropped_by_watermark(spark, tmp_path):
    """A row arriving in batch 2 with event time older than the advanced
    watermark is dropped (T9)."""
    import pandas as pd

    base_us = 1_699_999_200_000_000  # stable epoch µs, hour-aligned
    hour = 3600 * 1_000_000

    def mk(path, rows, order):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                          "event_type", "value", "props"])
        sdf = spark.createDataFrame(pdf)
        d = str(tmp_path / f"w{order}")
        sdf.coalesce(1).write.parquet(d)
        f = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = str(tmp_path / "src" / f"{order:02d}.parquet")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.link(f, dst)
        os.utime(dst, (time.time() + order, time.time() + order))

    # batch 0: events in hours 0..3 → watermark (effective from batch 2,
    # it lags one batch) = h3 - 30min
    mk(None, [(i, (base_us + (i % 4) * hour) * 1000, i, "click", 1.0, "{}")
              for i in range(40)], 0)
    # batch 1: rows at hour 4 (advance the clock)
    mk(None, [(200 + i, (base_us + 4 * hour) * 1000, i, "click", 1.0, "{}")
          for i in range(10)], 1)
    # batch 2: one LATE row at hour 0 — far below the now-effective
    # watermark → dropped by the state operator (T9)
    mk(None, [(100, (base_us + 0 * hour) * 1000, 100, "click", 1.0, "{}")], 2)

    src = str(tmp_path / "src")
    ch = _stream(spark, src)
    agg = windowed_counts(ch, window="1 hour", watermark_delay="30 minutes")
    run_available_now(
        agg.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .outputMode("append"),
        str(tmp_path / "ckpt"))
    got = spark.read.parquet(str(tmp_path / "out"))
    h0 = got.filter(F.col("window_start") == F.timestamp_micros(F.lit(base_us)))
    # hour-0 window closed in batch 1; the late row must NOT be counted:
    # batch 0 put 10 rows in hour 0 (i%4==0), late row would make 11
    counts = [r["n_events"] for r in h0.collect()]
    assert sum(counts) == 10


def test_drop_duplicates_within_watermark(spark, sf_dir, chunked_source, tmp_path):
    """Spark's built-in streaming dedup (dropDuplicatesWithinWatermark)
    agrees with batch distinct-key counting — state is bounded by the
    watermark horizon instead of growing forever (the built-in
    alternative to the applyInPandasWithState first_seen operator)."""
    ch = _stream(spark, chunked_source).withColumn(
        "commit_time", F.timestamp_micros(F.col("commit_ts"))
    )
    dedup = (
        ch.withWatermark("commit_time", "10 seconds")
        .dropDuplicatesWithinWatermark(["table_id", "pk"])
    )
    run_available_now(
        dedup.writeStream.format("parquet")
        .option("path", str(tmp_path / "out")),
        str(tmp_path / "ckpt"))
    got = spark.read.parquet(str(tmp_path / "out"))
    exp = changes_stream(spark, sf_dir).select("table_id", "pk").distinct().count()
    # every key emitted at least once; duplicates only across expired
    # watermark horizons (none here — the stream spans < horizon per key
    # in most cases); at minimum: distinct keys covered, no same-batch dups
    assert got.select("table_id", "pk").distinct().count() == exp
    assert got.count() >= exp


def test_txn_match_cross_batch_state(spark, sf_dir, tmp_path):
    """S2 stream-stream join: a prewrite that arrives a micro-batch BEFORE
    its commit must be held in join state and still match (the reference's
    unmatched-prewrite cache, txn_matcher.go:42-110). Commits are split
    into two files (below/above the median commit_ts) so batch 2's
    commits can only match prewrites buffered from batch 1."""
    from tigate_spark.operators.txn import match_prewrite_commit_streams

    ch = changes_stream(spark, sf_dir)
    pre_b = ch.select(
        "start_ts", "pk", "value_cents", "event_type", "seq",
        F.timestamp_micros("start_ts").alias("p_time"),
    )
    com_b = ch.select(
        "start_ts", "pk", "commit_ts",
        F.timestamp_micros("commit_ts").alias("c_time"),
    )
    expected = (
        com_b.alias("c")
        .join(
            pre_b.alias("p"),
            (F.col("c.start_ts") == F.col("p.start_ts"))
            & (F.col("c.pk") == F.col("p.pk")),
        )
        .count()
    )
    med = int(com_b.approxQuantile("commit_ts", [0.5], 0.0)[0])
    pre_dir, com_dir = str(tmp_path / "pre"), str(tmp_path / "com")
    pre_b.coalesce(1).write.parquet(pre_dir)
    com_b.filter(F.col("commit_ts") <= med).coalesce(1).write.parquet(com_dir)
    time.sleep(1.1)  # distinct mtimes so file order (→ batch order) is stable
    com_b.filter(F.col("commit_ts") > med).coalesce(1).write.mode(
        "append"
    ).parquet(com_dir)

    pre_s = (
        spark.readStream.schema(pre_b.schema)
        .option("maxFilesPerTrigger", "1").parquet(pre_dir)
    )
    com_s = (
        spark.readStream.schema(com_b.schema)
        .option("maxFilesPerTrigger", "1").parquet(com_dir)
    )
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        match_prewrite_commit_streams(pre_s, com_s)
        .writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", ck).trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(180), "query still running at timeout"
    finally:
        if q.isActive:
            q.stop()
    assert q.exception() is None, q.exception()
    got = spark.read.parquet(out_dir)
    assert got.count() == expected
    # the second file's commits really did match across the batch boundary
    assert got.filter(F.col("commit_ts") > med).count() > 0
