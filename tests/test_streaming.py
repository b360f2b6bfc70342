"""Streaming-shaped operators (SURVEY.md §2.7): each streaming result
must equal its batch-computed twin on the same fixed input."""

import os

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from web_crawler_spark.streaming import (
    seen_filter_dropdup_stream,
    stateful_seen_filter_stream,
    streaming_round_demo,
    windowed_event_metrics_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Events split into three TIME-CONTIGUOUS files written
    sequentially (strictly increasing mtimes), so the file stream
    source replays them in event-time order like a real ingest and the
    2h watermark never drops anything. repartitionByRange would be
    nondeterministic here: its sampled boundaries + mtime ties
    occasionally replay a late-range file first, legitimately
    late-dropping old events (append-mode semantics, not a bug)."""
    import time

    d = str(tmp_path / "events")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    w = W.orderBy("ts")
    chunked = ev.withColumn("chunk", F.ntile(3).over(w))
    for i in range(1, 4):
        chunked.filter(F.col("chunk") == i).drop("chunk").coalesce(1) \
            .write.mode("append").parquet(d)
        time.sleep(1.1)
    return d


def test_windowed_metrics_match_batch(spark, events_dir, tmp_path):
    got = windowed_event_metrics_stream(spark, events_dir, str(tmp_path / "out"))
    want = (
        spark.read.parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "sum_value")
    )
    # append mode emits only watermark-closed windows: got ⊆ want, and
    # every emitted row must match the batch value exactly
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    # every window that the final watermark (max_ts - 2h) closed must
    # have been emitted, complete and exact
    mx = (
        spark.read.parquet(events_dir)
        .agg(F.max(F.col("ts").cast("timestamp"))).first()[0]
    )
    closed = want.filter(
        F.col("win_start") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(mx) - F.expr("INTERVAL 2 HOURS")
    )
    assert closed.count() > 0
    assert closed.exceptAll(got).count() == 0


def test_stateful_seen_filter_dedups_exactly(spark, tmp_path):
    urls = spark.createDataFrame(
        [(i % 40, f"http://h{i % 40}.example/p") for i in range(200)],
        "url_hash long, canon_url string",
    )
    d = str(tmp_path / "urls")
    urls.repartition(4).write.parquet(d)
    got = stateful_seen_filter_stream(spark, d, str(tmp_path / "out"))
    assert got.count() == 40  # exactly one row per distinct url_hash
    assert {r.url_hash for r in got.collect()} == set(range(40))


def test_dropdup_stream_matches_python_state_path(spark, tmp_path):
    """The built-in dropDuplicates streaming dedup (JVM state store, the
    scale-preferred ST4 variant) must produce the same seen-set as the
    applyInPandasWithState path and as a batch distinct."""
    urls = spark.createDataFrame(
        [(i % 40, f"http://h{i % 40}.example/p") for i in range(200)],
        "url_hash long, canon_url string",
    )
    d = str(tmp_path / "urls")
    urls.repartition(4).write.parquet(d)
    got = seen_filter_dropdup_stream(spark, d, str(tmp_path / "out"))
    assert got.count() == 40
    assert {r.url_hash for r in got.collect()} == set(range(40))


def test_dropdup_within_watermark_readmits_after_window(spark, tmp_path):
    """dropDuplicatesWithinWatermark is the streaming twin of recrawl-
    window eviction: a URL re-seen while its state is live is dropped,
    but once the watermark passes it, the same URL is re-admitted.
    Four time-ordered files (one micro-batch each; watermark advance and
    the state cleanup it triggers each lag one batch behind the data):
      f1: A@t0 twice              -> one emit (in-batch dup dropped)
      f2: B@t0+5h                 -> watermark will advance past A's expiry
      f3: C@t0+6h                 -> batch runs with watermark t0+4h, A evicted
      f4: A@t0+5h                 -> re-admitted (state was evicted)
    """
    import time

    t0 = "2024-01-01 00:00:00"
    t5 = "2024-01-01 05:00:00"
    t6 = "2024-01-01 06:00:00"
    d = str(tmp_path / "urls")
    files = [
        [(7, "http://a.example/p", t0), (7, "http://a.example/p", t0)],
        [(9, "http://b.example/p", t5)],
        [(11, "http://c.example/p", t6)],
        [(7, "http://a.example/p", t5)],
    ]
    for rows in files:
        spark.createDataFrame(
            rows, "url_hash long, canon_url string, ts string",
        ).coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)
    got = seen_filter_dropdup_stream(
        spark, d, str(tmp_path / "out"), within_watermark="1 hour")
    rows = {(r.url_hash, str(r.ts)) for r in got.collect()}
    assert (7, f"{t0}") in rows          # first sighting emitted once
    assert (9, f"{t5}") in rows          # unrelated key emitted
    assert (11, f"{t6}") in rows         # watermark-advancing key emitted
    assert (7, f"{t5}") in rows          # re-admitted after eviction
    assert got.count() == 4              # the in-batch duplicate was dropped


def test_foreachbatch_rounds_cover_all_events(spark, events_dir, tmp_path):
    got = streaming_round_demo(spark, events_dir, str(tmp_path / "out"))
    n_rounds = got.select("round").distinct().count()
    assert n_rounds >= 2  # maxFilesPerTrigger=1 → one round per file
    total = got.agg(F.sum("n")).first()[0]
    assert total == spark.read.parquet(events_dir).count()
