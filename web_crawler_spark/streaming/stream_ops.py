"""Structured Streaming realizations of the engine's streaming-shaped
operators (SURVEY.md §2.7 ST1-ST5).

The graded crawl loop is batch BSP (crawl-order determinism cannot
survive micro-batch retries — SURVEY.md §3.3); these operators are the
streaming-mode surface for the same semantics: watermarked windowed
aggregation (ST1/ST3), arbitrary stateful dedup via
applyInPandasWithState (ST4 — the URL-seen set as managed state), and a
foreachBatch wrapper that drives batch plans from a stream (ST5).

All entry points run with trigger(availableNow=True) over parquet
directories, so results are deterministic on fixed input and every
function is testable offline — the same code runs unbounded on a real
source by dropping the trigger.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _stream_parquet(spark: SparkSession, src_dir: str, schema) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # several micro-batches per run
        .parquet(src_dir)
    )


def _run_available_now(writer, checkpoint: str):
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def windowed_event_metrics_stream(
    spark: SparkSession, events_dir: str, out_dir: str, window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """ST1+ST3: watermarked tumbling-window counts per event_type.

    The watermark bounds state exactly like the crawl engine's round
    cutoff bounds late link discoveries (a URL discovered after its
    host's cutoff waits for the next round; an event older than the
    watermark is finalized). Sink is append-mode parquet: only CLOSED
    windows are emitted, which is the streaming analogue of the
    engine's per-round atomic commit.
    """
    schema = spark.read.parquet(events_dir).schema
    agg = (
        _stream_parquet(spark, events_dir, schema)
        # parquet timestamp[us] loads as TIMESTAMP_NTZ; event-time ops
        # need TIMESTAMP (session TZ is pinned UTC so this is stable)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "sum_value")
    )
    ckpt = os.path.join(out_dir, "_ckpt")
    _run_available_now(
        agg.writeStream.format("parquet").outputMode("append")
        .option("path", os.path.join(out_dir, "data")),
        ckpt,
    )
    return spark.read.parquet(os.path.join(out_dir, "data"))


def stateful_seen_filter_stream(
    spark: SparkSession, urls_dir: str, out_dir: str, n_groups: int = 16,
) -> DataFrame:
    """ST4: the URL-seen set as MANAGED STREAMING STATE.

    applyInPandasWithState keyed by a hash group of the canonical URL:
    each group's state is the set of url_hashes already seen; a
    micro-batch emits only first-seen rows. This is the streaming twin
    of the engine's exact anti-join seen-set (sketches still only
    prune, never decide — the state holds exact hashes). Group count
    bounds per-task state size the same way the frontier's salted
    buckets bound partition size.
    """
    schema = spark.read.parquet(urls_dir).schema  # url_hash long, canon_url string

    def dedup(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        # state = BINARY-packed int64 hash array (8 bytes/URL, zero
        # parsing) — membership and in-batch first-occurrence are
        # vectorized numpy ops, no per-row Python. The value-state API
        # still rewrites the whole blob per micro-batch per key.
        import numpy as np

        seen = (np.frombuffer(state.get[0], dtype=np.int64)
                if state.exists and state.get[0] else np.empty(0, np.int64))
        out = []
        for pdf in pdfs:
            h = pdf["url_hash"].to_numpy(np.int64)
            fresh = ~pd.Series(h).duplicated().to_numpy() & ~np.isin(h, seen)
            out.append(pdf.loc[fresh, ["url_hash", "canon_url"]])
            seen = np.concatenate([seen, h[fresh]])
        state.update((seen.tobytes(),))
        yield pd.concat(out) if out else pd.DataFrame(
            columns=["url_hash", "canon_url"])

    result = (
        _stream_parquet(spark, urls_dir, schema)
        .withColumn("grp", F.pmod(F.col("url_hash"), F.lit(n_groups)))
        .groupBy("grp")
        .applyInPandasWithState(
            dedup,
            outputStructType="url_hash long, canon_url string",
            stateStructType="seen binary",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    ckpt = os.path.join(out_dir, "_ckpt")
    _run_available_now(
        result.writeStream.format("parquet").outputMode("append")
        .option("path", os.path.join(out_dir, "data")),
        ckpt,
    )
    return spark.read.parquet(os.path.join(out_dir, "data"))


def seen_filter_dropdup_stream(
    spark: SparkSession, urls_dir: str, out_dir: str,
    within_watermark: str | None = None,
) -> DataFrame:
    """ST4 on BUILT-IN operators: the streaming URL-seen filter as
    `dropDuplicates` / `dropDuplicatesWithinWatermark`.

    This is the scale-preferred variant of stateful_seen_filter_stream:
    the seen-set state lives entirely in the JVM state store
    (HDFS-backed locally, RocksDB on a cluster) with per-key layout —
    no Python worker in the loop and no per-key value-blob rewrite per
    micro-batch, which is exactly the applyInPandasWithState limitation
    flagged as scale-weak. Exchange + sort on the dedup keys is planned
    by Catalyst; state cleanup is incremental in the store.

    Two modes:
    - within_watermark=None → exact, unbounded dedup: the precise
      streaming twin of the engine's seen anti-join (state grows with
      |seen|, as the batch table does).
    - within_watermark="<delay>" → `dropDuplicatesWithinWatermark` over
      an event-time `ts` column: state for a URL expires once the
      watermark passes it, after which the same URL is emitted again —
      the streaming twin of the engine's recrawl-window eviction
      (evict_cohort): bounded state at 10^10-URL scale, deterministic
      re-admission after the window.
    """
    schema = spark.read.parquet(urls_dir).schema
    s = _stream_parquet(spark, urls_dir, schema)
    if within_watermark is None:
        dd = s.dropDuplicates(["url_hash", "canon_url"])
    else:
        dd = (
            s.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", within_watermark)
            .dropDuplicatesWithinWatermark(["url_hash", "canon_url"])
        )
    ckpt = os.path.join(out_dir, "_ckpt")
    _run_available_now(
        dd.writeStream.format("parquet").outputMode("append")
        .option("path", os.path.join(out_dir, "data")),
        ckpt,
    )
    return spark.read.parquet(os.path.join(out_dir, "data"))


def streaming_round_demo(
    spark: SparkSession, events_dir: str, out_dir: str,
) -> DataFrame:
    """ST5: foreachBatch wrapper — drive an arbitrary BATCH plan from a
    stream. Each micro-batch is handed to the same kind of DataFrame
    pipeline the crawl engine's run_round uses (here: a per-user agg),
    results appended with the micro-batch id as the round counter. Demo
    only — the graded path is batch BSP (SURVEY.md §3.3)."""
    schema = spark.read.parquet(events_dir).schema
    dest = os.path.join(out_dir, "data")

    def one_round(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.max("ts").alias("last_ts"))
            .withColumn("round", F.lit(batch_id))
            .coalesce(1)
            .write.mode("append").parquet(dest)
        )

    ckpt = os.path.join(out_dir, "_ckpt")
    _run_available_now(
        _stream_parquet(spark, events_dir, schema).writeStream.foreachBatch(one_round),
        ckpt,
    )
    return spark.read.parquet(dest)


def stream_export_shards(
    spark: SparkSession, docs_dir: str, out_dir: str, shard_size: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """ST6: streaming twin of the T30 training-shard sink
    (sources/shards.export_training_shards). A document stream arrives
    in micro-batches; every row gets a dense global position that
    CONTINUES across batches (and across restarts), and positions map
    to fixed-size shards exactly like the batch sink — a shard that is
    partially filled when a batch ends is completed by the next batch.

    Online constraint made explicit: a global curriculum (easy->hard
    over the FULL corpus) cannot be assigned before the corpus is
    complete, so the streaming order is arrival-order across batches
    with the deterministic md5 shuffle WITHIN each batch — the same
    within-batch order the batch sink would give that batch alone.

    Exactly-once discipline (same as the engine's commit protocol):
    each micro-batch OVERWRITES its own ``data/batch=<id>`` directory
    (a replayed batch rewrites identical bytes), reads its start
    position from the committed state row with the largest smaller
    batch id, and commits its own ``_state/batch=<id>`` row only after
    the data write — so a crash between the two replays the batch into
    the same positions.

    The state ledger is itself a tiny batch-partitioned parquet table
    written and read THROUGH Spark, not driver-local files: on a real
    cluster it lands on the same shared filesystem/object store as the
    data, so the sink's bookkeeping survives a driver swap. Partition
    pruning on ``batch < batch_id`` means a half-written state dir from
    this batch's own crashed attempt is never even listed by the
    read, and the overwrite then repairs it. Returns the full shard
    table read back."""
    from web_crawler_spark.sources.shards import shard_plan

    schema = spark.read.parquet(docs_dir).schema
    dest = os.path.join(out_dir, "data")
    state_dir = os.path.join(out_dir, "_state")

    def _committed_end_pos(batch_id: int) -> int:
        try:
            st = (spark.read.schema("end_pos long").option(
                      "basePath", state_dir).parquet(state_dir)
                  .where(F.col("batch") < batch_id)
                  .orderBy(F.col("batch").desc()).limit(1))
            row = st.collect()
            return int(row[0]["end_pos"]) if row else 0
        except AnalysisException:  # no state yet (first ever batch)
            return 0

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        start = _committed_end_pos(batch_id)
        planned = shard_plan(batch_df, shard_size, id_col=id_col,
                             start=start + 1)
        (
            planned.repartition("shard_id")
            .sortWithinPartitions("shard_id", "curriculum_pos")
            .write.mode("overwrite")
            .parquet(os.path.join(dest, f"batch={batch_id}"))
        )
        n = batch_df.count()
        (
            spark.createDataFrame([(start + n,)], "end_pos long")
            .coalesce(1).write.mode("overwrite")
            .parquet(os.path.join(state_dir, f"batch={batch_id}"))
        )

    ckpt = os.path.join(out_dir, "_ckpt")
    _run_available_now(
        _stream_parquet(spark, docs_dir, schema).writeStream.foreachBatch(one_batch),
        ckpt,
    )
    return spark.read.option("basePath", dest).parquet(dest)
