"""SparkSession factory with the engine's required configs.

Scale notes (the settings that matter at 1000 executors / 100 TB):
- AQE on (runtime re-plan, skew-join splitting — hot-domain skew is a
  graded requirement, BASELINE.json north_rule).
- Arrow on for every pandas UDF path (the only sanctioned Python hot
  path, BASELINE.json input_hint).
- UTC session timezone so DuckDB-oracle timestamp comparisons are stable.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by AQE coalescing + explicit repartition on the frontier's
  salted host-hash buckets.
- Plan strings capped at 128k chars (spark.sql.maxPlanStringLength).
  Spark prints a cached plan inline once per reference, and AQE renders
  every plan again after each query stage (UI on or off). The crawl
  round no longer stacks cached frames (it re-reads its parquet parts,
  tests/test_round_plans.py), but init_state and user code still may:
  a frame cached on a cached frame renders to megabytes, and the cap
  bounds what one careless plan costs. The largest real plan (a
  formatted explain of the analytics queries) is about 38k chars, far
  below the cap.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# the suffix Spark appends to a plan string cut at maxPlanStringLength
# ("Truncated plan of N characters" when the limit is 0)
_TRUNCATED = re.compile(r"(\.\.\. \d+ more characters|Truncated plan of \d+ characters)\s*$")


def plan_truncated(plan: str) -> bool:
    """True when ``plan`` (a plan or explain string) was cut at
    spark.sql.maxPlanStringLength — a shape check must not pass on a
    cut plan, where an operator it looks for may be missing."""
    return bool(_TRUNCATED.search(plan))


def get_spark(
    app: str = "web_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.maxPlanStringLength", "128k")
        # v2 commit algorithm: task outputs move straight to the final
        # dir (one rename, not two) — the BSP loop writes several small
        # tables per superstep, so committer latency is on the round path
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
