"""Crawl-run analytics — the reference's "ad-hoc SQL over crawldb"
entry point (SURVEY.md §3.1 entry 3), re-expressed as DataFrame plans
over a run's committed tables.

Each report takes the engine's ManifestCatalog (or any object with
.read(name)) and returns a DataFrame; all are pure reads of committed
snapshots, so they can run concurrently with the crawl itself against
the last committed round (Iceberg semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from web_crawler_spark.plans.seq import with_running_total


def politeness_audit(cat, robots: DataFrame, default_delay: float = 1.0) -> DataFrame:
    """Per-host proof that the politeness budget held: the gap between
    consecutive fetch ROUNDS of one host must be ≥ its crawl_delay.
    Output: (host, n_fetches, min_round_gap, required_gap, ok)."""
    log = cat.read("crawl_log")
    per_round = log.select("host", "round").distinct()
    w = W.partitionBy("host").orderBy("round")
    gaps = (
        per_round.withColumn("prev_round", F.lag("round").over(w))
        .withColumn("gap", F.col("round") - F.col("prev_round"))
    )
    agg = gaps.groupBy("host").agg(
        F.count("*").alias("n_active_rounds"),
        F.min("gap").alias("min_round_gap"),
    )
    return (
        agg.join(F.broadcast(robots.select("host", "crawl_delay")), "host", "left")
        .withColumn("required_gap",
                    F.greatest(F.ceil(F.coalesce("crawl_delay", F.lit(default_delay)))
                               .cast("long") + F.lit(0), F.lit(1)))
        .withColumn("ok", F.col("min_round_gap").isNull()
                    | (F.col("min_round_gap") >= F.col("required_gap")))
        .select("host", "n_active_rounds", "min_round_gap", "required_gap", "ok")
    )


def dedup_rates(cat) -> DataFrame:
    """Per-round dedup funnel from the lineage metrics table:
    fetch → kept/dup_exact/neardup_* shares + cumulative kept."""
    m = (
        cat.read("metrics").groupBy("round")
        .agg(*[F.sum(c).alias(c) for c in
               ("fetched", "kept", "dup_exact", "neardup_image",
                "neardup_caption", "rejected_robots", "rejected_seen")])
    )
    m = m.withColumn(
        "kept_rate",
        F.when(F.col("fetched") > 0, F.round(F.col("kept") / F.col("fetched"), 4)),
    )
    # windowless running total (plans/seq.py) — no unpartitioned window
    return with_running_total(m, "round", "kept", "cum_kept").orderBy("round")


def host_summary(cat, top_n: int = 20) -> DataFrame:
    """Hottest hosts: fetches, kept, depth reached, first/last round —
    the skew view that motivates salted bucketing."""
    log = cat.read("crawl_log")
    return (
        log.groupBy("host").agg(
            F.count("*").alias("n_fetched"),
            F.count_if(F.col("status") == "kept").alias("n_kept"),
            F.max("priority").alias("max_depth"),
            F.min("round").alias("first_round"),
            F.max("round").alias("last_round"),
        )
        .orderBy(F.desc("n_fetched"), "host").limit(top_n)
    )


def frontier_depth_histogram(cat) -> DataFrame:
    """Remaining frontier by discovery depth (priority) and readiness —
    the queue-shape view an operator watches at 10^10 scale."""
    f = cat.read("frontier")
    return (
        f.groupBy("priority")
        .agg(F.count("*").alias("n_urls"),
             F.min("ready_round").alias("min_ready"),
             F.max("ready_round").alias("max_ready"),
             F.approx_count_distinct("host").alias("n_hosts"))
        .orderBy("priority")
    )


def recrawl_summary(cat) -> DataFrame:
    """Recrawl-window audit: URLs fetched more than once (after
    evict_cohort retired their cohort), with first/last fetch round and
    status transitions — the operator view of the eviction semantics."""
    log = cat.read("crawl_log")
    return (
        log.groupBy("canon_url", "host").agg(
            F.count("*").alias("n_fetches"),
            F.min("round").alias("first_round"),
            F.max("round").alias("last_round"),
            F.array_sort(F.collect_list(F.struct("fetch_seq", "status"))).alias("_ss"),
        )
        .filter(F.col("n_fetches") >= 2)
        .withColumn("statuses", F.transform("_ss", lambda s: s["status"]))
        .drop("_ss")
        .orderBy("first_round", "canon_url")
    )


def crawl_frontier_join(cat) -> DataFrame:
    """Fetched-vs-discovered lineage: for each crawl_log row, how many
    frontier children it spawned (semi-join shape over discovered_seq
    ranges is not stored, so join on host+depth lineage instead)."""
    log = cat.read("crawl_log").select(
        "fetch_seq", "host", F.col("priority").alias("depth"), "status")
    f = cat.read("frontier").select("host", (F.col("priority") - 1).alias("depth"))
    spawned = f.groupBy("host", "depth").count().withColumnRenamed("count", "n_children")
    return (
        log.join(spawned, ["host", "depth"], "left")
        .na.fill({"n_children": 0})
        .select("fetch_seq", "host", "depth", "status", "n_children")
    )


def link_edges(cat, url_map: DataFrame, n_corpus: int,
               max_round: int | None = None) -> DataFrame:
    """The crawl's LINK GRAPH as a view over committed tables (no extra
    per-round write — same discipline as CrawlEngine.images_kept): each
    fetched row's deterministic out-links (plans/crawl.link_targets_expr,
    the exact expression the discovery step ran) resolved back to
    (src_host, dst_host, src_image_id, dst_image_id). At 10^10 scale
    this derivation is one explode + one equi-join on the url_map
    dimension — cheaper than materializing an edges table every round
    and always consistent with the log."""
    from web_crawler_spark.plans.crawl import link_targets_expr

    log = cat.read("crawl_log")
    if max_round is not None:
        # rank-as-of semantics (authority_refresh_every): only edges
        # discovered strictly before `max_round` contribute
        log = log.filter(F.col("round") < int(max_round))
    log = log.select("fetch_seq", "host", "image_id")
    targets = link_targets_expr(F.col("image_id"), n_corpus)
    t = log.select(
        F.col("host").alias("src_host"),
        F.col("image_id").alias("src_image_id"),
        F.explode(targets).alias("target"),
    ).withColumn(
        "dst_image_id",
        F.concat(F.lit("img-"), F.lpad(F.col("target").cast("string"), 8, "0")),
    )
    um = url_map.select(F.col("image_id").alias("dst_image_id"),
                        F.col("host").alias("dst_host"))
    return t.join(um, "dst_image_id").select(
        "src_host", "dst_host", "src_image_id", "dst_image_id")


def host_authority(cat, url_map: DataFrame, n_corpus: int,
                   iters: int = 10, damping: float = 0.85) -> DataFrame:
    """Host-level PageRank over the crawl's link graph — the authority
    signal a production frontier uses to order fetches beyond BFS
    priority (rank a host by who links to it, not when it was found).
    Output: (host, rank, n_in, n_out), rank summing to 1; n_out / n_in
    count the distinct cross-host links from / to the host. A pure read
    of committed tables: pagerank_df lands the host edge list once and
    reports both degrees from it."""
    from web_crawler_spark.plans.pipeline_ops import pagerank_df

    edges = (link_edges(cat, url_map, n_corpus)
             .filter(F.col("src_host") != F.col("dst_host"))
             .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst")))
    return (
        pagerank_df(edges, iters=iters, damping=damping)
        .select(F.col("id").alias("host"), "rank", "n_in", "n_out")
        .orderBy(F.desc("rank"), "host")
    )
