"""Direct contract tests for plans.crawl.schedule_batch — the frontier
superstep the engine schedules every round with (and tools/stress.py --frontier
stresses at 10^8 rows). The crawl-oracle suite proves it end-to-end;
these pin the standalone contract on a synthetic frontier."""

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.config import CrawlConfig
from web_crawler_spark.plans.crawl import schedule_batch


@pytest.fixture(scope="module")
def frontier(spark):
    # 5,000 URLs over 40 hosts, deterministic skew (host 0 the hottest),
    # mixed priorities, some rows not yet ready
    return spark.range(0, 5000).select(
        F.concat(F.lit("http://h"),
                 F.pmod(F.col("id") * F.col("id"), F.lit(40)).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string")).alias("canon_url"),
        F.xxhash64("id").alias("url_hash"),
        F.concat(F.lit("h"), F.pmod(F.col("id") * F.col("id"), F.lit(40)).cast("string"),
                 F.lit(".example")).alias("host"),
        F.pmod(F.col("id"), F.lit(3)).cast("int").alias("priority"),
        F.col("id").alias("discovered_seq"),
        F.when(F.col("id") % 17 == 0, 5).otherwise(0).alias("ready_round"),
        F.lit(0).alias("bucket"),
    ).persist()


def _run(spark, frontier, host_next=None, r=0, k=8, budget=None,
         start=100):
    if host_next is None:
        host_next = spark.createDataFrame([], "host string, next_round int")
    cfg = CrawlConfig(per_host_k=k)
    batch, sel = schedule_batch(frontier, host_next, r, cfg,
                                next_seq=5000, next_fetch_seq=start,
                                budget_left=budget)
    rows = batch.collect()
    sel.unpersist()
    return rows


def test_dense_sequence_in_priority_order(spark, frontier):
    rows = _run(spark, frontier, start=100)
    seqs = sorted(r.fetch_seq for r in rows)
    assert seqs == list(range(100, 100 + len(rows)))  # dense, from start
    by_seq = sorted(rows, key=lambda r: r.fetch_seq)
    keys = [(r.priority, r.discovered_seq) for r in by_seq]
    assert keys == sorted(keys)  # fetch_seq follows (priority, discovered_seq)


def test_per_host_topk_and_eligibility(spark, frontier):
    k = 8
    rows = _run(spark, frontier, k=k)
    per_host = {}
    for r in rows:
        per_host[r.host] = per_host.get(r.host, 0) + 1
        assert r.ready_round <= 0  # not-ready rows excluded
    assert max(per_host.values()) <= k
    # the selected rows per host are that host's BEST k by the order
    elig = frontier.filter(F.col("ready_round") <= 0).collect()
    want = {}
    for e in sorted(elig, key=lambda x: (x.priority, x.discovered_seq)):
        want.setdefault(e.host, []).append(e.discovered_seq)
    got = {}
    for r in rows:
        got.setdefault(r.host, []).append(r.discovered_seq)
    for h, seqs in got.items():
        assert sorted(seqs) == sorted(want[h][:k])


def test_politeness_clock_excludes_throttled_hosts(spark, frontier):
    throttled = spark.createDataFrame(
        [("h1.example", 3), ("h4.example", 1), ("h9.example", 0)],
        "host string, next_round int")
    rows = _run(spark, frontier, host_next=throttled, r=0)
    hosts = {r.host for r in rows}
    assert "h1.example" not in hosts and "h4.example" not in hosts
    assert "h9.example" in hosts  # clock already elapsed (<= r)
    # at r=3 every clock has elapsed
    rows3 = _run(spark, frontier, host_next=throttled, r=3)
    assert "h1.example" in {r.host for r in rows3}


def test_budget_truncates_prefix_of_global_order(spark, frontier):
    full = sorted(_run(spark, frontier), key=lambda r: r.fetch_seq)
    lim = sorted(_run(spark, frontier, budget=17), key=lambda r: r.fetch_seq)
    assert len(lim) == 17
    assert [(r.priority, r.discovered_seq) for r in lim] == \
           [(r.priority, r.discovered_seq) for r in full[:17]]
