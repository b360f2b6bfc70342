"""Distributed PageRank (pipeline_ops.pagerank_df) and the crawl's
link-graph view + host-authority report (reports.link_edges /
host_authority)."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from web_crawler_spark.plans import pipeline_ops as P
from web_crawler_spark.plans import reports


def _numpy_pagerank(edges, iters, damping):
    ids = sorted({x for e in edges for x in e})
    pos = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out = {i: [] for i in range(n)}
    for s, d in set(edges):
        out[pos[s]].append(pos[d])
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1.0 - damping) / n)
        dangling = sum(r[i] for i in range(n) if not out[i])
        nxt += damping * dangling / n
        for i in range(n):
            for j in out[i]:
                nxt[j] += damping * r[i] / len(out[i])
        r = nxt
    return {v: r[pos[v]] for v in ids}


def test_pagerank_matches_numpy_power_iteration(spark):
    """Hub/authority/dangling/cycle mix — spark ranks must equal the
    dense power iteration to float precision, and sum to exactly 1."""
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 3), (5, 2),
             (6, 7)]  # 7 is dangling
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in P.pagerank_df(df, iters=12).collect()}
    want = _numpy_pagerank(edges, iters=12, damping=0.85)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_authority_ordering(spark):
    """A node that everyone links to must outrank pure hubs (99 is left
    dangling — a sink plus a back-edge makes a 2-cycle whose rank mass
    oscillates between the two nodes at finite iteration counts)."""
    edges = [(i, 99) for i in range(1, 8)] + [(1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ranks = {r["id"]: r["rank"] for r in P.pagerank_df(df, iters=10).collect()}
    assert ranks[99] == max(ranks.values())


@pytest.fixture(scope="module")
def crawled(spark, fix_dir, tmp_path_factory):
    from web_crawler_spark.config import CrawlConfig
    from web_crawler_spark.plans.crawl import CrawlEngine

    run_dir = str(tmp_path_factory.mktemp("pagerank_run"))
    eng = CrawlEngine(spark, fix_dir, run_dir,
                      CrawlConfig(per_host_k=2, max_rounds=5))
    eng.run()
    return eng


def test_link_edges_match_oracle_link_function(crawled):
    """Every derived edge's dst must be a true out_link of its src (the
    shared link function is the ground truth), and every fetched row
    with out-links in the corpus must contribute edges."""
    from web_crawler_spark.core.web import image_index, out_links

    um = crawled.cat.read("url_map")
    n = crawled.n_corpus
    edges = reports.link_edges(crawled.cat, um, n).collect()
    assert edges
    id_by_index = {image_index(r["image_id"]): r["image_id"]
                   for r in um.select("image_id").collect()}
    for e in edges:
        src_i = image_index(e["src_image_id"])
        dst_i = image_index(e["dst_image_id"])
        assert dst_i in out_links(src_i, n), e
    # completeness: per-src edge count == |out_links ∩ url_map|
    got_per_src = {}
    for e in edges:
        got_per_src[e["src_image_id"]] = got_per_src.get(e["src_image_id"], 0) + 1
    for r in crawled.cat.read("crawl_log").select("image_id").collect():
        want = len([t for t in out_links(image_index(r["image_id"]), n)
                    if t in id_by_index])
        if want:
            assert got_per_src.get(r["image_id"], 0) == want


def test_host_authority_contract(crawled):
    um = crawled.cat.read("url_map")
    df = reports.host_authority(crawled.cat, um, crawled.n_corpus, iters=8)
    rows = df.collect()
    assert rows
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-9
    assert all(r["rank"] > 0 for r in rows)
    # sorted by rank desc
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    # degrees: distinct cross-host (src_host, dst_host) pairs, 0 on a
    # side where the host has no edge
    pairs = {(e["src_host"], e["dst_host"])
             for e in reports.link_edges(crawled.cat, um, crawled.n_corpus).collect()
             if e["src_host"] != e["dst_host"]}
    assert {r["host"] for r in rows} == {h for p in pairs for h in p}
    for r in rows:
        assert r["n_out"] == sum(s == r["host"] for s, _ in pairs), r
        assert r["n_in"] == sum(d == r["host"] for _, d in pairs), r
