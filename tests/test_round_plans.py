"""Plan shape of the crawl round and of host PageRank: every frame a
round hands to the catalog is planned over file scans and at most one
level of cache, and PageRank plans the link graph once. A cached frame
built on another cached frame is expanded inline once per reference in
every plan and every plan string AQE renders, which is where the
round's driver CPU went."""

import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from web_crawler_spark.config import CrawlConfig
from web_crawler_spark.plans import pipeline_ops, reports
from web_crawler_spark.plans.crawl import CrawlEngine
from web_crawler_spark.session import plan_truncated
from web_crawler_spark.sources.catalog import ManifestCatalog

# authority ranking and the cuckoo prefilter put the host-rank frame
# and the sketch probe into the round's plans too
CFG = CrawlConfig(per_host_k=2, max_rounds=3, priority_mode="authority",
                  bloom_prefilter=True, seen_sketch="cuckoo")


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _subplans(node) -> list:
    """Children, inner children (a cache's plan, a cached scan's
    relation, subqueries) and the current plan of an adaptive plan or
    query stage, which Spark keeps out of both."""
    kids = _seq(node.children()) + _seq(node.innerChildren())
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids.append(node.executedPlan())
    elif cls.endswith("QueryStageExec"):
        kids.append(node.plan())
    return kids


def _nested_cache(node, in_cache=False) -> bool:
    """True when an InMemoryRelation under ``node`` caches a plan that
    holds another InMemoryRelation."""
    is_cache = node.getClass().getSimpleName() == "InMemoryRelation"
    if is_cache and in_cache:
        return True
    return any(_nested_cache(k, in_cache or is_cache) for k in _subplans(node))


def _crawl_log_scans(node) -> int:
    """Parquet scans of the crawl_log table under ``node``, cached plans
    included."""
    n = 0
    if node.getClass().getSimpleName() == "FileSourceScanExec":
        n = int(any("/crawl_log/" in p.toString()
                    for p in _seq(node.relation().location().rootPaths())))
    return n + sum(_crawl_log_scans(k) for k in _subplans(node))


def _shape(df) -> tuple:
    """(nested cache, truncated plan string, crawl_log scans) of a frame."""
    qe = df._jdf.queryExecution()
    return (_nested_cache(qe.withCachedData()), plan_truncated(qe.toString()),
            _crawl_log_scans(qe.sparkPlan()))


@pytest.fixture(scope="module")
def recorded(spark, fix_dir, tmp_path_factory):
    """Three authority-mode rounds, then reports.host_authority over the
    committed crawl. Records the shape of every frame handed to the
    catalog, and of every frame each pagerank_df call (rounds >= 1 and
    the report) persists or checkpoints."""
    eng = CrawlEngine(spark, fix_dir, str(tmp_path_factory.mktemp("run") / "run"), CFG)
    eng.init_state()
    handed, pagerank = [], []  # pagerank: (caller, [shape of each frame])
    caller, active = [], []

    def recording(method, orig):
        def wrapped(self, name, df, *args, **kwargs):
            qe = df._jdf.queryExecution()
            handed.append((method, name, _nested_cache(qe.withCachedData()),
                           plan_truncated(qe.toString())))
            return orig(self, name, df, *args, **kwargs)
        return wrapped

    def landing(orig):
        def wrapped(self, *args, **kwargs):
            if active:
                active[-1].append(_shape(self))
            return orig(self, *args, **kwargs)
        return wrapped

    def ranking(orig):
        def wrapped(*args, **kwargs):
            pagerank.append((caller[-1], []))
            active.append(pagerank[-1][1])
            try:
                return orig(*args, **kwargs)
            finally:
                active.pop()
        return wrapped

    with pytest.MonkeyPatch.context() as mp:
        for method in ("stage", "append", "scratch"):
            mp.setattr(ManifestCatalog, method,
                       recording(method, getattr(ManifestCatalog, method)))
        # pyspark.sql.DataFrame is only the interface; the classic
        # (py4j) session's frames are this subclass
        for method in ("persist", "localCheckpoint"):
            mp.setattr(ClassicDataFrame, method, landing(getattr(ClassicDataFrame, method)))
        mp.setattr(pipeline_ops, "pagerank_df", ranking(pipeline_ops.pagerank_df))
        for r in range(CFG.max_rounds):
            caller.append(f"round {r}")
            if eng.run_round(r)["stopped"]:
                break
        caller.append("host_authority")
        reports.host_authority(eng.cat, eng.cat.read("url_map"), eng.n_corpus,
                               iters=3).collect()
    return handed, pagerank


def test_round_writes_have_flat_plans(recorded):
    handed, _ = recorded
    assert {name for _, name, _, _ in handed} >= {
        "frontier", "seen", "host_next", "crawl_log", "survivors", "bands"}
    nested = [(m, n) for m, n, nest, _ in handed if nest]
    assert not nested, f"cached frame nested in a cached frame: {nested}"
    cut = [(m, n) for m, n, _, trunc in handed if trunc]
    assert not cut, f"truncated plan: {cut}"


def test_pagerank_plans_link_graph_once(recorded):
    """Each PageRank call scans crawl_log once, summed over every frame
    it lands, and lands no cache inside a cache and no truncated plan."""
    _, pagerank = recorded
    assert [c for c, _ in pagerank] == ["round 1", "round 2", "host_authority"]
    for c, frames in pagerank:
        nested, cut, scans = (sum(x) for x in zip(*frames))
        assert (nested, cut, scans) == (0, 0, 1), \
            f"{c}: (nested, truncated, crawl_log scans) per frame: {frames}"


@pytest.mark.parametrize("nested", [False, True])
@pytest.mark.parametrize("shuffled", [False, True])
def test_nested_cache_detector(spark, nested, shuffled):
    """The detector sees a cache inside a cache whether or not the outer
    cached plan is adaptive (it is when it has a shuffle)."""
    a = spark.range(10).persist()
    b = a.groupBy((a.id % 3).alias("id")).count() if shuffled else a.selectExpr("id * 2 AS id")
    if nested:
        b = b.persist()
    df = b.join(spark.range(5), "id")
    assert _nested_cache(df._jdf.queryExecution().withCachedData()) == nested
    b.unpersist()
    a.unpersist()
