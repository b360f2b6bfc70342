"""Plan shape of the crawl round: every frame a round hands to the
catalog is planned over file scans and at most one level of cache. A
cached frame built on another cached frame is expanded inline once per
reference in every plan and every plan string AQE renders, which is
where the round's driver CPU went."""

import pytest

from web_crawler_spark.config import CrawlConfig
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


def test_round_writes_have_flat_plans(spark, fix_dir, tmp_path, monkeypatch):
    eng = CrawlEngine(spark, fix_dir, str(tmp_path / "run"), CFG)
    eng.init_state()
    handed = []

    def recording(method, orig):
        def wrapped(self, name, df, *args, **kwargs):
            qe = df._jdf.queryExecution()
            handed.append((method, name, _nested_cache(qe.withCachedData()),
                           plan_truncated(qe.toString())))
            return orig(self, name, df, *args, **kwargs)
        return wrapped

    for method in ("stage", "append", "scratch"):
        monkeypatch.setattr(ManifestCatalog, method,
                            recording(method, getattr(ManifestCatalog, method)))
    for r in range(CFG.max_rounds):
        if eng.run_round(r)["stopped"]:
            break
    assert {name for _, name, _, _ in handed} >= {
        "frontier", "seen", "host_next", "crawl_log", "survivors", "bands"}
    nested = [(m, n) for m, n, nest, _ in handed if nest]
    assert not nested, f"cached frame nested in a cached frame: {nested}"
    cut = [(m, n) for m, n, _, trunc in handed if trunc]
    assert not cut, f"truncated plan: {cut}"


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
