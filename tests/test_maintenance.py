"""Catalog maintenance (sources/catalog.py compact/expire_snapshots —
the Iceberg rewrite_data_files / expire_snapshots + remove_orphan_files
twins): compaction and snapshot expiry are LAYOUT-only — crawl results,
resume, and retained-round time travel must be unaffected, while part
counts, snapshot counts, and version directories shrink."""

import os

import pytest

from web_crawler_spark.config import CrawlConfig
from web_crawler_spark.plans.crawl import CrawlEngine
from web_crawler_spark.sources.catalog import ManifestCatalog

LOG_COLS = ["round", "canon_url", "host", "image_id", "priority",
            "discovered_seq", "status"]
CFG_PLAIN = CrawlConfig(per_host_k=2, max_rounds=6)
CFG_MAINT = CrawlConfig(per_host_k=2, max_rounds=6, compact_every=2,
                        compact_min_parts=2, snapshot_keep=2)


def _log(eng):
    return (eng.cat.read("crawl_log").orderBy("fetch_seq")
            .toPandas()[["fetch_seq"] + LOG_COLS])


@pytest.fixture(scope="module")
def runs(spark, fix_dir, tmp_path_factory):
    plain = CrawlEngine(spark, fix_dir,
                        str(tmp_path_factory.mktemp("mt_plain")), CFG_PLAIN)
    plain.run()
    maint = CrawlEngine(spark, fix_dir,
                        str(tmp_path_factory.mktemp("mt_maint")), CFG_MAINT)
    maint.run()
    return plain, maint


def _version_dirs(eng, name):
    d = os.path.join(eng.cat.tables_dir, name)
    return sorted(fn for fn in os.listdir(d) if fn.startswith("v"))


def test_maintenance_is_layout_only(runs):
    plain, maint = runs
    pl, ml = _log(plain), _log(maint)
    assert pl.equals(ml)
    pseen = {r.canon_url for r in plain.cat.read("seen").collect()}
    mseen = {r.canon_url for r in maint.cat.read("seen").collect()}
    assert pseen == mseen


def test_append_tables_compacted(runs):
    plain, maint = runs
    # max_rounds=6 with compact_every=2 -> last trigger is after round 5,
    # so every eligible append table collapsed to a single part
    assert len(plain.cat.parts("crawl_log")) > 1
    assert len(maint.cat.parts("crawl_log")) == 1
    assert len(maint.cat.parts("seen")) == 1


def test_snapshots_expired_and_time_travel_contract(runs):
    plain, maint = runs
    retained = maint.cat.rounds()
    assert len(retained) == 2  # snapshot_keep
    assert len(plain.cat.rounds()) > 2
    # retained rounds still time-travel; expired rounds raise (Iceberg
    # contract: expire_snapshots removes those snapshots' readability)
    assert maint.cat.read_at("crawl_log", retained[-1]).count() > 0
    expired = sorted(set(plain.cat.rounds()) - set(retained))
    with pytest.raises(FileNotFoundError):
        maint.cat.read_at("crawl_log", expired[0])


def test_orphan_versions_removed_and_reads_intact(runs):
    plain, maint = runs
    # the frontier is REWRITTEN every round: without expiry every
    # superseded version dir survives; with keep=2 only the versions the
    # retained manifests reference remain
    assert len(_version_dirs(maint, "frontier")) <= 3
    assert len(_version_dirs(plain, "frontier")) > 3
    # GC never touches a referenced dir: every live table still reads
    m = maint.cat.manifest
    for name in list(m["versions"]) + list(m["appends"]):
        assert maint.cat.read(name).count() >= 0


def test_incremental_read_is_exactly_the_delta(runs):
    plain, _ = runs
    cat = plain.cat
    inc = cat.read_changes("crawl_log", 2, 5).toPandas()
    full = cat.read_at("crawl_log", 5).toPandas()
    want = full[full["round"].between(3, 5)]
    assert sorted(inc["fetch_seq"]) == sorted(want["fetch_seq"])
    # stitching successive deltas onto a base snapshot rebuilds the table
    base = cat.read_at("crawl_log", 2).count()
    tail = cat.read_changes("crawl_log", 2).count()
    assert base + tail == cat.read("crawl_log").count()
    # empty window -> empty frame with the declared schema
    assert cat.read_changes("crawl_log", 5, 5).count() == 0


def test_incremental_read_refuses_rewrites(runs):
    _, maint = runs
    retained = maint.cat.rounds()
    # compaction rewrote crawl_log inside every retained window
    with pytest.raises(ValueError, match="rewritten"):
        maint.cat.read_changes("crawl_log", retained[0], retained[-1])


def test_history_snapshot_log(runs):
    plain, _ = runs
    hist = plain.cat.history()
    assert [h["round"] for h in hist] == plain.cat.rounds()
    assert all("next_fetch_seq" in h["counters"] for h in hist if h["round"] >= 0)


def test_resume_across_maintenance(spark, fix_dir, tmp_path_factory, runs):
    _, maint = runs
    run_dir = str(tmp_path_factory.mktemp("mt_resume"))
    cfg3 = CrawlConfig(**{**CFG_MAINT.__dict__, "max_rounds": 3})
    CrawlEngine(spark, fix_dir, run_dir, cfg3).run()
    resumed = CrawlEngine(spark, fix_dir, run_dir, CFG_MAINT)
    resumed.run()
    assert _log(resumed).equals(_log(maint))


def test_scratch_parts_live_until_commit(spark, tmp_path):
    """A scratch part reads back with its footer row count, survives
    snapshot expiry while its round is open, is deleted by the commit,
    and a crashed round's leftover is swept by the next expiry."""
    cat = ManifestCatalog(spark, str(tmp_path))
    df, n = cat.scratch("x", spark.range(7))
    assert n == 7 and sorted(r.id for r in df.collect()) == list(range(7))
    cat.expire_snapshots(1)
    assert os.listdir(cat.scratch_dir) == ["x"]
    cat.commit(0, {})
    assert not os.path.exists(cat.scratch_dir)
    cat.scratch("y", spark.range(3))  # this round never commits
    restarted = ManifestCatalog(spark, str(tmp_path))
    assert restarted.expire_snapshots(1)["orphans_removed"] == 1
    assert os.listdir(restarted.scratch_dir) == []
