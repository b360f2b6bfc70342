"""The graded core (BASELINE.json): crawl-order, seen-set, and per-row
invariants must match the reference oracle 100%, and runs must be
resumable from snapshot with identical results."""

import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from oracle.refcrawler import crawl
from web_crawler_spark import schemas
from web_crawler_spark.config import CrawlConfig
from web_crawler_spark.core import imagecodec
from web_crawler_spark.plans.crawl import CrawlEngine

CFG = CrawlConfig(per_host_k=2, max_rounds=4)
LOG_COLS = ["round", "canon_url", "host", "image_id", "priority", "discovered_seq", "status"]


@pytest.fixture(scope="module")
def engine_and_oracle(spark, fix_dir, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("run"))
    eng = CrawlEngine(spark, fix_dir, run_dir, CFG)
    eng.run()
    return eng, crawl(fix_dir, CFG)


def test_crawl_order_matches_oracle(engine_and_oracle):
    eng, res = engine_and_oracle
    elog = eng.cat.read("crawl_log").orderBy("fetch_seq").toPandas()
    assert len(elog) == len(res.crawl_log)
    m = elog.merge(res.crawl_log, on="fetch_seq", suffixes=("_e", "_o"))
    for c in LOG_COLS:
        assert (m[f"{c}_e"] == m[f"{c}_o"]).all(), f"column {c} diverges from oracle"


def test_seen_set_matches_oracle(engine_and_oracle):
    eng, res = engine_and_oracle
    eseen = {r.canon_url for r in eng.cat.read("seen").collect()}
    assert eseen == res.seen  # symmetric difference empty (BASELINE.md)


def test_metrics_match_oracle(engine_and_oracle):
    eng, res = engine_and_oracle
    em = (
        eng.cat.read("metrics").groupBy("round").sum().toPandas()
        .sort_values("round").reset_index(drop=True)
    )
    om = res.metrics
    for c in ["fetched", "kept", "dup_exact", "neardup_image", "neardup_caption",
              "rejected_robots", "rejected_seen"]:
        assert em[f"sum({c})"].tolist() == om[c].tolist(), c


def test_kept_rows_per_row_invariant(engine_and_oracle, fix_dir):
    """Every kept row: decoded pixels match the oracle's corpus row
    (exact for raw; PSNR ≥ 40 dB re-encode tolerance) + caption equality."""
    eng, res = engine_and_oracle
    kept = eng.images_kept().join(
        eng.corpus.select("image_id", "bytes", "w", "h", "fmt",
                          eng.corpus.caption.alias("corpus_caption")),
        "image_id",
    ).collect()
    okept = res.kept.set_index("fetch_seq")
    assert len(kept) == len(okept)
    import pyarrow.parquet as pq
    corpus = pq.read_table(f"{fix_dir}/corpus.parquet").to_pandas().set_index("image_id")
    for row in kept:
        o = okept.loc[row.fetch_seq]
        assert o["image_id"] == row.image_id
        assert row.caption == row.corpus_caption  # exact caption equality
        ref = corpus.loc[row.image_id]
        dec = imagecodec.decode(row.bytes, row.w, row.h, row.fmt)
        ref_dec = imagecodec.decode(ref["bytes"], int(ref["w"]), int(ref["h"]), ref["fmt"])
        assert imagecodec.psnr(dec, ref_dec) >= 40.0 or np.array_equal(dec, ref_dec)


def _scratch_parts(cat):
    d = cat.scratch_dir
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def test_resume_equals_uninterrupted(spark, fix_dir, tmp_path_factory, engine_and_oracle):
    eng_full, _ = engine_and_oracle
    run_dir = str(tmp_path_factory.mktemp("resume"))
    e1 = CrawlEngine(spark, fix_dir, run_dir, CrawlConfig(per_host_k=2, max_rounds=2))
    e1.run()
    # resume builds on init_state's snapshot (round -1): its next_seq is
    # the frontier's row count, and the tables it writes empty on the
    # driver read back with their declared schemas
    init = e1.cat.history()[0]
    assert init["round"] == -1
    assert init["counters"]["next_seq"] == e1.cat.read_at("frontier", -1).count()
    for name in ("host_next", "survivors", "bands", "crawl_log", "metrics"):
        df = e1.cat.read_at(name, -1)
        assert df.count() == 0, name
        footer = spark.read.parquet(*df.inputFiles()).schema  # no declared schema
        declared = e1.cat.table_schemas[name]
        assert ([(f.name, f.dataType) for f in footer]
                == [(f.name, f.dataType) for f in declared]), name
    # round 2 raises after its fetch scratch part and survivors part have
    # landed; nothing of it is committed
    crashed = CrawlEngine(spark, fix_dir, run_dir, CFG)
    append = crashed.cat.append

    def failing_append(name, df, *args):
        if name == "crawl_log":
            raise RuntimeError("executor lost")
        return append(name, df, *args)

    crashed.cat.append = failing_append
    with pytest.raises(RuntimeError, match="executor lost"):
        crashed.run()
    assert crashed.cat.round == 1
    assert _scratch_parts(crashed.cat) == ["fetch"]
    e2 = CrawlEngine(spark, fix_dir, run_dir, CFG)  # resumes rounds 2..3
    # snapshot expiry (keeping every snapshot) sweeps the crashed round's
    # scratch parts
    e2.cat.expire_snapshots(len(e2.cat.rounds()))
    assert _scratch_parts(e2.cat) == []
    commit = e2.cat.commit
    leftovers = []

    def checked_commit(*args):
        commit(*args)
        leftovers.extend(_scratch_parts(e2.cat))

    e2.cat.commit = checked_commit
    e2.run()
    assert leftovers == []  # no scratch part survives a commit
    a = eng_full.cat.read("crawl_log").orderBy("fetch_seq").toPandas()
    b = e2.cat.read("crawl_log").orderBy("fetch_seq").toPandas()
    assert a.equals(b)
    # every committed metrics part (init_state's empty one and each
    # round's driver-side rows) carries the declared arrow schema, so the
    # append table has one footer schema
    want = to_arrow_schema(schemas.METRICS)
    parts = e2.cat.parts("metrics")
    assert len(parts) > 1  # init_state's part and the rounds'
    for v in parts:
        d = os.path.join(e2.cat.tables_dir, "metrics", f"v{v}")
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".parquet"):
                got = pq.read_schema(os.path.join(d, fn))
                assert got.equals(want), (v, fn, got)


def test_zero_fetch_round_writes_nothing(spark, fix_dir, tmp_path):
    """Every host is seeded, allowed everywhere and crawl-delayed two
    rounds, so round 1 finds every frontier host throttled: it fetches
    nothing, writes no table version and no scratch part, and the crawl
    that goes on from it still matches the oracle."""
    fx = str(tmp_path / "fix")
    shutil.copytree(fix_dir, fx)
    shutil.rmtree(os.path.join(fx, "robots_txt"))  # the engine reads robots.json
    with open(os.path.join(fx, "robots.json")) as f:
        robots = json.load(f)
    with open(os.path.join(fx, "robots.json"), "w") as f:
        json.dump({h: {"disallow": [], "allow": [], "crawl_delay": 2.0} for h in robots}, f)
    cfg = CrawlConfig(per_host_k=2, max_rounds=5, default_delay=2.0)
    run_dir = str(tmp_path / "run")
    e1 = CrawlEngine(spark, fx, run_dir, CrawlConfig(per_host_k=2, max_rounds=1,
                                                     default_delay=2.0))
    e1.run()

    def tree():
        return sorted(os.path.relpath(os.path.join(d, n), run_dir)
                      for d, dirs, _ in os.walk(run_dir) for n in dirs)

    before = tree()
    info = e1.run_round(1)
    assert info == {"fetched": 0, "frontier": e1.cat.staged_rowcount("frontier"),
                    "stopped": False}
    assert info["frontier"] > 0
    assert tree() == before
    e2 = CrawlEngine(spark, fx, run_dir, cfg)
    e2.run()
    res = crawl(fx, cfg)
    elog = e2.cat.read("crawl_log").orderBy("fetch_seq").toPandas()
    assert sorted(set(elog["round"])) == sorted(set(res.crawl_log["round"]))
    assert 1 not in set(elog["round"])
    m = elog.merge(res.crawl_log, on="fetch_seq", suffixes=("_e", "_o"))
    assert len(m) == len(elog) == len(res.crawl_log)
    for c in LOG_COLS:
        assert (m[f"{c}_e"] == m[f"{c}_o"]).all(), c
    assert {r.canon_url for r in e2.cat.read("seen").collect()} == res.seen
