"""Custom source surface: the fakeweb Python DataSource (the engine's
pluggable fetch boundary), the IcebergCatalog config gate, and
ManifestCatalog time travel across eviction."""

import pytest

from web_crawler_spark.sources.fakeweb import FakeWebDataSource
from web_crawler_spark.sources.iceberg import IcebergCatalog


@pytest.fixture(scope="module")
def fakeweb(spark):
    spark.dataSource.register(FakeWebDataSource)
    return spark


def test_fakeweb_rows_and_partitioning(fakeweb):
    df = (fakeweb.read.format("fakeweb")
          .option("n", 500).option("n_hosts", 12).option("parts", 8).load())
    assert df.count() == 500
    assert df.rdd.getNumPartitions() == 8
    assert df.select("host").distinct().count() == 12
    assert set(df.columns) == {"url", "host", "image_id", "priority", "row_id"}


def test_fakeweb_deterministic_across_reads(fakeweb):
    opts = dict(n="300", n_hosts="9", parts="4")
    a = fakeweb.read.format("fakeweb").options(**opts).load().orderBy("row_id").collect()
    b = fakeweb.read.format("fakeweb").options(**opts).load().orderBy("row_id").collect()
    assert a == b
    # per-partition reproducibility: a different parts count must yield
    # the same ROWS (sharding is layout, not content)
    c = (fakeweb.read.format("fakeweb").option("n", 300).option("n_hosts", 9)
         .option("parts", 2).load().orderBy("row_id").collect())
    assert a == c


def test_fakeweb_feeds_engine_url_shape(fakeweb):
    """Rows are consumable by the engine's canonicalize → hash → bucket
    pipeline (the S3 fetch-source contract)."""
    from pyspark.sql import functions as F

    from web_crawler_spark.functions.udfs import url_parts_udf

    df = (fakeweb.read.format("fakeweb").option("n", 200).load()
          .withColumn("u", url_parts_udf("url"))
          .select("host", "u.canon_url", F.col("u.host").alias("h2"))
          .withColumn("url_hash", F.xxhash64("canon_url")))
    bad = df.filter((F.col("h2") != F.col("host")) | F.col("url_hash").isNull()).count()
    assert bad == 0


def test_iceberg_catalog_gated_without_jar(spark):
    with pytest.raises(RuntimeError, match="spark-submit --packages"):
        IcebergCatalog(spark, "wcs.crawl")


# ---------------------------------------------------- catalog time travel

def test_catalog_time_travel(spark, fix_dir, tmp_path_factory):
    """read_at(name, r) must reproduce each table EXACTLY as committed
    at round r (Iceberg VERSION AS OF twin): per-round states captured
    live during the run are re-read bit-for-bit from the snapshot
    manifests afterwards — version dirs are immutable, so old snapshots
    survive later stages/appends."""
    from web_crawler_spark.config import CrawlConfig
    from web_crawler_spark.plans.crawl import CrawlEngine

    run_dir = str(tmp_path_factory.mktemp("timetravel"))
    eng = CrawlEngine(spark, fix_dir, run_dir, CrawlConfig(per_host_k=2, max_rounds=4))
    eng.init_state()
    live = {}
    for r in range(4):
        eng.run_round(r)
        live[r] = {
            "frontier": sorted(x["canon_url"] for x in eng.cat.read("frontier").collect()),
            "log": eng.cat.read("crawl_log").orderBy("fetch_seq").toPandas(),
            "seen": sorted(x["canon_url"] for x in eng.cat.read("seen").collect()),
        }
    cat = eng.cat
    assert cat.rounds() == [-1, 0, 1, 2, 3]
    for r in range(4):
        assert sorted(x["canon_url"] for x in cat.read_at("frontier", r).collect()) \
            == live[r]["frontier"], r
        assert cat.read_at("crawl_log", r).orderBy("fetch_seq").toPandas() \
            .equals(live[r]["log"]), r
        assert sorted(x["canon_url"] for x in cat.read_at("seen", r).collect()) \
            == live[r]["seen"], r
    # snapshot isolation across a later destructive op: evicting round 0
    # compacts the LIVE seen table but must not disturb the r=2 snapshot
    pre = sorted(x["canon_url"] for x in cat.read_at("seen", 2).collect())
    eng.evict_cohort(0)
    assert sorted(x["canon_url"] for x in cat.read("seen").collect()) != pre
    assert sorted(x["canon_url"] for x in cat.read_at("seen", 2).collect()) == pre
