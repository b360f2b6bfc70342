"""spark-submit entry point for the crawl engine (north_rule: "launched
via spark-submit --py-files on multi-executor clusters").

Usage:
    spark-submit --py-files wcs.zip scripts/run_crawl.py \
        --fixtures <dir> --run-dir <dir> [--max-rounds N] [--per-host-k K]

scripts/submit.sh packages the repo and smoke-tests this in local mode;
on a real cluster add --master/--num-executors. The engine keeps its
tables in ManifestCatalog under --run-dir, so no extra package is needed.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixtures", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--max-rounds", type=int, default=8)
    ap.add_argument("--per-host-k", type=int, default=4)
    ap.add_argument("--budget", type=int, default=None)
    args = ap.parse_args()

    # spark-submit owns master/executor config; we only require session
    # settings the engine depends on (Arrow, AQE, UTC).
    spark = (
        SparkSession.builder.appName("web_crawler_spark")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    from web_crawler_spark.config import CrawlConfig
    from web_crawler_spark.plans.crawl import CrawlEngine

    cfg = CrawlConfig(per_host_k=args.per_host_k, max_rounds=args.max_rounds,
                      global_budget=args.budget)
    eng = CrawlEngine(spark, args.fixtures, args.run_dir, cfg)
    out = eng.run()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
