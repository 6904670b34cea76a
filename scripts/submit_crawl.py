"""spark-submit entrypoint for the crawl engine (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

    spark-submit --py-files mtn.zip scripts/submit_crawl.py \
        --pages s3://bucket/pages --seeds s3://bucket/seeds \
        --run-dir s3://bucket/runs/r1 --iterations 100

In the sandbox the same script runs on local[N] against fixture
parquet.  Pass --resume to continue a checkpointed run (no seeds read).
Cluster-mode knobs (AQE, shuffle partitions) are plain Spark confs set
with spark-submit --conf; the crawl knobs are this script's flags — no
code change between local[32] and a 1000-executor cluster.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# running from a checkout (sandbox); under spark-submit --py-files the
# zip is already on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="map-the-net spark crawl")
    ap.add_argument("--pages", required=True, help="pages parquet/table path")
    ap.add_argument("--fixtures", required=True,
                    help="dir with robots/redirects/whois/dns/ssl/geo parquet")
    ap.add_argument("--seeds", help="frontier-seed parquet (omit with --resume)")
    ap.add_argument("--run-dir", required=True, help="TableIO snapshot root")
    ap.add_argument("--iterations", type=int, default=100)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--max-items", type=int, default=10)
    ap.add_argument("--max-depth", type=int, default=3)
    ap.add_argument("--politeness-budget", type=int, default=0)
    ap.add_argument("--salt-buckets", type=int, default=1)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from map_the_net_crawler_spark import schemas as S
    from map_the_net_crawler_spark.config import CrawlConfig
    from map_the_net_crawler_spark.plans.crawl import run_crawl
    from map_the_net_crawler_spark.plans.iteration import CrawlInputs
    from map_the_net_crawler_spark.storage import TableIO

    spark = SparkSession.builder.appName("mtn-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    fx = args.fixtures.rstrip("/")
    inputs = CrawlInputs(
        pages=spark.read.parquet(args.pages),
        robots=spark.read.parquet(f"{fx}/robots.parquet"),
        redirects=spark.read.schema(S.REDIRECTS)
        .parquet(f"{fx}/redirects.parquet"),
        whois=spark.read.parquet(f"{fx}/whois.parquet"),
        dns=spark.read.parquet(f"{fx}/dns.parquet"),
        ssl=spark.read.parquet(f"{fx}/ssl.parquet"),
        geo=spark.read.parquet(f"{fx}/geo.parquet"))
    cfg = CrawlConfig(max_items=args.max_items, max_depth=args.max_depth)
    seeds = None if args.resume else spark.read.parquet(args.seeds)
    summary = run_crawl(spark, TableIO(args.run_dir, spark), inputs, cfg,
                        seeds=seeds, max_iterations=args.iterations,
                        politeness_budget=args.politeness_budget,
                        salt_buckets=args.salt_buckets)
    print(json.dumps({
        "iterations": len(summary.iterations),
        "processed": summary.total_processed,
        "new_urls": sum(r.new_urls for r in summary.iterations)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
