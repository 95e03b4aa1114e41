"""spark-submit job script for the crawl engine (north-rule launch mode:
``spark-submit --py-files dist/scrapeulous_spark.zip tools/submit_crawl.py``).

Takes NO master/conf of its own — cluster size comes from spark-submit
(``--master local[8]`` in-sandbox; ``--master yarn --num-executors N``
on a real cluster), which is what makes the N-vs-4N comparison a pure
relaunch. Prints ONE JSON line with wall time and URLs/sec.

Usage:
    spark-submit --master local[8] --py-files dist/scrapeulous_spark.zip \
        tools/submit_crawl.py [--scale smoke|bench] [--link-depth N]
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", choices=["smoke", "bench"], default="smoke")
    ap.add_argument("--link-depth", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # package import resolves from --py-files (or the repo when run locally)
    from scrapeulous_spark.plans.loop import CrawlEngine
    from scrapeulous_spark.sources.corpus import BENCH, SMOKE, ensure_corpus

    spark = (
        SparkSession.builder.appName("scrapeulous_crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    paths = ensure_corpus(SMOKE if args.scale == "smoke" else BENCH)

    with tempfile.TemporaryDirectory() as wh:
        t0 = time.time()
        eng = CrawlEngine(spark, wh, paths, link_depth=args.link_depth)
        eng.run()
        n_urls = eng.result_crawl_order().count()
        n_seen = eng.result_seen().count()
        wall = time.time() - t0

    print(
        json.dumps(
            {
                "master": spark.sparkContext.master,
                "scale": args.scale,
                "urls_fetched": n_urls,
                "seen_set": n_seen,
                "wall_sec": round(wall, 2),
                "urls_per_sec": round(n_urls / wall, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
