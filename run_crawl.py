#!/usr/bin/env python
"""spark-submit entry point for the crawl engine.

Local smoke:
    python run_crawl.py --corpus <dir> --checkpoint <dir> --rounds 8

Cluster (the packaging the engine is built for):
    python -c "from don_crawler_spark.session import _ship_package" # or:
    cd <repo> && zip -r /tmp/don_crawler_spark.zip don_crawler_spark
    spark-submit --py-files /tmp/don_crawler_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \\
        run_crawl.py --corpus s3://.../corpus --checkpoint s3://.../ckpt

Resume is automatic: re-running with the same --checkpoint continues from
the latest committed round manifest (at most one round is redone).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True,
                    help="corpus dir holding pages, seeds, robots, host_budgets, "
                         "transient and redirects (.parquet), all required")
    ap.add_argument("--checkpoint", required=True, help="snapshot checkpoint root")
    ap.add_argument("--rounds", type=int, default=20)
    ap.add_argument("--round-budget-ms", type=int, default=60_000)
    ap.add_argument("--max-depth", type=int, default=50)
    ap.add_argument("--enrich", action="store_true", help="simhash/quality per fetched page")
    ap.add_argument("--cpus", type=int, default=None, help="local mode only")
    args = ap.parse_args()

    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import run_crawl

    try:
        # under spark-submit a session may already exist
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    except Exception:
        spark = None
    if spark is None:
        from don_crawler_spark.session import get_spark

        spark = get_spark("don-crawler-run", cpus=args.cpus)

    cfg = CrawlConfig(
        max_rounds=args.rounds,
        round_budget_ms=args.round_budget_ms,
        max_depth=args.max_depth,
        enrich_fetched=args.enrich,
    )
    summary = run_crawl(spark, args.corpus, args.checkpoint, cfg)
    print(
        json.dumps(
            {
                "rounds": summary.rounds,
                "resumed_from": summary.resumed_from,
                "urls_fetched": summary.urls_fetched,
                "urls_200": summary.urls_200,
                "wall_ms_per_round": summary.wall_ms_per_round,
            }
        )
    )


if __name__ == "__main__":
    main()
