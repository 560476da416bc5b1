#!/usr/bin/env python
"""Cluster entry point: run a crawl via spark-submit (north_rule:
`spark-submit --py-files` on multi-executor clusters at N and 4N
executors).

    zip -r openslack_crawler_spark.zip openslack_crawler_spark/
    spark-submit \
      --py-files openslack_crawler_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.shuffle.partitions=<2-3x total cores> \
      jobs/crawl_job.py \
        --root  <table-store path or Iceberg namespace> \
        --seeds <seed parquet path> \
        --rounds 100 [--resume] [--n-hosts 20000] [--k-per-host 8]

In local/sandbox mode the same file runs directly:
    python jobs/crawl_job.py --root /tmp/crawl --synthetic 100000 --rounds 3
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python jobs/crawl_job.py` puts jobs/ (not the repo root) on
# sys.path; under spark-submit --py-files the zip provides the package
_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _repo_root not in sys.path:
    sys.path.insert(0, _repo_root)

# default crawl shape (also the workload bench.py times)
N_HOSTS = 20000
K_PER_HOST = 8


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--seeds", default=None, help="parquet of SEEDS_SCHEMA rows")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic seeds instead of --seeds")
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--n-hosts", type=int, default=N_HOSTS)
    ap.add_argument("--k-per-host", type=int, default=K_PER_HOST)
    ap.add_argument("--maxdepth", type=int, default=2)
    ap.add_argument("--use-bloom", action="store_true")
    args = ap.parse_args()

    from openslack_crawler_spark.session import get_spark
    from openslack_crawler_spark import synthetic
    from openslack_crawler_spark.plans import monitor, round_job as rj

    spark = get_spark(app_name="openslack-crawler-spark")
    if args.synthetic:
        seeds = synthetic.gen_seeds(spark, args.synthetic, n_hosts=args.n_hosts)
    elif args.seeds:
        seeds = spark.read.parquet(args.seeds)
    else:
        raise SystemExit("need --seeds or --synthetic")
    robots = synthetic.gen_robots(spark, args.n_hosts)
    cfg = rj.CrawlConfig(
        n_hosts=args.n_hosts,
        k_per_host=args.k_per_host,
        maxdepth=args.maxdepth,
        use_bloom=args.use_bloom,
    )
    fmt = rj.run_crawl(
        spark, args.root, seeds, robots, cfg, rounds=args.rounds, resume=args.resume
    )
    roll = monitor.counters_rollup(fmt.read("counters")).orderBy("round_id").collect()
    print(
        json.dumps(
            {
                "snapshot": fmt.current_snapshot_id(),
                "meta": fmt.meta(),
                "fetched_total": int(fmt.read("fetch_log").count()),
                "frontier_pending": int(fmt.read("frontier").count()),
                "seen": int(fmt.read("seen").count()),
                "rounds": [
                    {"round": r.round_id, "metric": r.metric, "value": r.value}
                    for r in roll
                ],
            }
        )
    )


if __name__ == "__main__":
    main()
