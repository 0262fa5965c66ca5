"""spark-submit entry point for the frontier crawl.

    zip -r engine.zip deepcrawl4ai_spark      # or tools/make_pyfiles.sh
    spark-submit --master local[32] --py-files engine.zip \
        jobs/crawl_job.py --store /dev/shm/crawlstore --seeds 64 --rounds 5

On a real cluster the same invocation runs with --master yarn/k8s and the
store root on shared storage; everything else is unchanged (the engine only
needs a SparkSession and a store path).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True)
    ap.add_argument("--seeds", type=int, default=64)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--budget", type=int, default=200)
    ap.add_argument("--budget-scale", type=int, default=1)
    ap.add_argument("--record-order", action="store_true")
    ap.add_argument(
        "--transport",
        choices=("synthetic", "http"),
        default="synthetic",
        help="fetch transport; http needs --http-base (either way each "
        "selected URL is fetched exactly once)",
    )
    ap.add_argument("--http-base", default="http://127.0.0.1:8765")
    ap.add_argument(
        "--robots-from-transport",
        action="store_true",
        help="fill the politeness dim from /robots.txt fetched over the "
        "transport (http only) instead of the synthetic config table",
    )
    ap.add_argument(
        "--filter-kind",
        choices=("bloom", "cuckoo"),
        default="bloom",
        help="URL-seen filter kind (cuckoo adds deletion support)",
    )
    ap.add_argument(
        "--health-gauges",
        action="store_true",
        help="sample real cpu/mem per round (monitor.SystemSampler) into the "
        "budget gate + metrics (wall-clock gauges: a replay does not "
        "reproduce them — off for golden runs)",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("deepcrawl4ai_spark_crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from deepcrawl4ai_spark.frontier import bloom, webgraph as WG
    from deepcrawl4ai_spark.frontier.engine import CrawlEngine, EngineConfig

    bloom.FILTER_KIND = args.filter_kind
    transport = {"kind": args.transport}
    if args.transport == "http":
        transport["base"] = args.http_base
    gauges = None
    if args.health_gauges:
        from deepcrawl4ai_spark.frontier.monitor import SystemSampler

        gauges = SystemSampler()
    robots_rows = None
    if args.robots_from_transport:
        if args.transport != "http":
            raise SystemExit("--robots-from-transport requires --transport http")
        from deepcrawl4ai_spark.frontier.fetcher import fetch_robots_rows

        robots_rows = fetch_robots_rows(spark, WG.hosts(), transport)

    eng = CrawlEngine(
        spark,
        args.store,
        EngineConfig(
            global_budget=args.budget,
            max_rounds=args.rounds,
            budget_scale=args.budget_scale,
            record_order=args.record_order,
            transport=transport,
            health_gauges=gauges,
        ),
        robots_rows=robots_rows,
    )
    metrics = eng.run(WG.gen_seeds(args.seeds))
    for m in metrics:
        print(
            json.dumps(
                {k: v for k, v in m.items() if k not in ("crawl_order", "per_partition")}
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
