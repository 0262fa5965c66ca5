"""Scaling-efficiency bench: the SAME frontier-crawl job at two parallelism
levels (local[N] and local[4N]) on the same input — the sandbox stand-in for
the north_rule's N vs 4N executor criterion (BASELINE.md protocol).

Runs one level per invocation (fresh JVM each time, fair cold-ish start):

    CRAWL_N_HOSTS=200 CRAWL_PAGE_SCALE=5000 \
      python tools/bench_scaling.py --cores 8 --frontier 1000000 \
        --rounds 3 --budget 150000 --budget-scale 400 --out /tmp/scale8.json

The frontier is seeded distributed (spark.range → URL synth → JVM sha1):
no driver-side loops anywhere.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def build_frontier(spark, n_urls: int, skew_hot: float = 0.0):
    """Sample the universe into a queued frontier — pure SQL. skew_hot > 0
    routes that FRACTION of samples straight to host 0's page range (the
    mega-host stress: e.g. 0.5 → one host holds ~half the queued pages),
    the rest stay page-count-weighted across the universe."""
    from pyspark.sql import functions as F

    from deepcrawl4ai_spark.frontier import webgraph as WG
    from deepcrawl4ai_spark.frontier.engine import _score_sql

    cum = []
    acc = 0
    for p in WG.host_pages():
        acc += p
        cum.append(acc)
    total = acc
    hosts = WG.hosts()
    # host lookup via a broadcast range table: (host_idx, lo, hi, host, pages)
    rows = []
    lo = 0
    for i, hi in enumerate(cum):
        rows.append((i, lo, hi, hosts[i], WG.host_pages()[i]))
        lo = hi
    ranges = spark.createDataFrame(
        rows, "host_idx int, lo long, hi long, host string, pages int"
    )
    pages0 = WG.host_pages()[0]
    g_uniform = (F.col("id") * 2654435761) % total
    g_hot = (F.col("id") * 2654435761) % pages0  # host 0 occupies [0, pages0)
    ids = spark.range(0, n_urls).select(
        F.when(
            (F.col("id") % 1_000_000) < int(skew_hot * 1_000_000), g_hot
        ).otherwise(g_uniform).alias("g")
    )
    joined = ids.join(
        F.broadcast(ranges), (F.col("g") >= F.col("lo")) & (F.col("g") < F.col("hi"))
    )
    urls = joined.select(
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/p/"), (F.col("g") - F.col("lo"))
        ).alias("url_norm"),
        F.col("host"),
    ).dropDuplicates(["url_norm"])
    return urls.select(
        "url_norm",
        F.sha1(F.encode("url_norm", "UTF-8")).alias("url_hash"),
        "host",
        F.lit(0).alias("depth"),
        F.lit(0.0).alias("score"),
        F.lit(0).alias("due_round"),
        F.lit("queued").alias("state"),
        F.lit(0).alias("round_added"),
        F.lit(0).alias("attempt"),
    ).withColumn("score", _score_sql(F.col("url_hash")))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--frontier", type=int, default=1_000_000)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--budget", type=int, default=150_000)
    ap.add_argument("--budget-scale", type=int, default=400)
    ap.add_argument("--out", default="")
    ap.add_argument(
        "--fetch-work-ms",
        type=float,
        default=2.0,
        help="deterministic per-page CPU work (ms) simulating realistic "
        "fetch+parse cost; 0 disables",
    )
    ap.add_argument(
        "--skew-hot",
        type=float,
        default=0.0,
        help="fraction of the frontier routed to host 0 (mega-host skew "
        "stress; 0 = page-count-weighted universe)",
    )
    ap.add_argument(
        "--verify-politeness",
        action="store_true",
        help="after the run, assert no (round, host) exceeded its per-host "
        "budget (the skew leg's invariant check)",
    )
    ap.add_argument(
        "--transport",
        choices=("synthetic", "http"),
        default="synthetic",
        help="http = fetch every page over a REAL wire from a local slow "
        "origin (see --wire-delay-ms); the engine's in-partition fan-out is "
        "what keeps throughput above cores/delay",
    )
    ap.add_argument(
        "--wire-delay-ms",
        type=float,
        default=50.0,
        help="per-request latency of the local origin for --transport http",
    )
    ap.add_argument(
        "--fetch-concurrency",
        type=int,
        default=10,
        help="in-partition fan-out width for --transport http",
    )
    ap.add_argument(
        "--per-host-concurrency",
        type=int,
        default=0,
        help="instantaneous per-host in-flight cap for --transport http "
        "(reference max_session_permit semantics, actions.py:254); 0 = off "
        "(volume politeness via the token budget only)",
    )
    args = ap.parse_args()
    # must be set before the session so python workers inherit it
    os.environ["CRAWL_FETCH_WORK_MS"] = str(args.fetch_work_ms)

    from deepcrawl4ai_spark.frontier.engine import CrawlEngine, EngineConfig
    from deepcrawl4ai_spark.session import get_spark

    # tmpfs for both the checkpoint store and Spark's shuffle/spill dirs —
    # a single local disk would serialize the IO and mask CPU scaling (a real
    # cluster has per-executor disks)
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    local_dir = tempfile.mkdtemp(prefix="spark_local_", dir=shm)
    spark = get_spark(
        f"scaling_bench_{args.cores}",
        cores=args.cores,
        shuffle_partitions=max(args.cores * 2, 16),
        extra_conf={"spark.local.dir": local_dir},
    )
    store = tempfile.mkdtemp(prefix=f"scalestore{args.cores}_", dir=shm)
    server = None
    transport = None
    if args.transport == "http":
        from deepcrawl4ai_spark.frontier.httpserver import SyntheticWebServer

        server = SyntheticWebServer(delay_s=args.wire_delay_ms / 1000.0).start()
        transport = {
            "kind": "http",
            "base": server.base,
            "concurrency": args.fetch_concurrency,
        }
        if args.per_host_concurrency > 0:
            transport["per_host_concurrency"] = args.per_host_concurrency
    try:
        eng = CrawlEngine(
            spark,
            store,
            EngineConfig(
                global_budget=args.budget,
                max_rounds=args.rounds,
                max_depth=6,
                budget_scale=args.budget_scale,
                record_order=False,
                transport=transport,
            ),
        )
        t_seed = time.time()
        eng.submit_frontier(build_frontier(spark, args.frontier, args.skew_hot))
        seed_sec = time.time() - t_seed

        t0 = time.time()
        metrics = eng.run()
        wall = time.time() - t0
        fetched = sum(m["urls_fetched"] for m in metrics)
        popped = sum(m["urls_popped"] for m in metrics)
        round_secs = [m.get("_sec") for m in metrics]
        out = {
            "cores": args.cores,
            "skew_hot": args.skew_hot,
            "transport": args.transport,
            "frontier_urls": args.frontier,
            "rounds": len(metrics),
            "urls_popped": popped,
            "urls_fetched": fetched,
            "wall_sec": round(wall, 2),
            "seed_sec": round(seed_sec, 2),
            "urls_per_sec": round(fetched / wall, 1),
            "round_secs": round_secs,
            "per_round": [
                {
                    k: m[k]
                    for k in (
                        "round",
                        "urls_popped",
                        "urls_fetched",
                        "new_frontier",
                        "_sec",
                        "_phases",
                        "bloom",
                        "bloom_built_n",
                        "bloom_rebuilt",
                        "salted",
                    )
                    if k in m
                }
                for m in metrics
            ],
        }
        # driver-side memory ceiling evidence (VERDICT r6 #2): peak RSS of
        # this python driver and of the live driver JVM (VmHWM from /proc —
        # RUSAGE_CHILDREN only counts reaped children, and the JVM is still
        # up here). The 10M-frontier leg exists to catch any driver
        # structure that grows with frontier size (seed ingest, manifest,
        # salt detection).
        import resource

        out["driver_py_maxrss_mb"] = round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
        )
        me = os.getpid()
        jvm_hwm_kb = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                stat = open(f"/proc/{pid}/status").read()
            except OSError:
                continue
            ppid = hwm = 0
            for ln in stat.splitlines():
                if ln.startswith("PPid:"):
                    ppid = int(ln.split()[1])
                elif ln.startswith("VmHWM:"):
                    hwm = int(ln.split()[1])
            if ppid == me:
                jvm_hwm_kb = max(jvm_hwm_kb, hwm)
        out["driver_jvm_peak_rss_mb"] = round(jvm_hwm_kb / 1024, 1)
        if args.verify_politeness:
            # invariant: no (round, host) ever exceeded its per-host budget —
            # the salted selection must stay EXACT under skew, not just fast
            from pyspark.sql import functions as F

            from deepcrawl4ai_spark.frontier import DEFAULT_HOST_MAX_TOKENS

            per = (
                eng.store.read(spark, "results")
                .groupBy("round", "host")
                .agg(F.count("*").alias("n"))
                .join(eng.robots_df.select("host", "max_tokens"), "host", "left")
                .withColumn(
                    "budget",
                    # fallback derived from the engine's own default (ADVICE
                    # r4) — never a literal that can drift from engine.py
                    F.coalesce(
                        F.col("max_tokens"),
                        F.lit(DEFAULT_HOST_MAX_TOKENS * args.budget_scale),
                    ),
                )
            )
            viol = per.filter(F.col("n") > F.col("budget")).count()
            hot = (
                per.orderBy(F.desc("n"))
                .select("round", "host", "n", "budget")
                .head()
            )
            out["politeness_ok"] = viol == 0
            out["politeness_violations"] = viol
            if hot is not None:
                out["hottest_host_round"] = {
                    "round": hot["round"],
                    "host": hot["host"],
                    "fetched": hot["n"],
                    "budget": hot["budget"],
                }
        if server is not None:
            # wire-level exactly-once audit at bench scale: every popped URL
            # hit the origin exactly once (no double fetch, no retry
            # double-GET)
            out["wire_requests"] = server.n_requests
            out["wire_exactly_once"] = server.n_requests == popped
            out["wire_delay_ms"] = args.wire_delay_ms
            out["fetch_concurrency"] = args.fetch_concurrency
            out["per_host_concurrency"] = args.per_host_concurrency
        print(json.dumps(out))
        if args.out:
            with open(args.out, "w") as f:
                json.dump(out, f, indent=1)
    finally:
        shutil.rmtree(store, ignore_errors=True)
        spark.stop()
        if server is not None:
            server.stop()
        shutil.rmtree(local_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
