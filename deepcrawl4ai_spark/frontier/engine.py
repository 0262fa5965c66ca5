"""The frontier round loop — the reference's worker loop (crawl.py:189-290)
re-expressed as Spark rounds over checkpointed tables.

Per round (all DataFrame ops, one driver-side loop):
  selection   S4/O1/O2: due-filter → per-host top-budget in ONE window pass
              (the literal rank bound triggers Catalyst's WindowGroupLimit:
              map-side partial top-k per host BEFORE the shuffle — the
              north_rule's hot-host skew handling; a mega-host's queued
              millions never travel; above salt_threshold an exact
              (host, salt) pre-stage spreads even the survivors) → exact
              distributed global top-budget (range partition + key cutoff;
              no TakeOrdered driver merge) — the ONE selection path; it
              returns the whole host-capped set when that fits the budget.
  politeness  R3/R5: per-host budget = robots.max_tokens per round — budget
              arithmetic on round numbers, no wall clock, so replays/resume
              are exact.
  fetch       F1/F2: mapInPandas batches, rebalanced with an explicit
              round-robin repartition so the expensive stage uses every core
              (deterministic synthetic web here; async client pool on a real
              cluster).
  dedup       J3: bloom prefilter (partitioned, size-adaptive generations,
              grouped applyInArrow) → exact left-anti rescue ONLY for maybe-seen
              rows, against ONLY the seen_hashes storage buckets they hash
              into (partition-pruned log scan).
  commit      X3/T7: frontier + seen_filter + results in one atomic snapshot
              (round metrics/lineage live in the manifest itself); kill +
              restart resumes without re-fetching.

Canonical total order (SURVEY.md §4.5): (-score, depth, url_hash) — shared
with the pure-Python simulator, which is the golden oracle for crawl-order /
seen-set / span equality.

Efficiency notes (the 100 TB view):
- A committed round runs the fetch with its one metrics collect, then the
  commit writes — no count-first pass, no fetch-then-discard: every URL hits
  the transport exactly once, whatever the transport.
- Round metrics come from the fetch job's ≤budget-row collect (test scale,
  also records crawl order) or one tiny aggregate (bench scale) — never 10^5
  rows to the driver. new_frontier/dedup_dropped are facts of the commit:
  the seen_hashes append's row count, read from the parquet footers.
- The frontier/seen-filter carry between rounds is the just-written snapshot
  read back lazily with the schema the manifest recorded (truncates lineage
  without recomputing the plan; no schema-inference job).
- On a real cluster the frontier table is hash-partitioned by url_hash
  bucket; the per-round rewrite becomes an Iceberg MERGE on the touched
  partitions only.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from deepcrawl4ai_spark.frontier import bloom, webgraph as WG
from deepcrawl4ai_spark.frontier.checkpoint import CheckpointStore
from deepcrawl4ai_spark.frontier.fetcher import run_fetch

FRONTIER_COLS = (
    "url_norm",
    "url_hash",
    "host",
    "depth",
    "score",
    "due_round",
    "state",
    "round_added",
    "attempt",
)


from deepcrawl4ai_spark.frontier import DEFAULT_HOST_MAX_TOKENS


@dataclass
class EngineConfig:
    global_budget: int = 200
    max_rounds: int = 10
    max_depth: int = 4
    max_attempts: int = 2
    budget_scale: int = 1  # multiplies per-host robots budgets (bench knob)
    # record_order collects every fetched row's metadata to the driver each
    # round (the golden-test crawl-order record). Default OFF: at 10^7-row
    # rounds a forgotten flag is a driver OOM — tests opt in explicitly.
    record_order: bool = False
    # R1/X1 dynamic rate limit (reference monitor.py:200-238): next round's
    # global budget = max(floor, base * (1 - last_round_error_rate)).
    # Deterministic (metrics-derived); the production controller also folds
    # in cpu/mem gauges, which are non-replayable and stay out of tests.
    adaptive_budget: bool = False
    min_budget: int = 10
    # A3/R7 health gate (reference monitor.py:175-238 + scrape.py:12-31 gate
    # admission on cpu/mem/error): optional driver-side callable returning
    # (cpu_frac, mem_frac) in [0,1]; the next round's budget factor becomes
    # min(1-cpu, 1-mem, 1-err). Gauges are non-replayable by nature — leave
    # None (off) for golden tests and deterministic replays.
    health_gauges: object | None = None
    # Hot-host salting (SURVEY §4 item 2): when per-host budgets exceed
    # salt_threshold, selection runs a pre-stage window over (host, salt) so
    # no single reducer sorts a mega-host's entire queued set — each salt
    # keeps its own top-budget and the exact per-host pass then ranks only
    # ≤ salt_splits × budget survivors. Physical only: results are identical
    # (any row in the host's true top-budget is inside its salt's top-budget).
    # Calibration: WindowGroupLimit already map-side-caps the UNSALTED
    # window's shuffle to ≤ budget × map-partitions rows per host, so a
    # host reducer's sort is bounded regardless — the pre-stage (a second
    # full shuffle of the due set EVERY round) only pays once that bounded
    # sort itself is large, i.e. budgets in the 10^5+ range on wide inputs.
    # Profiled at budget≈2k/32 maps the pre-stage was pure overhead
    # (~3-5 s/round at 16 cores); tests opt in with a small threshold.
    salt_threshold: int = 100_000
    salt_splits: int = 16
    # R3/R4 token bucket (reference TokenBucket, redisCache.py:85-89): when
    # on, a host's round budget is min(capacity, tokens + refill) with the
    # balance carried in a checkpointed host_state table; refill =
    # robots.rps_budget per round. When off, budget = capacity each round
    # (equivalent to refill == capacity). All integer round arithmetic — no
    # wall clock — so replays/resume are exact.
    token_bucket: bool = False
    # Fetch transport dict (fetcher.make_fetch_map): None = env default
    # (CRAWL_TRANSPORT), {"kind": "synthetic"}, or
    # {"kind": "http", "base": "http://host:port"}. Golden parity between the
    # two is tests/test_transport.py.
    transport: dict | None = None


def _score_sql(url_hash_col):
    """url_score as pure SQL — must equal webgraph.url_score bit-for-bit:
    ((int(hash[:8],16) >> 2) % 10000) / 10000.0"""
    v = F.conv(F.substring(url_hash_col, 1, 8), 16, 10).cast("long")
    return (F.shiftright(v, 2) % 10000) / 10000.0


def _order_cols():
    return [F.col("score").desc(), F.col("depth").asc(), F.col("url_hash").asc()]


def _unpersist_local_checkpoint(df: DataFrame) -> None:
    """Eagerly reclaim a localCheckpoint's cached blocks instead of waiting
    for the ContextCleaner's GC cycle (ADVICE r2: long drains with large
    frontiers accumulate checkpoint storage between cleaner passes). A
    localCheckpointed DataFrame's analyzed plan is a LogicalRDD wrapping the
    persisted internal RDD — unpersist that exact RDD. Best-effort: on any
    py4j/plan-shape mismatch the cleaner still reclaims it eventually."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — fall back to ContextCleaner reclaim
        pass


def distributed_limit(
    df: DataFrame, n: int, spark: SparkSession, holds: list | None = None
) -> DataFrame:
    """Exact global top-n in canonical order WITHOUT TakeOrdered's
    driver-side merge (which materializes n rows × partitions on the driver —
    the serial bottleneck at 10^5+ budgets).

    Strategy: range-partition on the sort key, localCheckpoint the ranged
    data (repartitionByRange's boundary sampling is nondeterministic across
    recomputations — counts and boundary contents must come from ONE stable
    materialization; lost blocks fail loudly instead of silently
    re-sampling), count per partition (tiny collect), locate the global
    n-th row's KEY inside the boundary partition, then filter the ORIGINAL
    df by key ≤ that key. The final selection is key-based, never
    partition-id-based, so it stays exact even if the upstream plan is later
    recomputed with different range boundaries. Exact because the sort key
    (-score, depth, url_hash) is a total order (url_hash unique)."""
    if n <= 20_000:
        return df.orderBy(*_order_cols()).limit(n)
    parts = max(spark.sparkContext.defaultParallelism * 2, 16)
    # persist the input: the range sampling pass, the count, and the final
    # key filter would otherwise recompute the (expensive) upstream plan
    df = df.persist()
    if holds is not None:
        holds.append(df)
    ranged = (
        df.repartitionByRange(parts, *_order_cols())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    total = 0
    target_pid: int | None = None
    target_rank = 0
    for pid in sorted(counts):
        if total < n <= total + counts[pid]:
            target_pid = pid
            target_rank = n - total
        total += counts[pid]
    if total <= n or target_pid is None:
        _unpersist_local_checkpoint(ranged)
        return df  # fewer than n rows — everything is selected
    # the global n-th row in canonical order = row target_rank of target_pid
    # (range partitions are ordered by pid along the sort key)
    w = W.partitionBy("_pid").orderBy(*_order_cols())
    krow = (
        ranged.filter(F.col("_pid") == target_pid)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == target_rank)
        .select("score", "depth", "url_hash")
        .head()
    )
    ks, kd, ku = krow["score"], krow["depth"], krow["url_hash"]
    _unpersist_local_checkpoint(ranged)
    # key-based cutoff: (-score, depth, url_hash) ≤ (-ks, kd, ku). Safe to
    # compare doubles for equality — scores are closed-form int/10000.0.
    return df.filter(
        (F.col("score") > F.lit(ks))
        | ((F.col("score") == F.lit(ks)) & (F.col("depth") < F.lit(kd)))
        | (
            (F.col("score") == F.lit(ks))
            & (F.col("depth") == F.lit(kd))
            & (F.col("url_hash") <= F.lit(ku))
        )
    )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        cfg: EngineConfig | None = None,
        robots_rows: list[dict] | None = None,
        robots_df: DataFrame | None = None,
    ):
        """*robots_rows* overrides the politeness dim (default: the synthetic
        config table). *robots_df* is the fully distributed variant (ADVICE
        r3): a DataFrame with fetch_robots_df's columns (host, crawl_delay,
        rps_budget, max_tokens, disallow_rules) — e.g. robots.txt bodies
        fetched over the wire — consumed WITHOUT ever materializing rows on
        the driver: it is localCheckpointed once (the robots CACHE — the wire
        fetch runs exactly once, not per broadcast re-plan) and the
        driver-side window bound comes from a single 1-value aggregate."""
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        self.store = CheckpointStore(store_root)
        scale = self.cfg.budget_scale
        if robots_df is not None:
            dim = robots_df.select(
                "host",
                (F.col("max_tokens") * scale).cast("int").alias("max_tokens"),
                (F.col("rps_budget").cast("int") * scale).cast("int").alias("refill"),
                "disallow_rules",
            )
            # materialize once, executor-side: this IS the robots cache
            self.robots_df = dim.localCheckpoint()
            top = self.robots_df.agg(F.max("max_tokens")).head()[0]
            self._max_budget = int(top) if top is not None else 2
            return
        robots = robots_rows if robots_rows is not None else WG.robots_rows()
        scaled = [r["max_tokens"] * scale for r in robots]
        self._max_budget = max(scaled, default=2)
        self.robots_df = spark.createDataFrame(
            [
                (r["host"], t, int(r["rps_budget"]) * scale, r["disallow_rules"])
                for r, t in zip(robots, scaled)
            ],
            "host string, max_tokens int, refill int, disallow_rules array<string>",
        )

    # -- seed ingest (S1) -------------------------------------------------------

    def submit_seeds(self, seed_urls: list[str]) -> None:
        """Initialize the frontier + seen filter from a seed list (idempotent:
        no-op if a checkpoint already exists — resume wins)."""
        if self.store.last_round() is not None:
            return
        rows = WG.seed_frontier_rows(seed_urls)
        frontier = self.spark.createDataFrame(
            [
                (
                    r["url_norm"],
                    r["url_hash"],
                    r["url_norm"].split("://", 1)[1].split("/", 1)[0],
                    0,
                    r["score"],
                    0,
                    "queued",
                    0,
                    0,
                )
                for r in rows
            ],
            self._frontier_schema(),
            # an API-edge seed list is small — don't slice it into one local
            # partition per core (32 near-empty tasks per consuming job at
            # bench scale; guide §6 small-files). coalesce is narrow: no job.
        ).coalesce(max(2, min(8, len(rows) // 1000 + 1)))
        # seeds are a driver-resident list — build the 128 filter rows with
        # plain numpy (bloom.build_filter_rows_local, value-identical to the
        # distributed builder) instead of a shuffle + cogrouped
        # applyInPandas: r8 profiling measured the distributed build at
        # 2-3 s of the seed commit at bench scale
        filters = self.spark.createDataFrame(
            bloom.build_filter_rows_local([r["url_hash"] for r in rows], -1),
            bloom.FILTER_SCHEMA,
        )
        results = self.spark.createDataFrame([], self._results_schema())
        empty_done = self.spark.createDataFrame([], self._frontier_schema())
        self.store.commit_round(
            -1,
            overwrite={"active": frontier, "seen_filter": filters},
            append={
                "results": results,
                "done": empty_done,
                "seen_hashes": frontier.select(
                    "url_hash", bloom.seen_bucket_col(F.col("url_hash"))
                ),
            },
            metrics={"round": -1, "seeded": len(rows)},
        )

    def submit_frontier(self, frontier: DataFrame) -> None:
        """Distributed seed ingest: accept a prepared frontier DataFrame
        (FRONTIER_COLS) — the 10^10-scale path, where seeds are built with
        DataFrame ops (spark.range → url synth → sha1), never a driver loop.
        Idempotent like submit_seeds."""
        if self.store.last_round() is not None:
            return
        frontier = frontier.select(*FRONTIER_COLS).persist()
        n_seeds = frontier.count()  # once, at seed time — sizes the filters
        filters = bloom.build_filters(frontier.select("url_hash"), -1)
        results = self.spark.createDataFrame([], self._results_schema())
        empty_done = self.spark.createDataFrame([], self._frontier_schema())
        self.store.commit_round(
            -1,
            overwrite={"active": frontier, "seen_filter": filters},
            append={
                "results": results,
                "done": empty_done,
                "seen_hashes": frontier.select(
                    "url_hash", bloom.seen_bucket_col(F.col("url_hash"))
                ),
            },
            metrics={"round": -1, "seeded": n_seeds},
        )
        frontier.unpersist()

    def resubmit(self, urls: list[str], bypass_cache: bool = False) -> dict:
        """X9 cache-mode analog (reference ``CacheMode.ENABLED/BYPASS``,
        tasks.py:182, api.py:229): enqueue *urls* into an existing crawl.

        ENABLED (default): the seen set IS the fetch cache — already-seen
        URLs are skipped, unseen ones join the queue. BYPASS: URLs whose
        terminal record sits in the append-only ``done`` log are re-queued
        as a fresh submission (attempt reset, due next round); the old
        terminal row stays in ``done`` and the re-fetch appends a second
        results row — a crawl-refresh, exactly the reference's BYPASS
        re-crawl with history retained. URLs still queued are never
        duplicated. Commits as its own snapshot round (resume-safe)."""
        last = self.store.last_round()
        if last is None:
            raise ValueError("no checkpoint — submit seeds first")
        r = last + 1
        rows = WG.seed_frontier_rows(urls)
        urls_df = self.spark.createDataFrame(
            [
                (
                    x["url_norm"],
                    x["url_hash"],
                    x["url_norm"].split("://", 1)[1].split("/", 1)[0],
                    x["score"],
                )
                for x in rows
            ],
            "url_norm string, url_hash string, host string, score double",
        ).persist()
        # seen check against the exact log, pruned to the buckets of the
        # submitted hashes (known driver-side — the list is an API edge)
        buckets = sorted({bloom.seen_bucket_of(x["url_hash"]) for x in rows})
        seen = self.store.read(self.spark, "seen_hashes")
        if "bucket" in seen.columns and len(buckets) < bloom.SEEN_BUCKETS:
            seen = seen.filter(F.col("bucket").isin(buckets))
        fresh = (
            urls_df.join(seen.select("url_hash"), "url_hash", "left_anti")
            .select(
                "url_norm",
                "url_hash",
                "host",
                F.lit(0).alias("depth"),
                "score",
                F.lit(r + 1).alias("due_round"),
                F.lit("queued").alias("state"),
                F.lit(r + 1).alias("round_added"),
                F.lit(0).alias("attempt"),
            )
            .persist()
        )
        n_fresh = fresh.count()
        requeued = self.spark.createDataFrame([], self._frontier_schema())
        n_requeued = 0
        prior_active = self.store.read(self.spark, "active")
        if bypass_cache:
            done = self.store.read(self.spark, "done")
            if done is not None:
                w = W.partitionBy("url_hash").orderBy(
                    F.col("round_added").desc(), F.col("attempt").desc()
                )
                requeued = (
                    done.join(urls_df.select("url_hash"), "url_hash", "left_semi")
                    # 'URLs still queued are never duplicated': a bypass
                    # resubmit issued twice before the re-fetch lands must be
                    # a no-op the second time — anti-join against the live
                    # queue so one url_hash never holds two queued rows
                    .join(
                        prior_active.filter(F.col("state") == "queued").select(
                            "url_hash"
                        ),
                        "url_hash",
                        "left_anti",
                    )
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .select(
                        "url_norm",
                        "url_hash",
                        "host",
                        "depth",
                        "score",
                        F.lit(r + 1).alias("due_round"),
                        F.lit("queued").alias("state"),
                        F.lit(r + 1).alias("round_added"),
                        F.lit(0).alias("attempt"),
                    )
                    .persist()
                )
                n_requeued = requeued.count()
        active = prior_active.unionByName(fresh).unionByName(requeued)
        filters = self.store.read(self.spark, "seen_filter")
        new_filters = bloom.add_to_filters(filters, fresh.select("url_hash"), r)
        overwrite = {"active": active, "seen_filter": new_filters}
        host_state = self.store.read(self.spark, "host_state")
        if host_state is not None:
            overwrite["host_state"] = host_state
        metrics = {
            "round": r,
            "state": "resubmitted",
            "resubmitted": len(rows),
            "new_frontier": n_fresh,
            "requeued": n_requeued,
        }
        self.store.commit_round(
            r,
            overwrite=overwrite,
            append={
                "results": self.spark.createDataFrame([], self._results_schema()),
                "done": self.spark.createDataFrame([], self._frontier_schema()),
                "seen_hashes": fresh.select(
                    "url_hash", bloom.seen_bucket_col(F.col("url_hash"))
                ),
            },
            metrics=metrics,
        )
        for df in (urls_df, fresh, requeued):
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — empty frames have no storage
                pass
        return metrics

    @staticmethod
    def _frontier_schema() -> str:
        return (
            "url_norm string, url_hash string, host string, depth int, score double,"
            " due_round int, state string, round_added int, attempt int"
        )

    @staticmethod
    def _results_schema() -> str:
        return (
            "doc_id string, url string, url_hash string, host string, depth int,"
            " round int, fetch_status string,"
            " spans array<struct<kind:string,text:string,media_ref:string,offset:int>>,"
            " links array<string>, error string"
        )

    @staticmethod
    def _rounds_schema() -> str:
        return (
            "round int, urls_popped long, urls_fetched long, urls_failed long,"
            " outlinks_seen long, dedup_dropped long, new_frontier long, state string"
        )

    # -- one round -----------------------------------------------------------------

    def run_round(
        self,
        r: int,
        frontier: DataFrame,
        filters: DataFrame,
        budget: int | None = None,
        extra_metrics: dict | None = None,
        active_est: int | None = None,
        seen_est: int | None = None,
    ) -> tuple[dict, DataFrame | None, DataFrame | None]:
        cfg = self.cfg
        round_budget = budget if budget is not None else cfg.global_budget
        self.spark.sparkContext.setJobGroup(
            f"crawl_round_{r}", f"frontier round {r}", interruptOnCancel=True
        )
        import os as _os
        import time as _time

        _profile = _os.environ.get("CRAWL_PROFILE") == "1"
        _phases: dict[str, float] = {}
        _t = _time.time()

        def _mark(name: str) -> None:
            nonlocal _t
            if _profile:
                _phases[name] = round(_time.time() - _t, 2)
                _t = _time.time()

        cand = frontier.filter((F.col("state") == "queued") & (F.col("due_round") <= r))

        # politeness budget join (broadcast — robots is a small dim table).
        # token_bucket: budget = min(capacity, carried tokens + refill); the
        # balance lives in the checkpointed host_state table (R3/R4).
        host_state = (
            self.store.read(self.spark, "host_state") if cfg.token_bucket else None
        )
        if cfg.token_bucket:
            eff = self.robots_df.select("host", "max_tokens", "refill")
            if host_state is not None:
                eff = eff.join(host_state, "host", "left")
            else:
                eff = eff.withColumn("tokens", F.lit(None).cast("int"))
            eff = (
                eff.withColumn(
                    "tokens", F.coalesce(F.col("tokens"), F.col("max_tokens"))
                )
                .withColumn(
                    "avail",
                    F.least(F.col("max_tokens"), F.col("tokens") + F.col("refill")),
                )
                .select("host", "avail")
                .persist()
            )
            budgets = eff.select("host", F.col("avail").alias("max_tokens"))
        else:
            eff = None
            budgets = self.robots_df.select("host", "max_tokens")
        # fallback for hosts with no robots row scales like every other
        # budget (the simulator applies the same DEFAULT_HOST_MAX_TOKENS)
        cand = cand.join(F.broadcast(budgets), "host", "left").withColumn(
            "budget",
            F.coalesce(
                F.col("max_tokens"), F.lit(DEFAULT_HOST_MAX_TOKENS * cfg.budget_scale)
            ),
        )

        # per-host exact top-budget in ONE window pass. The literal rank bound
        # makes Catalyst insert WindowGroupLimit: each map task keeps only its
        # local top-maxb per host BEFORE the shuffle — that is the hot-host
        # skew mitigation (a mega-host's million queued rows never travel;
        # at most maxb × input-partitions do). The exact per-host budget
        # (a column from robots) is then applied on the ranked rows.
        max_budget = max(self._max_budget, 2)
        salted = int(max_budget) > cfg.salt_threshold
        if salted:
            # hot-host pre-stage: exact per-(host, salt) top-budget first.
            # The salt comes from url_hash chars 5-8 (independent of the
            # bloom partition bits), so a mega-host's rows spread over
            # salt_splits reducers; survivors ≤ salt_splits × budget per
            # host, which the exact per-host pass below ranks cheaply.
            w1 = W.partitionBy("host", "_salt").orderBy(*_order_cols())
            cand = (
                cand.withColumn(
                    "_salt",
                    F.pmod(
                        F.conv(F.substring("url_hash", 5, 4), 16, 10).cast("int"),
                        F.lit(int(cfg.salt_splits)),
                    ),
                )
                .withColumn("rk1", F.row_number().over(w1))
                .filter(F.col("rk1") <= F.lit(int(max_budget)))
                .filter(F.col("rk1") <= F.col("budget"))
                .drop("_salt", "rk1")
            )
        w2 = W.partitionBy("host").orderBy(*_order_cols())
        host_capped = (
            cand.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= F.lit(int(max_budget)))
            .filter(F.col("rk") <= F.col("budget"))
            .select(*FRONTIER_COLS)
        )
        # ONE selection path: the exact global top-budget in canonical order.
        # When the host-capped set fits the budget, distributed_limit returns
        # all of it (orderBy+limit below 20k rows; the ranged count above),
        # so no round ever counts first or fetches twice.
        holds: list[DataFrame] = []
        selected = distributed_limit(host_capped, round_budget, self.spark, holds)
        # rebalance before the fetch: the selected set inherits skewed
        # partitioning (top-of-range or per-host clusters); the fetch stage is
        # the expensive one and must use every core evenly. Fetch + round
        # metrics in ONE job: a small collect (test scale, also yields the
        # crawl-order record) or one tiny aggregate (bench scale — never ship
        # 10^5 rows to the driver).
        n_fetch = self.spark.sparkContext.defaultParallelism
        fetched = run_fetch(selected.repartition(n_fetch), cfg.transport).persist()
        order_record: list[str] | None = None
        per_partition: dict[int, int] = {}
        if cfg.record_order:
            meta = fetched.select(
                "url_hash",
                "score",
                "depth",
                "fetch_status",
                F.size("links").alias("n_links"),
                "fetch_pid",
            ).collect()
            popped = len(meta)
            n_success = sum(1 for m in meta if m["fetch_status"] == "success")
            outlinks_seen = sum(
                m["n_links"] for m in meta if m["fetch_status"] == "success"
            )
            for m in meta:
                per_partition[m["fetch_pid"]] = per_partition.get(m["fetch_pid"], 0) + 1
            order_record = [
                m["url_hash"]
                for m in sorted(meta, key=lambda m: (-m["score"], m["depth"], m["url_hash"]))
            ]
        else:
            agg_rows = (
                fetched.groupBy("fetch_status", "fetch_pid")
                .agg(F.count("*").alias("n"), F.sum(F.size("links")).alias("nl"))
                .collect()
            )
            popped = sum(a["n"] for a in agg_rows)
            n_success = sum(a["n"] for a in agg_rows if a["fetch_status"] == "success")
            outlinks_seen = sum(
                a["nl"] or 0 for a in agg_rows if a["fetch_status"] == "success"
            )
            for a in agg_rows:
                per_partition[a["fetch_pid"]] = per_partition.get(a["fetch_pid"], 0) + a["n"]
        for h in holds:
            h.unpersist()
        _mark("select_fetch_metrics")
        if popped == 0:
            fetched.unpersist()
            if eff is not None:
                eff.unpersist()
            # nothing due THIS round, but retries may be scheduled later
            # (due_round = r+1+attempt) — report the earliest pending
            # due_round so run() can skip ahead instead of abandoning them
            nxt_row = (
                frontier.filter(F.col("state") == "queued")
                .agg(F.min("due_round"))
                .head()
            )
            return (
                {"round": r, "urls_popped": 0, "empty": True, "next_due": nxt_row[0]},
                None,
                None,
            )

        succ = fetched.filter(F.col("fetch_status") == "success")

        # outlink pipeline: explode → robots/social filter → batch dedup →
        # bloom prefilter → exact anti-join rescue
        links = succ.filter(F.col("depth") < cfg.max_depth).select(
            (F.col("depth") + 1).alias("depth"), F.explode("links").alias("url_norm")
        )
        links = (
            links.withColumn("host", F.regexp_extract("url_norm", r"^[a-z]+://([^/]+)", 1))
            .withColumn("path", F.regexp_extract("url_norm", r"^[a-z]+://[^/]+(/.*)?$", 1))
            .filter(~F.col("host").isin(*WG.SOCIAL_HOSTS))
            .join(F.broadcast(self.robots_df.select("host", "disallow_rules")), "host", "left")
            .filter(
                ~F.coalesce(
                    F.exists("disallow_rules", lambda rule: F.col("path").startswith(rule)),
                    F.lit(False),
                )
            )
        )
        # sha1 stays JVM-side (links are already canonical — no re-normalize)
        batch = (
            links.withColumn("url_hash", F.sha1(F.encode("url_norm", "UTF-8")))
            .groupBy("url_hash")
            .agg(
                F.min("depth").alias("depth"),
                F.first("url_norm").alias("url_norm"),
                F.first("host").alias("host"),
            )
        )
        # persist: both branches (definitely-new + rescue) read this once,
        # not recompute the whole explode→groupBy→cogroup chain each
        flagged = bloom.maybe_seen(batch, filters).persist()
        # exact-rescue anti-join, PARTITION-PRUNED: only the storage buckets
        # actually present among maybe-seen candidates are read from the
        # append-only seen_hashes log (tiny distinct-collect over the
        # persisted flagged set; at 10^10 hashes this is the difference
        # between scanning the whole log and a few buckets per round)
        maybe = flagged.filter(F.col("maybe_seen"))
        # bucket discovery is itself a job (distinct + tiny collect): it only
        # pays for itself once the append-only log is big enough that
        # skipping buckets beats one extra scheduler round-trip. Below the
        # threshold, scan the whole (small) log — identical results, the
        # prune is purely physical. The 10^10-hash regime always prunes.
        prune_min = int(
            _os.environ.get("CRAWL_PRUNE_MIN_SEEN", "1000000")
        )
        if seen_est is not None and seen_est < prune_min:
            buckets = list(range(bloom.SEEN_BUCKETS))
        else:
            buckets = [
                r[0]
                for r in maybe.select(
                    (F.col("partition_id") % bloom.SEEN_BUCKETS).alias("b")
                )
                .distinct()
                .collect()
            ]
        if buckets:
            seen_hashes = self.store.read(self.spark, "seen_hashes")
            if "bucket" in seen_hashes.columns and len(buckets) < bloom.SEEN_BUCKETS:
                seen_hashes = seen_hashes.filter(F.col("bucket").isin(buckets))
            rescued = maybe.join(
                seen_hashes.select("url_hash"), "url_hash", "left_anti"
            )
            new_src = flagged.filter(~F.col("maybe_seen")).unionByName(rescued)
        else:  # bloom says every candidate is definitely new — no log scan
            new_src = flagged.filter(~F.col("maybe_seen"))
        # persisted: the active, seen_filter and seen_hashes writes of the
        # commit all read it; its row count comes from the commit itself
        new_rows = (
            new_src
            .select(
                "url_norm",
                "url_hash",
                "host",
                "depth",
                _score_sql(F.col("url_hash")).alias("score"),
                F.lit(r + 1).alias("due_round"),
                F.lit("queued").alias("state"),
                F.lit(r + 1).alias("round_added"),
                F.lit(0).alias("attempt"),
            )
            .persist()
        )

        # frontier state update (the "pop" rewrite — reference LTRIM analog).
        # The outcome side is ≤ round-budget rows (tiny next to the queue):
        # broadcast it so the O(queue) rewrite never shuffles the frontier.
        # At 10^8+ round budgets the hint stops binding and AQE falls back
        # to a shuffle join — correctness unchanged.
        outcome = fetched.select("url_hash", F.col("fetch_status").alias("_st"))
        if popped <= 2_000_000:
            outcome = F.broadcast(outcome)
        updated = (
            frontier.join(outcome, "url_hash", "left")
            .withColumn(
                "attempt",
                F.when(F.col("_st") == "failed", F.col("attempt") + 1).otherwise(
                    F.col("attempt")
                ),
            )
            .withColumn(
                "state",
                F.when(F.col("_st") == "success", F.lit("fetched"))
                .when(
                    (F.col("_st") == "failed") & (F.col("attempt") >= cfg.max_attempts),
                    F.lit("failed"),
                )
                .otherwise(F.col("state")),
            )
            .withColumn(
                "due_round",
                F.when(
                    (F.col("_st") == "failed") & (F.col("state") == "queued"),
                    F.lit(r + 1) + F.col("attempt"),
                ).otherwise(F.col("due_round")),
            )
            .select(*FRONTIER_COLS)
            .persist()
        )
        # split: terminal rows (fetched/failed) leave the live queue for the
        # append-only done log — the per-round rewrite is O(queue), not
        # O(all-seen); retry rows stay queued with their new due_round
        done_rows = updated.filter(F.col("state") != "queued")
        # bound write fan-out with a repartition (NOT coalesce — coalesce
        # would cap the upstream join's parallelism too). Fan-out is sized
        # from the live queue's row count when the driver supplies one
        # (guide §6: file count follows data volume, not core count — a
        # 16k-row bench frontier gets 4 files, a 10M-row drain still gets
        # one per core), falling back to defaultParallelism.
        n_par = max(self.spark.sparkContext.defaultParallelism, 4)
        if active_est is None:
            n_write = n_par
        else:
            rows_per_file = int(_os.environ.get("CRAWL_WRITE_ROWS_PER_FILE", "250000"))
            n_write = min(n_par, max(4, active_est // rows_per_file + 1))
        new_active = (
            updated.filter(F.col("state") == "queued")
            .unionByName(new_rows.select(*FRONTIER_COLS))
            .repartition(n_write)
        )

        # seen filter merge: single cogrouped OR pass (associative/idempotent)
        new_filters = bloom.add_to_filters(filters, new_rows.select("url_hash"), r)

        results = succ.select(
            F.col("url_hash").alias("doc_id"),
            F.col("url_norm").alias("url"),
            "url_hash",
            "host",
            "depth",
            F.lit(r).alias("round"),
            "fetch_status",
            "spans",
            "links",
            F.lit(None).cast("string").alias("error"),
            # ≤ round-budget rows read from the persisted fetch — bound the
            # append's file fan-out like the frontier write (guide §6)
        ).coalesce(n_write)

        metrics = {
            "round": r,
            "round_budget": round_budget,
            "urls_popped": popped,
            "urls_fetched": n_success,
            "urls_failed": popped - n_success,
            "outlinks_seen": int(outlinks_seen),
            "per_partition": [
                {"pid": pid, "rows": n} for pid, n in sorted(per_partition.items())
            ],
        }
        if salted:
            # evidence line for the skew bench: the two-stage salted
            # selection engaged this round (physical-only, results identical)
            metrics["salted"] = True
        if order_record is not None:
            metrics["crawl_order"] = order_record
        if extra_metrics:
            metrics.update(extra_metrics)

        metrics["state"] = "committed"
        overwrite = {"active": new_active, "seen_filter": new_filters}
        if cfg.token_bucket and eff is not None:
            consumed = fetched.groupBy("host").agg(F.count("*").alias("consumed"))
            overwrite["host_state"] = eff.join(consumed, "host", "left").select(
                "host",
                (F.col("avail") - F.coalesce(F.col("consumed"), F.lit(0)))
                .cast("int")
                .alias("tokens"),
            )

        def _counts(tables_meta: dict) -> None:
            # the seen_hashes append IS this round's new frontier: its exact
            # row count is read from the parquet footers the commit already
            # walks — no count job, and nothing an empty plan can prune away
            new_count = tables_meta["seen_hashes"]["rows"]
            metrics["new_frontier"] = new_count
            metrics["dedup_dropped"] = int(outlinks_seen) - new_count

        # the rounds lineage table lives in the snapshot manifests (the
        # manifest IS the commit) — no per-round parquet job for it
        self.store.commit_round(
            r,
            overwrite=overwrite,
            append={
                "results": results,
                "done": done_rows.coalesce(n_write),
                "seen_hashes": new_rows.select(
                    "url_hash", bloom.seen_bucket_col(F.col("url_hash"))
                ),
            },
            metrics=metrics,
            finalize=_counts,
        )
        _mark("dedup_commit")
        # carry the just-written snapshot (lazy read-back: truncates lineage
        # without recomputing the plan a second time)
        carried_frontier = self.store.read(self.spark, "active")
        carried_filters = self.store.read(self.spark, "seen_filter")
        if _profile:
            metrics["_phases"] = _phases
            # effective seen-filter state: items, bits, generations, FPR —
            # the round-over-round saturation signal (ADVICE r1: log it)
            metrics["bloom"] = bloom.filter_stats(carried_filters)
            print(
                f"[profile] round {r}: {_phases} bloom={metrics['bloom']}",
                flush=True,
            )
        fetched.unpersist()
        flagged.unpersist()
        new_rows.unpersist()
        updated.unpersist()
        if eff is not None:
            eff.unpersist()
        return metrics, carried_frontier, carried_filters

    # -- full run ---------------------------------------------------------------------

    def cancel(self) -> None:
        """T6 cancellation (reference cancel_a_job, api.py:484-606): stop
        before the next round; any in-flight round's jobs are interruptible
        via the per-round job group. Uncommitted work is simply not in the
        snapshot — resume re-runs that round exactly."""
        self._cancel = True
        try:
            last = self.store.last_round()
            if last is not None:
                self.spark.sparkContext.cancelJobGroup(f"crawl_round_{last + 1}")
        except Exception:  # noqa: BLE001 — cancellation is best-effort
            pass

    def _next_budget(self, last_metrics: dict | None) -> int:
        """R1/X1/R7 controller: budget = base * min(1-err, 1-cpu, 1-mem),
        floored (reference monitor.py:200-238)."""
        self._last_gauges: dict = {}
        factor = 1.0
        if self.cfg.adaptive_budget and last_metrics:
            popped = last_metrics.get("urls_popped", 0)
            err = (last_metrics.get("urls_failed", 0) / popped) if popped else 0.0
            factor = 1.0 - err
        if self.cfg.health_gauges is not None:
            cpu, mem = self.cfg.health_gauges()
            # recorded into the round's metrics (A3: the reference persists
            # SystemStats per machine, monitor.py:186-197) and surfaced via
            # checkpoint.prometheus_metrics
            self._last_gauges = {
                "cpu_frac": round(float(cpu), 4),
                "mem_frac": round(float(mem), 4),
            }
            factor = min(factor, 1.0 - cpu, 1.0 - mem)
        if factor >= 1.0:
            return self.cfg.global_budget
        return max(self.cfg.min_budget, int(self.cfg.global_budget * factor))

    def run(self, seed_urls: list[str] | None = None, on_round=None) -> list[dict]:
        out = []
        for m in self.round_iter(seed_urls):
            out.append(m)
            if on_round is not None:
                on_round(m)
        return out

    def round_iter(self, seed_urls: list[str] | None = None):
        """Generator seam for the round loop (T1): each next() executes and
        commits exactly ONE frontier round and yields its metrics; exhaustion
        = drained queue (or max_rounds/cancel). The batch driver (run) and
        the Structured-Streaming driver (streaming/structured
        .run_streaming_crawl's foreachBatch) both consume THIS, so per-round
        semantics — controller state, bloom sizing, retry skip-ahead — are
        one code path, not two."""
        if seed_urls is not None:
            self.submit_seeds(seed_urls)
        last = self.store.last_round()
        if last is None:
            raise ValueError("no checkpoint and no seeds — call with seed_urls")
        self._cancel = False
        frontier = self.store.read(self.spark, "active")
        filters = self.store.read(self.spark, "seen_filter")
        # resume picks up the controller state from the last committed round
        committed = self.store.round_metrics()
        last_metrics = committed[-1] if committed else None
        # bloom sizing state: total seen-set size + size at the last
        # (re)build — pure driver arithmetic over committed metrics, no jobs
        seen_total = 0
        built_n = 0
        for m0 in committed:
            if m0.get("round", -1) < 0:
                seen_total = max(m0.get("seeded") or 0, 0)
                built_n = seen_total
            else:
                seen_total += m0.get("new_frontier", 0) or 0
                built_n = m0.get("bloom_built_n", built_n)
        # below this the initial MIN_BITS floor still has headroom — never
        # rebuild inside it
        rebuild_floor = bloom.N_PARTITIONS * bloom.MIN_BITS // bloom.BITS_PER_ITEM
        import time as _time

        r = last + 1
        while r < self.cfg.max_rounds:
            if self._cancel:
                break
            t0 = _time.time()
            rebuilt = False
            if seen_total > max(4 * built_n, rebuild_floor):
                # the seen-set outgrew the last build: collapse generations
                # into one right-sized filter per partition, rebuilt from the
                # append-only seen_hashes log (happens O(log N) times over a
                # crawl's lifetime; persisted with this round's commit)
                filters = bloom.build_filters(
                    self.store.read(self.spark, "seen_hashes").select("url_hash"), r
                )
                built_n = seen_total
                rebuilt = True  # lazy — the cost lands in this round's dedup
            budget = self._next_budget(last_metrics)
            extra = {"bloom_built_n": built_n, **self._last_gauges}
            if rebuilt:
                extra["bloom_rebuilt"] = True
            m, nf, nflt = self.run_round(
                r,
                frontier,
                filters,
                budget,
                extra_metrics=extra,
                # the live queue's exact size, from the last commit's footers
                active_est=self.store.table_rows("active"),
                seen_est=seen_total,
            )
            if m.get("empty"):
                nxt = m.get("next_due")
                if nxt is None or nxt >= self.cfg.max_rounds:
                    break  # queue truly drained (or retries past the horizon)
                # pending retries exist but none are due this round — skip
                # ahead to the earliest due_round. Idle rounds do nothing
                # (token refill is per *executed* round — the simulator skips
                # identically, so parity holds).
                r = nxt
                continue
            m["_sec"] = round(_time.time() - t0, 2)
            frontier, filters = nf, nflt
            last_metrics = m
            seen_total += m.get("new_frontier", 0) or 0
            yield m
            r += 1
