"""The ``crawl_wire`` workload: a multi-round crawl over the ``http``
transport against the benchmark's own origin (``origin.py``).

Closed loop: one thread runs the engine's round loop
(``CrawlEngine.submit_seeds`` then ``round_iter``), one round at a time; the
crawl stops at the first round boundary past the measured window, after at
least ``MIN_OPS`` rounds.
The http transport is not replayable, so every round runs the count-first
selection path, and from the second round on the host-capped set exceeds
``global_budget``, so the budget cut runs too.

Gates, on every run: per round, (urls_popped, urls_fetched, new_frontier)
equal ``simulator.simulate`` with the same config; the committed
``seen_hashes`` set equals the simulator's; the origin served exactly one
request per popped URL.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))

# the universe (read by webgraph at import, here and in the Spark workers)
UNIVERSE = {"CRAWL_N_HOSTS": "100", "CRAWL_PAGE_SCALE": "10000"}
N_SEEDS = 1000
GLOBAL_BUDGET = 500
BUDGET_SCALE = 5
MAX_DEPTH = 4
LATENCY_MS = 120.0
WARMUP_SEEDS = 20


class OriginProcess:
    """The origin as a child process; ``stats()`` reads its counters."""

    def __init__(self, latency_ms: float):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "origin.py"),
             "--latency-ms", str(latency_ms)],
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.stop()
            raise RuntimeError(f"origin did not start: {line!r}")
        self.base = f"http://127.0.0.1:{int(line.split()[1])}"

    def stats(self) -> dict:
        with urllib.request.urlopen(self.base + "/_stats", timeout=10) as r:
            return json.load(r)

    def latency_ms(self, urls: list[str]) -> float:
        """Median wall time of sequential page GETs from this process."""
        import http.client
        import urllib.parse

        port = int(self.base.rsplit(":", 1)[1])
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        times = []
        try:
            for u in urls:
                t0 = time.perf_counter()
                conn.request("GET", "/page?u=" + urllib.parse.quote(u, safe=""))
                conn.getresponse().read()
                times.append((time.perf_counter() - t0) * 1e3)
        finally:
            conn.close()
        return statistics.median(times)

    def stop(self) -> None:
        self.proc.terminate()
        self.proc.wait(timeout=30)


def _engine_config(transport: dict, max_rounds: int):
    from deepcrawl4ai_spark.frontier.engine import EngineConfig

    return EngineConfig(
        global_budget=GLOBAL_BUDGET,
        budget_scale=BUDGET_SCALE,
        max_depth=MAX_DEPTH,
        max_rounds=max_rounds,
        transport=transport,
    )


def _round_phases(tr, rec: dict) -> dict:
    """Phase times of one traced round from its spans and fetch-task
    records; also adds its Spark jobs and fetch tasks as spans."""
    root, tasks = rec["span"], rec["tasks"]
    rspan = next(s for s in tr.children(root["id"]) if s["name"] == "run_round")
    commit = next(s for s in tr.children(rspan["id"]) if s["name"] == "commit_round")
    in_round = [s for s in tr.spans if root["start"] <= s["start"] <= root["end"]]
    for j in rec["jobs"]:
        if j["start"] is None or j["end"] is None:
            continue
        # the innermost span that covers the job's submission (the round
        # span if none does: the status store keeps whole milliseconds)
        covering = [s for s in in_round if s["start"] <= j["start"] <= s["end"]]
        parent = max(covering, key=lambda s: s["start"], default=root)["id"]
        tr.add("spark_job", j["start"], j["end"], parent, job=j["id"],
               description=j["description"])
    for t in tasks:
        tr.add("fetch_task", t["start"], t["end"], rspan["id"], rows=t["rows"])
    fs = min(t["start"] for t in tasks)
    fe = max(t["end"] for t in tasks)
    durs = [t["end"] - t["start"] for t in tasks]
    p50 = statistics.median(durs)
    rows = sum(t["rows"] for t in tasks)
    return {
        "round_s": rspan["end"] - rspan["start"],
        "select_s": fs - rspan["start"],
        "outlink_dedup_s": commit["start"] - fe,
        "readback_s": rspan["end"] - commit["end"],
        "commit_s": commit["end"] - commit["start"],
        "fetch_stage_s": fe - fs,
        "fetch_task_s_p50": p50,
        "fetch_task_s_max": max(durs),
        "fetch_task_skew": max(durs) / p50 if p50 else 0.0,
        "fetch_ms_per_page": 1e3 * sum(durs) / rows if rows else 0.0,
        "fetch_rows": rows,
    }


def _layers(b, eng, ledger, rounds, job0, origin_delta, wall, latency_ms) -> dict:
    """Per-layer metrics of a traced run. The Spark ledger of every measured
    round is read here, after the window, so reading it costs the window
    nothing; every round carries spans and fetch-task records."""
    from deepcrawl4ai_spark.frontier import bloom
    from perfbench.run import CORES

    tr, med = b.tracer, statistics.median
    before = ledger.max_job_id()
    for r in rounds:
        r["jobs"] = [j for j in ledger.jobs(f"crawl_round_{r['round']}") if j["id"] > job0]
        r["engine"] = ledger.summarize(
            [j for j in r["jobs"] if (j["description"] or "").startswith("frontier round")]
        )
        r["commit"] = ledger.summarize(
            [j for j in r["jobs"] if (j["description"] or "").startswith("commit round")]
        )
    added_jobs = ledger.max_job_id() - before
    phases = [_round_phases(tr, r) for r in rounds]
    with tr.span("bloom.filter_stats"):
        fstats = bloom.filter_stats(eng.store.read(b.spark, "seen_filter"))
    written = []
    for r in rounds:
        meta = eng.store.snapshot_at(r["round"])["tables_meta"].values()
        written.append((sum(t["bytes"] for t in meta), sum(t["files"] for t in meta)))
    xs = [r["round"] for r in rounds]
    ys = [r["engine"]["jobs"] for r in rounds]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    growth = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)
    selfs = tr.self_times()

    def per_span(name):
        return selfs.get(name, 0.0) / max(1, sum(1 for s in tr.spans if s["name"] == name))

    def eng_med(key):
        return med(r["engine"][key] for r in rounds)

    def ph_med(key):
        return med(p[key] for p in phases)

    requests, popped = origin_delta
    fetched = sum(r["metrics"]["urls_fetched"] for r in rounds)
    return {
        "engine.round_s": ph_med("round_s"),
        "engine.select_s": ph_med("select_s"),
        "engine.outlink_dedup_s": ph_med("outlink_dedup_s"),
        "engine.readback_s": ph_med("readback_s"),
        "engine.round_self_s": per_span("run_round"),
        "engine.jobs_per_round": eng_med("jobs"),
        "engine.jobs_growth_per_round": growth,
        "engine.stages_per_round": eng_med("stages"),
        "engine.tasks_per_round": eng_med("tasks"),
        "engine.executor_run_s": eng_med("executor_run_s"),
        "engine.executor_cpu_s": eng_med("executor_cpu_s"),
        "engine.executor_busy_frac": med(
            r["engine"]["executor_run_s"] / (r["wall_s"] * CORES) for r in rounds
        ),
        "engine.shuffle_read_bytes": eng_med("shuffle_read_bytes"),
        "engine.shuffle_write_bytes": eng_med("shuffle_write_bytes"),
        "engine.spill_bytes": eng_med("spill_bytes"),
        "fetch.stage_s": ph_med("fetch_stage_s"),
        "fetch.task_s_p50": ph_med("fetch_task_s_p50"),
        "fetch.task_s_max": ph_med("fetch_task_s_max"),
        "fetch.task_skew": ph_med("fetch_task_skew"),
        "fetch.ms_per_page": ph_med("fetch_ms_per_page"),
        "fetch.rows_per_popped": sum(p["fetch_rows"] for p in phases)
        / sum(r["metrics"]["urls_popped"] for r in rounds),
        "wire.requests_per_popped": requests / popped,
        "wire.requests_per_s": requests / wall,
        "wire.origin_latency_ms": latency_ms,
        "checkpoint.commit_s": ph_med("commit_s"),
        "checkpoint.commit_self_s": per_span("commit_round"),
        "checkpoint.commit_jobs": med(r["commit"]["jobs"] for r in rounds),
        "checkpoint.commit_executor_run_s": med(r["commit"]["executor_run_s"] for r in rounds),
        "checkpoint.bytes_written_per_round": med(w[0] for w in written),
        "checkpoint.files_written_per_round": med(w[1] for w in written),
        "checkpoint.bytes_per_page": sum(w[0] for w in written) / fetched,
        "bloom.items": fstats["n_items"],
        "bloom.est_fpr": fstats["est_fpr"],
        "trace.ledger_added_jobs": added_jobs,
    }


def run_crawl_wire(b) -> dict:
    from deepcrawl4ai_spark.frontier.engine import CrawlEngine
    from deepcrawl4ai_spark.frontier.simulator import SimConfig, simulate
    from perfbench import inputs
    from perfbench.ledger import Ledger
    from perfbench.run import MIN_OPS, peak_rss_mb
    from perfbench.trace import read_task_records, traced_fetch_maps

    args, tr = b.args, b.tracer
    seeds = inputs.seed_urls(args.seed, N_SEEDS)
    b.params = {
        **UNIVERSE, "n_seeds": N_SEEDS, "global_budget": GLOBAL_BUDGET,
        "budget_scale": BUDGET_SCALE, "max_depth": MAX_DEPTH,
        "origin_latency_ms": LATENCY_MS, "transport": "http",
    }
    origin = OriginProcess(LATENCY_MS)
    try:
        warm_urls = inputs.seed_urls(args.seed + 1_000_003, WARMUP_SEEDS)
        latency_ms = origin.latency_ms(warm_urls[:5])
        spark = b.setup()
        transport = {"kind": "http", "base": origin.base}
        b.warmup(lambda: CrawlEngine(
            spark, os.path.join(b.dir, "warmup"), _engine_config(transport, 1)
        ).run(warm_urls))

        ledger = Ledger(spark)
        eng = CrawlEngine(spark, os.path.join(b.dir, "store"), _engine_config(transport, 10_000))
        if b.trace:
            tr.wrap(eng, "submit_seeds", "submit_seeds")
            tr.wrap(eng, "run_round", "run_round")
            tr.wrap(eng.store, "commit_round", "commit_round")
            tr.wrap(eng.store, "read", "read")
        stats0 = origin.stats()
        job0 = ledger.max_job_id()
        rounds: list[dict] = []
        aborted, seed_ingest_s = 0, 0.0
        t_start = time.perf_counter()
        try:
            eng.submit_seeds(seeds)
            seed_ingest_s = time.perf_counter() - t_start
            it = eng.round_iter()
            while True:
                ts = time.perf_counter()
                if b.trace:
                    task_dir = os.path.join(b.dir, f"tasks-{len(rounds)}")
                    os.makedirs(task_dir)
                    with tr.span("round") as span, traced_fetch_maps(task_dir):
                        m = next(it, None)
                else:
                    m = next(it, None)
                if m is None:
                    break
                rec = {"round": m["round"], "metrics": m, "wall_s": time.perf_counter() - ts}
                if b.trace:
                    rec["span"] = span
                    rec["tasks"] = read_task_records(task_dir)
                rounds.append(rec)
                b.log(f"round {m['round']}: {rec['wall_s']:.2f}s popped {m['urls_popped']}")
                if time.perf_counter() - t_start >= args.seconds and len(rounds) >= MIN_OPS:
                    break
            it.close()
        except Exception:  # noqa: BLE001 — an aborted round is a failed op
            import traceback

            traceback.print_exc()
            aborted = 1
        wall = time.perf_counter() - t_start
        b.log("measured window done")
        rss = peak_rss_mb({origin.proc.pid})
        stats1 = origin.stats()
        # -- gates (untimed) ------------------------------------------------
        spark.sparkContext.setJobGroup("perfbench_check", "perfbench gates")
        sim = simulate(
            seeds,
            SimConfig(global_budget=GLOBAL_BUDGET, budget_scale=BUDGET_SCALE,
                      max_depth=MAX_DEPTH, max_rounds=len(rounds)),
        )
        keys = ("urls_popped", "urls_fetched", "new_frontier")
        bad_rounds = [
            r["round"] for r, s in zip(rounds, sim.round_metrics)
            if tuple(r["metrics"][k] for k in keys) != tuple(s[k] for k in keys)
        ]
        bad_rounds += [r["round"] for r in rounds[len(sim.round_metrics):]]
        seen = {
            row[0] for row in eng.store.read(spark, "seen_hashes").select("url_hash").collect()
        }
        popped = sum(r["metrics"]["urls_popped"] for r in rounds)
        requests = stats1["requests"] - stats0["requests"]
        gates = {
            "rounds_equal_simulator": not bad_rounds,
            "seen_equal_simulator": seen == sim.seen,
            "requests_equal_popped": requests == popped,
        }
        # crawl-level gates fail the last round
        failed = len(set(bad_rounds)) + aborted
        if not (gates["seen_equal_simulator"] and gates["requests_equal_popped"]):
            failed = max(failed, 1)
        fetched = sum(r["metrics"]["urls_fetched"] for r in rounds)
        out = {
            "correct": all(gates.values()) and failed == 0 and bool(rounds),
            "attempted": max(len(rounds) + aborted, 1),
            "failed": failed,
            "gates": {**gates, "rounds": len(rounds), "popped": popped,
                      "requests": requests, "bad_rounds": bad_rounds},
            "e2e": {
                "setup_s": b.setup_metrics()["setup_s"],
                "items_per_s": fetched / wall,
                "op_s_p50": statistics.median(r["wall_s"] for r in rounds) if rounds else 0.0,
            },
        }
        b.log("gates done")
        if not b.trace:
            return out

        out["layers"] = {
            **b.setup_metrics(),
            # the end-to-end figures with tracing on: minus the untraced
            # run's, they are the tracing overhead (perfbench/overhead.py)
            **{f"trace.{k}": out["e2e"][k] for k in ("items_per_s", "op_s_p50")},
            "process.peak_rss_mb": rss,
            "engine.seed_ingest_s": seed_ingest_s,
            "wire.inflight_max": stats1["inflight_max"],
            **_layers(b, eng, ledger, rounds, job0, (requests, popped), wall, latency_ms),
        }
        return out
    finally:
        origin.stop()
