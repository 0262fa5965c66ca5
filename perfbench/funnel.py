"""The ``curate_funnel`` workload: ``registry.QUERIES["corpus_pipeline_v3"]``
over a seeded ``documents.parquet`` (``inputs.write_corpus``).

Closed loop: one thread runs the funnel to a noop sink, one execution at a
time, until the first execution that ends past the measured window, and at
least ``MIN_OPS`` times. The frontier modules do no work here; the operators
do all of it.

Gates, on the untimed warm-up execution and every timed one, from an
``Observation`` on the same job (no extra job): the funnel counts are
monotone and the same on every row, the shard manifest has ``n_final`` rows,
at most one in ten planted near-duplicate pairs keeps both members, and
every timed execution's counts equal the warm-up's.
"""

from __future__ import annotations

import os
import statistics
import time

N_DOCS = 16_000
COUNTS = ("n_input", "n_entropy", "n_clf", "n_dedup", "n_final")
STAGE_QUERIES = ("dedup_minhash_apply", "text_entropy_filter", "quality_classifier")
QUERY = "corpus_pipeline_v3"


def _run_observed(spark, corpus: str, name: str) -> dict:
    """Run the funnel to the noop sink and check its output from figures an
    Observation gathers on the same job: the row count, each funnel count,
    and which members of the planted pairs survived."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from deepcrawl4ai_spark.registry import QUERIES
    from perfbench import inputs

    obs = Observation(name)
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in COUNTS:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    planted = F.col("doc_id") % inputs.PLANT_MOD <= 1
    aggs.append(F.collect_set(F.when(planted, F.col("doc_id"))).alias("planted_kept"))
    df = QUERIES[QUERY](spark, corpus)
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    got = obs.get
    counts = {"rows": got["rows"], **{c: got[f"max_{c}"] for c in COUNTS}}
    vals = [counts[c] for c in COUNTS]
    kept = set(got["planted_kept"])
    pairs = inputs.planted_pairs(N_DOCS)
    both_kept = sum(1 for a, c in pairs if a in kept and c in kept)
    return {
        "counts": counts,
        "both_kept": both_kept,
        "ok": all(got[f"min_{c}"] == got[f"max_{c}"] for c in COUNTS)
        and all(a >= b for a, b in zip(vals, vals[1:]))
        and counts["rows"] == counts["n_final"]
        # MinHash catches a planted pair with p ~0.97 by construction
        and both_kept <= len(pairs) // 10,
    }


def run_curate_funnel(b) -> dict:
    from perfbench import inputs
    from perfbench.ledger import Ledger
    from perfbench.run import MIN_OPS, peak_rss_mb

    args, tr = b.args, b.tracer
    b.params = {"n_docs": N_DOCS, "query": QUERY, "vocab": inputs.VOCAB,
                "words_per_doc": inputs.N_WORDS, "plant_mod": inputs.PLANT_MOD,
                "langs": list(inputs.LANGS)}
    spark = b.setup()
    sc = spark.sparkContext
    corpus = os.path.join(b.dir, "corpus")
    sc.setJobGroup("perfbench_inputs", "perfbench input generation")
    inputs.write_corpus(spark, args.seed, N_DOCS, corpus)

    sc.setJobGroup("perfbench_warmup", "perfbench warm-up")
    warm = b.warmup(lambda: _run_observed(spark, corpus, "funnel_warmup"))
    ledger = Ledger(spark)
    execs: list[dict] = []
    aborted = 0
    t_start = time.perf_counter()
    try:
        while True:
            i = len(execs)
            x0 = ledger.max_sql_execution_id() if b.trace else None
            sc.setJobGroup(f"perfbench_funnel_{i}", "perfbench funnel")
            ts = time.perf_counter()
            with tr.span(f"QUERIES[{QUERY}]") as span:
                got = _run_observed(spark, corpus, f"funnel_{i}")
            execs.append({
                "wall_s": time.perf_counter() - ts,
                "span": span,
                "sql": (x0, ledger.max_sql_execution_id() if b.trace else None),
                "ok": got["ok"] and got["counts"] == warm["counts"],
                "both_kept": got["both_kept"],
            })
            b.log(f"funnel {i}: {execs[-1]['wall_s']:.2f}s")
            if time.perf_counter() - t_start >= args.seconds and len(execs) >= MIN_OPS:
                break
    except Exception:  # noqa: BLE001 — an aborted execution is a failed op
        import traceback

        traceback.print_exc()
        aborted = 1
    wall = time.perf_counter() - t_start
    rss = peak_rss_mb(set())
    gates = {
        "warmup_ok": warm["ok"],
        "executions_ok_and_equal_warmup": all(r["ok"] for r in execs),
    }
    failed = sum(1 for r in execs if not r["ok"]) + aborted
    if not warm["ok"]:
        failed = max(failed, 1)
    out = {
        "correct": failed == 0 and bool(execs),
        "attempted": max(len(execs) + aborted, 1),
        "failed": failed,
        "gates": {**gates, "executions": len(execs), "counts": warm["counts"],
                  "planted_pairs": len(inputs.planted_pairs(N_DOCS)),
                  "planted_pairs_both_kept": [warm["both_kept"]]
                  + [r["both_kept"] for r in execs]},
        "e2e": {
            "setup_s": b.setup_metrics()["setup_s"],
            "items_per_s": N_DOCS * len(execs) / wall,
            "op_s_p50": statistics.median(r["wall_s"] for r in execs) if execs else 0.0,
        },
    }
    if b.trace:
        out["layers"] = {
            **b.setup_metrics(),
            # the end-to-end figures with tracing on: minus the untraced
            # run's, they are the tracing overhead (perfbench/overhead.py)
            **{f"trace.{k}": out["e2e"][k] for k in ("items_per_s", "op_s_p50")},
            "process.peak_rss_mb": rss,
            **_layers(b, spark, ledger, execs, corpus),
        }
    return out


def _layers(b, spark, ledger, execs: list[dict], corpus: str) -> dict:
    """Per-layer metrics of a traced run: the Spark ledger of every measured
    execution (read after the window), their spans, and the
    stage queries run alone on the same corpus."""
    from deepcrawl4ai_spark.registry import QUERIES
    from perfbench.run import CORES

    tr, med = b.tracer, statistics.median
    before = ledger.max_job_id()
    for i, r in enumerate(execs):
        jobs = ledger.jobs(f"perfbench_funnel_{i}")
        r["ledger"] = ledger.summarize(jobs)
        r["exchanges"] = ledger.exchanges_between(*r["sql"])
        for j in jobs:
            if j["start"] is not None and j["end"] is not None:
                tr.add("spark_job", j["start"], j["end"], r["span"]["id"],
                       job=j["id"], description=j["description"])
    added_jobs = ledger.max_job_id() - before
    stage_s = {}
    for name in STAGE_QUERIES:
        spark.sparkContext.setJobGroup(f"perfbench_{name}", f"perfbench {name}")
        t0 = time.perf_counter()
        with tr.span(f"QUERIES[{name}]"):
            QUERIES[name](spark, corpus).write.format("noop").mode("overwrite").save()
        stage_s[name] = time.perf_counter() - t0
    name = f"QUERIES[{QUERY}]"

    def led(key):
        return med(r["ledger"][key] for r in execs)

    return {
        "ops.funnel_s": med(r["wall_s"] for r in execs),
        "ops.funnel_self_s": tr.self_times()[name] / sum(1 for s in tr.spans if s["name"] == name),
        "ops.funnel.jobs": led("jobs"),
        "ops.funnel.stages": led("stages"),
        "ops.funnel.tasks": led("tasks"),
        "ops.funnel.executor_run_s": led("executor_run_s"),
        "ops.funnel.executor_cpu_s": led("executor_cpu_s"),
        "ops.funnel.executor_busy_frac": med(
            r["ledger"]["executor_run_s"] / (r["wall_s"] * CORES) for r in execs
        ),
        "ops.funnel.shuffle_read_bytes": led("shuffle_read_bytes"),
        "ops.funnel.shuffle_write_bytes": led("shuffle_write_bytes"),
        "ops.funnel.spill_bytes": led("spill_bytes"),
        "ops.funnel.exchanges": med(r["exchanges"] for r in execs),
        "ops.dedup_minhash_apply_s": stage_s["dedup_minhash_apply"],
        "ops.text_entropy_filter_s": stage_s["text_entropy_filter"],
        "ops.quality_classifier_s": stage_s["quality_classifier"],
        "trace.ledger_added_jobs": added_jobs,
    }
