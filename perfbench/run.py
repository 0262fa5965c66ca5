"""Crawl-and-curate benchmark: one command for every workload.

    python3 perfbench/run.py --workload crawl_wire --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs come from ``--seed``; the measured
window lasts about ``--seconds``; every operation is checked against a
correctness gate. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the run's environment and workload parameters. Scratch
data, traces and Spark's local dirs live under ``.perfbench/`` in the
checkout. The exit code is 0 only when every gate passed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("crawl_wire", "curate_funnel")
CORES = len(os.sched_getaffinity(0))
JVM_HEAP = "3g"
# a measured window holds at least this many operations (rounds or funnel
# executions), so that how many it holds does not hinge on how fast the
# first one ran
MIN_OPS = 2


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_probe_ms() -> float:
    """Machine-speed control: median wall time of a fixed single-threaded
    Python task (hash chaining and integer sums), independent of the
    program under test. Read before the JVM starts and after it has ended,
    so a run on a slower host shows as a larger value."""
    import hashlib

    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        h = b"perfbench"
        for i in range(20_000):
            h = hashlib.sha1(h).digest()
        sum(i * i for i in range(200_000))
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb(exclude: set[int]) -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants: the
    Spark JVM and the Python workers. Processes in *exclude* (and their
    descendants) are left out."""
    kids, total, todo = _children(), 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


class Bench:
    """State of one run: arguments, set-up samples, the tracer and the
    environment record."""

    def __init__(self, args):
        from perfbench.trace import Tracer

        self.args = args
        self.trace = bool(args.trace)
        self.tracer = Tracer(enabled=self.trace)
        self.dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
        os.makedirs(self.dir)
        self.spark = None
        self.start_s = self.warm_s = self.warmup_op_s = 0.0
        self.params: dict = {}
        self.cpu_probe_ms = [cpu_probe_ms()]
        self._cpu0 = _cpu_times()
        self._t0 = time.perf_counter()

    def log(self, what: str) -> None:
        """Progress line on stderr: seconds since the run started."""
        print(f"perfbench {time.perf_counter() - self._t0:7.2f}s {what}", file=sys.stderr, flush=True)

    def setup(self):
        """Start the session (launching the JVM) and warm the fetch pool."""
        from deepcrawl4ai_spark.frontier.fetcher import warm_pool
        from deepcrawl4ai_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench",
                cores=CORES,
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
        t1 = time.perf_counter()
        with self.tracer.span("warm_pool"):
            warm_pool(self.spark)
        self.start_s, self.warm_s = t1 - t0, time.perf_counter() - t1
        self.log(f"setup: start {self.start_s:.2f}s, warm_pool {self.warm_s:.2f}s")
        return self.spark

    def warmup(self, op):
        """Run the workload's warm-up operation *op* once, before the measured
        window; its time is part of set-up. Returns what *op* returns."""
        t0 = time.perf_counter()
        got = op()
        self.warmup_op_s = time.perf_counter() - t0
        self.log(f"warm-up operation: {self.warmup_op_s:.2f}s")
        return got

    def setup_metrics(self) -> dict:
        return {
            "setup_s": self.start_s + self.warm_s + self.warmup_op_s,
            "session.start_s": self.start_s,
            "session.warm_s": self.warm_s,
            "session.warmup_op_s": self.warmup_op_s,
        }

    def environment(self) -> dict:
        import pyspark

        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "params": self.params,
            "nproc": os.cpu_count(),
            "cores": CORES,
            "jvm_heap": JVM_HEAP,
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            # /proc/stat field 8 is steal: the hypervisor's share of the run
            "steal_frac": delta[7] / sum(delta) if sum(delta) else 0.0,
            "cpu_probe_ms": self.cpu_probe_ms,
            "trace_id": self.tracer.trace_id,
        }

    def close(self) -> None:
        """Stop Spark and the JVM it launched, and wait for the JVM to end."""
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "deepcrawl4ai_spark", "session.py")):
        print(f"perfbench: no deepcrawl4ai_spark package under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import crawl

    for name in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, name), exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": ROOT,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": os.path.join(WORK, "tmp"),
            # keep the JVM's temp files (and no hsperfdata) inside the checkout
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
            "SPARK_DRIVER_MEMORY": JVM_HEAP,
            **crawl.UNIVERSE,
        }
    )
    if args.workload == "crawl_wire":
        run = crawl.run_crawl_wire
    else:
        from perfbench.funnel import run_curate_funnel as run

    bench = Bench(args)
    try:
        res = run(bench)
        if bench.trace:
            bench.tracer.dump(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"))
    finally:
        bench.close()
    bench.cpu_probe_ms.append(cpu_probe_ms())
    units = LAYER_UNITS if bench.trace else E2E_UNITS
    values = (
        {**res["layers"], "host.cpu_probe_ms": statistics.median(bench.cpu_probe_ms)}
        if bench.trace
        else res["e2e"]
    )
    print(json.dumps({"env": bench.environment(), "gates": res["gates"]}))
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0 if res["correct"] else 1


# units of every metric; a workload reports each of them (0 for a layer
# the workload bypasses)
E2E_UNITS = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_s_p50": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.warmup_op_s": "s",
    "process.peak_rss_mb": "MB",
    "engine.seed_ingest_s": "s",
    "engine.round_s": "s",
    "engine.select_s": "s",
    "engine.outlink_dedup_s": "s",
    "engine.readback_s": "s",
    "engine.jobs_per_round": "count",
    "engine.jobs_growth_per_round": "count",
    "engine.stages_per_round": "count",
    "engine.tasks_per_round": "count",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.executor_busy_frac": "ratio",
    "engine.shuffle_read_bytes": "B",
    "engine.shuffle_write_bytes": "B",
    "engine.spill_bytes": "B",
    "fetch.stage_s": "s",
    "fetch.task_s_p50": "s",
    "fetch.task_s_max": "s",
    "fetch.task_skew": "ratio",
    "fetch.ms_per_page": "ms",
    "fetch.rows_per_popped": "ratio",
    "wire.requests_per_popped": "ratio",
    "wire.inflight_max": "count",
    "wire.requests_per_s": "1/s",
    "wire.origin_latency_ms": "ms",
    "checkpoint.commit_s": "s",
    "checkpoint.commit_jobs": "count",
    "checkpoint.commit_executor_run_s": "s",
    "checkpoint.bytes_written_per_round": "B",
    "checkpoint.files_written_per_round": "count",
    "checkpoint.bytes_per_page": "B",
    "bloom.items": "count",
    "bloom.est_fpr": "ratio",
    "ops.funnel_s": "s",
    "ops.funnel.jobs": "count",
    "ops.funnel.stages": "count",
    "ops.funnel.tasks": "count",
    "ops.funnel.executor_run_s": "s",
    "ops.funnel.executor_cpu_s": "s",
    "ops.funnel.executor_busy_frac": "ratio",
    "ops.funnel.shuffle_read_bytes": "B",
    "ops.funnel.shuffle_write_bytes": "B",
    "ops.funnel.spill_bytes": "B",
    "ops.funnel.exchanges": "count",
    "ops.dedup_minhash_apply_s": "s",
    "ops.text_entropy_filter_s": "s",
    "ops.quality_classifier_s": "s",
    "trace.items_per_s": "1/s",
    "trace.op_s_p50": "s",
    "trace.ledger_added_jobs": "count",
    "engine.round_self_s": "s",
    "checkpoint.commit_self_s": "s",
    "ops.funnel_self_s": "s",
    "host.cpu_probe_ms": "ms",
}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
