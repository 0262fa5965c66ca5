"""Spark ledger read from outside the package: the core status store
(``statusTracker`` / ``statusStore``) and the SQL status store, both of
which Spark fills with the UI disabled. Reading them submits no job
(``Ledger.max_job_id`` lets a caller check that).

Jobs are attributed by their job group and description: the engine runs a
round's jobs in group ``crawl_round_{r}`` with description ``frontier round
r``, and the checkpoint store's writes in the same group with ``commit round
r``; the benchmark sets its own group around each funnel call.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JError

LEDGER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)

_EXCHANGE = re.compile(r"\b(?:Broadcast|Reused)?Exchange\b")


def _opt(x):
    return x.get() if x.isDefined() else None


class Ledger:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def max_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.size() else -1

    def jobs(self, group: str) -> list[dict]:
        """Every job of *group*: id, description, stage ids and its submission
        and completion wall clock (s)."""
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            stage_ids, it = [], jd.stageIds().iterator()
            while it.hasNext():
                stage_ids.append(it.next())
            sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
            out.append(
                {
                    "id": jid,
                    "description": _opt(jd.description()),
                    "stages": stage_ids,
                    "start": sub.getTime() / 1e3 if sub is not None else None,
                    "end": done.getTime() / 1e3 if done is not None else None,
                }
            )
        return out

    def summarize(self, jobs: list[dict]) -> dict:
        """Totals over *jobs*: stages and tasks that ran (skipped stages are
        not counted), executor run and CPU time, shuffle and spill bytes."""
        tot = dict.fromkeys(LEDGER_KEYS, 0)
        tot["jobs"] = len(jobs)
        for sid in sorted({s for j in jobs for s in j["stages"]}):
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JError:  # evicted past spark.ui.retainedStages
                continue
            if st.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["executor_run_s"] += st.executorRunTime() / 1e3
            tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot

    def max_sql_execution_id(self) -> int:
        execs = self.sql_store.executionsList()
        return max((e.executionId() for e in _seq(execs)), default=-1)

    def exchanges_between(self, first: int, last: int) -> int:
        """Exchange nodes in the final (post-AQE) physical plans of the SQL
        executions with ids in (*first*, *last*]."""
        n = 0
        for e in _seq(self.sql_store.executionsList()):
            if not first < e.executionId() <= last:
                continue
            plan = e.physicalPlanDescription()
            final = plan.split("== Final Plan ==", 1)[-1]
            final = final.split("== Initial Plan ==", 1)[0].split("\n\n", 1)[0]
            n += len(_EXCHANGE.findall(final))
        return n


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()
