"""Iceberg-style checkpoint store: Parquet data + atomic JSON snapshot
manifests (SURVEY.md §7 plan B).

Every round commits frontier + seen_filter + results + rounds in ONE atomic
step: data files are written first, then the snapshot manifest, then the
`_current.json` pointer is atomically renamed over (reference analog: the
LRANGE+LTRIM pipeline pop, crawl.py:171-184 — but with all-tables atomicity
the reference lacks). A crash between data write and pointer flip leaves the
old snapshot current; the re-run overwrites the same round directories, so
recovery is idempotent and a killed job resumes WITHOUT re-fetching earlier
rounds (north_rule T7).

Swappable for real Iceberg on a cluster: the engine only calls
append/overwrite/read/last_round.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# active: the live queue (rewritten per round, O(queue) not O(all-seen));
# done + seen_hashes + results: append-only (terminal rows / url_hash log /
# fetched docs). 'frontier' is a logical view = active ∪ done.
OVERWRITE_TABLES = ("active", "seen_filter", "host_state")
APPEND_TABLES = ("results", "done", "seen_hashes")
# storage-partitioned tables (hive-style dirs): readers filtering on the
# partition column scan only the matching buckets — the seen_hashes
# exact-rescue anti-join prunes to the buckets present in this round's
# maybe-seen candidates (Iceberg analog: bucket(url_hash) partition spec)
PARTITIONED_TABLES = {"seen_hashes": "bucket"}


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_snapshots"), exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------

    def _current_path(self) -> str:
        return os.path.join(self.root, "_current.json")

    def current_snapshot(self) -> dict | None:
        p = self._current_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def last_round(self) -> int | None:
        snap = self.current_snapshot()
        return None if snap is None else snap["round"]

    # -- commit ----------------------------------------------------------------

    def _data_dir(self, table: str, round_id: int) -> str:
        return os.path.join(self.root, "data", table, f"r{round_id:05d}")

    def commit_round(
        self,
        round_id: int,
        overwrite: dict[str, DataFrame],
        append: dict[str, DataFrame],
        metrics: dict,
        finalize: Callable[[dict], None] | None = None,
    ) -> None:
        """Write every table, then flip the manifest. *finalize*, if given,
        sees the per-table ``tables_meta`` (files, bytes, exact rows of what
        each table gained this round) before the manifest is written, so a
        caller can derive metrics from facts of the commit itself."""
        prev = self.current_snapshot() or {"tables": {}}
        tables: dict[str, list[str]] = {}
        schemas: dict[str, str] = {}
        jobs: list[tuple] = []
        for name, df in overwrite.items():
            path = self._data_dir(name, round_id)
            tables[name] = [path]
            jobs.append((name, df, path))
        for name, df in append.items():
            path = self._data_dir(name, round_id)
            # drop this round's own path if present: an at-least-once replay
            # of an ALREADY-COMMITTED round must be idempotent, not
            # double-count the append (conformance: idempotent re-commit)
            prev_paths = [p for p in prev["tables"].get(name, []) if p != path]
            tables[name] = prev_paths + [path]
            jobs.append((name, df, path))

        def _write(job: tuple) -> None:
            name, df, path = job
            # pinned-thread mode makes job groups per-thread: re-attach the
            # round's group inside each pool thread so cancel()'s
            # interruptOnCancel covers commit-phase writes too (and they show
            # under the round in the Spark UI)
            df.sparkSession.sparkContext.setJobGroup(
                f"crawl_round_{round_id}",
                f"commit round {round_id}",
                interruptOnCancel=True,
            )
            if os.path.exists(path):  # idempotent re-run after crash
                shutil.rmtree(path)
            pcol = PARTITIONED_TABLES.get(name)
            if pcol is not None and pcol in df.columns:
                # cluster rows by the partition value first so each bucket
                # gets O(1) files per round, not one per upstream task. A
                # 0-row round writes a dir with no data files; it reads back
                # empty through the manifest's pinned schema.
                from pyspark.sql import functions as F

                df.repartition(F.col(pcol)).write.mode("overwrite").partitionBy(
                    pcol
                ).parquet(path)
            else:
                df.write.mode("overwrite").parquet(path)

        # the data writes are independent jobs — submit them concurrently
        # (Spark schedules them in parallel); the manifest flip below is the
        # only serialization point
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(jobs) or 1) as pool:
            list(pool.map(_write, jobs))
        # per-partition lineage (north_rule): record file/byte/row counts of
        # the data each table gained this round — driver-side directory walk
        # plus parquet footers, no Spark job (the Iceberg manifest-entry
        # analog)
        files_meta: dict[str, dict] = {}
        for name, df, path in jobs:
            n_files = n_bytes = n_rows = 0
            for dirpath, _dirs, fnames in os.walk(path):
                for fn in fnames:
                    if fn.endswith(".parquet"):
                        fp = os.path.join(dirpath, fn)
                        n_files += 1
                        n_bytes += os.path.getsize(fp)
                        n_rows += pq.read_metadata(fp).num_rows
            files_meta[name] = {"files": n_files, "bytes": n_bytes, "rows": n_rows}
            schemas[name] = df.schema.json()
        if finalize is not None:
            finalize(files_meta)
        snap = {
            "round": round_id,
            "tables": tables,
            "tables_meta": files_meta,
            "schemas": schemas,
            "metrics": metrics,
        }
        snap_path = os.path.join(self.root, "_snapshots", f"r{round_id:05d}.json")
        tmp = snap_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=1)
        os.replace(tmp, snap_path)
        # the atomic pointer flip — THE commit
        tmp2 = self._current_path() + ".tmp"
        with open(tmp2, "w") as f:
            json.dump(snap, f, indent=1)
        os.replace(tmp2, self._current_path())

    # -- read --------------------------------------------------------------------

    ROUNDS_SCHEMA = (
        "round int, urls_popped long, urls_fetched long, urls_failed long,"
        " outlinks_seen long, dedup_dropped long, new_frontier long, state string"
    )

    def snapshot_at(self, round_id: int) -> dict | None:
        """The immutable manifest committed at *round_id* (None if never
        committed or already expired) — the Iceberg snapshot-id lookup."""
        p = os.path.join(self.root, "_snapshots", f"r{round_id:05d}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read_as_of(
        self, spark: SparkSession, table: str, round_id: int
    ) -> DataFrame | None:
        """Iceberg time travel (``SELECT … FOR VERSION AS OF``): the table
        exactly as the crawl committed it at the END of *round_id*, served
        from that round's immutable snapshot manifest. Availability is
        bounded by snapshot retention (expire_snapshots) — same contract as
        Iceberg's expire_snapshots."""
        snap = self.snapshot_at(round_id)
        if snap is None:
            return None
        return self.read(spark, table, snap=snap)

    def read(
        self, spark: SparkSession, table: str, snap: dict | None = None
    ) -> DataFrame | None:
        if snap is None:
            snap = self.current_snapshot()
        if snap is None:
            return None
        if table == "rounds" and table not in snap["tables"]:
            # lineage table materialized from the snapshot manifests — no
            # per-round parquet write needed (the manifest IS the commit)
            rows = [
                (
                    m["round"],
                    m.get("urls_popped", 0),
                    m.get("urls_fetched", 0),
                    m.get("urls_failed", 0),
                    m.get("outlinks_seen", 0),
                    m.get("dedup_dropped", 0),
                    m.get("new_frontier", 0),
                    m.get("state", "committed"),
                )
                for m in self.round_metrics()
                if 0 <= m.get("round", -1) <= snap["round"]
            ]
            return spark.createDataFrame(rows, self.ROUNDS_SCHEMA)
        if table == "frontier":
            # logical view: live queue ∪ terminal rows (same columns)
            active = self.read(spark, "active", snap=snap)
            done = self.read(spark, "done", snap=snap)
            if active is None:
                return done
            if done is None:
                return active
            return active.unionByName(done)
        if table not in snap["tables"]:
            return None
        paths = snap["tables"][table]
        # the schema recorded at commit: a pinned read submits no
        # schema-inference job (manifests written before schemas were
        # recorded still infer)
        schema = (snap.get("schemas") or {}).get(table)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(T.StructType.fromJson(json.loads(schema)))
        if table in PARTITIONED_TABLES and len(paths) > 1:
            # each round dir is its own hive-partitioned root — read them
            # separately and union (a single multi-path read trips partition
            # discovery across sibling roots); bucket filters still prune
            # files inside every branch
            out = reader.parquet(paths[0])
            for p in paths[1:]:
                out = out.unionByName(reader.parquet(p), allowMissingColumns=True)
            return out
        return reader.parquet(*paths)

    def table_rows(self, table: str) -> int | None:
        """Exact row count of an overwrite table in the current snapshot,
        from the manifest (no Spark job); None if unrecorded."""
        snap = self.current_snapshot()
        if snap is None or table not in OVERWRITE_TABLES:
            return None
        return (snap.get("tables_meta") or {}).get(table, {}).get("rows")

    def expire_snapshots(self, keep_last: int = 3) -> list[int]:
        """TTL cleanup (reference should_cleanup_task, utils.py:156-159;
        Iceberg expire_snapshots analog): drop old snapshot manifests and the
        overwrite-table data they exclusively reference. Append-table data
        (results/rounds) is retained — it's part of the current snapshot."""
        cur = self.current_snapshot()
        if cur is None:
            return []
        keep_from = cur["round"] - keep_last + 1
        removed: list[int] = []
        snap_dir = os.path.join(self.root, "_snapshots")
        for name in sorted(os.listdir(snap_dir)):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(snap_dir, name)) as f:
                s = json.load(f)
            if s["round"] >= keep_from:
                continue
            for table in OVERWRITE_TABLES:
                for path in s["tables"].get(table, []):
                    if path not in cur["tables"].get(table, []):
                        shutil.rmtree(path, ignore_errors=True)
            os.remove(os.path.join(snap_dir, name))
            removed.append(s["round"])
        return removed

    def prometheus_metrics(self) -> str:
        """A5: the committed round metrics in Prometheus text exposition
        format (reference monitor.py:175-238 exports crawler gauges). Pure
        driver-side rendering of the manifest lineage — scrape-able by an
        API edge without touching Spark."""
        cur = self.current_snapshot()
        lines = [
            "# HELP crawl_rounds_total committed frontier rounds",
            "# TYPE crawl_rounds_total counter",
        ]
        ms = [m for m in self.round_metrics() if m.get("round", -1) >= 0]
        lines.append(f"crawl_rounds_total {len(ms)}")
        gauges = (
            ("crawl_urls_popped", "urls_popped"),
            ("crawl_urls_fetched", "urls_fetched"),
            ("crawl_urls_failed", "urls_failed"),
            ("crawl_new_frontier", "new_frontier"),
            ("crawl_dedup_dropped", "dedup_dropped"),
        )
        for pname, key in gauges:
            lines.append(f"# TYPE {pname}_total counter")
            lines.append(f"{pname}_total {sum(m.get(key, 0) or 0 for m in ms)}")
            if ms:
                lines.append(f"# TYPE {pname}_last gauge")
                lines.append(f"{pname}_last {ms[-1].get(key, 0) or 0}")
        # A3 system gauges (when the run sampled them — monitor.SystemSampler
        # or any EngineConfig.health_gauges callable)
        gauged = [m for m in ms if "cpu_frac" in m]
        if gauged:
            for pname, key in (("crawl_cpu_frac", "cpu_frac"), ("crawl_mem_frac", "mem_frac")):
                lines.append(f"# TYPE {pname} gauge")
                lines.append(f"{pname} {gauged[-1].get(key, 0.0)}")
        if cur is not None:
            lines.append("# TYPE crawl_table_bytes gauge")
            for table, meta in (cur.get("tables_meta") or {}).items():
                lines.append(
                    f'crawl_table_bytes{{table="{table}"}} {meta.get("bytes", 0)}'
                )
        return "\n".join(lines) + "\n"

    def round_metrics(self) -> list[dict]:
        """All committed round metrics, in round order (lineage view)."""
        out = []
        snap_dir = os.path.join(self.root, "_snapshots")
        for name in sorted(os.listdir(snap_dir)):
            if name.endswith(".json"):
                with open(os.path.join(snap_dir, name)) as f:
                    s = json.load(f)
                cur = self.current_snapshot()
                if cur is not None and s["round"] <= cur["round"]:
                    out.append(s["metrics"])
        return out
