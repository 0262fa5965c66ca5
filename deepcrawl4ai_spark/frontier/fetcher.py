"""The fetch stage: mapInPandas over Arrow batches (SURVEY.md F1/F2), behind
a pluggable TRANSPORT seam.

Transports:
- ``synthetic`` (default): the deterministic closed-form web
  (webgraph.fetch_page) — replayable, the golden-test oracle.
- ``http``: a real wire — executor-local pooled http.client connections
  (keep-alive, stale-connection-only retry) GET each URL from a server
  speaking the lossless HTML page format (htmlpage), and parse the HTML back
  into spans/links. This is the reference's pooled-browser fetch shape
  (reference actions.py:218-293, crawler_pool.py:25-49) with the stdlib
  client standing in for aiohttp/playwright. NOT replayable — and never
  asked to be: the engine selects each round's exact set before the fetch
  stage runs, so every transport sees each URL once.

Concurrency (O4, reference actions.py:254 ``max_session_permit=10`` with a
global cap, server.py:66-84): the http transport fans each Arrow batch out
over a bounded per-worker thread pool — I/O waits overlap inside ONE
partition, so wall time per partition is ~len(batch)/concurrency × RTT
instead of len(batch) × RTT. Output rows stay in INPUT ORDER
(executor.map), so crawl-order/replay parity is byte-identical to the
sequential path. The pool is per python worker process; with C workers per
executor the executor-wide cap is C × CRAWL_FETCH_CONCURRENCY. The robots
cache fill (fetch_robots_df) fans out through the same pool. An optional
PER-HOST in-flight cap (CRAWL_FETCH_HOST_CONCURRENCY /
transport["per_host_concurrency"]) additionally bounds instantaneous
per-host concurrency — see _FETCH_PER_HOST for the politeness model's
default-off rationale.

The transport dict travels by closure into the UDF (cloudpickle), so tests
can point at an ephemeral-port server created AFTER the SparkSession; env
(CRAWL_TRANSPORT / CRAWL_HTTP_BASE / CRAWL_FETCH_CONCURRENCY) only sets the
default for spark-submit.

One output row per input row; spans/links as Arrow list columns. The fetch
boundary is inherently per-URL I/O — everything around it (selection, dedup,
scoring) stays in JVM codegen.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from deepcrawl4ai_spark.frontier import webgraph as WG
from deepcrawl4ai_spark.schemas import SPAN

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("fetch_status", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), True),
        T.StructField("links", T.ArrayType(T.StringType()), True),
        T.StructField("fetch_pid", T.IntegerType(), False),
    ]
)

# Deterministic per-page CPU work simulating realistic fetch+parse cost
# (the reference's per-page browser work is seconds; html→markdown alone is
# ms-scale). 0 = off. Calibrated: ~2500 pbkdf2-sha256 iters ≈ 1 ms.
import hashlib as _hashlib
import itertools as _itertools
import os as _os
import threading as _threading
from dataclasses import dataclass, field

_FETCH_WORK_MS = float(_os.environ.get("CRAWL_FETCH_WORK_MS", "0"))
_ITERS_PER_MS = 2500

# per-worker in-partition fan-out width for the http transport (the
# reference's per-worker session permit, actions.py:254). 1 = sequential.
_FETCH_CONCURRENCY = int(_os.environ.get("CRAWL_FETCH_CONCURRENCY", "10"))

# OPTIONAL per-host in-flight cap inside one worker's fan-out (ADVICE r4).
# The politeness model's volume bound is the per-host token budget; this
# bounds INSTANTANEOUS concurrency too. 0 (default) = off: with C python
# workers per executor a host can see up to C × _FETCH_CONCURRENCY
# simultaneous requests — acceptable for the synthetic origin, set this (or
# transport["per_host_concurrency"]) when crawling real sites. The cap is
# per PROCESS; executor-wide a host sees ≤ C × cap in-flight.
_FETCH_PER_HOST = int(_os.environ.get("CRAWL_FETCH_HOST_CONCURRENCY", "0"))

# fixed semaphore-slot table (host-hash → slot) so per-host gating stays
# O(1) memory at 10^7 hosts; a collision only makes the gate stricter
_HOST_SEM_SLOTS = 4096
# keyed by (slot, width) — a mid-run per_host_concurrency change must NOT
# swap a slot's semaphore out from under threads still holding permits
# (they would release into the discarded object while new requests draw
# from a fresh full one, transiently exceeding the cap). Distinct widths
# per process are few, so memory stays O(slots × widths-used).
_HOST_SEMS: dict[tuple[int, int], object] = {}
_HOST_SEM_LOCK = _threading.Lock()


def _host_semaphore(host: str, width: int):
    key = (hash(host) % _HOST_SEM_SLOTS, width)
    with _HOST_SEM_LOCK:
        sem = _HOST_SEMS.get(key)
        if sem is None:
            sem = _threading.Semaphore(width)
            _HOST_SEMS[key] = sem
        return sem


# --- executor-local session pool (F7) ----------------------------------------
# Reference crawler_pool.py:25-49: get-or-create a browser/client under a
# config-signature key; :52-74: a janitor evicts sessions idle past a TTL.
# Here a "session" owns a POOL of keep-alive HTTP connections (≤ concurrency
# of them), checked out per in-flight request and returned idle — the
# aiohttp-connector analog. The pool lives at module level — once per
# executor PYTHON PROCESS, reused across batches and jobs. Idle time is
# measured in pool accesses (a deterministic logical clock), not wall time,
# so tests and replays are exact.

SESSION_IDLE_TTL = int(_os.environ.get("CRAWL_SESSION_TTL_ACCESSES", "512"))


@dataclass
class FetchSession:
    config_sig: str
    created_at: int
    last_used: int = 0
    n_uses: int = 0
    closed: bool = False
    # idle pooled connections (thread-safe checkout/checkin); grows to at
    # most the in-partition concurrency
    _idle: list = field(default_factory=list)
    _lock: _threading.Lock = field(default_factory=_threading.Lock)

    def checkout(self) -> tuple[object | None, bool]:
        """Pop an idle pooled connection → (conn, reused=True); (None, False)
        when the caller must open a fresh one."""
        with self._lock:
            if self._idle:
                return self._idle.pop(), True
        return None, False

    def checkin(self, conn: object) -> None:
        with self._lock:
            if self.closed:
                _close_quiet(conn)
            else:
                self._idle.append(conn)

    def n_idle(self) -> int:
        with self._lock:
            return len(self._idle)

    def close(self) -> None:
        with self._lock:
            self.closed = True
            idle, self._idle = self._idle, []
        for c in idle:
            _close_quiet(c)


def _close_quiet(conn: object) -> None:
    try:
        conn.close()
    except Exception:  # noqa: BLE001 — already-dead socket
        pass


_SESSION_POOL: dict[str, FetchSession] = {}
_POOL_CLOCK = _itertools.count(1)
_POOL_LOCK = _threading.Lock()


def get_session(config_sig: str = "default") -> FetchSession:
    """Get-or-create the executor-local session for *config_sig*; evict (and
    close) any session idle for more than SESSION_IDLE_TTL accesses.
    Thread-safe: concurrent fetch threads share one session per signature."""
    with _POOL_LOCK:
        now = next(_POOL_CLOCK)
        sess = _SESSION_POOL.get(config_sig)
        if sess is None or sess.closed:
            sess = FetchSession(config_sig=config_sig, created_at=now)
            _SESSION_POOL[config_sig] = sess
        sess.n_uses += 1
        sess.last_used = now
        for key, s in list(_SESSION_POOL.items()):
            if key != config_sig and now - s.last_used > SESSION_IDLE_TTL:
                s.close()
                del _SESSION_POOL[key]
        return sess


def pool_reset() -> None:
    """Test hook: drop (and close) all pooled sessions."""
    with _POOL_LOCK:
        for s in _SESSION_POOL.values():
            s.close()
        _SESSION_POOL.clear()


# --- pooled HTTP GET with RFC-safe retry --------------------------------------


def _pooled_get(sess: FetchSession, host: str, port: int, path: str,
                timeout: float = 30.0) -> tuple[int, bytes]:
    """One GET over the session's connection pool → (status, body).

    Retry policy (ADVICE r3): retry at most ONCE, and only when a REUSED
    idle pooled connection fails before the response has begun — the
    standard stale keep-alive race (the server closed the idle socket; the
    request was never processed). A fresh connection failing, or ANY failure
    after the response has begun (request provably received), raises — a
    silent re-GET there would be the double-fetch politeness violation the
    transport seam exists to prevent.
    """
    import http.client

    conn, reused = sess.checkout()
    while True:
        fresh = conn is None
        if fresh:
            conn = http.client.HTTPConnection(host, port, timeout=timeout)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
        except (ConnectionError, http.client.HTTPException, OSError):
            _close_quiet(conn)
            if not fresh and reused:
                conn, reused = None, False  # stale keep-alive → one fresh try
                continue
            raise
        try:
            body = resp.read()
        except (ConnectionError, http.client.HTTPException, OSError):
            # response begun ⇒ the server received the request; retrying
            # would double-fetch. Fail loudly and let the engine's retry
            # scheduler (R8) re-queue it in a later round.
            _close_quiet(conn)
            raise
        status = resp.status
        if getattr(resp, "will_close", False):
            _close_quiet(conn)
        else:
            sess.checkin(conn)
        return status, body


# --- transport seam -----------------------------------------------------------


def default_transport() -> dict:
    """Env-driven default (spark-submit path): CRAWL_TRANSPORT=synthetic|http,
    CRAWL_HTTP_BASE=http://host:port. Tests pass a transport dict explicitly
    instead (ephemeral ports exist only after session start)."""
    kind = _os.environ.get("CRAWL_TRANSPORT", "synthetic")
    t: dict = {"kind": kind}
    if kind == "http":
        t["base"] = _os.environ.get("CRAWL_HTTP_BASE", "http://127.0.0.1:8765")
    return t


def transport_concurrency(transport: dict) -> int:
    """In-partition fan-out width: transport override > env default. The
    synthetic transport is CPU-bound closed-form — fan-out is pure overhead
    there, so it always runs sequential."""
    if transport["kind"] != "http":
        return 1
    return max(1, int(transport.get("concurrency", _FETCH_CONCURRENCY)))


def transport_per_host(transport: dict) -> int:
    """Per-host in-flight cap within one worker's fan-out (0 = off)."""
    if transport["kind"] != "http":
        return 0
    return max(0, int(transport.get("per_host_concurrency", _FETCH_PER_HOST)))


def _http_get_page(transport: dict, url_norm: str, url_hash: str):
    """GET one page over the session's pooled keep-alive connections; parse
    the HTML wire format back into a Page. Non-200 → failed page (the
    reference maps fetch errors to a failed task result, tasks.py:173-210)."""
    import urllib.parse

    from deepcrawl4ai_spark.frontier.htmlpage import parse_html
    from deepcrawl4ai_spark.frontier.webgraph import Page

    base = transport["base"]
    sess = get_session(f"http:{base}")
    parts = urllib.parse.urlsplit(base)
    path = "/page?u=" + urllib.parse.quote(url_norm, safe="")
    status, body = _pooled_get(sess, parts.hostname, parts.port or 80, path)
    if status != 200:
        return Page(url_norm, url_hash, "failed", (), ())
    return parse_html(url_norm, url_hash, body.decode())


def _fetch_one(transport: dict, url_norm: str, url_hash: str):
    if transport["kind"] == "synthetic":
        return WG.fetch_page(url_norm)
    return _http_get_page(transport, url_norm, url_hash)


# one thread pool per worker process per width — reused across batches/jobs
# (the reference keeps its browser pool for the process lifetime too)
_EXECUTORS: dict[int, object] = {}


def _fetch_executor(width: int):
    ex = _EXECUTORS.get(width)
    if ex is None:
        from concurrent.futures import ThreadPoolExecutor

        ex = ThreadPoolExecutor(max_workers=width, thread_name_prefix="fetch")
        _EXECUTORS[width] = ex
    return ex


def make_fetch_map(transport: dict | None = None):
    """Build the mapInPandas fetch function for *transport* (closure-captured
    so executors see the exact dict, including test-time ephemeral ports)."""
    transport = transport or default_transport()

    def fetch_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        get_session("default")  # session reuse across batches within the worker
        work_iters = int(_FETCH_WORK_MS * _ITERS_PER_MS)
        conc = transport_concurrency(transport)
        per_host = transport_per_host(transport)

        def _task(pair):
            u, uh, host = pair
            if work_iters:
                _hashlib.pbkdf2_hmac("sha256", u.encode(), b"fetchwork", work_iters)
            if per_host:
                with _host_semaphore(host, per_host):
                    return _fetch_one(transport, u, uh)
            return _fetch_one(transport, u, uh)

        for pdf in batches:
            pairs = list(zip(pdf["url_norm"], pdf["url_hash"], pdf["host"]))
            if conc > 1 and len(pairs) > 1:
                # bounded in-partition fan-out; executor.map preserves input
                # order, so the output rows (and thus crawl order/replay) are
                # byte-identical to the sequential path
                pages = list(_fetch_executor(conc).map(_task, pairs))
            else:
                pages = [_task(p) for p in pairs]
            spans_col, links_col, status_col = [], [], []
            for page in pages:
                status_col.append(page.fetch_status)
                spans_col.append(
                    [
                        {"kind": k, "text": t, "media_ref": m, "offset": o}
                        for (k, t, m, o) in page.spans
                    ]
                )
                links_col.append(list(page.outlinks))
            yield pd.DataFrame(
                {
                    "url_hash": pdf["url_hash"],
                    "url_norm": pdf["url_norm"],
                    "host": pdf["host"],
                    "depth": pdf["depth"],
                    "score": pdf["score"],
                    "attempt": pdf["attempt"],
                    "fetch_status": status_col,
                    "spans": spans_col,
                    "links": links_col,
                    "fetch_pid": pid,
                }
            )

    return fetch_map


# module-level default (synthetic) kept for direct importers
fetch_map = make_fetch_map({"kind": "synthetic"})


def warm_pool(spark, config_sig: str = "default") -> int:
    """F8 warm-up (reference server.py:113-138 pre-creates the browser pool
    at startup): touch every executor python worker with a one-row-per-core
    job that creates the session for *config_sig* ahead of the first real
    fetch, and exercise the parquet WRITE path once (committer + zstd codec
    init — r8 job profiling showed the session's first parquet write costs
    ~2 s of one-time setup that otherwise lands inside the first crawl
    commit). Returns the number of worker processes warmed."""
    import os
    import shutil
    import tempfile

    import pandas as pd  # noqa: PLC0415 — worker-side import mirror

    n = spark.sparkContext.defaultParallelism

    def _warm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _o

        get_session(config_sig)
        for pdf in batches:
            yield pd.DataFrame({"worker_pid": [_o.getpid()] * len(pdf)})

    df = spark.range(n).repartition(n).mapInPandas(_warm, "worker_pid long")
    warmed = df.distinct().count()
    d = tempfile.mkdtemp(prefix="warm_write_")
    try:
        spark.range(2).write.mode("overwrite").parquet(os.path.join(d, "w"))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return warmed


def run_fetch(selected: DataFrame, transport: dict | None = None) -> DataFrame:
    """selected: (url_hash, url_norm, host, depth, score, attempt, …) →
    fetched rows with spans + outlinks, via *transport* (default: env)."""
    cols = ["url_hash", "url_norm", "host", "depth", "score", "attempt"]
    return selected.select(*cols).mapInPandas(make_fetch_map(transport), FETCH_SCHEMA)


# --- F4/F5: page interaction as multi-fetch (SURVEY §2.7) ---------------------

VARIANT_SCHEMA = T.StructType(
    list(FETCH_SCHEMA.fields) + [T.StructField("page_variant", T.IntegerType(), False)]
)


def fetch_variants_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One output row per (url, page_variant): variant 0 is the base load,
    higher variants are post-interaction states (scroll / load-more,
    reference actions.py:8-215). The fan-out count is the page's own
    n_page_variants — the 'no new content' stop condition."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    get_session("default")
    for pdf in batches:
        rows: dict[str, list] = {f.name: [] for f in VARIANT_SCHEMA.fields}
        for u, uh, host, depth, score, attempt in zip(
            pdf["url_norm"], pdf["url_hash"], pdf["host"], pdf["depth"],
            pdf["score"], pdf["attempt"],
        ):
            n_var = 0 if WG.fetch_page(u).fetch_status == "failed" else WG.n_page_variants(u)
            for v in range(n_var + 1):
                page = WG.fetch_page_variant(u, v)
                rows["url_hash"].append(uh)
                rows["url_norm"].append(u)
                rows["host"].append(host)
                rows["depth"].append(depth)
                rows["score"].append(score)
                rows["attempt"].append(attempt)
                rows["fetch_status"].append(page.fetch_status)
                rows["spans"].append(
                    [
                        {"kind": k, "text": t, "media_ref": m, "offset": o}
                        for (k, t, m, o) in page.spans
                    ]
                )
                rows["links"].append(list(page.outlinks))
                rows["fetch_pid"].append(pid)
                rows["page_variant"].append(v)
        yield pd.DataFrame(rows)


def run_fetch_variants(selected: DataFrame) -> DataFrame:
    """F4/F5 multi-fetch: every selected URL fans out into its interaction
    variants, each a full span document with a page_variant column — the
    DataFrame model SURVEY §2.7 proposed for browser-bound scroll/load-more."""
    cols = ["url_hash", "url_norm", "host", "depth", "score", "attempt"]
    return selected.select(*cols).mapInPandas(fetch_variants_map, VARIANT_SCHEMA)


# --- robots-cache fill over the transport (north_rule "robots.txt cache") -----

ROBOTS_DIM_SCHEMA = (
    "host string, crawl_delay double, rps_budget double, max_tokens int,"
    " disallow_rules array<string>"
)


def fetch_robots_df(hosts_df: DataFrame, transport: dict,
                    budget_base: float = 8.0) -> DataFrame:
    """Distributed robots-cache fill, END TO END as a DataFrame (ADVICE r3:
    no driver materialization): GET /robots.txt for every host over the
    pooled http transport, parse the bodies with the REP parser
    (functions/robots), and derive the engine's politeness dim COLUMNS —
    all inside one mapInPandas pass. At 10^7 hosts this is a partitioned
    fetch job whose output stays an executor-side dim table; the engine
    broadcast-joins it (or localCheckpoints it as its robots cache), never
    collecting rows to the driver.

    Caveat: robots.txt carries crawl-delay and path rules; token-bucket
    REFILL is crawler config, not REP — rows default refill = capacity (the
    ``rps_budget`` column equals ``max_tokens``), so use with
    token_bucket=False for exact parity with a config-driven table.
    """
    import urllib.parse

    base = transport["base"]
    parts = urllib.parse.urlsplit(base)
    hostn, port = parts.hostname, parts.port or 80

    def _get(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from deepcrawl4ai_spark.functions.robots import (
            parse_robots_txt,
            to_engine_rows,
        )

        sess = get_session(f"http:{base}")
        conc = transport_concurrency(transport)

        def _one(h: str) -> dict:
            path = "/robots.txt?h=" + urllib.parse.quote(h, safe="")
            status, body = _pooled_get(sess, hostn, port, path)
            # 404 = no robots → empty rules (allow all)
            p = parse_robots_txt(body.decode() if status == 200 else "")
            p["host"] = h
            return p

        for pdf in batches:
            hostlist = list(pdf["host"])
            if conc > 1 and len(hostlist) > 1:
                # same bounded in-partition fan-out as fetch_map (VERDICT r4
                # #3; reference fans ALL fetch kinds through one dispatcher,
                # actions.py:252-254) — executor.map preserves host order so
                # the output rows are byte-identical to the sequential path
                parsed = list(_fetch_executor(conc).map(_one, hostlist))
            else:
                parsed = [_one(h) for h in hostlist]
            rows = to_engine_rows(parsed, budget_base)
            yield pd.DataFrame(
                {
                    "host": [r["host"] for r in rows],
                    "crawl_delay": [r["crawl_delay"] for r in rows],
                    "rps_budget": [r["rps_budget"] for r in rows],
                    "max_tokens": [r["max_tokens"] for r in rows],
                    "disallow_rules": [r["disallow_rules"] for r in rows],
                }
            )

    return hosts_df.select("host").mapInPandas(_get, ROBOTS_DIM_SCHEMA)


def fetch_robots_rows(spark, hosts: list[str], transport: dict) -> list[dict]:
    """Driver-list convenience wrapper over fetch_robots_df for API-edge
    callers that hold a small host list (the returned rows feed
    CrawlEngine(robots_rows=...)). The dim is fetched and parsed distributed;
    only the FINAL dim rows (one per host — the thing being broadcast) come
    back. Prefer CrawlEngine(robots_df=fetch_robots_df(...)) at scale."""
    hdf = spark.createDataFrame([(h,) for h in hosts], "host string").repartition(
        min(max(len(hosts), 1), 32)
    )
    return [r.asDict() for r in fetch_robots_df(hdf, transport).collect()]
