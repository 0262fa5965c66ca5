"""Benchmark-owned origin for the ``crawl_wire`` workload.

One process, one thread: an asyncio HTTP/1.1 keep-alive server that answers
``GET /page?u=<url_norm>`` with the page of the synthetic web, rendered by
``htmlpage.render_html`` (so the engine over this wire still equals the
simulator), after a fixed latency kept by a timer (``asyncio.sleep``), never
by blocking. Each response is ONE socket write (status line, headers and
body together), so Nagle's algorithm and delayed ACK cannot stall a second
write. Failed synthetic pages answer 503, as the package's stub server does.

``GET /_stats`` returns the counters as JSON and is not itself counted:
``requests`` (page GETs) and ``inflight_max`` (most page GETs open at once).

Run: ``python3 perfbench/origin.py --latency-ms 100`` prints ``PORT <n>``
on its first stdout line, then serves until SIGTERM/SIGINT. The universe
comes from ``CRAWL_N_HOSTS``/``CRAWL_PAGE_SCALE`` in the environment, the
same variables the engine's workers read.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import signal
import socket
import sys
import urllib.parse

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from deepcrawl4ai_spark.frontier import webgraph as WG  # noqa: E402
from deepcrawl4ai_spark.frontier.htmlpage import render_html  # noqa: E402


class Origin:
    def __init__(self, latency_s: float):
        self.latency_s = latency_s
        self.requests = 0
        self.inflight = 0
        self.inflight_max = 0
        self.writers: set[asyncio.StreamWriter] = set()

    def stats(self) -> dict:
        return {"requests": self.requests, "inflight_max": self.inflight_max}

    async def handle(
        self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter
    ) -> None:
        sock = writer.get_extra_info("socket")
        if sock is not None:
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.writers.add(writer)
        try:
            while True:
                try:
                    head = await reader.readuntil(b"\r\n\r\n")
                except (asyncio.IncompleteReadError, ConnectionError):
                    return
                target = head.split(b"\r\n", 1)[0].split(b" ")[1].decode()
                parsed = urllib.parse.urlsplit(target)
                if parsed.path == "/_stats":
                    status, body = 200, json.dumps(self.stats()).encode()
                elif parsed.path == "/page":
                    status, body = await self._page(parsed.query)
                else:
                    status, body = 404, b"not found"
                writer.write(
                    f"HTTP/1.1 {status} X\r\nContent-Type: text/html\r\n"
                    f"Content-Length: {len(body)}\r\n\r\n".encode()
                    + body
                )
                if parsed.path == "/page":
                    self.inflight -= 1
                await writer.drain()
        finally:
            self.writers.discard(writer)
            writer.close()

    async def _page(self, query: str) -> tuple[int, bytes]:
        self.requests += 1
        self.inflight += 1
        self.inflight_max = max(self.inflight_max, self.inflight)
        u = urllib.parse.parse_qs(query).get("u", [""])[0]
        await asyncio.sleep(self.latency_s)
        page = WG.fetch_page(u)
        if page.fetch_status != "success":
            return 503, b"synthetic upstream failure"
        return 200, render_html(page).encode()


async def serve(latency_s: float, port: int) -> None:
    origin = Origin(latency_s)
    server = await asyncio.start_server(origin.handle, "127.0.0.1", port)
    print(f"PORT {server.sockets[0].getsockname()[1]}", flush=True)
    stop = asyncio.Event()
    loop = asyncio.get_running_loop()
    for sig in (signal.SIGTERM, signal.SIGINT):
        loop.add_signal_handler(sig, stop.set)
    async with server:
        await stop.wait()
        # close idle keep-alive connections so their handlers see EOF and end
        for w in list(origin.writers):
            w.close()
        await asyncio.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--latency-ms", type=float, required=True)
    ap.add_argument("--port", type=int, default=0)
    args = ap.parse_args()
    asyncio.run(serve(args.latency_ms / 1000.0, args.port))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
