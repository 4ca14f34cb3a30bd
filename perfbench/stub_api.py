"""Deterministic report API for the ``report_etl`` workload.

One process, one asyncio thread, serving the three endpoints the
pipeline's ``HttpReportSource`` and OAuth fetcher call:

- ``POST /oauth/token``       -> ``{"access_token", "expires_in"}``
- ``POST /reports/generate``  -> ``{"report_id"}``
- ``GET  /reports/download?id=...`` -> CSV payload

plus ``GET /_log?since=N``, the per-request log, which is not counted
as traffic.

Everything is derived from ``--seed`` through a stable hash (blake2b,
never Python's salted ``hash()``), so two processes with the same seed
serve the same payloads, latencies and errors in the same per-report
order:

- latency 10-50 ms per request, slept asynchronously;
- payload size: 90% of reports 1k-5k rows, 10% 20k-50k rows;
- transient errors only: ~1% of first POSTs of a report id return 429,
  ~2% of first GETs return 503; the retry of either succeeds.

Run: ``python3 stub_api.py --seed 7`` prints ``PORT <n>`` on stdout once
it listens on 127.0.0.1 and serves until terminated.
"""

from __future__ import annotations

import argparse
import asyncio
import hashlib
import io
import json
import sys
import time
from urllib.parse import parse_qs, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.csv as pa_csv

TOKEN_TTL_SEC = 3600
POST_429_SHARE = 0.01
GET_503_SHARE = 0.02
LARGE_SHARE = 0.10
STATUSES = ("answered", "abandoned", "voicemail", "transferred")


def stable_unit(*key) -> float:
    """Uniform [0, 1) from ``key`` that is the same in every process."""
    digest = hashlib.blake2b(repr(key).encode("utf-8"), digest_size=8).digest()
    return int.from_bytes(digest, "big") / 2.0**64


def report_rows(seed: int, report: str) -> int:
    u = stable_unit(seed, "size", report)
    if u < LARGE_SHARE:
        return 20_000 + int(stable_unit(seed, "large", report) * 30_001)
    return 1_000 + int(stable_unit(seed, "small", report) * 4_001)


def report_payload(seed: int, report: str) -> bytes:
    """The CSV body served for ``report``; independent of date window
    and attempt. Arrow's CSV writer keeps building ~60 MB of payloads
    well inside the benchmark's Spark start-up."""
    n = report_rows(seed, report)
    rng = np.random.default_rng(int(stable_unit(seed, "payload", report) * 2**53))
    table = pa.table({
        "call_id": np.arange(n),
        "agent": rng.integers(0, 500, n),
        "duration_s": rng.integers(1, 3600, n),
        "status": pa.array(STATUSES).take(pa.array(rng.integers(0, len(STATUSES), n))),
    })
    buf = io.BytesIO()
    buf.write(b"call_id,agent,duration_s,status\n")
    pa_csv.write_csv(table, buf, pa_csv.WriteOptions(include_header=False, quoting_style="none"))
    return buf.getvalue()


def payload_digest(payload: bytes) -> str:
    return hashlib.sha256(payload).hexdigest()


class StubApi:
    """Request routing and the deterministic fault/latency schedule."""

    def __init__(self, seed: int):
        self.seed = seed
        self.token = f"tok-{seed}"
        self.log: list[dict] = []
        self._payloads: dict[str, bytes] = {}
        self._post_ok: dict[str, int] = {}
        self._failed_once: set[tuple] = set()
        self._inflight = 0

    def payload(self, report: str) -> bytes:
        body = self._payloads.get(report)
        if body is None:
            body = self._payloads[report] = report_payload(self.seed, report)
        return body

    def latency_s(self, *key) -> float:
        return 0.010 + 0.040 * stable_unit(self.seed, "latency", *key)

    def _first_attempt_fails(self, key: tuple, share: float) -> bool:
        if key in self._failed_once or stable_unit(self.seed, *key) >= share:
            return False
        self._failed_once.add(key)
        return True

    async def route(self, method: str, target: str, headers: dict, body: bytes):
        """Returns ``(status, content_type, body, report)``."""
        url = urlparse(target)
        if method == "POST" and url.path == "/oauth/token":
            form = {k: v[0] for k, v in parse_qs(body.decode("utf-8")).items()}
            if form.get("grant_type") != "client_credentials":
                return 400, "application/json", b'{"error":"unsupported_grant_type"}', ""
            doc = {"access_token": self.token, "expires_in": TOKEN_TTL_SEC}
            await asyncio.sleep(self.latency_s("token"))
            return 200, "application/json", json.dumps(doc).encode(), ""
        authed = headers.get("authorization") == f"Bearer {self.token}"
        if method == "POST" and url.path == "/reports/generate":
            report = json.loads(body)["report"]
            gen = self._post_ok.get(report, 0)
            key = ("post", report, gen)
            failed_before = key in self._failed_once
            await asyncio.sleep(self.latency_s(*key, failed_before))
            if not authed:
                return 401, "application/json", b'{"error":"no token"}', report
            if self._first_attempt_fails(key, POST_429_SHARE):
                return 429, "application/json", b'{"error":"rate limited"}', report
            self._post_ok[report] = gen + 1
            doc = {"report_id": f"{report}.{gen}"}
            return 200, "application/json", json.dumps(doc).encode(), report
        if method == "GET" and url.path == "/reports/download":
            report_id = parse_qs(url.query).get("id", [""])[0]
            report = report_id.rsplit(".", 1)[0]
            key = ("get", report_id)
            failed_before = key in self._failed_once
            await asyncio.sleep(self.latency_s(*key, failed_before))
            if not authed:
                return 401, "application/json", b'{"error":"no token"}', report
            if self._first_attempt_fails(key, GET_503_SHARE):
                return 503, "text/plain", b"try later", report
            return 200, "text/csv", self.payload(report), report
        return 404, "application/json", b"{}", ""

    async def handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        try:
            request_line = await reader.readline()
            if not request_line:
                return
            method, target, _ = request_line.decode("latin-1").split(" ", 2)
            headers: dict[str, str] = {}
            while True:
                line = await reader.readline()
                if line in (b"\r\n", b"\n", b""):
                    break
                name, _, value = line.decode("latin-1").partition(":")
                headers[name.strip().lower()] = value.strip()
            body = await reader.readexactly(int(headers.get("content-length", "0")))
            if target.startswith("/_"):
                status, ctype, payload = self._admin(target)
                await self._respond(writer, status, ctype, payload)
                return
            arrival = time.time()
            self._inflight += 1
            inflight = self._inflight
            try:
                status, ctype, payload, report = await self.route(method, target, headers, body)
                await self._respond(writer, status, ctype, payload)
            finally:
                self._inflight -= 1
            entry = {
                "arrival": arrival,
                "finish": time.time(),
                "method": method,
                "path": urlparse(target).path,
                "report": report,
                "status": status,
                "bytes": len(payload),
                "inflight": inflight,
            }
            if status == 200 and ctype == "text/csv":
                entry["sha256"] = payload_digest(payload)
            self.log.append(entry)
        except (ConnectionError, asyncio.IncompleteReadError, ValueError) as exc:
            print(f"stub: dropped request: {exc!r}", file=sys.stderr)
        finally:
            writer.close()

    def _admin(self, target: str) -> tuple[int, str, bytes]:
        url = urlparse(target)
        if url.path == "/_log":
            since = int(parse_qs(url.query).get("since", ["0"])[0])
            return 200, "application/json", json.dumps(self.log[since:]).encode()
        return 404, "application/json", b"{}"

    @staticmethod
    async def _respond(writer: asyncio.StreamWriter, status: int, ctype: str, payload: bytes) -> None:
        head = (
            f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(payload)}\r\nConnection: close\r\n\r\n"
        )
        writer.write(head.encode("latin-1") + payload)
        await writer.drain()


async def serve(seed: int, reports: list[str]) -> None:
    api = StubApi(seed)
    for report in reports:
        api.payload(report)
    server = await asyncio.start_server(api.handle, "127.0.0.1", 0, backlog=512)
    port = server.sockets[0].getsockname()[1]
    print(f"PORT {port}", flush=True)
    async with server:
        await server.serve_forever()


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument(
        "--preload", default="",
        help="comma-separated report names whose payloads are built before listening",
    )
    args = p.parse_args(argv)
    try:
        asyncio.run(serve(args.seed, [r for r in args.preload.split(",") if r]))
    except KeyboardInterrupt:
        pass


if __name__ == "__main__":
    main()
