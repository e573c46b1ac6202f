"""Load generator: a fake Cloud Foundry ``/v2/events`` API and a fake Splunk
HEC in one process, separate from the process under test.

    python3 perfbench/loadgen.py

prints one JSON line ``{"port": N}`` and serves on 127.0.0.1:N until its
standard input closes (the runner holds the pipe, so the server never
outlives it).  It handles at most as many requests at once as it may use
cores.

Fake CF: events are loaded (``/ctl/load``) and later made visible on a
schedule (``/ctl/release``) kept on this process's clock, so the schedule
does not slow when the system under test slows.  ``GET /v2/events`` honours
``q=timestamp>``, ``page=``, ``results-per-page``, and answers with
``total_pages`` and ``next_url``, so both the ``next_url`` pager and the
page-numbered ``cf_events`` reader work against it.  Event time never runs
backwards with visibility, so no event arrives older than the shipper
cursor.

Fake HEC: any ``POST`` outside ``/ctl`` is an HEC request.  A body holds one
or more JSON events (NDJSON or concatenated), so a batching shipper needs no
change here.  The first-ack time and the delivery count are kept per event,
and the first delivered event object is checked against the generated one
when a report is asked for.
"""

from __future__ import annotations

import bisect
import http.server
import json
import os
import sys
import threading
import time
import urllib.parse
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventgen import expected_event, make_events  # noqa: E402

COUNTERS = (
    "cf.requests",
    "cf.bytes",
    "cf.events_served",
    "cf.events_reserved",
    "hec.posts",
    "hec.bytes",
    "hec.events",
)


class State:
    """Events, their visibility schedule and what the fake HEC received."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.resources: list[dict] = []
        self.rendered: list[str] = []
        self.created: list[str] = []
        self.index: dict[str, int] = {}
        self.vis: list[float] = []
        self.served: list[int] = []
        self.first_ack: list[float | None] = []
        self.deliveries: list[int] = []
        self.first_event: list[dict | None] = []
        self.acked = 0
        self.unknown: list[str] = []
        self.counters = dict.fromkeys(COUNTERS, 0)

    def load(self, seed: int, start: int, count: int, per_sec: int,
             t0: int) -> int:
        events = make_events(seed, start, count, per_sec, t0)
        with self.lock:
            for r in events:
                self.index[r["metadata"]["guid"]] = len(self.resources)
                self.resources.append(r)
                self.rendered.append(json.dumps(r, separators=(",", ":")))
                self.created.append(r["metadata"]["created_at"])
                self.served.append(0)
                self.first_ack.append(None)
                self.deliveries.append(0)
                self.first_event.append(None)
            return len(self.resources)

    def release(self, count: int, rate: float) -> dict:
        now = time.monotonic()
        with self.lock:
            first = len(self.vis)
            if first + count > len(self.resources):
                raise ValueError("release beyond loaded events")
            for k in range(count):
                self.vis.append(now + k / rate if rate else now)
        return {"first": first, "t0": now}

    # -- fake CF ------------------------------------------------------------

    def events_page(self, query: dict) -> bytes:
        per = int(query.get("results-per-page", ["100"])[0])
        page = int(query.get("page", ["1"])[0])
        q = query.get("q", [""])[0]
        now = time.monotonic()
        with self.lock:
            visible = bisect.bisect_right(self.vis, now)
            lo = 0
            if q.startswith("timestamp>"):
                lo = bisect.bisect_right(
                    self.created, q.removeprefix("timestamp>"), 0, visible
                )
            total = visible - lo
            pages = max(1, -(-total // per))
            a = min(lo + (page - 1) * per, visible)
            b = min(a + per, visible)
            reserved = 0
            for i in range(a, b):
                reserved += self.served[i] > 0
                self.served[i] += 1
            body = ",".join(self.rendered[a:b])
            c = self.counters
            c["cf.requests"] += 1
            c["cf.events_served"] += b - a
            c["cf.events_reserved"] += reserved
        nxt = None
        if page < pages:
            qs = f"&q={q}" if q else ""
            nxt = (
                f"/v2/events?order-direction=asc&page={page + 1}"
                f"&results-per-page={per}{qs}"
            )
        head = json.dumps(
            {"total_results": total, "total_pages": pages,
             "prev_url": None, "next_url": nxt}
        )
        out = (head[:-1] + ',"resources":[' + body + "]}").encode()
        with self.lock:
            self.counters["cf.bytes"] += len(out)
        return out

    # -- fake HEC -----------------------------------------------------------

    def hec_post(self, body: bytes) -> bool:
        now = time.monotonic()
        text = body.decode()
        decoder = json.JSONDecoder()
        objs = []
        pos = 0
        try:
            while True:
                while pos < len(text) and text[pos].isspace():
                    pos += 1
                if pos >= len(text):
                    break
                obj, pos = decoder.raw_decode(text, pos)
                objs.append(obj["event"])
        except (ValueError, KeyError, TypeError):
            return False
        with self.lock:
            c = self.counters
            c["hec.posts"] += 1
            c["hec.bytes"] += len(body)
            c["hec.events"] += len(objs)
            for ev in objs:
                i = self.index.get(ev.get("guid")) if isinstance(ev, dict) else None
                if i is None:
                    self.unknown.append(str(ev.get("guid")))
                    continue
                if self.first_ack[i] is None:
                    self.first_ack[i] = now
                    self.first_event[i] = ev
                    self.acked += 1
                self.deliveries[i] += 1
        return True

    # -- control ------------------------------------------------------------

    def status(self) -> dict:
        with self.lock:
            return {"released": len(self.vis), "acked": self.acked,
                    "loaded": len(self.resources)}

    def report(self, first: int, last: int) -> dict:
        """Per-event schedule and delivery record for events first..last-1,
        with the payload check; times are relative to event ``first``'s
        visibility."""
        with self.lock:
            t0 = self.vis[first]
            vis, ack, dels = [], [], []
            mismatches = 0
            for i in range(first, last):
                vis.append(self.vis[i] - t0)
                a = self.first_ack[i]
                ack.append(None if a is None else a - t0)
                dels.append(self.deliveries[i])
                ev = self.first_event[i]
                if ev is not None and ev != expected_event(self.resources[i]):
                    mismatches += 1
            return {"vis": vis, "ack": ack, "deliveries": dels,
                    "mismatches": mismatches, "unknown": list(self.unknown)}


def make_handler(state: State):
    class Handler(http.server.BaseHTTPRequestHandler):
        def _reply(self, code: int, body: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _json(self, obj) -> None:
            self._reply(200, json.dumps(obj).encode())

        def _body(self) -> bytes:
            return self.rfile.read(int(self.headers.get("Content-Length", "0")))

        def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler contract
            url = urllib.parse.urlparse(self.path)
            if url.path == "/v2/events":
                self._reply(200, state.events_page(urllib.parse.parse_qs(url.query)))
            elif url.path == "/ctl/status":
                self._json(state.status())
            elif url.path == "/ctl/counters":
                with state.lock:
                    self._json(dict(state.counters))
            else:
                self._reply(404, b"{}")

        def do_POST(self):  # noqa: N802
            url = urllib.parse.urlparse(self.path)
            body = self._body()
            if not url.path.startswith("/ctl/"):
                if state.hec_post(body):
                    self._reply(200, b'{"text":"Success","code":0}')
                else:
                    self._reply(400, b'{"text":"Invalid data format","code":6}')
                return
            args = json.loads(body or b"{}")
            if url.path == "/ctl/load":
                self._json({"loaded": state.load(**args)})
            elif url.path == "/ctl/release":
                self._json(state.release(**args))
            elif url.path == "/ctl/report":
                self._json(state.report(**args))
            else:
                self._reply(404, b"{}")

        def log_message(self, fmt, *args):
            pass

    return Handler


def pin_to_last_core() -> None:
    """Run the calling thread, and the threads it starts later, on the last
    core this process may use.  The load generator and the runner's main
    thread, which makes every HEC post, share that core: a post and its ack
    then need no wake-up across cores, whose cost on a VM varied by up to
    2x from run to run."""
    os.sched_setaffinity(0, {max(os.sched_getaffinity(0))})


class PoolServer(http.server.HTTPServer):
    """HTTP server that handles requests on a fixed pool of threads."""

    request_queue_size = 128
    daemon_threads = True

    def __init__(self, addr, handler, workers: int) -> None:
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=workers)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # one bad request must not stop the server
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def main() -> int:
    state = State()
    # no more request threads than the cores this process may run on
    workers = len(os.sched_getaffinity(0))
    pin_to_last_core()
    server = PoolServer(("127.0.0.1", 0), make_handler(state), workers)

    def watch_stdin() -> None:
        sys.stdin.read()  # returns at EOF: the runner has gone
        server.shutdown()

    threading.Thread(target=watch_stdin, daemon=True).start()
    print(json.dumps({"port": server.server_address[1]}), flush=True)
    try:
        server.serve_forever(poll_interval=0.1)
    finally:
        server.pool.shutdown(wait=True, cancel_futures=True)
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
