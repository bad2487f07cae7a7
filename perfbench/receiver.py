"""Stand-in Elasticsearch ``_bulk`` endpoint, run as its own process.

Serves just what the engine's ``HttpBulkSink`` speaks: ``HEAD /{index}``
(exists), ``PUT /{index}`` (create) and ``POST /_bulk`` (NDJSON action and
source line pairs, answered with one ``201`` item per pair). While a save is
being timed it parses nothing: it counts requests, lines and bytes, spots a
retried request by its first action line, and appends the raw body to a spool
file. The benchmark parses and verifies the spool after the save's timing
ends, so the receiver's CPU stays off the engine's cores.

Control routes for the benchmark itself:

- ``GET /_bench/stats``: counters plus this process's CPU seconds;
- ``POST /_bench/reset`` with ``{"spool": path}``: zero the counters and
  spool the next bodies to ``path``.

Run: ``python3 perfbench/receiver.py --spool <file>``; it prints the port it
listens on (loopback only) as its first line of output, and stops on SIGTERM
or SIGINT.
"""

from __future__ import annotations

import argparse
import json
import resource
import signal
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_ITEM = b'{"index":{"status":201}}'


class _State:
    def __init__(self, spool_path: str):
        self.lock = threading.Lock()
        self.indices: set[str] = set()
        self.spool = None
        self.reset(spool_path)

    def reset(self, spool_path: str) -> None:
        self.requests = self.lines = self.bytes = self.retries = 0
        self.first_lines: set[bytes] = set()
        if self.spool is not None:
            self.spool.close()
        self.spool = open(spool_path, "wb")

    def stats(self) -> dict:
        self.spool.flush()
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return {
            "requests": self.requests,
            "lines": self.lines,
            "bytes": self.bytes,
            "retries": self.retries,
            "cpu_s": ru.ru_utime + ru.ru_stime,
        }


def _handler(state: _State):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args):  # quiet: one line per request is noise
            pass

        def _reply(self, status: int, body: bytes = b"") -> None:
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if body and self.command != "HEAD":
                self.wfile.write(body)

        def _body(self) -> bytes:
            n = int(self.headers.get("Content-Length") or 0)
            return self.rfile.read(n) if n else b""

        def do_HEAD(self):
            name = self.path.strip("/")
            self._reply(200 if name in state.indices else 404)

        def do_PUT(self):
            self._body()
            with state.lock:
                state.indices.add(self.path.strip("/"))
            self._reply(200, b'{"acknowledged":true}')

        def do_GET(self):
            if self.path == "/_bench/stats":
                with state.lock:
                    body = json.dumps(state.stats()).encode()
                self._reply(200, body)
            else:
                self._reply(404, b"{}")

        def do_POST(self):
            body = self._body()
            if self.path == "/_bench/reset":
                with state.lock:
                    state.reset(json.loads(body)["spool"])
                self._reply(200, b"{}")
                return
            if self.path != "/_bulk":
                self._reply(404, b"{}")
                return
            n_lines = body.count(b"\n")
            first = body[: body.find(b"\n")]
            with state.lock:
                state.requests += 1
                state.lines += n_lines
                state.bytes += len(body)
                if first in state.first_lines:
                    state.retries += 1
                state.first_lines.add(first)
                state.spool.write(body)
            items = b",".join([_ITEM] * (n_lines // 2))
            self._reply(200, b'{"errors":false,"items":[' + items + b"]}")

    return Handler


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--spool", required=True, help="file the raw _bulk bodies go to")
    args = ap.parse_args(argv)
    state = _State(args.spool)
    server = ThreadingHTTPServer(("127.0.0.1", 0), _handler(state))
    server.daemon_threads = True
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
        state.spool.close()


if __name__ == "__main__":
    main(sys.argv[1:])
