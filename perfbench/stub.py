"""Loopback griddap stub: answers hyperslab CSV URLs from an OceanGrid.

It parses `Var[t0:t1][depth][y][x],...` like an ERDDAP griddap server
and returns the header, the units row and one row per month of the
requested cell, so every request gets its own slice (a `file://`
fixture would return the same body whatever the hyperslab). It runs as
one thread on 127.0.0.1 and counts the requests it answered.
"""

from __future__ import annotations

import re
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, HTTPServer

from perfbench.gen import CSV_HEADER, CSV_UNITS, OceanGrid

_SLAB = re.compile(r"\[(\d+):(\d+)\]\[(\d+)\]\[(\d+)\]\[(\d+)\]")


def parse_hyperslab(query: str) -> tuple[int, int, int, int]:
    """(t0, t1, y, x) of the first variable's hyperslab."""
    m = _SLAB.search(urllib.parse.unquote(query))
    if m is None:
        raise ValueError(f"no hyperslab in {query!r}")
    t0, t1, _depth, y, x = (int(g) for g in m.groups())
    return t0, t1, y, x


class GriddapStub:
    def __init__(self, grid: OceanGrid):
        self.grid = grid
        self.requests = 0
        self._lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (http.server naming)
                with stub._lock:
                    stub.requests += 1
                try:
                    t0, t1, y, x = parse_hyperslab(urllib.parse.urlsplit(self.path).query)
                    body = stub.body(t0, t1, y, x).encode()
                except (ValueError, IndexError) as e:
                    self.send_error(400, str(e))
                    return
                self.send_response(200)
                self.send_header("Content-Type", "text/csv")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):  # keep stderr quiet
                pass

        self._server = HTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, name="griddap-stub", daemon=True)

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def body(self, t0: int, t1: int, y: int, x: int) -> str:
        return "\n".join([CSV_HEADER, CSV_UNITS, *self.grid.csv_rows(t0, t1, y, x)]) + "\n"

    def __enter__(self) -> GriddapStub:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
