"""Closed-loop driver for ``cli.serve_loop``: one client, in-process.

``serve_loop`` reads one request line at a time and writes one response
line per request, so the client here is closed-loop by construction: the
loop pulls the next line only after it has written the previous reply.
Latency is stamped outside the loop, from the moment ``Feed`` hands a
line over to the moment ``Sink`` sees its response line written.
"""

from __future__ import annotations

import json
import time


def request_line(route: str, text: str, k: int) -> str:
    req = {"query": text, "k": k}
    if route in ("phrase", "boolean"):
        req[route] = True
    elif route == "facets":
        req["facets"] = "role"
    return json.dumps(req)


class Feed:
    """Iterator of request lines built from (route, text[, k]) items;
    ``on_line(i, route)`` runs just before line ``i`` is handed over."""

    def __init__(self, requests, k: int, on_line=None,
                 clock=time.perf_counter):
        self._it = iter(requests)
        self.k = k
        self.on_line = on_line
        self.clock = clock
        self.routes: list[str] = []
        self.texts: list[str] = []
        self.t_in: list[float] = []

    def __iter__(self):
        return self

    def __next__(self) -> str:
        route, text, *k = next(self._it)
        if self.on_line is not None:
            self.on_line(len(self.t_in), route)
        self.routes.append(route)
        self.texts.append(text)
        self.t_in.append(self.clock())
        return request_line(route, text, k[0] if k else self.k)


class Sink:
    """Write target for ``serve_loop``: stamps and parses each line."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.t_out: list[float] = []
        self.responses: list[dict] = []
        self._buf: list[str] = []

    def write(self, s: str) -> int:
        self._buf.append(s)
        if s.endswith("\n"):
            self.t_out.append(self.clock())
            self.responses.append(json.loads("".join(self._buf)))
            self._buf = []
        return len(s)

    def flush(self) -> None:
        pass


def run_requests(spark, index_dir: str, requests, k: int, log: bool,
                 on_line=None,
                 clock=time.perf_counter) -> tuple[Feed, Sink, float]:
    """Serve ``requests`` [(route, text[, k])] through one ``serve_loop``
    call (one fresh IndexStore).  Returns (feed, sink, loop wall s)."""
    from anisearch_model_spark import cli

    feed = Feed(requests, k, on_line, clock)
    sink = Sink(clock)
    t0 = clock()
    cli.serve_loop(spark, index_dir, feed, sink, log=log, idle_clear_sec=0)
    wall = clock() - t0
    if len(sink.responses) != len(feed.t_in):
        raise RuntimeError(f"{len(feed.t_in)} requests but "
                           f"{len(sink.responses)} responses")
    return feed, sink, wall
