"""Spans and counts for the traced run, recorded from outside the program.

The program has no instrumentation of its own, so the traced run wraps
the public functions the HTTP handler calls (module attributes are
looked up at call time, so replacing them is enough) and two instance
methods of the served ``MonolithDB``. py4j round trips are counted by
wrapping the client connection's ``send_command``; Spark jobs and
stages are read from ``SparkContext.statusTracker()`` around each
request.

Attribution relies on one request being in flight at a time: server-
side spans and py4j calls belong to ``Tracer.rid``, the request the
single client thread is waiting on. Spans are kept in memory and
written out by the caller when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass

import py4j.clientserver
import py4j.java_gateway

from monolith_spark import promql
from monolith_spark import server as server_mod
from monolith_spark.sources import remote

# (module, attribute, span name): what the handler calls, by layer.
MODULE_TARGETS = [
    (remote, "snappy_decompress", "remote.snappy_decompress"),
    (remote, "decode_write_request", "remote.decode_write_request"),
    (remote, "decode_read_request", "remote.decode_read_request"),
    (remote, "encode_read_response", "remote.encode_read_response"),
    (remote, "snappy_compress", "remote.snappy_compress"),
    (server_mod, "write_request_to_df", "server.write_request_to_df"),
    (server_mod, "evaluate_read", "server.evaluate_read"),
    (server_mod, "evaluate_promql_range", "server.evaluate_promql_range"),
    (promql, "parse", "promql.parse"),
    (promql, "eval_range", "promql.eval_range"),
]
DB_TARGETS = [("write", "engine.write"), ("query_flat", "engine.query_flat")]
PY4J_CLASSES = [
    py4j.clientserver.ClientServerConnection,
    py4j.java_gateway.GatewayConnection,
]


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: int | None


class Tracer:
    """Records spans and per-request counts while installed."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[int, dict[str, int]] = {}
        self.rid: int | None = None   # request in flight
        self.root: int | None = None  # its client-side span id
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ requests

    def begin(self, rid: int) -> tuple[int, float]:
        self.rid = rid
        self.root = next(self._ids)
        self.counts[rid] = {"py4j": 0, "points": 0, "resp_bytes": 0}
        return self.root, time.perf_counter()

    def end(self, name: str, sid: int, start: float) -> None:
        self._add(Span(sid, name, start, time.perf_counter(), None, self.rid))
        self.rid = self.root = None

    def _add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def _count(self, what: str, n: int) -> None:
        rid = self.rid
        if rid is not None:
            with self._lock:
                self.counts[rid][what] += n

    # ------------------------------------------------------------ wrappers

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else tracer.root
            sid = next(tracer._ids)
            stack.append(sid)
            start = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                stack.pop()
                tracer._add(Span(sid, name, start, end, parent, tracer.rid))
            if name == "remote.encode_read_response":
                tracer._count("points", sum(
                    len(ts.samples) for res in args[0].results for ts in res))
            elif name == "remote.snappy_compress":
                tracer._count("resp_bytes", len(out))
            return out

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self, db) -> None:
        for mod, attr, name in MODULE_TARGETS:
            self._patch(mod, attr, self._wrap(name, getattr(mod, attr)))
        for attr, name in DB_TARGETS:
            # instance attributes shadow the class's methods for this db only
            self._undo.append((db, attr, None))
            setattr(db, attr, self._wrap(name, getattr(db, attr)))
        for cls in PY4J_CLASSES:
            orig = cls.__dict__["send_command"]

            def send_command(conn, *a, _orig=orig, **k):
                self._count("py4j", 1)
                return _orig(conn, *a, **k)

            self._patch(cls, "send_command", send_command)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)


def spark_jobs(sc) -> set[int]:
    """Ids of every retained job that has no job group (the server's)."""
    return set(sc.statusTracker().getJobIdsForGroup(None))


def stage_count(sc, job_ids) -> int:
    tracker = sc.statusTracker()
    n = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            n += len(info.stageIds)
    return n


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out
