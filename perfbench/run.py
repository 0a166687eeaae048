#!/usr/bin/env python3
"""HTTP benchmark of the monolith-spark Prometheus remote-storage server.

Starts ``MonolithServer`` on a localhost socket over a ``MonolithDB`` in
this process and drives it the way Prometheus queue shards and Grafana
panels do. See ``perfbench/README.md`` for the workloads, the metrics
and which layer metric should move which end-to-end metric.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The exit code is 0 only when every answer was correct; it is 2 when
the program under test is missing.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import http.client  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
SETUP_REPS = 3  # db set-ups per run; setup_s counts their median
HTTP_TIMEOUT_S = 120


@dataclass
class Rec:
    """One request as the client saw it."""

    req: object
    t_sched: float  # when it was due (open loop) or sent (closed loop)
    t_send: float
    t_end: float
    status: int
    body: bytes
    traced: bool = False
    client: int = -1  # closed-loop client index; -1 for open-loop sends

    @property
    def latency(self) -> float:
        return self.t_end - self.t_sched

    @property
    def ok(self) -> bool:
        return self.status in (200, 204)


def send(port: int, req) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=HTTP_TIMEOUT_S)
    try:
        conn.request("POST", req.path, body=req.body, headers=req.headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    except OSError as exc:
        return -1, repr(exc).encode()
    finally:
        conn.close()


class Feed:
    """Thread-safe iterator over pre-encoded requests; None when empty."""

    def __init__(self, items) -> None:
        self._it = iter(items)
        self._lock = threading.Lock()

    def next(self):
        with self._lock:
            return next(self._it, None)


def closed_loop(port: int, feed: Feed, deadline: float, out: list, client: int) -> None:
    while time.perf_counter() < deadline:
        req = feed.next()
        if req is None:
            return
        t0 = time.perf_counter()
        status, body = send(port, req)
        out.append(Rec(req, t0, t0, time.perf_counter(), status, body, client=client))


def open_loop(port: int, reqs: list, start: float, period: float,
              deadline: float, out: list) -> None:
    """Send ``reqs[n]`` at ``start + n * period`` whether or not earlier
    ones have been answered; latency counts from the due time."""

    def send_due(req, due: float) -> None:
        t0 = time.perf_counter()
        status, body = send(port, req)
        out.append(Rec(req, due, t0, time.perf_counter(), status, body))

    senders = []
    for n, req in enumerate(reqs):
        due = start + n * period
        if due >= deadline:
            break
        time.sleep(max(0.0, due - time.perf_counter()))
        senders.append(threading.Thread(target=send_due, args=(req, due)))
        senders[-1].start()
    for t in senders:
        t.join()


def run_threads(targets) -> None:
    threads = [threading.Thread(target=fn, args=args) for fn, args in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def cycle(pools: list[list], start: int = 0):
    """Round-robin over request kinds, each kind cycling its own pool,
    from position ``start`` of that sequence."""
    n = start
    while True:
        pool = pools[n % len(pools)]
        yield pool[n // len(pools) % len(pool)]
        n += 1


# --------------------------------------------------------------- workloads


class Workload:
    """Set-up, traffic and checks shared by the workloads."""

    kinds: tuple[str, ...] = ()

    def __init__(self, spark, size, seed: int) -> None:
        self.spark, self.size, self.seed = spark, size, seed
        self.db = self.server = None
        self.records: list[Rec] = []  # every timed request, in any phase

    def new_db(self, path: Path):
        from monolith_spark.engine import MonolithDB

        return MonolithDB(self.spark, str(path))

    def serve(self, db):
        from monolith_spark.server import MonolithServer

        srv = MonolithServer(db, port=0)
        srv.serve_background()
        return srv

    def start(self, path: Path) -> None:
        self.db = self.build(path)
        self.server = self.serve(self.db)

    def stop(self) -> None:
        if self.server is not None:
            self.server.shutdown()

    @property
    def port(self) -> int:
        return self.server.port

    def warm(self, work: Path) -> None:
        """Untimed: the workload's own traffic for ``warm_s`` seconds,
        with its writes sent to a throwaway db so the measured db keeps
        its start state. The JVM compiles the plan code over tens of
        seconds of traffic; with a few warm-up requests only, latencies
        kept drifting down through the timed phase."""
        srv = self.serve(self.new_db(work / "warm"))
        try:
            self.traffic(srv.port, self.warm_writes(), self.warm_s, self.clients, [])
        finally:
            srv.shutdown()

    def stored_samples(self) -> int:
        return sum(len(r.sent) for r in self.acked())

    def acked(self) -> list:
        return [r.req for r in self.records if r.req.kind == "write" and r.ok]

    def verify_writes(self, t_lo: int, t_hi: int, metric: str) -> tuple[set[int], int]:
        """Reopen the db from disk in a fresh ``MonolithDB`` and
        remote-read everything in the written time range."""
        from gen import READ_HEADERS, Request, check_writes, decode_read, read_body

        srv = self.serve(self.new_db(self.db.path))
        try:
            req = Request("read_point", "/read",
                          read_body([("__name__", metric)], t_lo, t_hi), READ_HEADERS, 0)
            status, body = send(srv.port, req)
        finally:
            srv.shutdown()
        if status != 200:
            raise RuntimeError(f"verification read failed: HTTP {status} {body[:200]!r}")
        sent = [r.req for r in self.records if r.req.kind == "write"]
        return check_writes(self.acked(), sent, decode_read(body))


class Ingest(Workload):
    """Remote-write only: closed-loop writers into an empty db."""

    kinds = ("write",)
    warm_s = 6
    # Pool size in requests per second per writer: over twice the
    # capacity of one of three writers, and above that of a lone writer,
    # when the benchmark was introduced. A drained pool ends the phase.
    rate = 1.0

    def __init__(self, spark, size, seed):
        super().__init__(spark, size, seed)
        from gen import IngestGen

        self.gen = IngestGen(size, seed)
        self.clients = 3

    def prepare(self, seconds: float, clients: int, traced: bool) -> None:
        # the traced run's second phase has one client
        self.pool = self.gen.make(math.ceil(seconds * self.rate * (clients + traced)))
        self._feed = Feed(self.pool)

    def build(self, path: Path):
        return self.new_db(path)

    def warm_writes(self) -> Feed:
        from gen import IngestGen

        return Feed(IngestGen(self.size, self.seed + 7_919).make(
            math.ceil(self.warm_s * self.clients * self.rate)))

    def traffic(self, write_port: int, writes: Feed, seconds: float, clients: int,
                out: list) -> None:
        deadline = time.perf_counter() + seconds
        run_threads([(closed_loop, (write_port, writes, deadline, out, c))
                     for c in range(clients)])

    def phase(self, seconds: float, clients: int) -> list[Rec]:
        out: list[Rec] = []
        self.traffic(self.port, self._feed, seconds, clients, out)
        return out

    def single(self):
        while True:
            req = self._feed.next()
            if req is None:
                return
            yield [req]

    def verify(self) -> tuple[set[int], int]:
        from gen import INGEST_METRIC, INGEST_T0

        hi = INGEST_T0 + len(self.pool) * 1_000
        return self.verify_writes(INGEST_T0, hi, INGEST_METRIC)


class Mixed(Workload):
    """Bulk-loaded counters with a label index; one open-loop writer
    appending the next scrapes while two closed-loop readers alternate
    a point read and a query_range."""

    kinds = ("write", "read_point", "query_range")
    warm_s = 10

    def __init__(self, spark, size, seed):
        super().__init__(spark, size, seed)
        from gen import QueryData

        self.data = QueryData(size, seed)
        self.reads = [self.data.point_reads(), self.data.range_queries()]
        self.clients = 2

    def prepare(self, seconds: float, clients: int, traced: bool) -> None:
        # open-loop writes of the timed phase plus one per single-client cycle
        n = math.ceil(seconds / self.size.mixed_interval_s) + 1
        self.writes = self.data.next_writes(n * (1 + traced))
        self._next_write = 0

    def build(self, path: Path):
        db = self.new_db(path)
        db.write(self.data.bulk_df(self.spark))
        srv = self.serve(db)
        try:
            from gen import Request

            req = Request("admin", "/api/v1/admin/tsdb/build_label_index", b"", {}, 0)
            status, body = send(srv.port, req)
            if status != 204:
                raise RuntimeError(f"build_label_index: HTTP {status} {body[:200]!r}")
        finally:
            srv.shutdown()
        return db

    def reader_feeds(self, clients: int) -> list[Feed]:
        """Reader ``c`` starts at request type ``c``, so the readers are
        out of phase rather than in lockstep."""
        return [Feed(cycle(self.reads, c * (5 * len(self.reads) + 1))) for c in range(clients)]

    def warm_writes(self) -> list:
        from gen import QueryData

        return QueryData(self.size, self.seed + 7_919).next_writes(
            math.ceil(self.warm_s / self.size.mixed_interval_s) + 1)

    def traffic(self, write_port: int, writes: list, seconds: float, clients: int,
                out: list) -> None:
        start = time.perf_counter()
        deadline = start + seconds
        targets = [(open_loop, (write_port, writes, start,
                                self.size.mixed_interval_s, deadline, out))]
        for c, feed in enumerate(self.reader_feeds(clients)):
            targets.append((closed_loop, (self.port, feed, deadline, out, c)))
        run_threads(targets)

    def phase(self, seconds: float, clients: int) -> list[Rec]:
        out: list[Rec] = []
        self.traffic(self.port, self.writes[self._next_write:], seconds, clients, out)
        self._next_write += sum(1 for r in out if r.req.kind == "write")
        return out

    def single(self):
        reads = cycle(self.reads, 7)
        while self._next_write < len(self.writes):
            self._next_write += 1
            yield [self.writes[self._next_write - 1]] + [next(reads) for _ in self.reads]

    def verify(self) -> tuple[set[int], int]:
        from gen import QUERY_METRIC, SCRAPE_MS, T_LAST

        hi = T_LAST + (len(self.writes) * self.data.scrapes_per_write + 1) * SCRAPE_MS
        return self.verify_writes(T_LAST + 1, hi, QUERY_METRIC)

    def stored_samples(self) -> int:
        return self.data.bulk_samples + super().stored_samples()


WORKLOADS = {"ingest": Ingest, "mixed": Mixed}


# ----------------------------------------------------------------- metrics


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, n): the highest percentile with at least ten
    samples beyond it, or None with fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    r = n - 10
    return 100.0 * r / n, sorted(xs)[r - 1], n


def vm_hwm_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of one process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def samples_bytes(db) -> int:
    return sum(r["bytes"] for r in db.chunks().collect())


def manifest_version(db) -> int:
    return max((h["version"] for h in db.history()), default=0)


def live_chunk_files(db) -> int:
    rows = db.chunks().orderBy("chunk_id").collect()
    return rows[-1]["n_files"] if rows else 0


def generator_lag(recs: list[Rec]) -> float:
    """How late the open-loop writer sent its latest request (0 for closed loops)."""
    return max((r.t_send - r.t_sched for r in recs), default=0.0)


def by_kind(recs: list[Rec], kinds) -> dict[str, list[Rec]]:
    return {k: [r for r in recs if r.req.kind == k and r.ok] for k in kinds}


def closed_loop_rate(recs: list[Rec], t_start: float) -> float:
    """Answered requests per second of the closed-loop clients: the sum
    over clients of answers over the time to that client's last answer,
    so a client's unfinished last request does not blur the rate."""
    rate = 0.0
    for c in {r.client for r in recs if r.client >= 0}:
        done = [r for r in recs if r.client == c and r.ok]
        if done:
            rate += len(done) / (max(r.t_end for r in done) - t_start)
    return rate


def e2e_metrics(wl, recs: list[Rec], t_start: float, setup_s: float,
                memory_mb: float) -> dict:
    groups = by_kind(recs, wl.kinds)
    p50s = [p50([r.latency for r in groups[k]]) for k in wl.kinds]
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (math.exp(sum(map(math.log, p50s)) / len(p50s)), "s"),
        "requests_per_s": (closed_loop_rate(recs, t_start), "1/s"),
        "stored_bytes_per_sample": (samples_bytes(wl.db) / wl.stored_samples(), "B"),
        "memory_mb": (memory_mb, "MB"),
    }


def report_requests(wl, recs: list[Rec], t_start: float) -> None:
    """Human-readable per-request-type figures (not part of the JSON)."""
    groups = by_kind(recs, wl.kinds)
    done = [r for r in recs if r.ok]
    elapsed = max(r.t_end for r in done) - t_start
    for k in wl.kinds:
        lat = [r.latency for r in groups[k]]
        t = tail(lat)
        tail_txt = (f"p{t[0]:.0f}={t[1]:.4f} s of n={t[2]}" if t
                    else f"n/a (n={len(lat)} < 11)")
        print(f"  {k}: p50={p50(lat):.4f} s  tail {tail_txt}  "
              f"rate={len(lat) / elapsed:.3f}/s")
    writes = groups.get("write", [])
    if writes:
        print(f"  write_samples_per_s={sum(len(r.req.sent) for r in writes) / elapsed:.1f}")
    if isinstance(wl, Mixed):
        print(f"  generator_lag_s max={generator_lag(recs):.4f}")


# ----------------------------------------------------------------- tracing


def traced_phase(wl, seconds: float, tracer, sc) -> list[Rec]:
    """One client; request cycles alternate untraced and traced so the
    two modes see the same drift. Returns every request."""
    from tracing import spark_jobs, stage_count

    out: list[Rec] = []
    deadline = time.perf_counter() + seconds
    for n, batch in enumerate(wl.single()):
        if time.perf_counter() >= deadline:
            break
        traced = n % 2 == 1
        if traced:
            tracer.install(wl.db)
        try:
            for req in batch:
                if traced:
                    jobs0, v0 = spark_jobs(sc), manifest_version(wl.db)
                    rid = len(out)
                    root, t0 = tracer.begin(rid)
                    status, body = send(wl.port, req)
                    tracer.end(f"http.{req.kind}", root, t0)
                    t1 = time.perf_counter()
                    new = spark_jobs(sc) - jobs0
                    tracer.counts[rid].update(jobs=len(new), stages=stage_count(sc, new),
                                              commits=manifest_version(wl.db) - v0)
                else:
                    t0 = time.perf_counter()
                    status, body = send(wl.port, req)
                    t1 = time.perf_counter()
                out.append(Rec(req, t0, t0, t1, status, body, traced=traced))
        finally:
            if traced:
                tracer.uninstall()
    return out


def layer_metrics(wl, recs: list[Rec], tracer) -> tuple[dict, list[str]]:
    """Per-layer metrics from the single-client phase: medians over the
    traced requests of each kind. Returns (metrics, notes)."""
    from tracing import self_times

    selfs = self_times(tracer.spans)
    per_req: dict[int, dict[str, float]] = {}
    roots: dict[int, object] = {}
    for s in tracer.spans:
        d = per_req.setdefault(s.rid, {})
        d[s.name] = d.get(s.name, 0.0) + (s.end - s.start)
        if s.name.startswith("http."):
            roots[s.rid] = s
    rids = {}
    for rid, rec in enumerate(recs):
        if rec.traced and rec.ok:
            rids.setdefault(rec.req.kind, []).append(rid)

    def med(kind: str, fn) -> float:
        vals = [fn(rid) for rid in rids.get(kind, [])]
        return statistics.median(vals) if vals else 0.0

    def span(kind: str, *names: str) -> float:
        return med(kind, lambda rid: sum(per_req.get(rid, {}).get(n, 0.0) for n in names))

    def count(kind: str, what: str) -> float:
        return med(kind, lambda rid: tracer.counts[rid][what])

    m: dict[str, tuple[float, str]] = {}
    notes = []
    for k in ("write", "read_point", "query_range"):
        if k not in wl.kinds:
            notes.append(f"{k}: not sent by this workload; its metrics read 0")
        lat_u = [r.t_end - r.t_send for r in recs if r.req.kind == k and r.ok and not r.traced]
        lat_t = [r.t_end - r.t_send for r in recs if r.req.kind == k and r.ok and r.traced]
        m[f"lat.p50_s.{k}"] = (p50(lat_u) if lat_u else 0.0, "s")
        m[f"trace.overhead_s.{k}"] = (p50(lat_t) - p50(lat_u) if lat_u and lat_t else 0.0, "s")
        m[f"server.self_s.{k}"] = (med(k, lambda rid: selfs[roots[rid].sid]), "s")
        m[f"spark.jobs.{k}"] = (count(k, "jobs"), "count")
        m[f"spark.stages.{k}"] = (count(k, "stages"), "count")
        m[f"py4j.calls.{k}"] = (count(k, "py4j"), "count")
    m["remote.decode_s.write"] = (span("write", "remote.snappy_decompress",
                                       "remote.decode_write_request"), "s")
    m["server.to_df_s.write"] = (span("write", "server.write_request_to_df"), "s")
    m["engine.write_s.write"] = (span("write", "engine.write"), "s")
    m["engine.commits_per_write"] = (count("write", "commits"), "count")
    m["remote.encode_s.read_point"] = (span("read_point", "remote.encode_read_response",
                                            "remote.snappy_compress"), "s")
    m["remote.resp_bytes_per_point.read_point"] = (
        med("read_point", lambda rid: tracer.counts[rid]["resp_bytes"]
            / max(1, tracer.counts[rid]["points"])), "B")
    m["server.evaluate_read_s.read_point"] = (span("read_point", "server.evaluate_read"), "s")
    for k in ("read_point", "query_range"):
        m[f"engine.query_flat_s.{k}"] = (span(k, "engine.query_flat"), "s")
    m["server.evaluate_promql_range_s.query_range"] = (
        span("query_range", "server.evaluate_promql_range"), "s")
    m["promql.parse_s.query_range"] = (span("query_range", "promql.parse"), "s")
    m["promql.eval_range_s.query_range"] = (span("query_range", "promql.eval_range"), "s")

    # each request's latency must equal the sum of the self times in its tree
    worst = 0.0
    for rid, root in roots.items():
        tree = sum(selfs[s.sid] for s in tracer.spans if s.rid == rid)
        worst = max(worst, abs(tree - (root.end - root.start)))
    notes.append(f"span accounting: max |latency - sum of self times| = {worst:.2e} s")
    return m, notes


# -------------------------------------------------------------------- main


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: a tiny data set for the benchmark's own test")
    ap.add_argument("--clients", type=int, default=None,
                    help="closed-loop clients of the timed phase "
                         "(default: 3 writers for ingest, 2 readers for mixed)")
    ap.add_argument("--spans-out", default=None,
                    help="with --trace 1: write the recorded spans here as JSON lines")
    return ap.parse_args(argv)


def start_spark():
    from monolith_spark.session import get_spark

    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    # every scratch file Spark, the JVM and Python make stays in WORK
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    return get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
    })


def jvm_live_mb(sc) -> float:
    """Memory the JVM holds on to: heap in use after a full collection
    plus non-heap in use (class metadata, compiled code)."""
    mem = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "monolith_spark" / "__init__.py").is_file():
        print(f"perfbench: no monolith_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    from gen import SIZES, check_response

    shutil.rmtree(WORK, ignore_errors=True)
    spark = start_spark()
    spark.range(1).count()
    t_session = time.perf_counter() - T_PROCESS
    t_gen = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, SIZES[args.size], args.seed)
    clients = args.clients or wl.clients
    wl.prepare(args.seconds, clients, bool(args.trace))
    t_gen = time.perf_counter() - t_gen

    try:
        builds = []
        for rep in range(SETUP_REPS):
            path = WORK / f"db{rep}"
            t0 = time.perf_counter()
            if rep == SETUP_REPS - 1:
                wl.start(path)
            else:
                wl.build(path)
                shutil.rmtree(path)
            builds.append(time.perf_counter() - t0)
        t_warm = time.perf_counter()
        wl.warm(WORK)
        # the program's set-up only: the benchmark's own input generation
        # and its fixed-length warm-up are reported beside it
        setup_s = t_session + statistics.median(builds)
        t_start = time.perf_counter()
        setup_note = (f"  setup: session={t_session:.2f} s  builds={[round(b, 2) for b in builds]} s  "
                      f"(not in setup_s: generation={t_gen:.2f} s  warm-up={t_start - t_warm:.2f} s)")
        recs = wl.phase(args.seconds, clients)
        py_mb, jvm_mb = vm_hwm_mb(os.getpid()), jvm_live_mb(spark.sparkContext)
        mem_note = f"  memory: python VmHWM={py_mb:.1f} MB  JVM live={jvm_mb:.1f} MB"
        if args.trace:
            from tracing import Tracer

            lag = generator_lag(recs)
            files = live_chunk_files(wl.db)
            tracer = Tracer()
            single = traced_phase(wl, args.seconds, tracer, spark.sparkContext)
            wl.records = recs + single
        else:
            wl.records = recs

        # ------------------------------------------------ correctness gate
        failed = sum(1 for r in wl.records if not r.ok)
        attempted = len(wl.records) + 1  # + the reopen-and-read-back check
        checked: dict[tuple, str | None] = {}
        for r in wl.records:
            if not r.ok or r.req.kind == "write":
                continue
            key = (r.req.kind, r.req.key, r.body)
            if key not in checked:
                checked[key] = check_response(r.req, r.body)
            if checked[key] is not None:
                failed += 1
        bad_writes, extra = wl.verify()
        failed += len(bad_writes) + (1 if extra else 0)
        for key, why in checked.items():
            if why is not None:
                print(f"WRONG {key[0]}#{key[1]}: {why}", file=sys.stderr)
        if bad_writes or extra:
            print(f"WRONG writes: {len(bad_writes)} acknowledged requests lost, "
                  f"duplicated or altered samples; {extra} stored points never sent",
                  file=sys.stderr)
        for r in wl.records:
            if not r.ok:
                print(f"FAILED {r.req.kind}#{r.req.key}: HTTP {r.status} {r.body[:200]!r}",
                      file=sys.stderr)

        print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} size={args.size} clients={clients}")
        print(f"  failed_share={failed / attempted:.4f} ({failed}/{attempted})")
        print(setup_note)
        print(mem_note)
        report_requests(wl, recs, t_start)
        if args.trace:
            metrics, notes = layer_metrics(wl, single, tracer)
            metrics["engine.live_chunk_files"] = (float(files), "count")
            metrics["bench.generator_lag_s"] = (lag, "s")
            for note in notes:
                print(f"  {note}")
            if args.spans_out:
                with open(args.spans_out, "w") as f:
                    for s in tracer.spans:
                        f.write(json.dumps(s.__dict__) + "\n")
        else:
            metrics = e2e_metrics(wl, recs, t_start, setup_s, py_mb + jvm_mb)
        for name, (value, unit) in metrics.items():
            print(f"  {name} = {value:.6g} {unit}")
        ok = failed == 0
        print(json.dumps({
            "correct": ok,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }))
        return 0 if ok else 1
    finally:
        wl.stop()
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
