"""Seeded inputs and expected answers for the HTTP benchmark.

Everything a workload sends is built here from ``--seed`` before the
timed loop starts: remote-write bodies are encoded and snappy-framed,
remote-read bodies are encoded, and ``query_range`` form bodies are
URL-encoded. The server only ever receives these bytes.

Values are chosen so every answer has a closed form and compares
exactly:

- mixed-workload series ``i`` is a counter with per-scrape increment
  ``d_i = n/4`` (``n`` in 1..16). Scrape ``k`` holds ``d_i * (k + K0)``,
  a product of small integers and a power-of-two fraction, so Spark and
  Python compute the same double bit for bit;
- ingest sample values are ``j/2 + idx`` (request ``j``, universe index
  ``idx``), also exact.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from urllib.parse import urlencode

from monolith_spark.engine import DEFAULT_CHUNK_MS
from monolith_spark.sources import remote as proto

SCRAPE_MS = 30_000
K0 = 1_000  # counter offset: keeps every value far from zero
# The newest bulk-loaded scrape sits 10 minutes into a chunk, so the
# mixed writer's appends land in that same (live) chunk.
T_LAST = 141_668 * DEFAULT_CHUNK_MS + 600_000
INGEST_T0 = T_LAST + 7 * 86_400_000  # ingest timestamps: one per request
QUERY_METRIC = "perfbench_requests_total"
INGEST_METRIC = "perfbench_ingest_total"

WRITE_HEADERS = {
    "Content-Type": "application/x-protobuf",
    "Content-Encoding": "snappy",
    "X-Prometheus-Remote-Write-Version": "0.1.0",
}
READ_HEADERS = {
    "Content-Type": "application/x-protobuf",
    "Content-Encoding": "snappy",
    "X-Prometheus-Remote-Read-Version": "0.1.0",
}
FORM_HEADERS = {"Content-Type": "application/x-www-form-urlencoded"}


@dataclass(frozen=True)
class Size:
    """Shape of the generated data and traffic."""

    universe: int          # ingest: distinct series
    write_samples: int     # samples per remote-write request
    churn: float           # ingest: share of first-seen series per request
    n_series: int          # mixed: bulk-loaded series
    hours: int             # mixed: bulk-loaded history
    jobs: int              # mixed: series per job = n_series / jobs
    range_hours: int       # query_range span
    step_s: int            # query_range step
    rate_window_s: int     # rate() range in the query_range expression
    mixed_interval_s: float  # mixed: open-loop writer period
    point_pool: int        # distinct point reads
    range_pool: int        # distinct query_range jobs


FULL = Size(
    universe=10_000, write_samples=2_000, churn=0.05,
    n_series=1_000, hours=6, jobs=10, range_hours=1, step_s=60,
    rate_window_s=300, mixed_interval_s=2.0, point_pool=16, range_pool=4,
)
SMOKE = Size(
    universe=200, write_samples=40, churn=0.05,
    n_series=20, hours=2, jobs=2, range_hours=1, step_s=60,
    rate_window_s=300, mixed_interval_s=1.0, point_pool=4, range_pool=2,
)
SIZES = {"full": FULL, "smoke": SMOKE}


@dataclass
class Request:
    """One pre-encoded HTTP request plus what its answer must be."""

    kind: str                 # write | read_point | query_range
    path: str
    body: bytes
    headers: dict
    key: int                  # index within its kind's pool
    expect: object = None     # what check_response compares against
    sent: list = field(default_factory=list)  # write: [(labels, ts, value)]


def _labels_key(labels: dict) -> tuple:
    return tuple(sorted(labels.items()))


def read_body(matchers: list[tuple[str, str]], start: int, end: int) -> bytes:
    q = proto.Query(
        start, end, [proto.LabelMatcher(proto.EQ, n, v) for n, v in matchers]
    )
    return proto.snappy_compress(proto.encode_read_request(proto.ReadRequest([q])))


def write_body(sent: list[tuple[dict, int, float]]) -> bytes:
    """snappy(WriteRequest) with one TimeSeries per (labels, ts, value)."""
    req = proto.WriteRequest([
        proto.TimeSeries(labels=lab, samples=[proto.Sample(v, t)]) for lab, t, v in sent
    ])
    return proto.snappy_compress(proto.encode_write_request(req))


# ----------------------------------------------------------------- ingest


class IngestGen:
    """Remote-write bodies as Prometheus queue shards send them: each
    request carries one sample for each of ``write_samples`` series at
    one scrape timestamp. Series come from a ``universe``-sized label
    space; after the first request, ``churn`` of each request's series
    are first-seen (instance churn) until the universe is exhausted."""

    def __init__(self, size: Size, seed: int) -> None:
        self.size = size
        rng = random.Random(seed)
        self._rng = rng
        tag = f"{rng.getrandbits(24):06x}"
        self.universe = [
            {
                "__name__": INGEST_METRIC,
                "job": f"shard-{i % 20:02d}",
                "instance": f"node-{tag}-{i:05d}:9100",
                "zone": f"z{i % 3}",
            }
            for i in range(size.universe)
        ]
        self._order = list(range(size.universe))
        rng.shuffle(self._order)
        self._next_new = 0
        self._seen: list[int] = []
        self._made = 0

    def make(self, n: int) -> list[Request]:
        """The next ``n`` request bodies, continuing the sequence."""
        out = []
        s = self.size
        for _ in range(n):
            j = self._made
            self._made += 1
            fresh = s.write_samples if not self._seen else round(s.write_samples * s.churn)
            fresh = min(fresh, s.universe - self._next_new)
            new = self._order[self._next_new: self._next_new + fresh]
            self._next_new += fresh
            old = self._rng.sample(self._seen, s.write_samples - len(new))
            self._seen.extend(new)
            ts = INGEST_T0 + j * 1_000
            idx = sorted(old + new)
            sent = [(self.universe[i], ts, j / 2 + i) for i in idx]
            out.append(Request("write", "/write", write_body(sent), WRITE_HEADERS,
                               key=j, sent=sent))
        return out


# ------------------------------------------------------------------ mixed


class QueryData:
    """The bulk-loaded counter set of the mixed workload, the request
    pools that read it and the writes that extend it."""

    def __init__(self, size: Size, seed: int) -> None:
        self.size = size
        rng = random.Random(seed)
        self._rng = rng
        tag = f"{rng.getrandbits(24):06x}"
        self.labels = [
            {
                "__name__": QUERY_METRIC,
                "job": f"job-{i % size.jobs:02d}",
                "instance": f"host-{tag}-{i:04d}:9100",
            }
            for i in range(size.n_series)
        ]
        self.incr = [rng.randint(1, 16) / 4 for _ in range(size.n_series)]
        self.scrapes = size.hours * 3_600_000 // SCRAPE_MS
        self.t0 = T_LAST - (self.scrapes - 1) * SCRAPE_MS
        self._writes = 0

    def value(self, i: int, k: int) -> float:
        return self.incr[i] * (k + K0)

    def ts(self, k: int) -> int:
        return self.t0 + k * SCRAPE_MS

    def bulk_df(self, spark):
        """All bulk points as one [labels, timestamp, value] frame,
        generated in Spark from the same (labels, increment) table."""
        from pyspark.sql import functions as F

        series = spark.createDataFrame(
            list(zip(self.labels, self.incr)), "labels map<string,string>, d double"
        )
        return series.crossJoin(
            spark.range(self.scrapes).withColumnRenamed("id", "k")
        ).select(
            "labels",
            (F.lit(self.t0) + F.col("k") * F.lit(SCRAPE_MS)).alias("timestamp"),
            (F.col("d") * (F.col("k") + F.lit(K0)).cast("double")).alias("value"),
        )

    @property
    def bulk_samples(self) -> int:
        return self.size.n_series * self.scrapes

    def _points(self, i: int, start: int, end: int) -> list[tuple[int, float]]:
        lo = max(0, -(-(start - self.t0) // SCRAPE_MS))
        hi = min(self.scrapes - 1, (end - self.t0) // SCRAPE_MS)
        return [(self.ts(k), self.value(i, k)) for k in range(lo, hi + 1)]

    def point_reads(self) -> list[Request]:
        """Full label set of one series over the last hour."""
        idx = self._rng.sample(range(self.size.n_series), self.size.point_pool)
        start, end = T_LAST - 3_600_000, T_LAST
        out = []
        for key, i in enumerate(idx):
            lab = self.labels[i]
            expect = {_labels_key(lab): self._points(i, start, end)}
            out.append(Request("read_point", "/read",
                               read_body(sorted(lab.items()), start, end),
                               READ_HEADERS, key, expect=expect))
        return out

    def _jobs(self) -> list[int]:
        return self._rng.sample(range(self.size.jobs), self.size.range_pool)

    def range_queries(self) -> list[Request]:
        """The Grafana panel shape: per-instance rate of one job's
        counters over the last ``range_hours`` at a fixed step.

        Expected values follow the engine's documented tiled range
        convention (``promql.eval_range``): the window ending at each
        step holds ``w / SCRAPE`` scrapes, so ``rate`` is the summed
        in-window increase ``(w / SCRAPE - 1) * d_i`` over ``w``
        seconds, and the step grid is ``start + step .. end``."""
        s = self.size
        hours = s.range_hours
        start, end = T_LAST - hours * 3_600_000, T_LAST
        per_window = s.rate_window_s * 1000 // SCRAPE_MS
        steps = [start + n * s.step_s * 1000 for n in range(1, hours * 3600 // s.step_s + 1)]
        out = []
        for key, j in enumerate(self._jobs()):
            members = [i for i in range(s.n_series) if i % s.jobs == j]
            job = self.labels[members[0]]["job"]
            expr = (f'sum by (instance)(rate({QUERY_METRIC}{{job="{job}"}}'
                    f'[{s.rate_window_s // 60}m]))')
            form = urlencode({"query": expr, "start": start / 1000,
                              "end": end / 1000, "step": str(s.step_s)}).encode()
            expect = {
                self.labels[i]["instance"]: (per_window - 1) * self.incr[i] / s.rate_window_s
                for i in members
            }
            out.append(Request("query_range", "/api/v1/query_range", form,
                               FORM_HEADERS, key, expect=(steps, expect)))
        return out

    @property
    def scrapes_per_write(self) -> int:
        return self.size.write_samples // self.size.n_series

    def next_writes(self, n: int) -> list[Request]:
        """Mixed-workload appends: request ``w`` carries the next
        ``scrapes_per_write`` scrapes of every series after the bulk
        load, continuing each counter exactly."""
        per = self.scrapes_per_write
        out = []
        for _ in range(n):
            w = self._writes
            self._writes += 1
            ks = range(self.scrapes + w * per, self.scrapes + (w + 1) * per)
            sent = [(self.labels[i], self.ts(k), self.value(i, k))
                    for i in range(self.size.n_series) for k in ks]
            out.append(Request("write", "/write", write_body(sent), WRITE_HEADERS,
                               key=w, sent=sent))
        return out


# ------------------------------------------------------------------ checks


def decode_read(body: bytes) -> dict[tuple, list[tuple[int, float]]]:
    resp = proto.decode_read_response(proto.snappy_decompress(body))
    if len(resp.results) != 1:
        raise ValueError(f"expected 1 query result, got {len(resp.results)}")
    out: dict[tuple, list[tuple[int, float]]] = {}
    for ts in resp.results[0]:
        key = _labels_key(ts.labels)
        if key in out:
            raise ValueError(f"series {dict(key)} returned twice")
        out[key] = [(s.timestamp, s.value) for s in ts.samples]
    return out


def check_response(req: Request, body: bytes) -> str | None:
    """None when ``body`` is the exact answer to ``req``, else why not."""
    if req.kind == "read_point":
        expect = req.expect
        got = decode_read(body)
        if got.keys() != expect.keys():
            return (f"series mismatch: {len(got)} returned, {len(expect)} expected, "
                    f"{len(got.keys() - expect.keys())} unexpected")
        for key, pts in expect.items():
            if got[key] != pts:
                return f"points of {dict(key)} differ ({len(got[key])} vs {len(pts)})"
        return None
    if req.kind == "query_range":
        import json

        steps, want = req.expect
        doc = json.loads(body)
        if doc.get("status") != "success":
            return f"status {doc.get('status')}: {doc.get('error')}"
        res = doc["data"]["result"]
        got = {r["metric"].get("instance"): r["values"] for r in res}
        if len(got) != len(res) or got.keys() != want.keys():
            return f"series mismatch: {sorted(got)[:3]}... vs {sorted(want)[:3]}..."
        grid = [t / 1000 for t in steps]
        for inst, vals in got.items():
            if [v[0] for v in vals] != grid:
                return f"{inst}: step grid differs ({len(vals)} vs {len(grid)} points)"
            w = want[inst]
            for t, v in vals:
                if abs(float(v) - w) > 1e-9 * abs(w):
                    return f"{inst} @ {t}: {v} != {w}"
        return None
    raise ValueError(f"no check for kind {req.kind}")


def check_writes(acked: list[Request], sent: list[Request],
                 stored: dict[tuple, list[tuple[int, float]]]) -> tuple[set[int], int]:
    """Compare a remote-read of everything written with what was sent.

    Returns (keys of acknowledged requests with a missing, duplicated or
    altered sample; count of stored points no request ever sent)."""
    where: dict[tuple, list[float]] = {}
    for key, pts in stored.items():
        for t, v in pts:
            where.setdefault((key, t), []).append(v)
    bad: set[int] = set()
    for req in acked:
        for lab, t, v in req.sent:
            if where.get((_labels_key(lab), t)) != [v]:
                bad.add(req.key)
                break
    known = {(_labels_key(lab), t) for req in sent for lab, t, _ in req.sent}
    extra = sum(len(vs) for k, vs in where.items() if k not in known)
    return bad, extra
