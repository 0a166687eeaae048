"""The benchmark's own test: tiny sizes of every workload, the metric
names and units against ``BENCHMARK.json``, and the correctness gate.

    python3 -m pytest perfbench/test_smoke.py -q

Each smoke run starts its own Spark session (about half a minute).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path
from urllib.parse import parse_qs

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
from monolith_spark.sources import remote as proto  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run_bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_run_reports_declared_metrics(workload, trace):
    p = run_bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "3",
                  "--trace", str(trace), "--size", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_without_the_program_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = run_bench(tmp_path, "--workload", BENCH["workloads"][0]["name"],
                  "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_write_bodies_carry_the_samples_they_record():
    for req in gen.IngestGen(gen.SMOKE, 5).make(3) + gen.QueryData(gen.SMOKE, 5).next_writes(2):
        wr = proto.decode_write_request(proto.snappy_decompress(req.body))
        assert [(ts.labels, s.timestamp, s.value)
                for ts in wr.timeseries for s in ts.samples] == req.sent


def test_same_seed_same_inputs():
    a, b = gen.IngestGen(gen.SMOKE, 9).make(4), gen.IngestGen(gen.SMOKE, 9).make(4)
    assert [r.body for r in a] == [r.body for r in b]
    assert [r.body for r in a] != [r.body for r in gen.IngestGen(gen.SMOKE, 10).make(4)]


def _read_response(series: dict) -> bytes:
    resp = proto.ReadResponse([[
        proto.TimeSeries(labels=dict(key), samples=[proto.Sample(v, t) for t, v in pts])
        for key, pts in series.items()
    ]])
    return proto.snappy_compress(proto.encode_read_response(resp))


def test_gate_rejects_a_wrong_point_read():
    req = gen.QueryData(gen.SMOKE, 1).point_reads()[0]
    assert gen.check_response(req, _read_response(req.expect)) is None
    (key, pts), = req.expect.items()
    wrong = {key: pts[:-1] + [(pts[-1][0], pts[-1][1] + 0.25)]}
    assert "differ" in gen.check_response(req, _read_response(wrong))
    assert "series mismatch" in gen.check_response(req, _read_response({}))


def test_gate_rejects_a_wrong_query_range():
    req = gen.QueryData(gen.SMOKE, 1).range_queries()[0]
    steps, want = req.expect
    form = parse_qs(req.body.decode())
    assert form["step"] == [str(gen.SMOKE.step_s)]

    def doc(values):
        return json.dumps({"status": "success", "data": {"resultType": "matrix", "result": [
            {"metric": {"instance": inst}, "values": values(w)} for inst, w in want.items()
        ]}}).encode()

    assert gen.check_response(req, doc(lambda w: [[t / 1000, str(w)] for t in steps])) is None
    assert "!=" in gen.check_response(
        req, doc(lambda w: [[t / 1000, str(w * (1 + 1e-8))] for t in steps]))
    assert "grid" in gen.check_response(req, doc(lambda w: [[t / 1000, str(w)] for t in steps[1:]]))


def test_gate_rejects_lost_duplicated_and_invented_samples():
    reqs = gen.IngestGen(gen.SMOKE, 2).make(3)
    stored: dict = {}
    for r in reqs:
        for lab, t, v in r.sent:
            stored.setdefault(gen._labels_key(lab), []).append((t, v))
    assert gen.check_writes(reqs, reqs, stored) == (set(), 0)

    lab, t, v = reqs[1].sent[0]
    key = gen._labels_key(lab)
    lost = {k: [p for p in pts if (k, p[0]) != (key, t)] for k, pts in stored.items()}
    assert gen.check_writes(reqs, reqs, lost) == ({reqs[1].key}, 0)
    dup = {k: pts + [(t, v)] if k == key else pts for k, pts in stored.items()}
    assert gen.check_writes(reqs, reqs, dup) == ({reqs[1].key}, 0)
    invented = {**stored, key: stored[key] + [(t + 1, v)]}
    assert gen.check_writes(reqs, reqs, invented) == (set(), 1)
    # a sample of a request that was sent but never acknowledged may be stored
    assert gen.check_writes(reqs[:1], reqs, stored) == (set(), 0)
