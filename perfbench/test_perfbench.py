"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end cases start one Spark session per workload and mode, so
the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gate
import gen
from measure import tail
from tracing import Tracer, _covered

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- correctness gate --------------------------------------------------


EXPECTED = {"transfers": 50, "requests": 25, "storage": 13, "removes": 12, "rejects": 3}


def test_route_counts_pass_when_equal():
    assert gate.check_route_counts(EXPECTED, dict(EXPECTED), dict(EXPECTED)) == []


@pytest.mark.parametrize("route", sorted(EXPECTED))
@pytest.mark.parametrize("delta", (-1, 1))
@pytest.mark.parametrize("side", ("committed", "read_back"))
def test_route_counts_trip_on_off_by_one(route, delta, side):
    off = dict(EXPECTED, **{route: EXPECTED[route] + delta})
    committed, read_back = (off, EXPECTED) if side == "committed" else (EXPECTED, off)
    errors = gate.check_route_counts(EXPECTED, committed, read_back)
    assert len(errors) == 1 and route in errors[0]


def test_route_counts_trip_on_missing_and_unknown_route():
    missing = {k: v for k, v in EXPECTED.items() if k != "storage"}
    assert gate.check_route_counts(EXPECTED, missing, EXPECTED)
    assert gate.check_route_counts(EXPECTED, EXPECTED, dict(EXPECTED, bogus=1))


def test_committed_counts_sums_batches():
    metrics = [{"routes": {"transfers": 2, "rejects": 1}}, {"routes": {"transfers": 3}}]
    assert gate.committed_counts(metrics) == {"transfers": 5, "rejects": 1}


def test_query_gate_trips_when_a_result_changes():
    rows = [("a", "1"), ("b", "2")]
    same = gate.rows_digest(rows)
    assert same == gate.rows_digest(list(reversed(rows)))  # order-insensitive
    ok = {"q": {"mode": "oracle", "ok": True}}
    assert gate.check_query_results({"q": [same, same]}, ok) == []
    changed = gate.rows_digest([("a", "1"), ("b", "3")])
    assert gate.check_query_results({"q": [same, changed]}, ok)
    assert gate.check_query_results({"q": [same, same]}, {"q": {"mode": "oracle", "ok": False}})


# ---- generator ---------------------------------------------------------


def test_billing_generator_is_seeded_and_counts_every_line(tmp_path):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    na, counts, by_day = gen.write_billing_file(str(a), 7, 2000, range(10, 17), (1, 2))
    nb, counts_b, _ = gen.write_billing_file(str(b), 7, 2000, range(10, 17), (1, 2))
    assert a.read_bytes() == b.read_bytes() and na == nb and counts == counts_b
    assert sum(counts.values()) == 2000
    assert sum(by_day.values()) == 2000 - counts["rejects"]
    lines = a.read_text().splitlines()
    parsed = []
    for line in lines:
        try:
            parsed.append(json.loads(line))
        except json.JSONDecodeError:
            pass
    malformed = len(lines) - len(parsed)
    unknown = sum(1 for r in parsed if r["msgType"] in gen.UNKNOWN_TYPES)
    assert malformed > 0 and unknown > 0 and malformed + unknown == counts["rejects"]
    assert {r["msgType"] for r in parsed} >= {"transfer", "request", "store", "restore", "remove"}
    assert any(r["date"].startswith(gen.day_str(1)) for r in parsed)  # late records
    sys.path.insert(0, REPO)
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.schema import (
        BILLING_SCHEMA,
    )

    assert set().union(*(r.keys() for r in parsed)) == set(BILLING_SCHEMA.fieldNames())


def test_star_schema_generator_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    gen.write_star_schema(str(tmp_path / "x"), 3, 0.001)
    gen.write_star_schema(str(tmp_path / "y"), 3, 0.001)
    for name in ("lineitem", "events", "embeddings"):
        x = pq.read_table(tmp_path / "x" / f"{name}.parquet")
        assert x.equals(pq.read_table(tmp_path / "y" / f"{name}.parquet"))


# ---- measurement helpers -------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 10)["value"] is None
    t = tail(list(range(40)))
    assert t == {"value": 29, "percentile": 75.0, "n": 40}


def test_covered_clips_and_merges():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.start_op("op-0")
    outer = tr.begin("sink.write")
    inner = tr.begin("fs.rename")
    tr.end(inner)
    tr.end(outer)
    tr.stop_op()
    tr.spans[outer][1:3] = [0.0, 1.0]
    tr.spans[inner][1:3] = [0.2, 0.5]
    assert tr.self_times()["op-0"] == pytest.approx({"sink": 0.7, "fs": 0.3})


# ---- the command itself --------------------------------------------------


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", ("0", "1"))
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]] + ["ingest_fresh"])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    proc = _run(REPO, "--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", trace, "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    listed = _spec()["end_to_end" if trace == "0" else "per_layer"]
    assert {m["name"]: m["unit"] for m in listed} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if trace == "0":
            assert m["value"] > 0, name


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
