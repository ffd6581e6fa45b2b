"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py

The smoke tests start Spark, one run per workload and mode (about a minute
each); the other tests take seconds.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def test_metric_names_are_well_formed_and_match_the_runner():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert all(NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == layers.LAYER_METRICS


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in range(1, 2000):
        p = run.tail_percentile(n)
        values = list(range(n))
        if p is None:
            assert n - math.ceil(0.5 * n) < 10
            continue
        # values are 0..n-1, so n - 1 - v of them lie beyond value v
        assert n - 1 - run.nearest_rank(values, p) >= 10
        higher = [q for q in run._LADDER if q > p]
        if higher:
            assert n - math.ceil(higher[0] / 100.0 * n) < 10


def test_sql_metric_reads_the_ui_renderings():
    assert layers.sql_metric("1.4 s") == 1.4
    assert layers.sql_metric("234.0 KiB") == 234.0 * 1024
    assert layers.sql_metric("1,474") == 1474
    assert layers.sql_metric(
        "total (min, med, max (stageId: taskId))\n10.0 ms (0 ms, 0 ms, 10 ms (stage 3.0: task 5))"
    ) == pytest.approx(0.01)
    assert layers.rest_time("1970-01-01T00:00:01.500GMT") == 1.5


def _stations(polls):
    out = []
    for p in polls:
        with open(p.station_path) as f:
            env = json.load(f)
        out.append((env["lastUpdatedOther"], env["data"]["stations"]))
    return out


def test_polls_are_seeded_and_cover_the_a1_edge_cases(tmp_path):
    a = gen.write_polls(str(tmp_path / "a"), 7, 3)
    b = gen.write_polls(str(tmp_path / "b"), 7, 3)
    for pa, pb in zip(a, b):
        for x, y in ((pa.station_path, pb.station_path), (pa.weather_path, pb.weather_path)):
            with open(x, "rb") as fx, open(y, "rb") as fy:
                assert fx.read() == fy.read()
    polls = _stations(a)
    live = [s for _, st in polls for s in st if s["is_installed"]]
    assert any(s["station_id"] > 2**32 for s in live)
    assert any(s["num_docks_available"] == 0 for s in live)
    assert any(s["num_bikes_available"] == 0
               and s["num_bikes_available_types"] == [{"mechanical": 0}, {"ebike": 0}]
               for s in live)
    first_poll = polls[0][0]
    for _, stations in polls:
        stale = [s for s in stations if s["station_id"] == gen.STALE_STATION]
        assert len(stale) == 1
        assert stale[0]["is_installed"] == stale[0]["is_renting"] == stale[0]["is_returning"] == 0
        assert first_poll - stale[0]["last_reported"] == 17 * 86_400
    resent = {(s["station_id"], s["last_reported"]) for s in polls[0][1]} & {
        (s["station_id"], s["last_reported"]) for s in polls[1][1]}
    assert len(resent) > 10  # skipped polls re-send the previous report
    assert len({s["station_id"] for s in polls[0][1]}) == len(polls[0][1]) == 1474


def test_tables_are_seeded():
    one, two, other = gen.make_tables(0.001, 42), gen.make_tables(0.001, 42), gen.make_tables(0.001, 1)
    assert all(one[t].equals(two[t]) for t in gen.TABLES)
    assert not one["lineitem"].equals(other["lineitem"])


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, *BENCH["command"][1:], "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _run(workload: str, trace: int) -> tuple[subprocess.CompletedProcess, dict]:
    proc = subprocess.run(
        [sys.executable, *BENCH["command"][1:], "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_untraced_run_emits_every_end_to_end_metric(workload):
    proc, result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced_run_emits_every_layer_metric_that_adds_up(workload):
    proc, result = _run(workload, 1)
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == layers.LAYER_METRICS
    for name in run.END_TO_END:  # printed beside the layers, by name
        assert re.search(rf"^\s+{re.escape(name)}\s", proc.stdout, re.M)
    with open(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed1.json")) as f:
        spans = json.load(f)
    checked = 0
    for op in (s for s in spans if s["name"].startswith("op:")):
        parts = [s for s in spans if s["parent"] == op["id"] and s["name"] in ("plans", "execute")]
        if len(parts) == 2:
            took = op["end"] - op["start"]
            assert sum(s["end"] - s["start"] for s in parts) == pytest.approx(took, rel=0.05)
            checked += 1
    assert checked or workload == "ingest"
