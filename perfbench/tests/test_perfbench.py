"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The smoke runs start Spark (about 4 minutes for all of them); the rest run
in seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(args: list[str], cwd: str = ROOT, env: dict | None = None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, env=env or os.environ, capture_output=True, text=True, timeout=600,
    )


def test_catalogue_matches_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == metrics.PER_LAYER
    assert {m["name"]: m["better"] for m in BENCH["per_layer"]} == metrics.BETTER
    assert {w["name"] for w in BENCH["workloads"]} == set(workloads.WORKLOADS)
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_self_time_subtracts_covered_child_intervals():
    sp = [
        {"id": 0, "name": "root", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0},  # overlaps a
        {"id": 3, "name": "c", "start": 9.0, "end": 12.0, "parent": 0},  # runs past root
        {"id": 4, "name": "a.x", "start": 1.5, "end": 2.0, "parent": 1},
    ]
    got = spans.self_times(sp)
    assert got[0] == pytest.approx(10 - (6 - 1) - (10 - 9))
    assert got[1] == pytest.approx(3 - 0.5)
    assert got[2] == pytest.approx(3) and got[4] == pytest.approx(0.5)


def test_jobs_go_to_innermost_open_span_and_batch_phases_split_on_first_write():
    sp = [
        {"id": 0, "name": "pipeline.run_pipeline", "start": 0.0, "end": 20.0, "parent": None},
        {"id": 1, "name": "pipeline.run_batch", "start": 1.0, "end": 15.0, "parent": 0},
    ]
    job = dict.fromkeys(spans.TASK_FIELDS, 0.0)
    jobs = [
        {**job, "id": 0, "start": 2.0, "end": 3.0, "exec": 0, "writes": False, "cpu_s": 1.0},
        {**job, "id": 1, "start": 4.0, "end": 6.0, "exec": 1, "writes": True, "cpu_s": 2.0},
        {**job, "id": 2, "start": 6.5, "end": 8.0, "exec": 1, "writes": True},
        {**job, "id": 3, "start": 9.0, "end": 12.0, "exec": 2, "writes": True},
        {**job, "id": 4, "start": 16.0, "end": 17.0, "exec": 3, "writes": False},
    ]
    by = spans.attribute(sp, jobs)
    assert [j["id"] for j in by[1]] == [0, 1, 2, 3] and [j["id"] for j in by[0]] == [4]
    assert spans.totals(by[1])["cpu_s"] == 3.0
    assert spans.batch_phases(sp[1], by[1]) == {
        "parse_stats_s": 3.0, "write_s": 4.0, "readbacks_s": 4.0, "bookkeeping_s": 3.0,
    }


def test_planted_wrong_answers_count_as_failed_operations():
    ctx = workloads.Ctx(work="", seed=0, seconds=1, trace=False,
                        sizes=workloads.SIZES["tiny"], master="local[1]")
    records = pa.table({
        "table": ["users", "users", "orders"],
        "record_id": ["7", "7", "7"],
        "ts_millis": [2, 1, 3],
        "text": ["b", "a", "c"],
        "url": ["u2", "u1", "u3"],
    })
    want = checks.expected_get(records, "users", "007")  # zero-padded id
    right = [dict(zip(["table", "record_id", "ts_millis", "text", "url"], r)) for r in sorted(want, key=lambda r: r[2])]
    ctx.ok(checks.check_get(right, want))
    ctx.ok(checks.check_get(right[:1], want))  # a row missing
    ctx.ok(checks.check_get(right[::-1], want))  # not ts-ascending

    class Batch:
        batch, added, duplicates, errors = "b00001", 10, 5, 1

    ctx.ok(checks.check_batch(Batch, {"added": 10, "duplicates": 5, "errors": 1}))
    ctx.ok(checks.check_batch(Batch, {"added": 11, "duplicates": 4, "errors": 1}))

    import duckdb
    import pandas as pd

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 2.0), (2, 3.0)) t(k, v)"
    ctx.ok(checks.check_query("q", pd.DataFrame({"k": [2, 1], "v": [3.0, 2.0]}), con, sql))
    ctx.ok(checks.check_query("q", pd.DataFrame({"k": [2, 1], "v": [3.0, 2.5]}), con, sql))
    assert ctx.attempted == 7 and len(ctx.problems) == 4


def test_refuses_engine_knobs():
    r = _run(["--workload", "query_suite", "--seed", "1", "--seconds", "1"], env={**os.environ, "LSS_KEYS_BUCKETS": "8"})
    assert r.returncode != 0 and r.stdout == ""


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    r = _run(["--workload", "ingest_replay", "--seed", "1", "--seconds", "1"], cwd=str(tmp_path))
    assert r.returncode != 0 and r.stdout == ""


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("traced", [0, 1])
def test_tiny_smoke_run(workload, traced):
    r = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(traced), "--size", "tiny"])
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, r.stderr[-2000:]
    want = BENCH["per_layer" if traced else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    if not traced:
        assert all(v["value"] > 0 for v in res["metrics"].values())
