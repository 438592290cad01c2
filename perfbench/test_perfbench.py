"""Tests of the benchmark itself.

    python3 -m pytest perfbench/ -q

The smoke tests run each workload at tiny dims (`--smoke`, about a minute
each) and check that every metric BENCHMARK.json names is printed with
its unit and that every output check passed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.trace import Job, Span, attribute, self_time, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_attribute_prefers_job_group_then_innermost_span():
    spans = {
        0: Span("section", 0.0, 10.0),
        1: Span("op", 1.0, 5.0, parent=0),
        2: Span("taskgraph.task", 6.0, 7.0, parent=0, attrs={"group_prefix": "wukong-a-"}),
    }
    jobs = [Job(1, None, 2.0, 3.0), Job(2, "wukong-a-7", 6.5, 6.9),
            Job(3, None, 8.0, 9.0), Job(4, None, 20.0, 21.0)]
    owner = attribute(jobs, spans)
    assert [j.job_id for j in owner[1]] == [1]
    assert [j.job_id for j in owner[2]] == [2]
    assert [j.job_id for j in owner[0]] == [3]
    assert [j.job_id for j in owner[-1]] == [4]
    assert self_time(spans, 0) == pytest.approx(10.0 - 5.0)


def test_datagen_is_seeded(tmp_path):
    from perfbench import datagen

    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows = datagen.generate(str(a), seed=3, scale=0.02)
    assert datagen.generate(str(b), seed=3, scale=0.02) == rows
    assert datagen.generate(str(c), seed=4, scale=0.02) == rows  # sizes fixed
    for t in datagen.TABLES:
        same = (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()
        assert same, t
    assert (a / "orders.parquet").read_bytes() != (c / "orders.parquet").read_bytes()


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dag_sql", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
def test_smoke_prints_every_metric(workload, tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--smoke"],
        cwd=tmp_path, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    s = spec()
    want = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for m in s["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    assert result["metrics"]["trace.span_coverage"]["value"] >= 0.9
    assert not os.listdir(tmp_path / ".perfbench") or all(
        n.startswith("spans-") for n in os.listdir(tmp_path / ".perfbench"))
