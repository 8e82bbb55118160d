"""The benchmark's own tests, at --smoke size:

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The smoke runs start Spark at local[<usable cores>] and take about half a
minute each."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procmon  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, components  # noqa: E402


def spec(kind: str) -> list:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return [m["name"] for m in json.load(f)[kind]]


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=300)


def test_benchmark_json_names_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    assert names == list(WORKLOADS)
    assert "setup_s" in spec("end_to_end")


def test_components_labels_by_smallest_vertex():
    got = components([("b", "c"), ("c", "a"), ("e", "d"), ("f", "f")])
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d",
                   "f": "f"}


def test_self_time_subtracts_the_earlier_cut():
    tr = Tracer("t")
    tr.spans = [{"name": n, "start": 0.0, "end": d, "parent": "trace",
                 "run_id": "t"}
                for n, d in (("scan", 1.0), ("scan", 3.0), ("scan", 2.0),
                             ("extract", 5.0), ("extract", 7.0))]
    assert tr.self_time("scan", None) == 2.0
    assert tr.self_time("extract", "scan") == 4.0
    assert tr.median("missing") == 0.0


def test_process_tree_counts_reaped_children():
    me = os.getpid()
    roles = {pid: role for pid, role, _ in procmon.tree(me)}
    assert roles[me] == "driver"
    before = procmon.cpu_seconds(me)
    # a child that burns CPU and is reaped before the second reading
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"],
                   check=True)
    assert procmon.cpu_seconds(me) - before >= 0.4


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_traced_run_reports_every_per_layer_metric(workload):
    p = bench("--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", "1", "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert list(res["metrics"]) == spec("per_layer")
    assert res["metrics"]["error_rate"]["value"] == 0.0
    assert res["metrics"]["stages.rows_out"]["value"] > 0


def test_smoke_untraced_run_reports_every_end_to_end_metric():
    p = bench("--workload", "newswire_dense", "--seed", "3", "--seconds",
              "1", "--trace", "0", "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert list(res["metrics"]) == spec("end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench("--workload", "crawl_to_table", "--seed", "1", "--seconds",
              "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
