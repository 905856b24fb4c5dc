"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The tiny-size runs start one JVM each (about a minute apiece), so they live
here rather than in the repository's tier-1 suite.
"""

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

from metrics import END_TO_END, PER_LAYER  # noqa: E402
from run import WORKLOADS  # noqa: E402
from tracer import Span, self_times  # noqa: E402

SEED = 3


def tiny_run(workload: str, trace: int, cwd: str = ROOT) -> tuple[subprocess.CompletedProcess, dict | None, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    if p.returncode != 0:
        return p, None, None
    record = os.path.join(cwd, "perfbench", ".out", f"{workload}-s{SEED}-t{trace}-tiny.json")
    with open(record) as f:
        return p, json.loads(p.stdout.strip().splitlines()[-1]), json.load(f)


@pytest.fixture(scope="module")
def runs():
    cache: dict = {}

    def get(workload: str, trace: int, again: bool = False):
        key = (workload, trace, again)
        if key not in cache:
            p, result, record = tiny_run(workload, trace)
            assert p.returncode == 0, p.stderr[-4000:]
            cache[key] = (result, record)
        return cache[key]

    return get


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric_with_its_unit(runs, workload, trace):
    result, _ = runs(workload, trace)
    expected = END_TO_END if trace == 0 else PER_LAYER
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {n: u for n, u, *_ in expected}
    if trace == 0:
        assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_self_times_sum_to_the_traced_wall(runs, workload):
    _, record = runs(workload, 1)
    wall, total = record["trace"]["wall_s"], record["trace"]["self_sum_s"]
    assert abs(total - wall) <= 0.05 * wall


def test_commit_spans_on_pool_threads_have_the_iteration_as_ancestor(runs):
    _, record = runs("bfs_crawl", 1)
    names = {row["span"] for row in record["spans"]}
    # commit spans only appear in the unit's subtree if their parent chain
    # reaches the unit span through the iteration
    assert {"engine.iteration", "engine.commit_batch", "catalog.commit.seen"} <= names


def test_count_metrics_repeat_exactly(runs):
    first = runs("bfs_crawl", 1)[0]["metrics"]
    second = runs("bfs_crawl", 1, again=True)[0]["metrics"]
    for name in ("engine.iteration_jobs", "catalog.files_written", "catalog.bytes_written"):
        assert first[name]["value"] == second[name]["value"], name
        assert first[name]["value"] > 0, name


def test_self_times_share_concurrent_instants():
    root = Span(1, "bench.unit", None, 0.0, 10.0)
    batch = Span(2, "engine.commit_batch", 1, 2.0, 6.0)
    a = Span(3, "catalog.commit.seen", 2, 2.0, 6.0)
    b = Span(4, "catalog.commit.pages_out", 2, 4.0, 6.0)
    st = self_times([root, batch, a, b])
    assert st[1] == pytest.approx(6.0)
    assert st[2] == pytest.approx(0.0)
    assert st[3] == pytest.approx(3.0)  # alone for 2 s, shared for 2 s
    assert st[4] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_host_probe_leaves_no_process():
    from host import children, host_probe

    before = set(children(os.getpid()))
    probe = host_probe(1, 2, per_proc=10_000)
    assert probe["ratio"] > 0
    assert set(children(os.getpid())) <= before


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".out", ".cache", "__pycache__"))
    p, result, _ = tiny_run("bfs_crawl", 0, cwd=str(tmp_path))
    assert p.returncode != 0 and result is None
    assert '"metrics"' not in p.stdout
