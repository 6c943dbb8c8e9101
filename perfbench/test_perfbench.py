"""The benchmark's own tests: seeded generators, the declared metric set,
a tiny run of every workload, the refusal to run without the engine, and
that no run, finished or stopped, leaves a process behind.

    python3 -m pytest perfbench -q

The smoke runs start Spark (about a minute each on a 4-core host).
"""

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

import gen
import procs
import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_query_pool_is_seeded():
    assert gen.query_pool(7) == gen.query_pool(7)
    assert gen.query_pool(7) != gen.query_pool(8)
    pool = gen.query_pool(7)
    assert tuple(pool) == gen.CLASSES
    assert all(len(v) == 6 for v in pool.values())


def test_update_stream_is_seeded():
    def batches(seed):
        s = gen.UpdateStream(seed, 500, gen.HOT)
        return [s.next_batch(g) for g in range(3)]

    assert batches(3) == batches(3)
    assert batches(3) != batches(4)
    for b in batches(3):
        rows = [i for i, _ in b]
        assert rows == sorted(set(rows)) and all(0 <= i < 500 for i in rows)


def test_update_stream_recommits_the_hot_set():
    s = gen.UpdateStream(1, 1000, gen.HOT)
    batches = [s.next_batch(g) for g in range(gen.BATCHES_PER_EXPUNGE)]
    hot = [i for i, _ in batches[0]]
    assert len(hot) == gen.HOT
    for g, b in enumerate(batches):
        assert [i for i, _ in b] == hot
        assert all(f"commit{g}" in text for _, text in b)
    # a corpus smaller than the hot set is re-committed whole
    assert len(gen.UpdateStream(1, 50, gen.HOT).next_batch(0)) == 50


def test_declared_metrics_match_spec():
    spec = _spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(
        m["bound"] for m in spec["end_to_end"])


def _bench(*args, cwd=ROOT, timeout=400):
    # processes the run leaves behind are re-parented to this one, where
    # _left_behind sees them
    procs.become_subreaper()
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


def _left_behind():
    left = procs._descendants()
    procs.stop_tree(grace=1, timeout=10)
    return left


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run(workload, trace):
    p = _bench("--workload", workload, "--seed", "1", "--seconds", "1",
               "--trace", str(trace), "--tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    assert _left_behind() == []
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["attempted"] >= 1
    spec = _spec()
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    for name, m in last["metrics"].items():
        assert isinstance(m["value"], float), name
        if not trace:
            assert m["value"] > 0, name
        # every metric is also printed by name and unit
        assert f"{name} " in p.stdout and m["unit"] in p.stdout


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "search", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=tmp_path, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_stopped_run_leaves_no_process():
    procs.become_subreaper()
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "search",
         "--seed", "1", "--seconds", "30", "--trace", "0", "--tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    time.sleep(20)  # Spark and its Python workers are up by now
    p.send_signal(signal.SIGTERM)
    out, _ = p.communicate(timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in out
    assert _left_behind() == []
