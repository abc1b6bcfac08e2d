"""Fast checks of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark once per workload and trace mode (under a
minute each); deselect them with ``-k 'not smoke'``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import datagen, run  # noqa: E402
from perfbench.trace import Span, beyond, median, percentile, self_times  # noqa: E402


def test_percentile_nearest_rank():
    xs = [float(i) for i in range(1, 201)]
    assert percentile(xs, 50) == 100.0
    assert percentile(xs, 95) == 190.0
    assert percentile(list(reversed(xs)), 95) == 190.0
    assert percentile([3.0], 95) == 3.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_ten_samples_beyond_p95():
    assert beyond(200, 95) == 10
    assert beyond(199, 95) == 9
    assert beyond(250, 95) == 12
    # the stream_notify sizing at the benchmark's run length
    from perfbench.workloads import PER_TICK, TICK_S

    cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    n = int(round(cfg["run_seconds"] / TICK_S)) * PER_TICK
    assert beyond(n, 95) >= 10


def test_self_time_on_synthetic_tree():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),   # overlaps a: covered 1..6
        Span("c", 8.0, 12.0, parent=0),  # clipped to the parent: 8..10
        Span("a.x", 1.5, 2.0, parent=1),
    ]
    got = self_times(spans)
    assert got == pytest.approx([10.0 - 5.0 - 2.0, 3.0 - 0.5, 3.0, 4.0, 0.5])


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_batch_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    rows = datagen.make_batch_tables(a, 7, 0.001)
    datagen.make_batch_tables(b, 7, 0.001)
    datagen.make_batch_tables(c, 8, 0.001)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert rows["lineitem"] > rows["orders"] > 0
    assert sorted(os.listdir(a)) == sorted(
        f"{t}.parquet" for t in ("region", "nation", "customer", "supplier",
                                 "part", "orders", "lineitem", "events",
                                 "documents", "embeddings"))


def test_notify_generator_is_deterministic():
    s1 = datagen.notify_schedule(5, 2000, 5, 40)
    assert s1 == datagen.notify_schedule(5, 2000, 5, 40)
    assert s1 != datagen.notify_schedule(6, 2000, 5, 40)
    values = [c.value for tick in s1 for c in tick]
    assert len(values) == len(set(values)) == 200
    assert all(len(tick) == 5 for tick in s1)


def test_metric_names_match_benchmark_json():
    from perfbench.workloads import WORKLOADS

    cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert [m["name"] for m in cfg["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in cfg["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in cfg["workloads"]] == list(WORKLOADS)
    assert cfg["command"] == ["python3", "perfbench/run.py"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert "{" not in proc.stdout


def test_unknown_workload_deletes_nothing(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    (tmp_path / run.PACKAGE).mkdir()
    (tmp_path / run.PACKAGE / "__init__.py").write_text("")
    before = sorted(p.name for p in tmp_path.iterdir())
    for name in ("..", "../..", "nope"):
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", name,
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=tmp_path, capture_output=True, text=True, timeout=60)
        assert proc.returncode == 2, proc.stderr
        assert "unknown workload" in proc.stderr
        assert sorted(p.name for p in tmp_path.iterdir()) == before
        assert (tmp_path / "perfbench" / "run.py").exists()


@pytest.mark.parametrize("workload", ["batch", "stream_notify"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, proc.stdout[-3000:]
    names = run.PER_LAYER if trace else run.END_TO_END
    assert list(out["metrics"]) == list(names)
    assert "seed 11" in proc.stdout
