"""Tests of the benchmark itself: ``python -m pytest perfbench -q``.

They are not part of the engine's test suite. The end-to-end ones start
Spark and take about a minute each.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pyarrow as pa
import pytest

from perfbench.trace import Tracer
from perfbench.workloads import same_frame, table_hash, union_find_labels

ROOT = Path(__file__).resolve().parent.parent


def _bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _git_status() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain", "--ignored=no"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout


def test_union_find_labels_min_id_per_component():
    assert union_find_labels([(5, 3), (3, 9), (7, 8)]) == {3: 3, 5: 3, 9: 3, 7: 7, 8: 7}
    assert union_find_labels([]) == {}


def test_table_hash_ignores_row_and_column_order():
    a = table_hash(pa.table({"b": [1, 3], "a": [2.5, None]}))
    assert a == table_hash(pa.table({"a": [None, 2.5], "b": [3, 1]}))
    assert a != table_hash(pa.table({"a": [2.5, None], "b": [1, 4]}))


def test_table_hash_tells_null_from_nan_and_int_from_float():
    def one(values, type_):
        return table_hash(pa.table({"a": pa.array(values, type_)}))

    assert one([None], pa.float64()) != one([float("nan")], pa.float64())
    assert one([1], pa.int64()) != one([1.0], pa.float64())
    assert one([1], pa.int32()) == one([1], pa.int64())
    assert one([1], pa.int64()) == one([1], pa.decimal128(38, 0))


def test_same_frame_ignores_row_and_column_order_only():
    a = pd.DataFrame({"k": [2, 1], "v": ["x", None]})
    assert same_frame(a, pd.DataFrame({"v": [None, "x"], "k": [1, 2]}))
    assert not same_frame(a, pd.DataFrame({"k": [1, 2], "v": ["x", None]}))
    assert not same_frame(a, a.iloc[:1])


def test_install_wraps_every_rebinding_and_uninstall_restores():
    import async_pipes_spark.functions.dedup as dedup
    import async_pipes_spark.session as session
    import async_pipes_spark.sources.ivm as ivm

    calls = []
    sc = SimpleNamespace(
        setJobGroup=lambda group, desc: calls.append(group),
        setLocalProperty=lambda key, value: None,
    )
    tracer = Tracer(SimpleNamespace(sparkContext=sc), enabled=True)
    pin = session.pin
    assert dedup._pin is pin and ivm._pin is pin
    tracer.install()
    try:
        assert session.pin is not pin
        assert dedup._pin is session.pin and ivm._pin is session.pin
        assert session.pin.__wrapped__ is pin
    finally:
        tracer.uninstall()
    assert session.pin is pin and dedup._pin is pin and ivm._pin is pin


def test_span_self_time_excludes_children():
    sc = SimpleNamespace(setJobGroup=lambda g, d: None, setLocalProperty=lambda k, v: None)
    tracer = Tracer(SimpleNamespace(sparkContext=sc), enabled=True)
    with tracer.span("op"):
        with tracer.span("child"):
            pass
    child, op = tracer.spans
    assert child["parent"] == op["id"]
    assert op["self_s"] == pytest.approx(op["wall_s"] - child["wall_s"])


def test_exits_non_zero_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    r = _bench(tmp_path, "--workload", "pipes_batch", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert r.returncode != 0
    assert r.stdout == ""


@pytest.mark.skipif(not (ROOT / ".git").exists(), reason="needs a git checkout")
@pytest.mark.parametrize("workload", ["pipes_batch", "lake_ivm", "corpus_dedup"])
def test_traced_run_is_correct_attributed_and_leaves_tree_clean(workload):
    before = _git_status()
    r = _bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1")
    assert r.returncode == 0, r.stderr[-2000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    # the layers' self times cover all but a tenth of the operation wall
    assert result["metrics"]["trace.unattributed_share"]["value"] < 0.1
    assert _git_status() == before
    assert not (ROOT / ".perfbench_tmp").exists()


def test_untraced_run_prints_every_end_to_end_metric():
    r = _bench(ROOT, "--workload", "corpus_dedup", "--seed", "4", "--seconds", "1", "--trace", "0")
    assert r.returncode == 0, r.stderr[-2000:]
    details, result = (json.loads(line) for line in r.stdout.strip().splitlines()[-2:])
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert details["bench_only_caches"] == "off"
