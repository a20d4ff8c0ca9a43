"""Toy-size self-test of the benchmark's own plumbing.

    python -m pytest perfbench/test_perfbench.py -q

Runs every workload at a few thousand rows with a one-second window (about
two minutes in all, one Spark JVM at a time) and checks that each metric named
in BENCHMARK.json is emitted with its unit, that spans nest with non-negative
self times, that the seed alone fixes the generated input, and that a wrong
answer counts as a failed operation.
"""

import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import run
from perfbench.trace import Tracer
from perfbench.workloads import (GlobalKernel, GroupedHighCard, SketchFamily,
                                 WORKLOADS)

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


@pytest.fixture
def toy(monkeypatch):
    monkeypatch.setattr(GlobalKernel, "rows_per_part", 5_000)
    monkeypatch.setattr(GroupedHighCard, "rows_per_part", 5_000)
    monkeypatch.setattr(SketchFamily, "source_rows", 4_000)


def _run(capsys, workload, trace, seed=7):
    assert run.main(["--workload", workload, "--seed", str(seed),
                     "--seconds", "1", "--trace", str(trace)]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    record = json.load(open(os.path.join(
        run.ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace{trace}.json")))
    return result, record


def _expect_metrics(result, specs):
    assert {name: m["unit"] for name, m in result["metrics"].items()} == \
        {s["name"]: s["unit"] for s in specs}
    for m in result["metrics"].values():
        assert isinstance(m["value"], float)


def test_spec_names_the_workloads_it_runs():
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_emits_every_layer_metric(toy, capsys, workload):
    result, record = _run(capsys, workload, trace=1)
    assert result["correct"] and result["failed"] == 0, record["failures"]
    _expect_metrics(result, SPEC["per_layer"])
    tracer = Tracer(record["run"])
    tracer.spans = record["spans"]
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        assert s["run"] == record["run"]
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
        assert tracer.self_time(s) >= 0.0
    # the layer spans of the traced job cover its wall time
    job = tracer.find("job.traced")
    assert tracer.self_time(job) < 0.05 * (job["end"] - job["start"]) + 0.01


def test_wrong_answer_counts_as_failed_operation(toy, capsys, monkeypatch):
    real_op = GlobalKernel.op

    def wrong_op(self):
        rows = [r.asDict() for r in real_op(self)]
        rows[0]["q50"] = rows[0]["q50"] * 2 + 1
        return rows

    monkeypatch.setattr(GlobalKernel, "op", wrong_op)
    result, record = _run(capsys, "global_kernel", trace=0)
    _expect_metrics(result, SPEC["end_to_end"])
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 2


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seed_fixes_the_input(toy, tmp_path, workload):
    wl = WORKLOADS[workload]()
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        wl.generate(str(tmp_path / name), seed)
    a, b, c = (pq.read_table(str(tmp_path / n)) for n in "abc")
    assert a.equals(b)
    assert not a.equals(c)


def test_self_time_subtracts_children():
    t = Tracer("t")
    with t.span("root") as root:
        with t.span("child"):
            pass
        with t.span("child"):
            pass
    kids = t.children(root["id"])
    assert len(kids) == 2 and all(k["parent"] == root["id"] for k in kids)
    covered = sum(k["end"] - k["start"] for k in kids)
    assert t.self_time(root) == pytest.approx(
        root["end"] - root["start"] - covered, abs=1e-9)
    assert t.total("child") == pytest.approx(covered)
