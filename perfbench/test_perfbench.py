"""Tests of the benchmark itself: python3 -m pytest perfbench -q"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import ops  # noqa: E402
import run  # noqa: E402


def test_one_seed_yields_one_op_sequence():
    def cycles(seed, stream=0):
        return list(itertools.islice(ops.kv_write_cycles(seed, stream), 20))

    assert cycles(7) == cycles(7) and cycles(7) != cycles(8)
    assert cycles(7) != cycles(7, stream=1)
    assert ops.batch_readback_keys(7) == ops.batch_readback_keys(7) != ops.batch_readback_keys(8)


def test_write_cycles_read_back_their_own_writes():
    for cycle in itertools.islice(ops.kv_write_cycles(3), 10):
        written = set(cycle["puts"]) | set(cycle["increments"])
        assert len(written) == ops.PUTS_PER_BATCH + ops.INCREMENTS_PER_BATCH
        assert all(0 <= k < datagen.N_ORDERS for k in written)
        assert len(cycle["gets"]) == ops.GETS_PER_CYCLE and set(cycle["gets"]) <= written
    groups = ops.batch_readback_keys(3)
    assert len(groups) == ops.READBACKS_PER_PASS
    assert all(len(g) == ops.MULTIGET_KEYS for g in groups)
    assert len({k for g in groups for k in g}) == ops.MULTIGET_KEYS * ops.READBACKS_PER_PASS


def test_one_seed_yields_one_dataset(tmp_path):
    a = datagen.generate(str(tmp_path / "a"), 5)
    b = datagen.generate(str(tmp_path / "b"), 5)
    for name in a:
        assert a[name].equals(b[name]), name
    assert a["orders"].num_rows == datagen.N_ORDERS
    assert 250_000 < a["lineitem"].num_rows < 350_000
    prefixes = {ops.rowkey(k)[:2] for k in (0, datagen.N_ORDERS - 1)}
    assert prefixes == {"00", "14"}
    assert datagen.generate(str(tmp_path / "c"), 5, orders_only=True)["orders"].equals(a["orders"])


def test_tail_is_highest_percentile_with_ten_beyond():
    assert run.tail([1.0] * 10) is None
    xs = [float(i) for i in range(40)]
    value, pct = run.tail(xs)
    assert sum(x > value for x in xs) == 10
    assert value == 29.0 and pct == pytest.approx(100 * 29 / 39)


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def test_declared_metrics_match_benchmark_json():
    e2e, layers = _declared()
    assert list(run.END_TO_END) == list(e2e)
    assert list(run.PER_LAYER) == list(layers)


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_short_run_emits_every_metric_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = _declared()[trace]
    # every workload reports every declared metric
    assert set(result["metrics"]) == set(declared)
    for name, m in result["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"] == declared[name], name
        assert isinstance(m["value"], (int, float)) and not isinstance(m["value"], bool)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "kv_write", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
