"""Unit tests for the bench tooling (no Spark session needed).

tools/bench_compare.py is the round-over-round adjudication path the
judge and the builder both read; round 11 added host-drift
normalization (divide every ratio by the fixed-CPU calibration ratio),
and arithmetic in a report tool deserves the same pinning as an
operator — a wrong normalization would mis-adjudicate every future
round at once.
"""

from __future__ import annotations

import io
import json
import os
import sys


def _run_compare(tmp_path, a: dict, b: dict) -> str:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import importlib

    import tools.bench_compare as bc

    importlib.reload(bc)
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    argv, out = sys.argv, io.StringIO()
    stdout = sys.stdout
    try:
        sys.argv = ["bench_compare.py", str(pa), str(pb)]
        sys.stdout = out
        bc.main()
    finally:
        sys.argv = argv
        sys.stdout = stdout
    return out.getvalue()


def test_drift_normalized_ratios(tmp_path):
    """A query whose raw ratio exactly equals the host drift must print
    1.00x normalized; totals line carries the drift-normalized number;
    the drift factor itself is stated."""
    a = {"queries": {"q1": 2.0, "q2": 4.0}, "calibration_s": 1.0}
    b = {"queries": {"q1": 3.0, "q2": 4.0}, "calibration_s": 1.5}
    out = _run_compare(tmp_path, a, b)
    assert "drift 1.50x" in out
    # q1: raw 1.50x, normalized 1.00x (pure host drift)
    q1 = next(line for line in out.splitlines() if line.startswith("q1"))
    assert "1.50x" in q1 and "1.00x" in q1
    # q2: raw 1.00x, normalized 0.67x (genuinely faster than drift)
    q2 = next(line for line in out.splitlines() if line.startswith("q2"))
    assert "1.00x" in q2 and "0.67x" in q2
    assert "drift-normalized 0.78x" in out  # (7/6) / 1.5


def test_no_calibration_falls_back_to_raw(tmp_path):
    """Artifacts without calibration_s (every round before r11) keep
    the raw-ratio report — no drift line, no norm column."""
    a = {"queries": {"q1": 2.0}}
    b = {"queries": {"q1": 3.0}}
    out = _run_compare(tmp_path, a, b)
    assert "drift" not in out
    assert "1.50x" in out


class _NoopDF:
    """Stands in for a DataFrame: records the noop-sink run."""

    def __init__(self, log: list, name: str):
        self.log, self.name = log, name

    @property
    def write(self):
        return self

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        self.log.append(self.name)


def test_prebuild_failure_is_fatal_and_named():
    """A stored-index build that fails before the timed run must stop
    the bench (non-zero exit) and name the query; it must never move
    the build silently into the timed row."""
    import pytest

    import bench

    ran: list = []

    def broken(spark, sf_dir):
        raise RuntimeError("index build crashed")

    qs = {
        "ok_index": lambda spark, sf_dir: _NoopDF(ran, "ok_index"),
        "broken_index": broken,
    }
    bench.prebuild(None, qs, "/sf", ["ok_index"])
    assert ran == ["ok_index"]
    with pytest.raises(SystemExit) as exc:
        bench.prebuild(None, qs, "/sf", ["ok_index", "broken_index"])
    assert exc.value.code not in (0, None)
    assert "broken_index" in str(exc.value.code)
    assert "index build crashed" in str(exc.value.code)
    with pytest.raises(SystemExit) as exc:
        bench.prebuild(None, qs, "/sf", ["missing_index"])
    assert "missing_index" in str(exc.value.code)


def test_warm_up_failure_is_reported_by_name(capsys):
    import bench

    def fail():
        raise ValueError("cold codegen path")

    bench._warm("sim_ivf_topk @ /sf0.001", fail)
    err = capsys.readouterr().err
    assert "sim_ivf_topk @ /sf0.001" in err and "cold codegen path" in err


def test_perfbench_traced_run_spans_resolve():
    """The benchmark's traced run wraps 10 engine attributes
    (``perfbench/run.py::Run.install_spans``) and reads
    ``storage.snapshot_dir(current_version())`` after every write; a
    rename of any of them fails only that run, which no other test
    executes.  Install the spans on a stub run holding a real tracer:
    all 10 wraps resolve and replace the attribute, and ``unwrap_all``
    restores every original."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    saved_path, saved_mods = list(sys.path), set(sys.modules)
    spec = importlib.util.spec_from_file_location(
        "perfbench_run_under_test", os.path.join(root, "perfbench", "run.py")
    )
    run = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(run)
    finally:
        sys.path[:] = saved_path
        # drop perfbench's own top-level modules (batch, kv, ops, ...)
        bench_dir = os.path.join(root, "perfbench")
        for name in set(sys.modules) - saved_mods:
            if os.path.dirname(getattr(sys.modules[name], "__file__", None) or "") == bench_dir:
                del sys.modules[name]

    from hpaste_spark.sources.storage import ParquetStorage

    class Stub:
        tracer = run.Tracer()

    stub, patched = Stub(), []
    try:
        run.Run.install_spans(stub)
        patched = list(stub.tracer._patched)  # unwrap_all clears the list
        assert len(patched) == 10
        for owner, attr, orig in patched:
            assert getattr(owner, attr) is not orig
            assert getattr(owner, attr).__wrapped__ is orig
    finally:
        stub.tracer.unwrap_all()
    assert len(patched) == 10
    for owner, attr, orig in patched:
        assert getattr(owner, attr) is orig
    for attr in ("snapshot_dir", "current_version"):
        assert callable(getattr(ParquetStorage, attr))
