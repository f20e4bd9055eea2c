"""Tests for the benchmark's own code.  No Spark session is started:
the session, the operators and the probes are replaced by fakes.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import types

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import procs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from fiona_spark import codec  # noqa: E402

CANNED = os.path.join(HERE, "testdata", "eventlog.jsonl")


def test_parse_event_log_sums_only_the_window_group():
    with open(CANNED) as f:
        tot = tracing.parse_event_log(f, run.GROUP)
    assert tot == {"scan_bytes": 4e6, "tasks": 2, "cpu_ns": 3e9, "gc_ms": 100,
                   "shuffle_write_bytes": 4e6, "to_python_bytes": 4e6,
                   "from_python_bytes": 5e5, "python_ms": 2000}
    assert tracing.spark_layer_metrics(tot, passes=2) == pytest.approx({
        "spark.scan_mb": 2.0, "spark.to_python_mb": 2.0,
        "spark.from_python_mb": 0.25, "spark.python_s": 1.0,
        "spark.task_cpu_s": 1.5, "spark.gc_s": 0.05,
        "spark.shuffle_write_mb": 2.0})


def test_spans_nest_and_give_window_medians():
    t = tracing.Tracer(True)
    for pid, phase in enumerate(("warmup", "window", "window", "window")):
        with t.span("pass", pass_id=pid, phase=phase):
            for part in ("prep", "exec"):
                with t.span(f"pip_join.{part}", pass_id=pid, phase=phase):
                    pass
    assert [s["parent"] for s in t.spans[:3]] == [None, 0, 0]
    assert len(t.durations("pip_join.exec")) == 4
    assert len(t.durations("pip_join.exec", phase="window")) == 3
    assert all(s["end"] >= s["start"] for s in t.spans)
    assert set(run.op_medians(t, [("pip_join", None)])) == {
        "pip_join.prep_s", "pip_join.exec_s"}


def test_tracer_off_records_nothing():
    t = tracing.Tracer(False)
    with t.span("pass", pass_id=0):
        with t.span("pip_join.prep"):
            pass
    assert t.spans == []


def test_covering_count_matches_enumeration():
    rng = np.random.default_rng(0)
    res, n = 4, 16
    x0 = rng.uniform(-185.0, 180.0, 200)
    y0 = rng.uniform(-90.0, 85.0, 200)
    x1, y1 = x0 + rng.uniform(0.0, 60.0, 200), y0 + rng.uniform(0.0, 20.0, 200)
    total = 0
    for a, b, c, d in zip(x0, y0, x1, y1):
        cols = {int(np.floor((x + 180.0) / 360.0 * n)) % n
                for x in np.arange(a, c + 1e-9, 0.01)} | {
                    int(np.floor((c + 180.0) / 360.0 * n)) % n}
        rows = {min(max(int(np.floor((y + 90.0) / 180.0 * n)), 0), n - 1)
                for y in (b, d)}
        total += len(cols) * (max(rows) - min(rows) + 1)
    assert checks.covering_count(x0, y0, x1, y1, res) == total


def test_covering_cells_agree_with_the_count():
    boxes = [(-181.0, -10.0, -170.0, 3.0), (170.0, 80.0, 190.0, 90.0),
             (0.1, 0.1, 0.2, 0.2), (-180.0, -90.0, 180.0, 90.0)]
    for box in boxes:
        cells = checks.covering_cells(box, 5)
        assert len(cells) == len(set(cells)) == checks.covering_count(
            *([v] for v in box), 5)


def test_mismatches_reports_counts_and_sampled_rows():
    want = {"rows": 3, "sample": {5: [(1, "z1"), (2, "z2")]}}
    good = run.Output(3, 9, None, {5: [(1, "z1"), (2, "z2")]})
    assert checks.mismatches("knn_join", good, want, sampled=True) == []
    bad = run.Output(4, 9, None, {5: [(1, "z2"), (2, "z1")]})
    assert len(checks.mismatches("knn_join", bad, want, sampled=True)) == 2
    assert len(checks.mismatches("knn_join", bad, want, sampled=False)) == 1
    floats = {"sample": {1: [(0, 0, 1.0)]}}
    near = run.Output(1, 0, None, {1: [(0, 0, 1.0 + 1e-12)]})
    assert checks.mismatches("block_tiles", near, floats, sampled=True) == []


def _square_zones():
    import pyarrow as pa
    xs = [[0.0, 2.0, 2.0, 0.0], [179.0, 181.0, 181.0, 179.0], [5.0, 6.0, 6.0, 5.0]]
    ys = [[0.0, 0.0, 2.0, 2.0], [0.0, 0.0, 2.0, 2.0], [5.0, 5.0, 6.0, 6.0]]
    return pa.table({
        "zone_id": ["z0", "z1", "z2"], "xs": xs, "ys": ys,
        "xmin": [min(x) for x in xs], "ymin": [min(y) for y in ys],
        "xmax": [max(x) for x in xs], "ymax": [max(y) for y in ys],
        "clng": [1.0, 180.0, 5.5], "clat": [1.0, 1.0, 5.5]})


def test_pip_reference_wraps_the_antimeridian():
    got = checks.pip_reference(np.array([1.0, -179.5, 3.0]),
                               np.array([1.0, 1.0, 3.0]), _square_zones())
    assert got == [{"z0"}, {"z1"}, set()]


def test_knn_reference_breaks_ties_by_zone_id():
    zones = _square_zones()
    # (3.25, 3.25) is equidistant from z0 (1, 1) and z2 (5.5, 5.5)
    assert checks.knn_reference(np.array([3.25]), np.array([3.25]), zones, 2) == [
        ["z0", "z2"]]


def test_generator_is_seeded_and_its_payloads_decode():
    a = gen.payloads(np.random.default_rng(5), 60)
    b = gen.payloads(np.random.default_rng(5), 60)
    assert a[0]["bytes"] == b[0]["bytes"]
    cols, truth = a
    assert truth
    for i, img in truth.items():
        got = codec.decode(cols["bytes"][i], cols["fmt"][i],
                           int(cols["w"][i]), int(cols["h"][i]))
        assert np.array_equal(got, img)
    for i in range(60):
        img = codec.decode(cols["bytes"][i], cols["fmt"][i],
                           int(cols["w"][i]), int(cols["h"][i]))
        assert cols["phash"][i] == codec.phash64(img)
    zones = gen.zones(np.random.default_rng(1), 40)
    assert zones.num_rows == 40 and max(zones["xmax"].to_pylist()) > 180.0


def test_a_process_exiting_with_live_threads_is_still_waited_for(monkeypatch):
    states = {1: {"State": "S (sleeping)", "Threads": "40"},
              2: {"State": "Z (zombie)", "Threads": "3"},
              3: {"State": "Z (zombie)", "Threads": "1"},
              4: {}}
    monkeypatch.setattr(procs, "_status", states.get)
    assert [procs._alive(p) for p in states] == [True, True, False, False]


@pytest.fixture
def fake_run(monkeypatch, tmp_path):
    """``run.run`` with a fake session, operators, probes and sampler."""
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    monkeypatch.setattr(run, "prepare_env", lambda tmp: None)
    monkeypatch.setattr(run, "host_info", lambda: {
        "nproc": 1, "mem_total_gb": 1.0, "preflight": {"load1": 0.0},
        "calibration": {}})
    monkeypatch.setitem(gen.SIZES_BY_WORKLOAD, "spatial_join", (200, 30, False))
    seen = {"confs": [], "groups": [], "tracers": [], "pass_groups": []}

    class FakeSpark:
        catalog = types.SimpleNamespace(clearCache=lambda: None)
        sparkContext = types.SimpleNamespace(
            setJobGroup=lambda g, d: seen["groups"].append(g))

        def stop(self):
            pass

    def open_session(man, extra_conf=None):
        seen["confs"].append(extra_conf)
        if extra_conf:
            log_dir = extra_conf["spark.eventLog.dir"][len("file://"):]
            shutil.copy(CANNED, os.path.join(log_dir, "local-1"))
        return FakeSpark(), "img", "zn", 0.5, 1.5

    class Sampler:
        def start(self):
            return self

        def stop(self):
            return {"total": 100.0, "jvm": 60.0, "workers": 30.0}

    class Tracer(tracing.Tracer):
        def __init__(self, enabled):
            super().__init__(enabled)
            seen["tracers"].append(self)

    monkeypatch.setattr(run, "open_session", open_session)
    monkeypatch.setattr(run.tracing, "Tracer", Tracer)
    monkeypatch.setattr(run.procs, "RssSampler", Sampler)
    monkeypatch.setattr(run.procs, "stop_spark", lambda spark: None)
    monkeypatch.setattr(run.subprocess, "run", lambda *a, **k: types.SimpleNamespace(
        returncode=0, stdout=json.dumps({"setup_s": 1.25, "first_pass_s": 2.5,
                                         "attempted": 2, "failed": 0, "errors": []})))
    monkeypatch.setattr(run, "operator_mix", lambda w, img, zn: [
        ("pip_join", lambda: "df"), ("knn_join", lambda: "df")])

    def fingerprint(df, ids=(), cols=None):
        # the job group active when each operator's action runs
        seen["pass_groups"].append(seen["groups"][-1] if seen["groups"] else None)
        return run.Output(7, 1, None, {0: [("z000001",)]})

    monkeypatch.setattr(run, "fingerprint", fingerprint)
    monkeypatch.setattr(run.checks, "expected", lambda *a: ([0], {
        "pip_join": {"sample": {0: [("z000001",)]}}, "knn_join": {"rows": 7}}))
    monkeypatch.setattr(run, "pip_work", lambda img, zn: {
        "res": 7, "zones.covering_rows": 90.0, "candidates": 400.0})

    def go(trace: int):
        args = types.SimpleNamespace(workload="spatial_join", seed=3,
                                     seconds=0.01, trace=trace)
        return run.run(args)
    go.seen = seen
    return go


def test_a_fresh_session_that_times_out_counts_as_failed(fake_run, monkeypatch):
    def timeout(*a, **k):
        raise run.subprocess.TimeoutExpired("python3", run.FRESH_TIMEOUT_S)
    monkeypatch.setattr(run.subprocess, "run", timeout)
    result, record = fake_run(0)
    assert result["failed"] == run.SETUP_SAMPLES - 1 and not result["correct"]
    assert "TimeoutExpired" in record["errors"][0]
    assert result["metrics"]["setup_s"]["value"] == 1.5


def test_untraced_run_enables_no_event_log_and_records_no_span(fake_run):
    result, record = fake_run(0)
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert result["metrics"]["setup_s"]["value"] == 1.25
    assert result["metrics"]["first_pass_s"]["value"] == 2.5
    assert fake_run.seen["confs"] == [None]
    assert fake_run.seen["groups"] == []
    assert all(t.spans == [] for t in fake_run.seen["tracers"])
    assert "spans" not in record


def test_traced_run_reads_its_event_log_and_reports_every_layer(fake_run):
    result, record = fake_run(1)
    assert result["correct"], record["errors"]
    metrics = result["metrics"]
    assert set(metrics) == set(run.PER_LAYER)
    assert fake_run.seen["confs"][0] is None
    assert fake_run.seen["confs"][1]["spark.eventLog.enabled"] == "true"
    traced = record["traced_passes"]
    passes = len(traced["window"])
    n_ops = 2
    # the untraced passes, then the traced warm-up, carry no window group;
    # exactly the traced window's passes do
    groups = fake_run.seen["pass_groups"]
    assert groups.count(run.GROUP) == passes * n_ops
    assert groups[-passes * n_ops:] == [run.GROUP] * (passes * n_ops)
    assert len(traced["warmup"]) >= run.WARMUP_MIN_PASSES
    assert run.GROUP not in groups[:-passes * n_ops]
    assert metrics["spark.scan_mb"]["value"] == pytest.approx(4.0 / passes)
    assert metrics["zones.covering_rows"]["value"] == 90.0
    assert metrics["pip.candidates_per_image"]["value"] == 2.0
    assert metrics["jvm.rss_mb"]["value"] == 60.0
    assert metrics["geom.pip_edge_tests_per_s"]["value"] > 0
    assert {s["name"] for s in record["spans"]} >= {
        "pass", "pip_join.prep", "pip_join.exec", "cells.cell_id"}
