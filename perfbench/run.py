#!/usr/bin/env python3
"""fiona_spark benchmark: closed-loop workloads driven through the public
operator API, checked against references that do not use the code under
test.

Run from the repository root:

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 10 --trace 0

Workloads (README.md in this directory says why each was chosen):
  spatial_join    pip_join + knn_join(k=3) + with_covering_cells(res 9)
  payload_decode  block_tiles + decode_stats + verify_roundtrip

One client runs one action at a time on local[nproc].  Each run
generates its inputs from ``--seed``, times three set-ups and first
passes (two in fresh processes), runs untimed warm-up passes until the
pass time settles, then times a window of ``--seconds`` of steady
passes.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
prints the per-layer metrics of a separate traced session (spans, Spark
event log, kernel probes) and the tracing overhead.  The last stdout
line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402

import bench  # noqa: E402  (host fit: preflight_guard, calibrate_host)
import checks  # noqa: E402
import gen  # noqa: E402
import kernels  # noqa: E402
import procs  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = tuple(gen.SIZES_BY_WORKLOAD)
HEAP = "4g"                      # fixed driver heap (SPARK_GRAFT_DRIVER_MEM)
CORES = len(os.sched_getaffinity(0))
SETUP_SAMPLES = 3                # set-ups and first passes: 2 fresh processes + this one
WARMUP_MIN_PASSES = 5
WARMUP_MAX_PASSES = 10
WARMUP_MAX_S = 20.0
SETTLE = 0.05                    # warm-up ends when a pass is no >5% faster than the best before
MIN_WINDOW_PASSES = 3
DEADLINE_S = 150.0               # stop timing early rather than overrun 180 s
FRESH_TIMEOUT_S = 45.0           # per fresh-process set-up + first pass (~10 s)
GROUP = "perfbench-window"
BBOX = ("xmin", "ymin", "xmax", "ymax")
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {"images_per_s": "1/s", "first_pass_s": "s", "setup_s": "s",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "pip_join.prep_s": "s", "pip_join.exec_s": "s",
    "knn_join.prep_s": "s", "knn_join.exec_s": "s",
    "tile_assign.exec_s": "s",
    "block_tiles.exec_s": "s", "decode_stats.exec_s": "s",
    "verify_roundtrip.exec_s": "s",
    "zones.covering_rows": "count", "pip.candidates_per_image": "count",
    "pip.matches_per_image": "count",
    "cells.cell_id_ns": "ns", "cells.covering_rows_per_s": "1/s",
    "geom.pip_edge_tests_per_s": "1/s",
    "codec.batch_decode_mb_per_s": "MB/s", "codec.decode_us": "us",
    "codec.encode_us": "us", "codec.phash_us": "us",
    "spark.scan_mb": "MB", "spark.to_python_mb": "MB",
    "spark.from_python_mb": "MB", "spark.python_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "jvm.rss_mb": "MB", "workers.rss_mb": "MB",
    "trace.overhead_share": "share",
}


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return {"nproc": CORES, "mem_total_gb": round(mem_kb / 2**20, 1),
            "driver_heap": HEAP, "preflight": bench.preflight_guard(max_wait_sec=0),
            "calibration": bench.calibrate_host()}


def prepare_env(tmp: str) -> None:
    """Keep every file Spark, the JVM and the workers write under ``tmp``."""
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                      JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
                      SPARK_GRAFT_DRIVER_MEM=HEAP, SPARK_GRAFT_CPUS=str(CORES))
    tempfile.tempdir = None


def open_session(man: dict, extra_conf: dict | None = None):
    """Start (or restart) the session and open the inputs.  Returns
    (spark, images, zones, start_s, setup_s): start_s is the
    ``get_spark`` call, setup_s all of it."""
    t0 = time.perf_counter()
    from fiona_spark.session import get_spark

    spark = get_spark(cores=CORES, app="perfbench", extra_conf=extra_conf)
    start_s = time.perf_counter() - t0
    img = spark.read.parquet(man["images"])
    img.limit(1).collect()
    zn = None
    if man["zones"]:
        zn = spark.read.parquet(man["zones"])
        zn.limit(1).collect()
    return spark, img, zn, start_s, time.perf_counter() - t0


def fresh_session(spec_path: str) -> None:
    """One set-up and first pass in a fresh process (``--fresh-session``);
    prints their times and the pass's checks as JSON."""
    with open(spec_path, "rb") as f:
        spec = pickle.load(f)
    spark, img, zn, _start, setup_s = open_session(spec["inputs"])
    client = Client(spark, operator_mix(spec["workload"], img, zn),
                    tracing.Tracer(False), spec["sample_ids"], spec["want"])
    first = None
    try:
        first = client.run_pass("first")
    except Exception as exc:
        client.fail(f"first pass: {exc!r}")
    finally:
        procs.stop_spark(spark)
    print(json.dumps({"setup_s": setup_s, "first_pass_s": first,
                      "attempted": client.attempted, "failed": client.failed,
                      "errors": client.errors}))


def operator_mix(workload: str, img, zn) -> list:
    from fiona_spark.operators import images, spatial

    if workload == "payload_decode":
        return [("block_tiles", lambda: spatial.block_tiles(img, res=12, block=8)),
                ("decode_stats", lambda: images.decode_stats(img)),
                ("verify_roundtrip", lambda: images.verify_roundtrip(img))]
    return [("pip_join", lambda: spatial.pip_join(img, zn)),
            ("knn_join", lambda: spatial.knn_join(img, zn, k=3)),
            ("tile_assign", lambda: spatial.with_covering_cells(
                img.select("image_id", *BBOX), 9))]


class Output(NamedTuple):
    """What a pass keeps of one operator's output."""
    rows: int
    hash: int
    ok: int | None
    sample: dict


def fingerprint(df, sample_ids=(), sample_cols=None) -> Output:
    """Row count, order-free hash sum, ``ok`` count and, when asked, the
    rows of the sampled images, in one aggregate action."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)),
            F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2**31 - 1))),
            F.sum(F.col("ok").cast("long")) if "ok" in df.columns else F.lit(None),
            F.collect_list(F.when(F.col("image_id").isin(list(sample_ids)),
                                  F.struct(*sample_cols)))
            if sample_ids and sample_cols else F.lit(None)]
    rows, digest, ok, picked = df.agg(*aggs).first()
    sample: dict = {}
    for r in picked or ():
        sample.setdefault(int(r[0][3:]), []).append(tuple(r[1:]))
    return Output(rows, digest, ok, {i: sorted(v) for i, v in sample.items()})


class Client:
    """Closed-loop client: one action at a time.  Every output is
    checked against the expected counts and the hash of the operator's
    first output; the first pass also gathers the rows of the sampled
    images and compares them with the references."""

    def __init__(self, spark, mix, tracer, sample_ids, want):
        self.spark, self.mix, self.tracer = spark, mix, tracer
        self.sample_ids, self.want = sample_ids, want
        self.ref: dict = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.passes = 0

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:300])

    def run_pass(self, phase: str) -> float:
        pid, self.passes = self.passes, self.passes + 1
        ids = self.sample_ids if phase == "first" else ()
        t0 = time.perf_counter()
        ok = 0
        with self.tracer.span("pass", pass_id=pid, phase=phase):
            for name, build in self.mix:
                self.attempted += 1
                try:
                    with self.tracer.span(f"{name}.prep", pass_id=pid, phase=phase):
                        df = build()
                    with self.tracer.span(f"{name}.exec", pass_id=pid, phase=phase):
                        out = fingerprint(df, ids, checks.SAMPLE_COLS[name])
                except Exception as exc:  # counted, the loop goes on
                    self.fail(f"{name} pass {pid}: {exc!r}")
                    continue
                ok += 1
                bad = checks.mismatches(name, out, self.want[name], bool(ids))
                first = self.ref.setdefault(name, out)
                if (out.rows, out.hash, out.ok) != (first.rows, first.hash, first.ok):
                    bad.append(f"{name}: output differs from the first pass")
                if bad:
                    self.fail(f"{name} pass {pid}: {len(bad)} mismatches, first {bad[0]}")
            self.spark.catalog.clearCache()
        if not ok:
            raise RuntimeError("every operator of the pass failed")
        return time.perf_counter() - t0

    def measure(self, seconds: float, deadline: float, first: bool = True,
                on_window=None) -> dict:
        """First pass, warm-up until settled, then the timed window;
        ``on_window`` is called once, just before the window starts."""
        out = {"first": self.run_pass("first") if first else None, "warmup": []}
        warm = out["warmup"]
        while len(warm) < WARMUP_MAX_PASSES and sum(warm) < WARMUP_MAX_S:
            warm.append(self.run_pass("warmup"))
            if len(warm) >= WARMUP_MIN_PASSES and warm[-1] >= (1 - SETTLE) * min(warm[:-1]):
                break
        if on_window:
            on_window()
        window = out["window"] = []
        t0 = time.perf_counter()
        while (len(window) < MIN_WINDOW_PASSES or time.perf_counter() - t0 < seconds) \
                and (not window or time.perf_counter() < deadline):
            window.append(self.run_pass("window"))
        out["elapsed"] = time.perf_counter() - t0
        return out


def op_medians(tracer, mix) -> dict:
    """Median prep and exec span of each operator over the traced window."""
    return {f"{name}.{part}_s": statistics.median(
                tracer.durations(f"{name}.{part}", phase="window"))
            for name, _ in mix for part in ("prep", "exec")}


def pip_work(img, zn) -> dict:
    """Covering rows of the zone layer and PIP candidates per image at the
    resolution pip_join picks, counted in Spark from the public API."""
    from pyspark.sql import functions as F

    from fiona_spark.operators import spatial

    res = spatial.pip_res_for(zn)
    cov = (spatial.with_covering_cells(zn.select("zone_id", *BBOX), res)
           .groupBy("cell").count())
    rows = cov.agg(F.sum("count")).first()[0]
    cand = (spatial.with_point_cell(img.select("lng", "lat"), res)
            .join(cov, "cell").agg(F.sum("count")).first()[0]) or 0
    return {"res": res, "zones.covering_rows": float(rows), "candidates": float(cand)}


def run_fresh_session(spec_path: str) -> dict:
    """``fresh_session`` in a child process; a crash, a timeout or an
    unreadable result counts as one failed operation.  Returns once the
    child's JVM, which this process inherits as a subreaper, has ended
    too, so it cannot overlap the next set-up."""
    try:
        out = subprocess.run([sys.executable, os.path.abspath(__file__),
                              "--fresh-session", spec_path],
                             capture_output=True, text=True,
                             timeout=FRESH_TIMEOUT_S)
        if out.returncode:
            raise RuntimeError(f"exit {out.returncode}: {out.stderr[-200:]}")
        return json.loads(out.stdout.strip().splitlines()[-1])
    except (subprocess.TimeoutExpired, RuntimeError, ValueError, IndexError) as exc:
        return {"attempted": 1, "failed": 1, "errors": [f"fresh session: {exc!r}"[:300]]}
    finally:
        procs.wait_descendants()


def run(args) -> tuple[dict, dict]:
    t_run = time.perf_counter()
    deadline = t_run + DEADLINE_S
    work = os.path.join(WORK, f"run-{os.getpid()}")
    prepare_env(os.path.join(work, "tmp"))
    host = host_info()
    man, cols, zones_tbl, truth = gen.generate(
        args.workload, args.seed, os.path.join(work, "data"),
        n_files=max(CORES, 4))
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host, "inputs": man, "phase_end_s": {}}

    def mark(phase: str) -> None:
        record["phase_end_s"][phase] = time.perf_counter() - t_run
    mark("generate")

    ids, want = checks.expected(args.workload, cols, zones_tbl, truth,
                                np.random.default_rng([args.seed, 7]))
    spec = {"inputs": man, "workload": args.workload, "want": want,
            "sample_ids": cols["image_id"][ids].tolist()}
    spec_path = os.path.join(work, "spec.pickle")
    with open(spec_path, "wb") as f:
        pickle.dump(spec, f)
    fresh = [run_fresh_session(spec_path)
             for _ in range(0 if args.trace else SETUP_SAMPLES - 1)]
    mark("fresh_sessions")

    client = Client(None, [], tracing.Tracer(False), spec["sample_ids"], want)
    for f in fresh:
        client.attempted += f["attempted"]
        client.failed += f["failed"]
        client.errors += f["errors"]
    tracer = tracing.Tracer(args.trace == 1)
    log_dir = os.path.join(work, "eventlog")
    metrics: dict = {}
    sampler = procs.RssSampler().start()
    spark = None
    try:
        spark, img, zn, start_s, setup_s = open_session(man)
        mark("setup")
        client.spark, client.mix = spark, operator_mix(args.workload, img, zn)
        plain = record["passes"] = client.measure(args.seconds, deadline)
        mark("measure")
        if args.trace:
            # same JVM, a new context that writes the event log
            spark.stop()
            os.makedirs(log_dir)
            spark, img, zn, _start, _setup = open_session(
                man, tracing.event_log_conf(log_dir))
            client.spark = spark
            client.mix = operator_mix(args.workload, img, zn)
            client.tracer = tracer
            sc = spark.sparkContext
            # only the window's jobs carry GROUP, so the event-log totals
            # divided by the window's pass count are per-pass figures
            sc.setJobGroup("perfbench-warmup", "perfbench-warmup")
            traced = record["traced_passes"] = client.measure(
                args.seconds, deadline + args.seconds + WARMUP_MAX_S, first=False,
                on_window=lambda: sc.setJobGroup(GROUP, GROUP))
            sc.setJobGroup("perfbench-probes", "perfbench-probes")
            metrics.update(op_medians(tracer, client.mix))
            metrics["trace.overhead_share"] = (statistics.median(traced["window"])
                                               / statistics.median(plain["window"]) - 1.0)
            metrics["session.start_s"] = start_s
            res = 9
            if zn is not None:
                counts = pip_work(img, zn)
                res = counts["res"]
                metrics["zones.covering_rows"] = counts["zones.covering_rows"]
                metrics["pip.candidates_per_image"] = counts["candidates"] / man["n_images"]
                metrics["pip.matches_per_image"] = client.ref["pip_join"].rows / man["n_images"]
            metrics.update(kernels.spatial_probes(tracer, cols, zones_tbl, res))
            metrics.update(kernels.codec_probes(tracer, cols if "bytes" in cols else None))
        else:
            setups = [f["setup_s"] for f in fresh if "setup_s" in f] + [setup_s]
            firsts = [f["first_pass_s"] for f in fresh if f.get("first_pass_s")]
            record["setups"], record["first_passes"] = setups, firsts + [plain["first"]]
            metrics = {
                "images_per_s": man["n_images"] / statistics.median(plain["window"]),
                "first_pass_s": statistics.median(record["first_passes"]),
                "setup_s": statistics.median(setups),
            }
        mark("trace")
    except Exception as exc:
        client.fail(f"run aborted: {exc!r}")
    finally:
        if spark is not None:
            procs.stop_spark(spark)
        procs.wait_descendants()
        peak = sampler.stop()
        mark("stop")

    if args.trace:
        for name in os.listdir(log_dir) if os.path.isdir(log_dir) else ():
            with open(os.path.join(log_dir, name)) as f:
                tot = tracing.parse_event_log(f, GROUP)
            passes = len(record["traced_passes"]["window"])
            metrics.update(tracing.spark_layer_metrics(tot, passes))
        metrics["jvm.rss_mb"] = peak["jvm"]
        metrics["workers.rss_mb"] = peak["workers"]
        record["spans"] = tracer.spans
        units = PER_LAYER
    else:
        metrics["peak_rss_mb"] = peak["total"]
        units = END_TO_END
    record["errors"] = client.errors
    result = {"correct": client.failed == 0, "attempted": client.attempted,
              "failed": client.failed,
              "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                          for k, u in units.items()}}
    record["result"] = result
    shutil.rmtree(work, ignore_errors=True)
    mark("cleanup")
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fresh-session", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    procs.become_subreaper()
    if args.fresh_session:
        fresh_session(args.fresh_session)
        return 0
    if not args.workload:
        ap.error("--workload is required")
    result, record = run(args)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "runs", name), "w") as f:
        json.dump(record, f, default=str)
    host = record["host"]
    print(f"# {args.workload} seed={args.seed} nproc={host['nproc']} "
          f"mem={host['mem_total_gb']}GB heap={HEAP} load1={host['preflight']['load1']} "
          f"calib={host['calibration']} images={record['inputs']['n_images']} "
          f"zones={record['inputs']['n_zones']} files={record['inputs']['image_files']}")
    for k, m in result["metrics"].items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"failed_share {result['failed'] / result['attempted']:.6g} share "
          f"({result['failed']}/{result['attempted']})")
    for err in record["errors"][:5]:
        print(f"# error: {err}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
