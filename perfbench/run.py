#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_build_unicode --seed 7 --seconds 5 --trace 0

Run from the repository root. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. The line before it is a JSON detail record (load fingerprint,
input facts, warm-up evidence, the workload's own named metrics). See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
from statistics import median
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Driver heap of the one local-mode driver process (the program's own
# default, 8g, is sized for its large-corpus suite).
DRIVER_MEMORY = "2g"
WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"
# Layers each workload calls; every other layer's per-layer metrics read 0.
LAYERS = {
    "kg_build_unicode": {"engine", "trace", "extraction", "linking",
                         "canonicalize", "pipeline", "profile"},
    "curation": {"engine", "trace", "canonicalize", "textstats", "dedup",
                 "agg", "similarity"},
}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _stop_spark(spark, root_pid: int) -> None:
    """Stop Spark, end the driver JVM by closing its stdin (PySpark's
    gateway exits on EOF), and wait until every child process has ended."""
    from pyspark import SparkContext
    from tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while descendants(root_pid) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(root_pid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(root_pid) and time.time() < deadline + 10:
        time.sleep(0.2)


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    os.chdir(ROOT)
    sys.path[:0] = [ROOT, HERE]
    import kgsum_spark  # noqa: F401 — fail fast when the program is absent
    import workloads as W

    if workload not in W.WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; "
                         f"choose from {sorted(W.WORKLOADS)}")
    wl = W.WORKLOADS[workload](seed)
    t0 = time.perf_counter()
    input_facts = wl.prepare_inputs()
    input_facts.update(prepare_s=time.perf_counter() - t0,
                       gen_s=wl.meta["gen_s"], cached=wl.meta["cached"],
                       non_portable_share=wl.meta["non_portable_share"])

    work = os.path.abspath(os.path.join(WORK_DIR, f"{workload}-{os.getpid()}"))
    try:
        return _measure(workload, seed, seconds, trace, wl, input_facts, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(workload, seed, seconds, trace, wl, input_facts, work):
    """Set up, warm up, time, optionally trace; `work` is scratch space."""
    import pyspark
    import workloads as W
    from tracing import NullTracer, ProcessWatch, Tracer, engine_counters

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp,
                      SPARK_DRIVER_MEMORY=DRIVER_MEMORY)
    cores = len(os.sched_getaffinity(0))
    fingerprint = {"nproc": cores, "loadavg_1m_start": os.getloadavg()[0],
                   "spark": pyspark.__version__,
                   "python": platform.python_version()}

    from kgsum_spark.session import build_session

    mem = ProcessWatch()
    ops = W.Ops()
    null = NullTracer()
    t_setup = time.perf_counter()
    spark = build_session(
        "perfbench", cores=cores,
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false"})
    try:
        sc = spark.sparkContext
        wl.start(spark, work)
        warm = []
        for _ in range(wl.warmup_passes):
            c0 = engine_counters(sc)["codegen_compiles"]
            p = wl.run_pass(null, ops)
            mem.poll()
            warm.append({"calls": p["calls"], "codegen_compiles":
                         engine_counters(sc)["codegen_compiles"] - c0})
        setup_s = time.perf_counter() - t_setup

        timed, loads, compiles, cpu = [], [], [], []
        c_start = engine_counters(sc)
        t_timed = time.perf_counter()
        while (len(timed) < wl.timed_passes
               or time.perf_counter() - t_timed < seconds):
            l0 = os.getloadavg()[0]
            c0 = engine_counters(sc)["codegen_compiles"]
            cpu0 = mem.cpu_total()
            timed.append(wl.run_pass(null, ops))
            cpu.append(mem.cpu_total() - cpu0)
            compiles.append(engine_counters(sc)["codegen_compiles"] - c0)
            loads.append([l0, os.getloadavg()[0]])
        c_end = engine_counters(sc)

        if trace:
            tracer = Tracer(sc)
            tracer.pass_id = "traced"
            traced = wl.run_pass(tracer, ops)
            tracer.pass_id = "layers"
            facts = wl.decompose(tracer, ops)
            mem.poll()
            spans = tracer.stats()
    finally:
        _stop_spark(spark, mem.root)

    walls = [sum(p["calls"].values()) for p in timed]
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "fingerprint": {**fingerprint, "loadavg_1m_per_pass": loads},
        "inputs": input_facts,
        "warmup": warm,
        "timed_pass_s": walls,
        "timed_pass_cpu_s": cpu,
        "timed_codegen_compiles": compiles,
        "named_metrics": {
            "setup_s": [setup_s, "s"],
            "failed_ops_frac": [ops.failed / max(ops.attempted, 1), "ratio"],
            "peak_rss_mb": [mem.peak_mb(), "MB"],
            **wl.named_metrics(timed)},
        "peak_rss_by_process_mb": mem.peak_by_process_mb(),
        "errors": ops.errors[:20],
    }
    if trace:
        metrics = _layer_metrics(workload, wl, spans, traced, facts, timed,
                                 c_start, c_end)
        detail["trace_file"] = _write_spans(workload, seed, spans)
    else:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "pass_s": _metric(median(walls), "s"),
            "pass_cpu_s": _metric(median(cpu), "s"),
        }
    result = {"correct": ops.failed == 0, "attempted": ops.attempted,
              "failed": ops.failed, "metrics": metrics}
    return detail, result


def _write_spans(workload: str, seed: int, spans: list[dict]) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{workload}-seed{seed}-spans.json")
    with open(path, "w") as f:
        json.dump(spans, f, indent=1)
    return path


def _layer_metrics(workload, wl, spans, traced, facts, timed, c_start, c_end):
    """Per-layer metrics: engine counters per timed pass, jobs and tasks of
    the traced pass, tracing overhead (traced pass wall minus the median
    untraced pass wall), and the workload's own layer values."""
    def span(names, key="dur_s"):
        return sum(s[key] for s in spans if s["name"] in names)

    n = len(timed)
    traced_spans = [s for s in spans if s["pass"] == "traced"]
    vals = {
        "engine.codegen_compiles":
            (c_end["codegen_compiles"] - c_start["codegen_compiles"]) / n,
        "engine.gc_s": (c_end["gc_s"] - c_start["gc_s"]) / n,
        "engine.jobs": sum(s["jobs"] for s in traced_spans),
        "engine.tasks": sum(s["tasks"] for s in traced_spans),
        "engine.failed_tasks": sum(s["failed_tasks"] for s in spans),
        "trace.overhead_s": sum(traced["calls"].values())
        - median([sum(p["calls"].values()) for p in timed]),
        **wl.layer_values(span, traced, facts),
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        catalogue = json.load(f)["per_layer"]
    out = {}
    for m in catalogue:
        name = m["name"]
        if name in vals:
            out[name] = _metric(float(vals[name]), m["unit"])
        elif name.split(".")[0] in LAYERS[workload]:
            raise KeyError(f"per-layer metric {name} was not measured")
        else:
            out[name] = _metric(0.0, m["unit"])
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like Ctrl-C, so Spark and its processes are stopped
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    try:
        detail, result = run(args.workload, args.seed, args.seconds,
                             bool(args.trace))
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        return 1
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
