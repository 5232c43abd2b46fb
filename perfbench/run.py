"""Benchmark of the radio reduction paths, run from the repository root:

    python3 perfbench/run.py --workload corpus_faulty --seed 1 \
        --seconds 15 --trace 0

Each run starts one Spark session on local[<usable cores>], writes the
workload's inputs from ``--seed`` into a temporary directory under
``.perfbench/`` (removed on exit), warms up, then runs ops in a closed
loop with one client until ``--seconds`` of op time have passed and
reports medians over them. Every op's products are checked against a
NumPy reduction of the same inputs. The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (tracing off).
``--trace 1`` reports the per-layer metrics instead: each round runs
one op with spans around the pipeline call and the collection (its
Spark jobs, stages, tasks and shuffle bytes are counted through a job
group) and one op taken apart by layer. The spans go
to ``.perfbench/traces/<workload>-seed<seed>.spans.jsonl`` and the
per-layer self times and counts to ``...layers.json``.

``--smoke`` shrinks every input so that all workloads and all checks
run in one process in well under a minute; ``--workload all`` runs
every workload in turn.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
OUT_DIR = os.path.join(ROOT, ".perfbench")
PACKAGE = "radio_data_pipeline_spark"

# Full-size inputs. An op's wall time is mostly fixed per-op cost (a few
# dozen small Spark jobs planned and run one after the other), so it
# hardly grows with the input: 9-11 s for the 4-file corpus, about 5 s
# for one HIRES file on 4 cores. The first ops of a JVM run up to 2x
# slower and the next few still speed up, so a run warms up with 4 ops
# before timing; a run takes about a minute and a full measurement of
# 48 runs stays under 57 minutes (see README.md).
SIZES = {
    "corpus_clean": dict(n_obs=4, warmup_ops=4),
    "corpus_faulty": dict(n_obs=4, n_broken=1, warmup_ops=4),
    "sdfits_hires": dict(n_files=1, n_channels=4096, warmup_ops=4),
}
SMOKE_SIZES = {
    "corpus_clean": dict(n_obs=2, warmup_ops=0),
    "corpus_faulty": dict(n_obs=2, n_broken=1, warmup_ops=0),
    "sdfits_hires": dict(n_files=2, n_channels=256, warmup_ops=0),
}
END_TO_END = {"setup_s": "s", "op_latency_s": "s", "obs_per_s": "1/s"}
# per-layer metric -> span whose median self time it reports
LAYER_SPANS = {
    "fits.scan_s": "fits.scan", "fits.header_s": "fits.header",
    "validation.s": "validation", "segmentation.s": "segmentation",
    "calibration.fit_s": "calibration.fit",
    "calibration.gain_s": "calibration.gain",
    "integrate.continuum_s": "integrate.continuum",
    "integrate.spectrum_s": "integrate.spectrum",
    "atmosphere.s": "atmosphere",
    "pipeline.reduce_call_s": "pipeline.reduce_call",
    "pipeline.collect_s": "pipeline.collect",
}
LAYER_COUNTS = [
    "fits.files", "fits.bytes", "fits.rows_out", "fits.quarantined_files",
    "validation.rows_in", "validation.rows_out", "segmentation.streams",
    "segmentation.python_streams", "calibration.segments_fit",
    "integrate.spectrum_rows", "atmosphere.channel_values",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.shuffle_write_bytes",
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def isolate(tmp: str) -> None:
    """Point every temporary and scratch path of this process, the JVM
    it launches and the Python workers under ``tmp``."""
    for sub in ("py", "java", "spark"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp}/java "
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={tmp}/warehouse pyspark-shell")
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    jvm = spark.sparkContext._gateway.proc.pid
    py_mb, jvm_mb = vm_hwm_mb("self"), vm_hwm_mb(jvm)
    log(f"peak RSS: python {py_mb:.1f} MB, JVM {jvm_mb:.1f} MB")
    return py_mb + jvm_mb


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit: it exits when
    its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def environment(spark) -> dict:
    import duckdb
    return {"nproc": cpus(), "master": spark.sparkContext.master,
            "spark": spark.version, "python": platform.python_version(),
            "duckdb": duckdb.__version__}


def timed_loop(wl, seconds: float):
    """Closed loop, one client: run ops until ``seconds`` of op time
    have passed. Returns (latencies, failed, per-op rates of
    observations reduced correctly per second)."""
    lat, rates, failed = [], [], 0
    while sum(lat) < seconds:
        t0 = time.perf_counter()
        try:
            products = wl.run_op(len(lat))
        except Exception:
            products = None
            log(traceback.format_exc())
        lat.append(time.perf_counter() - t0)
        ok = products is not None and wl.check(products)
        rates.append(wl.obs_per_op / lat[-1] if ok else 0.0)
        if not ok:
            failed += 1
            log(f"{wl.name}: op {len(lat) - 1} failed or gave wrong products")
    return lat, failed, rates


def traced_loop(spark, wl, seconds: float):
    """Rounds of (pipeline-traced op, layer-traced op), at least one,
    until ``seconds`` passed. The pipeline-traced op runs the
    untraced op's calls with two spans around them; its Spark jobs,
    stages, tasks and shuffle bytes are counted through a job group."""
    from perfbench.tracing import SparkCounters, Tracer
    tracer = Tracer(wl.name)
    counters = SparkCounters(spark)
    attempted, failed = 0, 0
    t_start = time.perf_counter()
    rnd = 0
    while rnd == 0 or time.perf_counter() - t_start < seconds:
        op = 2 * rnd
        group = f"{wl.name}-{rnd}"
        counters.begin(group)
        outs = [wl.trace_pipeline(tracer, op)]
        for name, value in counters.end(group).items():
            tracer.add(op, name, value)
        outs.append(wl.trace_layers(tracer, op + 1))
        for out in outs:
            attempted += 1
            if not wl.check(out):
                failed += 1
                log(f"{wl.name}: traced round {rnd} gave wrong products")
        rnd += 1
    return tracer, attempted, failed


def run_workload(spark, name: str, args, work: str, session_s: float,
                 start_s: float) -> dict:
    """``start_s``: seconds from process start until the session was
    up; set-up is that plus writing inputs, the reference and warm-up."""
    from perfbench.workloads import WORKLOADS, Size
    sizes = SMOKE_SIZES if args.smoke else SIZES
    wl = WORKLOADS[name](spark, work, args.seed, Size(**sizes[name]))
    t0 = time.perf_counter()
    wl.setup()
    setup_s = start_s + time.perf_counter() - t0
    log(f"{name}: set-up {setup_s:.2f} s, session start {session_s:.2f} s")
    if not args.trace:
        lat, failed, rates = timed_loop(wl, args.seconds)
        metrics = {"setup_s": setup_s,
                   "op_latency_s": statistics.median(lat),
                   "obs_per_s": statistics.median(rates)}
        log(f"{name}: set-up {setup_s:.2f} s, {len(lat)} ops, latencies "
            + " ".join(f"{x:.3f}" for x in lat))
        return {"attempted": len(lat), "failed": failed,
                "metrics": {k: {"value": v, "unit": END_TO_END[k]}
                            for k, v in metrics.items()}}

    tracer, attempted, failed = traced_loop(
        spark, wl, args.seconds)
    os.makedirs(os.path.join(OUT_DIR, "traces"), exist_ok=True)
    stem = os.path.join(OUT_DIR, "traces", f"{name}-seed{args.seed}")
    tracer.write(stem + ".spans.jsonl", stem + ".layers.json")
    table = tracer.layer_table()
    metrics = {"session.start_s": (session_s, "s"),
               "session.peak_rss_mb": (peak_rss_mb(spark), "MB")}
    for metric, span in LAYER_SPANS.items():
        metrics[metric] = (table["self_s"][span], "s")
    for metric in LAYER_COUNTS:
        unit = "bytes" if metric.endswith("bytes") else "count"
        metrics[metric] = (table["counts"][metric], unit)
    walls = tracer.op_walls()  # even ops pipeline-traced, odd by layer
    metrics["trace.overhead_s"] = (
        statistics.median(w for op, w in walls.items() if op % 2)
        - statistics.median(w for op, w in walls.items() if not op % 2),
        "s")
    log(f"{name}: layer self times (s) "
        + json.dumps({k: round(v, 3) for k, v in table["self_s"].items()}))
    return {"attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    t_begin = time.perf_counter()
    loadavg_start, jiffies_start = os.getloadavg(), cpu_jiffies()
    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE}/ package in {ROOT}: run from the repository root")
        return 2
    names = list(SIZES) if args.workload == "all" else [args.workload]
    if any(n not in SIZES for n in names):
        log(f"unknown workload {args.workload!r}; one of {list(SIZES)} or all")
        return 2

    os.makedirs(OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=OUT_DIR)
    spark = None
    try:
        isolate(work)
        sys.path.insert(0, ROOT)
        from radio_data_pipeline_spark.session import get_spark
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus())
        spark.sparkContext.setLogLevel("FATAL")
        session_s = time.perf_counter() - t0
        start_s = time.perf_counter() - t_begin
        env = {**environment(spark), "loadavg_start": loadavg_start}
        results = [run_workload(spark, n, args, work, session_s, start_s)
                   for n in names]
        env["loadavg_end"] = os.getloadavg()
        # CPU time the hypervisor gave to other guests: timings of runs
        # with a high share are not comparable with quiet ones
        steal, total = (b - a for a, b in zip(jiffies_start, cpu_jiffies()))
        env["cpu_steal_share"] = round(steal / max(total, 1), 4)
        log("environment " + json.dumps(env))
    finally:
        try:
            if spark is not None:
                stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": results[-1]["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
