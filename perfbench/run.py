"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_serve --seed 1 --seconds 20 --trace 0

Runs one workload in one process against a ``local[<cpus>]`` session and
prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload with spans,
Spark's event log and the in-process layer passes, and reports the
per-layer metrics. The line before it holds the run record (set-up and
warm-up detail, calibration, load, versions, errors). Everything the run
writes stays under ``.perfbench_work/`` in the current directory.

See perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import harness  # noqa: E402


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["bulk_serve", "append_scan"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: the smoke test's input size")
    p.add_argument("--plant-fault", action="store_true",
                   help="corrupt one expected value (smoke test)")
    return p.parse_args(argv)


def launch_env(work: str, trace: bool) -> dict:
    """Environment for the Spark launch: everything under ``work``, a
    driver heap that fits the box, executors that import the engine, and
    (traced run only) an uncompressed event log."""
    dirs = {k: os.path.join(work, k)
            for k in ("tmp", "spark-local", "eventlog", "sql-warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    args = [f"--conf spark.sql.warehouse.dir={dirs['sql-warehouse']}",
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={dirs['tmp']}"]
    if trace:
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{dirs['eventlog']}",
                 "--conf spark.eventLog.compress=false"]
    env = {
        "EEL_DRIVER_MEM": harness.driver_mem(),
        "SPARK_GRAFT_CPUS": str(harness.cpus()),
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "TZ": "UTC",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join(args + ["pyspark-shell"]),
    }
    os.environ.update(env)
    time.tzset()
    return env


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and every process
    below this one, waiting until each has ended."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(harness.descendants(os.getpid())) > 1:
        if time.time() > deadline:
            for pid in harness.descendants(os.getpid())[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def lookup_tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n <= 10:
        return None
    k = n - 10  # samples at or below the percentile
    return {"pct": round(100 * k / n, 1), "ms": sorted(samples)[k - 1], "n": n}


def main(argv=None) -> int:
    args = parse(argv)
    work = os.path.join(os.getcwd(), ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    env = launch_env(work, bool(args.trace))

    from eel_sdk_spark.session import get_spark  # fails without the engine

    import layers
    from workloads import WORKLOADS

    calib_start = harness.calibration_ms()
    load_start = os.getloadavg()[0]
    ticks_start = harness.cpu_ticks()
    t0 = time.perf_counter()
    spark = get_spark(app=f"perfbench-{args.workload}", cpus=harness.cpus())
    start_s = time.perf_counter() - t0
    tracer = harness.Tracer() if args.trace else None
    try:
        if tracer:
            layers.install(tracer)
        rec = harness.Recorder(spark, tracer)
        w = WORKLOADS[args.workload](spark, rec, args.seed, args.size, work,
                                     args.plant_fault)
        info = w.run(args.seconds)
        lat, vals = rec.latency_ms, rec.values
        e2e = {
            "setup_s": (info["setup_s"], "s"),
            "encode_mb_s": (harness.median(vals["encode_mb_s"]), "MB/s"),
            "size_vs_ref": (w.size_vs_ref, "ratio"),
            # append_scan's scans grow with its table, so a median over
            # them is one scan's figure: total MB over total time uses all
            "scan_mb_s": (sum(vals["scan_mb"]) / sum(vals["scan_s"])
                          if vals["scan_s"] else float("nan"), "MB/s"),
            "lookup_p50_ms": (harness.median(lat["lookup"]), "ms"),
        }
        layer = {}
        if tracer:
            tracer.unwrap_all()
            layer.update(layers.span_metrics(tracer))
            layer["checkpoint.lookup_plan_ms"] = harness.median(
                vals["lookup_plan_ms"])
            layer["checkpoint.lookup_exec_ms"] = harness.median(
                vals["lookup_exec_ms"])
            cols, labels = layers.column_passes(w.lo, rec)
            layer.update(cols)
            layer.update(layers.table_passes(w, rec))
            info["codec_labels"] = labels
        e2e["peak_rss_mb"] = (harness.peak_rss_mb(), "MB")
    finally:
        stop_spark(spark)
    calib_end = harness.calibration_ms()
    ticks = [b - a for a, b in zip(ticks_start, harness.cpu_ticks())]

    if tracer:
        layer.update(layers.spark_metrics(tracer, os.path.join(work,
                                                               "eventlog")))
        tracer.dump(os.path.join(work, "spans.json"))
        layer["session.start_s"] = start_s
        layer["box.calib_ms"] = harness.median([calib_start, calib_end])
        for name in ("encode_mb_s", "scan_mb_s", "lookup_p50_ms"):
            layer[f"traced.{name}"] = e2e[name][0]
        metrics = {k: {"value": v, "unit": layers.unit_of(k)}
                   for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, **info, "session_start_s": start_s,
        "calib_ms": [calib_start, calib_end],
        "load_1m": [load_start, os.getloadavg()[0]],
        "steal_pct": 100 * ticks[1] / max(1, ticks[0]), "cpus": harness.cpus(),
        "driver_mem": env["EEL_DRIVER_MEM"], "versions": harness.versions(),
        "samples": {k: len(v) for k, v in rec.latency_ms.items()},
        "delete_p50_ms": harness.median(rec.latency_ms["delete"]),
        "write_p50_ms": harness.median(rec.latency_ms["write"]),
        "miss_p50_ms": harness.median(rec.latency_ms["miss"]),
        "lookup_tail": lookup_tail(rec.latency_ms["lookup"]),
    }
    bad = [k for k, m in metrics.items()
           if not isinstance(m["value"], (int, float))
           or m["value"] != m["value"]]
    rec.check("every metric measured", f"no value for {bad}" if bad else None)
    for k in bad:
        metrics[k]["value"] = None
    record["errors"] = rec.errors[:20]
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump({"record": record, "metrics": metrics,
                   "latency_ms": rec.latency_ms, "warm_ms": rec.warm_ms,
                   "values": rec.values}, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": rec.failed == 0, "attempted": rec.attempted,
                      "failed": rec.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
