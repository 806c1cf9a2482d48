"""Measurement plumbing shared by the workloads: the op recorder, the
span tracer, the box record (calibration pass, load, memory) and the
Spark event-log reader.

Nothing here imports pyspark at module level, so ``run.py`` can set the
launch environment before the first Spark import.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
import traceback
from collections import defaultdict


def median(values):
    return statistics.median(values) if values else float("nan")


# -- op recorder ------------------------------------------------------------

class Recorder:
    """Runs the workload's operations one at a time (closed loop, one
    caller) and keeps, per op type, the latency of every op and any
    throughput figure the op reports. An op whose call raises or whose
    result fails its check counts as failed; its latency is not kept."""

    def __init__(self, spark, tracer=None):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.latency_ms = defaultdict(list)
        self.warm_ms = defaultdict(list)
        self.values = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._next_id = 0

    def op(self, kind: str, fn, check, timed: bool = True):
        """Run ``fn()``; ``check(result)`` returns None when correct or
        a string naming what is wrong. Returns (result, seconds) —
        result is None when the op failed. Warm-up ops (``timed=False``)
        are checked and counted too, but their latency is kept apart."""
        self._next_id += 1
        op_id = f"{kind}-{self._next_id}"
        self.sc.setLocalProperty("perfbench.op", op_id)
        self.sc.setJobDescription(f"perfbench {op_id}")
        span = (self.tracer.op(op_id, kind) if self.tracer and timed
                else contextlib.nullcontext())
        result, err = None, None
        with span:
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception:  # a failing op is counted, never fatal
                err = traceback.format_exc(limit=3)
            dt = time.perf_counter() - t0
        self.sc.setLocalProperty("perfbench.op", None)
        if err is None:
            try:
                err = check(result)
            except Exception:
                err = traceback.format_exc(limit=3)
        self.attempted += 1
        if err is not None:
            self.failed += 1
            self.errors.append(f"{op_id}: {err}")
            return None, dt
        (self.latency_ms if timed else self.warm_ms)[kind].append(dt * 1e3)
        return result, dt

    def check(self, what: str, err: str | None) -> None:
        """A post-run correctness check counted like an op."""
        self.attempted += 1
        if err is not None:
            self.failed += 1
            self.errors.append(f"{what}: {err}")


# -- tracer -----------------------------------------------------------------

class Tracer:
    """In-memory spans: (name, start, end, parent, op). Wrapping replaces
    a module or class attribute with a timing shim for the life of the
    traced run; nothing inside the engine is changed."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._restore: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": parent, "op": self._op})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        self._op = op_id
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._op = None

    def wrap(self, owner, attr: str, name: str, observe=None) -> None:
        """``observe(args, result)``, when given, is stored on the span
        as ``observed`` (a count or ratio measured at the boundary)."""
        original = getattr(owner, attr)

        def shim(*args, **kwargs):
            with self.span(name):
                out = original(*args, **kwargs)
                if observe is not None:
                    self.spans[self._stack[-1]]["observed"] = observe(
                        args, out)
                return out

        shim.__wrapped__ = original
        setattr(owner, attr, shim)
        self._restore.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    def ops(self) -> dict[str, dict]:
        """op id -> {"kind", "start", "end"} (epoch seconds)."""
        return {s["op"]: {"kind": s["name"][3:], "start": s["start"],
                          "end": s["end"]}
                for s in self.spans
                if s["parent"] is None and s["op"] is not None}

    def per_op_ms(self, name: str) -> dict[str, float]:
        """Summed duration of spans called ``name``, per op id."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["op"] is not None:
                out[s["op"]] += (s["end"] - s["start"]) * 1e3
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- the box ----------------------------------------------------------------

def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_mem() -> str:
    """Driver heap sized for the box: a quarter of RAM, 1-4 GB. The
    engine's own default (48g) is sized for a much larger host."""
    return f"{max(1, min(4, mem_total_mb() // 4096))}g"


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:  # the process exited between listing and reading
        pass
    return 0


def descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """VmHWM summed over this process and every live descendant: the
    JVM, the Python worker daemon and its workers."""
    return sum(_status_kb(p, "VmHWM") for p in descendants(os.getpid())) / 1024


def calibration_ms(reps: int = 3) -> float:
    """A fixed in-process pass with no Spark involved: the engine's codec
    on the text column of a fixed 16k-row batch. Recorded at the start
    and the end of every run, so a slower box can be told apart from a
    slower program."""
    import numpy as np

    from eel_sdk_spark import codecs, corpus

    text = corpus.gen_batch(np.arange(16384, dtype=np.int64)).column("text")
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        codecs.encode_column(text)
        times.append((time.perf_counter() - t0) * 1e3)
    return median(times)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the box since boot: steal is time the
    hypervisor ran something else on this VM's CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__}


# -- Spark event log --------------------------------------------------------

def _event_files(log_dir: str) -> list[str]:
    """Plain and rolling (``eventlog_v2_*/events_*``) logs, oldest first."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            out += sorted(parts, key=lambda p: int(
                os.path.basename(p).split("_")[1]))
        else:
            out.append(path)
    return out


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per perfbench op id: jobs, tasks, shuffle bytes written, executor
    run / CPU / GC time, and the [submit, complete] interval (epoch ms)
    of every stage that ran for it."""
    stage_op: dict[int, str] = {}
    ops: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "run_ms": 0,
        "cpu_ns": 0, "gc_ms": 0, "stages": []})
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = (ev.get("Properties") or {}).get("perfbench.op")
                    if op is None:
                        continue
                    ops[op]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, op)
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    rec = ops[op]
                    rec["tasks"] += 1
                    rec["run_ms"] += m.get("Executor Run Time", 0)
                    rec["cpu_ns"] += m.get("Executor CPU Time", 0)
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    rec["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    op = stage_op.get(info["Stage ID"])
                    if op is not None and "Submission Time" in info:
                        ops[op]["stages"].append(
                            (info["Submission Time"],
                             info.get("Completion Time",
                                      info["Submission Time"])))
    return dict(ops)


def idle_ms(start_ms: float, end_ms: float, intervals) -> float:
    """Op wall time not covered by any running stage."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(lo, start_ms), min(hi, end_ms))
                         for lo, hi in intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, (end_ms - start_ms) - covered)
