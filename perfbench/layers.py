"""Per-layer metrics for the traced run.

Three sources, all driven from the benchmark's own files:

- spans around the engine's public driver-side functions, installed by
  :func:`install` for the traced run only;
- in-process passes over the engine's modules (selector, stats, codecs,
  decode kernel, metadata pruning, DataSource planning) on a fixed batch
  or on the table the timed loop left behind;
- Spark's event log, split per op by the ``perfbench.op`` job property.
"""

from __future__ import annotations

import os
import time

import numpy as np

from harness import idle_ms, median, read_event_log

COLUMNS = ("url", "warc_ts", "html", "text", "lang")
OP_KINDS = ("write", "lookup", "scan", "delete")
PASS_REPS = 3
BATCH_ROWS = 64 * 1024


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    base = name.split(".")[-2] if name.startswith(("spark.", "driver.",
                                                   "codecs.", "selector.",
                                                   "stats.")) \
        else name.split(".")[-1]
    for suffix, unit in (("_mb_s", "MB/s"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_kb", "KB"), ("_s", "s")):
        if base.endswith(suffix):
            return unit
    if base == "ratio" or base.endswith("_kept"):
        return "ratio"
    return "count"


def install(tracer) -> None:
    """Time every call into these driver-side functions."""
    from eel_sdk_spark import checkpoint, deletes
    from eel_sdk_spark.table import ManifestTable

    tracer.wrap(checkpoint, "lookup_files", "checkpoint.lookup_files",
                observe=lambda args, out: len(out) / len(args[1].files))
    tracer.wrap(ManifestTable, "commit", "table.commit")
    tracer.wrap(ManifestTable, "current", "table.current")
    tracer.wrap(ManifestTable, "read_decoded", "table.read_decoded")
    tracer.wrap(deletes, "apply_deletes", "deletes.apply_deletes")
    tracer.wrap(deletes, "delete_rows", "deletes.delete_rows")


def timed(fn, reps: int = PASS_REPS):
    """(median seconds, last result) of ``reps`` calls."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return median(times), out


def span_metrics(tracer) -> dict[str, float]:
    """Per-op sums of each wrapped function, median over the ops of the
    kinds whose latency that function is part of."""
    ops = tracer.ops()

    def med(name: str, kinds) -> float:
        per_op = tracer.per_op_ms(name)
        return median([per_op.get(op, 0.0) for op, o in ops.items()
                       if o["kind"] in kinds])

    kept = [s["observed"] for s in tracer.spans
            if s["name"] == "checkpoint.lookup_files" and "observed" in s]
    return {
        "checkpoint.lookup_files_ms": med("checkpoint.lookup_files",
                                          ["lookup"]),
        "checkpoint.lookup_files_kept": median(kept),
        "table.commit_ms": med("table.commit", ["write"]),
        "table.current_ms": med("table.current", ["write", "lookup"]),
        "table.read_decoded_plan_ms": med("table.read_decoded", ["scan"]),
        "deletes.delete_rows_ms": med("deletes.delete_rows", ["delete"]),
        "deletes.apply_deletes_ms": med("deletes.apply_deletes",
                                        ["lookup", "scan"]),
    }


def spark_metrics(tracer, log_dir: str) -> dict[str, float]:
    """Per op type, from the event log: exact job / task counts and
    shuffle bytes, executor time, and driver time outside any stage."""
    events = read_event_log(log_dir)
    out = {}
    for kind in OP_KINDS:
        rows = []
        for op, o in tracer.ops().items():
            if o["kind"] != kind:
                continue
            ev = events.get(op, {"jobs": 0, "tasks": 0,
                                 "shuffle_write_bytes": 0, "run_ms": 0,
                                 "cpu_ns": 0, "gc_ms": 0, "stages": []})
            rows.append((ev, idle_ms(o["start"] * 1e3, o["end"] * 1e3,
                                     ev["stages"])))
        out.update({
            f"spark.jobs.{kind}": median([e["jobs"] for e, _ in rows]),
            f"spark.tasks.{kind}": median([e["tasks"] for e, _ in rows]),
            f"spark.shuffle_write_mb.{kind}": median(
                [e["shuffle_write_bytes"] / 1e6 for e, _ in rows]),
            f"spark.executor_run_s.{kind}": median(
                [e["run_ms"] / 1e3 for e, _ in rows]),
            f"spark.executor_cpu_s.{kind}": median(
                [e["cpu_ns"] / 1e9 for e, _ in rows]),
            f"spark.gc_s.{kind}": median([e["gc_ms"] / 1e3 for e, _ in rows]),
            f"driver.idle_ms.{kind}": median([i for _, i in rows]),
        })
    return out


def column_passes(lo: int, rec) -> tuple[dict, dict]:
    """stats -> selector -> codec encode / decode per column of a fixed
    64k-row batch of the workload's rows. Returns (metrics, codec label
    per column); a label that does not repeat, or a decode that is not
    bit-identical, is counted as a failed check."""
    import pyarrow as pa

    from eel_sdk_spark import codecs, corpus, selector, stats
    from eel_sdk_spark.codecs.base import kind_of

    batch = corpus.gen_batch(np.arange(lo, lo + BATCH_ROWS, dtype=np.int64))
    out, labels = {}, {}
    for col in COLUMNS:
        arr = batch.column(col)
        kind = kind_of(arr.type)
        values = arr.drop_null() if arr.null_count else arr
        mb = arr.nbytes / 1e6
        t, _ = timed(lambda: stats.chunk_stats(values, kind))
        out[f"stats.chunk_stats_ms.{col}"] = t * 1e3
        picks = []
        t, _ = timed(lambda: picks.append(selector.choose(values, kind)))
        out[f"selector.choose_ms.{col}"] = t * 1e3
        labels[col] = picks[0]
        rec.check(f"selector label {col}", None if len(set(picks)) == 1
                  else f"labels {picks} do not repeat")
        t, (header, payload, _) = timed(lambda: codecs.encode_column(arr))
        out[f"codecs.encode_mb_s.{col}"] = mb / t
        out[f"codecs.ratio.{col}"] = arr.nbytes / (len(header) + len(payload))
        t, back = timed(lambda: codecs.decode_column(header, payload))
        out[f"codecs.decode_mb_s.{col}"] = mb / t
        same = back.equals(arr) or (pa.types.is_timestamp(arr.type)
                                    and back.cast(arr.type).equals(arr))
        rec.check(f"codec round trip {col}",
                  None if same else "decoded column differs")
    return out, labels


def table_passes(w, rec) -> dict:
    """Encode / checkpoint / table / DataSource layers, in-process, on
    the table the timed loop ended with and on one write's input."""
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import EqualTo
    from pyspark.sql.types import StructType

    from eel_sdk_spark import checkpoint, corpus
    from eel_sdk_spark.encode import decode_file_batches
    from eel_sdk_spark.sources.eel_datasource import EelDataSource
    from workloads import source_df

    spark, tbl = w.spark, w.table
    snap = tbl.current()
    out = {"table.files": len(snap.files),
           "table.manifest_kb": os.path.getsize(os.path.join(
               tbl.manifest_dir, f"m-{snap.snapshot_id}.json")) / 1024}

    # the blocks of the last write: the engine's own per-block counter
    last = set(snap.properties["runs"][-1]["file_stats"])
    files = [f for f in snap.files if os.path.basename(f) in last]
    blocks = pq.read_table(files, columns=["col", "encode_ms"])
    real = blocks.filter(np.array(
        [not c.startswith("__fs__") for c in blocks.column("col").to_pylist()]))
    out["encode.kernel_core_s"] = sum(real.column("encode_ms").to_pylist()) / 1e3
    out["encode.blocks"] = real.num_rows
    out["encode.files"] = len(files)

    arrow = corpus.gen_batch(np.arange(1, dtype=np.int64)).schema
    types = {f.name: f.type for f in arrow}
    per_file = []
    for f in snap.files:
        t, _ = timed(lambda: sum(b.num_rows for b in decode_file_batches(
            f, list(COLUMNS), types, {}, True)), reps=1)
        per_file.append(t * 1e3)
    out["encode.decode_file_ms"] = median(per_file)

    # one write's input, cached: the identity channel and the fingerprint
    rows = w.conf.get("inc", w.conf["rows"])
    df = source_df(spark, w.lo, w.lo + rows).cache()
    df.count()
    schema = df.schema
    t, _ = timed(lambda: df.mapInArrow(lambda it: it, schema)
                 .write.format("noop").mode("overwrite").save())
    out["encode.channel_s"] = t
    t, _ = timed(lambda: checkpoint.input_fingerprint(df, "url"))
    out["checkpoint.fingerprint_s"] = t
    df.unpersist()
    t, _ = timed(lambda: source_df(spark, w.lo, w.lo + w.conf["rows"])
                 .write.format("noop").mode("overwrite").save(), reps=1)
    out["corpus.gen_s"] = t

    # metadata pruning and DataSource planning for live keys
    urls = sorted(w.live)[:PASS_REPS]
    kept, prune_ms, plan_ms, parts = [], [], [], []
    ddl = StructType.fromDDL(tbl.row_schema(snap))
    for url in urls:
        t0 = time.perf_counter()
        survivors = checkpoint.prune_files_metadata(snap, snap.files,
                                                    "url", url)
        prune_ms.append((time.perf_counter() - t0) * 1e3)
        kept.append(len(survivors) / len(snap.files))
        t0 = time.perf_counter()
        reader = EelDataSource({"path": w.wh, "table": os.path.basename(
            tbl.dir), "pushdown": "true"}).reader(ddl)
        reader.pushFilters([EqualTo(("url",), url)])
        parts.append(len(reader.partitions()))
        plan_ms.append((time.perf_counter() - t0) * 1e3)
    out.update({"checkpoint.prune_metadata_ms": median(prune_ms),
                "checkpoint.prune_metadata_kept": median(kept),
                "eel_datasource.plan_ms": median(plan_ms),
                "eel_datasource.partitions": median(parts)})
    return out
