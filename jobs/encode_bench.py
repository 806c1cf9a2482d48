"""Encode-throughput benchmark job (also the scaling-evidence worker).

Run standalone (one JSON line to stdout):
    python -m jobs.encode_bench --cpus 8 --rows 100000 --repeat 3

Measures, inside one SparkSession at local[N]:
- corpus generation -> cached input (excluded from encode timing)
- encode wall time (median of --repeat warm runs) -> GB/s over raw bytes
- python-side kernel core-seconds (sum of per-block encode_ms)
- encoded bytes vs parquet(snappy+dict) reference bytes (BASELINE.md)
- decode wall time + round-trip row count check

The driver note in the task brief: real N->4N cluster scaling cannot be
shown in this sandbox; the same job at two parallelism levels on identical
input is the sanctioned stand-in (bench.py orchestrates the pair). A
single shared memory bus makes >8-way runs bandwidth-contended (measured:
per-core kernel time inflates 1.6-2x at 32 workers), so the scaling pair
defaults to local[2] -> local[8], which isolates executor-count scaling
the way separate cluster nodes would.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def run(cpus: int, rows: int, with_decode: bool = True,
        profile: str = "speed", parts: int = 64, repeat: int = 1,
        with_ref: bool = True, shuffle: bool | str = "auto",
        with_channel_floor: bool = True) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # co-tenant load evidence: this box is shared and noisy (r3's recorded
    # 1.5-1.8x encode regression tracked a doubling of per-kernel
    # core-seconds on byte-identical workloads — load, not code). Recording
    # the 1-minute load average around every timed phase, plus the same-run
    # identity-channel floor, makes that attribution auditable in-record.
    load_before = round(os.getloadavg()[0], 1)
    from pyspark.sql import functions as F

    from eel_sdk_spark.corpus import SCHEMA_DDL, webtext_df
    from eel_sdk_spark.encode import decode_blocks_df, encode_df
    from eel_sdk_spark.session import get_spark

    spark = get_spark(app=f"encode-bench-{cpus}", cpus=cpus)
    try:
        # fixed partitioning at every parallelism level: the scaling
        # comparison must vary ONLY the executor count
        df = webtext_df(spark, rows, parts=parts).cache()
        df.count()  # materialize input outside the timed region

        # warm the python workers: the first pass pays process spawn and
        # imports; later tasks reuse the workers and, with the engine
        # imported, re-read no zip archive (eel_sdk_spark._zipcache). A
        # 100 TB run is steady-state by definition
        encode_df(df.sample(fraction=0.1, seed=1), key="url",
                  n_parts=parts, profile=profile,
                  shuffle=shuffle).foreach(lambda r: None)

        times, py_core_s, raw_bytes, enc_bytes = [], [], 0, 0
        for _ in range(repeat):
            t0 = time.monotonic()
            agg = encode_df(df, key="url", n_parts=parts, profile=profile,
                            shuffle=shuffle) \
                .agg(F.sum("raw_bytes").alias("raw"),
                     F.sum("enc_bytes").alias("enc"),
                     F.sum("encode_ms").alias("ms")).collect()[0]
            times.append(time.monotonic() - t0)
            raw_bytes, enc_bytes = int(agg["raw"]), int(agg["enc"])
            py_core_s.append(float(agg["ms"]) / 1000.0)
        t_encode = statistics.median(times)

        # channel floor: the SAME corpus through an identity mapInArrow —
        # pure JVM->Python Arrow serialization, zero kernel work. Encode
        # throughput can never exceed raw_bytes / t_channel; reporting it
        # alongside encode_gbps shows how much of the measured gap is the
        # channel (a fixed Spark cost any Python-side engine pays) vs the
        # engine itself.
        t_channel = None
        if with_channel_floor:
            import pyarrow as pa

            def _identity(it):
                for b in it:
                    yield pa.record_batch(
                        [pa.array([b.num_rows], type=pa.int64())],
                        names=["n"])

            df.sample(fraction=0.1, seed=1).mapInArrow(
                _identity, "n long").count()  # warm
            t_channel = min(
                _timed(lambda: df.mapInArrow(_identity, "n long").count())
                for _ in range(3))

        ref_bytes = None
        if with_ref:
            with tempfile.TemporaryDirectory() as tmp:
                ref_dir = os.path.join(tmp, "ref")
                (df.write.mode("overwrite").option("compression", "snappy")
                 .option("parquet.enable.dictionary", "true").parquet(ref_dir))
                ref_bytes = sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(ref_dir)
                    for f in fs if f.endswith(".parquet"))

        t_decode = None
        if with_decode:
            blocks = encode_df(df, key="url", n_parts=parts,
                               profile=profile).cache()
            blocks.count()
            t0 = time.monotonic()
            n_dec = decode_blocks_df(blocks, SCHEMA_DDL).count()
            t_decode = time.monotonic() - t0
            assert n_dec == rows, f"decode returned {n_dec} != {rows}"
            blocks.unpersist()

        return {
            "cpus": cpus,
            "rows": rows,
            "profile": profile,
            "shuffle": shuffle,
            "repeat": repeat,
            "load_1m_before": load_before,
            "load_1m_after": round(os.getloadavg()[0], 1),
            "encode_sec": round(t_encode, 3),
            "encode_sec_all": [round(t, 3) for t in times],
            "py_kernel_core_sec": round(statistics.median(py_core_s), 2),
            "decode_sec": round(t_decode, 3) if t_decode else None,
            "raw_bytes": raw_bytes,
            "enc_bytes": enc_bytes,
            "ref_parquet_bytes": ref_bytes,
            "encode_gbps": round(raw_bytes / t_encode / 1e9, 4),
            "channel_sec": round(t_channel, 3) if t_channel else None,
            "channel_ceiling_gbps": (round(raw_bytes / t_channel / 1e9, 4)
                                     if t_channel else None),
            # how far the measured wall is from the same-run serialization
            # floor: ~1.0-1.5 means channel-bound (healthy); a jump here
            # with flat kernel core-seconds means box load, not code
            "wall_over_channel": (round(t_encode / t_channel, 2)
                                  if t_channel else None),
            "rows_per_sec": round(rows / t_encode, 1),
            "compression_ratio": round(raw_bytes / enc_bytes, 3),
            "vs_reference": (round(enc_bytes / ref_bytes, 4)
                             if ref_bytes else None),
        }
    finally:
        spark.stop()


if __name__ == "__main__":
    p = argparse.ArgumentParser()
    p.add_argument("--cpus", type=int, default=32)
    p.add_argument("--rows", type=int, default=100_000)
    p.add_argument("--no-decode", action="store_true")
    p.add_argument("--no-ref", action="store_true")
    p.add_argument("--profile", default="speed",
                   choices=["speed", "compression", "archive"])
    p.add_argument("--parts", type=int, default=64)
    p.add_argument("--repeat", type=int, default=1)
    p.add_argument("--no-shuffle", action="store_true")
    p.add_argument("--shuffle-mode",
                   choices=["auto", "true", "false", "local"],
                   default=None,
                   help="overrides --no-shuffle: auto=engine default "
                        "(local), true=hash exchange, local=content-"
                        "derived parts w/o exchange, false=layout-derived "
                        "parts")
    args = p.parse_args()
    if args.shuffle_mode:
        shuffle = {"auto": "auto", "true": True, "false": False,
                   "local": "local"}[args.shuffle_mode]
    else:
        shuffle = False if args.no_shuffle else "auto"
    out = run(args.cpus, args.rows, with_decode=not args.no_decode,
              profile=args.profile, parts=args.parts, repeat=args.repeat,
              with_ref=not args.no_ref, shuffle=shuffle)
    sys.stdout.write(json.dumps(out) + "\n")
