"""SparkSession factory tuned for the engine's Arrow-batched pipeline.

Local-mode defaults match the sandbox (local[32], single JVM); on a real
cluster the same builder is used minus the master override — partitioning
decisions elsewhere never assume local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size = our encode block-size CAP. 64k rows of ~1-2 KB web
# pages ≈ 64-128 MB raw per block: large enough to amortize symbol
# tables, small enough that one block fits executor memory comfortably
# at 100 TB scale. The batch size buys no channel throughput: on 4 cores
# (local[4], an identity mapInArrow over 387 MB of webtext Arrow in 4
# tasks, best of 4) the channel moves 0.62-0.73 GB/s at 32k rows and
# 0.50-0.66 GB/s at 64k. Nor is the channel the encode ceiling: traced
# bulk_serve spends 0.29 s in the kernels and 0.17 s in the channel.
# (While every task re-read the import archives, see _zipcache, the
# same channel read 0.42-0.53 GB/s at either size.) Measured trade: 64k
# blocks decode ~15% slower than 32k on the eelshape probe (4.9 vs 5.7 M rows/s — fewer,
# chunkier groups), but encode is the north-rule headline and decode
# stays well above the reference's 3.6 M rows/s read either way.
# Blocks are further bounded by rows-per-part, so small benchmarks are
# unaffected.
ARROW_BATCH_ROWS = 64 * 1024


def get_spark(app: str = "eel_sdk_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # half the machine's physical memory unless EEL_DRIVER_MEM says
    # otherwise: a heap sized for a bigger host lets the local-mode JVM
    # grow until the kernel kills it
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    driver_mem = os.environ.get("EEL_DRIVER_MEM") or f"{max(1, phys >> 31)}g"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Scan-parallelism floor (r9, guide §6 "Input split size"): Spark
        # charges every file spark.sql.files.openCostInBytes (default 4 MB)
        # when packing splits, and uses it as a floor on split size — so a
        # single-digit-MB parquet table scans as 1-2 tasks and every
        # downstream per-row expression chain (minhash shingle+md5, text
        # panel, fingerprints) runs on 1-2 of the box's cores until the
        # first exchange (measured: the sf1 minhash signature stage was
        # single-task, 7.5 s of a 9 s query). 128 KB lets
        # spark.sql.files.minPartitionNum (defaults to the session's
        # parallelism — scale-adaptive, not a local constant) actually
        # split small inputs ~evenly across the cluster; terabyte inputs
        # are untouched (maxPartitionBytes still governs), and many-small-
        # file tables pack MORE files per split, not fewer tasks.
        .config("spark.sql.files.openCostInBytes", "131072")
        # Shuffle writer (r9, guide §2.1): with <=200 reduce partitions
        # Spark picks BypassMergeSortShuffleWriter, which opens R
        # partition streams per map task and round-trips every row
        # through them — on this engine's payload-heavy rows (webtext
        # ~1.5 KB/row) the 64x64 encode exchange measured 0.53-0.77 s
        # vs 0.17-0.20 s through the serialized sort writer. Clusters
        # run reducer counts far above 200, where the sort writer is
        # ALREADY the default — this only makes small-reducer shuffles
        # take the same code path as at-scale ones.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
