"""The `eel` Python DataSource: spark.read/readStream.format("eel").

Batch reads must be row-exact vs ManifestTable.read_decoded across
snapshots, refs, renames, widenings, and tombstones; pushdown must
prune partitions without changing results; the stream reader must be
exactly-once across restarts and silent across maintenance rewrites.
"""
from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from eel_sdk_spark.checkpoint import append_encode, encode_with_checkpoint
from eel_sdk_spark.corpus import webtext_df
from eel_sdk_spark.sources.eel_datasource import (
    EelPushdownReader,
    register,
)
from eel_sdk_spark.table import ManifestTable


def _mk(spark, tmp_path, n=1200, n_parts=6):
    docs = webtext_df(spark, n, parts=2)
    tbl = ManifestTable(str(tmp_path), "blocks")
    encode_with_checkpoint(spark, docs, tbl, n_parts=n_parts, run_id="r1")
    register(spark)
    return docs, tbl


def _same(a, b):
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_batch_read_parity(spark, tmp_path):
    _, tbl = _mk(spark, tmp_path)
    df = spark.read.format("eel").load(str(tmp_path))
    ref = tbl.read_decoded(spark)
    assert df.schema == ref.schema
    _same(df, ref)


def test_batch_snapshot_and_ref_time_travel(spark, tmp_path):
    _, tbl = _mk(spark, tmp_path, n=600)
    sid0 = tbl.current().snapshot_id
    tbl.tag("v1")
    inc = webtext_df(spark, 900, parts=1).limit(300)
    append_encode(spark, inc, tbl, n_parts=6, run_id="r2")
    assert spark.read.format("eel").load(str(tmp_path)).count() == 600 + 300
    assert (spark.read.format("eel").option("snapshot_id", sid0)
            .load(str(tmp_path)).count() == 600)
    assert (spark.read.format("eel").option("ref", "v1")
            .load(str(tmp_path)).count() == 600)


def test_batch_tombstones_and_rename_and_widen(spark, tmp_path):
    from eel_sdk_spark.deletes import delete_rows

    docs = (webtext_df(spark, 500, parts=1)
            .withColumn("n", F.length("text").cast("int"))
            .select("url", "n"))
    tbl = ManifestTable(str(tmp_path), "blocks")
    encode_with_checkpoint(spark, docs, tbl, n_parts=4, run_id="r1")
    register(spark)
    gone = [r["url"] for r in docs.select("url").limit(3).collect()]
    delete_rows(spark, tbl, gone)
    tbl.rename_column("url", "page_url")
    tbl.widen_column("n", "bigint")
    df = spark.read.format("eel").load(str(tmp_path))
    assert dict(df.dtypes) == {"page_url": "string", "n": "bigint"}
    assert df.count() == 500 - 3
    assert df.filter(F.col("page_url").isin(gone)).count() == 0
    # with_deletes=false shows the suppressed rows (purge preview)
    raw = (spark.read.format("eel").option("with_deletes", "false")
           .load(str(tmp_path)))
    assert raw.count() == 500
    _same(df, tbl.read_decoded(spark))


def test_pushdown_prunes_partitions_and_keeps_results(spark, tmp_path):
    docs, tbl = _mk(spark, tmp_path, n=1500, n_parts=8)
    one = docs.select("url").first()["url"]
    # unit level: the reader's file list shrinks under pushFilters
    # (summary blooms + key ranges, driver-side, zero Spark)
    from pyspark.sql.datasource import EqualTo
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(tbl.row_schema())
    opts = {"path": str(tmp_path)}
    rd = EelPushdownReader(opts, schema)
    before = len(rd._files)
    rd.pushFilters([EqualTo(("url",), one)])
    assert 0 < len(rd._files) < before
    # a definitely-absent key prunes to ZERO partitions
    rd2 = EelPushdownReader(opts, schema)
    rd2.pushFilters([EqualTo(("url",), "https://nosuch.example/x")])
    assert rd2._files == []
    # IN-list: union of per-value survivors (absent + present = present's)
    from pyspark.sql.datasource import In

    rd3 = EelPushdownReader(opts, schema)
    rd3.pushFilters([In(("url",), (one, "https://nosuch.example/x"))])
    assert sorted(rd3._files) == sorted(rd._files)
    # e2e: same rows with pushdown on (Spark re-applies the filter)
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (spark.read.format("eel").option("pushdown", "true")
               .load(str(tmp_path)).filter(F.col("url") == one))
        assert got.count() == 1
        assert (spark.read.format("eel").option("pushdown", "true")
                .load(str(tmp_path))
                .filter(F.col("url") == "https://nosuch.example/x")
                .count() == 0)
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_stream_bootstrap_increment_replay(spark, tmp_path):
    _, tbl = _mk(spark, tmp_path, n=800)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (spark.readStream.format("eel").load(str(tmp_path))
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        return spark.read.parquet(sink)

    assert drain().count() == 800  # bootstrap = full current table
    # ids 800..949 — disjoint from the bootstrap's deterministic corpus
    inc = (webtext_df(spark, 950, parts=1)
           .exceptAll(webtext_df(spark, 800, parts=1)))
    append_encode(spark, inc, tbl, n_parts=6, run_id="r2")
    got = drain()
    assert got.count() == 950  # exactly the increment, once
    assert got.select("url").distinct().count() == 950
    assert drain().count() == 950  # replay: no-op


def test_stream_maintenance_reemits_nothing(spark, tmp_path):
    """Compaction between triggers rewrites every file; the CDC
    classification must keep the stream silent."""
    _, tbl = _mk(spark, tmp_path, n=600)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (spark.readStream.format("eel").load(str(tmp_path))
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        return spark.read.parquet(sink).count()

    assert drain() == 600
    tbl.compact(spark, n_files=2)
    assert drain() == 600  # rewrites classified out, nothing re-emitted


def test_stream_starting_snapshot_latest(spark, tmp_path):
    _, tbl = _mk(spark, tmp_path, n=500)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (spark.readStream.format("eel")
             .option("starting_snapshot", "latest").load(str(tmp_path))
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)

    drain()  # pins the cursor at current head; history not copied
    import os

    if not os.path.exists(sink):  # zero-batch run may not create it
        n0 = 0
    else:
        n0 = spark.read.parquet(sink).count()
    assert n0 == 0
    inc = (webtext_df(spark, 620, parts=1)
           .exceptAll(webtext_df(spark, 500, parts=1)))
    append_encode(spark, inc, tbl, n_parts=6, run_id="r2")
    drain()
    assert spark.read.parquet(sink).count() == 120


def test_missing_warehouse_raises(spark, tmp_path):
    register(spark)
    with pytest.raises(Exception, match="no committed snapshot|no snapshot"):
        spark.read.format("eel").load(str(tmp_path / "nope")).count()


def test_stream_table_to_table_roundtrip(spark, tmp_path):
    """The full loop: warehouse -> readStream.format("eel") ->
    transform -> write_stream_to_table -> warehouse, exactly-once
    across increments, with the sink a first-class (CDC-followable,
    schema-stored) table."""
    from eel_sdk_spark.streaming.sink import write_stream_to_table

    _, src = _mk(spark, tmp_path / "src", n=700)
    sink = ManifestTable(str(tmp_path / "snk"), "blocks")

    def drain():
        q = write_stream_to_table(
            spark.readStream.format("eel").load(str(tmp_path / "src")),
            sink, checkpoint_dir=str(tmp_path / "ckpt"),
            transform=lambda df: df.filter(F.col("lang") == "en")
            .select("url", "text", "lang"))
        q.awaitTermination(300)

    drain()
    en0 = sink.read_decoded(spark).count()
    assert en0 > 0
    assert sink.row_schema() == "url string, text string, lang string"
    inc = (webtext_df(spark, 900, parts=1)
           .exceptAll(webtext_df(spark, 700, parts=1)))
    n_inc_en = inc.filter(F.col("lang") == "en").count()
    append_encode(spark, inc, src, run_id="r2")
    drain()
    assert sink.read_decoded(spark).count() == en0 + n_inc_en
    drain()  # replay: no growth
    got = sink.read_decoded(spark)
    assert got.count() == en0 + n_inc_en
    assert got.select("url").distinct().count() == en0 + n_inc_en
    # lineage run records landed -> the sink is itself followable
    assert any(r.get("run_id", "").startswith("stream-eel-sink-")
               for r in sink.current().properties.get("runs", []))


def test_sink_batch_replay_is_noop(spark, tmp_path):
    """Crash contract: foreachBatch re-delivers a batch with the same
    batch_id; the run_id guard must skip it before any work."""
    from eel_sdk_spark.streaming.sink import sink_batch

    docs = webtext_df(spark, 300, parts=1)
    tbl = ManifestTable(str(tmp_path), "blocks")
    out = sink_batch(spark, docs, 0, tbl, n_parts=2)
    assert out.get("n_rows") == 300
    replay = sink_batch(spark, docs, 0, tbl, n_parts=2)
    assert replay == {"skipped": "stream-eel-sink-0"}
    assert tbl.read_decoded(spark).count() == 300
    nxt = sink_batch(spark, docs.limit(0), 1, tbl)  # empty batch ok
    assert nxt.get("n_rows", 0) == 0
    assert tbl.read_decoded(spark).count() == 300


def test_sink_crash_between_commits_replays_clean(spark, tmp_path):
    """The real crash window: the sink table committed batch N but the
    query died before Spark wrote checkpoint commits/N. On restart the
    engine re-delivers batch N (same id, same data) — the run_id guard
    must swallow it, leaving zero duplicates. Simulated by deleting the
    newest commit marker from the streaming checkpoint."""
    import os

    from eel_sdk_spark.streaming.sink import write_stream_to_table

    _, src = _mk(spark, tmp_path / "src", n=400)
    sink = ManifestTable(str(tmp_path / "snk"), "blocks")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = write_stream_to_table(
            spark.readStream.format("eel").load(str(tmp_path / "src")),
            sink, checkpoint_dir=ckpt)
        q.awaitTermination(300)

    drain()
    assert sink.read_decoded(spark).count() == 400
    # crash simulation: the sink-table commit survived, the streaming
    # checkpoint's commit marker did not
    commits = sorted(f for f in os.listdir(os.path.join(ckpt, "commits"))
                     if not f.startswith("."))
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):  # Hadoop checksum sidecar would poison the
        os.remove(crc)       # atomic re-create of the commit marker
    drain()  # restart: batch re-delivered with the same batch_id
    got = sink.read_decoded(spark)
    assert got.count() == 400
    assert got.select("url").distinct().count() == 400
    # exactly one stream run record (the replay committed nothing)
    runs = [r for r in sink.current().properties.get("runs", [])
            if r.get("run_id", "").startswith("stream-")]
    assert len(runs) == 1


def test_partition_binning_by_manifest_stats(spark, tmp_path):
    """Small files pack into shared input partitions sized from the
    manifest's per-file stats (zero plan-time I/O); a tiny target
    degenerates to one file per partition; results identical."""
    from pyspark.sql.types import StructType

    from eel_sdk_spark.sources.eel_datasource import EelBatchReader

    _, tbl = _mk(spark, tmp_path, n=1000, n_parts=8)
    schema = StructType.fromDDL(tbl.row_schema())
    n_files = len(tbl.current().files)
    packed = EelBatchReader({"path": str(tmp_path)}, schema).partitions()
    assert len(packed) < n_files  # test files are KB-scale: they pack
    assert sum(len(p.value) for p in packed) == n_files
    solo = EelBatchReader({"path": str(tmp_path),
                           "scan_partition_bytes": "1"},
                          schema).partitions()
    assert len(solo) == n_files
    _same(spark.read.format("eel").load(str(tmp_path)),
          spark.read.format("eel")
          .option("scan_partition_bytes", "1").load(str(tmp_path)))


def test_scan_target_parallelism_floor():
    """r9: the effective bin size is floored at total/min_parts (like
    Spark's maxSplitBytes derivation) so a table smaller than one
    target bin still fans out across the cluster instead of planning
    ONE partition — but never below the open-cost floor."""
    from eel_sdk_spark.encode import (SCAN_OPEN_COST_BYTES,
                                      effective_scan_target)

    gb, target = 1 << 30, 512 << 20
    # big table: target wins
    assert effective_scan_target(100 * gb, target, 32) == target
    # bench-shaped table (smaller than one bin): fans out per core
    t = effective_scan_target(2 * gb, target, 32)
    assert t == max(SCAN_OPEN_COST_BYTES, -(-2 * gb // 32))
    assert (2 * gb) // t >= 30  # ~one bin per core
    # tiny table: open-cost floor, one bin
    assert effective_scan_target(1 << 20, target, 32) == \
        SCAN_OPEN_COST_BYTES
    # explicit tiny target (the solo-file test path) still wins the min
    assert effective_scan_target(2 * gb, 1, 32) == 1


def test_columns_option_projects_schema(spark, tmp_path):
    """option("columns") cuts the schema at PLAN time; the decode
    kernel's parquet name filter then never reads the other columns'
    payloads (the SPI has no automatic column pruning)."""
    _, tbl = _mk(spark, tmp_path, n=400)
    df = (spark.read.format("eel").option("columns", "url,lang")
          .load(str(tmp_path)))
    assert df.columns == ["url", "lang"]
    _same(df, tbl.read_decoded(spark, columns=["url", "lang"]))
    with pytest.raises(Exception, match="not in stored schema"):
        (spark.read.format("eel").option("columns", "nope")
         .load(str(tmp_path)).count())


def test_range_predicate_pushdown_on_clustered_key(spark, tmp_path):
    """>/< filters intersect the manifest key ranges: a range scan on a
    clustered bigint key prunes to the overlapping files, and results
    stay exact (Spark re-applies the filter)."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan
    from pyspark.sql.types import StructType

    docs = (webtext_df(spark, 4000, parts=4)
            .withColumn("doc_id", F.monotonically_increasing_id()))
    tbl = ManifestTable(str(tmp_path), "blocks")
    encode_with_checkpoint(spark, docs, tbl, key="doc_id", n_parts=16,
                           run_id="r1")
    register(spark)
    schema = StructType.fromDDL(tbl.row_schema())
    n_files = len(tbl.current().files)

    lo = docs.approxQuantile("doc_id", [0.4], 0.0)[0]
    hi = docs.approxQuantile("doc_id", [0.6], 0.0)[0]
    rd = EelPushdownReader({"path": str(tmp_path)}, schema)
    rd.pushFilters([GreaterThanOrEqual(("doc_id",), int(lo)),
                    LessThan(("doc_id",), int(hi))])
    assert 0 < len(rd._files) < n_files  # pruned to the slice
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (spark.read.format("eel").option("pushdown", "true")
               .load(str(tmp_path))
               .filter((F.col("doc_id") >= int(lo))
                       & (F.col("doc_id") < int(hi))))
        want = docs.filter((F.col("doc_id") >= int(lo))
                           & (F.col("doc_id") < int(hi))).count()
        assert got.count() == want
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_sql_over_warehouse_view(spark, tmp_path):
    """SqlContext.register_warehouse: the encoded table as a SQL view
    through the DataSource (direct FROM eel.`path` is unsupported for
    Python data sources — this is the covered route)."""
    from eel_sdk_spark.sql_context import SqlContext

    _, tbl = _mk(spark, tmp_path, n=600)
    ctx = SqlContext(spark)
    try:
        ctx.register_warehouse("docs", str(tmp_path))
        got = ctx.sql("SELECT lang, count(*) AS n FROM docs "
                      "GROUP BY lang ORDER BY lang").df.collect()
        want = (tbl.read_decoded(spark).groupBy("lang").count()
                .orderBy("lang").collect())
        assert [(r["lang"], r["n"]) for r in got] \
            == [(r["lang"], r["count"]) for r in want]
    finally:
        ctx.close()


def _stream_reader(spark, tbl_path, **opts):
    from eel_sdk_spark.sources.eel_datasource import EelStreamReader

    register(spark)
    schema = spark.read.format("eel").load(str(tbl_path)).schema
    options = {"path": str(tbl_path)}
    options.update({k: str(v) for k, v in opts.items()})
    return EelStreamReader(options, schema)


def test_bounded_bootstrap_offset_math(spark, tmp_path):
    """Unit-level pin of the r9 admission-control offsets: cursor
    slices partition the bootstrap file list exactly, caps advance by
    >=1 file, the plain offset sits above any cursor at its sid, and
    a restarted reader's fallback (plain head) can never regress."""
    docs = webtext_df(spark, 900, parts=6)
    tbl = ManifestTable(str(tmp_path), "blocks")
    encode_with_checkpoint(spark, docs, tbl, n_parts=6, run_id="r1")
    head = tbl.current()
    nf = len(head.files)
    assert nf >= 4

    r = _stream_reader(spark, tmp_path, max_files_per_trigger=2, stream_id="u1")
    # cursor advance from scratch: 0 -> 2 -> 4 -> ... -> plain
    offs, pos = [], {"sid": 0}
    r._hwm = pos
    for _ in range(nf):
        off = r.latestOffset()
        offs.append(off)
        if off.get("c") is None:
            break
    assert offs[-1] == {"sid": head.snapshot_id}
    assert all(o["c"] == 2 * (i + 1) for i, o in enumerate(offs[:-1]))

    # partitions() slices are a disjoint exact cover of the file list
    seen = []
    prev = {"sid": 0}
    for off in offs:
        parts = r.partitions(prev, off)
        seen += [p.value[0] for p in parts]
        prev = off
    assert sorted(seen) == sorted(head.files)
    assert len(set(seen)) == nf

    # byte cap: admits at least one file per trigger even when the
    # budget is smaller than any file
    rb = _stream_reader(spark, tmp_path, max_bytes_per_trigger=1, stream_id="u2")
    rb._hwm = {"sid": 0}
    first = rb.latestOffset()
    assert first.get("c") == 1

    # restart fallback: no hwm -> plain head, which _bump ranks above
    # every cursor at that sid (never regresses behind a commit)
    rr = _stream_reader(spark, tmp_path, max_files_per_trigger=2, stream_id="u1")
    off = rr.latestOffset()
    assert off == {"sid": head.snapshot_id}
    assert rr._bump({"sid": head.snapshot_id, "c": 3},
                    {"sid": head.snapshot_id}) == {"sid": head.snapshot_id}

    # commit()/partitions() seed the hwm so bounding survives them
    rc = _stream_reader(spark, tmp_path, max_files_per_trigger=2, stream_id="u1")
    rc.commit({"sid": head.snapshot_id, "c": 2})
    assert rc.latestOffset() == {"sid": head.snapshot_id, "c": 4}


@pytest.mark.parametrize("content", ["", "{\"sid\": 3, \"c\"", "[1, 2]",
                                     "{\"c\": 2}"])
def test_bounded_stream_unreadable_state_fails(spark, tmp_path, content):
    """A cursor state file that exists but cannot be read must fail the
    stream, not read as a fresh one (which would re-deliver the table
    from the origin); only a MISSING file means a fresh stream."""
    import os

    docs = webtext_df(spark, 300, parts=2)
    tbl = ManifestTable(str(tmp_path), "blocks")
    encode_with_checkpoint(spark, docs, tbl, n_parts=4, run_id="r1")
    r = _stream_reader(spark, tmp_path, max_files_per_trigger=1,
                       stream_id="s1")
    assert r._load_state() is None  # no state file yet: fresh
    path = r._state_path()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)
    fresh = _stream_reader(spark, tmp_path, max_files_per_trigger=1,
                           stream_id="s1")
    with pytest.raises(ValueError, match="cursor state"):
        fresh.latestOffset()


def test_stream_bounded_bootstrap_batches_and_restart(spark, tmp_path):
    """e2e pin (VERDICT r8 #1): a bootstrap under max_files_per_trigger
    lands in multiple micro-batches with exact totals, and a restart
    mid-bootstrap stays exactly-once (no dropped or duplicated rows)."""
    import time as _time

    n = 900
    docs = webtext_df(spark, n, parts=6)
    tbl = ManifestTable(str(tmp_path / "src"), "blocks")
    encode_with_checkpoint(spark, docs, tbl, n_parts=6, run_id="r1")
    register(spark)
    nf = len(tbl.current().files)
    assert nf >= 4
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    # idempotent batch-id-keyed sink: a WAL-replayed batch OVERWRITES
    # its own directory (foreachBatch's documented exactly-once
    # contract); a plain append would double-write the replay
    batches: dict[int, int] = {}

    def mk_query():
        def each(df, bid):
            c = df.count()
            if c:
                df.write.mode("overwrite").parquet(f"{sink}/bid={bid}")
                batches[int(bid)] = c  # AFTER the write: the polling
                # loop stops the query on sum(batches) — recording
                # first would let stop() interrupt the final write

        return (spark.readStream.format("eel")
                .option("max_files_per_trigger", 1)
                .option("stream_id", "boot-test")
                .load(str(tmp_path / "src"))
                .writeStream.foreachBatch(each)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="50 milliseconds").start())

    q = mk_query()
    # run until at least 2 bounded batches landed, then kill mid-bootstrap
    for _ in range(600):
        if len(batches) >= 2:
            break
        _time.sleep(0.1)
    q.stop()
    q.awaitTermination(60)
    assert len(batches) >= 2
    assert 0 < sum(batches.values()) < n  # genuinely mid-bootstrap

    q2 = mk_query()
    for _ in range(1200):
        if sum(batches.values()) >= n:
            break
        _time.sleep(0.1)
    q2.stop()
    q2.awaitTermination(60)

    got = spark.read.parquet(sink).drop("bid")
    assert got.count() == n  # exact total across the restart
    assert got.select("url").distinct().count() == n  # exactly-once
    assert len(batches) >= 3  # bounded: bootstrap spanned >=3 batches
    assert max(batches.values()) < n  # no slice carried the whole table


def _drain(spark, src, ckpt, batches, want, settle=True, **caps):
    """Run a foreachBatch stream over ``src`` (bounded by ``caps``) until
    ``want`` rows landed — and, with ``settle``, no batch followed for
    3 s, so a re-delivery after the last wanted row shows — the query
    failed, or 120 s passed. Returns the query's exception, or None."""
    import time as _time

    def each(df, bid):
        c = df.count()
        if c:
            # batch-id-keyed overwrite: a replayed batch replaces itself
            df.write.mode("overwrite").parquet(f"{ckpt}-sink/bid={bid}")
            batches[int(bid)] = c

    rs = spark.readStream.format("eel")
    for k, v in caps.items():
        rs = rs.option(k, v)
    q = (rs.load(src).writeStream.foreachBatch(each)
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="50 milliseconds").start())
    quiet = 0
    for _ in range(1200):
        if not q.isActive:
            break
        seen = len(batches)
        _time.sleep(0.1)
        quiet = quiet + 1 if len(batches) == seen else 0
        if sum(batches.values()) >= want and (quiet >= 30 or not settle):
            break
    if q.isActive:
        q.stop()
    q.awaitTermination(60)
    return q.exception()


@pytest.mark.parametrize("case", ["caps_on_old_checkpoint",
                                  "state_deleted", "state_corrupted"])
def test_bounded_stream_restart_matrix(spark, tmp_path, case):
    """Restarts that lose the bounded cursor's context while the table
    has new snapshots: each either fails loudly or delivers every row
    exactly once — never re-delivers a bootstrap slice."""
    import os

    n, m = 900, 150
    src = str(tmp_path / "src")
    tbl = ManifestTable(src, "blocks")
    encode_with_checkpoint(spark, webtext_df(spark, n, parts=6), tbl,
                           n_parts=6, run_id="r1")
    register(spark)
    ckpt = str(tmp_path / "ckpt")
    caps = {"max_files_per_trigger": 1, "stream_id": "matrix"}
    state = os.path.join(src, "_streams", "matrix.offset.json")
    batches: dict[int, int] = {}
    if case == "caps_on_old_checkpoint":
        assert _drain(spark, src, ckpt, batches, n) is None  # unbounded
        assert sum(batches.values()) == n
    else:  # killed mid-bootstrap
        assert _drain(spark, src, ckpt, batches, 1, settle=False,
                      **caps) is None
        assert 0 < sum(batches.values()) < n
        if case == "state_deleted":
            os.remove(state)
        else:
            with open(state, "w") as f:
                f.write("{\"sid\": 1, \"c\"")
    inc = (webtext_df(spark, n + m, parts=1)
           .exceptAll(webtext_df(spark, n, parts=1)))
    # the append's files sort FIRST in the head's file list, so a cursor
    # sliced against it lands on files the bootstrap already delivered
    tbl.new_data_path = lambda: os.path.join(tbl.data_dir, "0")
    append_encode(spark, inc, tbl, run_id="r2")
    err = _drain(spark, src, ckpt, batches, n + m, **caps)
    if err is None:
        got = spark.read.parquet(f"{ckpt}-sink")
        assert got.count() == n + m
        assert got.select("url").distinct().count() == n + m
    else:
        assert "eel stream" in str(err)


def test_bounded_stream_needs_local_writable_warehouse(spark, tmp_path):
    """Bounded mode persists its cursor under <warehouse>/_streams/, so
    a warehouse that is not a writable local directory is refused when
    the stream is constructed; unbounded streams are unaffected."""
    from eel_sdk_spark.sources.eel_datasource import EelStreamReader

    docs = webtext_df(spark, 200, parts=2)
    tbl = ManifestTable(str(tmp_path / "wh"), "blocks")
    encode_with_checkpoint(spark, docs, tbl, n_parts=2, run_id="r1")
    schema = docs.schema
    a_file = tmp_path / "plain.txt"
    a_file.write_text("x")
    caps = {"max_files_per_trigger": "1", "stream_id": "p"}
    for path in (str(a_file), str(tmp_path / "missing"),
                 "s3a://bucket/wh"):
        with pytest.raises(ValueError, match="writable local directory"):
            EelStreamReader({"path": path, **caps}, schema)
        EelStreamReader({"path": path}, schema)  # unbounded: no state
    r = EelStreamReader({"path": f"{tmp_path / 'wh'}:blocks", **caps},
                        schema)
    assert r._state_path() == str(tmp_path / "wh" / "_streams"
                                  / "p.offset.json")


def test_cursor_end_needs_a_start_minted_on_its_list(spark, tmp_path):
    """A file cursor indexes one snapshot's file list: a window whose
    start consumed a snapshot (plain sid > 0) or holds a cursor over
    another snapshot's list raises instead of slicing the end's list,
    in bounded and unbounded readers alike; windows within one list
    still plan."""
    docs = webtext_df(spark, 600, parts=4)
    tbl = ManifestTable(str(tmp_path), "blocks")
    encode_with_checkpoint(spark, docs, tbl, n_parts=4, run_id="r1")
    b = tbl.current().snapshot_id
    inc = (webtext_df(spark, 700, parts=1)
           .exceptAll(webtext_df(spark, 600, parts=1)))
    append_encode(spark, inc, tbl, run_id="r2")
    h = tbl.current().snapshot_id
    for opts in ({}, {"max_files_per_trigger": 1, "stream_id": "g"}):
        r = _stream_reader(spark, tmp_path, **opts)
        for start, end in (({"sid": b}, {"sid": h, "c": 1}),
                           ({"sid": b, "c": 1}, {"sid": h, "c": 2}),
                           ({"sid": b, "c": 1}, {"sid": h})):
            with pytest.raises(ValueError, match="not minted"):
                r.partitions(start, end)
        r = _stream_reader(spark, tmp_path, **opts)
        assert len(r.partitions({"sid": 0}, {"sid": h, "c": 1})) == 1
        assert len(r.partitions({"sid": h, "c": 1}, {"sid": h, "c": 2})) == 1
        assert r.partitions({"sid": b}, {"sid": h})  # the increment


def test_read_decoded_and_datasource_share_bins(spark, tmp_path,
                                                monkeypatch):
    """read_decoded (``decode_files_df``) and the DataSource reader plan
    the same tasks for the same snapshot: both bin with
    ``encode.bin_files``, floored at the cluster's parallelism."""
    from pyspark.sql.types import StructType

    from eel_sdk_spark import encode
    from eel_sdk_spark.sources.eel_datasource import EelBatchReader

    _, tbl = _mk(spark, tmp_path, n=1200, n_parts=6)
    # bins at the parallelism floor rather than the open-cost one, so
    # the KB-scale test table splits into several
    monkeypatch.setattr(encode, "SCAN_OPEN_COST_BYTES", 1)
    monkeypatch.setenv("SPARK_GRAFT_CPUS",
                       str(spark.sparkContext.defaultParallelism))
    real, planned = encode.bin_files, []

    def spy(*a, **k):
        planned.append(real(*a, **k))
        return planned[-1]

    monkeypatch.setattr(encode, "bin_files", spy)
    tbl.read_decoded(spark)
    reader = EelBatchReader({"path": str(tmp_path)},
                            StructType.fromDDL(tbl.row_schema()))
    bins = [p.value for p in reader.partitions()]
    assert len(planned) == 2 and planned[0] == planned[1] == bins
    assert len(bins) > 1
