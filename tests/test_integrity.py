"""Block payload checksums + fsck: end-to-end bit-rot detection.

At 100 TB silent corruption between encode and decode (storage bit-rot,
partial uploads, buggy copy tools) is a when, not an if. Every encoded
block carries ``payload_crc`` = crc32(header) chained into
crc32(payload); the storage decode path verifies it by default and
``checkpoint.fsck`` audits a whole table (any snapshot) without
decoding values. The reference delegates this to ORC's file checksums
(eel-orc/src/main/scala/io/eels/component/orc/OrcSink.scala) — here it
covers every layout the engine writes.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from eel_sdk_spark.checkpoint import encode_with_checkpoint, fsck, fsck_summary
from eel_sdk_spark.corpus import SCHEMA_DDL, webtext_df
from eel_sdk_spark.encode import decode_blocks_df, encode_df
from eel_sdk_spark.table import ManifestTable


def _encoded_table(spark, tmp_path, name: str, n: int = 3000,
                   parts: int = 8) -> ManifestTable:
    df = webtext_df(spark, n, parts=parts)
    tbl = ManifestTable(str(tmp_path), name)
    encode_with_checkpoint(spark, df, tbl, n_parts=parts, run_id="r1")
    return tbl


def _drop_hadoop_crc_sidecar(path: str) -> None:
    """Rewriting a file out-of-band invalidates Hadoop local-FS's own
    ``.name.crc`` sidecar (which exists only on LocalFileSystem — object
    stores have no such thing, which is exactly why the engine's CRC
    lives IN the block rows). Remove it so the Spark-side read path in
    these tests exercises OUR verification, not Hadoop's."""
    d, b = os.path.split(path)
    side = os.path.join(d, f".{b}.crc")
    if os.path.exists(side):
        os.remove(side)


def _tamper_payload(path: str) -> dict:
    """Flip one byte in the middle of the first block's payload and
    rewrite the file. Returns the victim block's coordinates. CRC32 is
    linear, so any single-byte flip is guaranteed detected."""
    t = pq.read_table(path)
    idx = t.schema.get_field_index("payload")
    payloads = t.column("payload").to_pylist()
    victim = bytearray(payloads[0])
    victim[len(victim) // 2] ^= 0xFF
    payloads[0] = bytes(victim)
    t = t.set_column(idx, "payload", pa.array(payloads, type=pa.binary()))
    pq.write_table(t, path)
    _drop_hadoop_crc_sidecar(path)
    return {k: t.column(k)[0].as_py()
            for k in ("part_id", "block_seq", "writer_uid", "col")}


def _strip_crc_column(path: str) -> None:
    """Rewrite a block file WITHOUT payload_crc — a file written by the
    engine before the column existed."""
    t = pq.read_table(path)
    t = t.drop_columns(["payload_crc"])
    pq.write_table(t, path)
    _drop_hadoop_crc_sidecar(path)


def test_crc_present_and_verified_roundtrip(spark):
    df = webtext_df(spark, 2000, parts=4)
    blocks = encode_df(df, key="url", n_parts=4).cache()
    assert blocks.filter(F.col("payload_crc").isNull()).count() == 0
    out = decode_blocks_df(blocks, SCHEMA_DDL, verify=True)
    assert out.count() == 2000
    blocks.unpersist()


def test_tampered_block_fails_decode_with_coordinates(spark, tmp_path):
    tbl = _encoded_table(spark, tmp_path, "tamper")
    victim_file = sorted(tbl.current().files)[0]
    coords = _tamper_payload(victim_file)

    with pytest.raises(Exception) as ei:
        tbl.read_decoded(spark, SCHEMA_DDL).count()
    msg = str(ei.value)
    assert "CRC mismatch" in msg
    assert f"col={coords['col']!r}" in msg
    assert os.path.basename(victim_file) in msg

    report = fsck(spark, tbl).cache()
    bad = report.filter("status = 'bad_crc'").collect()
    assert len(bad) == 1
    assert bad[0]["file"] == os.path.basename(victim_file)
    assert bad[0]["col"] == coords["col"]
    assert bad[0]["part_id"] == coords["part_id"]
    assert bad[0]["block_seq"] == coords["block_seq"]
    assert bad[0]["writer_uid"] == coords["writer_uid"]
    s = fsck_summary(report)
    assert s["blocks_bad_crc"] == 1 and not s["healthy"]
    assert s["blocks_ok"] > 0
    report.unpersist()


def test_legacy_files_without_crc_still_decode(spark, tmp_path):
    """Mixed-generation table: one file predates the crc column. Decode
    (both paths) must treat its blocks as uncovered, not fail; fsck
    counts them as no_crc and the table stays healthy."""
    tbl = _encoded_table(spark, tmp_path, "legacy")
    legacy_file = sorted(tbl.current().files)[0]
    _strip_crc_column(legacy_file)

    n = tbl.read_decoded(spark, SCHEMA_DDL).count()
    assert n == 3000
    # shuffle-regroup path over the mixed-schema union
    blocks = spark.read.option("mergeSchema", "true") \
        .parquet(*tbl.current().files)
    assert decode_blocks_df(blocks, SCHEMA_DDL, verify=True).count() == 3000

    report = fsck(spark, tbl).cache()
    s = fsck_summary(report)
    assert s["blocks_no_crc"] > 0 and s["blocks_bad_crc"] == 0
    assert s["healthy"]
    uncov = report.filter("status = 'no_crc'").collect()
    assert [r["file"] for r in uncov] == [os.path.basename(legacy_file)]
    report.unpersist()


def test_fsck_reports_missing_and_unreadable_files(spark, tmp_path):
    tbl = _encoded_table(spark, tmp_path, "drift", n=1000, parts=2)
    real = list(tbl.current().files)
    junk = str(tmp_path / "junk.parquet")
    with open(junk, "wb") as f:
        f.write(b"this is not parquet")
    report = fsck(spark, files=real + [str(tmp_path / "gone.parquet"),
                                       junk]).cache()
    s = fsck_summary(report)
    assert s["missing_files"] == 1
    assert s["unreadable_files"] == 1
    assert not s["healthy"]
    assert s["blocks_bad_crc"] == 0 and s["blocks_ok"] > 0
    report.unpersist()


def test_crc_survives_compaction(spark, tmp_path):
    """compact() rewrites block rows wholesale — stored crcs still match
    their (unchanged) header/payload bytes afterwards, and coverage
    stays total."""
    tbl = _encoded_table(spark, tmp_path, "comp")
    tbl.compact(spark, n_files=2)
    s = fsck_summary(fsck(spark, tbl))
    assert s["healthy"] and s["blocks_bad_crc"] == 0
    assert s["blocks_no_crc"] == 0 and s["blocks_ok"] > 0
    assert tbl.read_decoded(spark, SCHEMA_DDL).count() == 3000


# ---- lineage-driven repair -------------------------------------------------

def _first_nonempty(files) -> str:
    """Part-aligned writes can leave hash-empty output files — tampering
    needs a file that actually holds a block."""
    for f in sorted(files):
        if pq.ParquetFile(f).metadata.num_rows > 0:
            return f
    raise AssertionError("no non-empty file")


def _rows_equal(a, b) -> bool:
    return (a.count() == b.count()
            and a.exceptAll(b).count() == 0
            and b.exceptAll(a).count() == 0)


def test_repair_part_aligned_is_surgical(spark, tmp_path):
    """Part-aligned layout: one damaged file costs only its own parts —
    the cascade stops, most files survive, and the healed table is
    row-exact against the original input."""
    from eel_sdk_spark.checkpoint import repair_table

    df = webtext_df(spark, 4000, parts=8).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "heal")
    encode_with_checkpoint(spark, df, tbl, n_parts=8, run_id="r1",
                           shuffle=True)
    n_files = len(tbl.current().files)
    victim = _first_nonempty(tbl.current().files)
    _tamper_payload(victim)

    plan = repair_table(spark, tbl, df, dry_run=True)
    assert not plan["full_rebuild"]
    assert os.path.basename(victim) in plan["dropped_files"]
    assert len(plan["dropped_files"]) < n_files
    # dry run committed nothing
    assert os.path.basename(victim) in map(os.path.basename,
                                           tbl.current().files)

    out = repair_table(spark, tbl, df)
    assert not out["full_rebuild"]
    assert out["surviving_files"] > 0
    assert fsck_summary(fsck(spark, tbl))["healthy"]
    decoded = tbl.read_decoded(spark, SCHEMA_DDL)
    assert _rows_equal(decoded, df)
    df.unpersist()


def test_repair_banded_layout_full_rebuild(spark, tmp_path):
    """Banded 'local' layout: every file spans the part range, so any
    damage honestly cascades to a full re-encode — and the result is
    still row-exact."""
    from eel_sdk_spark.checkpoint import repair_table

    df = webtext_df(spark, 3000, parts=8).cache()
    df.count()
    tbl = _encoded_table(spark, tmp_path, "healband", n=3000, parts=8)
    _tamper_payload(sorted(tbl.current().files)[0])
    out = repair_table(spark, tbl, df)
    assert out["full_rebuild"]
    assert fsck_summary(fsck(spark, tbl))["healthy"]
    assert _rows_equal(tbl.read_decoded(spark, SCHEMA_DDL), df)
    df.unpersist()


def test_repair_missing_file(spark, tmp_path):
    """A deleted data file (manifest/storage drift) heals from lineage:
    its parts are re-encoded from input, rows come back exact."""
    from eel_sdk_spark.checkpoint import repair_table

    df = webtext_df(spark, 4000, parts=8).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "gone")
    encode_with_checkpoint(spark, df, tbl, n_parts=8, run_id="r1",
                           shuffle=True)
    victim = _first_nonempty(tbl.current().files)
    os.remove(victim)
    _drop_hadoop_crc_sidecar(victim)
    out = repair_table(spark, tbl, df)
    assert not out["full_rebuild"]
    assert fsck_summary(fsck(spark, tbl))["healthy"]
    assert _rows_equal(tbl.read_decoded(spark, SCHEMA_DDL), df)
    df.unpersist()


def test_repair_refuses_drifted_input(spark, tmp_path):
    """Repairing from input whose content differs from what the damaged
    run encoded would silently replace data — fingerprint guard."""
    from eel_sdk_spark.checkpoint import repair_table

    df = webtext_df(spark, 2000, parts=4)
    tbl = ManifestTable(str(tmp_path), "drifted")
    encode_with_checkpoint(spark, df, tbl, n_parts=4, run_id="r1",
                           shuffle=True)
    _tamper_payload(_first_nonempty(tbl.current().files))
    drifted = df.withColumn("url", F.concat(F.col("url"), F.lit("?x")))
    with pytest.raises(ValueError, match="fingerprint"):
        repair_table(spark, tbl, drifted)


def test_repair_healthy_table_is_noop(spark, tmp_path):
    from eel_sdk_spark.checkpoint import repair_table

    df = webtext_df(spark, 1000, parts=2)
    tbl = ManifestTable(str(tmp_path), "fine")
    encode_with_checkpoint(spark, df, tbl, n_parts=2, run_id="r1")
    snap_before = tbl.current().snapshot_id
    out = repair_table(spark, tbl, df)
    assert out["healthy"] and out["dropped_files"] == []
    assert tbl.current().snapshot_id == snap_before


def test_repair_refuses_multi_run_table_by_default(spark, tmp_path):
    """ADVICE r7: append/upsert/purge runs record fingerprint=None, which
    the old guard silently passed — repairing a multi-run table from the
    bootstrap input would drop the appended rows. The guard must demand
    an explicit verify_fingerprint=False, and with the true union input
    the repair must then be row-exact."""
    from eel_sdk_spark.checkpoint import append_encode, repair_table

    df = webtext_df(spark, 2000, parts=4).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "multirun")
    encode_with_checkpoint(spark, df, tbl, n_parts=4, run_id="r1",
                           shuffle=True)
    extra = (webtext_df(spark, 300, parts=1)
             .withColumn("url", F.concat(F.lit("https://x.example/"),
                                         F.col("url")))).cache()
    extra.count()
    append_encode(spark, extra, tbl, run_id="a1")
    _tamper_payload(_first_nonempty(tbl.current().files))

    with pytest.raises(ValueError, match="fingerprint"):
        repair_table(spark, tbl, df)

    union = df.unionByName(extra)
    out = repair_table(spark, tbl, union, verify_fingerprint=False)
    assert not out["healthy"]
    assert fsck_summary(fsck(spark, tbl))["healthy"]
    assert _rows_equal(tbl.read_decoded(spark, SCHEMA_DDL), union)
    df.unpersist()
    extra.unpersist()


def test_repair_reads_uncovered_parts_in_driver(spark, tmp_path):
    """A file committed without a run record has no manifest coverage:
    repair reads its exact parts from its block rows in the driver. A
    damaged covered file sharing a part with it drops both, and the
    parts to re-encode are exactly the parts the two files hold."""
    from eel_sdk_spark.checkpoint import repair_table
    from eel_sdk_spark.encode import PART_COL, with_part_id

    def parts_of(path):
        return set(pq.read_table(path, columns=["parts"]).column("parts")
                   .combine_chunks().flatten().to_pylist())

    df = webtext_df(spark, 4000, parts=8).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "bare")
    encode_with_checkpoint(spark, df, tbl, n_parts=8, run_id="r1",
                           shuffle=True)
    victim = _first_nonempty(tbl.current().files)
    fresh = webtext_df(spark, 400, parts=2).withColumn(
        "url", F.concat(F.lit("https://bare."), F.col("url")))
    one_part = (with_part_id(fresh, "url", 8)
                .filter(F.col(PART_COL) == min(parts_of(victim)))
                .drop(PART_COL))
    job_dir = tbl.new_data_path()
    encode_df(one_part, key="url", n_parts=8, shuffle=True) \
        .write.mode("overwrite").parquet(job_dir)
    bare = [f for f in ManifestTable.list_written_files(job_dir)
            if parts_of(f)]
    tbl.commit(bare, "", mode="append")  # no run record: uncovered
    _tamper_payload(victim)

    plan = repair_table(spark, tbl, df, dry_run=True)
    assert not plan["full_rebuild"] and plan["surviving_files"] > 0
    assert set(plan["dropped_files"]) == {os.path.basename(f)
                                          for f in [victim] + bare}
    assert plan["repaired_parts"] == sorted(
        set().union(*map(parts_of, [victim] + bare)))
    df.unpersist()
