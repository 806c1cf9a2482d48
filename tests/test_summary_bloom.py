"""Lookup tier 0: manifest-resident per-file SUMMARY blooms + auto-sized
per-block bloom bits (r8, VERDICT r7 #2/#3).

The measured fp law (BENCH.md r7) is linear in file count: at 100k files
a 10-bit bloom wastes ~1000 file opens per lookup. Two fixes land here:
(a) encode_df auto-sizes bits/key from its n_parts file hint (recorded
in the run as ``bloom_bits``; analyze-table flags grown tables), and
(b) the encoder stamps a coarse fixed-size summary bloom per file into
the snapshot JSON (sentinel block rows -> _run_record), which lookups
probe DRIVER-SIDE before opening any file or index — candidate sets
shrink with zero I/O.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import eel_sdk_spark.checkpoint as CP
from eel_sdk_spark.checkpoint import (encode_with_checkpoint, fsck,
                                      fsck_summary, point_lookup)
from eel_sdk_spark.corpus import SCHEMA_DDL, webtext_df
from eel_sdk_spark.encode import (SUMMARY_COL_PREFIX, auto_bloom_bits,
                                  effective_bloom_bits,
                                  summary_may_contain)
from eel_sdk_spark.table import ManifestTable


def _mk(spark, tmp_path, name, n=3000, parts=8, **kw):
    df = webtext_df(spark, n, parts=4).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), name)
    encode_with_checkpoint(spark, df, tbl, n_parts=parts, run_id="r1",
                           **kw)
    return df, tbl


def test_auto_bloom_bits_ladder():
    """fp(bits) x files <= ~2 expected wasted opens at every rung; the
    10-bit floor is preserved for small tables (measured-default)."""
    assert auto_bloom_bits(8) == 10
    assert auto_bloom_bits(64) == 10
    assert auto_bloom_bits(2048) == 20
    assert auto_bloom_bits(100_000) == 48
    assert effective_bloom_bits(8, None) == 10
    assert effective_bloom_bits(100_000, None) == 48
    assert effective_bloom_bits(100_000, 12) == 12  # explicit knob wins


def test_run_records_bloom_bits_and_summaries(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "sb", parts=8, shuffle=True)
    run = tbl.current().properties["runs"][-1]
    assert run["bloom_bits"] == 10
    fsb = run["file_summary_blooms"]["url"]
    nonempty = [b for b, st in run["file_stats"].items() if st[0] > 0]
    # every non-empty file carries a summary; stats never count sentinels
    assert sorted(fsb) == sorted(nonempty)
    assert run["n_rows"] == 3000
    assert not any(c.startswith(SUMMARY_COL_PREFIX)
                   for c in run["codec_mix"])
    # the stored words answer membership driver-side
    target = df.first()
    hits = sum(summary_may_contain(s["b64"], target["url"])
               for s in fsb.values())
    assert 1 <= hits <= 2  # its own file + possible fp


def test_tier0_consults_before_narrow_scan(spark, tmp_path, monkeypatch):
    """Consult order pinned: the summary tier must shrink the candidate
    set BEFORE _bloom_scan_files opens any footer — on a part-scattered
    banded table the scan sees ~1 file instead of all of them."""
    df, tbl = _mk(spark, tmp_path, "sb0", parts=8)  # banded: vacuous parts
    n_files = len([f for f in tbl.current().files])
    seen: list[int] = []
    real = CP._bloom_scan_files

    def spy(alive, names):
        seen.append(len(alive))
        return real(alive, names)

    monkeypatch.setattr(CP, "_bloom_scan_files", spy)
    target = df.first()["url"]
    assert point_lookup(spark, tbl, target, SCHEMA_DDL).count() == 1
    # either the summary pruned to <=2 files (scan skipped entirely) or
    # the scan saw a strictly smaller candidate set than the file count
    assert not seen or max(seen) < max(n_files, 3)
    # and an ABSENT key prunes everything driver-side (no file can hold
    # it) -> empty result without decoding every file
    assert point_lookup(spark, tbl, "https://no.such/url",
                        SCHEMA_DDL).count() == 0


def test_summary_survives_decode_fsck_compact(spark, tmp_path):
    """Sentinel rows are invisible to every read path: decode roundtrip
    exact, fsck verifies their CRC as ok blocks, compaction drops them
    (a rewritten file's summary would describe the wrong rows)."""
    df, tbl = _mk(spark, tmp_path, "sbinv", parts=8, shuffle=True)
    back = tbl.read_decoded(spark, SCHEMA_DDL)
    assert back.count() == 3000 and back.exceptAll(df).count() == 0
    assert fsck_summary(fsck(spark, tbl))["healthy"]

    tbl.compact(spark, 2)
    comp = spark.read.option("mergeSchema", "true").parquet(
        *tbl.current().files)
    assert comp.filter(
        F.col("col").startswith(SUMMARY_COL_PREFIX)).count() == 0
    assert tbl.read_decoded(spark, SCHEMA_DDL).count() == 3000
    # post-compact lookups still work (summaries absent -> conservative)
    assert point_lookup(spark, tbl, df.first()["url"],
                        SCHEMA_DDL).count() == 1


def test_analyze_table_flags_undersized_blooms(spark, tmp_path, capsys):
    import json

    from jobs.cli import main as cli_main

    df, tbl = _mk(spark, tmp_path, "sbgrow", parts=4, shuffle=True)
    cli_main(["analyze-table", "--warehouse", str(tmp_path),
              "--table", "sbgrow"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["bloom_undersized"] is None  # 4 files, 10 bits: healthy
    # simulate a grown table: same runs, inflated live file list
    snap = tbl.current()
    fake = snap.files * 1000  # 4000 "files"
    tbl.commit(fake, snap.schema_ddl, dict(snap.properties),
               mode="overwrite")
    cli_main(["analyze-table", "--warehouse", str(tmp_path),
              "--table", "sbgrow"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["bloom_undersized"]["recorded_bits"] == 10
    assert out["bloom_undersized"]["recommended_bits"] >= 20


def test_bloom_index_pyarrow_consult_past_saturation(spark, tmp_path):
    """r9 tier 0b: when per-file key counts saturate the 1 KB summary
    (every probe hits), the session-less planning path consults the r7
    bloom INDEX sidecar with pyarrow and still prunes to ~1 file; a
    missing/unreadable sidecar degrades conservatively, and the Spark
    consult's verdicts agree with the pyarrow ones."""
    import os

    from eel_sdk_spark.checkpoint import (_bloom_index_verdicts_pyarrow,
                                          build_bloom_index,
                                          prune_files_metadata)

    # 24k docs / 8 part files ~= 3k keys per file with hash layout —
    # dense enough that the coarse summaries stop pruning for most
    # probes while the per-block blooms stay selective
    df = webtext_df(spark, 24_000, parts=8).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "bix")
    encode_with_checkpoint(spark, df, tbl, n_parts=8, run_id="r1",
                           shuffle=True)
    build_bloom_index(spark, tbl, key="url")
    snap = tbl.current()
    files = list(snap.files)
    probes = [r["url"] for r in df.select("url").limit(16).collect()]

    # bit-level agreement: the pyarrow verdicts must equal the Spark
    # bloom_may_contain verdicts over the same sidecar, probe by probe
    from eel_sdk_spark.encode import bloom_may_contain

    idx = snap.properties["bloom_index"]
    kept_sizes = []
    for url in probes:
        sv = (spark.read.parquet(*idx["files"]).groupBy("file")
              .agg(F.max(bloom_may_contain(url).cast("int"))
                   .alias("hit")).collect())
        spark_hits = {r["file"] for r in sv if r["hit"]}
        covered, hits = _bloom_index_verdicts_pyarrow(snap, url, {"url"})
        assert hits == spark_hits
        assert covered == {r["file"] for r in sv}
        kept = prune_files_metadata(snap, files, "url", url)
        kept_sizes.append(len(kept))
        assert kept, "pruned to nothing"
    assert sum(kept_sizes) / len(kept_sizes) <= 3  # ~1-2 typical

    # absent key: prunes to nothing
    kept = prune_files_metadata(snap, files, "url",
                                "https://nosuch.example/zzz")
    assert kept == []

    # direct verdicts: pyarrow consult covers every indexed file and
    # repeated probes reuse the snapshot-cached arrays
    v = _bloom_index_verdicts_pyarrow(snap, probes[0], {"url"})
    assert v is not None
    covered, hits = v
    # files without key blocks stay uncovered by design (conservative
    # keep); everything covered must be a real table file
    assert covered and covered <= {os.path.basename(f) for f in files}
    assert hits and hits <= covered
    assert getattr(snap, "_bix_cache", None) is not None

    # fallback: unreadable sidecar -> tier skipped, conservative keep
    import shutil

    idx_dir = os.path.join(tbl.dir, "bloom_index")
    moved = idx_dir + ".bak"
    shutil.move(idx_dir, moved)
    snap2 = tbl.current()  # fresh snapshot object (no cache)
    assert _bloom_index_verdicts_pyarrow(snap2, probes[0],
                                         {"url"}) is None
    kept2 = prune_files_metadata(snap2, files, "url", probes[0])
    assert set(kept2) >= set(
        prune_files_metadata(snap, files, "url", probes[0]))
    shutil.move(moved, idx_dir)
