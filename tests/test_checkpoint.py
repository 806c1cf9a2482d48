"""Manifest table atomicity + kill-and-resume idempotency.

North rule: "every stage checkpoints per-partition lineage + encode
metrics so runs resume idempotently". Models the reference's staged
commit (HiveSinkWriter.scala:78-101) upgraded to snapshot isolation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eel_sdk_spark.checkpoint import committed_part_ids, encode_with_checkpoint
from eel_sdk_spark.corpus import SCHEMA_DDL, webtext_df
from eel_sdk_spark.encode import decode_blocks_df
from eel_sdk_spark.table import ManifestTable

N = 4000
PARTS = 8


def test_manifest_commit_append_and_read(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path), "t1")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    s1 = tbl.write_df(df, "id bigint, v bigint")
    assert s1.snapshot_id == 1
    assert tbl.read(spark).count() == 100
    s2 = tbl.write_df(spark.range(50).withColumn("v", F.lit(0)),
                      "id bigint, v bigint")
    assert s2.parent_id == 1
    assert tbl.read(spark).count() == 150
    # time travel to snapshot 1
    assert tbl.read(spark, snapshot_id=1).count() == 100


def test_concurrent_commits_all_survive(tmp_path):
    """16 committers racing on one table (two streams, a compactor, ... —
    the shapes a shared table actually sees): the advisory-lock CAS must
    serialize them so EVERY commit's files and properties land — no
    overwritten manifests, no backwards pointer, no lost epoch keys."""
    import concurrent.futures as cf

    tbl = ManifestTable(str(tmp_path), "race")

    def commit_one(i: int) -> int:
        return tbl.commit([f"/data/f{i}.parquet"], "x int",
                          {f"epoch.s{i}": i}).snapshot_id

    with cf.ThreadPoolExecutor(max_workers=16) as ex:
        ids = list(ex.map(commit_one, range(16)))
    assert sorted(ids) == list(range(1, 17))  # distinct, gap-free chain
    cur = tbl.current()
    assert cur.snapshot_id == 16
    assert sorted(cur.files) == sorted(f"/data/f{i}.parquet"
                                       for i in range(16))
    assert all(cur.properties[f"epoch.s{i}"] == i for i in range(16))
    # parent chain is intact back to the first commit
    seen = []
    s = cur
    while s.parent_id:
        seen.append(s.snapshot_id)
        s = tbl.snapshot(s.parent_id)
    assert len(seen) == 15


def test_uncommitted_write_is_invisible(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path), "t2")
    df = spark.range(10)
    # simulate a crash: data files written, commit never happened
    df.write.mode("overwrite").parquet(tbl.new_data_path())
    assert tbl.current() is None


def test_kill_and_resume_idempotent(spark, tmp_path):
    df = webtext_df(spark, N, parts=4).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "blocks")

    # run 1 "dies" after committing only 3 of 8 parts
    r1 = encode_with_checkpoint(spark, df, tbl, n_parts=PARTS, run_id="r1",
                                fail_after_commit_parts=3)
    assert len(r1["part_ids"]) == 3
    assert committed_part_ids(tbl) == set(r1["part_ids"])

    # run 2 resumes: only the remaining parts are encoded
    r2 = encode_with_checkpoint(spark, df, tbl, n_parts=PARTS, run_id="r2")
    assert set(r1["part_ids"]).isdisjoint(r2["part_ids"])
    assert len(r1["part_ids"]) + len(r2["part_ids"]) == PARTS

    # run 3 is a no-op: everything committed
    r3 = encode_with_checkpoint(spark, df, tbl, n_parts=PARTS, run_id="r3")
    assert r3["part_ids"] == []

    # decoded union equals the input exactly (no dupes, no gaps)
    decoded = decode_blocks_df(tbl.read(spark), SCHEMA_DDL)
    assert decoded.count() == N
    assert decoded.select("url").distinct().count() == N
    bad = (decoded.alias("d").join(df.alias("o"), "url")
           .filter(~F.col("d.text").eqNullSafe(F.col("o.text"))).count())
    assert bad == 0
    df.unpersist()


def test_banded_parts_are_exact_not_range_filled(spark, tmp_path):
    """The banded 'local' layout records each block's EXACT part set. A
    range fill ([lo..hi]) would be catastrophic on resume: parts inside
    the gap would read as committed and their rows silently dropped.

    (1) unit: an unsorted part batch with gaps yields parts == the exact
    distinct set; (2) integration: after a partial commit of a
    NON-CONTIGUOUS part subset ({1,4,7}), resume encodes exactly the
    complement and the decoded union equals the input with no loss."""
    import pyarrow as pa

    from eel_sdk_spark.encode import PART_COL, _encode_batches, with_part_id

    batch = pa.record_batch(
        [pa.array([5, 5, 2, 9, 2], type=pa.int32()),
         pa.array(["a", "b", "c", "d", "e"])],
        names=[PART_COL, "txt"])
    out = list(_encode_batches(iter([batch]), {}, split_parts=False))
    assert len(out) == 1
    row = out[0].to_pylist()[0]
    assert row["parts"] == [2, 5, 9]  # exact, no 3,4,6,7,8 fill
    assert row["part_id"] == 2 and row["part_hi"] == 9

    df = webtext_df(spark, N, parts=4).cache()
    df.count()
    keep = {1, 4, 7}
    subset = (with_part_id(df, "url", PARTS)
              .filter(F.col(PART_COL).isin(*keep)).drop(PART_COL))
    tbl = ManifestTable(str(tmp_path), "gapped")
    r1 = encode_with_checkpoint(spark, subset, tbl, n_parts=PARTS,
                                run_id="r1")
    assert set(r1["part_ids"]) == keep  # exact despite banded gaps
    r2 = encode_with_checkpoint(spark, df, tbl, n_parts=PARTS, run_id="r2",
                                verify_fingerprint=False)
    assert set(r2["part_ids"]) == set(range(PARTS)) - keep
    decoded = decode_blocks_df(tbl.read(spark), SCHEMA_DDL)
    assert decoded.count() == N
    assert decoded.select("url").distinct().count() == N
    df.unpersist()


def test_cli_history_walks_snapshot_chain(spark, tmp_path, capsys):
    """`eel history`: newest-first snapshot chain from the manifest alone
    (Iceberg table.history parity) — and it stops cleanly at a
    gc-expired parent instead of erroring."""
    import json as _json

    from jobs.cli import main as cli_main

    df = webtext_df(spark, 300, parts=2)
    tbl = ManifestTable(str(tmp_path), "blocks")
    encode_with_checkpoint(spark, df, tbl, n_parts=2, run_id="h1")
    tbl.compact(spark, 1)  # snapshot 2 (rewrite commit)
    cli_main(["history", "--warehouse", str(tmp_path)])
    lines = [_json.loads(x) for x in
             capsys.readouterr().out.strip().splitlines()]
    assert [x["snapshot_id"] for x in lines] == [2, 1]
    assert lines[0]["runs"] == ["h1"] and lines[1]["runs"] == ["h1"]
    assert lines[0]["parent_id"] == 1 and lines[0]["committed_at"]

    tbl.expire_snapshots(keep_last=1)
    cli_main(["history", "--warehouse", str(tmp_path)])
    lines2 = [_json.loads(x) for x in
              capsys.readouterr().out.strip().splitlines()]
    assert [x["snapshot_id"] for x in lines2] == [2]  # expired parent: stop


def test_lineage_metrics_recorded(spark, tmp_path):
    df = webtext_df(spark, 1000, parts=2)
    tbl = ManifestTable(str(tmp_path), "blocks")
    run = encode_with_checkpoint(spark, df, tbl, n_parts=4, run_id="m1")
    assert run["n_rows"] == 1000
    assert run["enc_bytes"] > 0
    assert run["raw_bytes"] > run["enc_bytes"]
    assert run["codec_mix"]
    snap = tbl.current()
    assert snap.properties["runs"][0]["run_id"] == "m1"
    assert snap.properties["runs"][0]["fingerprint"]


def test_point_lookup(spark, tmp_path):
    from eel_sdk_spark.checkpoint import point_lookup
    from eel_sdk_spark.corpus import SCHEMA_DDL

    df = webtext_df(spark, 2000, parts=4)
    tbl = ManifestTable(str(tmp_path), "pl")
    encode_with_checkpoint(spark, df, tbl, n_parts=16, run_id="pl")
    target = df.select("url", "text").collect()[123]
    out = point_lookup(spark, tbl, target["url"], SCHEMA_DDL)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["text"] == target["text"]
    miss = point_lookup(spark, tbl, "https://no.such/url", SCHEMA_DDL)
    assert miss.count() == 0


def test_point_lookup_salted(spark, tmp_path):
    from eel_sdk_spark.checkpoint import point_lookup

    df = (webtext_df(spark, 2000, parts=4)
          .withColumn("domain", F.split(F.col("url"), "/")[2]))
    ddl = SCHEMA_DDL + ", domain string"
    tbl = ManifestTable(str(tmp_path), "pls")
    encode_with_checkpoint(spark, df, tbl, key="domain", n_parts=16,
                           salt=4, salt_by="url", run_id="pls")
    target = df.select("domain", "url", "text").collect()[77]

    # exact-shard lookup with the salt_by value
    out = point_lookup(spark, tbl, target["domain"], ddl, key="domain",
                       salt_by_value=target["url"])
    urls = {r["url"]: r["text"] for r in out.collect()}
    assert urls[target["url"]] == target["text"]

    # shard-less lookup unions candidates and still finds every row
    out2 = point_lookup(spark, tbl, target["domain"], ddl, key="domain")
    expected = df.filter(F.col("domain") == target["domain"]).count()
    assert out2.count() == expected


def test_resume_rejects_mismatched_partitioning(spark, tmp_path):
    """Committed part_ids are only valid under the params that wrote them:
    resuming with different n_parts/salt must raise, and omitted params
    are adopted from the committed run (not cluster-size defaults)."""
    import pytest

    df = webtext_df(spark, 1000, parts=2)
    tbl = ManifestTable(str(tmp_path), "blocks")
    encode_with_checkpoint(spark, df, tbl, n_parts=4, run_id="r1",
                           fail_after_commit_parts=2)

    with pytest.raises(ValueError, match="partitioning mismatch"):
        encode_with_checkpoint(spark, df, tbl, n_parts=16, run_id="bad")
    with pytest.raises(ValueError, match="partitioning mismatch"):
        encode_with_checkpoint(spark, df, tbl, salt=4, salt_by="url",
                               run_id="bad2")

    # n_parts omitted: adopted from the committed run, NOT
    # defaultParallelism*2 — resume on any cluster size finishes the table
    r2 = encode_with_checkpoint(spark, df, tbl, run_id="r2")
    assert len(committed_part_ids(tbl)) == 4
    assert r2["n_parts"] == 4
    decoded = decode_blocks_df(tbl.read(spark), SCHEMA_DDL)
    assert decoded.count() == 1000


def test_resume_rejects_changed_input(spark, tmp_path):
    """Skipping committed parts over DIFFERENT input would silently lose
    rows; the stored input fingerprint catches it."""
    import pytest

    df = webtext_df(spark, 500, parts=2)
    tbl = ManifestTable(str(tmp_path), "blocks")
    encode_with_checkpoint(spark, df, tbl, n_parts=4, run_id="r1",
                           fail_after_commit_parts=2)

    other = webtext_df(spark, 600, parts=2)
    with pytest.raises(ValueError, match="input mismatch"):
        encode_with_checkpoint(spark, other, tbl, run_id="r2")
    # same input resumes fine
    encode_with_checkpoint(spark, df, tbl, run_id="r2")
    assert decode_blocks_df(tbl.read(spark), SCHEMA_DDL).count() == 500


def test_kill_and_resume_local_mode(spark, tmp_path):
    """shuffle='local' (no Exchange) must resume as correctly as the
    shuffled mode: part ids are content-derived either way, so lineage is
    layout-independent — here the resume even runs in the OTHER mode."""
    import pytest

    df = webtext_df(spark, 2000, parts=4).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "blocks")
    r1 = encode_with_checkpoint(spark, df, tbl, n_parts=PARTS, run_id="r1",
                                fail_after_commit_parts=3, shuffle="local")
    assert len(r1["part_ids"]) == 3
    # cross-mode resume: shuffled run finishes what the local run started
    r2 = encode_with_checkpoint(spark, df, tbl, n_parts=PARTS, run_id="r2")
    assert set(r1["part_ids"]).isdisjoint(r2["part_ids"])
    assert len(r1["part_ids"]) + len(r2["part_ids"]) == PARTS
    decoded = decode_blocks_df(tbl.read(spark), SCHEMA_DDL)
    assert decoded.count() == 2000
    assert decoded.select("url").distinct().count() == 2000

    with pytest.raises(ValueError, match="content-derived"):
        encode_with_checkpoint(spark, df, tbl, run_id="bad", shuffle=False)
    df.unpersist()


def test_point_lookup_prunes_files_by_footer_stats(spark, tmp_path):
    """A point lookup must not even LIST most of the table: footer
    part_id min/max drops whole files before the scan."""
    from eel_sdk_spark.checkpoint import point_lookup, prune_files_by_part

    df = webtext_df(spark, 3000, parts=6).cache()
    tbl = ManifestTable(str(tmp_path), "blocks")
    # point-lookup-heavy table: the part-aligned (hash-exchange) layout is
    # exactly what shuffle=True exists for — the 'local' default spreads a
    # part over every input task's file
    encode_with_checkpoint(spark, df, tbl, n_parts=12, run_id="r1",
                           shuffle=True)
    files = tbl.current().files
    url = df.select("url").first()["url"]

    # the file subset for any single part is strictly smaller
    kept = prune_files_by_part(files, {3})
    assert 0 < len(kept) < len(files)

    row = point_lookup(spark, tbl, url, SCHEMA_DDL).first()
    assert row is not None and row["url"] == url
    want = df.filter(F.col("url") == url).first()
    assert row["text"] == want["text"]
    df.unpersist()


def test_iceberg_swap_in_falls_back_without_jars(spark, tmp_path):
    """The north rule names an Iceberg table; this image ships no Iceberg
    jars (verified constraint), so the declared swap-in must (a) probe the
    classpath without erroring, (b) hand back the jar-free ManifestTable,
    and (c) that table must carry a real encode round-trip."""
    from eel_sdk_spark.iceberg import iceberg_available, open_table

    assert iceberg_available(spark) is False  # no runtime jars here
    tbl = open_table(spark, str(tmp_path), "swapin")
    assert isinstance(tbl, ManifestTable)
    df = webtext_df(spark, 200, parts=2)
    from eel_sdk_spark.encode import encode_df

    tbl.write_df(encode_df(df, key="url", n_parts=2), "ignored")
    assert decode_blocks_df(tbl.read(spark), SCHEMA_DDL).count() == 200


def test_iceberg_property_values_encode_safely():
    """TBLPROPERTIES values are embedded in ALTER TABLE SQL: non-string
    values (IvfIndex passes a dict with centroid arrays) must JSON-encode
    and quotes must double so the statement cannot break."""
    from eel_sdk_spark.iceberg import _prop_str

    assert _prop_str("plain") == "plain"
    assert _prop_str("it's") == "it''s"
    assert _prop_str({"ivf": {"centroids": [[0.1, 0.2]], "n": 1}}) == \
        '{"ivf":{"centroids":[[0.1,0.2]],"n":1}}'
    assert _prop_str(42) == "42"
    # round-trippable: doubled quotes parse back to the original value
    import json

    enc = _prop_str({"k": "a'b"})
    assert json.loads(enc.replace("''", "'")) == {"k": "a'b"}


def test_point_lookup_prunes_from_manifest_zero_io(spark, tmp_path, monkeypatch):
    """Commit records per-file part_id coverage (from the same one-scan
    stats aggregate), so a point lookup decides which files to open from
    the manifest ALONE: same files as the footer path, but with parquet
    metadata reads forbidden."""
    from eel_sdk_spark.checkpoint import prune_files_by_part

    df = webtext_df(spark, 2000, parts=4)
    tbl = ManifestTable(str(tmp_path), "cov")
    run = encode_with_checkpoint(spark, df, tbl, n_parts=16, run_id="c1",
                                 shuffle=True)  # part-aligned layout
    snap = tbl.current()
    cov = snap.properties["runs"][0]["file_parts"]
    assert set(cov) == {__import__("os").path.basename(f)
                        for f in snap.files}

    footer_based = prune_files_by_part(snap.files, {3})
    assert run["part_ids"]  # sanity

    import pyarrow.parquet as pq

    def forbidden(*a, **k):
        raise AssertionError("footer read attempted despite coverage")

    monkeypatch.setattr(pq, "ParquetFile", forbidden)
    manifest_based = prune_files_by_part(snap.files, {3}, coverage=cov)
    # exact part sets can only be TIGHTER than footer min/max ranges
    # (a row group straddling parts {2,4} matches 3 by range, not by set)
    assert set(manifest_based) <= set(footer_based)
    assert 0 < len(manifest_based) < len(snap.files)

    # the full lookup path uses the coverage too (still footer-free)
    from eel_sdk_spark.checkpoint import point_lookup

    target = df.select("url", "text").collect()[42]
    out = point_lookup(spark, tbl, target["url"], SCHEMA_DDL)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["text"] == target["text"]


def test_expire_snapshots_and_orphans(spark, tmp_path):
    """Iceberg-parity maintenance: expire_snapshots keeps the newest N
    snapshots and deletes data files only THEY no longer reference (a
    compaction's pre-image); remove_orphan_files clears crashed writes
    that no snapshot ever referenced. Current reads stay exact."""
    import os as _os

    tbl = ManifestTable(str(tmp_path), "gc")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    tbl.write_df(df, "id bigint, v bigint")
    tbl.write_df(spark.range(50).withColumn("v", F.lit(0).cast("bigint")),
                 "id bigint, v bigint")
    tbl.compact(spark, 1)  # snapshot 3 rewrites everything
    files_pre = set(tbl.current().files)

    # a crashed write: staged but never committed
    spark.range(7).write.mode("overwrite").parquet(tbl.new_data_path())

    out = tbl.expire_snapshots(keep_last=1)
    assert out["expired_snapshots"] == 2
    assert out["deleted_files"] >= 2  # both pre-compaction snapshots' files
    assert set(tbl.current().files) == files_pre
    assert all(_os.path.exists(f) for f in files_pre)
    assert tbl.read(spark).count() == 150  # data intact
    import pytest
    with pytest.raises(FileNotFoundError):
        tbl.snapshot(1)  # time travel past the horizon is gone

    orphans = tbl.remove_orphan_files(older_than_s=0.0)
    assert len(orphans) >= 1  # the crashed write's files
    assert tbl.read(spark).count() == 150
    # second pass: nothing left to clean
    assert tbl.remove_orphan_files(older_than_s=0.0) == []
    assert tbl.expire_snapshots(keep_last=1)["expired_snapshots"] == 0


def test_point_lookup_block_stats_with_sorted_key(spark, tmp_path):
    """sort_by=[key] makes per-block key min/max ranges disjoint, so the
    lookup's block-group pruning decodes ~one block per part instead of
    all of them — and the answer stays exact (on unsorted tables the
    ranges overlap and pruning is a no-op, also exact)."""
    from eel_sdk_spark.checkpoint import point_lookup
    from eel_sdk_spark.encode import prune_block_groups

    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        df = webtext_df(spark, 4000, parts=4)
        tbl = ManifestTable(str(tmp_path), "plsorted")
        # shuffle=True: key-sorted DISJOINT block ranges need part-aligned
        # tasks (under 'local' each input task spans the whole key range,
        # so per-part block ranges overlap and pruning keeps ~1 per task)
        encode_with_checkpoint(spark, df, tbl, n_parts=2, run_id="s1",
                               sort_by=["url"], shuffle=True)
        target = df.select("url", "text").collect()[999]
        out = point_lookup(spark, tbl, target["url"], SCHEMA_DDL)
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["text"] == target["text"]

        # pruning effectiveness: with the key sorted within each part,
        # block key-ranges are disjoint — only ~1 group per part survives
        blocks = tbl.read(spark)
        total = blocks.select("part_id", "block_seq").distinct().count()
        kept = (prune_block_groups(blocks, "url", lower_s=target["url"],
                                   upper_s=target["url"])
                .select("part_id", "block_seq").distinct().count())
        assert total >= 6 and kept <= 2, (total, kept)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old_batch)


def test_local_encode_then_compact_then_manifest_lookup(spark, tmp_path,
                                                        monkeypatch):
    """The write-fast-now, cluster-later workflow: encode with the
    no-exchange 'local' layout, compact(by=part_id) to restore
    part-aligned file locality, and point lookups must STILL prune from
    the manifest alone (compaction re-records per-file coverage for the
    rewritten files) — parquet footer reads forbidden."""
    from eel_sdk_spark.checkpoint import point_lookup

    df = webtext_df(spark, 2000, parts=4)
    tbl = ManifestTable(str(tmp_path), "lc")
    encode_with_checkpoint(spark, df, tbl, n_parts=8, run_id="lc1",
                           shuffle="local")
    tbl.compact(spark, 4)  # banded blocks: 3-key group hash
    cov = tbl.current().properties["file_parts_extra"]
    assert set(cov) == {__import__("os").path.basename(f)
                        for f in tbl.current().files}

    import pyarrow.parquet as pq

    def forbidden(*a, **k):
        raise AssertionError("footer read after compaction coverage")

    monkeypatch.setattr(pq, "ParquetFile", forbidden)
    target = df.select("url", "text").collect()[555]
    rows = point_lookup(spark, tbl, target["url"], SCHEMA_DDL).collect()
    assert len(rows) == 1 and rows[0]["text"] == target["text"]


def test_coverage_range_form_bounds_manifest_size(spark, tmp_path,
                                                  monkeypatch):
    """Banded files cover contiguous part runs, so exact per-file part
    lists are O(n_parts) PER FILE — a multi-GB manifest at 800k files x
    10k parts. Long contiguous sets collapse to the {"ranges": ...}
    form; pruning handles both forms and range coverage may only keep
    EXTRA files, never skip a real one. Footer-free lookups stay green."""
    from eel_sdk_spark.checkpoint import (compact_coverage,
                                          coverage_overlaps, point_lookup)

    # unit: collapse + overlap semantics
    assert compact_coverage([1, 4, 7]) == [1, 4, 7]  # gaps: exact wins
    assert compact_coverage(list(range(64))) == {"ranges": [[0, 63]]}
    mixed = compact_coverage(list(range(0, 20)) + list(range(40, 60)))
    assert mixed == {"ranges": [[0, 19], [40, 59]]}
    assert coverage_overlaps(mixed, {45}) and not coverage_overlaps(
        mixed, {30})
    assert coverage_overlaps([1, 4], {4}) and not coverage_overlaps([], {1})

    # end-to-end: banded run records range coverage; lookup is
    # manifest-only (parquet footer reads forbidden)
    df = webtext_df(spark, 2000, parts=4).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "rangecov")
    encode_with_checkpoint(spark, df, tbl, n_parts=64, run_id="rc1")
    cov = tbl.current().properties["runs"][-1]["file_parts"]
    assert any(isinstance(v, dict) for v in cov.values()), cov
    import pyarrow.parquet as pq

    monkeypatch.setattr(pq, "ParquetFile",
                        lambda *a, **k: (_ for _ in ()).throw(
                            AssertionError("footer read")))
    target = df.select("url", "text").collect()[321]
    row = point_lookup(spark, tbl, target["url"], SCHEMA_DDL).first()
    assert row is not None and row["text"] == target["text"]
    df.unpersist()


def test_coverage_forms_agree_property():
    """compact_coverage collapses only CONSECUTIVE runs, so the range
    form is an exact representation: membership answers must be
    identical to the flat list for every probe — an over-approximating
    bug here would keep extra files (slow), an under-approximating one
    would silently skip real data (catastrophic)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from eel_sdk_spark.checkpoint import compact_coverage, coverage_overlaps

    @settings(max_examples=300, deadline=None)
    @given(st.sets(st.integers(0, 120)), st.integers(-5, 125))
    def check(parts, probe):
        cov = compact_coverage(sorted(parts))
        assert coverage_overlaps(cov, {probe}) == (probe in parts)

    check()


def test_realign_banded_table_to_part_aligned(spark, tmp_path):
    """Layout migration: banded write-fast table -> realign_table ->
    part-aligned files with SELECTIVE manifest coverage (a single part's
    file set shrinks from 'all files' to a strict subset), identical
    content, identical lineage (a resume of the same input is a no-op),
    and time travel to the pre-realign snapshot."""
    from eel_sdk_spark.checkpoint import (point_lookup, prune_files_by_part,
                                          realign_table)

    df = webtext_df(spark, 2000, parts=4).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "ra")
    encode_with_checkpoint(spark, df, tbl, n_parts=8, run_id="r1")
    banded_cov = tbl.current().properties["runs"][-1]["file_parts"]
    banded_kept = prune_files_by_part(tbl.current().files, {3},
                                      coverage=banded_cov)
    assert len(banded_kept) == len(tbl.current().files)  # no selectivity

    run = realign_table(spark, tbl, SCHEMA_DDL, run_id="ra1")
    assert sorted(run["part_ids"]) == list(range(8))
    snap = tbl.current()
    aligned_cov = snap.properties["runs"][-1]["file_parts"]
    aligned_kept = prune_files_by_part(snap.files, {3},
                                       coverage=aligned_cov)
    assert 0 < len(aligned_kept) < len(snap.files)  # selective again

    decoded = decode_blocks_df(tbl.read(spark), SCHEMA_DDL)
    assert decoded.count() == 2000
    target = df.select("url", "text").collect()[777]
    row = point_lookup(spark, tbl, target["url"], SCHEMA_DDL).first()
    assert row is not None and row["text"] == target["text"]

    # lineage intact: resuming the SAME input is a no-op
    r2 = encode_with_checkpoint(spark, df, tbl, run_id="r2")
    assert r2["part_ids"] == []
    # the fingerprint-skip fast path carries the committed one forward
    run2 = realign_table(spark, tbl, SCHEMA_DDL, run_id="ra2",
                         verify_fingerprint=False)
    assert run2["fingerprint"] == run["fingerprint"]
    r3 = encode_with_checkpoint(spark, df, tbl, run_id="r3")
    assert r3["part_ids"] == []
    # time travel to the banded snapshot still decodes
    old = tbl.read(spark, snapshot_id=1)
    assert decode_blocks_df(old, SCHEMA_DDL).count() == 2000
    df.unpersist()


def test_resume_survives_compaction(spark, tmp_path):
    """Operational sequence: partial encode -> compaction (small-file
    maintenance runs on a schedule, not when encodes finish) -> resume.
    The run lineage lives in properties, which compaction preserves, so
    the resume must still skip the committed parts and complete the
    table exactly."""
    df = webtext_df(spark, 2000, parts=4).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "rc")
    r1 = encode_with_checkpoint(spark, df, tbl, n_parts=8, run_id="r1",
                                fail_after_commit_parts=4)
    assert len(r1["part_ids"]) == 4
    tbl.compact(spark, 2)  # maintenance between the crash and the resume
    r2 = encode_with_checkpoint(spark, df, tbl, n_parts=8, run_id="r2")
    assert len(r2["part_ids"]) == 4
    assert set(r1["part_ids"]).isdisjoint(r2["part_ids"])
    decoded = decode_blocks_df(tbl.read(spark), SCHEMA_DDL)
    assert decoded.count() == 2000
    assert decoded.select("url").distinct().count() == 2000
    df.unpersist()


def test_gc_after_appends_keeps_table_exact(spark, tmp_path):
    """Operational sequence: two append runs -> expire to the newest
    snapshot -> decode. The newest snapshot references BOTH runs' files
    (append chains), so expiry must delete nothing the current table
    needs and the decode stays exact."""
    from eel_sdk_spark.encode import encode_df

    tbl = ManifestTable(str(tmp_path), "gca")
    d1 = webtext_df(spark, 600, parts=2)
    d2 = webtext_df(spark, 400, parts=2).withColumn(
        "url", F.concat(F.lit("b-"), F.col("url")))
    tbl.write_df(encode_df(d1, key="url", n_parts=4), "blocks")
    tbl.write_df(encode_df(d2, key="url", n_parts=4), "blocks")
    out = tbl.expire_snapshots(keep_last=1)
    assert out["expired_snapshots"] == 1 and out["deleted_files"] == 0
    assert decode_blocks_df(tbl.read(spark), SCHEMA_DDL).count() == 1000


def test_mixed_generation_table_pre_banding_plus_banded(spark, tmp_path):
    """A table written BEFORE the banded layout existed (blocks without
    parts/part_hi) and appended onto by a banded run must stay fully
    visible: point_lookup normalizes NULL parts to [part_id] under a
    merged schema, and compaction's coverage rewrite does the same —
    without the coalesce, old-generation rows silently vanish from
    lookups and their compacted files get EMPTY coverage (pruned out of
    every future read)."""
    from eel_sdk_spark.checkpoint import point_lookup
    from eel_sdk_spark.encode import PART_COL, encode_df, with_part_id

    n_parts = 8
    df = webtext_df(spark, 2000, parts=4).cache()
    df.count()
    tagged = with_part_id(df, "url", n_parts)
    old_parts = {0, 1, 2, 3}
    df_old = tagged.filter(F.col(PART_COL).isin(*old_parts)).drop(PART_COL)

    # generation A: part-aligned blocks with the banded columns REMOVED —
    # byte-for-byte what a pre-banding release wrote
    tbl = ManifestTable(str(tmp_path), "mixed")
    blocks_old = encode_df(df_old, key="url", n_parts=n_parts,
                           shuffle=True).drop("parts", "part_hi")
    job_dir = tbl.new_data_path()
    blocks_old.write.mode("overwrite").parquet(job_dir)
    files = ManifestTable.list_written_files(job_dir)
    observed = sorted(r[0] for r in spark.read.parquet(job_dir)
                      .select("part_id").distinct().collect())
    old_run = {"run_id": "pre-banding", "part_ids": observed,
               "n_parts": n_parts, "salt": 1, "salt_by": None, "key": "url"}
    tbl.commit(files, "", {"runs": [old_run]}, mode="append")

    # generation B: a banded (default-layout) resume of the remaining parts
    r2 = encode_with_checkpoint(spark, df, tbl, run_id="banded-append",
                                verify_fingerprint=False)
    assert set(r2["part_ids"]).isdisjoint(old_parts)
    assert len(observed) + len(r2["part_ids"]) == n_parts

    # whole-table decode sees both generations
    decoded = decode_blocks_df(tbl.read(spark), SCHEMA_DDL)
    assert decoded.count() == 2000
    assert decoded.select("url").distinct().count() == 2000

    # point lookups hit rows from EACH generation
    url_old = df_old.select("url").first()["url"]
    df_new = tagged.filter(~F.col(PART_COL).isin(*old_parts))
    url_new = df_new.select("url").first()["url"]
    for u in (url_old, url_new):
        got = point_lookup(spark, tbl, u, SCHEMA_DDL).collect()
        assert len(got) == 1 and got[0]["url"] == u

    # compaction rewrites BOTH generations; coverage must keep old rows
    tbl.compact(spark, 4)
    cov = tbl.current().properties["file_parts_extra"]
    from eel_sdk_spark.checkpoint import coverage_overlaps
    covered = set()
    for c in cov.values():
        for p in range(n_parts):
            if coverage_overlaps(c, {p}):
                covered.add(p)
    assert covered == set(range(n_parts))
    for u in (url_old, url_new):
        got = point_lookup(spark, tbl, u, SCHEMA_DDL).collect()
        assert len(got) == 1 and got[0]["url"] == u
    df.unpersist()


def test_manifest_key_ranges_prune_banded_lookup(spark, tmp_path):
    """Per-file KEY ranges (recorded by the commit-time stats scan) make
    banded tables point-lookup-capable when the INPUT arrives clustered
    by the key: part coverage is vacuous under hash part ids (every
    banded file spans all parts), but the no-exchange layout preserves
    input clustering, so each file covers a disjoint key slice and the
    manifest alone prunes a lookup to ~1 file with zero I/O. The
    range-partitioned input here stands in for the common clustered
    arrivals (time-ordered appends, monotonic ids)."""
    from eel_sdk_spark.checkpoint import point_lookup
    from pyspark.sql import functions as F  # noqa: F811

    df = (webtext_df(spark, 4000, parts=8)
          .repartitionByRange(8, "url").cache())
    df.count()
    tbl = ManifestTable(str(tmp_path), "kr")
    run = encode_with_checkpoint(spark, df, tbl, n_parts=16, run_id="kr",
                                 sort_by=["url"])
    ranges = run["file_key_ranges"]
    n_files = len(tbl.current().files)
    assert len(ranges) == n_files  # every file got a string range
    assert all("s" in v for v in ranges.values())

    # pruning: the ranges are disjoint per task, so a lookup's candidate
    # set must be well under the full file list
    urls = [r["url"] for r in
            df.select("url").orderBy(F.xxhash64("url")).limit(5).collect()]
    spark.sparkContext.setLogLevel("ERROR")
    for u in urls:
        cands = [b for b, v in ranges.items()
                 if v["s"][0] <= u <= v["s"][1]]
        assert len(cands) <= max(2, n_files // 4), (u, len(cands), n_files)
        got = point_lookup(spark, tbl, u, SCHEMA_DDL).collect()
        assert len(got) == 1 and got[0]["url"] == u
    assert point_lookup(spark, tbl, "https://no.such/url",
                        SCHEMA_DDL).count() == 0

    # compaction re-records ranges for the rewritten files (the hash
    # rewrite widens them — correct, only ever over-keeping); lookups
    # keep working and the new range map references live basenames
    tbl.compact(spark, 4)
    extra = tbl.current().properties["file_key_ranges_extra"]
    assert extra["key"] == "url"
    live = {__import__("os").path.basename(f)
            for f in tbl.current().files}
    assert set(extra["files"]) <= live and extra["files"]
    for u in urls[:2]:
        got = point_lookup(spark, tbl, u, SCHEMA_DDL).collect()
        assert len(got) == 1 and got[0]["url"] == u
    df.unpersist()


def test_key_ranges_skipped_when_stats_truncated(spark, tmp_path):
    """String stats are omitted past 64 chars (a truncated max is not a
    valid upper bound) — a file holding any statless key block must get
    NO recorded range, or the range built from its other blocks would
    wrongly exclude that block's keys from lookups."""
    from eel_sdk_spark.checkpoint import point_lookup

    long_url = "https://example.com/" + "x" * 80
    df = spark.createDataFrame(
        [(long_url, "long-key doc"), ("https://a.example/1", "short a"),
         ("https://b.example/2", "short b")],
        "url string, text string").coalesce(1)
    ddl = "url string, text string"
    tbl = ManifestTable(str(tmp_path), "trunc")
    run = encode_with_checkpoint(spark, df, tbl, n_parts=2, run_id="t")
    # the tiny table lands in one task -> one file containing the
    # over-long key: that file must carry no key range
    assert run["file_key_ranges"] == {}
    got = point_lookup(spark, tbl, long_url, ddl).collect()
    assert len(got) == 1 and got[0]["text"] == "long-key doc"


def test_manifest_key_ranges_int_key(spark, tmp_path):
    """Integer keys record {'i': [lo, hi]} ranges and prune lookups the
    same way (sorted banded layout -> disjoint per-file id ranges)."""
    from eel_sdk_spark.checkpoint import point_lookup

    # spark.range splits ids into contiguous per-partition slices — the
    # natural monotonic-id arrival the key-range pruner exists for
    df = spark.range(0, 20000, 1, 8).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("v"), F.col("id")).alias("v"))
    ddl = "doc_id bigint, v string"
    tbl = ManifestTable(str(tmp_path), "ikr")
    run = encode_with_checkpoint(spark, df, tbl, key="doc_id", n_parts=16,
                                 run_id="i", sort_by=["doc_id"])
    ranges = run["file_key_ranges"]
    assert ranges and all("i" in v for v in ranges.values())
    for kv in (0, 7777, 19999):
        got = point_lookup(spark, tbl, kv, ddl, key="doc_id").collect()
        assert len(got) == 1 and got[0]["v"] == f"v{kv}"


def test_range_lookup_prunes_files_and_matches_filter(spark, tmp_path):
    """range_lookup on a key-clustered banded table: manifest file
    pruning keeps only the overlapping slice, and the result equals a
    plain decode+filter exactly (both string and int keys)."""
    from eel_sdk_spark.checkpoint import range_lookup

    # int key, naturally clustered arrival
    df = spark.range(0, 30000, 1, 8).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("v"), F.col("id")).alias("v"))
    ddl = "doc_id bigint, v string"
    tbl = ManifestTable(str(tmp_path), "rl")
    run = encode_with_checkpoint(spark, df, tbl, key="doc_id", n_parts=16,
                                 run_id="r", sort_by=["doc_id"])
    lo, hi = 10_000, 12_500
    got = range_lookup(spark, tbl, lo, hi, ddl, key="doc_id")
    rows = got.collect()
    assert len(rows) == hi - lo + 1
    assert all(lo <= r["doc_id"] <= hi for r in rows)
    # file pruning actually bit: the range covers ~1/12 of the id space
    ranges = run["file_key_ranges"]
    kept = [b for b, v in ranges.items()
            if v["i"][0] <= hi and lo <= v["i"][1]]
    assert len(kept) < len(ranges)

    # string key sanity on the webtext shape
    wdf = (webtext_df(spark, 3000, parts=4)
           .repartitionByRange(4, "url").cache())
    wtbl = ManifestTable(str(tmp_path), "rls")
    encode_with_checkpoint(spark, wdf, wtbl, n_parts=8, run_id="s",
                           sort_by=["url"])
    lo_s, hi_s = "https://d1", "https://d2"
    got_s = {r["url"] for r in range_lookup(
        spark, wtbl, lo_s, hi_s, SCHEMA_DDL).collect()}
    want_s = {r["url"] for r in wdf.filter(
        (F.col("url") >= lo_s) & (F.col("url") <= hi_s)).collect()}
    assert got_s == want_s and got_s
    wdf.unpersist()


def test_bloom_scattered_lookup_opens_one_file(spark, tmp_path):
    """r6 (VERDICT r5 #3): on a hash-scattered BANDED table — where part
    coverage is vacuous and key ranges overlap, so r5 opened 32/32
    files — the per-block key blooms prune the payload read to ~1 file
    with no realign."""
    from eel_sdk_spark.checkpoint import lookup_files, point_lookup

    df = webtext_df(spark, 16_000, parts=32).repartition(16).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "bloomed")
    encode_with_checkpoint(spark, df, tbl, n_parts=32, run_id="r1")
    snap = tbl.current()
    n_files = len(snap.files)
    assert n_files >= 8  # scattered layout: one file per input task

    target = df.select("url").first()["url"]
    all_parts = set(range(32))
    # pre-bloom behavior check: with parts+ranges only (pass a key the
    # ranges can't prune), EVERY file survives; blooms must cut that to
    # ~1 (allow a couple of 1%-fp stragglers)
    kept = lookup_files(spark, snap, target, "url", all_parts)
    assert len(kept) <= 3, (len(kept), n_files)

    row = point_lookup(spark, tbl, target, SCHEMA_DDL).first()
    assert row is not None and row["url"] == target
    # absent key: blooms reject everywhere -> fallback single file,
    # residual filter returns nothing
    miss_files = lookup_files(spark, snap, "https://no.such/url", "url",
                              all_parts)
    assert len(miss_files) <= 3
    assert point_lookup(spark, tbl, "https://no.such/url",
                        SCHEMA_DDL).first() is None
    df.unpersist()


def test_bloom_false_positive_rate_and_optout(spark, tmp_path):
    """The bloom's advertised ~1% fp rate holds measurably, and
    key_bloom=False tables stay fully functional (blooms absent -> all
    files conservatively kept)."""
    from eel_sdk_spark.encode import bloom_may_contain, encode_df

    df = spark.range(20_000).select(
        F.concat(F.lit("k-"), F.col("id")).alias("url"),
        F.col("id").alias("v"))
    blocks = encode_df(df, key="url", n_parts=8).cache()
    url_blocks = blocks.filter(F.col("col") == "url").cache()
    n_blocks = url_blocks.count()
    hits = 0
    probes = 200
    for i in range(probes):
        hits += url_blocks.filter(
            bloom_may_contain(f"absent-{i}")).count()
    fp = hits / (probes * n_blocks)
    assert fp < 0.03, fp
    # every present key passes its own block somewhere
    assert url_blocks.filter(bloom_may_contain("k-19999")).count() >= 1

    off = encode_df(df, key="url", n_parts=8, key_bloom=False)
    assert off.filter(F.col("key_bloom").isNotNull()).count() == 0
    from eel_sdk_spark.encode import decode_blocks_df as dec
    assert dec(off, "url string, v bigint").count() == 20_000
    blocks.unpersist(); url_blocks.unpersist()


def test_blooms_survive_compaction(spark, tmp_path):
    """compact() rewrites block rows wholesale — the key_bloom column
    must ride through so post-compaction lookups keep the bloom file
    tier (and the block tier under the r6 3-key group identity)."""
    from eel_sdk_spark.checkpoint import (encode_with_checkpoint,
                                          lookup_files, point_lookup)

    df = webtext_df(spark, 8_000, parts=16).repartition(8).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "cb")
    encode_with_checkpoint(spark, df, tbl, n_parts=16, run_id="r1")
    tbl.compact(spark, n_files=3)
    snap = tbl.current()
    blocks = tbl.read(spark)
    assert "key_bloom" in blocks.columns
    assert blocks.filter((F.col("col") == "url")
                         & F.col("key_bloom").isNotNull()).count() > 0
    url = df.select("url").first()["url"]
    kept = lookup_files(spark, snap, url, "url", set(range(16)))
    assert len(kept) <= 2 <= len(snap.files)
    row = point_lookup(spark, tbl, url, SCHEMA_DDL).first()
    assert row is not None and row["url"] == url
    df.unpersist()


def test_lookup_rejects_mismatched_probe_type(spark, tmp_path):
    """r6 guard: probing a string-keyed table with an int (or vice
    versa) would test the WRONG bloom hash family and silently return
    empty — the lookup APIs must fail fast instead."""
    import pytest

    from eel_sdk_spark.checkpoint import (encode_with_checkpoint,
                                          point_lookup, range_lookup)

    df = webtext_df(spark, 1_000, parts=4).cache()
    tbl = ManifestTable(str(tmp_path), "typed")
    encode_with_checkpoint(spark, df, tbl, n_parts=4, run_id="r1")
    with pytest.raises(TypeError, match="key's own type"):
        point_lookup(spark, tbl, 7, SCHEMA_DDL)
    with pytest.raises(TypeError, match="key's own type"):
        range_lookup(spark, tbl, 0, 10, SCHEMA_DDL)
    # the correctly-typed probe still works
    url = df.select("url").first()["url"]
    assert point_lookup(spark, tbl, url, SCHEMA_DDL).first()["url"] == url
    df.unpersist()


def test_bloom_index_lookup_skips_per_file_scan(spark, tmp_path,
                                                monkeypatch):
    """r7: with a bloom INDEX sidecar registered, a fully-covered lookup
    must answer from the index alone — the per-file narrow scan (one
    footer open per candidate, the 512-file bottleneck in BENCH.md r7)
    must not run at all."""
    from eel_sdk_spark import checkpoint
    from eel_sdk_spark.checkpoint import (build_bloom_index, lookup_files,
                                          point_lookup)

    df = webtext_df(spark, 8_000, parts=16).repartition(8).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "idx")
    encode_with_checkpoint(spark, df, tbl, n_parts=16, run_id="r1")
    prop = build_bloom_index(spark, tbl, key="url")
    assert prop["key"] == "url" and prop["files"]
    snap = tbl.current()
    assert snap.properties["bloom_index"]["files"] == prop["files"]

    def boom(*a, **k):
        raise AssertionError("per-file bloom scan ran despite full "
                             "index coverage")

    monkeypatch.setattr(checkpoint, "_bloom_scan_files", boom)
    target = df.select("url").first()["url"]
    kept = lookup_files(spark, snap, target, "url", set(range(16)))
    assert 1 <= len(kept) <= 3, kept
    row = point_lookup(spark, tbl, target, SCHEMA_DDL).first()
    assert row is not None and row["url"] == target
    # absent key: index rejects everywhere -> fallback single file,
    # residual filter returns nothing
    assert point_lookup(spark, tbl, "https://no.such/url",
                        SCHEMA_DDL).first() is None
    df.unpersist()


def test_bloom_index_append_falls_back_only_for_new_files(spark, tmp_path,
                                                          monkeypatch):
    """Files committed after the index build are uncovered: the lookup
    must consult the per-file scan for EXACTLY those files (append
    safety without index invalidation) and still find keys that only
    exist in the new files."""
    from eel_sdk_spark import checkpoint
    from eel_sdk_spark.checkpoint import (build_bloom_index, lookup_files,
                                          point_lookup)

    old = webtext_df(spark, 6_000, parts=16).repartition(6).cache()
    old.count()
    tbl = ManifestTable(str(tmp_path), "idx2")
    encode_with_checkpoint(spark, old, tbl, n_parts=16, run_id="r1")
    build_bloom_index(spark, tbl, key="url")
    covered = {f.split("/")[-1] for f in tbl.current().files}

    new = (webtext_df(spark, 9_000, parts=16)
           .filter(F.col("url").contains("/p/8"))
           .repartition(4).cache())
    new.count()
    # append path: encode + manual commit (encode_with_checkpoint is the
    # same-input resume API; appends ride the lower-level commit, as the
    # streaming encode and the gate's incremental leg do)
    from eel_sdk_spark.encode import encode_df

    job = tbl.new_data_path()
    encode_df(new, key="url", n_parts=16).write.parquet(job)
    tbl.commit(ManifestTable.list_written_files(job), "", mode="append")
    snap = tbl.current()
    new_files = {f.split("/")[-1] for f in snap.files} - covered
    assert new_files

    seen: list[set] = []
    real = checkpoint._bloom_scan_files

    def spy(alive, names):
        seen.append({f.split("/")[-1] for f in alive})
        return real(alive, names)

    monkeypatch.setattr(checkpoint, "_bloom_scan_files", spy)
    target = new.subtract(old.select(*new.columns)) \
                .select("url").first()["url"]
    kept = lookup_files(spark, snap, target, "url", set(range(16)))
    assert seen and all(s <= new_files for s in seen), (seen, new_files)
    assert any(f.split("/")[-1] in new_files for f in kept)
    row = point_lookup(spark, tbl, target, SCHEMA_DDL).first()
    assert row is not None and row["url"] == target
    old.unpersist()
    new.unpersist()


def test_bloom_bits_param_and_compact_refreshes_index(spark, tmp_path,
                                                      monkeypatch):
    """r7: (a) bloom_bits threads through to the kernel (bigger blooms,
    lower fp — the per-table sizing knob for large file counts) without
    the env var, and (b) compact() rebuilds a registered bloom index by
    default, so rewritten files keep the O(1)-file lookup property
    instead of all falling back to the per-file scan."""
    from eel_sdk_spark import checkpoint
    from eel_sdk_spark.checkpoint import (build_bloom_index,
                                          encode_with_checkpoint,
                                          point_lookup)
    from eel_sdk_spark.encode import encode_df

    df = webtext_df(spark, 4_000, parts=8).repartition(8).cache()
    df.count()
    sz = {}
    for bits in (10, 16):
        blocks = encode_df(df, key="url", n_parts=8, bloom_bits=bits)
        sz[bits] = (blocks.filter(F.col("col") == "url")
                    .agg(F.sum(F.size("key_bloom"))).first()[0])
    assert sz[16] > sz[10] * 1.4, sz

    tbl = ManifestTable(str(tmp_path), "cidx")
    encode_with_checkpoint(spark, df, tbl, n_parts=8, run_id="r1",
                           bloom_bits=16)
    build_bloom_index(spark, tbl, key="url")
    s_before = tbl.current().properties["bloom_index"]["as_of_snapshot"]

    tbl.compact(spark, 4)
    prop = tbl.current().properties["bloom_index"]
    assert prop["as_of_snapshot"] > s_before

    def boom(*a, **k):
        raise AssertionError("per-file scan ran after compact despite "
                             "the refreshed index")

    monkeypatch.setattr(checkpoint, "_bloom_scan_files", boom)
    target = df.select("url").first()["url"]
    row = point_lookup(spark, tbl, target, SCHEMA_DDL).first()
    assert row is not None and row["url"] == target
    df.unpersist()


def test_bloom_index_missing_files_degrade_to_scan(spark, tmp_path):
    """A registered index whose sidecar files were deleted (manual
    cleanup, partial restore) must degrade to the per-file scan —
    the index is an accelerator, never a correctness dependency."""
    import shutil

    from eel_sdk_spark.checkpoint import (build_bloom_index,
                                          encode_with_checkpoint,
                                          point_lookup)

    df = webtext_df(spark, 4_000, parts=8).repartition(8).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "gone")
    encode_with_checkpoint(spark, df, tbl, n_parts=8, run_id="r1")
    build_bloom_index(spark, tbl, key="url")
    shutil.rmtree(f"{tbl.dir}/bloom_index")
    target = df.select("url").first()["url"]
    row = point_lookup(spark, tbl, target, SCHEMA_DDL).first()
    assert row is not None and row["url"] == target
    df.unpersist()


def test_expire_snapshots_gcs_superseded_bloom_index(spark, tmp_path,
                                                     monkeypatch):
    """Re-building the index supersedes the old sidecar files, but older
    snapshots still reference them (time travel) — expire_snapshots must
    delete exactly the superseded set and keep the live index working."""
    import os as _os

    from eel_sdk_spark import checkpoint
    from eel_sdk_spark.checkpoint import (build_bloom_index,
                                          encode_with_checkpoint,
                                          point_lookup)

    df = webtext_df(spark, 4_000, parts=8).repartition(8).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), "gc")
    encode_with_checkpoint(spark, df, tbl, n_parts=8, run_id="r1")
    old_prop = build_bloom_index(spark, tbl, key="url")
    new_prop = build_bloom_index(spark, tbl, key="url")
    assert set(old_prop["files"]).isdisjoint(new_prop["files"])
    assert all(_os.path.exists(f) for f in old_prop["files"])

    res = tbl.expire_snapshots(keep_last=1)
    assert res["deleted_index_files"] >= len(old_prop["files"])
    assert not any(_os.path.exists(f) for f in old_prop["files"])
    assert all(_os.path.exists(f) for f in new_prop["files"])

    def boom(*a, **k):
        raise AssertionError("per-file scan ran; live index was lost")

    monkeypatch.setattr(checkpoint, "_bloom_scan_files", boom)
    target = df.select("url").first()["url"]
    row = point_lookup(spark, tbl, target, SCHEMA_DDL).first()
    assert row is not None and row["url"] == target
    df.unpersist()


def test_realign_preserves_durable_properties(spark, tmp_path):
    """r8 fix: realign's bare {'runs': [run]} overwrite silently dropped
    row_schema_ddl (stored-schema reads broke) and cdc.* cursors (a
    realigned FOLLOWER SINK would re-bootstrap and duplicate itself).
    Durable properties now carry forward; rewrite-scoped extras drop."""
    from eel_sdk_spark.checkpoint import realign_table
    from eel_sdk_spark.corpus import SCHEMA_DDL, webtext_df
    from eel_sdk_spark.streaming.follow import follow_once

    df = webtext_df(spark, 800, parts=2).cache()
    df.count()
    src = ManifestTable(str(tmp_path), "rasrc")
    encode_with_checkpoint(spark, df, src, n_parts=4, run_id="r1")
    sink = ManifestTable(str(tmp_path), "rasink")
    follow_once(spark, src, sink, SCHEMA_DDL)
    assert sink.read_decoded(spark).count() == 800  # schema-less read

    realign_table(spark, sink, SCHEMA_DDL)
    # stored schema survived the realign
    assert sink.row_schema() == SCHEMA_DDL
    assert sink.read_decoded(spark).count() == 800
    # the follower cursor survived: a replay poll is a NO-OP, not a
    # duplicating re-bootstrap
    out = follow_once(spark, src, sink, SCHEMA_DDL)
    assert out["rows"] == 0 and not out["bootstrap"]
    assert sink.read_decoded(spark).count() == 800
    df.unpersist()
