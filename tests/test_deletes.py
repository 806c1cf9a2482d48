"""Row-level deletes: tombstone suppression + bloom-pruned purge.

Takedown/GDPR semantics on immutable encoded tables (deletes.py):
delete_rows is metadata-only (O(|keys|)); every read path drops the
suppressed keys in the decode kernel; purge_deletes physically rewrites
ONLY the files that may contain a deleted key. Suppression is global-until-purged so
a taken-down key can't resurface from later appends or compaction.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from eel_sdk_spark.checkpoint import (encode_with_checkpoint, fsck,
                                      fsck_summary, point_lookup,
                                      range_lookup)
from eel_sdk_spark.corpus import SCHEMA_DDL, webtext_df
from eel_sdk_spark.deletes import delete_rows, purge_deletes
from eel_sdk_spark.encode import BLOCK_SCHEMA_DDL, encode_df
from eel_sdk_spark.table import ManifestTable


def _mk(spark, tmp_path, name, n=4000, parts=8, shuffle="auto", **kw):
    df = webtext_df(spark, n, parts=parts).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), name)
    encode_with_checkpoint(spark, df, tbl, n_parts=parts, run_id="r1",
                           shuffle=shuffle, **kw)
    return df, tbl


def _some_urls(df, k=3):
    return [r["url"] for r in df.select("url").limit(k).collect()]


def test_delete_suppresses_reads_and_time_travel(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "del")
    pre_snap = tbl.current().snapshot_id
    victims = _some_urls(df, 3)
    out = delete_rows(spark, tbl, victims)
    assert out["deleted_keys"] == 3

    read = tbl.read_decoded(spark, SCHEMA_DDL)
    assert read.count() == 4000 - 3
    assert read.filter(F.col("url").isin(victims)).count() == 0
    # raw read keeps them (physical rows untouched)
    raw = tbl.read_decoded(spark, SCHEMA_DDL, with_deletes=False)
    assert raw.count() == 4000
    # time travel to the pre-delete snapshot bypasses suppression
    # (documented: compliance pairs purge with expire_snapshots)
    old = tbl.read_decoded(spark, SCHEMA_DDL, snapshot_id=pre_snap)
    assert old.count() == 4000
    df.unpersist()


def test_lookups_respect_deletes(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "dellkp")
    victims = _some_urls(df, 2)
    keep_url = [u for u in _some_urls(df, 5) if u not in victims][0]
    delete_rows(spark, tbl, victims)

    assert point_lookup(spark, tbl, victims[0], SCHEMA_DDL).first() is None
    row = point_lookup(spark, tbl, keep_url, SCHEMA_DDL).first()
    assert row is not None and row["url"] == keep_url

    lo, hi = min(victims), max(victims)
    rng = range_lookup(spark, tbl, lo, hi, SCHEMA_DDL)
    assert rng.filter(F.col("url").isin(victims)).count() == 0
    df.unpersist()


def test_deletes_accumulate_and_accept_dataframe_keys(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "delacc", n=2000, parts=4)
    urls = _some_urls(df, 4)
    delete_rows(spark, tbl, urls[:2])
    kdf = spark.createDataFrame([(u,) for u in urls[2:]], ["u"])
    out = delete_rows(spark, tbl, kdf)
    assert out["tombstone_commits"] == 2
    read = tbl.read_decoded(spark, SCHEMA_DDL)
    assert read.count() == 2000 - 4
    assert read.filter(F.col("url").isin(urls)).count() == 0
    df.unpersist()


def test_deletes_survive_append_and_compact(spark, tmp_path):
    """Global-until-purged: a suppressed key stays suppressed even when
    a LATER append re-introduces it (a re-crawl of a taken-down page),
    and compaction rewrites don't resurrect it either."""
    df, tbl = _mk(spark, tmp_path, "delglob", n=2000, parts=4)
    victim = _some_urls(df, 1)[0]
    delete_rows(spark, tbl, [victim])

    recrawl = df.filter(F.col("url") == victim) \
        .withColumn("text", F.lit("re-crawled content"))
    blocks = encode_df(recrawl, key="url", n_parts=4)
    job_dir = tbl.new_data_path()
    blocks.write.mode("overwrite").parquet(job_dir)
    tbl.commit(ManifestTable.list_written_files(job_dir), BLOCK_SCHEMA_DDL)

    read = tbl.read_decoded(spark, SCHEMA_DDL)
    assert read.filter(F.col("url") == victim).count() == 0
    assert read.count() == 2000 - 1

    tbl.compact(spark, n_files=2)
    read = tbl.read_decoded(spark, SCHEMA_DDL)
    assert read.filter(F.col("url") == victim).count() == 0
    assert read.count() == 2000 - 1
    df.unpersist()


def test_purge_materializes_with_file_pruning(spark, tmp_path):
    """Purge rewrites only the (bloom-identified) files that may hold a
    deleted key: survivors keep their exact basenames, the rewrite drops
    the rows physically, tombstones clear, and the table fscks healthy."""
    df, tbl = _mk(spark, tmp_path, "purge", shuffle=True)  # part-aligned
    n_files_before = len(tbl.current().files)
    victims = _some_urls(df, 2)
    delete_rows(spark, tbl, victims)

    out = purge_deletes(spark, tbl, SCHEMA_DDL)
    assert out["purged_keys"] == 2
    # bloom + part-aligned layout: only a couple of files rewritten
    assert 0 < out["rewritten_files"] < n_files_before
    survivors_before = set(map(os.path.basename, tbl.snapshot(
        out["snapshot_id"] - 1).files))
    survivors_after = set(map(os.path.basename, tbl.current().files))
    assert len(survivors_before & survivors_after) == out["surviving_files"]

    assert tbl.current().properties.get("tombstones") == []
    raw = tbl.read_decoded(spark, SCHEMA_DDL, with_deletes=False)
    assert raw.count() == 4000 - 2  # physically gone, no anti-join needed
    assert raw.filter(F.col("url").isin(victims)).count() == 0
    assert fsck_summary(fsck(spark, tbl))["healthy"]
    df.unpersist()


def test_purge_of_absent_key_rewrites_nothing(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "purgemiss", n=2000, parts=4,
                  shuffle=True)
    delete_rows(spark, tbl, ["https://no.such/url"])
    out = purge_deletes(spark, tbl, SCHEMA_DDL)
    # blooms reject the absent key everywhere -> zero rewrites (a stray
    # false positive could rewrite one file; rows never change)
    assert out["rewritten_files"] <= 1
    assert out["rows_kept_in_rewrite"] in (0, out["rows_kept_in_rewrite"])
    assert tbl.current().properties.get("tombstones") == []
    assert tbl.read_decoded(spark, SCHEMA_DDL).count() == 2000
    df.unpersist()


def test_expire_snapshots_gcs_purged_tombstones(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "delgc", n=1000, parts=2)
    victim = _some_urls(df, 1)[0]
    delete_rows(spark, tbl, [victim])
    tomb_files = [f for e in tbl.current().properties["tombstones"]
                  for f in e["files"]]
    assert all(os.path.exists(f) for f in tomb_files)
    purge_deletes(spark, tbl, SCHEMA_DDL)
    # pre-purge snapshots still reference the sidecar: survives a
    # keep-everything expiry, goes away once they expire
    res = tbl.expire_snapshots(keep_last=1)
    assert res["deleted_tombstone_files"] >= 1
    assert not any(os.path.exists(f) for f in tomb_files)
    assert tbl.read_decoded(spark, SCHEMA_DDL).count() == 1000 - 1
    df.unpersist()


def test_analyze_table_stats_stay_live_through_purge_and_compact(
        spark, tmp_path, capsys):
    """analyze-table must describe the CURRENT snapshot: lineage run
    totals keep counting rows in files a purge replaced (and would
    double-count the rewrite's survivors). With per-file stats in the
    run records it sums the live file set instead."""
    import json

    from jobs.cli import main as cli_main

    def stats():
        cli_main(["analyze-table", "--warehouse", str(tmp_path),
                  "--table", "delstats"])
        return json.loads(capsys.readouterr().out.strip())

    df, tbl = _mk(spark, tmp_path, "delstats", n=3000, parts=6)
    victims = _some_urls(df, 3)
    delete_rows(spark, tbl, victims)
    pre = stats()
    # metadata-only delete: rows still physically present, flagged
    assert pre["rows"] == 3000
    assert pre["tombstoned_keys"] == 3
    assert pre["stats_scope"] == "live"

    purge_deletes(spark, tbl, SCHEMA_DDL)
    post = stats()
    assert post["rows"] == 3000 - 3          # lineage sum would say more
    assert post["tombstoned_keys"] == 0
    assert post["stats_scope"] == "live"
    assert post["enc_bytes"] > 0
    assert post["ratio"] > 1

    # compaction rewrites every file; file_stats_extra keeps scope live
    tbl.compact(spark, 3)
    comp = stats()
    assert comp["rows"] == 3000 - 3
    assert comp["stats_scope"] == "live"
    df.unpersist()


def test_analyze_table_falls_back_to_lineage_without_file_stats(
        spark, tmp_path, capsys):
    """Tables written before file_stats existed keep the old totals."""
    import json

    from jobs.cli import main as cli_main

    df, tbl = _mk(spark, tmp_path, "delold", n=500, parts=2)
    snap = tbl.current()
    runs = [dict(r) for r in snap.properties["runs"]]
    for r in runs:
        r.pop("file_stats", None)
    props = dict(snap.properties)
    props["runs"] = runs
    tbl.commit(list(snap.files), snap.schema_ddl, props, mode="overwrite")
    cli_main(["analyze-table", "--warehouse", str(tmp_path),
              "--table", "delold"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["stats_scope"] == "lineage"
    assert out["rows"] == 500
    df.unpersist()


def test_rename_then_purge_materializes(spark, tmp_path):
    """ADVICE r7: purge must thread the rename mapping into the decode —
    pre-rename files store the key under its historical name, and a
    purge after rename_column previously raised 'incomplete block
    groups' on them (the GDPR materialization path was broken until a
    compact rewrote the files)."""
    df, tbl = _mk(spark, tmp_path, "renpurge", n=1500, parts=4)
    victims = _some_urls(df, 2)
    delete_rows(spark, tbl, victims)
    tbl.rename_column("url", "page_url")
    ddl = SCHEMA_DDL.replace("url ", "page_url ", 1)

    out = purge_deletes(spark, tbl, ddl)
    assert out["purged_keys"] == 2
    assert out["rewritten_files"] >= 1
    assert tbl.current().properties["tombstones"] == []
    # physically gone: the raw (no-suppression) read no longer has them
    raw = tbl.read_decoded(spark, with_deletes=False)
    assert raw.count() == 1500 - 2
    assert raw.filter(F.col("page_url").isin(victims)).count() == 0
    df.unpersist()


def test_delete_landing_mid_purge_survives_cas(spark, tmp_path,
                                               monkeypatch):
    """ADVICE r7: purge reads the tombstone list outside the commit lock
    and overwrites properties wholesale — a delete_rows landing mid-purge
    was silently erased (the takedown resurfaced). The expect_properties
    CAS + retry must purge BOTH."""
    import eel_sdk_spark.deletes as D

    df, tbl = _mk(spark, tmp_path, "racepurge", n=1500, parts=4)
    first, second = _some_urls(df, 2)
    delete_rows(spark, tbl, [first])

    real = D.tombstone_specs
    fired = {"n": 0}

    def spy(snap):
        out = real(snap)
        if fired["n"] == 0:
            fired["n"] += 1
            # a rival takedown lands AFTER the purge read its snapshot
            delete_rows(spark, tbl, [second])
        return out

    monkeypatch.setattr(D, "tombstone_specs", spy)
    out = purge_deletes(spark, tbl, SCHEMA_DDL)
    # the retry re-read the head and materialized BOTH takedowns
    assert out["purged_keys"] == 2
    assert fired["n"] == 1
    assert tbl.current().properties["tombstones"] == []
    raw = tbl.read_decoded(spark, SCHEMA_DDL, with_deletes=False)
    assert raw.filter(F.col("url").isin([first, second])).count() == 0
    assert raw.count() == 1500 - 2
    df.unpersist()


def test_expire_snapshots_empty_table_result_shape(spark, tmp_path):
    """ADVICE r7: the early-exit return must carry the same four keys as
    the full path (callers diff gc output)."""
    tbl = ManifestTable(str(tmp_path), "emptygc")
    out = tbl.expire_snapshots()
    assert out == {"expired_snapshots": 0, "deleted_files": 0,
                   "deleted_index_files": 0,
                   "deleted_tombstone_files": 0}


def test_delete_where_predicate_takedown(spark, tmp_path):
    """r8 delete_where: content-predicate takedown — find matching rows
    in one decoded pass, tombstone their lineage keys; idempotent on
    repeat (already-suppressed rows are excluded by the read); empty
    matches commit nothing."""
    from eel_sdk_spark.deletes import delete_where

    df, tbl = _mk(spark, tmp_path, "delwhere", n=1500, parts=4)
    n_en = df.filter("lang = 'en'").count()
    assert n_en > 0

    out = delete_where(spark, tbl, "lang = 'en'")
    assert out["deleted_keys"] == n_en
    read = tbl.read_decoded(spark, SCHEMA_DDL)
    assert read.filter("lang = 'en'").count() == 0
    assert read.count() == 1500 - n_en

    # idempotent: the suppressed rows no longer match anything
    sid = tbl.current().snapshot_id
    again = delete_where(spark, tbl, F.col("lang") == "en")
    assert again["deleted_keys"] == 0
    assert tbl.current().snapshot_id == sid  # no empty tombstone commit

    # purge materializes the predicate takedown physically
    purged = purge_deletes(spark, tbl, SCHEMA_DDL)
    assert purged["purged_keys"] == n_en
    raw = tbl.read_decoded(spark, SCHEMA_DDL, with_deletes=False)
    assert raw.count() == 1500 - n_en


def test_concurrent_deletes_both_survive(spark, tmp_path, monkeypatch):
    """delete_rows is a read-modify-write on the tombstone list: a
    rival delete landing after this one wrote its sidecar, just before
    its commit takes the lock, must keep its entry and this one's."""
    import eel_sdk_spark.deletes as D

    df, tbl = _mk(spark, tmp_path, "concdel", n=800, parts=2)
    a, b = _some_urls(df, 2)
    real = ManifestTable.commit
    state = {"fired": False}

    def spy(self, *args, **kwargs):
        if not state["fired"]:
            state["fired"] = True
            D.delete_rows(spark, tbl, [b])  # rival lands first
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ManifestTable, "commit", spy)
    out = D.delete_rows(spark, tbl, [a])
    assert out["tombstone_commits"] == 2  # BOTH entries on the list
    read = tbl.read_decoded(spark, SCHEMA_DDL)
    assert read.filter(F.col("url").isin([a, b])).count() == 0
    assert read.count() == 800 - 2
    df.unpersist()


def test_threaded_deletes_and_appends_all_land(spark, tmp_path):
    """REAL threads (not monkeypatch interleaves): concurrent
    delete_rows and append_encode against one table — the commit lock
    serializes, the CAS loops absorb the lost-update windows, and every
    takedown + every append survives."""
    import threading

    from eel_sdk_spark.checkpoint import append_encode
    from eel_sdk_spark.corpus import webtext_df

    df, tbl = _mk(spark, tmp_path, "threads", n=600, parts=2)
    victims = _some_urls(df, 4)
    inc = (webtext_df(spark, 700, parts=1)
           .exceptAll(webtext_df(spark, 600, parts=1)))
    inc.persist().count()
    errs = []

    def do_delete(u):
        try:
            delete_rows(spark, tbl, [u])
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    def do_append():
        try:
            append_encode(spark, inc, tbl, n_parts=2,
                          run_id="thread-append")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=do_delete, args=(u,))
               for u in victims] + [threading.Thread(target=do_append)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errs, errs
    snap = tbl.current()
    assert len(snap.properties.get("tombstones", [])) == 4
    assert any(r.get("run_id") == "thread-append"
               for r in snap.properties.get("runs", []))
    read = tbl.read_decoded(spark, SCHEMA_DDL)
    assert read.count() == 600 + 100 - 4
    assert read.filter(F.col("url").isin(victims)).count() == 0
    inc.unpersist()
    df.unpersist()


def test_projected_reads_keep_takedowns(spark, tmp_path):
    """A read that projects the key column away still drops tombstoned
    rows: the decode kernel decodes the key for the test and projects it
    away after — on read_decoded, read_appended and the DataSource."""
    from eel_sdk_spark.checkpoint import append_encode
    from eel_sdk_spark.sources.eel_datasource import register

    df = webtext_df(spark, 1500, parts=4).cache()
    inc = df.filter(F.hash("url") % 3 == 0)
    tbl = ManifestTable(str(tmp_path), "blocks")
    encode_with_checkpoint(spark, df.filter(F.hash("url") % 3 != 0), tbl,
                           n_parts=4, run_id="r1")
    since = tbl.current().snapshot_id
    append_encode(spark, inc, tbl, n_parts=4, run_id="r2")
    n, n_inc = df.count(), inc.count()
    delete_rows(spark, tbl, [inc.select("url").first()["url"]])

    assert tbl.read_decoded(spark, columns=["lang"]).count() == n - 1
    appended = tbl.read_appended(spark, None, since, columns=["lang"])
    assert appended.count() == n_inc - 1
    register(spark)
    ds = (spark.read.format("eel").option("columns", "lang")
          .load(str(tmp_path)))
    assert ds.columns == ["lang"] and ds.count() == n - 1
    df.unpersist()


def test_tombstoned_read_plan_is_one_kernel_stage(spark, tmp_path):
    """A tombstoned table's read_decoded is the binned file rows fed
    straight into the decode kernel: no round-robin Exchange, no
    broadcast join and no Spark scan of the tombstone sidecars, so its
    count() is one Spark job (the test table fits one bin)."""
    import uuid

    df, tbl = _mk(spark, tmp_path, "plan", n=1500, parts=4)
    delete_rows(spark, tbl, _some_urls(df, 2))
    read = tbl.read_decoded(spark)
    plan = read._jdf.queryExecution().executedPlan().toString()
    for op in ("RoundRobinPartitioning", "BroadcastHashJoin",
               "FileScan parquet"):
        assert op not in plan, plan
    sc = spark.sparkContext
    group = f"scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "tombstoned scan")
    try:
        assert read.count() == 1500 - 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    df.unpersist()


def test_decode_job_where_drops_tombstones(spark, tmp_path, monkeypatch):
    """``decode_job --where`` serves the predicate through the read
    planner: a tombstoned row stays deleted, a renamed column filters
    under its new name, and a timestamp literal probes the column's
    block blooms in the stored unit (epoch micros), not as a string."""
    from eel_sdk_spark import session
    from jobs import decode_job

    df, tbl = _mk(spark, tmp_path, "where", n=2000, parts=4,
                  bloom_cols=["warc_ts"])
    tbl.rename_column("lang", "language")
    victim = df.filter("lang = 'en'").first()["url"]
    pre = tbl.current().snapshot_id
    delete_rows(spark, tbl, [victim])
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    def where(expr, *extra):
        out = str(tmp_path / f"out{abs(hash((expr, extra)))}")
        decode_job.main(["--warehouse", str(tmp_path), "--table", "where",
                         "--where", expr, "--output", out, *extra])
        return spark.read.parquet(out)

    got = where("language=en")
    want = tbl.read_decoded(spark).filter("language = 'en'")
    assert got.count() == want.count() > 0
    assert got.filter(F.col("url") == victim).count() == 0
    assert sorted(got.columns) == sorted(want.columns)
    assert where(f"url={victim}").count() == 0
    assert where(f"url={victim}", "--snapshot-id", str(pre)).count() == 1
    # the literal in the session time zone, as Spark casts the string
    row = df.filter(F.col("url") != victim).select(
        "url", "warc_ts",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s")
    ).first()
    got = where(f"warc_ts={row['s']}")
    want = tbl.read_decoded(spark).filter(F.col("warc_ts") == row["warc_ts"])
    assert got.count() == want.count() > 0
    assert row["url"] in {r["url"] for r in got.collect()}
    assert where(f"warc_ts<={row['s']}").count() == tbl.read_decoded(
        spark).filter(F.col("warc_ts") <= row["warc_ts"]).count()
    df.unpersist()
