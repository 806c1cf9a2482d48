"""Copy-on-write upsert (merge-on-key) + incremental CDC reads.

upsert_rows (deletes.py): incoming rows replace same-key rows in ONE
atomic overwrite commit; only files that may hold an incoming key are
rewritten (manifest-range + bloom tiers). changes_between/read_appended
(table.py): manifest-only snapshot diff that classifies appended files
into new-data vs rewrites, so an incremental consumer processes exactly
the rows added since its last run. The reference is write-once
(eel-hive/src/main/scala/io/eels/component/hive/HiveSink.scala) — this
is the update story a re-crawled webtext corpus needs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eel_sdk_spark.checkpoint import encode_with_checkpoint
from eel_sdk_spark.corpus import SCHEMA_DDL, webtext_df
from eel_sdk_spark.deletes import delete_rows, upsert_rows
from eel_sdk_spark.encode import BLOCK_SCHEMA_DDL, encode_df
from eel_sdk_spark.table import ManifestTable


def _mk(spark, tmp_path, name, n=3000, parts=6, **kw):
    df = webtext_df(spark, n, parts=parts).cache()
    df.count()
    tbl = ManifestTable(str(tmp_path), name)
    encode_with_checkpoint(spark, df, tbl, n_parts=parts, run_id="r1", **kw)
    return df, tbl


def _urls(df, k):
    return [r["url"] for r in df.select("url").limit(k).collect()]


def test_upsert_replaces_and_inserts_atomically(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "ups")
    pre_snap = tbl.current().snapshot_id
    victims = _urls(df, 5)
    updates = (df.filter(F.col("url").isin(victims))
               .withColumn("text", F.lit("fresh crawl")))
    inserts = (webtext_df(spark, 3, parts=1)
               .withColumn("url", F.concat(F.lit("https://new.example/"),
                                           F.col("url"))))
    out = upsert_rows(spark, tbl, updates.unionByName(inserts), SCHEMA_DDL)
    assert out["upserted_rows"] == 8
    assert out["replaced_rows"] == 5
    assert out["snapshot_id"] == pre_snap + 1  # ONE commit

    read = tbl.read_decoded(spark, SCHEMA_DDL).cache()
    assert read.count() == 3000 + 3
    assert (read.filter(F.col("url").isin(victims))
            .filter(F.col("text") == "fresh crawl").count() == 5)
    # no stale versions coexist
    assert read.groupBy("url").count().filter("count > 1").count() == 0
    # time travel still sees the pre-upsert content
    old = tbl.read_decoded(spark, SCHEMA_DDL, snapshot_id=pre_snap)
    assert old.filter(F.col("text") == "fresh crawl").count() == 0
    read.unpersist()
    df.unpersist()


def test_upsert_prunes_rewrite_set(spark, tmp_path):
    """A small-key upsert must NOT rewrite the whole table: the bloom
    tier (<=256 keys) keeps untouched files byte-identical."""
    df, tbl = _mk(spark, tmp_path, "upsprune", n=4000, parts=8,
                  shuffle=True)
    n_files = len(tbl.current().files)
    victims = _urls(df, 2)
    updates = (df.filter(F.col("url").isin(victims))
               .withColumn("lang", F.lit("xx")))
    out = upsert_rows(spark, tbl, updates, SCHEMA_DDL)
    assert out["rewritten_files"] < n_files
    assert out["surviving_files"] > 0
    read = tbl.read_decoded(spark, SCHEMA_DDL)
    assert read.filter(F.col("lang") == "xx").count() == 2
    assert read.count() == 4000
    df.unpersist()


def test_upsert_of_tombstoned_key_requires_readmit(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "upstomb", n=1000, parts=2)
    victim = _urls(df, 1)[0]
    delete_rows(spark, tbl, [victim])
    recrawl = (df.filter(F.col("url") == victim)
               .withColumn("text", F.lit("back again")))
    try:
        upsert_rows(spark, tbl, recrawl, SCHEMA_DDL)
        raise AssertionError("tombstoned key must not upsert silently")
    except ValueError as e:
        assert "tombstoned" in str(e)
    out = upsert_rows(spark, tbl, recrawl, SCHEMA_DDL, readmit=True)
    assert out["upserted_rows"] == 1
    read = tbl.read_decoded(spark, SCHEMA_DDL)
    assert (read.filter(F.col("url") == victim)
            .select("text").first()["text"] == "back again")
    assert read.count() == 1000
    assert tbl.current().properties.get("tombstones") == []
    df.unpersist()


def test_upsert_readmit_keeps_other_tombstones(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "upstomb2", n=1000, parts=2)
    keep_dead, revive = _urls(df, 2)
    delete_rows(spark, tbl, [keep_dead, revive])
    recrawl = (df.filter(F.col("url") == revive)
               .withColumn("text", F.lit("revived")))
    upsert_rows(spark, tbl, recrawl, SCHEMA_DDL, readmit=True)
    read = tbl.read_decoded(spark, SCHEMA_DDL)
    assert read.filter(F.col("url") == revive).count() == 1
    assert read.filter(F.col("url") == keep_dead).count() == 0
    assert read.count() == 1000 - 1
    entries = tbl.current().properties["tombstones"]
    assert sum(e["n"] for e in entries) == 1
    df.unpersist()


def test_changes_between_classifies_appends_and_rewrites(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "cdc", n=2000, parts=4)
    s1 = tbl.current().snapshot_id

    # upsert: 2 updates + 2 inserts
    victims = _urls(df, 2)
    updates = (df.filter(F.col("url").isin(victims))
               .withColumn("text", F.lit("v2")))
    inserts = (webtext_df(spark, 2, parts=1)
               .withColumn("url", F.concat(F.lit("https://cdc.example/"),
                                           F.col("url"))))
    upsert_rows(spark, tbl, updates.unionByName(inserts), SCHEMA_DDL)

    ch = tbl.changes_between(s1)
    assert ch["new_data_files"], "upsert incoming must classify as new"
    assert ch["rewritten_files"], "upsert rewrite must classify as rewrite"
    assert not ch["unclassified_files"]
    assert ch["removed_files"], "replaced files leave the live set"

    # incremental read: exactly the 4 incoming rows, not the rewrite's
    # survivors
    inc = tbl.read_appended(spark, SCHEMA_DDL, s1)
    assert inc.count() == 4
    assert inc.filter(F.col("text") == "v2").count() == 2

    # compaction between reads must not re-emit anything
    s2 = tbl.current().snapshot_id
    tbl.compact(spark, 2)
    ch2 = tbl.changes_between(s2)
    assert not ch2["new_data_files"] and not ch2["unclassified_files"]
    assert ch2["rewritten_files"]
    assert tbl.read_appended(spark, SCHEMA_DDL, s2).count() == 0
    # and the full window still reports only the genuine adds
    assert tbl.read_appended(spark, SCHEMA_DDL, s1).count() == 4
    df.unpersist()


def test_read_appended_applies_current_deletes(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "cdcdel", n=1000, parts=2)
    s1 = tbl.current().snapshot_id
    extra = (webtext_df(spark, 4, parts=1)
             .withColumn("url", F.concat(F.lit("https://x.example/"),
                                         F.col("url")))).cache()
    upsert_rows(spark, tbl, extra, SCHEMA_DDL)
    victim = extra.select("url").first()["url"]
    delete_rows(spark, tbl, [victim])
    inc = tbl.read_appended(spark, SCHEMA_DDL, s1)
    assert inc.count() == 3  # appended-then-deleted row not emitted
    ch = tbl.changes_between(s1)
    assert sum(e["n"] for e in ch["tombstones_added"]) == 1
    extra.unpersist()
    df.unpersist()


def test_bare_append_reports_unclassified_and_is_read(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "cdcbare", n=500, parts=2)
    s1 = tbl.current().snapshot_id
    bare = (webtext_df(spark, 3, parts=1)
            .withColumn("url", F.concat(F.lit("https://bare.example/"),
                                        F.col("url"))))
    blocks = encode_df(bare, key="url", n_parts=2)
    job_dir = tbl.new_data_path()
    blocks.write.mode("overwrite").parquet(job_dir)
    tbl.commit(ManifestTable.list_written_files(job_dir), BLOCK_SCHEMA_DDL)
    ch = tbl.changes_between(s1)
    assert ch["unclassified_files"] and not ch["new_data_files"]
    # missing rows are worse than re-emitted rows: still read by default
    assert tbl.read_appended(spark, SCHEMA_DDL, s1).count() == 3
    df.unpersist()


def test_read_appended_empty_window(spark, tmp_path):
    df, tbl = _mk(spark, tmp_path, "cdcempty", n=300, parts=2)
    s1 = tbl.current().snapshot_id
    inc = tbl.read_appended(spark, SCHEMA_DDL, s1)
    assert inc.count() == 0
    assert set(inc.columns) == {"url", "warc_ts", "html", "text", "lang"}
    df.unpersist()


def test_read_appended_raises_on_expired_window(spark, tmp_path):
    import pytest

    df, tbl = _mk(spark, tmp_path, "cdcexp", n=500, parts=2)
    s1 = tbl.current().snapshot_id
    extra = (webtext_df(spark, 2, parts=1)
             .withColumn("url", F.concat(F.lit("https://e.example/"),
                                         F.col("url"))))
    upsert_rows(spark, tbl, extra, SCHEMA_DDL)
    tbl.compact(spark, 1)
    tbl.expire_snapshots(keep_last=1)  # drops the pre-compact data files
    with pytest.raises(FileNotFoundError, match="expired"):
        tbl.read_appended(spark, SCHEMA_DDL, s1).count()
    df.unpersist()


def test_purge_in_window_is_flagged(spark, tmp_path):
    from eel_sdk_spark.deletes import purge_deletes

    df, tbl = _mk(spark, tmp_path, "cdcpurge", n=500, parts=2)
    s1 = tbl.current().snapshot_id
    victim = _urls(df, 1)[0]
    delete_rows(spark, tbl, [victim])
    purge_deletes(spark, tbl, SCHEMA_DDL)
    ch = tbl.changes_between(s1)
    assert ch["purged_in_window"] is True
    assert sum(e["n"] for e in ch["tombstones_added"]) == 1
    df.unpersist()


def test_rename_then_upsert_merges(spark, tmp_path):
    """ADVICE r7: upsert must decode pre-rename candidate files under the
    rename mapping (and resolve the lineage key's CURRENT name) — a
    rename_column previously broke every later merge until a compact."""
    df, tbl = _mk(spark, tmp_path, "renups", n=1500, parts=4)
    tbl.rename_column("url", "page_url")
    ddl = SCHEMA_DDL.replace("url ", "page_url ", 1)

    victims = _urls(df, 3)
    incoming = (df.filter(F.col("url").isin(victims))
                .withColumn("text", F.lit("refetched"))
                .withColumnRenamed("url", "page_url"))
    out = upsert_rows(spark, tbl, incoming, ddl)
    assert out["upserted_keys"] == 3 and out["replaced_rows"] == 3

    read = tbl.read_decoded(spark).cache()
    assert read.count() == 1500
    assert (read.filter(F.col("page_url").isin(victims))
            .filter("text = 'refetched'").count() == 3)
    # the merge run's record carries the CURRENT key name
    assert tbl.current().properties["runs"][-1]["key"] == "page_url"
    read.unpersist()
    df.unpersist()


def test_delete_landing_mid_upsert_survives_cas(spark, tmp_path,
                                                monkeypatch):
    """ADVICE r7: a delete_rows landing between the upsert's snapshot
    read and its overwrite commit was erased by the property overwrite.
    The CAS retry must preserve the takedown."""
    import eel_sdk_spark.deletes as D

    df, tbl = _mk(spark, tmp_path, "raceups", n=1500, parts=4)
    victim, updated = _urls(df, 2)

    real = D._rewrite_candidates
    fired = {"n": 0}

    def spy(snap, cols, columns):
        if fired["n"] == 0:
            fired["n"] += 1
            delete_rows(spark, tbl, [victim])
        return real(snap, cols, columns)

    monkeypatch.setattr(D, "_rewrite_candidates", spy)
    incoming = (df.filter(F.col("url") == updated)
                .withColumn("text", F.lit("v2")))
    out = upsert_rows(spark, tbl, incoming, SCHEMA_DDL)
    assert out["replaced_rows"] == 1 and fired["n"] == 1

    # the rival takedown survived the merge commit
    tombs = tbl.current().properties["tombstones"]
    assert len(tombs) == 1 and tombs[0]["n"] == 1
    read = tbl.read_decoded(spark, SCHEMA_DDL).cache()
    assert read.filter(F.col("url") == victim).count() == 0
    assert (read.filter(F.col("url") == updated)
            .first()["text"] == "v2")
    read.unpersist()
    df.unpersist()
