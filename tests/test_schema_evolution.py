"""Schema evolution on the encoded table: add-column reads.

A column added after earlier runs were committed decodes as nulls for the
old block groups (Iceberg add-column semantics; reference analogue:
sink-side row padding, HiveSinkWriter.scala:32-70).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eel_sdk_spark.corpus import webtext_df
from eel_sdk_spark.encode import decode_blocks_df, encode_df
from eel_sdk_spark.table import ManifestTable

V1_DDL = "url string, text string"
V2_DDL = "url string, text string, lang string"


def test_add_column_evolution(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path), "evo")
    v1 = webtext_df(spark, 800, parts=2).select("url", "text")
    tbl.write_df(encode_df(v1, key="url", n_parts=4), V1_DDL)

    v2 = (webtext_df(spark, 400, parts=2)
          .withColumn("url", F.concat(F.lit("v2-"), F.col("url")))
          .select("url", "text", "lang"))
    tbl.write_df(encode_df(v2, key="url", n_parts=4), V2_DDL)

    # read everything under the NEW schema: old rows get lang = null
    out = decode_blocks_df(tbl.read(spark), V2_DDL, fill_missing=True)
    assert out.count() == 1200
    assert out.filter(F.col("lang").isNull()
                      & ~F.col("url").startswith("v2-")).count() == 800
    n_v2_lang = v2.filter(F.col("lang").isNotNull()).count()
    assert out.filter(F.col("lang").isNotNull()).count() == n_v2_lang

    # without fill_missing the mixed read fails loudly
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises((PythonException, Py4JJavaError)):
        decode_blocks_df(tbl.read(spark), V2_DDL).count()


def test_projection_avoids_evolution_entirely(spark, tmp_path):
    """Projecting only v1 columns needs no fill even on mixed tables."""
    tbl = ManifestTable(str(tmp_path), "evo2")
    v1 = webtext_df(spark, 300, parts=2).select("url", "text")
    tbl.write_df(encode_df(v1, key="url", n_parts=4), V1_DDL)
    v2 = (webtext_df(spark, 300, parts=2)
          .withColumn("url", F.concat(F.lit("v2-"), F.col("url")))
          .select("url", "text", "lang"))
    tbl.write_df(encode_df(v2, key="url", n_parts=4), V2_DDL)

    out = decode_blocks_df(tbl.read(spark), V2_DDL, columns=["url", "text"])
    assert out.count() == 600
    assert out.columns == ["url", "text"]


def test_old_ddl_reads_evolved_table(spark, tmp_path):
    """Reading an EVOLVED table with an older DDL (blocks carry an extra
    column) must ignore the unknown column's blocks instead of spuriously
    failing on 'incomplete groups' or emitting phantom null batches."""
    tbl = ManifestTable(str(tmp_path), "evo3")
    v2 = webtext_df(spark, 400, parts=2).select("url", "text", "lang")
    tbl.write_df(encode_df(v2, key="url", n_parts=4), V2_DDL)

    out = decode_blocks_df(tbl.read(spark), V1_DDL)
    assert out.columns == ["url", "text"]
    assert out.count() == 400
    # fill_missing must not fabricate phantom rows from the orphan column
    out2 = decode_blocks_df(tbl.read(spark), V1_DDL, fill_missing=True)
    assert out2.count() == 400


def test_rename_column_name_mapping(spark, tmp_path):
    """rename_column is a properties-only commit; decode paths accept
    the historical block name and relabel on the fly (Iceberg renames
    by field id; blocks key by name, so the manifest carries the map).
    """
    from eel_sdk_spark.checkpoint import append_encode, \
        encode_with_checkpoint
    from eel_sdk_spark.corpus import webtext_df

    tbl = ManifestTable(str(tmp_path), "ren")
    df = webtext_df(spark, 600, parts=2).select("url", "text", "lang")
    encode_with_checkpoint(spark, df, tbl, n_parts=4, run_id="r1")
    pre = tbl.current().snapshot_id

    tbl.rename_column("lang", "language")
    new_ddl = "url string, text string, language string"
    got = tbl.read_decoded(spark, new_ddl).cache()
    assert got.count() == 600
    n_null_src = df.filter(F.col("lang").isNull()).count()
    assert got.filter(F.col("language").isNull()).count() == n_null_src
    # time travel: the pre-rename snapshot still decodes the OLD name
    old = tbl.read_decoded(spark, "url string, lang string",
                           snapshot_id=pre)
    assert old.count() == 600
    got.unpersist()

    # chain: language -> tongue; and append new-generation blocks that
    # already carry the final name — one read spans both generations
    tbl.rename_column("language", "tongue")
    inc = (webtext_df(spark, 100, parts=1)
           .withColumn("url", F.concat(F.lit("v2-"), F.col("url")))
           .selectExpr("url", "text", "lang as tongue"))
    append_encode(spark, inc, tbl, run_id="v2")
    ddl3 = "url string, text string, tongue string"
    got3 = tbl.read_decoded(spark, ddl3).cache()
    assert got3.count() == 700
    n_null_inc = inc.filter(F.col("tongue").isNull()).count()
    assert (got3.filter(F.col("tongue").isNull()).count()
            == n_null_src + n_null_inc)
    got3.unpersist()


def test_rename_key_keeps_lookups_and_deletes_working(spark, tmp_path):
    from eel_sdk_spark.checkpoint import encode_with_checkpoint, \
        point_lookup, range_lookup
    from eel_sdk_spark.corpus import webtext_df
    from eel_sdk_spark.deletes import delete_rows

    tbl = ManifestTable(str(tmp_path), "renkey")
    df = webtext_df(spark, 500, parts=2).select("url", "text").cache()
    encode_with_checkpoint(spark, df, tbl, key="url", n_parts=4,
                           run_id="r1", sort_by=["url"])
    victim, target = [r["url"] for r in df.select("url").limit(2).collect()]
    delete_rows(spark, tbl, [victim], key="url")

    tbl.rename_column("url", "page_url")
    ddl = "page_url string, text string"
    hit = point_lookup(spark, tbl, target, ddl, key="page_url")
    assert hit.count() == 1
    assert hit.first()["page_url"] == target
    # the pre-rename tombstone still suppresses under the new name
    assert point_lookup(spark, tbl, victim, ddl,
                        key="page_url").count() == 0
    rng = range_lookup(spark, tbl, "https://", "https://zzzz", ddl,
                       key="page_url")
    assert rng.count() == 499  # all minus the tombstoned row
    df.unpersist()


def test_stored_row_schema_resolves_reads(spark, tmp_path):
    """Encode runs persist row_schema_ddl in the manifest: reads and
    lookups no longer need the caller to restate the schema, and
    rename_column keeps the stored schema current."""
    from eel_sdk_spark.checkpoint import encode_with_checkpoint, \
        point_lookup, range_lookup
    from eel_sdk_spark.corpus import webtext_df
    from eel_sdk_spark.streaming.follow import follow_once

    tbl = ManifestTable(str(tmp_path), "sch")
    df = webtext_df(spark, 400, parts=2).select("url", "text", "lang")
    encode_with_checkpoint(spark, df, tbl, key="url", n_parts=4,
                           run_id="r1", sort_by=["url"])
    assert tbl.row_schema() == "url string, text string, lang string"

    got = tbl.read_decoded(spark)  # no DDL anywhere
    assert got.count() == 400 and got.columns == ["url", "text", "lang"]
    target = df.select("url").first()["url"]
    assert point_lookup(spark, tbl, target).count() == 1
    assert range_lookup(spark, tbl, "https://", "https://zzzz").count() \
        == 400

    tbl.rename_column("lang", "language")
    assert tbl.row_schema() == "url string, text string, language string"
    got2 = tbl.read_decoded(spark)
    assert got2.columns == ["url", "text", "language"]
    assert got2.count() == 400

    # follower resolves the source schema too
    sink = ManifestTable(str(tmp_path), "sink")
    out = follow_once(spark, tbl, sink)
    assert out["rows"] == 400

    # a bare-commit table (no encode lineage) fails with guidance
    import pytest as _pt

    bare = ManifestTable(str(tmp_path), "bare")
    bare.commit([], "x int")
    with _pt.raises(ValueError, match="no stored row schema"):
        bare.row_schema()


def test_widen_column_int_to_bigint_mixed_generations(spark, tmp_path):
    """r8 type widening (VERDICT r7 #6): widen_column is properties-only
    (Iceberg type promotion); old blocks keep int32, the decode kernel
    safe-casts up, appends encode natively wide, and point lookups probe
    the part hash at EVERY historical width (xxhash64(int32) !=
    xxhash64(int64), so each generation's rows live in parts derived
    from its own width)."""
    from eel_sdk_spark.checkpoint import (append_encode,
                                          encode_with_checkpoint,
                                          point_lookup)
    from eel_sdk_spark.corpus import webtext_df

    docs = (webtext_df(spark, 600, parts=2)
            .withColumn("doc_id", (F.xxhash64("url") % 10000)
                        .cast("int"))
            .select("doc_id", "text").cache())
    docs.count()
    tbl = ManifestTable(str(tmp_path), "widen")
    encode_with_checkpoint(spark, docs, tbl, key="doc_id", n_parts=8,
                           run_id="g1", shuffle=True)
    old_id = int(docs.first()["doc_id"])
    assert point_lookup(spark, tbl, old_id, key="doc_id").count() >= 1

    tbl.widen_column("doc_id", "bigint")
    assert "doc_id bigint" in tbl.row_schema()
    back = tbl.read_decoded(spark)
    assert dict(back.dtypes)["doc_id"] == "bigint"
    assert back.count() == 600

    # gen-2 appends natively wide, beyond int32 range
    gen2 = spark.createDataFrame(
        [(2**40 + i, f"wide {i}") for i in range(50)],
        "doc_id bigint, text string")
    append_encode(spark, gen2, tbl, run_id="g2")
    allr = tbl.read_decoded(spark)
    assert allr.count() == 650
    assert allr.filter(F.col("doc_id") > 2**39).count() == 50

    # lookups span generations: the old (int32-hashed) row AND the new
    # (int64-hashed) row both resolve through the widened schema
    assert point_lookup(spark, tbl, old_id, key="doc_id").count() >= 1
    assert point_lookup(spark, tbl, 2**40 + 7, key="doc_id").count() == 1


def test_widen_column_guards(spark, tmp_path):
    from eel_sdk_spark.checkpoint import encode_with_checkpoint
    from eel_sdk_spark.corpus import webtext_df

    df = webtext_df(spark, 200, parts=1).select("url", "text")
    tbl = ManifestTable(str(tmp_path), "widenguard")
    encode_with_checkpoint(spark, df, tbl, n_parts=2, run_id="r1")
    with pytest.raises(ValueError, match="not a lossless"):
        tbl.widen_column("text", "binary")
    with pytest.raises(ValueError, match="no column"):
        tbl.widen_column("nope", "bigint")
    # chained widen history accumulates
    docs = df.withColumn("n", F.length("text").cast("smallint")) \
        .select("url", "n")
    t2 = ManifestTable(str(tmp_path), "widenchain")
    encode_with_checkpoint(spark, docs, t2, n_parts=2, run_id="r1")
    t2.widen_column("n", "int")
    t2.widen_column("n", "bigint")
    hist = t2.current().properties["column_widenings"]
    assert [(e["from"], e["to"]) for e in hist] == \
        [("smallint", "int"), ("int", "bigint")]
    assert t2.read_decoded(spark).schema["n"].dataType.simpleString() \
        == "bigint"


def test_rename_racing_widen_both_land(spark, tmp_path, monkeypatch):
    """Rename and widen BOTH rewrite row_schema_ddl. Each computes its
    rewrite from the head under the commit lock, so a rename landing
    just before the widen's commit takes the lock is never clobbered."""
    from eel_sdk_spark.checkpoint import encode_with_checkpoint
    from eel_sdk_spark.corpus import webtext_df

    docs = (webtext_df(spark, 300, parts=1)
            .withColumn("n", F.length("text").cast("int"))
            .select("url", "n"))
    tbl = ManifestTable(str(tmp_path), "racewiden")
    encode_with_checkpoint(spark, docs, tbl, n_parts=2, run_id="r1")

    real_commit = ManifestTable.commit
    state = {"fired": False}

    def spy(self, *a, **kw):
        if not state["fired"]:  # the widen's commit, before the lock
            state["fired"] = True
            tbl.rename_column("url", "page_url")  # rival lands first
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(ManifestTable, "commit", spy)
    tbl.widen_column("n", "bigint")
    assert state["fired"]
    # BOTH schema rewrites survived the interleave
    assert tbl.row_schema() == "page_url string, n bigint"
    read = tbl.read_decoded(spark)
    assert dict(read.dtypes) == {"page_url": "string", "n": "bigint"}
    assert read.count() == 300
