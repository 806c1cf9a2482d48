"""Every read and rewrite plans its files with ``checkpoint.plan_files``.

Range lookups, purge, upsert and DataSource pushdown share the point
lookup's tier chain, so a key type the planner understands prunes on all
of them alike. These tests run each on a time-ordered table, where the
manifest key ranges are disjoint per file, and on a clustered int table
for a purge too big for the bloom tiers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eel_sdk_spark import checkpoint
from eel_sdk_spark.checkpoint import encode_with_checkpoint, range_lookup
from eel_sdk_spark.deletes import delete_rows, purge_deletes, upsert_rows
from eel_sdk_spark.table import ManifestTable


def _time_docs(spark, typ):
    """400 rows over 4 input tasks, keyed by hour (timestamp) or day
    (date) in arrival order, so each written file holds one slice."""
    ids = spark.range(0, 400, 1, 4)
    k = (F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 3600)
         if typ == "timestamp"
         else F.date_add(F.lit("2020-01-01").cast("date"),
                         F.col("id").cast("int")))
    return ids.select(k.alias("k"), F.col("id").cast("string").alias("v"))


@pytest.mark.parametrize("typ", ["timestamp", "date"])
def test_time_keys_on_every_read(spark, tmp_path, typ, monkeypatch):
    """range_lookup, delete_rows -> purge_deletes, upsert_rows and
    DataSource ``=``/``>=`` pushdown on a timestamp or date key: exact
    rows, and the planner keeps only the files whose slice can hold the
    probe."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual
    from pyspark.sql.types import StructType

    from eel_sdk_spark.sources.eel_datasource import (EelPushdownReader,
                                                      register)

    docs = _time_docs(spark, typ).cache()
    ddl = f"k {typ}, v string"
    ks = [r.k for r in docs.orderBy("k").collect()]
    tbl = ManifestTable(str(tmp_path), "t")
    encode_with_checkpoint(spark, docs, tbl, key="k", n_parts=8,
                           run_id="t1")
    assert len(tbl.current().files) == 4

    # DataSource pushdown: = and >= prune to the slice, Spark's rows exact
    register(spark)
    opts = {"path": str(tmp_path), "table": "t"}
    schema = StructType.fromDDL(ddl)
    for flt, n_files in ((EqualTo(("k",), ks[50]), 1),
                         (GreaterThanOrEqual(("k",), ks[310]), 1),
                         (GreaterThanOrEqual(("k",), ks[0]), 4)):
        rd = EelPushdownReader(opts, schema)
        rd.pushFilters([flt])
        assert len(rd._files) == n_files, flt
    conf = "spark.sql.python.filterPushdown.enabled"
    old = spark.conf.get(conf, "false")
    spark.conf.set(conf, "true")
    try:
        src = (spark.read.format("eel").option("pushdown", "true")
               .option("table", "t").load(str(tmp_path)))
        assert [r.v for r in src.filter(F.col("k") == ks[50]).collect()] \
            == ["50"]
        assert src.filter(F.col("k") >= ks[310]).count() == 90
    finally:
        spark.conf.set(conf, old)

    # range_lookup: exact rows, and only the slice's file is opened
    opened = []
    real = checkpoint._read_block_rows

    def spy(files, *a, **kw):
        opened.extend(files)
        return real(files, *a, **kw)

    monkeypatch.setattr(checkpoint, "_read_block_rows", spy)
    got = range_lookup(spark, tbl, ks[110], ks[180], ddl, key="k")
    monkeypatch.setattr(checkpoint, "_read_block_rows", real)
    assert sorted(int(r.v) for r in got.collect()) == list(range(110, 181))
    assert len(opened) == 1

    # delete_rows -> purge_deletes: only the victim's file is rewritten
    delete_rows(spark, tbl, [ks[250]], key="k")
    out = purge_deletes(spark, tbl, ddl)
    assert out["rewritten_files"] == 1 and out["surviving_files"] == 3
    raw = tbl.read_decoded(spark, ddl, with_deletes=False)
    assert raw.count() == 399
    assert raw.filter(F.col("k") == ks[250]).count() == 0

    # upsert_rows: only the key's file is rewritten, the new row wins
    incoming = docs.filter(F.col("k") == ks[330]).withColumn(
        "v", F.lit("new"))
    out = upsert_rows(spark, tbl, incoming, ddl)
    assert out["rewritten_files"] == 1 and out["replaced_rows"] == 1
    read = tbl.read_decoded(spark, ddl)
    assert read.count() == 399
    assert [r.v for r in read.filter(F.col("k") == ks[330]).collect()] \
        == ["new"]
    docs.unpersist()


def test_purge_beyond_bloom_keys_prunes_by_range(spark, tmp_path):
    """A purge of more keys than the bloom tiers take still prunes with
    the key-range tier: 300 tombstoned ids inside one file's slice
    rewrite that file alone."""
    from eel_sdk_spark.deletes import PURGE_BLOOM_MAX_KEYS

    ids = spark.range(0, 4000, 1, 4).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("v"))
    ddl = "doc_id bigint, v string"
    tbl = ManifestTable(str(tmp_path), "many")
    encode_with_checkpoint(spark, ids, tbl, key="doc_id", n_parts=8,
                           run_id="r1")
    assert len(tbl.current().files) == 4
    victims = list(range(1100, 1400))
    assert len(victims) > PURGE_BLOOM_MAX_KEYS
    delete_rows(spark, tbl, victims, key="doc_id")
    out = purge_deletes(spark, tbl, ddl)
    assert out["rewritten_files"] == 1 and out["surviving_files"] == 3
    raw = tbl.read_decoded(spark, ddl, with_deletes=False)
    assert raw.count() == 4000 - len(victims)
    assert raw.filter(F.col("doc_id").between(1100, 1399)).count() == 0


@pytest.fixture
def east_of_utc(monkeypatch):
    """Python's local time nine hours east of UTC. PySpark converts
    naive datetimes in local time, so a probe read from arrow (UTC
    instants) and converted the PySpark way would land nine hours off."""
    import time

    monkeypatch.setenv("TZ", "XST-9")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_composite_time_key_tombstones_off_utc(spark, tmp_path,
                                               east_of_utc):
    """A tombstone on a ["s", "t timestamp"] key under a non-UTC local
    time: point_lookup and the DataSource drop the row, and purge
    rewrites the file that holds it (each file spans 100 minutes, so a
    probe nine hours off would prune every file and resurrect the row)."""
    from eel_sdk_spark.checkpoint import point_lookup
    from eel_sdk_spark.sources.eel_datasource import register

    docs = spark.range(0, 400, 1, 4).select(
        F.lit("src").alias("s"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 60)
        .alias("t"), F.col("id").cast("string").alias("v"))
    ddl = "s string, t timestamp, v string"
    tbl = ManifestTable(str(tmp_path), "st")
    encode_with_checkpoint(spark, docs, tbl, key=["s", "t"], n_parts=8,
                           run_id="r1")
    assert len(tbl.current().files) == 4
    victim = docs.filter(F.col("id") == 250).first()
    probe = (victim.s, victim.t)
    assert point_lookup(spark, tbl, probe, ddl, key=["s", "t"]).count() \
        == 1
    delete_rows(spark, tbl, [probe], key=["s", "t"])

    assert point_lookup(spark, tbl, probe, ddl, key=["s", "t"]).count() \
        == 0
    register(spark)
    src = spark.read.format("eel").option("table", "st").load(str(tmp_path))
    assert src.count() == 399
    assert src.filter(F.col("v") == "250").count() == 0

    out = purge_deletes(spark, tbl, ddl)
    assert out["rewritten_files"] == 1 and out["surviving_files"] == 3
    raw = tbl.read_decoded(spark, ddl, with_deletes=False)
    assert raw.count() == 399
    assert raw.filter(F.col("v") == "250").count() == 0


def test_streamed_bloom_index_probes_all_values_in_one_pass(
        spark, tmp_path, monkeypatch):
    """Above the planning budget the bloom-index sidecar is streamed, not
    cached: its verdicts equal the cached read's, and probing many
    values streams the sidecar once, as one value does."""
    from eel_sdk_spark.checkpoint import build_bloom_index

    docs = spark.range(0, 4000, 1, 4).select(
        F.concat(F.lit("key-"), F.col("id")).alias("url"),
        F.col("id").cast("string").alias("v"))
    tbl = ManifestTable(str(tmp_path), "bix")
    encode_with_checkpoint(spark, docs, tbl, key="url", n_parts=8,
                           run_id="r1", shuffle=True)
    build_bloom_index(spark, tbl, key="url")
    probes = [f"key-{i}" for i in (3, 700, 1900, 3999)] + ["key-absent"]

    cached = checkpoint._bloom_index_hits(tbl.current(), probes, {"url"})
    assert cached is not None and any(cached[1].values())

    reads = []
    real = checkpoint._index_arrays

    def spy(t):
        reads.append(t.num_rows)
        return real(t)

    monkeypatch.setattr(checkpoint, "_BLOOM_INDEX_PLAN_BUDGET", 0)
    monkeypatch.setattr(checkpoint, "_index_arrays", spy)
    snap = tbl.current()
    assert checkpoint._bloom_index_hits(snap, probes, {"url"}) == cached
    many = list(reads)
    reads.clear()
    one = checkpoint._bloom_index_hits(snap, probes[:1], {"url"})
    assert one == (cached[0], {probes[0]: cached[1][probes[0]]})
    assert many == reads and sum(reads) > 0
    assert getattr(snap, "_bix_cache", None) is None

    # the planner's index tier, streamed, keeps what the cached one keeps
    files = list(snap.files)
    streamed = checkpoint.plan_files(snap, files, {"url"}, tiers=3,
                                     values=probes)
    monkeypatch.setattr(checkpoint, "_BLOOM_INDEX_PLAN_BUDGET", 256 << 20)
    assert checkpoint.plan_files(tbl.current(), files, {"url"}, tiers=3,
                                 values=probes) == streamed
