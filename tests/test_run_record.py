"""Run records built in the driver from the written files.

``checkpoint.write_run`` writes the encoded blocks (the one Spark job)
and ``_run_record`` folds the record from a narrow pyarrow read of the
files it wrote. These tests pin that record to the Spark aggregate it
replaced — the reference below reads the same files through Spark and
groups them on (file, parts, col, codec) — on every table shape the
encoder writes, and count the Spark jobs a write runs.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from eel_sdk_spark import checkpoint
from eel_sdk_spark.checkpoint import (append_encode, encode_with_checkpoint,
                                      input_fingerprint)
from eel_sdk_spark.corpus import webtext_df
from eel_sdk_spark.encode import (STATS_STR_LEN, SUMMARY_COL_PREFIX,
                                  key_cols)
from eel_sdk_spark.table import ManifestTable


def _spark_block_stats(spark):
    """The Spark aggregate the run record was built from: one scan of
    the written files, the sentinel rows collected apart, the rest
    grouped on (file, parts, col, codec)."""
    def gather(files):
        if not files:
            return [], []
        blocks = spark.read.parquet(*files)
        summary_rows = (blocks
                        .filter(F.col("col").startswith(SUMMARY_COL_PREFIX))
                        .select(F.input_file_name().alias("file"), "col",
                                "key_bloom", "n_values")
                        .collect())
        stats = (blocks
                 .filter(~F.col("col").startswith(SUMMARY_COL_PREFIX))
                 .groupBy(F.input_file_name().alias("file"),
                          "parts", "col", "codec")
                 .agg(F.sum("n_values").alias("nv"),
                      F.sum("raw_bytes").alias("raw"),
                      F.sum("enc_bytes").alias("enc"),
                      F.count("*").alias("cnt"),
                      F.min("min_s").alias("mns"),
                      F.max("max_s").alias("mxs"),
                      F.min("min_i").alias("mni"),
                      F.max("max_i").alias("mxi"),
                      F.count("min_s").alias("cns"),
                      F.count("min_i").alias("cni"))
                 .collect())
        return stats, summary_rows
    return gather


def _reference_record(spark, tbl, run, monkeypatch):
    """``run`` rebuilt from the table's files with the Spark aggregate."""
    with monkeypatch.context() as m:
        m.setattr(checkpoint, "_file_block_stats", _spark_block_stats(spark))
        return checkpoint._run_record(
            tbl.current().files, run["run_id"], run["fingerprint"],
            run["n_parts"], run["salt"], run["salt_by"], run["key"],
            bloom_bits=run["bloom_bits"])


def _dump(rec):
    return json.dumps(rec, sort_keys=True)


@pytest.fixture(scope="module")
def corpus(spark):
    df = webtext_df(spark, 1200, parts=4).cache()
    df.count()
    yield df
    df.unpersist()


def _long_keys(df):
    # in every other partition the urls after its 200th row grow past
    # the stats length: those files mix key blocks with and without
    # stats (100-row blocks) and record no key range, the rest do
    pos = F.monotonically_increasing_id() % (1 << 33)
    return df.withColumn("url", F.when(
        (F.spark_partition_id() % 2 == 0) & (pos >= 200),
        F.concat("url", F.lit("/" + "x" * STATS_STR_LEN)))
        .otherwise(F.col("url")))


def _int_keyed(df):
    return df.withColumn("doc_id", F.xxhash64("url") % 100000)


def _hash_empty(df):
    # the first input partition holds no rows: its task writes an
    # empty file
    return df.filter(F.spark_partition_id() > 0)


CASES = {
    "banded": ({}, None),
    "shuffled": ({"shuffle": True}, None),
    "sorted": ({"sort_by": ["url"]}, None),
    "composite": ({"key": ["lang", "url"]}, None),
    "salted": ({"key": "lang", "salt": 4, "salt_by": "url"}, None),
    "no_bloom": ({"key_bloom": False}, None),
    "bloom_cols": ({"bloom_cols": ["lang", "warc_ts"]}, None),
    "long_keys": ({}, _long_keys),
    "int_key": ({"key": "doc_id"}, _int_keyed),
    "hash_empty": ({}, _hash_empty),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_run_record_matches_spark_aggregate(spark, corpus, tmp_path,
                                            monkeypatch, case):
    kw, shape = CASES[case]
    df = shape(corpus) if shape else corpus
    tbl = ManifestTable(str(tmp_path), case)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    if case == "long_keys":
        spark.conf.set(conf, "100")
    try:
        run = encode_with_checkpoint(spark, df, tbl, n_parts=8,
                                     run_id=case, **kw)
    finally:
        spark.conf.set(conf, old)
    assert run["n_rows"] == df.count()
    assert _dump(run) == _dump(_reference_record(spark, tbl, run,
                                                 monkeypatch))
    files = {os.path.basename(f) for f in tbl.current().files}
    assert set(run["file_parts"]) == set(run["file_stats"]) == files
    # each case reaches the branch it is named for
    blooms = run.get("file_summary_blooms", {})
    if case == "no_bloom":
        assert not blooms
    elif case == "bloom_cols":
        assert {"url", "lang", "warc_ts"} <= set(blooms)
    else:
        assert set(key_cols(run["key"])) <= set(blooms)
    if case == "composite":
        assert set(run["file_key_ranges_cols"]) == {"lang", "url"}
    if case == "long_keys":
        assert 0 < len(run["file_key_ranges"]) < len(files)
    if case == "int_key":
        assert all("i" in r for r in run["file_key_ranges"].values())
        assert run["file_key_ranges"]
    if case == "hash_empty":
        empty = [n for n, s in run["file_stats"].items() if s == [0, 0, 0]]
        assert empty and all(run["file_parts"][n] == [] for n in empty)


def _halves(df):
    even = F.xxhash64("url") % 2 == 0
    return df.filter(even), df.filter(~even)


def test_append_and_realign_records_match(spark, corpus, tmp_path,
                                          monkeypatch):
    """Records of the other writers: an append and a realign rewrite."""
    tbl = ManifestTable(str(tmp_path), "multi")
    head, tail = _halves(corpus)
    encode_with_checkpoint(spark, head, tbl, n_parts=8, run_id="r1")
    run = append_encode(spark, tail, tbl, run_id="r2")
    with monkeypatch.context() as m:
        m.setattr(checkpoint, "_file_block_stats", _spark_block_stats(spark))
        new = [f for f in tbl.current().files
               if os.path.basename(f) in run["file_stats"]]
        want = checkpoint._run_record(new, "r2", None, run["n_parts"],
                                      run["salt"], run["salt_by"],
                                      run["key"],
                                      bloom_bits=run["bloom_bits"])
    assert _dump(run) == _dump(want)
    realigned = checkpoint.realign_table(spark, tbl, tbl.row_schema())
    assert realigned["n_rows"] == 1200
    assert _dump(realigned) == _dump(_reference_record(
        spark, tbl, realigned, monkeypatch))


def test_record_reads_no_payload(corpus, spark, tmp_path, monkeypatch):
    """The driver read asks only for the narrow block columns."""
    tbl = ManifestTable(str(tmp_path), "narrow")
    asked = []
    real = checkpoint._read_block_rows

    def spy(files, columns=None):
        asked.append(columns)
        return real(files, columns)

    monkeypatch.setattr(checkpoint, "_read_block_rows", spy)
    encode_with_checkpoint(spark, corpus, tbl, n_parts=8, run_id="n")
    assert len(asked) == 1
    assert not {"header", "payload"} & set(asked[0])


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` ran)."""
    sc = spark.sparkContext
    group = f"write-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "run record")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_append_runs_one_job(spark, corpus, tmp_path):
    tbl = ManifestTable(str(tmp_path), "jobs")
    head, tail = _halves(corpus)
    encode_with_checkpoint(spark, head, tbl, n_parts=8, run_id="r1")
    tail = tail.cache()
    n_tail = tail.count()
    run, n = _jobs(spark, lambda: append_encode(spark, tail, tbl,
                                                run_id="r2"))
    tail.unpersist()
    assert run["n_rows"] == n_tail
    assert n == 1  # the encode write; the record needs no job


def test_fresh_encode_runs_write_and_fingerprint_only(spark, corpus,
                                                      tmp_path):
    _, n_fp = _jobs(spark, lambda: input_fingerprint(corpus, "url"))
    tbl = ManifestTable(str(tmp_path), "fresh")
    run, n = _jobs(spark, lambda: encode_with_checkpoint(
        spark, corpus, tbl, n_parts=8, run_id="r1"))
    assert run["n_rows"] == 1200
    assert n_fp >= 1
    assert n == n_fp + 1  # the fingerprint plus the encode write
