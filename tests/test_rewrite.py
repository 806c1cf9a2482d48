"""The one rewrite behind ``compact`` and ``binpack``.

Both entry points replace files through ``ManifestTable._rewrite``, which
records the new files' manifest entries from a driver-side fold of their
narrow block rows (``checkpoint._file_entries``). These tests pin those
entries to the Spark aggregates they replaced — the reference below
reads the rewritten files through Spark and groups on
``input_file_name()`` — on banded, part-aligned and mixed-generation
tables, and check that no Spark job starts after the rewrite's write.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from eel_sdk_spark.checkpoint import (append_encode, compact_coverage,
                                      encode_with_checkpoint)
from eel_sdk_spark.corpus import webtext_df
from eel_sdk_spark.encode import PART_COL, encode_df, with_part_id
from eel_sdk_spark.table import ManifestTable


def _spark_entries(spark, new_files: list[str], key: str | None) -> dict:
    """``file_parts_extra``, ``file_stats_extra`` and the key-range
    ``files`` map of ``new_files``, from Spark aggregates over them."""
    base = os.path.basename
    rewritten = spark.read.parquet(*new_files)
    if "parts" in rewritten.columns:
        # pre-banding rows carry NULL parts under the merged schema
        rows = (rewritten
                .select(F.input_file_name().alias("f"),
                        F.explode(F.coalesce(
                            F.col("parts"),
                            F.array(F.col("part_id")))).alias("p"))
                .distinct().collect())
    else:
        rows = (rewritten
                .groupBy(F.input_file_name().alias("f"),
                         F.col("part_id").alias("p"))
                .count().collect())
    cov: dict[str, list[int]] = {}
    for r in rows:
        cov.setdefault(base(r["f"]), []).append(int(r["p"]))
    fs_rows = (rewritten
               .groupBy(F.input_file_name().alias("f"), "col")
               .agg(F.sum("n_values").alias("nv"),
                    F.sum("raw_bytes").alias("raw"),
                    F.sum("enc_bytes").alias("enc"))
               .collect())
    fstats: dict[str, list[int]] = {}
    fs_first = min((r["col"] for r in fs_rows), default=None)
    for r in fs_rows:
        fs = fstats.setdefault(base(r["f"]), [0, 0, 0])
        if r["col"] == fs_first:
            fs[0] += int(r["nv"])
        fs[1] += int(r["raw"])
        fs[2] += int(r["enc"])
    ranges: dict[str, dict] = {}
    if key is not None:
        kr_rows = (rewritten.filter(F.col("col") == key)
                   .groupBy(F.input_file_name().alias("f"))
                   .agg(F.count("*").alias("cnt"),
                        F.min("min_s").alias("mns"),
                        F.max("max_s").alias("mxs"),
                        F.min("min_i").alias("mni"),
                        F.max("max_i").alias("mxi"),
                        F.count("min_s").alias("cns"),
                        F.count("min_i").alias("cni"))
                   .collect())
        for r in kr_rows:
            if r["cnt"] and r["cns"] == r["cnt"] and r["mns"] is not None:
                ranges[base(r["f"])] = {"s": [r["mns"], r["mxs"]]}
            elif r["cnt"] and r["cni"] == r["cnt"] \
                    and r["mni"] is not None:
                ranges[base(r["f"])] = {"i": [int(r["mni"]),
                                              int(r["mxi"])]}
    return {
        "file_parts_extra": {base(f): compact_coverage(sorted(
            cov.get(base(f), []))) for f in new_files},
        "file_stats_extra": {base(f): fstats.get(base(f), [0, 0, 0])
                             for f in new_files},
        "file_key_ranges_extra": ranges,
    }


def _rewrite_traced(spark, monkeypatch, run):
    """Run ``run()`` under a fresh job group; returns its result and the
    group's job ids when the rewrite listed its written files and at
    return (each read once the listener bus has drained, so every job
    started so far is counted)."""
    sc = spark.sparkContext
    group = f"rewrite-{uuid.uuid4().hex}"
    seen: dict = {}
    listed = ManifestTable.list_written_files

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(group))

    def spy(job_dir):
        seen["at_write"] = jobs()
        return listed(job_dir)

    with monkeypatch.context() as m:
        m.setattr(ManifestTable, "list_written_files", staticmethod(spy))
        sc.setJobGroup(group, "rewrite")
        try:
            out = run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return out, seen["at_write"], jobs()


def _check_rewrite(spark, tbl, before, rows: int, at_write, at_return):
    after = tbl.current()
    new = sorted(set(after.files) - set(before.files))
    assert new and at_write and at_return == at_write, \
        "a Spark job ran after the rewrite's write"
    kept = {os.path.basename(f) for f in after.files if f in before.files}
    runs = after.properties["runs"]
    key = runs[-1]["key"]
    want = _spark_entries(spark, new, key)
    props = after.properties
    for name in ("file_parts_extra", "file_stats_extra"):
        got = props[name]
        assert {b: got[b] for b in got if b not in kept} \
            == want[name], name
        # survivors keep what they had
        old = before.properties.get(name, {})
        assert {b: got[b] for b in kept if b in old} \
            == {b: old[b] for b in kept if b in old}, name
    kr = props["file_key_ranges_extra"]
    assert kr["key"] == key
    assert {b: v for b, v in kr["files"].items() if b not in kept} \
        == want["file_key_ranges_extra"]
    assert want["file_key_ranges_extra"], "no key range recorded"
    assert tbl.read_decoded(spark).count() == rows


def _appends(spark, tbl, tag: str, n: int = 2):
    for i in range(n):
        d = webtext_df(spark, 120, parts=1).withColumn(
            "url", F.concat(F.lit(f"https://{tag}{i}."), F.col("url")))
        append_encode(spark, d, tbl, run_id=f"{tag}{i}")
    return 120 * n


def _banded(spark, tbl):
    encode_with_checkpoint(spark, webtext_df(spark, 1600, parts=4), tbl,
                           n_parts=8, run_id="b", shuffle="local")
    return 1600


def _aligned(spark, tbl):
    encode_with_checkpoint(spark, webtext_df(spark, 1600, parts=4), tbl,
                           n_parts=8, run_id="a", shuffle=True)
    return 1600


def _mixed(spark, tbl):
    """A pre-banding generation (blocks without parts/part_hi) plus a
    banded resume of the remaining parts."""
    df = webtext_df(spark, 1600, parts=4).cache()
    old = (with_part_id(df, "url", 8).filter(F.col(PART_COL) < 4)
           .drop(PART_COL))
    job_dir = tbl.new_data_path()
    encode_df(old, key="url", n_parts=8, shuffle=True) \
        .drop("parts", "part_hi").write.mode("overwrite").parquet(job_dir)
    tbl.commit(ManifestTable.list_written_files(job_dir), "",
               {"runs": [{"run_id": "pre-banding", "part_ids": [0, 1, 2, 3],
                          "n_parts": 8, "salt": 1, "salt_by": None,
                          "key": "url"}]}, mode="append")
    encode_with_checkpoint(spark, df, tbl, run_id="banded",
                           verify_fingerprint=False)
    df.unpersist()
    return 1600


@pytest.mark.parametrize("make", [_banded, _aligned, _mixed],
                         ids=["banded", "aligned", "mixed"])
def test_rewrite_entries_match_spark_aggregates(spark, tmp_path,
                                                monkeypatch, make):
    tbl = ManifestTable(str(tmp_path), "t")
    rows = make(spark, tbl) + _appends(spark, tbl, "c")

    before = tbl.current()
    _, at_write, at_return = _rewrite_traced(
        spark, monkeypatch, lambda: tbl.compact(spark, 3))
    # a hash partition no block group lands in writes no file
    compacted = set(tbl.current().files)
    assert 1 <= len(compacted) <= 3
    _check_rewrite(spark, tbl, before, rows, at_write, at_return)

    # binpack packs the small appends, and keeps the compacted files
    # bigger than every append
    rows += _appends(spark, tbl, "p")
    before = tbl.current()
    sizes = dict(zip(before.files, before.file_sizes(before.files)))
    target = 1 + max(sizes[f] for f in before.files if f not in compacted)
    out, at_write, at_return = _rewrite_traced(
        spark, monkeypatch, lambda: tbl.binpack(spark, target_bytes=target))
    assert out["rewritten_files"] >= 2 and out["surviving_files"] >= 1
    _check_rewrite(spark, tbl, before, rows, at_write, at_return)
