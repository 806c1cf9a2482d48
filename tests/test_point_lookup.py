"""Point lookups planned and decoded in the driver process.

``point_lookup`` derives part ids with a Python twin of Spark's
``xxhash64``, plans the block groups of each kept file from its key rows
and decodes them in-process; kept files larger on disk than
``spark.sql.files.maxPartitionBytes`` run the same plan as one
``decode_files_df`` job. These tests pin the twin to the JVM hash and the
lookup to the full-scan filter on every table shape the tiers meet, in
both branches.
"""

from __future__ import annotations

import os
import struct
import uuid
from functools import reduce
from operator import and_

import pytest
from pyspark.sql import functions as F

from eel_sdk_spark import checkpoint, encode
from eel_sdk_spark.checkpoint import (append_encode, build_bloom_index,
                                      encode_with_checkpoint, point_lookup)
from eel_sdk_spark.corpus import SCHEMA_DDL, webtext_df
from eel_sdk_spark.deletes import delete_rows
from eel_sdk_spark.encode import (PART_COL, encode_df, key_cols,
                                  key_values, part_id_of, with_part_id,
                                  xxhash64)
from eel_sdk_spark.table import ManifestTable

MISS = "https://no.such/url"


# -- the xxhash64 twin -------------------------------------------------------

def test_xxhash64_twin_strings(spark):
    """Empty, non-ASCII and every byte length 0-100, so each of XXH64's
    32-byte stripe, 8-byte, 4-byte and 1-byte tails runs."""
    strs = (["", "a", "é", "日本語", "🙂 emoji", "https://x.example/p/1"]
            + ["x" * n for n in range(101)]
            + ["é" * n for n in range(1, 51)]
            + ["🙂" * n for n in range(1, 26)])
    got = spark.createDataFrame([(s,) for s in strs], "s string") \
        .select("s", F.xxhash64("s").alias("h")).collect()
    assert len(got) == len(strs)
    bad = [(r.s, r.h) for r in got if r.h != xxhash64([r.s], ["string"])]
    assert not bad, bad[:3]


@pytest.mark.parametrize("typ,bits", [("tinyint", 8), ("smallint", 16),
                                      ("int", 32), ("bigint", 64)])
def test_xxhash64_twin_ints(spark, typ, bits):
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    vals = sorted(v for v in {lo, lo + 1, -100, -1, 0, 1, 2, 100, hi - 1,
                              hi, lo // 3, hi // 7} if lo <= v <= hi)
    got = spark.createDataFrame([(v,) for v in vals], f"v {typ}") \
        .select("v", F.xxhash64("v").alias("h")).collect()
    assert len(got) == len(vals)
    bad = [(r.v, r.h) for r in got if r.h != xxhash64([r.v], [typ])]
    assert not bad, bad


def test_xxhash64_twin_chains_and_with_part_id(spark):
    """Composite keys chain the hash (a NULL leaves it unchanged), and
    the salted layout hashes its shard as a bigint: the twin's part is
    exactly the one ``with_part_id`` assigns, salted or not."""
    rows = [("src", 300, "https://a.example/1", 7),
            (None, 5, "é", -3),
            ("", -2**63, "x" * 40, 127),
            ("日本", 2**62, "", -128)]
    df = spark.createDataFrame(rows, "s string, n bigint, u string, "
                                     "t tinyint")
    types = ["string", "bigint", "string", "tinyint"]
    for r in df.select("*", F.xxhash64("s", "n").alias("h2"),
                       F.xxhash64("s", "n", "u", "t").alias("h4")
                       ).collect():
        assert r.h2 == xxhash64([r.s, r.n], types[:2])
        assert r.h4 == xxhash64([r.s, r.n, r.u, r.t], types)
    for salt, salt_by in ((1, None), (4, "u")):
        tagged = with_part_id(df, ["s", "n"], 16, salt=salt,
                              salt_by=salt_by).collect()
        for r in tagged:
            shard = (None if salt_by is None
                     else xxhash64([r.u], ["string"]) % salt)
            assert r[PART_COL] == part_id_of([r.s, r.n], types[:2], 16,
                                             shard)


def test_xxhash64_twin_widened_widths_differ(spark):
    """The same value hashes differently as int and as bigint — why a
    widened key is probed at every historical width."""
    r = spark.createDataFrame([(7, 7)], "a int, b bigint") \
        .select(F.xxhash64("a").alias("ha"),
                F.xxhash64("b").alias("hb")).first()
    assert r.ha == xxhash64([7], ["int"])
    assert r.hb == xxhash64([7], ["bigint"])
    assert r.ha != r.hb


def test_xxhash64_twin_doubles(spark):
    """Doubles hash their canonical bits: -0.0 as 0.0, every NaN as one
    NaN; an int probe hashes as the double it compares equal to."""
    nan_bits = -0x0008000000000001  # a NaN with a non-canonical payload
    other_nan = struct.unpack("<d", struct.pack("<q", nan_bits))[0]
    vals = [0.0, -0.0, 0.5, -2.25, 0.1, 1e300, -1e-300, 5e-324,
            float("inf"), float("-inf"), float("nan"), other_nan]
    got = spark.createDataFrame([(v,) for v in vals], "v double") \
        .select("v", F.xxhash64("v").alias("h")).collect()
    assert len(got) == len(vals)
    bad = [(r.v, r.h) for r in got if r.h != xxhash64([r.v], ["double"])]
    assert not bad, bad
    assert xxhash64([other_nan], ["double"]) == \
        xxhash64([float("nan")], ["double"])
    assert xxhash64([3], ["double"]) == xxhash64([3.0], ["double"])


def test_xxhash64_twin_timestamps_and_dates(spark):
    """Timestamps hash as a long of epoch micros and dates as an int of
    days, taken from the stored probe, pre-epoch included; a NULL inside
    a composite chain leaves the hash unchanged."""
    from datetime import date, datetime

    from eel_sdk_spark.checkpoint import _stored_probe

    rows = [(datetime(1969, 7, 20, 20, 17, 40, 123456),
             datetime(1969, 7, 20, 20, 17, 40, 123456), date(1969, 12, 31),
             "a"),
            (datetime(1970, 1, 1), datetime(1970, 1, 1), date(1970, 1, 1),
             None),
            (datetime(1900, 3, 1, 0, 0, 0, 1), datetime(1900, 3, 1),
             date(1900, 3, 1), "é"),
            (None, None, date(2262, 4, 11), "x"),
            (datetime(2024, 2, 29, 23, 59, 59, 999999), None, None, "y")]
    df = spark.createDataFrame(rows, "t timestamp, n timestamp_ntz, "
                                     "d date, s string")
    types = ["timestamp", "timestamp_ntz", "date", "string"]
    got = df.select("*", F.xxhash64("t").alias("ht"),
                    F.xxhash64("n").alias("hn"), F.xxhash64("d").alias("hd"),
                    F.xxhash64("t", "n", "d", "s").alias("hc")).collect()
    assert len(got) == len(rows)
    for r in got:
        vals = [_stored_probe(v, t) for v, t in zip(r[:4], types)]
        assert r.ht == xxhash64(vals[:1], types[:1])
        assert r.hn == xxhash64(vals[1:2], types[1:2])
        assert r.hd == xxhash64(vals[2:3], types[2:3])
        assert r.hc == xxhash64(vals, types)


def test_xxhash64_twin_refuses_uncovered_types():
    for v, t in ((1.5, "float"), (True, "boolean"), (2**40, "int"),
                 ("7", "bigint"), (7, None), (True, "double"),
                 (10**400, "double"), ("1.5", "double")):
        with pytest.raises(TypeError):
            xxhash64([v], [t])


# -- lookup parity -------------------------------------------------------------

def _norm(row):
    # by column name: the full scan's anti-join moves key columns first;
    # NaN as a string, so equal rows compare equal
    return tuple(sorted((k, bytes(x) if isinstance(x, bytearray)
                         else "NaN" if x != x else x)
                        for k, x in row.asDict().items()))


def _lookup(spark, tbl, value, branch, monkeypatch, **kw):
    """point_lookup rows in the chosen branch: ``driver`` must run no
    Spark job; ``executors`` lowers maxPartitionBytes below any plan's
    bytes, so a plan spanning several files must decode via
    ``decode_files_df`` (one file's plan stays in the driver: the job
    would run it as one task)."""
    calls, plans = [], []
    real, real_plan = encode.decode_files_df, checkpoint._plan_block_groups

    def spy(*a, **k):
        calls.append(k.get("groups"))
        return real(*a, **k)

    def plan_spy(*a, **k):
        plans.append(real_plan(*a, **k))
        return plans[-1]

    monkeypatch.setattr(encode, "decode_files_df", spy)
    monkeypatch.setattr(checkpoint, "_plan_block_groups", plan_spy)
    sc = spark.sparkContext
    group = f"lookup-{uuid.uuid4().hex}"
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    sc.setJobGroup(group, "point lookup")
    if branch == "executors":
        spark.conf.set(conf, "1")
    try:
        rows = point_lookup(spark, tbl, value, **kw).collect()
    finally:
        spark.conf.set(conf, old)
        sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.setattr(encode, "decode_files_df", real)
        monkeypatch.setattr(checkpoint, "_plan_block_groups", real_plan)
    planned_files = sum(1 for g, _ in plans if g)
    if branch == "driver" or planned_files < 2:
        assert not calls
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    else:
        assert len(calls) == 1 and len(calls[0]) == planned_files
    return rows


def _assert_parity(spark, tbl, value, branch, monkeypatch, key="url",
                   **kw):
    """point_lookup == read_decoded(...).filter(key == value)."""
    got = _lookup(spark, tbl, value, branch, monkeypatch, key=key, **kw)
    cond = reduce(and_, [F.col(c) == v for c, v in
                         zip(key_cols(key), key_values(key, value))])
    ddl = kw.get("schema_ddl")
    want = tbl.read_decoded(spark, ddl).filter(cond).collect()
    assert sorted(map(_norm, got), key=repr) == \
        sorted(map(_norm, want), key=repr)
    return got


@pytest.fixture(params=["driver", "executors"])
def branch(request):
    return request.param


@pytest.fixture(scope="module")
def corpus(spark):
    df = webtext_df(spark, 1600, parts=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def layouts(spark, corpus, tmp_path_factory):
    """One table per layout the tiers meet: the default banded layout,
    part-aligned (shuffle=True), key-sorted, and bloom-less."""
    out = {}
    for name, kw in (("banded", {}), ("shuffled", {"shuffle": True}),
                     ("sorted", {"sort_by": ["url"]}),
                     ("no_bloom", {"key_bloom": False})):
        tbl = ManifestTable(str(tmp_path_factory.mktemp(name)), name)
        encode_with_checkpoint(spark, corpus, tbl, n_parts=8, run_id=name,
                               **kw)
        out[name] = tbl
    return out


@pytest.mark.parametrize("layout", ["banded", "shuffled", "sorted",
                                    "no_bloom"])
def test_lookup_parity_layouts(spark, corpus, layouts, layout, branch,
                               monkeypatch):
    tbl = layouts[layout]
    urls = [r.url for r in corpus.select("url").collect()[::397]]
    for u in urls:
        assert len(_assert_parity(spark, tbl, u, branch, monkeypatch)) == 1
    assert _assert_parity(spark, tbl, MISS, branch, monkeypatch) == []


def test_lookup_parity_composite_and_tombstone(spark, corpus, tmp_path,
                                               branch, monkeypatch):
    key = ["lang", "url"]
    tbl = ManifestTable(str(tmp_path), "ck")
    encode_with_checkpoint(spark, corpus, tbl, key=key, n_parts=6,
                           run_id="ck")
    picked = [(r.lang, r.url) for r in corpus.filter("lang is not null")
              .select("lang", "url").collect()[::300]]
    for kv in picked:
        assert len(_assert_parity(spark, tbl, kv, branch, monkeypatch,
                                  key=key)) == 1
    assert _assert_parity(spark, tbl, ("en", MISS), branch, monkeypatch,
                          key=key) == []
    delete_rows(spark, tbl, [picked[0]], key=key)
    assert _assert_parity(spark, tbl, picked[0], branch, monkeypatch,
                          key=key) == []
    assert len(_assert_parity(spark, tbl, picked[1], branch, monkeypatch,
                              key=key)) == 1


def test_lookup_parity_salted(spark, corpus, tmp_path, branch,
                              monkeypatch):
    df = corpus.withColumn("domain", F.split(F.col("url"), "/")[2])
    ddl = SCHEMA_DDL + ", domain string"
    tbl = ManifestTable(str(tmp_path), "salted")
    encode_with_checkpoint(spark, df, tbl, key="domain", n_parts=16,
                           salt=4, salt_by="url", run_id="s")
    target = df.select("domain", "url").collect()[77]
    # every shard: all rows of the domain
    many = _assert_parity(spark, tbl, target.domain, branch, monkeypatch,
                          key="domain", schema_ddl=ddl)
    assert len(many) > 1
    # one url's shard narrows the parts: every row of the domain in that
    # shard comes back, and nothing outside the domain (a decoded group
    # may also hold the domain's rows of other shards)
    shard = F.pmod(F.xxhash64("url"), F.lit(4))
    want_shard = F.pmod(F.xxhash64(F.lit(target.url)), F.lit(4))
    in_shard = {_norm(r) for r in tbl.read_decoded(spark, ddl).filter(
        (F.col("domain") == target.domain) & (shard == want_shard))
        .collect()}
    got = {_norm(r) for r in _lookup(spark, tbl, target.domain, branch,
                                     monkeypatch, key="domain",
                                     schema_ddl=ddl,
                                     salt_by_value=target.url)}
    assert in_shard <= got <= set(map(_norm, many))
    assert target.url in {dict(r)["url"] for r in got}


def test_lookup_parity_widened_key(spark, tmp_path, branch, monkeypatch):
    docs = (webtext_df(spark, 600, parts=2)
            .withColumn("doc_id", (F.xxhash64("url") % 10000).cast("int"))
            .select("doc_id", "text"))
    tbl = ManifestTable(str(tmp_path), "widen")
    encode_with_checkpoint(spark, docs, tbl, key="doc_id", n_parts=8,
                           run_id="g1", shuffle=True)
    old_ids = [r.doc_id for r in docs.select("doc_id").collect()[::150]]
    tbl.widen_column("doc_id", "bigint")
    append_encode(spark, spark.createDataFrame(
        [(2**40 + i, f"wide {i}") for i in range(50)],
        "doc_id bigint, text string"), tbl, run_id="g2")
    for v in old_ids + [2**40 + 7, 2**40 + 99]:
        _assert_parity(spark, tbl, v, branch, monkeypatch, key="doc_id")
    assert _assert_parity(spark, tbl, 2**40 + 7, branch, monkeypatch,
                          key="doc_id")


def test_lookup_parity_renamed_key(spark, corpus, tmp_path, branch,
                                   monkeypatch):
    tbl = ManifestTable(str(tmp_path), "ren")
    encode_with_checkpoint(spark, corpus, tbl, n_parts=8, run_id="r1")
    tbl.rename_column("url", "page_url")
    for r in corpus.select("url").collect()[::500]:
        assert len(_assert_parity(spark, tbl, r.url, branch, monkeypatch,
                                  key="page_url")) == 1


def test_lookup_parity_mixed_generations(spark, corpus, tmp_path, branch,
                                         monkeypatch):
    """Pre-banding blocks (no parts/part_hi columns) appended onto by a
    banded run: membership falls back to [part_id] per file."""
    n_parts = 8
    tagged = with_part_id(corpus, "url", n_parts)
    old_parts = [0, 1, 2, 3]
    df_old = tagged.filter(F.col(PART_COL).isin(*old_parts)).drop(PART_COL)
    tbl = ManifestTable(str(tmp_path), "mixed")
    job = tbl.new_data_path()
    encode_df(df_old, key="url", n_parts=n_parts, shuffle=True) \
        .drop("parts", "part_hi").write.mode("overwrite").parquet(job)
    run = {"run_id": "pre-banding", "part_ids": old_parts,
           "n_parts": n_parts, "salt": 1, "salt_by": None, "key": "url"}
    tbl.commit(ManifestTable.list_written_files(job), "", {"runs": [run]},
               mode="append")
    encode_with_checkpoint(spark, corpus, tbl, run_id="banded",
                           verify_fingerprint=False)
    new = tagged.filter(~F.col(PART_COL).isin(*old_parts))
    for u in [df_old.first().url, new.first().url]:
        assert len(_assert_parity(spark, tbl, u, branch, monkeypatch,
                                  schema_ddl=SCHEMA_DDL)) == 1


def test_lookup_parity_bloom_index_before_append(spark, corpus, tmp_path,
                                                 branch, monkeypatch):
    tbl = ManifestTable(str(tmp_path), "idx")
    encode_with_checkpoint(spark, corpus.repartition(6), tbl, n_parts=8,
                           run_id="r1")
    build_bloom_index(spark, tbl, key="url")
    fresh = webtext_df(spark, 1800, parts=3).subtract(corpus)
    append_encode(spark, fresh, tbl, run_id="r2")
    for df in (corpus, fresh):
        for r in df.select("url").collect()[::150][:2]:
            assert len(_assert_parity(spark, tbl, r.url, branch,
                                      monkeypatch)) == 1


def test_lookup_parity_tombstones(spark, corpus, tmp_path, branch,
                                  monkeypatch):
    """Tombstones on the lookup key and on another column; a NULL never
    matches, exactly like the anti-join the full scan applies."""
    tbl = ManifestTable(str(tmp_path), "tomb")
    encode_with_checkpoint(spark, corpus, tbl, n_parts=8, run_id="r1")
    rows = corpus.select("url", "lang").collect()
    gone = rows[10].url
    de = next(r.url for r in rows if r.lang == "de")
    null_lang = next(r.url for r in rows if r.lang is None)
    live = next(r.url for r in rows if r.lang not in ("de", None)
                and r.url != gone)
    delete_rows(spark, tbl, [gone])
    delete_rows(spark, tbl, spark.createDataFrame([(None,), ("de",)],
                                                  "lang string"),
                key="lang")
    for u, n in ((gone, 0), (de, 0), (null_lang, 1), (live, 1)):
        assert len(_assert_parity(spark, tbl, u, branch, monkeypatch)) == n


def test_uncovered_key_type_keeps_every_part(spark, corpus, tmp_path,
                                             monkeypatch):
    """A key the twin cannot hash degrades the part tier to every part
    and never fails: forced here on a part-aligned string-keyed table,
    the bloom tiers still cut the files to ~1 and the residual filter
    keeps the lookup exact. A real uncovered type (float) too."""
    tbl = ManifestTable(str(tmp_path), "uncov")
    encode_with_checkpoint(spark, corpus, tbl, n_parts=8, run_id="r1",
                           shuffle=True)

    def refuse(*a, **k):
        raise TypeError("no twin for this key type")

    seen = []
    real = checkpoint.lookup_files

    def spy(sp, snap, kv, key, parts, **kw):
        out = real(sp, snap, kv, key, parts, **kw)
        seen.append((set(parts), out))
        return out

    monkeypatch.setattr(encode, "part_id_of", refuse)
    monkeypatch.setattr(checkpoint, "lookup_files", spy)
    url = corpus.select("url").collect()[42].url
    assert len(_assert_parity(spark, tbl, url, "driver", monkeypatch)) == 1
    parts, kept = seen[-1]
    assert parts == set(range(8))
    assert len(kept) <= 2 < len(tbl.current().files)

    # a real uncovered type: float keys keep every part; NaN matches NaN
    monkeypatch.setattr(encode, "part_id_of", part_id_of)
    ddl = "score float, v string"
    st = ManifestTable(str(tmp_path), "floats")
    encode_with_checkpoint(spark, _scores(spark, "float"), st, key="score",
                           n_parts=4, run_id="f1")
    for v, n in ((12.5, 1), (float("nan"), 2), (0.0, 2), (0.25, 0)):
        got = _assert_parity(spark, st, v, "driver", monkeypatch,
                             key="score", schema_ddl=ddl)
        assert len(got) == n
        assert seen[-1][0] == set(range(4))


def _scores(spark, typ):
    """300 distinct halves plus two NaN rows and a -0.0 beside the 0.0."""
    extra = spark.createDataFrame(
        [(float("nan"), "nan a"), (float("nan"), "nan b"), (-0.0, "-0")],
        f"score {typ}, v string")
    return spark.range(300).select(
        (F.col("id") * 0.5).cast(typ).alias("score"),
        F.col("id").cast("string").alias("v")).unionByName(extra)


def test_double_key_lookup_nan_and_signed_zero(spark, tmp_path, branch,
                                               monkeypatch):
    """The twin covers doubles, so a double key keeps the exact part
    tier; NaN finds the NaN rows and 0.0 finds -0.0 too, as in Spark."""
    ddl = "score double, v string"
    tbl = ManifestTable(str(tmp_path), "doubles")
    encode_with_checkpoint(spark, _scores(spark, "double"), tbl,
                           key="score", n_parts=8, run_id="d1",
                           shuffle=True)
    seen = []
    real = checkpoint.lookup_files

    def spy(sp, snap, kv, key, parts, **kw):
        seen.append(set(parts))
        return real(sp, snap, kv, key, parts, **kw)

    monkeypatch.setattr(checkpoint, "lookup_files", spy)
    for v, n in ((12.5, 1), (float("nan"), 2), (0.0, 2), (-0.0, 2),
                 (7, 1), (0.25, 0)):
        got = _assert_parity(spark, tbl, v, branch, monkeypatch,
                             key="score", schema_ddl=ddl)
        assert len(got) == n
        assert len(seen[-1]) == 1


def test_lookup_tombstone_outside_key_type(spark, tmp_path, branch,
                                           monkeypatch):
    """A tombstone value the key's type cannot hold (a bigint on an int
    key) matches nothing and never breaks the lookup."""
    docs = spark.range(400).select(F.col("id").cast("int").alias("doc_id"),
                                   F.col("id").cast("string").alias("v"))
    tbl = ManifestTable(str(tmp_path), "tomb_int")
    encode_with_checkpoint(spark, docs, tbl, key="doc_id", n_parts=4,
                           run_id="t1")
    delete_rows(spark, tbl, [2**40, 17], key="doc_id")
    for v, n in ((17, 0), (18, 1), (2**40, 0)):
        assert len(_assert_parity(spark, tbl, v, branch, monkeypatch,
                                  key="doc_id")) == n


def test_executor_gate_counts_planned_bytes(spark, layouts, monkeypatch):
    """The executor branch is chosen by the planned groups' encoded
    bytes, not the kept files' size on disk: a bound between the two
    keeps the decode in the driver; a bound below the plan moves it to
    one ``decode_files_df`` job. The rows agree either way."""
    tbl = layouts["no_bloom"]  # banded, no blooms: plans span files
    url = tbl.read_decoded(spark).select("url").first().url
    sizes = []
    real_plan = checkpoint._plan_block_groups

    def plan_spy(*a, **k):
        out = real_plan(*a, **k)
        sizes.append(out[1])
        return out

    calls = []
    real = encode.decode_files_df

    def spy(*a, **k):
        calls.append(k["groups"])
        return real(*a, **k)

    monkeypatch.setattr(checkpoint, "_plan_block_groups", plan_spy)
    monkeypatch.setattr(encode, "decode_files_df", spy)
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    rows = {}
    try:
        for bound in ("between", "below"):
            sizes.clear()
            planned = point_lookup(spark, tbl, url)
            kept = sum(1 for b in sizes if b)
            assert kept >= 2
            disk = sum(os.path.getsize(f) for f in tbl.current().files)
            assert sum(sizes) < disk
            spark.conf.set(conf, str(sum(sizes) if bound == "between"
                                     else sum(sizes) - 1))
            calls.clear()
            rows[bound] = point_lookup(spark, tbl, url).collect()
            assert bool(calls) == (bound == "below")
            spark.conf.set(conf, old)
    finally:
        spark.conf.set(conf, old)
    assert planned.collect() == rows["between"] == rows["below"]
    assert len(rows["below"]) == 1


def test_lookup_reads_each_file_once(spark, layouts, monkeypatch):
    """The per-file bloom tier and the block-group plan share one
    narrow read of each file (tier 0 is switched off so the bloom tier
    runs over every file)."""
    tbl = layouts["banded"]
    opened = []
    real = checkpoint._block_rows

    def spy(path):
        opened.append(path)
        return real(path)

    monkeypatch.setattr(checkpoint, "_block_rows", spy)
    monkeypatch.setattr(checkpoint, "summary_bloom_survivors",
                        lambda snap, files, names, values: list(files))
    url = tbl.read_decoded(spark).select("url").first().url
    assert len(point_lookup(spark, tbl, url).collect()) == 1
    files = tbl.current().files
    assert len(files) > 2
    assert sorted(opened) == sorted(files)


@pytest.mark.parametrize("typ", ["timestamp", "date"])
def test_lookup_timestamp_and_date_keys(spark, tmp_path, branch, typ,
                                        monkeypatch):
    """A datetime or date probe is compared in the stored unit (epoch
    micros, days): the key-range tier prunes a time-ordered table to the
    one file whose slice holds the value, and the rows are exact."""
    ids = spark.range(0, 400, 1, 4)
    k = (F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 3600)
         if typ == "timestamp"
         else F.date_add(F.lit("2020-01-01").cast("date"),
                         F.col("id").cast("int")))
    docs = ids.select(k.alias("k"), F.col("id").cast("string").alias("v"))
    ddl = f"k {typ}, v string"
    tbl = ManifestTable(str(tmp_path), typ)
    encode_with_checkpoint(spark, docs, tbl, key="k", n_parts=8,
                           run_id="t1")
    assert len(tbl.current().files) == 4
    kept, parts = [], []
    real = checkpoint.lookup_files

    def spy(*a, **kw):
        parts.append(a[4])
        kept.append(real(*a, **kw))
        return kept[-1]

    monkeypatch.setattr(checkpoint, "lookup_files", spy)
    for r in docs.collect()[::97]:
        got = _assert_parity(spark, tbl, r.k, branch, monkeypatch,
                             key="k", schema_ddl=ddl)
        assert [g.v for g in got] == [r.v]
        assert len(kept[-1]) == 1
        assert len(parts[-1]) == 1  # the xxhash64 twin covers the type
    miss = docs.agg(F.max("k")).first()[0].replace(year=2099)
    assert _assert_parity(spark, tbl, miss, branch, monkeypatch, key="k",
                          schema_ddl=ddl) == []


# -- range parity -----------------------------------------------------------

def _range(spark, tbl, lo, hi, branch, monkeypatch, key, ddl=None):
    """range_lookup rows in the chosen branch, counted like ``_lookup``:
    ``driver`` must run no Spark job; ``executors`` lowers
    maxPartitionBytes below any plan's bytes, so a non-empty plan, even
    a one-file one, must come back as one lazy ``decode_files_df``
    frame."""
    calls, plans = [], []
    real, real_plan = encode.decode_files_df, checkpoint._plan_block_groups

    def spy(*a, **k):
        calls.append(k.get("groups"))
        return real(*a, **k)

    def plan_spy(*a, **k):
        plans.append(real_plan(*a, **k))
        return plans[-1]

    monkeypatch.setattr(encode, "decode_files_df", spy)
    monkeypatch.setattr(checkpoint, "_plan_block_groups", plan_spy)
    sc = spark.sparkContext
    group = f"range-{uuid.uuid4().hex}"
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    sc.setJobGroup(group, "range lookup")
    if branch == "executors":
        spark.conf.set(conf, "1")
    try:
        df = checkpoint.range_lookup(spark, tbl, lo, hi, ddl, key=key)
        rows = df.collect() if branch == "driver" else None
    finally:
        spark.conf.set(conf, old)
        sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.setattr(encode, "decode_files_df", real)
        monkeypatch.setattr(checkpoint, "_plan_block_groups", real_plan)
    planned_files = sum(1 for g, _ in plans if g)
    if branch == "driver" or planned_files == 0:
        assert not calls
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    else:
        assert len(calls) == 1 and len(calls[0]) == planned_files
    return df.collect() if rows is None else rows


@pytest.fixture(scope="module")
def ranged(spark, corpus, tmp_path_factory):
    """One table per key kind, each with a live tombstone inside its hit
    range and a NULL tombstone: (table, key, ddl, ranges), ``ranges``
    mapping a case to its (lo, hi, rows of read_decoded().filter(lo <=
    key <= hi))."""
    from datetime import timedelta

    out = {}

    def table(name, df, key, **kw):
        tbl = ManifestTable(str(tmp_path_factory.mktemp(name)), name)
        encode_with_checkpoint(spark, df, tbl, key=key, run_id=name, **kw)
        return tbl

    def tombstone(tbl, key, typ, victim):
        delete_rows(spark, tbl, spark.createDataFrame(
            [(None,), (victim,)], f"{key} {typ}"), key=key)

    # string: key-sorted url table
    urls = sorted(r.url for r in corpus.select("url").collect())
    tbl = table("rstr", corpus, "url", n_parts=8, sort_by=["url"])
    tombstone(tbl, "url", "string", urls[100])
    out["string"] = (tbl, "url", None, {
        "hit": (urls[90], urls[140]),
        "empty": (urls[10] + "\0", urls[10] + "\1"),
        "inverted": (urls[140], urls[90]),
        "past_max": (urls[-1] + "0", urls[-1] + "1")})

    # int: clustered ids, step 10
    ids = spark.range(0, 4000, 10, 4).select(
        F.col("id").cast("int").alias("doc_id"),
        F.col("id").cast("string").alias("v"))
    tbl = table("rint", ids, "doc_id", n_parts=8)
    tombstone(tbl, "doc_id", "int", 1500)
    out["int"] = (tbl, "doc_id", "doc_id int, v string", {
        "hit": (995, 2005), "empty": (11, 19), "inverted": (2005, 995),
        "past_max": (4000, 5000)})

    # timestamp: time-ordered hourly keys
    docs = spark.range(0, 400, 1, 4).select(
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 3600)
        .alias("k"), F.col("id").cast("string").alias("v"))
    ks = [r.k for r in docs.orderBy("k").collect()]
    tbl = table("rts", docs, "k", n_parts=8)
    tombstone(tbl, "k", "timestamp", ks[150])
    sec = timedelta(seconds=1)
    out["timestamp"] = (tbl, "k", "k timestamp, v string", {
        "hit": (ks[110], ks[260]), "empty": (ks[10] + sec, ks[11] - sec),
        "inverted": (ks[260], ks[110]),
        "past_max": (ks[-1] + sec, ks[-1] + 3600 * sec)})

    # renamed: url -> page_url on a banded table
    tbl = table("rren", corpus, "url", n_parts=8)
    tbl.rename_column("url", "page_url")
    tombstone(tbl, "page_url", "string", urls[120])
    out["renamed"] = (tbl, "page_url", None, {
        "hit": (urls[90], urls[140]),
        "empty": (urls[10] + "\0", urls[10] + "\1"),
        "inverted": (urls[140], urls[90]),
        "past_max": (urls[-1] + "0", urls[-1] + "1")})

    # widened: int doc_id widened to bigint, then wide ids appended
    tbl = table("rwide", spark.range(0, 400, 1, 2).select(
        F.col("id").cast("int").alias("doc_id"),
        F.col("id").cast("string").alias("v")), "doc_id", n_parts=8)
    tbl.widen_column("doc_id", "bigint")
    append_encode(spark, spark.createDataFrame(
        [(2**40 + i, f"wide {i}") for i in range(50)],
        "doc_id bigint, v string"), tbl, run_id="g2")
    tombstone(tbl, "doc_id", "bigint", 2**40 + 3)
    out["widened"] = (tbl, "doc_id", None, {
        "hit": (300, 2**40 + 10), "empty": (2**35, 2**36),
        "inverted": (2**40 + 10, 300), "past_max": (2**41, 2**42)})

    # the full-scan answer of every case, shared by both branches
    for tbl, key, ddl, ranges in out.values():
        scan = tbl.read_decoded(spark, ddl)
        for case, (lo, hi) in ranges.items():
            ranges[case] = (lo, hi, sorted(map(_norm, scan.filter(
                (F.col(key) >= lo) & (F.col(key) <= hi)).collect()),
                key=repr))
    return out


@pytest.mark.parametrize("kind", ["string", "int", "timestamp", "renamed",
                                  "widened"])
def test_range_parity(spark, ranged, kind, branch, monkeypatch):
    """range_lookup(lo, hi) == read_decoded().filter(lo <= key <= hi),
    tombstones (a NULL one too) applied, in both branches; an empty
    range, lo > hi and a range past the max key return nothing."""
    tbl, key, ddl, ranges = ranged[kind]
    for case, (lo, hi, want) in ranges.items():
        got = _range(spark, tbl, lo, hi, branch, monkeypatch, key, ddl)
        assert sorted(map(_norm, got), key=repr) == want, case
        assert bool(got) == (case == "hit"), case
