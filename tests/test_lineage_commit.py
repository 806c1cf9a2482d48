"""One lineage read and one commit protocol for every writer.

Writers adopt the table's key and partitioning from
``Snapshot.lineage``, with column names folded through the rename
history, so every write after ``rename_column`` encodes under the
current names. Read-modify-write commits (tombstones, renames,
widenings, run records) compute their properties from the head under
the commit lock (``ManifestTable.commit(properties=<function>)``), so a
rival commit that lands first is kept without a retry.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eel_sdk_spark.checkpoint import (append_encode, encode_with_checkpoint,
                                      point_lookup, realign_table)
from eel_sdk_spark.corpus import webtext_df
from eel_sdk_spark.deletes import (delete_rows, delete_where, purge_deletes,
                                   upsert_rows)
from eel_sdk_spark.streaming.follow import follow_once
from eel_sdk_spark.table import ManifestTable


def _corpus(spark, lo, hi, salted):
    """Corpus rows ``lo`` up to ``hi``; ``salted`` adds the url's
    domain, a skewed key to salt by url."""
    df = webtext_df(spark, hi, parts=2)
    if lo:
        df = df.exceptAll(webtext_df(spark, lo, parts=2))
    if salted:
        df = df.withColumn("domain", F.split(F.col("url"), "/")[2])
    return df


def _rows(spark, tbl):
    """The table's rows under the un-renamed column names, in a stable
    order."""
    d = tbl.read_decoded(spark)
    d = d.toDF(*("url" if c == "page_url" else c for c in d.columns))
    return sorted((tuple(r) for r in d.collect()), key=repr)


def _writes(spark, tbl, sink, base, inc, upd, renamed, params):
    """Every writer in turn, on a table keyed per ``params``; with
    ``renamed`` the ``url`` column (the key, or the salt_by column) is
    renamed to ``page_url`` after the first, partial encode. Yields
    after each step."""
    ren = ((lambda d: d.withColumnRenamed("url", "page_url")) if renamed
           else (lambda d: d))
    encode_with_checkpoint(spark, base, tbl, n_parts=4, run_id="r1",
                           fail_after_commit_parts=2, **params)
    if renamed:
        tbl.rename_column("url", "page_url")
    encode_with_checkpoint(spark, ren(base), tbl, run_id="r2")
    yield "resume"
    append_encode(spark, ren(inc), tbl, run_id="inc")
    yield "append"
    follow_once(spark, tbl, sink)
    yield "follow bootstrap"
    delete_where(spark, tbl, "lang = 'de'")
    yield "delete_where"
    purge_deletes(spark, tbl, tbl.row_schema())
    yield "purge"
    upsert_rows(spark, tbl, ren(upd), tbl.row_schema())
    yield "upsert"
    follow_once(spark, tbl, sink)
    yield "follow increment"
    realign_table(spark, tbl, tbl.row_schema())
    yield "realign"
    tbl.compact(spark, 2)
    yield "compact"


@pytest.mark.parametrize("salted", [False, True],
                         ids=["key_renamed", "salt_by_renamed"])
def test_writes_after_rename_match_unrenamed_table(spark, tmp_path, salted):
    """After ``rename_column("url", "page_url")`` every writer gives the
    rows the same steps give on a table never renamed: the renamed
    column is the lineage key, or the salt_by column of a salted table
    keyed on the url's domain."""
    params = ({"key": "domain", "salt": 4, "salt_by": "url"} if salted
              else {"key": "url"})
    base = _corpus(spark, 0, 500, salted).cache()
    inc = _corpus(spark, 500, 600, salted).cache()
    upd = base.limit(5).withColumn("text", F.lit("refetched")).cache()
    tables = {r: (ManifestTable(str(tmp_path), f"t{r}"),
                  ManifestTable(str(tmp_path), f"sink{r}"))
              for r in (False, True)}
    plain, renamed = (_writes(spark, *tables[r], base, inc, upd, r, params)
                      for r in (False, True))
    for step, step_r in zip(plain, renamed):
        assert step == step_r
        for i in (0, 1):
            want = _rows(spark, tables[False][i]) \
                if tables[False][i].current() else []
            got = _rows(spark, tables[True][i]) \
                if tables[True][i].current() else []
            assert got == want, (step, i)
    tbl = tables[True][0]
    assert tbl.row_schema().split(", ")[0] == "page_url string"
    lin = tbl.current().lineage()
    assert (lin["key"], lin["salt_by"]) == (
        ("domain", "page_url") if salted else ("page_url", None))
    for d in (base, inc, upd):
        d.unpersist()


def test_compacted_key_ranges_cover_every_key_generation(spark, tmp_path):
    """A compacted file holding key blocks written before and after a
    rename gets one key range over both generations, so no point lookup
    prunes it by mistake."""
    df = webtext_df(spark, 400, parts=2).repartitionByRange(4, "url").cache()
    tbl = ManifestTable(str(tmp_path), "blocks")
    encode_with_checkpoint(spark, df, tbl, n_parts=4, run_id="r1",
                           shuffle="local")
    tbl.rename_column("url", "page_url")
    upsert_rows(spark, tbl, df.orderBy("url").limit(1)
                .withColumnRenamed("url", "page_url")
                .withColumn("text", F.lit("v2")), tbl.row_schema())
    tbl.compact(spark, 1)
    assert len(tbl.current().files) == 1
    urls = [r["url"] for r in df.select("url").collect()]
    misses = [u for u in urls[::3]
              if point_lookup(spark, tbl, u, key="page_url").count() != 1]
    assert misses == []
    df.unpersist()


def _rival_before_every_commit(monkeypatch, rival):
    """Make ``rival(i)`` commit before each commit call of the writer
    under test (not before the rival's own), as a concurrent writer
    landing between the writer's read and its commit would."""
    real = ManifestTable.commit
    state = {"busy": False, "n": 0}

    def spy(self, *args, **kwargs):
        if not state["busy"]:
            state["busy"] = True
            try:
                rival(state["n"])
            finally:
                state["busy"] = False
            state["n"] += 1
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ManifestTable, "commit", spy)
    return state


@pytest.mark.parametrize("writer", ["delete_rows", "rename_column",
                                    "widen_column", "append_encode"])
def test_rival_before_every_commit_both_land(spark, tmp_path, monkeypatch,
                                             writer):
    """A rival commit lands before every commit call of the writer and
    changes the very property it extends. Both writes land."""
    df = (webtext_df(spark, 300, parts=1)
          .withColumn("n", F.length("text").cast("int"))
          .select("url", "n", "text", "lang").cache())
    tbl = ManifestTable(str(tmp_path), "t")
    encode_with_checkpoint(spark, df, tbl, n_parts=2, run_id="r1")
    urls = [r["url"] for r in df.select("url").limit(10).collect()]
    names = ["text"]

    def rename_rival(i):  # rewrites column_renames and row_schema_ddl
        tbl.rename_column(names[-1], f"text{i}")
        names.append(f"text{i}")

    def append_rival(i):  # extends the runs list
        append_encode(spark, df.limit(7).withColumn(
            "url", F.concat(F.lit(f"rival{i}-"), "url")), tbl,
            run_id=f"rival{i}")

    rivals = {"delete_rows": lambda i: delete_rows(spark, tbl, [urls[i + 1]]),
              "rename_column": rename_rival, "widen_column": rename_rival,
              "append_encode": append_rival}
    state = _rival_before_every_commit(monkeypatch, rivals[writer])
    inc = df.limit(11).withColumn("url", F.concat(F.lit("inc-"), "url"))
    ours = {"delete_rows": lambda: delete_rows(spark, tbl, [urls[0]]),
            "rename_column": lambda: tbl.rename_column("url", "page_url"),
            "widen_column": lambda: tbl.widen_column("n", "bigint"),
            "append_encode": lambda: append_encode(spark, inc, tbl,
                                                   run_id="ours")}
    ours[writer]()
    monkeypatch.undo()
    assert state["n"] == 1  # one commit call, one rival

    snap = tbl.current()
    read = tbl.read_decoded(spark)
    if writer == "delete_rows":
        assert len(snap.properties["tombstones"]) == 2
        assert read.count() == 300 - 2
    elif writer == "append_encode":
        runs = [r["run_id"] for r in snap.properties["runs"]]
        assert runs == ["r1", "rival0", "ours"]
        assert read.count() == 300 + 7 + 11
    else:
        want = {"rename_column": "page_url string, n int, text0 string",
                "widen_column": "url string, n bigint, text0 string"}
        assert tbl.row_schema() == want[writer] + ", lang string"
        assert read.count() == 300
        assert read.columns == [c.split()[0] for c in
                                tbl.row_schema().split(", ")]
    df.unpersist()


def test_threaded_commit_functions_lose_no_update(tmp_path):
    """32 threads, more than the cores, each extend one property through
    a commit function: every entry lands, which a lost update between
    a read and its commit would break."""
    import sys
    import threading

    tbl = ManifestTable(str(tmp_path), "rmw")

    def add(i):
        tbl.commit([], "", lambda cur: {"seen": (
            cur.properties["seen"] if cur else []) + [i]})

    threads = [threading.Thread(target=add, args=(i,)) for i in range(32)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert sorted(tbl.current().properties["seen"]) == list(range(32))
    assert tbl.current().snapshot_id == 32
