"""Row-level deletes for encoded tables: tombstones + bloom-pruned purge.

A 100 TB webtext table is immutable block files — but takedowns, GDPR
erasure, and opt-outs demand row deletes without rewriting petabytes.
The split here is Iceberg v2's equality-delete idea expressed
Spark-first:

- ``delete_rows`` is METADATA-ONLY: the keys go to a small parquet
  tombstone sidecar and a properties-only snapshot commit. Every read
  from storage drops the tombstoned keys in the decode kernel
  (``encode.decode_file_batches`` calls ``apply_deletes`` on each
  decoded group, also when the read projected the key columns away):
  ``read_decoded``, ``read_appended``, the point and range lookups, the
  DataSource's batch and stream reads and purge's own decode.
  O(delete size), never O(table).
- ``purge_deletes`` MATERIALIZES them: the tombstoned keys are read in
  the driver and ``checkpoint.plan_files`` — the planner the lookups
  use — finds the files that may hold one; only those are decoded,
  filtered and re-encoded, and every other file survives untouched.

Suppression is GLOBAL-until-purged, by design: a tombstoned key stays
suppressed even in rows that arrive in later appends or compaction
rewrites (a takedown must not resurface because a later crawl re-fetched
the page). Re-admitting a key = purge first, then append. Two honest
caveats, documented because they are inherent to the snapshot model:
time travel to a snapshot OLDER than the delete commit bypasses
suppression (compliance workflows should follow a purge with
``expire_snapshots``), and ``repair_table`` re-encodes from the
ORIGINAL input, so purged rows reappear unless the input was cleaned
too (delete at the source as well as the table).

The reference has no delete story at all (eel tables are write-once,
eel-hive/src/main/scala/io/eels/component/hive/HiveSink.scala); this is
engine-native because training-data pipelines legally require it.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .table import ManifestTable, retrying_rewrite

# purge and upsert key sets up to this size prune their rewrite set with
# every planner tier; larger ones with the key-range tier alone (the
# bloom tiers cost a probe per key and file)
PURGE_BLOOM_MAX_KEYS = 256
# key sets up to this size are collected in the driver and bisected into
# the manifest key ranges; beyond it every file is rewritten
# (correctness never depends on pruning, and a write touching >100k
# distinct keys is a bulk reload, not a point merge)
UPSERT_RANGE_MAX_KEYS = 100_000
# upsert's anti-join against the incoming keys gets a broadcast hint
# while the key set is comfortably executor-memory sized; beyond that it
# becomes a plain (shuffled) anti-join
BROADCAST_MAX_KEYS = 1_000_000


def _tombstone_entries(snap) -> list[dict]:
    return list((snap.properties or {}).get("tombstones", []))


def delete_rows(spark: SparkSession, tbl: ManifestTable, keys,
                key="url") -> dict:
    """Suppress all rows whose ``key`` column(s) match ``keys``.
    ``key`` may be one column name or a list (composite key, e.g.
    ``["source", "doc_id"]``); ``keys`` is then a list of scalars /
    tuples, or a DataFrame with one column per component. Metadata-only:
    writes the keys to a tombstone parquet sidecar and publishes a
    properties-only snapshot — no data file is touched, so the operation
    is O(|keys|) regardless of table size."""
    from .encode import key_cols

    cols = key_cols(key)
    snap = tbl.current()
    if snap is None:
        raise FileNotFoundError(f"delete: table {tbl.dir} has no snapshot")
    if isinstance(keys, DataFrame):
        if len(keys.columns) != len(cols):
            raise ValueError(f"delete: keys DataFrame must have exactly "
                             f"{len(cols)} column(s) (the key values)")
        kdf = keys.toDF(*cols).distinct()
    else:
        keys = list(keys)
        if not keys:
            return {"deleted_keys": 0, "snapshot_id": snap.snapshot_id}
        rows = ([(k,) for k in keys] if isinstance(key, str)
                else [tuple(k) for k in keys])
        if not all(len(r) == len(cols) for r in rows):
            raise ValueError(f"delete: composite key {cols} needs "
                             f"{len(cols)}-tuples")
        kdf = spark.createDataFrame(rows, cols).distinct()
    out_dir = os.path.join(tbl.dir, "tombstones", uuid.uuid4().hex)
    kdf.coalesce(1).write.mode("overwrite").parquet(out_dir)
    files = ManifestTable.list_written_files(out_dir)
    n = spark.read.parquet(out_dir).count()
    if n == 0:
        # a predicate that matched nothing (delete_where sweeps) must
        # not commit an empty tombstone entry; the empty sidecar is
        # unreferenced and GC'd with the next expire
        return {"deleted_keys": 0, "snapshot_id": snap.snapshot_id}
    entry = {"key": key, "files": files, "n": n,
             "as_of_snapshot": snap.snapshot_id}
    # the tombstone list is extended under the commit lock, so a rival
    # delete_rows landing meanwhile keeps its entry
    healed = tbl.commit([], "", lambda cur: {
        "tombstones": _tombstone_entries(cur) + [entry]}, mode="append")
    return {"deleted_keys": n, "snapshot_id": healed.snapshot_id,
            "tombstone_commits": len(healed.properties["tombstones"])}


def delete_where(spark: SparkSession, tbl: ManifestTable, condition,
                 schema_ddl: str | None = None, key=None) -> dict:
    """Content-predicate takedown: evaluate ``condition`` (a Column or a
    SQL string) over the decoded table and tombstone the matching rows'
    lineage keys — 'remove every row whose text contains X' without the
    caller extracting keys by hand. One decode pass to FIND the keys
    (predicate pushdown prunes what the manifest tiers can), then the
    same metadata-only O(|keys|) commit as :func:`delete_rows`.
    ``key`` defaults to the table's lineage key (rename-translated;
    composite keys supported). Already-tombstoned rows are excluded by
    the read, so repeated sweeps are idempotent."""
    from .encode import key_cols

    snap = tbl.current()
    if snap is None:
        raise FileNotFoundError(f"delete: table {tbl.dir} has no snapshot")
    if key is None:
        lin = snap.lineage()
        if lin is None:
            raise ValueError("delete_where: table has no encode run "
                             "lineage — pass key= explicitly")
        key = lin["key"]
    cols = key_cols(key)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    hits = tbl.read_decoded(spark, schema_ddl).filter(cond).select(*cols)
    return delete_rows(spark, tbl, hits, key=key)


def _entry_key(e: dict):
    """A tombstone entry's key spec, hashable: str or tuple of str."""
    k = e["key"]
    return k if isinstance(k, str) else tuple(k)


def tombstone_specs(snap) -> list[tuple[tuple[str, ...], list[str]]]:
    """Live tombstones as (current key columns, sidecar parquet paths)
    pairs: what every read hands the decode kernel
    (``encode.decode_file_batches``), and what purge plans from."""
    from .table import fold_renames

    fold = fold_renames(snap.properties.get("column_renames", []))
    by: dict[tuple[str, ...], list[str]] = {}
    for e in _tombstone_entries(snap):
        k = _entry_key(e)
        cols = (k,) if isinstance(k, str) else tuple(k)
        now = tuple(fold.get(c, c) for c in cols)
        by.setdefault(now, []).extend(e["files"])
    return sorted(by.items())


def load_tombstone_keys(specs):
    """Materialize the sidecar parquets ONCE per task (decode yields
    many batches per file — re-reading per batch would multiply the
    I/O): (cols, single-column Array | set of tuples) pairs. Composite
    tuples hold the stored unit (``_stored_values``), so a timestamp
    component compares as the instant it is, however it was read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = []
    for cols, sidecars in specs:
        keys = pa.concat_tables(
            pq.read_table(f, use_threads=False) for f in sidecars)
        out.append((cols, keys.column(0).combine_chunks()
                    if len(cols) == 1
                    else set(zip(*(_stored_values(keys.column(i))
                                   for i in range(len(cols)))))))
    return out


def apply_deletes(batch, loaded):
    """Drop tombstoned rows from a decoded RecordBatch or Table: a row
    whose key holds a NULL never matches, and a spec whose key columns
    the batch lacks is skipped. Only the decode kernel calls this, with
    the key columns decoded even when the read projected them away.
    Single-column keys take the vectorized ``is_in`` path; composite
    keys fall back to a per-row tuple test (tombstone lists are bounded
    takedown sets, and the loop runs only on tables that HAVE them)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for cols, keys in loaded:
        if any(c not in batch.schema.names for c in cols):
            continue
        if len(cols) == 1:
            col = batch.column(cols[0])
            try:
                keys = keys.cast(col.type)
            except pa.ArrowInvalid:
                # a tombstone outside the column's type (a bigint on an
                # int key) matches nothing: compare in the wider type
                col = col.cast(keys.type)
            mask = pc.is_in(col, value_set=keys, skip_nulls=True)
        else:
            rows = zip(*(_stored_values(batch.column(c)) for c in cols))
            mask = pa.array([None not in r and r in keys for r in rows],
                            pa.bool_())
        batch = batch.filter(pc.fill_null(pc.invert(mask), True))
    return batch


def _stored_values(arr) -> list:
    """An arrow key column (a tombstone sidecar's, a decoded batch's or
    collected incoming keys) as Python values in the unit block stats
    and blooms hold: epoch micros for a timestamp (arrow holds UTC
    instants, zoned or not), days for a date, other values as they
    are. The arrow twin of ``checkpoint._stored_probe``, which converts
    values PySpark handed to Python."""
    import pyarrow as pa

    if pa.types.is_timestamp(arr.type):
        arr = arr.cast(pa.timestamp("us", tz=arr.type.tz)).cast(pa.int64())
    elif pa.types.is_date32(arr.type):
        arr = arr.cast(pa.int32())
    return arr.to_pylist()


def _rewrite_candidates(snap, cols: list[str], columns: list) -> set[str]:
    """The files a purge or upsert must rewrite: those that may hold one
    of the keys whose values ``columns`` hold, one list per key column
    of ``cols`` (current names), in the stored unit
    (``_stored_values``). :func:`checkpoint.plan_files` runs per
    component over its current and historical names and the answers
    intersect — per-component pruning over-approximates the tuple set,
    which is safe: extra files decode and filter to themselves. Up to
    ``PURGE_BLOOM_MAX_KEYS`` keys every tier applies; beyond that only
    the key-range tier (bisected into the sorted keys). Callers pass no
    more than ``UPSERT_RANGE_MAX_KEYS`` keys and rewrite every file
    beyond it."""
    from .checkpoint import _key_aliases, plan_files

    tiers = 4 if len(columns[0]) <= PURGE_BLOOM_MAX_KEYS else 1
    files = list(snap.files)
    for c, vals in zip(cols, columns):
        files = plan_files(snap, files, {c} | _key_aliases(snap, c),
                           tiers=tiers, values=vals)
    return set(files)


@retrying_rewrite
def purge_deletes(spark: SparkSession, tbl: ManifestTable,
                  schema_ddl: str, stage: str | None = None) -> dict:
    """Materialize every live tombstone: rewrite ONLY the files that may
    contain a tombstoned key (a decode that drops the tombstoned rows,
    then a re-encode under the committed run's partitioning params),
    keep every other file
    untouched, clear the tombstone list, and commit atomically. After
    this the rows are physically gone from the current snapshot; run
    ``expire_snapshots`` to also age out the historical copies.
    ``stage`` lands the purged snapshot on a named ref for audit before
    ``publish`` (erasure review flows).

    The overwrite commit is guarded on the head's ``committed_at``: a
    ``delete_rows`` landing while the purge runs would otherwise be
    erased by the full property overwrite (the takedown would
    resurface). On a conflict the purge runs again over the new
    tombstones (:func:`table.retrying_rewrite`)."""
    snap = tbl.head(stage)
    if snap is None:
        raise FileNotFoundError(f"purge: table {tbl.dir} has no snapshot")
    entries = _tombstone_entries(snap)
    if not entries:
        return {"purged_keys": 0, "rewritten_files": 0}
    lin = snap.lineage()
    if lin is None:
        raise ValueError("purge: table has no encode run lineage")

    candidates: set[str] = set()
    for cols, keys in load_tombstone_keys(tombstone_specs(snap)):
        if len(keys) > UPSERT_RANGE_MAX_KEYS:
            candidates = set(snap.files)
            break
        columns = (list(zip(*keys)) if len(cols) > 1
                   else [_stored_values(keys)])
        candidates |= _rewrite_candidates(snap, list(cols), columns)
    survivors = [f for f in snap.files if f not in candidates]

    new_files: list[str] = []
    rec = None
    n_kept = 0
    if candidates:
        from .checkpoint import write_run
        from .encode import decode_files_df

        kept = decode_files_df(spark, sorted(candidates), schema_ddl,
                               snap=snap)
        n_kept = kept.count()
        if n_kept:
            new_files, rec = write_run(
                kept, tbl, f"purge-{snap.snapshot_id}", None, lin)
    props = dict(snap.properties)
    props["tombstones"] = []
    props["runs"] = props["runs"] + ([rec] if rec else [])
    healed = tbl.commit(survivors + new_files,
                        snap.schema_ddl or "", props, mode="overwrite",
                        stage=stage,
                        expect_properties={
                            "committed_at":
                            snap.properties.get("committed_at")})
    return {"purged_keys": sum(e["n"] for e in entries),
            "rewritten_files": len(candidates),
            "surviving_files": len(survivors),
            "new_files": len(new_files),
            "rows_kept_in_rewrite": n_kept,
            "snapshot_id": healed.snapshot_id}


def _entry_cols_now(e: dict, fold: dict[str, str]) -> list[str]:
    """A tombstone entry's key columns translated to CURRENT names."""
    ek = [e["key"]] if isinstance(e["key"], str) else list(e["key"])
    return [fold.get(c, c) for c in ek]


def _rewrite_tombstones(spark: SparkSession, tbl: ManifestTable,
                        entries: list[dict], key,
                        minus: DataFrame,
                        fold: dict[str, str] | None = None) -> list[dict]:
    """Re-admission support: rewrite this key spec's tombstone sidecars
    without the keys in ``minus``; entries for other key specs pass
    through untouched. ``fold`` matches entries recorded under a
    historical (pre-rename) key name; the rewritten entry carries the
    CURRENT name(s). Old sidecar files stay on disk for time travel
    (expire_snapshots GCs them with their snapshots)."""
    from .encode import key_cols

    fold = fold or {}
    cols = key_cols(key)
    ours = [e for e in entries if _entry_cols_now(e, fold) == cols]
    others = [e for e in entries if _entry_cols_now(e, fold) != cols]
    if not ours:
        return entries
    remaining = (spark.read.parquet(*[f for e in ours for f in e["files"]])
                 .toDF(*cols).distinct()
                 .join(minus, on=cols, how="left_anti"))
    n = remaining.count()
    if n == 0:
        return others
    out_dir = os.path.join(tbl.dir, "tombstones", uuid.uuid4().hex)
    remaining.coalesce(1).write.mode("overwrite").parquet(out_dir)
    return others + [{"key": key if isinstance(key, str) else list(key),
                      "files": ManifestTable.list_written_files(out_dir),
                      "n": n,
                      "as_of_snapshot": max(e["as_of_snapshot"]
                                            for e in ours)}]


@retrying_rewrite
def upsert_rows(spark: SparkSession, tbl: ManifestTable,
                incoming: DataFrame, schema_ddl: str,
                readmit: bool = False, stage: str | None = None) -> dict:
    """Copy-on-write MERGE on the lineage key: replace every existing row
    whose key appears in ``incoming`` with the incoming rows, atomically
    — the re-crawl case (a page re-fetched with fresh content must
    supersede its old row, not coexist with it).

    Only the files that MAY hold an incoming key are rewritten: the
    incoming keys are collected in the driver and planned like a purge
    (``_rewrite_candidates``: every planner tier up to
    PURGE_BLOOM_MAX_KEYS keys, the key ranges alone up to
    UPSERT_RANGE_MAX_KEYS, every file beyond). The rewrite (decode ->
    anti-join -> re-encode) and the incoming encode land in ONE
    overwrite commit: readers never see the table without
    either the old or the new rows. This is Iceberg v2's copy-on-write
    MERGE INTO shape (the tombstone path in ``delete_rows`` is the
    merge-on-read half); the reference has no update story at all
    (write-once HiveSink, eel-hive/.../HiveSink.scala).

    A tombstoned incoming key would be silently suppressed on read
    (suppression is global-until-purged) — that's almost never what an
    upsert means, so it raises unless ``readmit=True``, which rewrites
    the tombstone sidecars without those keys (an explicit re-admission;
    keep takedown keys out of upsert feeds).

    A registered bloom index is NOT refreshed here (rewritten + new
    files fall back to the per-file bloom scan — append-safe); refresh
    with ``build_bloom_index`` or the next ``compact()``.

    Like ``purge_deletes``, the overwrite commit is guarded on the
    head's ``committed_at`` (a concurrent ``delete_rows`` must not be
    erased by the property overwrite) and runs again on a conflict."""
    from .checkpoint import write_run
    from .encode import decode_files_df, key_cols
    from .table import fold_renames

    # ``stage`` lands the merged snapshot on a named ref (audit the
    # merge — fsck, row counts, spot decodes — then tbl.publish);
    # repeat staged upserts chain on the ref's own head
    snap = tbl.head(stage)
    if snap is None:
        raise FileNotFoundError(f"upsert: table {tbl.dir} has no snapshot")
    lin = snap.lineage()
    if lin is None:
        raise ValueError("upsert: table has no encode run lineage")
    key = lin["key"]
    fold = fold_renames(snap.properties.get("column_renames", []))
    cols = key_cols(key)
    missing = [c for c in cols if c not in incoming.columns]
    if missing:
        raise ValueError(f"upsert: incoming frame lacks the lineage key "
                         f"column(s) {missing!r}")
    ikeys = incoming.select(*cols).distinct().cache()
    n_keys = ikeys.count()
    if n_keys == 0:
        return {"upserted_rows": 0, "replaced_rows": 0,
                "snapshot_id": snap.snapshot_id}

    entries = _tombstone_entries(snap)
    # tombstones recorded pre-rename carry the historical key name —
    # match through the fold or a tombstoned incoming key slips the
    # readmit check and its new rows are suppressed on read
    tombstoned = [e for e in entries
                  if _entry_cols_now(e, fold) == cols]
    if tombstoned:
        hit = (spark.read.parquet(*[f for e in tombstoned
                                    for f in e["files"]])
               .toDF(*cols).distinct().join(ikeys, on=cols, how="inner")
               .count())
        if hit and not readmit:
            raise ValueError(
                f"upsert: {hit} incoming key(s) are tombstoned — their "
                f"new rows would be suppressed on read. Pass "
                f"readmit=True to explicitly re-admit them (takedown "
                f"keys should be removed from the upsert feed instead)")
        if hit:
            entries = _rewrite_tombstones(spark, tbl, entries, key, ikeys,
                                          fold=fold)

    if n_keys > UPSERT_RANGE_MAX_KEYS:
        candidates = set(snap.files)
    else:
        got = ikeys.toArrow()
        candidates = _rewrite_candidates(
            snap, cols, [_stored_values(got.column(c)) for c in cols])
    survivors = [f for f in snap.files if f not in candidates]

    new_files: list[str] = []
    recs: list[dict] = []
    n_replaced = 0
    if candidates:
        decoded = decode_files_df(spark, sorted(candidates), schema_ddl,
                                  snap=snap, with_deletes=False)
        right = F.broadcast(ikeys) if n_keys <= BROADCAST_MAX_KEYS else ikeys
        kept = decoded.join(right, on=cols, how="left_anti")
        n_before = decoded.count()
        n_kept = kept.count()
        n_replaced = n_before - n_kept
        if n_kept:
            files_a, rec = write_run(
                kept, tbl, f"upsert-rewrite-{snap.snapshot_id}", None, lin)
            new_files += files_a
            recs.append(rec)

    n_in = incoming.count()
    files_b, rec = write_run(incoming, tbl, f"upsert-{snap.snapshot_id}",
                             None, lin)
    new_files += files_b
    if rec:
        recs.append(rec)

    props = dict(snap.properties)
    props["tombstones"] = entries
    props["runs"] = props["runs"] + recs
    try:
        healed = tbl.commit(
            survivors + new_files, snap.schema_ddl or "",
            props, mode="overwrite", stage=stage,
            expect_properties={
                "committed_at": snap.properties.get("committed_at")})
    finally:
        ikeys.unpersist()  # also on a conflict — the retry re-caches
    return {"upserted_rows": n_in,
            "upserted_keys": n_keys,
            "replaced_rows": n_replaced,
            "rewritten_files": len(candidates),
            "surviving_files": len(survivors),
            "new_files": len(new_files),
            "snapshot_id": healed.snapshot_id}
