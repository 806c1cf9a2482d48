"""Row-level deletes for encoded tables: tombstones + bloom-pruned purge.

A 100 TB webtext table is immutable block files — but takedowns, GDPR
erasure, and opt-outs demand row deletes without rewriting petabytes.
The split here is Iceberg v2's equality-delete idea expressed
Spark-first:

- ``delete_rows`` is METADATA-ONLY: the keys go to a small parquet
  tombstone sidecar and a properties-only snapshot commit. Reads
  (``read_decoded``, ``point_lookup``, ``range_lookup``) anti-join the
  tombstoned keys out. O(delete size), never O(table).
- ``purge_deletes`` MATERIALIZES them: only the files that may contain
  a tombstoned key (manifest key-range tier + ONE batched per-block
  bloom scan — the same tiers point lookups use, turned to the write
  side) are decoded, filtered, and re-encoded; every other file
  survives untouched.

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
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, SparkSession, functions as F

from .table import ManifestTable

# one OR-chained bloom probe expression covers up to this many keys in a
# single narrow scan; larger delete sets skip the bloom tier (the
# manifest range tier still applies, and correctness never depends on
# pruning)
PURGE_BLOOM_MAX_KEYS = 256
# anti-join side gets a broadcast hint while the tombstone set is
# comfortably executor-memory sized; beyond that it becomes a plain
# (shuffled) anti-join
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
    # the tombstone list is a read-modify-write: CAS + retry, or two
    # CONCURRENT delete_rows would each append to the same stale list
    # and the second commit would erase the first takedown (r8 audit —
    # same race class the rewrite paths had)
    from .table import CommitConflict

    for _ in range(5):
        cur = tbl.current()
        props = {"tombstones": _tombstone_entries(cur) + [entry]}
        try:
            healed = tbl.commit(
                [], "", props, mode="append",
                expect_properties={
                    "tombstones": cur.properties.get("tombstones")})
            break
        except CommitConflict:
            continue
    else:
        raise CommitConflict(
            f"delete: tombstone list of {tbl.dir} kept changing under "
            f"5 retries — rival delete storm; re-run")
    return {"deleted_keys": n, "snapshot_id": healed.snapshot_id,
            "tombstone_commits": len(props["tombstones"])}


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
    from .table import fold_renames

    snap = tbl.current()
    if snap is None:
        raise FileNotFoundError(f"delete: table {tbl.dir} has no snapshot")
    if key is None:
        runs = snap.properties.get("runs", [])
        if not runs:
            raise ValueError("delete_where: table has no encode run "
                             "lineage — pass key= explicitly")
        fold = fold_renames(snap.properties.get("column_renames", []))
        raw = runs[-1].get("key", "url")
        key = (fold.get(raw, raw) if isinstance(raw, str)
               else [fold.get(c, c) for c in raw])
    cols = key_cols(key)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    hits = tbl.read_decoded(spark, schema_ddl).filter(cond).select(*cols)
    return delete_rows(spark, tbl, hits, key=key)


def _entry_key(e: dict):
    """A tombstone entry's key spec, hashable: str or tuple of str."""
    k = e["key"]
    return k if isinstance(k, str) else tuple(k)


def tombstone_keys(spark: SparkSession, snap) -> dict:
    """Live tombstones of a snapshot, one distinct-values DataFrame per
    key spec — str for single columns, tuple of str for composite keys
    (deletes may target different columns across commits)."""
    by_key: dict = {}
    for e in _tombstone_entries(snap):
        by_key.setdefault(_entry_key(e), []).extend(e["files"])
    return {k: (spark.read.parquet(*files)
                .toDF(*([k] if isinstance(k, str) else list(k)))
                .distinct())
            for k, files in by_key.items()}


def apply_deletes(spark: SparkSession, df: DataFrame, snap) -> DataFrame:
    """Anti-join a decoded DataFrame against the snapshot's live
    tombstones. Key columns absent from ``df`` are skipped (a projection
    that dropped the key can't be filtered — callers that need deletes
    applied must keep the key column(s) in the read)."""
    entries = _tombstone_entries(snap)
    if not entries:
        return df
    total = sum(e["n"] for e in entries)
    # tombstones recorded before a rename_column carry the HISTORICAL
    # key name — translate, or a takedown would silently resurface
    # under the new column name
    from .table import fold_renames

    fold = fold_renames(snap.properties.get("column_renames", []))
    for k, kdf in tombstone_keys(spark, snap).items():
        cols = [k] if isinstance(k, str) else list(k)
        now = [fold.get(c, c) for c in cols]
        if any(c not in df.columns for c in now):
            continue
        right = F.broadcast(kdf) if total <= BROADCAST_MAX_KEYS else kdf
        df = df.join(right.toDF(*now), on=now, how="left_anti")
    return df


def tombstone_specs(snap) -> list[tuple[tuple[str, ...], list[str]]]:
    """Live tombstones as (current key columns, sidecar parquet paths)
    pairs — the Spark-free twin of :func:`tombstone_keys`, used by the
    DataSource's executor-side reads and by the driver-side point
    lookup."""
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
    I/O): (cols, single-column Array | set of tuples) pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = []
    for cols, sidecars in specs:
        keys = pa.concat_tables(
            pq.read_table(f, use_threads=False) for f in sidecars)
        out.append((cols, keys.column(0).combine_chunks()
                    if len(cols) == 1
                    else set(zip(*(keys.column(i).to_pylist()
                                   for i in range(len(cols)))))))
    return out


def filter_tombstones(batch, loaded):
    """Drop tombstoned rows from a decoded RecordBatch or Table with the
    anti-join's semantics: a row whose key holds a NULL never matches.
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
            rows = zip(*(batch.column(c).to_pylist() for c in cols))
            mask = pa.array([None not in r and r in keys for r in rows],
                            pa.bool_())
        batch = batch.filter(pc.fill_null(pc.invert(mask), True))
    return batch


def _purge_candidates(spark: SparkSession, snap, key: str,
                      values: list, names: set | None = None) -> list[str]:
    """Files that MAY hold any of ``values`` in ONE key component, via
    the read-side pruning tiers turned to the write side: manifest
    per-file key ranges (driver-side, zero I/O), then ONE batched bloom
    scan with all probes OR-chained (instead of a job per key like a
    point lookup). ``names`` widens the component's manifest/block name
    matching (historical rename names; encode-time names). Falls back to
    'all files' whenever a tier can't answer — pruning here is an
    efficiency tier, never a correctness dependency. Composite-key
    callers run this per component and intersect."""
    from .checkpoint import _component_key_ranges, summary_bloom_survivors
    from .encode import bloom_may_contain

    names = set(names or ()) | {key}
    files = list(snap.files)
    # tier 1: manifest key ranges — keep a file if ANY value is inside
    key_ranges = _component_key_ranges(snap, names)
    fam = "s" if isinstance(values[0], str) else "i"
    kept = []
    for f in files:
        rng = key_ranges.get(os.path.basename(f), {}).get(fam)
        if rng is None or any(rng[0] <= v <= rng[1] for v in values):
            kept.append(f)
    # unlike a lookup's "empty parquet read" guard, an empty answer here
    # is meaningful: no file can hold any value -> nothing to rewrite
    files = kept
    if not files or len(values) > PURGE_BLOOM_MAX_KEYS or len(files) <= 2:
        return files
    # tier 0 (r8): manifest-resident summary blooms, probed driver-side
    # before the batched narrow scan opens any footer — a file survives
    # if ANY value may be present; summary-less files are kept
    files = summary_bloom_survivors(snap, files, names, values)
    if len(files) <= 2:
        return files
    # tier 2: ONE narrow columnar scan, all probes OR-chained; per-file
    # verdict = max over its bloomed key blocks. Files with no bloomed
    # key blocks at all never appear in the aggregate and are kept
    # conservatively.
    nar = spark.read.option("mergeSchema", "true").parquet(*files)
    if "key_bloom" not in nar.columns:
        return files
    probe = reduce(or_, [bloom_may_contain(v) for v in values])
    verdicts = (nar.filter(F.col("col").isin(*names)
                           & F.col("key_bloom").isNotNull())
                .groupBy(F.input_file_name().alias("f"))
                .agg(F.max(F.when(probe, 1).otherwise(0)).alias("may"))
                .collect())
    may = {os.path.basename(r["f"]) for r in verdicts if r["may"] == 1}
    has_bloom = {os.path.basename(r["f"]) for r in verdicts}
    return [f for f in files
            if os.path.basename(f) in may
            or os.path.basename(f) not in has_bloom]


def _candidates_for_keyset(spark: SparkSession, snap, cols: list[str],
                           rows: list, fold: dict[str, str]) -> set[str]:
    """Rewrite-candidate files for a (possibly composite) key spec and a
    bounded list of value rows (tuples aligned with ``cols``): run the
    per-component pruner for every component and INTERSECT — a file must
    be able to hold every component of some value to need rewriting.
    Per-component pruning over-approximates the tuple set (components
    may hit in different rows), which is safe: extra files decode and
    anti-join to themselves."""
    cand: set[str] | None = None
    hist = {now: h for h, now in fold.items()}
    for i, c in enumerate(cols):
        vals_c = [r[i] for r in rows]
        names = {c, fold.get(c, c)} | ({hist[c]} if c in hist else set())
        got = set(_purge_candidates(spark, snap, fold.get(c, c), vals_c,
                                    names=names))
        cand = got if cand is None else (cand & got)
    return cand or set()


def purge_deletes(spark: SparkSession, tbl: ManifestTable,
                  schema_ddl: str, stage: str | None = None) -> dict:
    """Materialize every live tombstone: rewrite ONLY the files that may
    contain a tombstoned key (decode -> anti-join -> re-encode under the
    committed run's partitioning params), keep every other file
    untouched, clear the tombstone list, and commit atomically. After
    this the rows are physically gone from the current snapshot; run
    ``expire_snapshots`` to also age out the historical copies.
    ``stage`` lands the purged snapshot on a named ref for audit before
    ``publish`` (erasure review flows).

    The commit carries an ``expect_properties`` CAS on the tombstone
    list: a ``delete_rows`` landing while the purge runs would otherwise
    be silently erased by the full property overwrite (the takedown
    would resurface). On conflict the purge recomputes over the new
    tombstones and retries."""
    from .table import CommitConflict

    last_err = None
    for _ in range(3):
        try:
            return _purge_once(spark, tbl, schema_ddl, stage)
        except CommitConflict as e:
            last_err = e  # a rival delete landed mid-purge: recompute
    raise last_err


def _purge_once(spark: SparkSession, tbl: ManifestTable,
                schema_ddl: str, stage: str | None = None) -> dict:
    from .checkpoint import write_run
    from .encode import encode_df
    from .table import fold_renames

    snap = tbl.head(stage)
    if snap is None:
        raise FileNotFoundError(f"purge: table {tbl.dir} has no snapshot")
    entries = _tombstone_entries(snap)
    if not entries:
        return {"purged_keys": 0, "rewritten_files": 0}
    runs = snap.properties.get("runs", [])
    if not runs:
        raise ValueError("purge: table has no encode run lineage")
    run = runs[-1]
    # run records keep the key name(s) AT ENCODE TIME; translate through
    # the rename chain so post-rename rewrites decode and re-encode under
    # the CURRENT name (decode_files_df relabels the blocks the same way)
    fold = fold_renames(snap.properties.get("column_renames", []))
    raw_key = run.get("key", "url")
    run_key = (fold.get(raw_key, raw_key) if isinstance(raw_key, str)
               else [fold.get(c, c) for c in raw_key])

    candidates: set[str] = set()
    for kk, kdf in tombstone_keys(spark, snap).items():
        cols_k = [kk] if isinstance(kk, str) else list(kk)
        rows = [tuple(r) for r in kdf.limit(PURGE_BLOOM_MAX_KEYS + 1)
                .collect()]
        if len(rows) > PURGE_BLOOM_MAX_KEYS:
            candidates.update(snap.files)
            break
        candidates.update(_candidates_for_keyset(spark, snap, cols_k,
                                                 rows, fold))
    candidates &= set(snap.files)
    survivors = [f for f in snap.files if f not in candidates]

    new_files: list[str] = []
    rec = None
    n_kept = 0
    if candidates:
        from .encode import decode_files_df

        decoded = decode_files_df(spark, sorted(candidates), schema_ddl,
                                  renames=fold)
        kept = apply_deletes(spark, decoded, snap)
        n_kept = kept.count()
        if n_kept:
            blocks = encode_df(kept, key=run_key,
                               n_parts=run["n_parts"],
                               salt=run.get("salt", 1),
                               salt_by=run.get("salt_by"))
            new_files, rec = write_run(
                blocks, tbl, f"purge-{snap.snapshot_id}", None,
                run["n_parts"], run.get("salt", 1), run.get("salt_by"),
                run_key)
    props = dict(snap.properties)
    props["tombstones"] = []
    props["runs"] = runs + ([rec] if rec else [])
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


# sorted incoming keys collected driver-side for the upsert range tier;
# beyond this the pruner honestly degrades to "rewrite every file whose
# range tier can't exclude it" = all files (correctness never depends
# on pruning, and an upsert touching >100k distinct keys is a bulk
# reload, not a point merge)
UPSERT_RANGE_MAX_KEYS = 100_000


def _range_candidates(snap, key: str, sorted_vals: list,
                      names: set | None = None) -> list[str]:
    """Manifest key-range tier for LARGE probe sets, ONE key component:
    bisect each file's [lo, hi] into the sorted incoming keys —
    O(files x log K) driver-side, zero I/O. Files without a recorded
    range are kept (over-approximation safe, same contract as the lookup
    tiers). Composite keys prune on their PRIMARY component here."""
    from bisect import bisect_left

    from .checkpoint import _component_key_ranges

    key_ranges = _component_key_ranges(snap, set(names or ()) | {key})
    fam = "s" if isinstance(sorted_vals[0], str) else "i"
    kept = []
    for f in snap.files:
        rng = key_ranges.get(os.path.basename(f), {}).get(fam)
        if rng is None:
            kept.append(f)
            continue
        i = bisect_left(sorted_vals, rng[0])
        if i < len(sorted_vals) and sorted_vals[i] <= rng[1]:
            kept.append(f)
    return kept


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


def upsert_rows(spark: SparkSession, tbl: ManifestTable,
                incoming: DataFrame, schema_ddl: str,
                readmit: bool = False, stage: str | None = None) -> dict:
    """Copy-on-write MERGE on the lineage key: replace every existing row
    whose key appears in ``incoming`` with the incoming rows, atomically
    — the re-crawl case (a page re-fetched with fresh content must
    supersede its old row, not coexist with it).

    Spark-first split: only the files that MAY hold an incoming key are
    rewritten — pruned by the same manifest-range + bloom tiers point
    lookups use (<=PURGE_BLOOM_MAX_KEYS keys), by a bisect range tier at
    <=UPSERT_RANGE_MAX_KEYS, and honestly unpruned beyond that. The
    rewrite (decode -> anti-join -> re-encode) and the incoming encode
    land in ONE overwrite commit: readers never see the table without
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

    Like ``purge_deletes``, the overwrite commit is CAS-guarded on the
    tombstone list (a concurrent ``delete_rows`` must not be erased by
    the property overwrite) and retried on conflict."""
    from .table import CommitConflict

    last_err = None
    for _ in range(3):
        try:
            return _upsert_once(spark, tbl, incoming, schema_ddl,
                                readmit, stage)
        except CommitConflict as e:
            last_err = e  # a rival delete landed mid-merge: recompute
    raise last_err


def _upsert_once(spark: SparkSession, tbl: ManifestTable,
                 incoming: DataFrame, schema_ddl: str,
                 readmit: bool, stage: str | None) -> dict:
    from .checkpoint import write_run
    from .encode import decode_files_df, encode_df
    from .table import fold_renames

    # ``stage`` lands the merged snapshot on a named ref (audit the
    # merge — fsck, row counts, spot decodes — then tbl.publish);
    # repeat staged upserts chain on the ref's own head
    snap = tbl.head(stage)
    if snap is None:
        raise FileNotFoundError(f"upsert: table {tbl.dir} has no snapshot")
    runs = snap.properties.get("runs", [])
    if not runs:
        raise ValueError("upsert: table has no encode run lineage")
    run = runs[-1]
    # translate the run's encode-time key name(s) through the rename
    # chain (callers speak the CURRENT schema); composite lineage keys
    # arrive from the manifest as a list
    from .encode import key_cols

    fold = fold_renames(snap.properties.get("column_renames", []))
    raw_key = run.get("key", "url")
    key = (fold.get(raw_key, raw_key) if isinstance(raw_key, str)
           else [fold.get(c, c) for c in raw_key])
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

    # prune the rewrite set with the lookup tiers turned to the write side
    rows = [tuple(r) for r in ikeys.limit(PURGE_BLOOM_MAX_KEYS + 1)
            .collect()]
    if len(rows) <= PURGE_BLOOM_MAX_KEYS:
        candidates = _candidates_for_keyset(spark, snap, cols, rows, fold)
    elif n_keys <= UPSERT_RANGE_MAX_KEYS:
        # large sets prune on the PRIMARY component's recorded ranges
        hist = {now: h for h, now in fold.items()}
        names = {cols[0]} | ({hist[cols[0]]} if cols[0] in hist
                             else set())
        candidates = set(_range_candidates(
            snap, cols[0], sorted(r[0] for r in ikeys.collect()),
            names=names))
    else:
        candidates = set(snap.files)
    candidates &= set(snap.files)
    survivors = [f for f in snap.files if f not in candidates]

    new_files: list[str] = []
    recs: list[dict] = []
    n_replaced = 0
    if candidates:
        decoded = decode_files_df(spark, sorted(candidates), schema_ddl,
                                  renames=fold)
        right = F.broadcast(ikeys) if n_keys <= BROADCAST_MAX_KEYS else ikeys
        kept = decoded.join(right, on=cols, how="left_anti")
        n_before = decoded.count()
        n_kept = kept.count()
        n_replaced = n_before - n_kept
        if n_kept:
            blocks = encode_df(kept, key=key, n_parts=run["n_parts"],
                               salt=run.get("salt", 1),
                               salt_by=run.get("salt_by"))
            files_a, rec = write_run(
                blocks, tbl, f"upsert-rewrite-{snap.snapshot_id}", None,
                run["n_parts"], run.get("salt", 1), run.get("salt_by"),
                key)
            new_files += files_a
            recs.append(rec)

    n_in = incoming.count()
    blocks = encode_df(incoming, key=key, n_parts=run["n_parts"],
                       salt=run.get("salt", 1), salt_by=run.get("salt_by"))
    files_b, rec = write_run(blocks, tbl, f"upsert-{snap.snapshot_id}",
                             None, run["n_parts"], run.get("salt", 1),
                             run.get("salt_by"), key)
    new_files += files_b
    if rec:
        recs.append(rec)

    props = dict(snap.properties)
    props["tombstones"] = entries
    props["runs"] = runs + recs
    try:
        healed = tbl.commit(
            survivors + new_files, snap.schema_ddl or "",
            props, mode="overwrite", stage=stage,
            expect_properties={
                "committed_at": snap.properties.get("committed_at")})
    finally:
        ikeys.unpersist()  # also on CommitConflict — the retry re-caches
    return {"upserted_rows": n_in,
            "upserted_keys": n_keys,
            "replaced_rows": n_replaced,
            "rewritten_files": len(candidates),
            "surviving_files": len(survivors),
            "new_files": len(new_files),
            "snapshot_id": healed.snapshot_id}
