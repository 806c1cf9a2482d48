"""eel-style CLI (reference: eel-cli/src/main/scala/io/eels/cli/Main.scala:7-26
— commands schema | stream | analyze).

    python -m jobs.cli schema  --source /path/data.parquet
    python -m jobs.cli stream  --source <parquet> --sink <dir> \
        [--format parquet|orc|csv|json] [--projection a,b] [--filter "a > 1"]
    python -m jobs.cli analyze --source /path/dir-or-glob
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def cmd_schema(args) -> None:
    from eel_sdk_spark.schema import ddl
    from eel_sdk_spark.session import get_spark

    spark = get_spark(app="cli-schema")
    try:
        df = spark.read.parquet(args.source)
        sys.stdout.write(ddl(df.schema) + "\n")
    finally:
        spark.stop()


def cmd_stream(args) -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from eel_sdk_spark.ops import DataStream
    from eel_sdk_spark.session import get_spark

    spark = get_spark(app="cli-stream")
    try:
        ds = DataStream(spark.read.parquet(args.source))
        if args.filter:
            ds = ds.filter(F.expr(args.filter))
        if args.projection:
            ds = ds.projection(*args.projection.split(","))
        writer = {"parquet": ds.to_parquet, "orc": ds.to_orc,
                  "csv": ds.to_csv, "json": ds.to_json}[args.format]
        writer(args.sink, parallelism=args.parallelism)
        sys.stdout.write(json.dumps({"rows": ds.size(),
                                     "sink": args.sink}) + "\n")
    finally:
        spark.stop()


def cmd_analyze(args) -> None:
    """Footer-level stats without reading data (ParquetSource.scala:58-75)."""
    from eel_sdk_spark.sources import ParquetSource

    st = ParquetSource(args.source).statistics()
    sys.stdout.write(json.dumps(st) + "\n")


def cmd_analyze_table(args) -> None:
    """Encoded-table stats from the manifest alone — zero data reads, no
    Spark session (the HiveStats-style metadata-only answer,
    eel-hive/.../HiveStats.scala:15-79): rows, raw/encoded bytes, ratio,
    codec mix, runs, files."""
    from eel_sdk_spark.table import ManifestTable

    snap = ManifestTable(args.warehouse, args.table).current()
    if snap is None:
        raise SystemExit(f"no committed snapshot in {args.warehouse}/{args.table}")
    runs = snap.properties.get("runs", [])
    mix: dict[str, int] = {}
    cols: dict[str, list[int]] = {}
    rows = raw = enc = 0
    for r in runs:
        rows += r.get("n_rows", 0)
        raw += r.get("raw_bytes", 0)
        enc += r.get("enc_bytes", 0)
        for k, v in r.get("codec_mix", {}).items():
            mix[k] = mix.get(k, 0) + v
        for c, (craw, cenc) in r.get("col_bytes", {}).items():
            cb = cols.setdefault(c, [0, 0])
            cb[0] += craw
            cb[1] += cenc
    # rows/raw/enc over the LIVE file set when every current file has
    # recorded per-file stats (run records' file_stats + compact's
    # file_stats_extra). Lineage totals keep counting files a purge or
    # compact replaced — summing live files is what the snapshot holds.
    # Tables written before file_stats fall back to lineage totals
    # (scope says which). codec_mix/col_ratio stay lineage-level
    # diagnostics either way.
    fstats = snap.file_stats()
    live = {os.path.basename(f) for f in snap.files}
    scope = "lineage"
    if live and live <= set(fstats):
        rows = sum(fstats[b][0] for b in live)
        raw = sum(fstats[b][1] for b in live)
        enc = sum(fstats[b][2] for b in live)
        scope = "live"
    tomb = sum(e.get("n", 0)
               for e in snap.properties.get("tombstones", []))
    sys.stdout.write(json.dumps({
        "snapshot_id": snap.snapshot_id,
        "files": len(snap.files),
        "runs": len(runs),
        "rows": rows,
        # unpurged tombstoned keys: reads suppress them, but the rows
        # above still physically exist until `eel purge`
        "tombstoned_keys": tomb,
        "stats_scope": scope,
        "raw_bytes": raw,
        "enc_bytes": enc,
        "ratio": round(raw / enc, 3) if enc else None,
        "codec_mix": mix,
        "col_ratio": {c: round(r0 / e0, 2) if e0 else None
                      for c, (r0, e0) in sorted(cols.items())},
        "part_ids": sorted({p for r in runs for p in r.get("part_ids", [])}),
        # point-lookup readiness: how many files carry manifest key
        # ranges, and how disjoint those ranges are (1.0 = perfectly
        # clustered -> a lookup opens ~1 file; ~0 = hash-scattered ->
        # ranges prune nothing and realign/shuffle=True is the lever)
        "key_ranges": _key_range_stats(runs, snap.properties),
        # r6: per-block key blooms present? (zero-read: schema-level) —
        # scattered-layout point lookups prune to ~1 file when true
        "key_blooms": "key_bloom" in (snap.schema_ddl or ""),
        # r8: bloom sizing health — the encoder auto-sizes bits/key to
        # its n_parts file hint, but a table GROWN by appends/followers
        # can outrun the recorded sizing (the measured fp law is linear
        # in files: fp(bits) x files = expected wasted opens/lookup).
        # Non-null => re-encode/realign with the recommended bits (or
        # lean on the tier-0 summaries + bloom index).
        "bloom_undersized": _bloom_sizing_check(runs, len(snap.files)),
        # r7: bloom INDEX sidecar status — covered vs current files
        # (uncovered files fall back to the per-file scan; rebuild with
        # `eel bloom-index` when coverage drifts after appends)
        "bloom_index": _bloom_index_stats(snap),
        # r7 tail: rename history (historical -> current names) and
        # named refs (tags + staged WAP lines awaiting publish)
        "column_renames": _fold_renames_safe(snap),
        "refs": ManifestTable(args.warehouse, args.table).refs(),
    }) + "\n")


def _fold_renames_safe(snap) -> dict:
    from eel_sdk_spark.table import fold_renames

    return fold_renames(snap.properties.get("column_renames", []))


def _bloom_index_stats(snap) -> dict | None:
    """Index coverage without Spark: the sidecar is tiny, pyarrow reads
    just its `file` column."""
    idx = snap.properties.get("bloom_index")
    if not idx:
        return None
    import os

    covered: set[str] = set()
    try:
        import pyarrow.parquet as pq

        for f in idx.get("files", []):
            covered.update(
                pq.read_table(f, columns=["file"])["file"].to_pylist())
    except Exception:  # index files missing/unreadable: report as stale
        pass
    current = {os.path.basename(f) for f in snap.files}
    return {"key": idx.get("key"),
            "as_of_snapshot": idx.get("as_of_snapshot"),
            "covered_files": len(covered & current),
            "total_files": len(current),
            "stale": bool(current - covered)}


def _bloom_sizing_check(runs: list, n_files: int) -> dict | None:
    """Compare the newest run's recorded bits/key against what the LIVE
    file count needs (encode.auto_bloom_bits); None when healthy or
    unknown (pre-r8 tables record no bloom_bits)."""
    from eel_sdk_spark.encode import auto_bloom_bits

    recorded = next((r["bloom_bits"] for r in reversed(runs)
                     if r.get("bloom_bits") is not None), None)
    if recorded is None:
        return None
    needed = auto_bloom_bits(n_files)
    if recorded >= needed:
        return None
    return {"recorded_bits": recorded, "recommended_bits": needed,
            "files": n_files}


def _key_range_stats(runs: list, props: dict) -> dict:
    """Readiness stats for the LINEAGE key only (the most recent run's
    key — what point_lookup actually prunes by). Runs keyed on other
    columns are excluded, and string/int span families never sort into
    one list: mixing them both crashes sorted() ('<' between str and
    int tuples) and makes cross-key disjointness meaningless
    (ADVICE r5)."""
    extra = props.get("file_key_ranges_extra", {})
    lineage_key = (runs[-1].get("key") if runs else extra.get("key"))
    files: dict = {}
    for r in runs:
        if r.get("key") == lineage_key:
            files.update(r.get("file_key_ranges", {}))
    if extra.get("key") == lineage_key:
        files.update(extra.get("files", {}))
    by_fam: dict[str, list] = {}
    for v in files.values():
        for fam in ("s", "i"):
            if fam in v:
                by_fam.setdefault(fam, []).append((v[fam][0], v[fam][1]))
    # disjointness is judged within one family; report the dominant one
    # (a healthy table has exactly one — mixed families on the same key
    # would mean the key changed type between runs)
    fam, spans = max(by_fam.items(), key=lambda kv: len(kv[1]),
                     default=(None, []))
    spans = sorted(spans)
    disjoint = None
    if len(spans) > 1:
        ok = sum(1 for (a, b) in zip(spans, spans[1:]) if a[1] <= b[0])
        disjoint = round(ok / (len(spans) - 1), 3)
    return {"key": lineage_key, "ranged_files": len(spans),
            "disjoint_frac": disjoint}


def cmd_profile(args) -> None:
    """Sketch-based corpus profile (one pass, mergeable state only):
    counts, nulls, HLL distinct, min/max/mean/quantiles per column."""
    from eel_sdk_spark.functions.sketches import column_profile
    from eel_sdk_spark.session import get_spark

    spark = get_spark(app="profile")
    try:
        df = spark.read.parquet(args.source)
        cols = args.cols.split(",") if args.cols else None
        for r in column_profile(df, cols).collect():
            sys.stdout.write(json.dumps(r.asDict()) + "\n")
    finally:
        spark.stop()


def cmd_history(args) -> None:
    """Snapshot chain of an encoded table, newest first — Iceberg's
    ``table.history`` / ``snapshots`` metadata view, from the manifest
    alone (no Spark session, no data reads). Each line: snapshot id,
    parent, commit time, file count, and the run ids it carries — the
    operator's view for picking a --snapshot-id time-travel target."""
    from eel_sdk_spark.table import ManifestTable

    tbl = ManifestTable(args.warehouse, args.table)
    snap = tbl.current()
    if snap is None:
        raise SystemExit(f"no committed snapshot in {args.warehouse}/{args.table}")
    n = 0
    while snap is not None and n < args.max_entries:
        props = snap.properties or {}
        sys.stdout.write(json.dumps({
            "snapshot_id": snap.snapshot_id,
            "parent_id": snap.parent_id,
            "committed_at": props.get("committed_at"),
            "files": len(snap.files),
            "runs": [r.get("run_id") for r in props.get("runs", [])],
        }) + "\n")
        n += 1
        if snap.parent_id is None:
            break
        try:
            snap = tbl.snapshot(snap.parent_id)
        except FileNotFoundError:  # expired by gc — chain ends here
            break


def cmd_realign(args) -> None:
    """Re-encode the current snapshot part-ALIGNED (one overwrite
    commit): the migration from the write-fast banded default layout to
    one-part-per-file locality for point-lookup-heavy serving."""
    from eel_sdk_spark.checkpoint import realign_table
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app="realign")
    try:
        run = realign_table(
            spark, ManifestTable(args.warehouse, args.table), args.schema,
            run_id=args.run_id,
            sort_by=args.sort_by.split(",") if args.sort_by else None,
            verify_fingerprint=not args.no_verify_fingerprint)
        sys.stdout.write(json.dumps(run) + "\n")
    finally:
        spark.stop()


def cmd_gc(args) -> None:
    """Table maintenance from the manifest alone, no Spark session:
    expire old snapshots (+ their exclusively-referenced data files) and
    delete orphaned staging files from crashed writes — Iceberg's
    expire_snapshots / remove_orphan_files pair."""
    from eel_sdk_spark.table import ManifestTable

    tbl = ManifestTable(args.warehouse, args.table)
    out = tbl.expire_snapshots(keep_last=args.keep_last,
                               older_than_s=args.older_than_s)
    orphans = tbl.remove_orphan_files(older_than_s=args.orphan_age_s)
    out["orphans_removed"] = len(orphans)
    sys.stdout.write(json.dumps(out) + "\n")


def cmd_bpe(args) -> None:
    """Train a BPE tokenizer on a corpus (one word-count pass +
    driver-side merge learning) and/or count tokens under a model —
    the token-budget producer for mixing/packing."""
    import json as _json

    from eel_sdk_spark.functions import bpe
    from eel_sdk_spark.session import get_spark

    spark = get_spark(app="bpe")
    try:
        df = spark.read.parquet(args.source)
        if args.model_in:
            with open(args.model_in) as f:
                model = _json.load(f)
        else:
            model = bpe.train_bpe(df, text_col=args.text_col,
                                  n_merges=args.merges,
                                  top_words=args.top_words,
                                  lowercase=args.lowercase)
        if args.model_out:
            with open(args.model_out, "w") as f:
                _json.dump(model, f)
        out = {"merges": len(model["merges"]),
               "model_out": args.model_out}
        if args.counts_out:
            counts = bpe.token_counts(df, model, text_col=args.text_col,
                                      id_col=args.id_col)
            counts.write.mode("overwrite").parquet(args.counts_out)
            row = spark.read.parquet(args.counts_out).agg(
                {"n_bpe_tokens": "sum", "*": "count"}).first()
            out["docs"] = row["count(1)"]
            out["total_tokens"] = row["sum(n_bpe_tokens)"]
            out["counts_out"] = args.counts_out
        sys.stdout.write(json.dumps(out) + "\n")
    finally:
        spark.stop()


def cmd_compact_store(args) -> None:
    """Signature-store maintenance: fp-dedup rewrite + epoch expiry
    (streaming.pipeline.compact_store) — the operator's lever against
    unbounded store growth at 10^12 docs."""
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.streaming.pipeline import compact_store
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app="compact-store")
    try:
        tbl = ManifestTable(args.warehouse, args.table)
        res = compact_store(spark, tbl, id_col=args.id_col,
                            expire_before_epoch=args.expire_before_epoch,
                            stream_id=args.stream_id)
        sys.stdout.write(json.dumps(res) + "\n")
    finally:
        spark.stop()


def cmd_binpack(args) -> None:
    """Incremental small-file compaction (ManifestTable.binpack): pack
    only the files under --target-bytes; big files and their manifest
    entries survive untouched — O(small bytes), the nightly maintenance
    for follower sinks that land one file per poll."""
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app="binpack")
    try:
        tbl = ManifestTable(args.warehouse, args.table)
        res = tbl.binpack(spark, target_bytes=args.target_bytes,
                          stage=args.stage)
        sys.stdout.write(json.dumps(res) + "\n")
    finally:
        spark.stop()


def cmd_bloom_index(args) -> None:
    """Build/refresh the bloom INDEX sidecar for an encoded table
    (checkpoint.build_bloom_index): lookups then consult O(1) narrow
    index files instead of opening one footer per candidate file — the
    tier that keeps scattered-layout point lookups flat at 100k+ files."""
    from eel_sdk_spark.checkpoint import build_bloom_index
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app="bloom-index")
    try:
        tbl = ManifestTable(args.warehouse, args.table)
        prop = build_bloom_index(spark, tbl, key=args.key)
        sys.stdout.write(json.dumps(
            {"key": prop["key"], "index_files": len(prop["files"]),
             "as_of_snapshot": prop["as_of_snapshot"]}) + "\n")
    finally:
        spark.stop()


def cmd_fsck(args) -> None:
    """Distributed integrity audit of an encoded table
    (checkpoint.fsck): recompute every block's payload_crc, cross-check
    the manifest's file list against storage, print the summary and the
    coordinates of any damaged blocks. Exit code 1 when unhealthy, so a
    scheduled audit can alert."""
    from eel_sdk_spark.checkpoint import fsck, fsck_summary
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app="fsck")
    try:
        tbl = ManifestTable(args.warehouse, args.table)
        # cache: the report is O(files + bad blocks) rows, but producing
        # it reads the whole table — never scan twice for two summaries
        report = fsck(spark, tbl, snapshot_id=args.snapshot).cache()
        bad = [r.asDict() for r in report.filter(
            "status in ('bad_crc', 'missing_file', 'unreadable_file')")
            .limit(args.max_detail).collect()]
        out = fsck_summary(report)
        if bad:
            out["detail"] = bad
        sys.stdout.write(json.dumps(out) + "\n")
        if not out["healthy"]:
            sys.exit(1)
    finally:
        spark.stop()


def cmd_repair(args) -> None:
    """Lineage-driven self-healing (checkpoint.repair_table): drop the
    files an fsck flags, re-encode exactly the parts they covered from
    the original input, commit the healed snapshot. --dry-run prints the
    plan (files to drop, parts to re-encode) without writing."""
    from eel_sdk_spark.checkpoint import repair_table
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app="repair")
    try:
        if args.input.startswith("synthetic:"):
            from eel_sdk_spark.corpus import webtext_df

            df = webtext_df(spark, int(args.input.split(":", 1)[1]))
        else:
            df = spark.read.parquet(args.input)
        tbl = ManifestTable(args.warehouse, args.table)
        out = repair_table(spark, tbl, df, dry_run=args.dry_run,
                           verify_fingerprint=not args.force)
        sys.stdout.write(json.dumps(out) + "\n")
    finally:
        spark.stop()


def cmd_delete(args) -> None:
    """Metadata-only row deletes (deletes.delete_rows): suppress keys via
    a tombstone sidecar + properties-only commit. O(|keys|), never
    O(table); reads drop the suppressed keys until `purge`
    physically rewrites the (bloom-pruned) affected files."""
    from eel_sdk_spark.deletes import delete_rows
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app="delete")
    try:
        tbl = ManifestTable(args.warehouse, args.table)
        key = args.key.split(",") if "," in args.key else args.key
        if args.where:
            # content-predicate takedown (deletes.delete_where): one
            # decoded pass finds the keys, then the same metadata-only
            # commit
            from eel_sdk_spark.deletes import delete_where

            if args.keys or args.keys_file:
                raise SystemExit("--where is mutually exclusive with "
                                 "--keys/--keys-file")
            out = delete_where(spark, tbl, args.where,
                               key=None if args.key == "url" else key)
            sys.stdout.write(json.dumps(out) + "\n")
            return
        if args.keys_file:
            keys = spark.read.parquet(args.keys_file)
            if args.key_col:
                keys = keys.select(*args.key_col.split(","))
            elif not isinstance(key, str) \
                    and all(c in keys.columns for c in key):
                keys = keys.select(*key)
        elif not isinstance(key, str):
            # composite values are typed (bigint components etc.) —
            # a comma list can't carry types; demand the parquet path
            raise SystemExit("composite --key needs --keys-file (typed "
                             "per-component values)")
        else:
            keys = [k for k in args.keys.split(",") if k]
        out = delete_rows(spark, tbl, keys, key=key)
        sys.stdout.write(json.dumps(out) + "\n")
    finally:
        spark.stop()


def cmd_purge(args) -> None:
    """Materialize tombstones (deletes.purge_deletes): decode, filter,
    and re-encode ONLY the files that may contain a deleted key (manifest
    key ranges + one batched bloom scan); clear the tombstone list."""
    from eel_sdk_spark.deletes import purge_deletes
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app="purge")
    try:
        tbl = ManifestTable(args.warehouse, args.table)
        out = purge_deletes(spark, tbl, args.schema)
        sys.stdout.write(json.dumps(out) + "\n")
    finally:
        spark.stop()


def cmd_upsert(args) -> None:
    """Copy-on-write merge (deletes.upsert_rows): incoming rows replace
    same-key rows atomically; only files that may hold an incoming key
    are rewritten (manifest-range + bloom pruned)."""
    from eel_sdk_spark.deletes import upsert_rows
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app="upsert")
    try:
        tbl = ManifestTable(args.warehouse, args.table)
        incoming = spark.read.parquet(args.input)
        out = upsert_rows(spark, tbl, incoming, args.schema,
                          readmit=args.readmit)
        sys.stdout.write(json.dumps(out) + "\n")
    finally:
        spark.stop()


def cmd_rename(args) -> None:
    """Rename a column via manifest name mapping (properties-only
    commit, no data moves, no Spark session); decode paths accept the
    historical name from the next read on."""
    from eel_sdk_spark.table import ManifestTable

    tbl = ManifestTable(args.warehouse, args.table)
    snap = tbl.rename_column(args.old, args.new, stage=args.stage)
    sys.stdout.write(json.dumps(
        {"renamed": {args.old: args.new},
         "snapshot_id": snap.snapshot_id}) + "\n")


def cmd_widen(args) -> None:
    """Widen a column's type (int family up, float->double, decimal
    precision up) via a properties-only commit — no data moves, no
    Spark session; decode safe-casts old blocks up from the next read
    on (ManifestTable.widen_column)."""
    from eel_sdk_spark.table import ManifestTable

    tbl = ManifestTable(args.warehouse, args.table)
    snap = tbl.widen_column(args.col, args.to, stage=args.stage)
    sys.stdout.write(json.dumps(
        {"widened": {args.col: args.to},
         "snapshot_id": snap.snapshot_id}) + "\n")


def cmd_tag(args) -> None:
    """Pin a snapshot under an immutable name (no Spark session)."""
    from eel_sdk_spark.table import ManifestTable

    tbl = ManifestTable(args.warehouse, args.table)
    sid = tbl.tag(args.name, args.snapshot_id)
    sys.stdout.write(json.dumps({"ref": args.name, "snapshot_id": sid})
                     + "\n")


def cmd_refs(args) -> None:
    """List named refs (tags + staged lines) and main head."""
    from eel_sdk_spark.table import ManifestTable

    tbl = ManifestTable(args.warehouse, args.table)
    cur = tbl.current()
    sys.stdout.write(json.dumps(
        {"main": cur.snapshot_id if cur else None,
         "refs": tbl.refs()}) + "\n")


def cmd_publish(args) -> None:
    """Fast-forward main onto a staged ref (the publish half of
    write-audit-publish); refuses if main advanced since the fork."""
    from eel_sdk_spark.table import ManifestTable

    tbl = ManifestTable(args.warehouse, args.table)
    snap = tbl.publish(args.ref, drop=not args.keep_ref)
    sys.stdout.write(json.dumps(
        {"published": args.ref, "snapshot_id": snap.snapshot_id,
         "n_files": len(snap.files)}) + "\n")


def cmd_rollback(args) -> None:
    """Move main back to an ancestor snapshot's exact state (new
    commit; bad commits stay time-travel-readable until expiry)."""
    from eel_sdk_spark.table import ManifestTable

    tbl = ManifestTable(args.warehouse, args.table)
    snap = tbl.rollback(args.snapshot)
    sys.stdout.write(json.dumps(
        {"rolled_back_to": args.snapshot,
         "new_snapshot_id": snap.snapshot_id,
         "n_files": len(snap.files)}) + "\n")


def cmd_drop_ref(args) -> None:
    """Abandon a ref; the next gc reclaims anything only it pinned."""
    from eel_sdk_spark.table import ManifestTable

    ManifestTable(args.warehouse, args.table).drop_ref(args.ref)
    sys.stdout.write(json.dumps({"dropped": args.ref}) + "\n")


def cmd_follow(args) -> None:
    """One exactly-once follower poll (streaming/follow.py): decode the
    rows appended to --src-table since this consumer's cursor, optionally
    filter, encode into --sink-table, cursor advanced in the SAME commit.
    Schedule under cron/Airflow; replays after a crash cannot duplicate."""
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.streaming.follow import follow_once
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app="follow")
    try:
        src = ManifestTable(args.warehouse, args.src_table)
        sink = ManifestTable(args.warehouse, args.sink_table)
        transform = ((lambda d: d.filter(args.filter))
                     if args.filter else None)
        out = follow_once(spark, src, sink, args.schema,
                          consumer_id=args.consumer_id,
                          transform=transform, profile=args.profile,
                          bootstrap="from_now" if args.from_now
                          else "full",
                          propagate_deletes=args.propagate_deletes)
        sys.stdout.write(json.dumps(out) + "\n")
    finally:
        spark.stop()


def cmd_changes(args) -> None:
    """Manifest-only snapshot diff (ManifestTable.changes_between) — the
    CDC surface an incremental consumer polls. No Spark session."""
    from eel_sdk_spark.table import ManifestTable

    tbl = ManifestTable(args.warehouse, args.table)
    ch = tbl.changes_between(args.since, args.to)
    out = {**ch,
           "new_data_files": len(ch["new_data_files"]),
           "rewritten_files": len(ch["rewritten_files"]),
           "unclassified_files": len(ch["unclassified_files"]),
           "removed_files": len(ch["removed_files"]),
           "tombstone_keys_added": sum(e.get("n", 0)
                                       for e in ch["tombstones_added"])}
    out.pop("tombstones_added")
    sys.stdout.write(json.dumps(out) + "\n")


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="eel")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("schema")
    s.add_argument("--source", required=True)

    t = sub.add_parser("stream")
    t.add_argument("--source", required=True)
    t.add_argument("--sink", required=True)
    t.add_argument("--format", default="parquet",
                   choices=["parquet", "orc", "csv", "json"])
    t.add_argument("--projection", default=None)
    t.add_argument("--filter", default=None)
    t.add_argument("--parallelism", type=int, default=None)

    a = sub.add_parser("analyze")
    a.add_argument("--source", required=True)

    at = sub.add_parser("analyze-table")
    at.add_argument("--warehouse", required=True)
    at.add_argument("--table", default="blocks")

    gc = sub.add_parser("gc")
    gc.add_argument("--warehouse", required=True)
    gc.add_argument("--table", default="blocks")
    gc.add_argument("--keep-last", type=int, default=2)
    gc.add_argument("--older-than-s", type=float, default=None,
                    help="also keep every snapshot younger than this "
                         "many seconds (Iceberg-style age retention; "
                         "keep-last stays the floor)")
    gc.add_argument("--orphan-age-s", type=float, default=3600.0)

    pr = sub.add_parser("profile")
    pr.add_argument("--source", required=True)
    pr.add_argument("--cols", default=None)

    hi = sub.add_parser("history")
    hi.add_argument("--warehouse", required=True)
    hi.add_argument("--table", default="blocks")
    hi.add_argument("--max-entries", type=int, default=50)

    bp = sub.add_parser("bpe", help="train a BPE tokenizer and/or "
                                    "write per-doc token counts")
    bp.add_argument("--source", required=True)
    bp.add_argument("--text-col", default="text")
    bp.add_argument("--id-col", default="doc_id")
    bp.add_argument("--merges", type=int, default=200)
    bp.add_argument("--top-words", type=int, default=100_000)
    bp.add_argument("--lowercase", action="store_true")
    bp.add_argument("--model-in", default=None,
                    help="reuse a trained model JSON instead of training")
    bp.add_argument("--model-out", default=None)
    bp.add_argument("--counts-out", default=None,
                    help="write (id, n_bpe_tokens) parquet")

    cs = sub.add_parser("compact-store",
                        help="rewrite a dedup signature store as one "
                             "fp-deduped file set; optionally expire "
                             "epochs below a watermark")
    cs.add_argument("--warehouse", required=True)
    cs.add_argument("--table", default="sigstore")
    cs.add_argument("--id-col", default="doc_id")
    cs.add_argument("--stream-id", default="dedup")
    cs.add_argument("--expire-before-epoch", type=int, default=None)

    bk = sub.add_parser("binpack",
                        help="incremental small-file compaction: pack "
                             "only files under --target-bytes, keep the "
                             "rest byte-identical")
    bk.add_argument("--warehouse", required=True)
    bk.add_argument("--table", default="blocks")
    bk.add_argument("--target-bytes", type=int, default=128 << 20)
    bk.add_argument("--stage", default=None)

    ra = sub.add_parser("realign")
    ra.add_argument("--warehouse", required=True)
    ra.add_argument("--table", default="blocks")
    ra.add_argument("--schema", required=True,
                    help="decode DDL of the stored rows")
    ra.add_argument("--run-id", default="realign")
    ra.add_argument("--sort-by", default=None,
                    help="comma-separated table sort order applied during "
                         "the rewrite")
    ra.add_argument("--no-verify-fingerprint", action="store_true",
                    help="skip the decoded-content fingerprint check (one "
                         "extra decode pass; the committed fingerprint is "
                         "carried forward unchanged)")

    bi = sub.add_parser("bloom-index",
                        help="build the bloom index sidecar for fast "
                             "scattered-layout point lookups")
    bi.add_argument("--warehouse", required=True)
    bi.add_argument("--table", default="blocks")
    bi.add_argument("--key", default="url")

    fs = sub.add_parser("fsck",
                        help="verify every block's payload CRC and the "
                             "manifest<->storage file list; exit 1 on "
                             "damage")
    fs.add_argument("--warehouse", required=True)
    fs.add_argument("--table", default="blocks")
    fs.add_argument("--snapshot", type=int, default=None,
                    help="audit a historical snapshot (time travel)")
    fs.add_argument("--max-detail", type=int, default=50,
                    help="cap on per-block damage rows printed")

    rp = sub.add_parser("repair",
                        help="heal fsck-flagged damage by re-encoding "
                             "the affected parts from the original input")
    rp.add_argument("--warehouse", required=True)
    rp.add_argument("--table", default="blocks")
    rp.add_argument("--input", required=True,
                    help="the run's original input: parquet path or "
                         "synthetic:<rows>")
    rp.add_argument("--dry-run", action="store_true")
    rp.add_argument("--force", action="store_true",
                    help="skip the input-content fingerprint guard "
                         "(repairing from drifted input replaces data)")

    dl = sub.add_parser("delete",
                        help="suppress rows by key (tombstone sidecar + "
                             "metadata-only commit)")
    dl.add_argument("--warehouse", required=True)
    dl.add_argument("--table", default="blocks")
    dl.add_argument("--key", default="url",
                    help="column the key values match against; "
                         "comma-separate for a composite key (then "
                         "pass values via --keys-file)")
    dl.add_argument("--keys", default="",
                    help="comma-separated key values")
    dl.add_argument("--keys-file", default=None,
                    help="parquet of key values (large delete sets)")
    dl.add_argument("--where", default=None,
                    help="SQL predicate over the decoded rows — "
                         "tombstone every matching row's key "
                         "(content takedowns)")
    dl.add_argument("--key-col", default=None,
                    help="column to take from --keys-file")

    pg = sub.add_parser("purge",
                        help="physically rewrite the files containing "
                             "tombstoned keys and clear the tombstones")
    pg.add_argument("--warehouse", required=True)
    pg.add_argument("--table", default="blocks")
    pg.add_argument("--schema", required=True,
                    help="decode DDL of the table rows")

    up = sub.add_parser("upsert",
                        help="copy-on-write merge on the lineage key: "
                             "incoming rows replace same-key rows in one "
                             "atomic commit (bloom/range-pruned rewrite)")
    up.add_argument("--warehouse", required=True)
    up.add_argument("--table", default="blocks")
    up.add_argument("--input", required=True,
                    help="parquet of incoming rows (full row schema)")
    up.add_argument("--schema", required=True,
                    help="decode DDL of the table rows")
    up.add_argument("--readmit", action="store_true",
                    help="re-admit tombstoned incoming keys instead of "
                         "failing (rewrites the tombstone sidecars)")

    ch = sub.add_parser("changes",
                        help="manifest-only snapshot diff since a "
                             "snapshot id: new-data vs rewrite files, "
                             "removed files, tombstones added")
    ch.add_argument("--warehouse", required=True)
    ch.add_argument("--table", default="blocks")
    ch.add_argument("--since", required=True, type=int,
                    help="from-snapshot id (exclusive)")
    ch.add_argument("--to", default=None, type=int,
                    help="to-snapshot id (default: current)")

    rn = sub.add_parser("rename", help="rename a column (manifest name "
                                       "mapping; no data moves)")
    rn.add_argument("--warehouse", required=True)
    rn.add_argument("--table", default="blocks")
    rn.add_argument("--old", required=True)
    rn.add_argument("--new", required=True)
    rn.add_argument("--stage", default=None,
                    help="stage the rename on a ref instead of main")

    wd = sub.add_parser("widen", help="widen a column type (lossless "
                        "promotion; properties-only, no data moves)")
    wd.add_argument("--warehouse", required=True)
    wd.add_argument("--table", default="blocks")
    wd.add_argument("--col", required=True)
    wd.add_argument("--to", required=True,
                    help="target type, e.g. bigint / double / decimal(12,2)")
    wd.add_argument("--stage", default=None)

    tg = sub.add_parser("tag", help="pin a snapshot under an immutable "
                                    "name (survives gc until drop-ref)")
    tg.add_argument("--warehouse", required=True)
    tg.add_argument("--table", default="blocks")
    tg.add_argument("--name", required=True)
    tg.add_argument("--snapshot-id", type=int, default=None,
                    help="default: current main head")

    rf = sub.add_parser("refs", help="list named refs and main head")
    rf.add_argument("--warehouse", required=True)
    rf.add_argument("--table", default="blocks")

    pb = sub.add_parser("publish",
                        help="fast-forward main onto a staged ref "
                             "(write-audit-publish: encode --stage, "
                             "fsck --snapshot-id, then publish)")
    pb.add_argument("--warehouse", required=True)
    pb.add_argument("--table", default="blocks")
    pb.add_argument("--ref", required=True)
    pb.add_argument("--keep-ref", action="store_true")

    rb = sub.add_parser("rollback", help="move main back to an "
                                         "ancestor snapshot (bad-publish "
                                         "recovery; append-only history)")
    rb.add_argument("--warehouse", required=True)
    rb.add_argument("--table", default="blocks")
    rb.add_argument("--snapshot", type=int, required=True)

    dr = sub.add_parser("drop-ref", help="abandon a ref (gc reclaims "
                                         "what only it pinned)")
    dr.add_argument("--warehouse", required=True)
    dr.add_argument("--table", default="blocks")
    dr.add_argument("--ref", required=True)

    fo = sub.add_parser("follow",
                        help="one exactly-once incremental-consumer "
                             "poll: src appends -> optional filter -> "
                             "sink encode, cursor in the sink commit")
    fo.add_argument("--warehouse", required=True)
    fo.add_argument("--src-table", default="blocks")
    fo.add_argument("--sink-table", required=True)
    fo.add_argument("--schema", default=None,
                    help="decode DDL of the source rows (default: the "
                         "stored row_schema_ddl)")
    fo.add_argument("--consumer-id", default="follow")
    fo.add_argument("--propagate-deletes", action="store_true",
                    help="forward source takedowns (tombstones added "
                         "in the window) to the sink — GDPR-chained "
                         "replicas")
    fo.add_argument("--filter", default=None,
                    help="SQL boolean expression applied to the window")
    fo.add_argument("--profile", default="speed")
    fo.add_argument("--from-now", action="store_true",
                    help="first poll pins the cursor at the current "
                         "snapshot instead of copying the table's "
                         "history into the sink")

    args = p.parse_args(argv)
    {"schema": cmd_schema, "stream": cmd_stream,
     "analyze": cmd_analyze, "analyze-table": cmd_analyze_table,
     "gc": cmd_gc, "profile": cmd_profile,
     "history": cmd_history, "realign": cmd_realign,
     "compact-store": cmd_compact_store, "binpack": cmd_binpack, "bpe": cmd_bpe,
     "bloom-index": cmd_bloom_index, "fsck": cmd_fsck,
     "repair": cmd_repair, "delete": cmd_delete,
     "purge": cmd_purge, "upsert": cmd_upsert,
     "changes": cmd_changes, "follow": cmd_follow,
     "tag": cmd_tag, "refs": cmd_refs, "publish": cmd_publish,
     "rollback": cmd_rollback,
     "drop-ref": cmd_drop_ref, "rename": cmd_rename,
     "widen": cmd_widen}[args.cmd](args)


if __name__ == "__main__":
    main()
