"""Exactly-once incremental follower over encoded ManifestTables.

``follow_once`` turns the CDC surface (``ManifestTable.changes_between``
/ ``read_appended``) into a resumable materialized pipeline: each call
decodes ONLY the rows appended to the source since the consumer's
cursor, applies an optional transform, encodes the result into the sink
table, and advances the cursor — all in ONE atomic sink commit. The
cursor lives IN the sink's snapshot properties (``cdc.<consumer_id>``),
Kafka-Connect's offsets-in-destination pattern: output rows and the
offset that produced them commit together, so a crash at ANY point
either replays a window that never landed (no rows lost) or no-ops on a
window that did (no rows duplicated). The reference's streaming story
stops at at-least-once file watching (eel-core/.../HdfsWatcher.scala);
this is the idempotent incremental consumer a 10^12-doc crawl pipeline
actually schedules.

Scale notes: the per-poll work is bounded by the INCREMENT, never the
table — ``read_appended`` decodes only in-window files, and maintenance
(purge/upsert/compact) between polls re-emits nothing because rewrite
files are excluded by lineage classification, not by re-reading data.
A rival follower sharing the consumer id is detected by the commit-time
``expect_properties`` CAS (the loser raises :class:`CommitConflict`
and publishes nothing; its staged files are orphans for gc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..table import ManifestTable

__all__ = ["follow_once"]


def follow_once(spark, src: ManifestTable, sink: ManifestTable,
                schema_ddl: str | None = None,
                consumer_id: str = "follow",
                transform=None, key: str | None = None,
                n_parts: int | None = None, profile: str = "speed",
                include_rewrites: bool = False,
                bootstrap: str = "full",
                propagate_deletes: bool = False) -> dict:
    """One poll of the follower: process rows appended to ``src`` since
    this consumer's cursor into ``sink``, exactly once.

    First call (no ``cdc.<consumer_id>`` property on the sink)
    bootstraps per ``bootstrap``: ``"full"`` processes the entire
    current source table; ``"from_now"`` just pins the cursor at the
    current snapshot with a properties-only commit and emits nothing —
    the right first call on a 100 TB table whose history the consumer
    doesn't need (a full bootstrap there is a table copy). Subsequent
    calls use ``src.read_appended`` from the stored cursor. An
    increment that transforms to zero rows still advances the cursor
    with a properties-only commit (so a filter-everything window is
    not re-decoded forever). ``key``/``n_parts`` default to the
    source's encode lineage, like ``deletes.upsert_rows``.

    ``propagate_deletes=True`` additionally forwards the source
    tombstones ADDED in the window to the sink (metadata-only
    ``delete_rows`` per key spec), so a takedown chains through the
    replica instead of surviving in rows the follower already emitted
    — turn it on for GDPR-chained replicas. Deletes apply BEFORE the
    cursor commit: a crash between them replays them on the next poll
    (tombstones are idempotent for reads), never loses one. Default
    off for compatibility with transform-sinks whose rows no longer
    carry the source key.
    """
    if bootstrap not in ("full", "from_now"):
        raise ValueError(f"bootstrap must be 'full' or 'from_now', "
                         f"got {bootstrap!r}")
    cur_src = src.current()
    if cur_src is None:
        return {"rows": 0, "cursor_from": None, "cursor_to": None,
                "bootstrap": False}
    if schema_ddl is None:
        schema_ddl = src.row_schema(cur_src)
    target = cur_src.snapshot_id

    sink_snap = sink.current()
    sink_props = sink_snap.properties if sink_snap else {}
    prop = f"cdc.{consumer_id}"
    cursor = sink_props.get(prop)
    cursor = int(cursor) if cursor is not None else None
    if cursor is not None and target <= cursor:
        return {"rows": 0, "cursor_from": cursor, "cursor_to": cursor,
                "bootstrap": False}

    src_lin = cur_src.lineage() or {}
    lin = {"key": key or src_lin.get("key", "url"),
           "n_parts": n_parts or src_lin.get("n_parts", 8),
           "salt": 1, "salt_by": None}

    is_bootstrap = cursor is None
    if is_bootstrap and bootstrap == "from_now":
        sink.commit([], "", {prop: target}, mode="append",
                    expect_properties={prop: sink_props.get(prop)})
        return {"rows": 0, "cursor_from": None, "cursor_to": target,
                "bootstrap": True}
    n_deletes = 0
    if is_bootstrap:
        df = src.read_decoded(spark, schema_ddl, snapshot_id=target)
    else:
        if propagate_deletes:
            # forward the window's takedowns FIRST: a crash after this
            # but before the cursor commit replays them (idempotent),
            # the reverse order could lose one. Bootstrap reads already
            # exclude deleted rows, so only increments forward.
            from ..deletes import _entry_key, delete_rows

            ch = src.changes_between(cursor, target)
            for e in ch["tombstones_added"]:
                kdf = spark.read.parquet(*e["files"])
                out = delete_rows(spark, sink, kdf, key=_entry_key(e))
                n_deletes += out["deleted_keys"]
        df = src.read_appended(spark, schema_ddl, cursor,
                               include_rewrites=include_rewrites)
    if transform is not None:
        df = transform(df)
        if not isinstance(df, DataFrame):
            raise TypeError("follow_once: transform must return a "
                            "DataFrame")

    guard = {prop: sink_props.get(prop)}  # None == "must still be absent"
    df = df.cache()
    try:
        n_rows = df.count()
        if n_rows == 0:
            sink.commit([], "", {prop: target}, mode="append",
                        expect_properties=guard)
            return {"rows": 0, "cursor_from": cursor, "cursor_to": target,
                    "bootstrap": is_bootstrap, "deleted_keys": n_deletes}
        # the sink is a first-class encoded table: commit a run record
        # (lineage for prune tiers, CDC classification, and chained
        # followers adopting key/n_parts) and the row schema (so
        # read_decoded(schema_ddl=None)/row_schema() work on the sink),
        # exactly as append_encode does. The cursor guard makes a rival
        # FOLLOWER's commit fail ours; a rival APPENDER's run record
        # stays, as the runs list is extended under the commit lock.
        from ..checkpoint import commit_run, write_run

        files, rec = write_run(df, sink, f"follow-{consumer_id}-{target}",
                               None, lin, profile=profile)
        commit_run(sink, files, rec, df, properties={prop: target},
                   expect_properties=guard)
    finally:
        df.unpersist()
    return {"rows": n_rows, "deleted_keys": n_deletes,
            "cursor_from": cursor, "cursor_to": target,
            "bootstrap": is_bootstrap}
