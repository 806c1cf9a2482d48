"""Structured Streaming WRITE into an encoded ManifestTable.

The read half of the streaming story is the ``eel`` DataSource
(sources/eel_datasource.py: snapshot-id offsets in Spark's checkpoint);
this is the write half: ``write_stream_to_table`` attaches any
streaming DataFrame to a warehouse table through ``foreachBatch``,
with EXACTLY-ONCE semantics across crash/restart:

- Spark's streaming checkpoint replays an unacknowledged micro-batch
  with the SAME batch_id and the SAME data (the contract foreachBatch
  sinks build on — Delta's and Iceberg's streaming sinks do exactly
  this batch-id dedup);
- each batch commits under a run_id derived from (query_name,
  batch_id), and a replayed batch whose run_id already sits in the
  runs lineage is skipped before any work — the encode never re-runs,
  the commit never doubles.

The sink table is FIRST-CLASS: batches land through
``encode_with_checkpoint`` (bootstrap) / ``append_encode`` (increments),
so run records, stored row schema, manifest prune metadata, and CDC
classification all accrue — a downstream consumer can follow the sink
with ``readStream.format("eel")`` or ``follow_once`` immediately.
Together with the DataSource this closes the loop: warehouse ->
readStream -> transform -> write_stream_to_table -> warehouse, all
exactly-once, all increment-bounded.

Why foreachBatch and not a DataSourceStreamWriter: the encode is a
DataFrame plan, not a per-row function. ``encode_df`` adds the part id,
moves rows to their part (the part-aligned exchange, or per-task bands)
and groups them into blocks before the kernels run. A
DataSourceStreamWriter's ``write`` gets one input partition's rows in a
Python worker, split as the upstream query left them, and can neither
run that plan nor move rows between tasks. foreachBatch hands the
driver each micro-batch as a DataFrame, so ``append_encode`` runs on it
unchanged: one write job, a driver-side run record, one commit.
Reference analogue: the reference's sinks are at-least-once batch
publishers (eel-core/src/main/scala/io/eels/component/hive/
HiveSink.scala); this is the exactly-once streaming upgrade of the same
surface.
"""

from __future__ import annotations

from ..table import ManifestTable

__all__ = ["write_stream_to_table", "sink_batch"]


def sink_batch(spark, batch_df, batch_id: int, tbl: ManifestTable,
               query_name: str = "eel-sink", key: str | None = None,
               n_parts: int | None = None, profile: str = "speed",
               transform=None) -> dict:
    """Commit ONE micro-batch exactly-once (the foreachBatch body,
    exposed for direct testing). Returns the run record, or
    ``{"skipped": run_id}`` for a replayed batch."""
    from ..checkpoint import append_encode, encode_with_checkpoint

    run_id = f"stream-{query_name}-{batch_id}"
    head = tbl.current()
    if head is not None and any(
            r.get("run_id") == run_id
            for r in head.properties.get("runs", [])):
        return {"skipped": run_id}  # crash-replayed batch: already in
    if transform is not None:
        batch_df = transform(batch_df)
    if head is None:
        return encode_with_checkpoint(spark, batch_df, tbl, key=key,
                                      n_parts=n_parts, run_id=run_id,
                                      profile=profile)
    return append_encode(spark, batch_df, tbl, run_id=run_id, key=key,
                         n_parts=n_parts, profile=profile)


def write_stream_to_table(sdf, tbl: ManifestTable,
                          checkpoint_dir: str,
                          query_name: str = "eel-sink",
                          key: str | None = None,
                          n_parts: int | None = None,
                          profile: str = "speed",
                          transform=None,
                          trigger: dict | None = None):
    """Start a streaming query that encodes every micro-batch into
    ``tbl``. ``trigger`` kwargs pass through to ``.trigger(...)``
    (default ``availableNow=True`` — drain-and-stop; pass
    ``{"processingTime": "10 seconds"}`` for a resident consumer).
    ``transform(df) -> df`` runs inside the batch, before the encode."""
    spark = sdf.sparkSession

    def body(batch_df, batch_id):
        sink_batch(spark, batch_df, batch_id, tbl,
                   query_name=query_name, key=key, n_parts=n_parts,
                   profile=profile, transform=transform)

    return (sdf.writeStream.foreachBatch(body)
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger or {"availableNow": True}))
            .start())
