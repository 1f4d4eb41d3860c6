"""Streaming ingest into an OlapTable — the routine-load analogue:
each micro-batch becomes one published rowset (routed, sorted,
version-stamped), so streaming writes get the same MVCC snapshot
semantics as batch loads and are immediately visible to the collapse
view.

Delivery semantics: at-least-once by default; EXACTLY-ONCE with
``exactly_once=True`` — the sink records each batch's epoch id in the
SAME manifest save as the rowset publish (Manifest.publish(txn=...)),
so a foreachBatch replay after a crash finds the epoch already
committed and skips: the classic idempotent-sink txn-log pattern, with
the atomicity coming from the manifest's single CAS'd write.  (The
UNIQUE-key collapse remains a second, independent line of defense.)

The epoch contract is only valid WITHIN ONE CHECKPOINT LINEAGE per
``source_id``: Structured Streaming's batch ids are monotone per
checkpoint, so a fresh checkpoint restarts ids at 0 and every new
batch with id <= the table's committed epoch would be silently
dropped.  ``exactly_once=True`` therefore REQUIRES an explicit,
persistent ``checkpoint_dir`` — the default ephemeral tempdir is
rejected, because the crash-recovery scenario exactly-once exists for
is the one the tempdir cannot survive.

Scale notes: the per-batch write inherits the table's partition/bucket
routing (one shuffle per batch); rowset count grows with trigger rate —
pair with compact_cumulative on a schedule, exactly like the
reference's cumulative compaction loop.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame

from ..table import OlapTable


def stream_ingest(
    table: OlapTable,
    stream_df: DataFrame,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    exactly_once: bool = False,
    source_id: str = "stream_ingest",
    checks: list | None = None,
):
    """Start a streaming query that publishes each micro-batch as a
    rowset of ``table``.  Returns the StreamingQuery handle.

    ``checks`` (operators/audit expectation tuples) turns this into
    QUALITY-GATED ingest: each micro-batch stages PREPARED, is audited
    against its staged files, and commits — with the epoch recorded in
    the SAME manifest save when ``exactly_once`` — only on green.  A
    red batch is discarded and the batch FAILS (the stream halts):
    the epoch is never committed, so after the upstream fix the same
    batch redelivers — at-least-once for red data, exactly-once for
    green, and wrong data is never visible to any reader for any
    window.  (Routing red batches to a quarantine table instead is a
    caller policy: catch the error, read the discarded rowset's path
    from the report, continue.)"""
    if checkpoint_dir is None:
        if exactly_once:
            raise ValueError(
                "exactly_once=True requires an explicit persistent "
                "checkpoint_dir: batch ids are monotone only within one "
                "checkpoint lineage, so an ephemeral tempdir checkpoint "
                "restarts ids at 0 after a crash and batches with "
                "id <= the committed epoch would be silently dropped"
            )
        checkpoint_dir = tempfile.mkdtemp(prefix="olap_ingest_ckpt_")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        txn = (source_id, batch_id) if exactly_once else None
        if exactly_once:
            committed = table.manifest.committed_epoch(source_id)
            if committed is not None and batch_id <= committed:
                return  # replayed batch: already atomically published
        if checks:
            import os

            rs = table.write(batch_df, publish=False)
            staged = table.spark.read.option(
                "basePath", table.root
            ).parquet(os.path.join(table.root, rs.path))
            report = [(name, bool(fn(staged))) for name, fn in checks]
            if all(p for _, p in report):
                table.commit(rs.rowset_id, txn=txn)
                return
            table.manifest.with_retry(
                lambda m: m.mark_stale([rs.rowset_id], reason="discarded")
            )
            raise ValueError(
                f"{table.spec.name}: batch {batch_id} failed audit "
                f"{[n for n, p in report if not p]} — rowset "
                f"{rs.rowset_id} discarded, epoch not committed"
            )
        if txn is not None:
            table.write(batch_df, txn=txn)
            return
        table.write(batch_df)

    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
