"""Structured Streaming ingest into IceMini tables.

``stream_append`` turns any streaming DataFrame with the sequences
schema into per-microbatch IceMini commits via ``foreachBatch`` — each
epoch is one atomic snapshot (operation "stream-append" carrying the
epoch id in the summary), so a crashed stream resumes from the
checkpoint with exactly-once table semantics: Spark's checkpoint
replays an epoch only if its commit never landed, and the epoch id
recorded in the snapshot summary lets the sink skip an epoch that DID
land before the crash (the standard idempotent-foreachBatch pattern).

``windowed_counts`` is the watermark + event-time window aggregation
surface over the stream (late data handled by the watermark).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.quality_gate import gate_entries
from ..sources.icemini import IceMiniTable


class IceMiniStreamSink:
    """foreachBatch sink with O(1) per-batch epoch bookkeeping.

    The epoch id is committed ATOMICALLY inside the snapshot summary
    (``commit(summary_extra=...)``) — no post-commit rewrite, so a crash
    can never leave a committed-but-untagged snapshot that would replay
    as a duplicate. Committed epochs are scanned from table metadata
    ONCE per sink lifetime (on the first batch) and tracked in memory
    after that — per-batch cost is a set lookup, flat over the stream's
    lifetime instead of O(#snapshots) per micro-batch."""

    def __init__(
        self,
        table: IceMiniTable,
        target_file_rows: int | None = None,
        quality_gate: bool = False,
        gate_thresholds: dict[str, Any] | None = None,
        merge_schema: bool = False,
    ):
        self.table = table
        self.target_file_rows = target_file_rows
        self.quality_gate = quality_gate
        self.gate_thresholds = gate_thresholds
        self.merge_schema = merge_schema
        self._epochs: set[int] | None = None  # lazily built, then cached

    def _gate(self, entries):
        """Split one micro-batch's freshly written (uncommitted) files
        through the per-file quality gate — the north-star "gates run
        inside each pass" contract extended to ingest: a failing file
        never becomes live, it is recorded in the commit's quarantine
        metadata instead (the same gate as compaction's)."""
        if not self.quality_gate or not entries:
            return entries, []
        quarantine = gate_entries(self.table, entries, self.gate_thresholds)
        bad = {q["path"] for q in quarantine}
        return [e for e in entries if e.path not in bad], quarantine

    def _committed_epochs(self) -> set[int]:
        return {
            s.summary["epoch_id"]
            for s in self.table.snapshots()
            if "epoch_id" in s.summary
        }

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self._epochs is None:
            # one metadata scan per (re)started stream — a restart after
            # a crash rebuilds the set and sees every landed epoch
            self._epochs = self._committed_epochs()
        if epoch_id in self._epochs:
            return  # replayed epoch whose commit already landed
        # a stream started before an add-column evolution keeps working:
        # evolved nullable columns the stream doesn't carry are
        # null-filled (and stale extra columns projected away —
        # unless merge_schema, which evolves the table to carry them)
        if self.merge_schema:
            self.table.evolve_to_include(batch_df)
        df = self.table.align_to_schema(batch_df)
        if self.target_file_rows:
            n = df.count()
            if n == 0:
                return
            df = df.repartition(max(1, -(-n // self.target_file_rows)))
        entries = self.table.write_data_files(df)
        entries, quarantine = self._gate(entries)
        self.table.commit(
            "stream-append",
            added=entries,
            quarantine=quarantine,
            summary_extra={"epoch_id": epoch_id},
        )
        self._epochs.add(epoch_id)


def stream_append(
    stream_df: DataFrame,
    table: IceMiniTable,
    checkpoint_dir: str,
    target_file_rows: int | None = None,
    trigger_available_now: bool = True,
    quality_gate: bool = False,
    gate_thresholds: dict[str, Any] | None = None,
):
    """Start (or run to completion with availableNow) a stream writing
    into an IceMini table. With ``quality_gate=True`` each micro-batch's
    files pass the per-file gate; failures are quarantined, not
    published. Returns the StreamingQuery."""
    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            IceMiniStreamSink(
                table, target_file_rows, quality_gate, gate_thresholds
            )
        )
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Event-time windowed counts with a watermark for late data —
    the Structured-Streaming-native aggregation surface."""
    g = [F.window(F.col(ts_col), window_duration).alias("window")] + [
        F.col(c) for c in (group_cols or [])
    ]
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*g)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


class IceMiniUpsertSink(IceMiniStreamSink):
    """Streaming MERGE-ON-READ upsert sink — the Flink-on-Iceberg CDC
    writer shape. Each micro-batch is deduplicated on the key and
    written by ONE writer job (``IceMiniTable.write_upsert_files``):
    every data file holding the batch's rows gets a paired
    equality-delete file holding exactly its keys. Both land in ONE
    atomic commit: O(batch) bytes per epoch, no discovery scan, no
    target rewrite, no cached or re-read batch — which is what makes a
    continuous upsert stream against a 10^5-file table sustainable.
    With ``quality_gate=True`` a quarantined data file drops its paired
    delete file, so its keys' old rows stay live.
    Matched older rows are suppressed at scan time by sequence number
    (``IceMiniTable._read_with_deletes``); the next clustering rewrite
    sheds them physically, and ``compact_delete_files`` consolidates
    the delete backlog the stream accretes.

    Exactly-once exactly as the append sink: the epoch id is committed
    atomically inside the snapshot summary, so a replayed epoch whose
    commit landed is skipped, and within a lifetime epochs are a set
    lookup. Within-batch duplicate keys are collapsed to one arbitrary
    winner (``dropDuplicates``) — upstream CDC streams should order or
    pre-reduce per key if last-event-wins matters inside one batch;
    ACROSS batches the later epoch's commit always wins (higher seq)."""

    def __init__(
        self,
        table: IceMiniTable,
        key: str = "doc_id",
        target_file_rows: int | None = None,
        quality_gate: bool = False,
        gate_thresholds: dict[str, Any] | None = None,
    ):
        if key != "doc_id":
            raise ValueError(
                "merge-on-read upsert requires key='doc_id' (equality-"
                "delete files and their scan-time anti-join are "
                "doc_id-keyed)"
            )
        super().__init__(table, target_file_rows, quality_gate, gate_thresholds)
        self.key = key

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self._epochs is None:
            self._epochs = self._committed_epochs()
        if epoch_id in self._epochs:
            return
        df = self.table.align_to_schema(batch_df).dropDuplicates([self.key])
        if self.target_file_rows:
            # explicit file sizing needs the row count; without it the
            # dedup shuffle's (AQE-coalesced) partitions are the files
            n = df.count()
            if n == 0:
                return
            df = df.repartition(max(1, -(-n // self.target_file_rows)))
        data_entries, del_entries = self.table.write_upsert_files(df)
        clean, quarantine = self._gate(data_entries)
        if not data_entries:
            return  # empty batch
        # a quarantined file's paired delete file is dropped with it:
        # deleting its keys' old rows would lose data (old row
        # suppressed, replacement never published). A batch quarantined
        # as a whole still commits, to publish its verdicts.
        keep = {e.path for e in clean}
        self.table.commit(
            "stream-upsert",
            added=clean,
            added_deletes=[
                d for e, d in zip(data_entries, del_entries) if e.path in keep
            ],
            quarantine=quarantine,
            summary_extra={"epoch_id": epoch_id},
        )
        self._epochs.add(epoch_id)


def stream_upsert(
    stream_df: DataFrame,
    table: IceMiniTable,
    checkpoint_dir: str,
    key: str = "doc_id",
    target_file_rows: int | None = None,
    trigger_available_now: bool = True,
    quality_gate: bool = False,
    gate_thresholds: dict[str, Any] | None = None,
):
    """Start (or run to completion with availableNow) a streaming
    merge-on-read upsert into an IceMini table: every micro-batch
    REPLACES existing rows sharing its keys and inserts the rest, in
    one O(batch)-bytes commit. With ``quality_gate=True`` failing files
    are quarantined and their keys' old rows stay live. Returns the
    StreamingQuery."""
    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            IceMiniUpsertSink(
                table, key, target_file_rows, quality_gate, gate_thresholds
            )
        )
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
