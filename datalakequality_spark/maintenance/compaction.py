"""Bin-packing compaction of small Parquet files (north_star M4).

Planning is manifest-level (driver, O(#files) — the same cost class as
Iceberg's RewriteDataFiles planning): files smaller than
``small_file_bytes`` are packed first-fit-decreasing into bins of
``target_bytes``; files already ≥ the threshold are left untouched, so a
steady-state table converges and compaction is incremental.

Execution is one SINGLE-TASK Spark job per bin (``rewrite_bins``),
submitted concurrently from a thread pool: ``coalesce(1)`` over the
bin's member files into the table's streaming writer, so each bin
becomes exactly one output file with no shuffle. Batches (≤
``bins_per_batch`` bins) are the resumability unit: each batch is its
own snapshot commit + lineage record, so a killed job restarts from the
last committed batch (see maintenance/lineage.py).

Quality gates can run inside each batch pass (``gate_batch``): one
light grouped scan of the batch's input files runs the per-file gate
(``plans/quality_gate.file_gate``) before the rewrite, and failing
files are quarantined out of the commit.
"""

from __future__ import annotations

import os
import uuid
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.icemini import FileEntry, IceMiniTable, sidecar_probe_tasks
from .lineage import JobLog, run_job, run_tasks

# keys per delete file written by a subsumption-only delete compaction
DELETE_FILE_KEYS = 4_000_000


def plan_bins(
    entries: list[FileEntry],
    target_bytes: int,
    small_file_bytes: int | None = None,
    delete_entries: list[FileEntry] | None = None,
) -> list[list[FileEntry]]:
    """First-fit-decreasing packing of small files into ~target_bytes
    bins. Returns only bins worth rewriting (≥2 files, or 1 undersized
    file that fits nothing else).

    Files may only share a bin when the SAME pending equality deletes
    apply to them (``applicable_delete_paths``): the compacted file
    preserves the min member seq without applying deletes, so mixing a
    pre-delete file with a post-delete file would make the delete
    wrongly suppress the newer rows. Within a class the min seq is
    provably safe; the classes collapse to one once deletes are shed."""
    from ..sources.icemini import applicable_delete_paths

    small_file_bytes = small_file_bytes or int(target_bytes * 0.75)
    dels = delete_entries or []
    classes: dict[frozenset, list[FileEntry]] = {}
    for e in entries:
        if e.size_bytes < small_file_bytes:
            classes.setdefault(applicable_delete_paths(e, dels), []).append(e)
    out: list[list[FileEntry]] = []
    for members_cls in classes.values():
        small = sorted(members_cls, key=lambda e: e.size_bytes, reverse=True)
        bins: list[tuple[int, list[FileEntry]]] = []
        for e in small:
            for i, (used, members) in enumerate(bins):
                if used + e.size_bytes <= target_bytes:
                    bins[i] = (used + e.size_bytes, members + [e])
                    break
            else:
                bins.append((e.size_bytes, [e]))
        out.extend(members for _, members in bins if len(members) >= 2)
    return out


def rewrite_bins(
    table: IceMiniTable,
    bins: list[list[FileEntry]],
    max_concurrency: int | None = None,
) -> list[FileEntry]:
    """Rewrite each bin to exactly one file — one SINGLE-TASK Spark job
    per bin, submitted concurrently from a thread pool (the same shape
    as Iceberg's RewriteDataFiles file groups).

    No shuffle: a bin's rows only ever move from its member files into
    its one output file, so ``coalesce(1)`` over the member files into
    the streaming writer (``write_data_files``) is the whole plan —
    stats AND the key-Bloom sidecar are computed from the same Arrow
    stream the writer is already consuming, no extra pass. Concurrency
    = min(#bins, cores) single-task jobs keeps every core busy; on a
    multi-executor cluster raise ``max_concurrency`` to the cluster's
    total task slots.

    The output PRESERVES the members' minimum data sequence number
    (Iceberg RewriteDataFiles semantics): compaction carries rows 1:1
    without applying pending equality deletes — keeping the oldest seq
    means those deletes still apply to the compacted file at scan time,
    so no MoR-deleted row is ever resurrected by a pure bin-pack."""
    spark = table.spark
    prefix = uuid.uuid4().hex
    sc_cores = spark.sparkContext.defaultParallelism
    workers = max(1, min(len(bins), max_concurrency or sc_cores))

    def one(b: int, members: list[FileEntry]) -> FileEntry:
        # the table schema: evolved columns survive
        df = table.read_parquet(table.schema(), [e.path for e in members]).coalesce(1)
        [entry] = table.write_data_files(df, prefix=f"{prefix}-{b:05d}")
        entry.seq = min((e.seq or 0) for e in members)
        return entry

    return run_tasks(list(enumerate(bins)), lambda ib: one(*ib), workers)


def gate_batch(
    table: IceMiniTable, bins: list[list[FileEntry]], thresholds: dict[str, Any] | None
) -> tuple[list[list[FileEntry]], list[dict[str, Any]]]:
    """Run the per-file quality gate (``plans/quality_gate.file_gate``,
    ONE grouped aggregation) over one batch's input files and split out
    the quarantined files. Returns (clean bins, quarantine records)."""
    from ..plans.quality_gate import gate_entries

    records = gate_entries(table, [e for b in bins for e in b], thresholds)
    if not records:
        return bins, []
    bad = {r["path"] for r in records}
    clean_bins = [[e for e in b if e.path not in bad] for b in bins]
    return [b for b in clean_bins if b], records


def compact_table(
    table: IceMiniTable,
    target_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int | None = None,
    bins_per_batch: int = 64,
    job_id: str | None = None,
    quality_gate: bool = False,
    gate_thresholds: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Plan + execute + commit compaction, resumable via the job log.

    With ``quality_gate=True`` each batch first runs the per-file gate;
    failing files are excluded from the rewrite, dropped from the live
    set, and listed in the commit's quarantine metadata (north_star M5).
    """
    job_id = job_id or f"compact-{uuid.uuid4().hex[:12]}"

    def plan() -> list[dict[str, Any]]:
        bins = plan_bins(
            table.live_entries(),
            target_bytes,
            small_file_bytes,
            delete_entries=table.live_delete_entries(),
        )
        return [
            {
                "task_id": f"batch-{i // bins_per_batch:05d}",
                "bins": [[e.to_dict() for e in b] for b in bins[i : i + bins_per_batch]],
            }
            for i in range(0, len(bins), bins_per_batch)
        ]

    def execute(task: dict[str, Any], read_v: int) -> dict[str, Any]:
        bins = [[FileEntry.from_dict(d) for d in b] for b in task["bins"]]
        inputs = [e.path for b in bins for e in b]
        quarantine: list[dict[str, Any]] = []
        if quality_gate:
            bins, quarantine = gate_batch(table, bins, gate_thresholds)
        new_entries = rewrite_bins(table, bins) if bins else []
        # no no_new_deletes_since: outputs keep the inputs' min seq, so
        # pending and future deletes still apply to them
        return {
            "added": new_entries,
            "removed_paths": inputs,
            "quarantine": quarantine,
            "rows": sum(e.rows for e in new_entries),
            "tokens": sum(e.token_count for e in new_entries),
        }

    out = run_job(table, JobLog(table.root, job_id), "compact", plan, execute)
    ran = [rec for _, rec in out if not rec["skipped"]]
    return {
        "job_id": job_id,
        "batches": len(ran),
        "skipped": len(out) - len(ran),
        "rewritten_files": sum(len(rec["removed_files"]) for rec in ran),
        "new_files": sum(len(rec["output_files"]) for rec in ran),
        "quarantined_files": sum(len(rec["quarantined"]) for rec in ran),
    }


def compact_delete_files(
    table: IceMiniTable,
    job_id: str | None = None,
    min_files: int = 2,
    max_analysis_keys: int = 4_000_000,
) -> dict[str, Any]:
    """Consolidate the equality-delete backlog — the Iceberg
    ``rewrite_position_delete_files`` maintenance action re-expressed
    for equality deletes. Trickle merge-on-read upserts append one or
    more small delete files per commit; every scan's anti-join then
    builds its delete side from the whole backlog, so the broadcast
    grows with it until it no longer fits the threshold and the read
    shuffles. This action rewrites the backlog into the fewest delete
    files that preserve scan semantics EXACTLY, in three steps:

    1. **Subsumption** (always, fully distributed): a delete at seq S
       applies to data files with seq < S — monotone in S — so a key
       deleted at several seqs is kept only at its MAX seq. This alone
       collapses hot-key trickle upserts.
    2. **Dead-key drop** (under ``max_analysis_keys``): a key none of
       whose applicable data files (seq < S_k) can contain it — proven
       by the per-file Bloom sidecars (``sources/keybloom``) — deletes
       nothing and is dropped. Files without a sidecar are
       conservatively assumed to contain every key.
    3. **Seq-lift** (same probe): a key is safe to carry at the
       backlog's TOP seq T (instead of its own S_k) iff no live data
       file with seq in [S_k, T) can contain it — the lifted delete
       then applies to a superset of files, but the extra files
       provably lack the key. Lifted keys from ALL seqs merge into one
       file group, which is what turns a 1000-commit backlog into one
       file. Keys that fail the probe stay at their own seq
       (conservative, never wrong).

    Output files carry PRESET sequence numbers (never the commit's own
    fresh seq — that would make them apply to data appended after T,
    wrongly deleting re-inserted keys). Concurrency is safe without
    required-path validation: concurrent appends/merges take seqs > T
    (outside every output's applicability), concurrent rewrites emit
    fresh-seq outputs (ditto) and already applied the old deletes they
    read, and bin-pack compaction's applicable-delete-class constraint
    keeps every file's below/window classification stable (output seq =
    min of a same-class bin). Output groups that went dangling by
    commit time are auto-dropped by ``commit``'s dangling-delete shed.
    Two racing compactions at worst duplicate consolidated keys across
    two same-seq files — anti-join semantics are unchanged and the next
    compaction collapses them.

    Above ``max_analysis_keys`` the Bloom analysis (a driver-side key
    vector broadcast to one probe task per ``maxPartitionBytes`` of
    sidecars, ``icemini.sidecar_probe_tasks``) is skipped and
    subsumption-only consolidation runs: one output group per surviving
    distinct seq, all distributed, no driver key materialization. One
    evaluation of the backlog's keys both picks the path and collects
    the analysed keys (no separate count).

    Each output group is written by ``IceMiniTable.write_delete_files``
    (the table's one file writer), one file per partition of the
    group's keys: an analysed group (at most ``max_analysis_keys``
    driver-side keys) is one partition, so one file; a
    subsumption-only group is coalesced to one partition per
    ``DELETE_FILE_KEYS`` keys.

    Boundary (shared with Iceberg's equality deletes): an upsert key's
    delete can never lift past its own commit's data file — that file
    sits in the lift window and contains the key's NEW row, which the
    lifted delete would kill. So a trickle stream upserting DISJOINT
    keys consolidates by rows (subsumption/dead-drop) but keeps one
    file per epoch seq; cross-seq file-count consolidation for such
    backlogs requires position deletes (Iceberg converts equality →
    position deletes at minor compaction), out of scope here. HOT keys
    (re-upserted across epochs) DO collapse — the earlier epochs'
    groups empty out — and the clustering rewrite remains the full
    physical shed.

    Resumable under the same ``job_id``: one lineage task (plan →
    intent → tagged commit → done, ``lineage.run_job``)."""
    import numpy as np
    import pandas as pd

    from ..sources import keybloom as kb

    spark = table.spark
    job_id = job_id or f"compact-deletes-{uuid.uuid4().hex[:12]}"

    result: dict[str, Any] = {
        "job_id": job_id,
        "input_delete_files": 0,
        "output_delete_files": 0,
        "input_delete_rows": 0,
        "output_delete_rows": 0,
        "dead_keys_dropped": 0,
        "lifted_keys": 0,
        "kept_keys": 0,
        "skipped": 0,
        "analysis": "bloom",
    }

    def execute(task: dict[str, Any], read_v: int) -> dict[str, Any]:
        """Analyze the live backlog into ``result``; commit kwargs only
        when the rewrite is a win (nothing to commit otherwise)."""
        dels = table.live_delete_entries()
        if len(dels) < min_files:
            return {}
        result["input_delete_files"] = len(dels)
        result["input_delete_rows"] = sum(d.rows for d in dels)
        top_seq = max((d.seq or 0) for d in dels)

        # one scan of the backlog, each key with its file's seq
        # (``file_seq``: an expression, no joined file→seq relation);
        # subsumption: keep each key only at its max delete seq
        key_schema = "doc_id string"
        scan = table._key_scan(dels)
        keys = (
            scan.select("doc_id", table.file_seq(scan, dels).alias("sk"))
            .groupBy("doc_id")
            .agg(F.max("sk").alias("sk"))
        )

        # one evaluation decides the path and, under the cutoff,
        # collects the analysed keys: a collect of up to
        # max_analysis_keys + 1 keys is the whole set iff it holds at
        # most max_analysis_keys
        kp = (
            keys.limit(max_analysis_keys + 1)
            .select("doc_id", "sk", F.xxhash64("doc_id").alias("h"))
            .toPandas()
        )
        groups: list[tuple[int, DataFrame]] = []  # (preset_seq, keys)
        if len(kp) <= max_analysis_keys:
            h = kp["h"].to_numpy(dtype=np.int64)
            sk = kp["sk"].to_numpy(dtype=np.int64)
            bc = spark.sparkContext.broadcast((h, sk, int(top_seq)))
            root = table.root
            live = table.live_entries()

            def _probe(batches):
                hh, skk, top = bc.value
                below = np.zeros(len(hh), dtype=bool)
                window = np.zeros(len(hh), dtype=bool)
                for pdf in batches:
                    for bp, fseq in zip(pdf["bloom"], pdf["fseq"]):
                        words = kb.load(os.path.join(root, bp)) if bp else None
                        mask = (
                            kb.probe(words, hh)
                            if words is not None
                            else np.ones(len(hh), dtype=bool)
                        )
                        below |= mask & (fseq < skk)
                        window |= mask & (fseq >= skk) & (fseq < top)
                yield pd.DataFrame(
                    {
                        "below": [np.packbits(below).tobytes()],
                        "window": [np.packbits(window).tobytes()],
                    }
                )

            # one task per maxPartitionBytes of sidecar; coalesce keeps
            # a one-task probe a single narrow stage (no shuffle)
            parts = sidecar_probe_tasks(spark, live)
            files_df = spark.createDataFrame(
                [(e.key_bloom or "", int(e.seq or 0)) for e in live],
                "bloom string, fseq long",
            )
            files_df = files_df.coalesce(1) if parts == 1 else files_df.repartition(parts)
            below = np.zeros(len(h), dtype=bool)
            window = np.zeros(len(h), dtype=bool)
            for r in files_df.mapInPandas(
                _probe, "below binary, window binary"
            ).collect():
                below |= np.unpackbits(
                    np.frombuffer(r["below"], dtype=np.uint8), count=len(h)
                ).astype(bool)
                window |= np.unpackbits(
                    np.frombuffer(r["window"], dtype=np.uint8), count=len(h)
                ).astype(bool)
            bc.unpersist()

            dead = ~below
            lift = below & ~window
            keep = below & window
            result["dead_keys_dropped"] = int(dead.sum())
            result["lifted_keys"] = int(lift.sum())
            result["kept_keys"] = int(keep.sum())

            def _one_file(pdf) -> DataFrame:
                return spark.createDataFrame(pdf, schema=key_schema).coalesce(1)

            if lift.any():
                groups.append((top_seq, _one_file(kp.loc[lift, ["doc_id"]])))
            if keep.any():
                for s, sub in kp.loc[keep].groupby("sk"):
                    groups.append((int(s), _one_file(sub[["doc_id"]])))
        else:
            # subsumption-only: one group per surviving distinct seq,
            # ceil(keys / DELETE_FILE_KEYS) files each (the group sizes
            # come from the same job that lists the seqs)
            result["analysis"] = "subsumption-only"
            for row in keys.groupBy("sk").count().collect():
                s, n = int(row["sk"]), int(row["count"])
                result["kept_keys"] += n
                groups.append((
                    s,
                    keys.where(F.col("sk") == s)
                    .select("doc_id")
                    .coalesce(-(-n // DELETE_FILE_KEYS)),
                ))

        new_entries: list[FileEntry] = []
        for preset_seq, gdf in groups:
            entries = table.write_delete_files(gdf)
            for e in entries:
                e.seq = preset_seq  # PRESET — commit must not bump it
            new_entries.extend(entries)

        out_rows = sum(e.rows for e in new_entries)
        if len(new_entries) >= len(dels) and out_rows >= result["input_delete_rows"]:
            return {}  # no win — leave the backlog untouched
        result["output_delete_files"] = len(new_entries)
        result["output_delete_rows"] = out_rows
        return {
            "added_deletes": new_entries,
            "removed_delete_paths": [d.path for d in dels],
            "counts": {k: v for k, v in result.items() if k not in ("job_id", "skipped")},
        }

    [(_, rec)] = run_job(
        table, JobLog(table.root, job_id), "rewrite-deletes",
        lambda: [{"task_id": "rewrite-deletes"}], execute,
    )
    result.update(rec.get("counts", {}))
    # skipped: done before this run, or nothing worth committing
    result["skipped"] = int(rec["skipped"] or not rec["removed_files"])
    return result
