"""Z-order / Hilbert clustering rewrite (north_star M4).

Reads the live snapshot, computes the space-filling-curve key
(functions/spacecurves.py — a Catalyst expression for Z-order, an Arrow
UDF for Hilbert), assigns each row a range bucket from pre-sampled key
quantiles, hash-exchanges on the bucket id and sorts within
partitions; the fanout writer
(IceMiniTable.write_data_files split_col) cuts one file per bucket.
Output files are range-ordered on the curve key with tight per-file
(source, n_tok, doc_id) min/max stats, which is exactly what
manifest-level pruning (IceMiniTable.prune_entries) needs.

Each shard runs ONE light planning job, then ONE heavy pass. The
planning job scans only ``doc_id``, ``n_tok`` and ``source`` of the
shard's raw input files, grouped by ``input_file_name()``: per file it
computes the quality gate's aggregates (``plans/quality_gate.file_gate``,
when gated) and collects a hash-sampled list of curve keys: Z-order keys
from the same expression the heavy pass evaluates
(``spacecurves.with_cluster_key``); for Hilbert the three JVM-computed
curve inputs, which the driver keys with the numpy kernel its Arrow
UDF runs (``spacecurves.curve_key``). The driver turns the rows into
gate verdicts, drops the samples of quarantined files and takes the
bucket bounds as quantiles of the surviving samples' keys — no Python
UDF and no second scan before the heavy pass.

Why not ``repartitionByRange`` directly: Spark's range exchange runs a
separate sampling job over the FULL child plan — here that means
decoding every token array and evaluating the curve key over all rows
twice. Bucket sizes stay balanced because bounds come from quantiles of
the key itself (skew-resistant by construction), and AQE is free to
coalesce the hash exchange into fewer, fuller write tasks without
changing the file count.

Scale & resumability: the rewrite is planned into independent SHARDS —
input files are bin-packed (in curve-key-range order, so shards track
the key space once the table is partially clustered) into groups of at
most ``max_shard_rows`` rows, and every shard is its own lineage task
with its own snapshot commit. A crash at shard k of n resumes at k
(done shards are skipped — SURVEY §5.2(3): no partition processed
twice), and at 10^12 rows no single commit carries the whole table.
This is Iceberg's RewriteDataFiles file-group model: each shard's
output is internally range-ordered; cross-shard key ranges may overlap
(pruning stays correct — min/max stats are exact per file — and
repeated rewrites converge toward disjoint ranges).
"""

from __future__ import annotations

import uuid
from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.spacecurves import (
    curve_inputs,
    curve_key,
    with_cluster_bucket,
    with_cluster_key,
)
from ..plans.quality_gate import file_gate
from ..sources.icemini import FileEntry, IceMiniTable, local_path
from .lineage import JobLog, run_job

# ~500 sampled keys per output file bound the bucket-size error well
# below the parquet row-group size
_SAMPLE_ROWS_PER_FILE = 500
_SAMPLE_BITS = 20


def _sampled(frac: float) -> Column:
    """Deterministic ~``frac`` row sample: ``pmod(xxhash64(doc_id, 42),
    2^20) < frac·2^20``. The seed decorrelates it from the curve key's
    own doc_id hash, so the sample is not skewed along that dimension."""
    return F.pmod(F.xxhash64(F.col("doc_id"), F.lit(42)), F.lit(1 << _SAMPLE_BITS)) < F.lit(
        int(frac * (1 << _SAMPLE_BITS))
    )


def _plan_shard(
    table: IceMiniTable,
    entries: list[FileEntry],
    method: str,
    num_files: int,
    quality_gate: bool,
    gate_thresholds: dict[str, Any] | None,
) -> tuple[list[dict[str, Any]], list[int]]:
    """The shard's planning job: (quarantine records, bucket bounds).

    ONE grouped aggregation over the light columns of the RAW input
    files (merge-on-read deletes are not applied — the gate judges
    files as written, and a few deleted rows in the key sample do not
    move the bounds). Per file it computes the gate aggregates (when
    ``quality_gate``) and collects the curve keys (Hilbert: the curve
    inputs) of a hash-sampled ~``_SAMPLE_ROWS_PER_FILE`` rows per
    output file (the whole shard when it is that small). Bounds are
    the ``num_files``-quantiles of the clean files' sampled keys; no
    job runs when there is neither a gate nor more than one bucket."""
    if not (quality_gate or num_files > 1):
        return [], []
    df = table.read_parquet(table.schema(), [e.path for e in entries]).select(
        "doc_id", "n_tok", "source", F.input_file_name().alias("__file")
    )
    aggs, judge = (
        file_gate(table, entries, df, gate_thresholds) if quality_gate else ([], lambda rows: [])
    )
    if num_files > 1:
        total = sum(e.rows for e in entries)
        frac = _SAMPLE_ROWS_PER_FILE * num_files / max(total, 1)
        if method == "zorder":
            df = with_cluster_key(df)
            sample = F.col("__cluster_key")
        else:
            sample = F.struct(*curve_inputs())
        # collect_list skips the nulls of unsampled rows
        aggs.append(
            F.collect_list(sample if frac >= 1 else F.when(_sampled(frac), sample)).alias("__sample")
        )
    rows = df.groupBy("__file").agg(*aggs).collect()

    quarantine = judge(rows)
    bounds: list[int] = []
    if num_files > 1:
        bad = {table._abs(q["path"]) for q in quarantine}
        sample = [d for r in rows if local_path(r["__file"]) not in bad for d in r["__sample"]]
        if sample:
            keys = np.array(sample, dtype=np.int64)
            if method != "zorder":
                keys = curve_key(method, *keys.reshape(-1, 3).T)
            qs = [i / num_files for i in range(1, num_files)]
            bounds = sorted({int(b) for b in np.quantile(keys, qs)})
    return quarantine, bounds


def _cluster_and_bucket(df: DataFrame, bounds: list[int], method: str) -> DataFrame:
    """Add the curve key and range-bucket id (by ``bounds``) to ``df``
    and return it hash-partitioned on the ``__pid`` bucket column and
    sorted by (``__pid``, key) within partitions — ready for the fanout
    writer (``write_data_files(..., split_col="__pid")``)."""
    # the bucket id is a binary search over the shard's bounds; for
    # Z-order the key is a JVM expression too, so the pass runs no
    # Python
    keyed = with_cluster_bucket(df, bounds, method=method)
    return (
        keyed.repartition("__pid")
        .sortWithinPartitions("__pid", "__cluster_key")
        .drop("__cluster_key")
    )


def _plan_shards(
    entries: list[FileEntry],
    target_rows_per_file: int,
    max_shard_rows: int,
    method: str,
) -> list[dict[str, Any]]:
    """Bin-pack live files into rewrite shards of ≤ ``max_shard_rows``
    rows each (≥1 file per shard). Files are ordered by their min
    (source, n_tok, doc_id) stats so shards follow the curve-key space
    on a partially clustered table — repeated rewrites converge toward
    globally disjoint per-shard key ranges."""
    ordered = sorted(
        entries,
        key=lambda e: (
            e.min_source or "",
            e.min_n_tok if e.min_n_tok is not None else -1,
            e.min_doc_id or "",
            e.path,
        ),
    )
    shards: list[list[FileEntry]] = []
    cur: list[FileEntry] = []
    cur_rows = 0
    for e in ordered:
        if cur and cur_rows + e.rows > max_shard_rows:
            shards.append(cur)
            cur, cur_rows = [], 0
        cur.append(e)
        cur_rows += e.rows
    if cur:
        shards.append(cur)
    return [
        {
            "task_id": f"shard-{i:05d}",
            "input_files": [e.path for e in shard],
            "num_files": max(
                1, -(-sum(e.rows for e in shard) // target_rows_per_file)
            ),
            "method": method,
        }
        for i, shard in enumerate(shards)
    ]


def rewrite_sorted(
    table: IceMiniTable,
    method: str = "zorder",
    target_rows_per_file: int = 250_000,
    job_id: str | None = None,
    quality_gate: bool = False,
    gate_thresholds: dict[str, Any] | None = None,
    max_shard_rows: int | None = None,
    max_concurrent_shards: int = 4,
) -> dict[str, Any]:
    """Fused bin-packing compaction + space-curve clustering — ONE data
    pass over the live snapshot (the same shape as Iceberg's
    RewriteDataFiles with a sort strategy: small files are packed AND
    every output file is curve-ordered in a single rewrite).

    Running ``compact_table`` then ``cluster_table`` reads and writes the
    full table twice; at 10^12 rows the second rewrite doubles the
    dominant cost (shuffle + parquet encode + disk). This fusion keeps
    both operators' semantics — output files are ~target-sized (the
    packing) and range-ordered on the (source, n_tok, doc_id) curve key
    with tight per-file min/max stats (the clustering) — for one heavy
    read, one range exchange, one sorted write per shard.

    Before the heavy pass each shard runs ONE planning job over the
    light columns of its inputs (``_plan_shard``): it yields the range
    bucket bounds from a hash sample of curve keys and, with
    ``quality_gate=True``, the per-file gate verdicts — the same gate
    (``plans/quality_gate.file_gate``) as compaction's ``gate_batch``. Failing
    files are quarantined out of the rewrite and the live set, and
    their rows do not count toward the bounds.

    Resumable per SHARD: the plan bin-packs input files into groups of
    ≤ ``max_shard_rows`` rows (default 64 output files' worth); each
    shard commits independently, so a crash at shard k of n redoes only
    shard k — not the table (tests/test_maintenance.py crash-resume).

    ``max_concurrent_shards`` shards run at once (Iceberg
    RewriteDataFiles' max-concurrent-file-group-rewrites): each shard's
    serial barriers — planning job, write tail, commit — overlap
    other shards' compute instead of idling the cluster. Set 1 for
    strictly ordered execution (deterministic crash-ordering tests).
    """
    job_id = job_id or f"rewrite-{uuid.uuid4().hex[:12]}"
    max_shard_rows = max_shard_rows or 64 * target_rows_per_file

    def plan() -> list[dict[str, Any]]:
        return _plan_shards(
            table.live_entries(), target_rows_per_file, max_shard_rows, method
        )

    def execute(task: dict[str, Any], read_v: int) -> dict[str, Any]:
        """Per-shard planning job (gate + bucket bounds) → cluster+sort
        → fanout write. The heavy read is
        pinned at ``read_v``: the rewrite applies the deletes live there
        and emits fresh-seq outputs, so the commit must abort if a newer
        applicable delete lands in between (otherwise the outputs would
        resurrect its rows) — commit()'s no_new_deletes_since (Iceberg
        validateNoNewDeleteFiles)."""
        inputs = task["input_files"]
        curve = task.get("method", method)
        by_path = {e.path: e for e in table.live_entries(read_v)}
        live_inputs = [by_path[p] for p in inputs if p in by_path]
        quarantine: list[dict[str, Any]] = []
        bounds: list[int] = []
        if live_inputs:
            quarantine, bounds = _plan_shard(
                table, live_inputs, curve, task["num_files"], quality_gate, gate_thresholds
            )
            bad = {q["path"] for q in quarantine}
            live_inputs = [e for e in live_inputs if e.path not in bad]

        new_entries: list[FileEntry] = []
        if live_inputs:
            # pending MoR deletes are applied here (outputs take a fresh
            # seq, so the rewrite physically sheds them; the last
            # shard's commit then drops the dangling delete files —
            # metadata-only)
            df = table.read_files([e.path for e in live_inputs], version=read_v)
            new_entries = table.write_data_files(
                _cluster_and_bucket(df, bounds, curve),
                split_col="__pid",
            )
        return {
            "added": new_entries,
            "removed_paths": inputs,
            "quarantine": quarantine,
            "no_new_deletes_since": read_v,
            "rows": sum(e.rows for e in new_entries),
            "tokens": sum(e.token_count for e in new_entries),
        }

    out = run_job(
        table, JobLog(table.root, job_id), "rewrite-sorted", plan, execute,
        max_concurrent_shards,
    )
    ran = [rec for _, rec in out if not rec["skipped"]]
    return {
        "job_id": job_id,
        "tasks": len(ran),
        "skipped": len(out) - len(ran),
        "new_files": sum(len(rec["output_files"]) for rec in ran),
        "quarantined_files": sum(len(rec["quarantined"]) for rec in ran),
    }


def cluster_table(
    table: IceMiniTable,
    method: str = "zorder",
    target_rows_per_file: int = 250_000,
    job_id: str | None = None,
    max_shard_rows: int | None = None,
    max_concurrent_shards: int = 4,
) -> dict[str, Any]:
    """Space-curve clustering rewrite (no gate): ``rewrite_sorted`` with
    ``quality_gate=False`` — the same sharded, per-shard-resumable,
    concurrency-bounded job."""
    return rewrite_sorted(
        table,
        method=method,
        target_rows_per_file=target_rows_per_file,
        job_id=job_id or f"cluster-{uuid.uuid4().hex[:12]}",
        max_shard_rows=max_shard_rows,
        max_concurrent_shards=max_concurrent_shards,
    )
