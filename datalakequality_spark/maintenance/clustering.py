"""Z-order / Hilbert clustering rewrite (north_star M4).

Reads the live snapshot, computes the space-filling-curve key
(functions/spacecurves.py — one Arrow UDF), assigns each row a range
bucket from pre-sampled key quantiles, hash-exchanges on the bucket id
and sorts within partitions; the fanout writer
(IceMiniTable.write_data_files split_col) cuts one file per bucket.
Output files are range-ordered on the curve key with tight per-file
(source, n_tok, doc_id) min/max stats, which is exactly what
manifest-level pruning (IceMiniTable.prune_entries) needs.

Why not ``repartitionByRange`` directly: Spark's range exchange runs a
separate sampling job over the FULL child plan — here that means
decoding every token array and evaluating the curve UDF over all rows
twice. Sampling the three light key dims first (column pruning keeps
the tokens column untouched) and bucketing by the sampled quantile
bounds gets the same layout for one heavy pass plus one ~1% sample
pass. Bucket sizes stay balanced because bounds come from quantiles of
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.spacecurves import with_cluster_bucket, with_cluster_key
from ..sources.icemini import FileEntry, IceMiniTable, SEQUENCES_SCHEMA
from . import compaction
from .lineage import JobLog, run_job


def _cluster_and_bucket(
    spark,
    paths: list[str],
    method: str,
    num_files: int,
    total_rows: int,
    schema=None,
    df: DataFrame | None = None,
) -> DataFrame:
    """Add the curve key to ``df`` (or a raw read of ``paths``) and
    return a DataFrame hash-partitioned on a ``__pid`` range-bucket
    column and sorted by (``__pid``, key) within partitions — ready for
    the fanout writer (``write_data_files(..., split_col="__pid")``).

    Bucket bounds are ``num_files``-quantiles of the curve key over a
    seeded sample of the three key dims only (pruned scan: token arrays
    are never decoded in the sample pass).
    """
    if df is None:
        df = spark.read.schema(schema or SEQUENCES_SCHEMA).parquet(*paths)
    bounds: list[int] = []
    if num_files > 1:
        # ~500 sampled keys per bucket bounds the bucket-size error well
        # below the parquet row-group size; cap the sample at full scan
        frac = min(1.0, (num_files * 500) / max(total_rows, 1))
        dims = df.select("source", "n_tok", "doc_id").sample(frac, seed=42)
        skeys = with_cluster_key(dims, method=method)
        qs = [i / num_files for i in range(1, num_files)]
        raw = skeys.approxQuantile("__cluster_key", qs, 0.25 / num_files)
        bounds = sorted({int(b) for b in raw})
    # key + bucket id in ONE Arrow pass (np.searchsorted over the
    # closure-captured bounds — O(log #buckets)/row; a Column-expression
    # linear scan over the bounds array would be O(#buckets)/row, which
    # at 10^12 rows / ~400k output files is intractable)
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
    with tight per-file min/max stats (the clustering) — for one read,
    one range exchange, one sorted write per shard.

    With ``quality_gate=True`` the per-file gate runs over each shard's
    inputs first (same grouped aggregation as compaction's gate_batch)
    and failing files are quarantined out of the rewrite and the live
    set.

    Resumable per SHARD: the plan bin-packs input files into groups of
    ≤ ``max_shard_rows`` rows (default 64 output files' worth); each
    shard commits independently, so a crash at shard k of n redoes only
    shard k — not the table (tests/test_maintenance.py crash-resume).

    ``max_concurrent_shards`` shards run at once (Iceberg
    RewriteDataFiles' max-concurrent-file-group-rewrites): each shard's
    serial barriers — quantile sample job, write tail, commit — overlap
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
        """Per-shard gate → cluster+sort → fanout write. The read is
        pinned at ``read_v``: the rewrite applies the deletes live there
        and emits fresh-seq outputs, so the commit must abort if a newer
        applicable delete lands in between (otherwise the outputs would
        resurrect its rows) — commit()'s no_new_deletes_since (Iceberg
        validateNoNewDeleteFiles)."""
        inputs = task["input_files"]
        by_path = {e.path: e for e in table.live_entries(read_v)}
        live_inputs = [by_path[p] for p in inputs if p in by_path]
        quarantine: list[dict[str, Any]] = []
        if quality_gate and live_inputs:
            clean_bins, quarantine = compaction.gate_batch(
                table, [live_inputs], gate_thresholds
            )
            live_inputs = clean_bins[0] if clean_bins else []

        new_entries: list[FileEntry] = []
        if live_inputs:
            paths = [table._abs(e.path) for e in live_inputs]
            clustered = _cluster_and_bucket(
                table.spark,
                paths,
                task.get("method", method),
                task["num_files"],
                sum(e.rows for e in live_inputs),
                schema=table.schema(),  # evolved columns survive rewrites
                # pending MoR deletes are applied here (outputs take a
                # fresh seq, so the rewrite physically sheds them; the
                # last shard's commit then drops the dangling delete
                # files — metadata-only)
                df=table.read_files(
                    [e.path for e in live_inputs], version=read_v
                ),
            )
            new_entries = table.write_data_files(clustered, split_col="__pid")
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
