"""MERGE INTO — copy-on-write upsert keyed on doc_id (north_star M4).

Semantics (matching Iceberg's `MERGE INTO t USING s ON t.doc_id =
s.doc_id WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`):

1. Find *affected* target files — files containing at least one matched
   key — with one distributed join over ``input_file_name()``.
   Manifest-level pruning on per-file doc_id min/max runs first, so a
   clustered table touches only the overlapping key range.
2. Rewrite only those files: their rows anti-joined against source keys
   (rows that survive) unioned with the matched + inserted source rows.
3. Commit: remove affected files, add rewritten files. ``required_paths``
   = affected files ⇒ a concurrent commit that rewrote any of them
   aborts this merge with CommitConflict — Iceberg's conflict-detection
   behavior, exercised in tests/test_maintenance.py.

Partial progress at giant scale (``max_batch_files``): when the merge
touches more files than one commit should carry, the affected files are
grouped into commit batches, each with its own lineage intent/done
record and its own snapshot commit — a crash at batch k of n resumes at
k (re-submit with the same job_id and the same source). The per-key
batch assignment (each matched source key → the batch holding its
first matching file) is written ONCE to a parquet side-table under the
job's lineage dir, so resume never has to rescan already-rewritten
files; unmatched keys land in a final insert-only append. Batched and
single-commit modes produce identical final content.

Skew handling: the join key is doc_id (near-unique, no intrinsic skew),
but heavy ``source`` prefixes can skew the *file* distribution; AQE
skew-join splitting is enabled session-wide, and ``salt_partitions``
optionally pre-repartitions the source by a salted key for extreme
cases (SURVEY.md §4.2).
"""

from __future__ import annotations

import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import keybloom
from ..sources.icemini import FileEntry, IceMiniTable
from .lineage import JobLog, run_job


def broadcast_threshold_bytes(spark: SparkSession) -> int:
    """Session autoBroadcastJoinThreshold in bytes, via Spark's own
    parsers — handles ``10485760``, ``10m``, ``64MB`` and ``-1`` alike
    (a hand regex silently mis-parsed unusual forms; VERDICT r3)."""
    try:
        return int(
            spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        )
    except Exception:
        pass
    val = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "-1")).strip()
    try:
        return int(val)
    except ValueError:
        pass
    try:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(val)
        )
    except Exception:
        return -1


def _max_partition_bytes(spark: SparkSession) -> int:
    """Session ``spark.sql.files.maxPartitionBytes`` in bytes (the
    bytes one scan task reads), 128 MB if it cannot be read."""
    try:
        return int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
    except Exception:
        return 128 * 1024 * 1024


def _chunk(items: list, size: int) -> list[list]:
    return [items[i : i + size] for i in range(0, len(items), size)]


_FILE_NORM = "replace(replace(input_file_name(), 'file://', ''), 'file:', '')"


def _validate_clauses(
    matched: list[dict[str, Any]] | None,
) -> list[dict[str, Any]] | None:
    """Normalize/validate WHEN MATCHED clauses: ordered list of
    ``{"action": "update"|"delete", "condition": SQL|None,
    "set": {col: SQL}|None}``. Conditions and set expressions may
    reference the target as ``t.<col>`` and the source as ``s.<col>``
    and are evaluated against the PRE-merge row (standard SQL MERGE:
    all set expressions see the original values). ``set=None`` on an
    update means ``SET *`` (replace every column from the source)."""
    if matched is None:
        return None
    out = []
    for c in matched:
        action = c.get("action")
        if action not in ("update", "delete"):
            raise ValueError(f"matched clause action must be update|delete: {c!r}")
        if action == "delete" and c.get("set"):
            raise ValueError(f"a DELETE clause cannot carry set=: {c!r}")
        out.append(
            {
                "action": action,
                "condition": c.get("condition"),
                "set": dict(c["set"]) if c.get("set") else None,
            }
        )
    return out


def merge_into(
    table: IceMiniTable,
    source: DataFrame,
    key: str = "doc_id",
    salt_partitions: int | None = None,
    job_id: str | None = None,
    max_batch_files: int | None = 256,
    max_concurrent_batches: int = 4,
    matched: list[dict[str, Any]] | None = None,
    not_matched_condition: str | None = None,
    mode: str = "copy_on_write",
    merge_schema: bool = False,
) -> dict[str, Any]:
    """MERGE INTO with optional Iceberg-style conditional clauses.

    ``merge_schema=True`` (Iceberg's merge-schema write option): source
    columns the table lacks are first added to the table schema
    (nullable, metadata-only) so the batch lands with them populated;
    pre-existing rows read them as null. Default: unknown source
    columns are dropped by schema alignment.

    Default (``matched=None``): ``WHEN MATCHED THEN UPDATE SET * WHEN
    NOT MATCHED THEN INSERT *`` — the replace-row fast path. With
    ``matched=[...]`` (see ``_validate_clauses``), clauses are evaluated
    IN ORDER per matched target row; the first clause whose condition
    is TRUE fires (NULL conditions do not fire — SQL three-valued
    logic); a matched row firing no clause is carried unchanged.
    ``not_matched_condition`` filters which unmatched source rows are
    inserted (``s.<col>`` or bare columns). Affected-file discovery is
    clause-agnostic (any file holding a matched key is rewritten, even
    if no clause fires on its rows) — conservative, never wrong.

    ``mode="copy_on_write"`` (default): affected target files are
    rewritten — read-optimal, but a trickle upsert touching one row in
    each of 10^5 files rewrites 10^5 files.

    ``mode="merge_on_read"``: the Flink-on-Iceberg upsert shape — the
    source keys are written as EQUALITY-DELETE files (suppressing every
    older row of each key) and the source rows as new data files, in
    ONE commit whose cost is O(source) bytes: no discovery scan, no
    target rewrite. Scans anti-join the deletes out
    (``IceMiniTable._read_with_deletes``); the next clustering rewrite
    sheds them physically. Restricted to the default replace-row
    clauses and ``key="doc_id"`` (see ``_merge_mor``)."""
    if merge_schema:
        table.evolve_to_include(source)
    if mode == "merge_on_read":
        if matched is not None or not_matched_condition is not None:
            raise ValueError(
                "merge_on_read supports only the default WHEN MATCHED "
                "UPDATE SET * / WHEN NOT MATCHED INSERT * clauses: "
                "conditional clauses need the matched target rows, "
                "which only the copy-on-write rewrite reads"
            )
        if key != "doc_id":
            raise ValueError(
                "merge_on_read requires key='doc_id' (equality-delete "
                "files and their scan-time anti-join are doc_id-keyed)"
            )
        return _merge_mor(
            table,
            source,
            key,
            job_id or f"merge-mor-{uuid.uuid4().hex[:12]}",
            salt_partitions,
        )
    if mode != "copy_on_write":
        raise ValueError(f"unknown MERGE mode {mode!r}")
    spark = table.spark
    matched = _validate_clauses(matched)
    job_id = job_id or f"merge-{uuid.uuid4().hex[:12]}"
    log = JobLog(table.root, job_id)
    keys_dir = os.path.join(log.dir, "matched_keys")

    # align the source to the table's (possibly evolved) schema —
    # evolved nullable columns a producer doesn't send are null-filled;
    # then last-writer-wins dedup on the merge key; persist — the
    # source plan is evaluated several times below (key stats,
    # affected-file join, per-batch semi/anti joins) and an expensive
    # upstream plan would otherwise recompute each time
    source = table.align_to_schema(source).dropDuplicates([key])
    if salt_partitions:
        # deterministic salt — xxhash64(key, seed) spreads near-unique
        # keys evenly without breaking run-to-run reproducibility
        source = source.repartition(salt_partitions, F.xxhash64(key, F.lit(42)))
    source = source.persist()

    # ONE stats agg (also materializes the persist): exact key count,
    # key bounds (manifest pruning), average key width (broadcast size
    # estimate — a fixed per-row constant under-counted long doc_ids
    # near the threshold; ADVICE r3)
    kstats = source.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(key).alias("lo"),
        F.max(key).alias("hi"),
        F.avg(F.length(F.col(key).cast("string"))).alias("w"),
    ).collect()[0]
    n_src = int(kstats["n"])

    src_keys = source.select(key)
    # Catalyst cannot see that only the key column of the persisted
    # source feeds the joins below — InMemoryRelation stats are not
    # column-pruned, so the 4-column source (token arrays included)
    # looks far too big to broadcast and the joins degrade to
    # sort-merge, shuffling the FULL target token payload. Estimate the
    # key set's true size (UTF-16 payload + hashed-relation slot
    # overhead, x2 safety) and hint broadcast when it fits the session
    # threshold. At 10^12-row scale with ~10^11-key sources the hint
    # correctly stays off and SMJ + AQE skew handling take over.
    thr_bytes = broadcast_threshold_bytes(spark)
    est_bytes = int(n_src * (2 * float(kstats["w"] or 8.0) + 24) * 2)
    if 0 < est_bytes <= thr_bytes:
        src_keys = F.broadcast(src_keys)

    discovery: dict[str, int] = {}  # stays empty on a resumed job

    def plan() -> list[dict[str, Any]]:
        return _plan_merge(
            table, src_keys, kstats, keys_dir, max_batch_files,
            key=key, discovery=discovery, probe_keys=source.select(key),
        )

    def execute(task: dict[str, Any], read_v: int) -> dict[str, Any]:
        # the read is pinned at read_v; the commit aborts if a newer
        # equality delete applicable to this task's inputs lands in
        # between — the rewrite's fresh-seq outputs would resurrect its
        # rows (commit()'s no_new_deletes_since, Iceberg
        # validateNoNewDeleteFiles)
        rewritten = _task_output(
            spark, table, task, source, src_keys, key, keys_dir,
            matched=matched, not_matched_condition=not_matched_condition,
            version=read_v,
        )
        new_entries: list[FileEntry] = (
            table.write_data_files(rewritten) if rewritten is not None else []
        )
        # nothing to add and nothing to remove (a source with zero
        # unmatched keys) commits nothing — no junk empty snapshot
        return {
            "added": new_entries,
            "removed_paths": task["input_files"],
            "no_new_deletes_since": read_v,
            "rows": sum(e.rows for e in new_entries),
            "tokens": sum(e.token_count for e in new_entries),
        }

    def inserts_landed(task: dict[str, Any], intent: dict[str, Any]) -> bool:
        """Landed-commit probe for the EMPTY-INPUT insert task, whose
        snapshot tags can be expired and whose output files rewritten
        away between crash and resume — re-applying an insert-only
        commit would DUPLICATE rows. Any inserted key already present in
        the table proves the insert landed: commits are atomic, and the
        insert keys were unmatched at plan time, so presence can only
        come from this commit."""
        if task["input_files"]:
            return False
        ins = source
        if os.path.isdir(keys_dir):
            seen = spark.read.parquet(keys_dir).select(key)
            ins = source.join(seen, key, "left_anti")
        return (
            ins.select(key)
            .join(table.scan().select(key), key, "left_semi")
            .limit(1)
            .count()
            > 0
        )

    # batches + the trailing insert task are mutually independent (the
    # key→batch side-table is pinned at plan time), so they run from a
    # bounded pool — each batch's write tail and commit overlap other
    # batches' joins instead of idling the cluster (lineage.run_tasks)
    out = run_job(
        table, log, "merge", plan, execute, max_concurrent_batches,
        landed=inserts_landed,
    )
    source.unpersist()
    ran = [rec for _, rec in out if not rec["skipped"]]
    return {
        "job_id": job_id,
        "discovery": discovery,
        "tasks": len(ran),
        "skipped": len(out) - len(ran),
        "input_files": [p for rec in ran for p in rec["removed_files"]],
        "output_files": [p for rec in ran for p in rec["output_files"]],
        "rows": sum(rec["rows"] for rec in ran),
        "tokens": sum(rec["tokens"] for rec in ran),
        "matched_files": sum(len(task["input_files"]) for task, _ in out),
        "snapshot_id": table.current_version(),
    }


def _merge_mor(
    table: IceMiniTable,
    source: DataFrame,
    key: str,
    job_id: str,
    salt_partitions: int | None,
) -> dict[str, Any]:
    """Merge-on-read upsert — the Flink-on-Iceberg equality-delete
    writer shape: ONE writer job (``IceMiniTable.write_upsert_files``)
    writes the deduplicated source rows as data files, each with a
    paired equality-delete file holding exactly its keys, and ONE
    commit adds both. Matched target rows are suppressed at scan time
    by the deletes; unmatched keys' deletes are no-ops. Cost is
    O(source) bytes — no source count or cache, no discovery scan, no
    target-file reads, no rewrites — which is what makes a trickle
    upsert against a 10^5-file 100 TB table a seconds-level operation
    instead of a full-table rewrite.

    Why NO conflict validation is needed (``required_paths=()``): both
    the delete and data files take the commit's own sequence number,
    the highest in the table, so the deletes apply to EVERY data file
    committed before them — including a concurrent rewrite's fresh-seq
    outputs that land first — while the appended rows (seq equal to the
    deletes', never less) are exempt. Rewrites that land AFTER this
    commit abort via ``commit(no_new_deletes_since=...)`` and re-run
    reading the new deletes. Concurrent MoR merges on overlapping keys
    serialize last-writer-wins in commit order (snapshot isolation,
    Flink upsert semantics); a concurrent COPY-ON-WRITE merge that
    aborts against this commit must be re-planned under a NEW job_id —
    its pinned affected-file plan cannot see this merge's appended
    files.

    Idempotent on crash-resume by construction: re-applying the same
    source writes deletes that supersede the earlier application's
    rows, leaving exactly one live row per key — the landed-commit
    detection of ``lineage.run_job`` only avoids junk snapshots, it is
    not load-bearing."""
    source = table.align_to_schema(source).dropDuplicates([key])
    if salt_partitions:
        source = source.repartition(salt_partitions, F.xxhash64(key, F.lit(42)))

    def execute(task: dict[str, Any], read_v: int) -> dict[str, Any]:
        # no required_paths / no_new_deletes_since — see above; an
        # empty source commits nothing
        data_entries, del_entries = table.write_upsert_files(source)
        return {
            "added": data_entries,
            "added_deletes": del_entries,
            "rows": sum(e.rows for e in data_entries),
            "tokens": sum(e.token_count for e in data_entries),
        }

    # exactly one task: the commit is O(source) bytes
    [(_, rec)] = run_job(
        table, JobLog(table.root, job_id), "merge-mor",
        lambda: [{"task_id": "upsert", "kind": "mor"}], execute,
    )
    return {
        "job_id": job_id,
        "mode": "merge_on_read",
        "skipped": int(rec["skipped"]),
        "delete_files": len(rec.get("delete_files", [])),
        "appended_files": len(rec.get("output_files", [])),
        "rows": rec.get("rows", 0),
        "tokens": rec.get("tokens", 0),
        "rewritten_files": 0,  # the point of merge-on-read
        "source_keys": rec.get("rows", 0),  # one row per deduplicated key
        "snapshot_id": table.current_version(),
    }


# above this many affected files, task input lists are spilled to a
# parquet side-table instead of inlined into plan/intent JSON
_SPILL_THRESHOLD = 50_000


def _pin_task_inputs(
    log: JobLog,
    affected_rel: list[str],
    max_batch_files: int,
    task_prefix: str,
    threshold: int | None = None,
) -> list[dict[str, Any]]:
    """Plan batch tasks over an affected-file list. Small lists inline
    into the plan JSON (readable, self-contained); beyond ``threshold``
    the ordered list is spilled ONCE to a parquet side-table under the
    job's lineage dir and tasks carry ``[lo, hi)`` index ranges — plan
    and per-task intent records stay O(batch) instead of O(total
    affected), so a 10^7-file takedown doesn't balloon every lineage
    write (the same posture as batched MERGE's key→batch side-table)."""
    if threshold is None:
        threshold = _SPILL_THRESHOLD
    if len(affected_rel) <= threshold:
        return [
            {"task_id": f"{task_prefix}-{i:05d}", "input_files": b}
            for i, b in enumerate(_chunk(affected_rel, max_batch_files))
        ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(log.dir, exist_ok=True)
    pq.write_table(
        pa.table({"path": affected_rel}),
        os.path.join(log.dir, "affected_files.parquet"),
    )
    n = len(affected_rel)
    return [
        {
            "task_id": f"{task_prefix}-{i:05d}",
            "file_range": [lo, min(lo + max_batch_files, n)],
        }
        for i, lo in enumerate(range(0, n, max_batch_files))
    ]


def _task_inputs(log: JobLog, task: dict[str, Any], cache: dict) -> list[str]:
    """Resolve a task's input files — inline or via the spilled
    side-table (read once per job run, sliced per task)."""
    if "file_range" not in task:
        return task["input_files"]
    if "paths" not in cache:
        import pyarrow.parquet as pq

        cache["paths"] = pq.read_table(
            os.path.join(log.dir, "affected_files.parquet")
        )["path"].to_pylist()
    lo, hi = task["file_range"]
    return cache["paths"][lo:hi]


def _task_input_count(task: dict[str, Any]) -> int:
    if "file_range" in task:
        return task["file_range"][1] - task["file_range"][0]
    return len(task["input_files"])


def _affected_files(
    table: IceMiniTable,
    cond,
    min_n_tok: int | None,
    max_n_tok: int | None,
    sources: list[str] | None,
) -> list[str]:
    """Sorted relative paths of the live files holding >=1 row matching
    ``cond``: manifest pruning on the optional ``min_n_tok``/``max_n_tok``/
    ``sources`` envelope, then ONE distributed job over the surviving
    candidates via input_file_name()."""
    candidates = table.prune_entries(
        table.live_entries(), min_n_tok, max_n_tok, sources
    )
    if not candidates:
        return []
    hits = (
        table.spark.read.schema(table.schema())
        .parquet(*[table._abs(e.path) for e in candidates])
        .where(cond)
        .select(F.expr(_FILE_NORM).alias("____file"))
        .distinct()
        .collect()
    )
    return sorted(os.path.relpath(r["____file"], table.root) for r in hits)


def _predicate_rewrite(
    table: IceMiniTable,
    cond,
    operation: str,
    rewrite,
    job_id: str,
    min_n_tok: int | None,
    max_n_tok: int | None,
    sources: list[str] | None,
    max_batch_files: int = 256,
    max_concurrent: int = 4,
) -> dict[str, Any]:
    """Shared copy-on-write core of DELETE WHERE / UPDATE WHERE.

    1. Manifest pruning: the optional ``min_n_tok``/``max_n_tok``/
       ``sources`` bounds skip files whose per-file stats cannot match
       (Iceberg's metadata-driven DML planning; an arbitrary predicate
       cannot be pruned from min/max alone, so callers pass the prunable
       envelope of their predicate when they have one).
    2. ONE distributed job finds *affected* files — files with >=1
       matching row — via input_file_name() over the pruned candidates.
    3. Only affected files are rewritten through ``rewrite(df)``;
       untouched files are carried by manifest reference. Affected files
       are grouped into commit batches of <= ``max_batch_files`` (row-
       level predicates are file-local, so batching cannot change the
       result), each its own conflict-checked, lineage-logged snapshot
       commit — at 10^11-file scale a takedown keeps partial progress
       instead of one all-or-nothing commit, exactly like batched MERGE.
    4. Batches run through ``lineage.run_job`` from its bounded
       concurrent pool; a crashed job resumes idempotently under the
       same job_id, landed batches skipped.

    Returns generic counts (rows_before/rows_after/rewritten_files/
    new_files); the public wrappers rename them.
    """
    log = JobLog(table.root, job_id)

    def plan() -> list[dict[str, Any]]:
        # zero affected files ⇒ zero tasks: the plan is still pinned (so
        # a resume sees the same no-op), but no empty commit churns a
        # junk snapshot/manifest for every no-match DELETE/UPDATE
        affected = _affected_files(table, cond, min_n_tok, max_n_tok, sources)
        return _pin_task_inputs(log, affected, max_batch_files, operation)

    spill_cache: dict[str, list[str]] = {}

    def execute(task: dict[str, Any], read_v: int) -> dict[str, Any]:
        inputs = _task_inputs(log, task, spill_cache)
        # read_files applies pending MoR deletes: the rewrite's output
        # takes a fresh seq, so a raw read would resurrect already-
        # deleted rows into the new files; the read is pinned at read_v
        # and the commit aborts if a newer applicable delete lands in
        # between
        new_entries = table.write_data_files(
            rewrite(table.read_files(inputs, version=read_v))
        )
        by_path = {e.path: e for e in table.live_entries(read_v)}
        return {
            "added": new_entries,
            "removed_paths": inputs,
            "no_new_deletes_since": read_v,
            "counts": {
                "rewritten_files": len(inputs),
                "new_files": len(new_entries),
                "rows_before": sum(by_path[p].rows for p in inputs if p in by_path),
                "rows_after": sum(e.rows for e in new_entries),
            },
        }

    out = run_job(table, log, operation, plan, execute, max_concurrent)
    return {
        "job_id": job_id,
        "affected_files": sum(_task_input_count(task) for task, _ in out),
        "skipped": sum(rec["skipped"] for _, rec in out),
        **{
            k: sum(rec["counts"][k] for _, rec in out)
            for k in ("rewritten_files", "new_files", "rows_before", "rows_after")
        },
    }


def delete_where(
    table: IceMiniTable,
    condition,
    job_id: str | None = None,
    min_n_tok: int | None = None,
    max_n_tok: int | None = None,
    sources: list[str] | None = None,
    max_batch_files: int = 256,
    max_concurrent: int = 4,
    mode: str = "copy_on_write",
) -> dict[str, Any]:
    """DELETE (Iceberg ``DELETE FROM t WHERE ...``) — the takedown/
    contamination-removal op a training-data pipeline needs. Survivors =
    rows where the condition is NOT TRUE — SQL DELETE's three-valued
    logic: a NULL predicate (e.g. an evolved null-filled column) keeps
    the row. ``~cond`` alone would evaluate NULL → NULL → filtered out,
    silently deleting every null-predicate row in any affected file.

    ``mode="copy_on_write"`` (default): affected files are rewritten
    without the matching rows — see ``_predicate_rewrite`` for the
    pruning/discovery/batched-commit/resume shape. Read-optimal, but a
    takedown matching one row in each of 10^5 files rewrites 10^5 files.

    ``mode="merge_on_read"``: the matched doc_ids are written as
    EQUALITY-DELETE files and the commit is O(matched keys) bytes —
    scans anti-join them out (``IceMiniTable._read_with_deletes``) and
    the next clustering rewrite sheds them physically. This is the
    minutes-not-full-table-rewrite takedown at 100 TB. Requires the
    table's doc_id-unique invariant (MERGE maintains it): equality
    deletes suppress EVERY pre-delete row of a matched key."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    if mode == "merge_on_read":
        return _delete_mor(
            table,
            cond,
            job_id or f"delete-mor-{uuid.uuid4().hex[:12]}",
            min_n_tok,
            max_n_tok,
            sources,
        )
    if mode != "copy_on_write":
        raise ValueError(f"unknown DELETE mode {mode!r}")
    r = _predicate_rewrite(
        table,
        cond,
        "delete",
        lambda df: df.where(~F.coalesce(cond, F.lit(False))),
        job_id or f"delete-{uuid.uuid4().hex[:12]}",
        min_n_tok,
        max_n_tok,
        sources,
        max_batch_files,
        max_concurrent,
    )
    r["deleted_rows"] = r.pop("rows_before") - r.pop("rows_after")
    r["mode"] = "copy_on_write"
    return r


def _delete_mor(
    table: IceMiniTable,
    cond,
    job_id: str,
    min_n_tok: int | None,
    max_n_tok: int | None,
    sources: list[str] | None,
) -> dict[str, Any]:
    """Merge-on-read DELETE: ONE discovery pass over the manifest-pruned
    candidates finds affected files; matched keys (read with pending
    deletes applied, so already-deleted rows are not re-recorded) are
    written as equality-delete files; ONE metadata commit adds them —
    zero data files rewritten, O(matches) new bytes.

    ``required_paths`` = the affected data files: a concurrent rewrite
    of any of them would bump those rows to a seq newer than this
    delete's (making it a no-op on them), so the commit must conflict —
    the same validation Iceberg applies to row-delta commits. Resumable
    under the same job_id via the lineage intent/done records; a landed
    commit is re-detected by its snapshot tags or its delete files
    being live, and a re-run whose affected files were rewritten in the
    meantime raises CommitConflict (re-plan under a new job_id)."""
    log = JobLog(table.root, job_id)

    def plan() -> list[dict[str, Any]]:
        affected = _affected_files(table, cond, min_n_tok, max_n_tok, sources)
        if not affected:
            return []
        return _pin_task_inputs(log, affected, len(affected), "delete-mor")

    spill_cache: dict[str, list[str]] = {}

    def execute(task: dict[str, Any], read_v: int) -> dict[str, Any]:
        inputs = _task_inputs(log, task, spill_cache)
        # matched keys from affected files only, pending deletes applied
        keys = (
            table.read_files(inputs, version=read_v)
            .where(cond)
            .select("doc_id")
            .distinct()
        )
        entries = table.write_delete_files(keys)
        # the affected files are read, not removed: no removed_paths, and
        # their liveness says nothing about whether this commit landed
        return {
            "added_deletes": entries,
            "required_paths": inputs,
            "deleted_rows": sum(e.rows for e in entries),
        }

    # at most one task: the commit is O(keys) bytes
    out = run_job(table, log, "delete-mor", plan, execute)
    return {
        "job_id": job_id,
        "mode": "merge_on_read",
        "affected_files": sum(_task_input_count(task) for task, _ in out),
        "skipped": sum(rec["skipped"] for _, rec in out),
        "rewritten_files": 0,
        "delete_files": sum(len(rec["delete_files"]) for _, rec in out),
        "deleted_rows": sum(rec["deleted_rows"] for _, rec in out),
    }


def update_where(
    table: IceMiniTable,
    condition,
    assignments: dict[str, Any],
    job_id: str | None = None,
    min_n_tok: int | None = None,
    max_n_tok: int | None = None,
    sources: list[str] | None = None,
    max_batch_files: int = 256,
    max_concurrent: int = 4,
) -> dict[str, Any]:
    """Copy-on-write UPDATE (Iceberg ``UPDATE t SET ... WHERE ...``) —
    predicate-addressed row edits (re-tag a source, fix a bad n_tok)
    without a keyed MERGE source. Affected files are rewritten with
    ``CASE WHEN condition THEN assignment ELSE original`` per assigned
    column; ``assignments`` maps column name -> Column or SQL expression
    string (evaluated against the pre-update row). As in SQL UPDATE,
    assignments are applied verbatim — cross-column invariants (e.g.
    ``n_tok = size(tokens)``) are the caller's to maintain; assign both
    columns in one call when they must move together. See
    ``_predicate_rewrite`` for the pruning/discovery/commit/resume
    shape."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    sch = table.schema()
    unknown = sorted(set(assignments) - set(sch.fieldNames()))
    if unknown:
        raise ValueError(f"UPDATE assigns unknown columns: {unknown}")

    def _apply(df: DataFrame) -> DataFrame:
        cols = []
        for f in sch.fields:
            if f.name in assignments:
                a = assignments[f.name]
                expr = F.expr(a) if isinstance(a, str) else a
                cols.append(
                    F.when(cond, expr.cast(f.dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        return df.select(*cols)

    r = _predicate_rewrite(
        table,
        cond,
        "update",
        _apply,
        job_id or f"update-{uuid.uuid4().hex[:12]}",
        min_n_tok,
        max_n_tok,
        sources,
        max_batch_files,
        max_concurrent,
    )
    r.pop("rows_before", None)
    r["rows"] = r.pop("rows_after")
    return r


def bloom_prune_candidates(
    table: IceMiniTable,
    candidates: list[FileEntry],
    src_keys: DataFrame,
    key: str,
    n_src: int,
    max_probe_keys: int = 4096,
) -> list[FileEntry]:
    """Key-existence pruning over the per-file Bloom sidecars
    (``sources/keybloom.py``): drop candidate files none of whose keys
    can match any source key. This is what makes point-lookup merges
    cheap on UNCLUSTERED tables, where per-file doc_id min/max prunes
    nothing (uniform-random keys ⇒ every file spans the full range):
    the probe reads the file's sidecar (3 bytes per key, at least 272
    bytes) instead of the file's key column, and the exact discovery
    scan then runs on the survivors only. Conservative on every axis: files without a sidecar (pre-bloom
    manifests, external writers, corrupt sidecar) are kept; Bloom false
    positives are re-verified by the discovery scan; sources beyond
    ``max_probe_keys`` skip the probe — the cutoff is where the sketch
    stops paying, not a safety limit: at 24 bits/key (per-key fpp
    ≈ 4.2e-5) a K-key probe falsely admits a file with probability
    ≈ 1-(1-4.2e-5)^K, i.e. ~16% at K=4096 but ~81% at K=40k, and a
    bulk merge touches most files regardless, so probing it is pure
    overhead (measured ~1-2 s on the bench's 40k-key merge).

    Hashing is Spark's ``xxhash64`` on BOTH sides (the writer feeds the
    sidecar from a JVM-computed ``__keyhash`` column), so Python never
    hashes a key. The probe itself is one Spark job over the sidecar
    paths, with one task per ``spark.sql.files.maxPartitionBytes`` of
    sidecar bytes (sizes known from the manifest's row counts, at most
    64 tasks): a few hundred small sidecars are one task, not one Python
    task per file."""
    if key != "doc_id" or n_src > max_probe_keys:
        return candidates
    with_bloom = [e for e in candidates if e.key_bloom]
    if not with_bloom:
        return candidates
    spark = table.spark
    import numpy as np

    hashes = (
        src_keys.select(F.xxhash64(key).alias("h"))
        .toPandas()["h"]
        .to_numpy(dtype=np.int64)
    )
    bc = spark.sparkContext.broadcast(hashes)
    root = table.root

    def _probe(batches):
        import os as _os

        import pandas as _pd

        from datalakequality_spark.sources import keybloom as kb

        h = bc.value
        for pdf in batches:
            maybe = [
                kb.probe_any(kb.load(_os.path.join(root, bp)), h)
                for bp in pdf["bloom"]
            ]
            yield _pd.DataFrame({"path": pdf["path"], "maybe": maybe})

    # one task per maxPartitionBytes of sidecar, sized from the manifest
    # (a sidecar's size follows from its file's row count), at most 64
    sidecar_bytes = sum(
        keybloom.num_blocks_for(e.rows) * keybloom.BLOCK_BYTES for e in with_bloom
    )
    parts = min(64, max(1, -(-sidecar_bytes // _max_partition_bytes(spark))))
    cdf = spark.createDataFrame(
        [(e.path, e.key_bloom) for e in with_bloom], "path string, bloom string"
    )
    # coalesce keeps a one-task probe a single narrow stage (no shuffle)
    cdf = cdf.coalesce(1) if parts == 1 else cdf.repartition(parts)
    kept = {
        r["path"]
        for r in cdf.mapInPandas(_probe, "path string, maybe boolean")
        .where("maybe")
        .collect()
    }
    bc.unpersist()
    return [e for e in candidates if not e.key_bloom or e.path in kept]


def _plan_merge(
    table: IceMiniTable,
    src_keys: DataFrame,
    kstats,
    keys_dir: str,
    max_batch_files: int | None,
    key: str = "doc_id",
    discovery: dict[str, int] | None = None,
    probe_keys: DataFrame | None = None,
) -> list[dict[str, Any]]:
    """Discover affected files and pin the task plan.

    Single-commit plan when the affected set fits one batch; otherwise
    one task per file batch plus a trailing insert-only task, with the
    key→batch assignment parquet written under the job dir so later
    batches (and resumes) never rescan rewritten files.
    """
    spark = table.spark
    entries = table.live_entries()
    # manifest-level pruning: only files whose [min,max] doc_id range can
    # intersect the source keys need scanning to find matches
    candidates = [
        e
        for e in entries
        if e.min_doc_id is None
        or kstats["lo"] is None
        or not (e.max_doc_id < kstats["lo"] or e.min_doc_id > kstats["hi"])
    ]
    n_minmax = len(candidates)
    candidates = bloom_prune_candidates(
        # the plain (un-hinted) key frame: hashing keys is a projection,
        # not a join, and a broadcast hint there only logs warnings
        table, candidates, probe_keys if probe_keys is not None else src_keys,
        key, int(kstats["n"]),
    )
    if discovery is not None:
        discovery.update(
            live_files=len(entries),
            candidates_minmax=n_minmax,
            candidates_bloom=len(candidates),
        )
    if not candidates:
        return [{"task_id": "inserts", "input_files": [], "kind": "inserts"}]

    cand_abs = [table._abs(e.path) for e in candidates]
    tgt = (
        spark.read.schema(table.schema())
        .parquet(*cand_abs)
        .select(key, F.expr(_FILE_NORM).alias("____file"))
    )
    hits = tgt.join(src_keys, key, "inner")
    single = max_batch_files is None
    if not single:
        hits = hits.persist()  # feeds both the distinct and the min-file agg
    affected_abs = sorted(
        r["____file"] for r in hits.select("____file").distinct().collect()
    )
    affected_rel = [os.path.relpath(p, table.root) for p in affected_abs]

    if not affected_abs or single or len(affected_abs) <= max_batch_files:
        if not single:
            hits.unpersist()
        if not affected_abs:
            return [{"task_id": "inserts", "input_files": [], "kind": "inserts"}]
        return [{"task_id": "merge", "input_files": affected_rel, "kind": "single"}]

    batches_abs = _chunk(affected_abs, max_batch_files)
    batches_rel = _chunk(affected_rel, max_batch_files)
    file_batch = spark.createDataFrame(
        [(f, i) for i, batch in enumerate(batches_abs) for f in batch],
        "____file string, __batch int",
    )
    # each matched key is upserted in exactly ONE batch — the one owning
    # its first matching file — so batched content == single-commit
    # content even when duplicate doc_ids span batches
    (
        hits.groupBy(key)
        .agg(F.min("____file").alias("____file"))
        .join(F.broadcast(file_batch), "____file")
        .select(key, "__batch")
        .write.mode("overwrite")
        .parquet(keys_dir)
    )
    hits.unpersist()
    tasks: list[dict[str, Any]] = [
        {"task_id": f"batch-{i:05d}", "input_files": b, "kind": "batch", "batch": i}
        for i, b in enumerate(batches_rel)
    ]
    tasks.append({"task_id": "inserts", "input_files": [], "kind": "inserts"})
    return tasks


def _conditional_file_rewrite(
    table: IceMiniTable,
    input_files: list[str],
    source: DataFrame,
    key: str,
    clauses: list[dict[str, Any]],
    version: int | None = None,
) -> DataFrame:
    """Rewrite one task's files under WHEN MATCHED clauses: a left join
    of the files' rows against the source (aliases ``t``/``s``), a
    first-true-clause selector, then one CASE per output column. All
    set expressions read the PRE-merge ``t.*``/``s.*`` values (SQL
    MERGE semantics). Unmatched and no-clause-fired rows pass through
    verbatim. One join + projection — no extra shuffle beyond the join
    itself, which AQE sizes (the source is persisted and typically
    broadcast-able after filtering)."""
    cols = table.schema().fieldNames()
    tgt = table.read_files(input_files, version=version).alias("t")
    src = source.withColumn("__s_present", F.lit(True)).alias("s")
    j = tgt.join(src, F.col(f"t.{key}") == F.col(f"s.{key}"), "left")

    is_matched = F.col("__s_present").isNotNull()
    fired = None
    for i, c in enumerate(clauses):
        cond = is_matched
        if c["condition"] is not None:
            cond = cond & F.expr(c["condition"])
        fired = F.when(cond, i) if fired is None else fired.when(cond, i)
    j = j.withColumn(
        "__fired", fired.otherwise(F.lit(-1)) if fired is not None else F.lit(-1)
    )

    delete_idx = [i for i, c in enumerate(clauses) if c["action"] == "delete"]
    if delete_idx:
        j = j.where(~F.col("__fired").isin(delete_idx))

    out_cols = []
    for col in cols:
        case = None
        for i, c in enumerate(clauses):
            if c["action"] != "update":
                continue
            if c["set"] is None:  # SET *
                val = F.col(f"s.{col}")
            elif col in c["set"]:
                val = F.expr(c["set"][col])
            else:
                val = F.col(f"t.{col}")
            hit = F.col("__fired") == i
            case = F.when(hit, val) if case is None else case.when(hit, val)
        expr = case.otherwise(F.col(f"t.{col}")) if case is not None else F.col(f"t.{col}")
        out_cols.append(expr.alias(col))
    return j.select(*out_cols)


def _task_output(
    spark: SparkSession,
    table: IceMiniTable,
    task: dict[str, Any],
    source: DataFrame,
    src_keys: DataFrame,
    key: str,
    keys_dir: str,
    matched: list[dict[str, Any]] | None = None,
    not_matched_condition: str | None = None,
    version: int | None = None,
) -> DataFrame | None:
    """The rows a merge task writes (None ⇒ nothing to write, commit is
    a pure file-removal/no-op). ``version`` pins the read snapshot so
    the caller can validate no newer deletes at commit time."""
    kind = task.get("kind", "single")
    cols = table.schema().fieldNames()
    if kind == "inserts":
        ins = source
        if os.path.isdir(keys_dir):
            seen = spark.read.parquet(keys_dir).select(key)
            ins = source.join(seen, key, "left_anti")
        if not_matched_condition is not None:
            ins = ins.alias("s").where(F.expr(not_matched_condition))
        return ins.select(*cols)

    if matched is not None:
        # conditional-clause path: a per-row join+CASE rewrite of this
        # task's files — each target row lives in exactly one file, so
        # batched tasks need no key→batch coordination for updates
        # (only inserts do, via the trailing inserts task above)
        rewritten = _conditional_file_rewrite(
            table, task["input_files"], source, key, matched, version=version
        )
        if kind != "single":
            return rewritten
        # single-commit plan has no trailing inserts task: fold in the
        # source rows matching no target key (discovery guarantees every
        # file holding a matched key is in input_files, so an anti-join
        # against these files' keys IS the table-wide unmatched set)
        ins = source.join(
            table.read_files(task["input_files"], version=version).select(key),
            key,
            "left_anti",
        )
        if not_matched_condition is not None:
            ins = ins.alias("s").where(F.expr(not_matched_condition))
        return rewritten.unionByName(ins.select(*cols))

    # read_files applies pending MoR deletes — a merge rewrite's output
    # takes a fresh seq, so raw-reading would resurrect deleted rows
    survivors = table.read_files(task["input_files"], version=version).join(
        src_keys, key, "left_anti"
    )
    if kind == "single":
        # matched updates + inserts in one pass — one commit total
        upserts = source
    else:
        keys_b = (
            spark.read.parquet(keys_dir)
            .where(F.col("__batch") == task["batch"])
            .select(key)
        )
        upserts = source.join(keys_b, key, "left_semi")
    return survivors.select(*cols).unionByName(upserts.select(*cols))
