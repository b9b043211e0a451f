"""Per-partition lineage log → resumable maintenance jobs (north_rule).

Every maintenance job (compact / cluster / merge / DML) is planned into
tasks and executed by ``run_job``; each task records, in
``<table>/metadata/jobs/<job_id>/``:

    plan.json            — the full task list, pinned at planning time
    intent-<task>.json   — written BEFORE the task's snapshot commit
                           (output, delete and removed file paths + counts)
    done-<task>.json     — written AFTER the commit succeeds

Resume logic (an append-only run history, per task):
- ``done`` → skip (commit applied).
- ``intent`` but no ``done`` → the process died around the commit. The
  commit DID land — mark done and skip — only on exact evidence: a
  retained snapshot carries this job/task's tags (``commit_landed``),
  or the task's uniquely named output/delete files are non-empty and
  all live (no other commit can add them), or the job's own ``landed``
  probe says so. Otherwise the task re-runs (the staged files of the
  crashed attempt are orphans, swept later by reachability GC).
- neither → run.

Input files that are no longer live are NOT evidence: another job (a
compaction, say) may have removed them while this task's commit never
landed. A re-run task whose inputs are gone never reports success: the
commit raises ``CommitConflict`` (its removed and required paths must be
live), and ``run_job`` raises it for a task left with nothing to commit.
One consequence: a rewrite task whose commit landed, whose tagged
snapshot was then expired and whose outputs were rewritten away raises
``CommitConflict`` on resume instead of being acknowledged (an
input-free merge-on-read upsert re-applies, which is idempotent);
re-planning under a new job_id is content-safe for every maintenance
operation.

This makes every task idempotent: re-running a job with the same job_id
never processes a partition twice (tested in tests/test_maintenance.py).
"""

from __future__ import annotations

import json
import os
from typing import Any, Callable

from ..sources.icemini import CommitConflict

# the keys of an ``execute`` result that are ``IceMiniTable.commit`` kwargs
_COMMIT_KWARGS = (
    "added", "added_deletes", "removed_paths", "removed_delete_paths",
    "required_paths", "quarantine", "no_new_deletes_since",
)


class JobLog:
    def __init__(self, table_root: str, job_id: str):
        self.job_id = job_id
        self.dir = os.path.join(table_root, "metadata", "jobs", job_id)
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def _write_json(self, name: str, payload: dict[str, Any]) -> None:
        tmp = self._path(f".tmp-{name}")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.rename(tmp, self._path(name))

    def _read_json(self, name: str) -> dict[str, Any] | None:
        try:
            with open(self._path(name)) as f:
                return json.load(f)
        except OSError:
            return None

    # ------------------------------------------------------------------ plan

    def write_plan(self, tasks: list[dict[str, Any]]) -> None:
        if not os.path.exists(self._path("plan.json")):
            self._write_json("plan.json", {"tasks": tasks})

    def load_plan(self) -> list[dict[str, Any]] | None:
        plan = self._read_json("plan.json")
        return plan["tasks"] if plan is not None else None

    # ----------------------------------------------------------------- tasks

    def mark_intent(self, task_id: str, record: dict[str, Any]) -> None:
        self._write_json(f"intent-{task_id}.json", record)

    def intent(self, task_id: str) -> dict[str, Any] | None:
        return self._read_json(f"intent-{task_id}.json")

    def mark_done(self, task_id: str, record: dict[str, Any]) -> None:
        self._write_json(f"done-{task_id}.json", record)

    def is_done(self, task_id: str) -> bool:
        return os.path.exists(self._path(f"done-{task_id}.json"))


def run_tasks(
    tasks: list[dict[str, Any]],
    exec_one,
    max_concurrent: int = 1,
) -> list[Any]:
    """Execute lineage tasks via ``exec_one(task)`` — sequentially when
    ``max_concurrent <= 1``, else from a bounded thread pool (the shape
    of Iceberg RewriteDataFiles' max-concurrent-file-group-rewrites).

    Tasks are independent by construction (disjoint input-file groups,
    per-task lineage records, optimistic snapshot commits that retry on
    lost races), so concurrent submission only overlaps their Spark
    jobs' barriers — per-shard planning job, write tail, commit — which
    otherwise leave the cluster idle between serial shards. Results come
    back in task order; on failure every in-flight task settles first
    (landed commits stand — resume skips them) and the first error, in
    task order, propagates.
    """
    if max_concurrent <= 1 or len(tasks) <= 1:
        return [exec_one(t) for t in tasks]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
        max_workers=min(max_concurrent, len(tasks))
    ) as pool:
        futures = [pool.submit(exec_one, t) for t in tasks]
        results: list[Any] = []
        first_err: BaseException | None = None
        for f in futures:
            try:
                results.append(f.result())
            except BaseException as e:  # noqa: BLE001 — re-raised below
                if first_err is None:
                    first_err = e
        if first_err is not None:
            raise first_err
        return results


def commit_landed(table, job_id: str, task_id: str) -> bool:
    """True if a retained snapshot was committed by this job/task —
    every maintenance commit tags its snapshot summary with
    ``maint_job_id``/``maint_task_id``. O(#retained snapshots)
    driver-side; snapshot expiration can drop old tags, so ``run_job``
    also accepts the task's live output files as evidence."""
    for snap in table.snapshots():
        if (
            snap.summary.get("maint_job_id") == job_id
            and snap.summary.get("maint_task_id") == task_id
        ):
            return True
    return False


def _outputs_live(table, intent: dict[str, Any]) -> bool:
    """The intent's uniquely named output data/delete files exist and
    are all live — only this task's commit can have added them."""
    outs = set(intent.get("output_files", []))
    dels = set(intent.get("delete_files", []))
    return bool(outs or dels) and (
        outs <= table.live_paths() and dels <= table.live_delete_paths()
    )


def run_job(
    table,
    log: JobLog,
    operation: str,
    plan: Callable[[], list[dict[str, Any]]],
    execute: Callable[[dict[str, Any], int], dict[str, Any]],
    max_concurrent: int = 1,
    landed: Callable[[dict[str, Any], dict[str, Any]], bool] | None = None,
) -> list[tuple[dict[str, Any], dict[str, Any]]]:
    """Run one maintenance job through the lineage protocol: plan →
    intent → tagged commit → done, per task, resumable under the same
    job_id (see the module docstring).

    ``plan()`` returns the task list (dicts with a ``task_id``), pinned
    to ``plan.json`` once per job_id. ``execute(task, read_v)`` does one
    task's data work against the snapshot ``read_v`` pinned just before
    it and returns ``IceMiniTable.commit`` kwargs plus extra fields for
    the task's record. ``landed(task, intent)`` is an optional extra
    landed-commit probe, asked only when tags and outputs are no
    evidence. Tasks run through ``run_tasks``; returns ``(task,
    record)`` per task in plan order, the record holding the task's
    ``output_files``, ``delete_files``, ``removed_files`` and
    ``quarantined`` paths, the extra fields, and ``skipped`` (done, or
    its commit landed, before this run)."""
    tasks = log.load_plan()
    if tasks is None:
        tasks = plan()
        log.write_plan(tasks)

    def one(task: dict[str, Any]) -> tuple[dict[str, Any], dict[str, Any]]:
        tid = task["task_id"]
        intent = log.intent(tid)
        if log.is_done(tid):
            return task, {**(intent or {}), "skipped": True}
        if intent is not None and (
            commit_landed(table, log.job_id, tid)
            or _outputs_live(table, intent)
            or (landed is not None and landed(task, intent))
        ):
            log.mark_done(tid, intent)
            return task, {**intent, "skipped": True}

        out = execute(task, table.current_version())
        kw = {k: out.pop(k) for k in _COMMIT_KWARGS if k in out}
        record = {
            "task_id": tid,
            "output_files": [e.path for e in kw.get("added", ())],
            "delete_files": [e.path for e in kw.get("added_deletes", ())],
            "removed_files": [
                *kw.get("removed_paths", ()),
                *kw.get("removed_delete_paths", ()),
            ],
            "quarantined": [q["path"] for q in kw.get("quarantine") or ()],
            **out,
        }
        log.mark_intent(tid, record)
        if record["output_files"] or record["delete_files"] or record["removed_files"]:
            table.commit(
                operation,
                added=kw.pop("added", []),
                summary_extra={"maint_job_id": log.job_id, "maint_task_id": tid},
                **kw,
            )
        else:
            # nothing to commit (an empty source, no matching keys): no
            # junk empty snapshot — but a task whose inputs went away
            # under it has proven nothing, so it must not report success
            missing = set(kw.get("required_paths", ())) - table.live_paths()
            if missing:
                raise CommitConflict(
                    f"{operation}: input files no longer live "
                    f"(concurrently rewritten): {sorted(missing)[:5]}"
                )
        log.mark_done(tid, record)
        return task, {**record, "skipped": False}

    return run_tasks(tasks, one, max_concurrent)
