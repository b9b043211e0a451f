"""IceMini — an Iceberg-style table format implemented natively.

No Iceberg/Delta jar ships in this environment (SURVEY.md §1.2), so the
engine owns the table format: immutable Parquet data files + immutable
JSON manifest files + per-commit snapshot JSON + a version-hint pointer,
with optimistic-concurrency commits. The layout mirrors Iceberg's
HadoopCatalog semantics on purpose, so a real catalog could be swapped
in later:

    <root>/
      data/       <uuid>-<n>.parquet            (immutable)
      metadata/
        manifest-<uuid>.json                     (immutable file lists + stats)
        v<N>.metadata.json                       (snapshot; N strictly increasing)
        version-hint.text                        (readers' fast path)
        jobs/<job_id>/...                        (maintenance lineage, see
                                                  maintenance/lineage.py)

Commit protocol (single filesystem, Iceberg HadoopTableOperations-style):
a writer resolves the current version N, prepares manifests, writes the
snapshot to a temp file, then claims version N+1 by hard-linking it to
``v<N+1>.metadata.json`` — ``link`` fails when the name exists, so the
filesystem arbitrates concurrent committers, and a claimed version is
never visible half-written. A loser re-reads the winner's snapshot and
*validates*: if any data file it read (its ``required_files``) is no
longer live, the commit raises ``CommitConflict`` (matching Iceberg's
validation semantics for conflicting rewrites); otherwise it retries on
top. ``version-hint.text`` is advisory (crash between snapshot write and
hint update is harmless — readers take ``max(vN present)``).

Scale notes: all metadata ops are O(#files) driver-side, the same cost
class as Iceberg's own planning. Data ops are single Spark jobs; per-file
stats are computed distributed via one ``groupBy(input_file_name())``
aggregation, never by reading files on the driver.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
import uuid
from dataclasses import asdict, dataclass, field
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import keybloom

SEQUENCES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def claim_json(path: str, payload: dict[str, Any]) -> bool:
    """Atomically create ``path`` holding ``payload``: the JSON goes to
    a temp in the same directory first, then the temp is hard-linked to
    ``path`` — ``link`` fails if the name exists, so the filesystem
    arbitrates racing writers, and the name appears only with its full
    content (a failed write leaves it free). True if this call created
    it; the temp is always removed."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".tmp-{name}-{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    return True


class CommitConflict(Exception):
    """A concurrent commit invalidated this writer's input files."""


def applicable_delete_paths(entry, deletes) -> frozenset:
    """The equality-delete files that apply to a data file: delete seq
    strictly greater than the file's seq (rows older than the delete)
    AND overlapping doc_id range. Shared by the scan-side anti-join
    grouping and compaction's bin classes (files may only be bin-packed
    together when this set is identical — then preserving the min
    member seq cannot change which deletes apply)."""
    eseq = entry.seq or 0
    return frozenset(
        d.path
        for d in deletes
        if (d.seq or 0) > eseq
        and not (
            d.max_doc_id is not None
            and entry.min_doc_id is not None
            and (
                d.max_doc_id < entry.min_doc_id
                or d.min_doc_id > entry.max_doc_id
            )
        )
    )


@dataclass
class FileEntry:
    """One data (or equality-delete) file tracked in a manifest, with
    pruning stats."""

    path: str  # relative to table root
    rows: int
    token_count: int
    size_bytes: int
    min_n_tok: int | None = None
    max_n_tok: int | None = None
    min_source: str | None = None
    max_source: str | None = None
    min_doc_id: str | None = None
    max_doc_id: str | None = None
    # Σ n_tok² — lets the quality gate derive GLOBAL mean/std for its
    # z-outlier check from manifest metadata alone (no data pass);
    # None on manifests written before this stat existed
    sum_sq_n_tok: int | None = None
    # data sequence number (Iceberg's model): the snapshot version at
    # which the file's ROWS entered the table. Assigned at commit time
    # when unset; physical rewrites that carry rows 1:1 (compaction)
    # PRESERVE the min input seq so pending equality deletes still
    # apply to the rewritten file. None on pre-MoR manifests ⇒ 0.
    # An equality-delete file applies to data files with seq < its seq.
    seq: int | None = None
    # relative path of the file's key-existence sidecar (split-block
    # Bloom over xxhash64(doc_id), sources/keybloom.py) — None on files
    # written before the sketch existed or by external writers; probes
    # treat missing sidecars as "maybe" so pruning stays conservative
    key_bloom: str | None = None

    def to_dict(self) -> dict[str, Any]:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "FileEntry":
        return FileEntry(**d)


@dataclass
class Snapshot:
    snapshot_id: int
    parent_snapshot_id: int | None
    operation: str
    manifests: list[str]
    summary: dict[str, Any] = field(default_factory=dict)
    quarantine: list[dict[str, Any]] = field(default_factory=list)
    timestamp_ms: int = 0
    # manifests of EQUALITY-DELETE files (merge-on-read DELETE): each
    # entry is a doc_id-keyed parquet whose keys are anti-joined out of
    # data files with seq < the delete's seq at scan time
    delete_manifests: list[str] = field(default_factory=list)
    # schema AT this snapshot as [[name, ddl, nullable], ...]; None ⇒
    # the base SEQUENCES_SCHEMA (pre-evolution snapshots). Tracked per
    # snapshot so time-travel reads get the historical schema
    # (Iceberg's schema-id-per-snapshot model, add-column-only here).
    schema_ddl: list[list] | None = None


_VMETA_RE = re.compile(r"v(\d+)\.metadata\.json$")


class IceMiniTable:
    """Handle on one IceMini table rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.data_dir = os.path.join(self.root, "data")
        self.meta_dir = os.path.join(self.root, "metadata")

    # ------------------------------------------------------------------ setup

    @classmethod
    def create(cls, spark: SparkSession, root: str) -> "IceMiniTable":
        t = cls(spark, root)
        os.makedirs(t.data_dir, exist_ok=True)
        os.makedirs(t.meta_dir, exist_ok=True)
        if t.current_version() == 0:
            snap = Snapshot(
                snapshot_id=1,
                parent_snapshot_id=None,
                operation="create",
                manifests=[],
                summary={"total_rows": 0, "total_tokens": 0, "total_files": 0},
                timestamp_ms=int(time.time() * 1000),
            )
            t._try_claim_version(1, snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "IceMiniTable":
        t = cls(spark, root)
        if t.current_version() == 0:
            raise FileNotFoundError(f"no IceMini table at {root}")
        return t

    # ------------------------------------------------------------- metadata IO

    def current_version(self) -> int:
        """Max committed version. version-hint.text is a fast path only."""
        hint_path = os.path.join(self.meta_dir, "version-hint.text")
        best = 0
        try:
            best = int(open(hint_path).read().strip())
        except (OSError, ValueError):
            best = 0
        # hint may lag (crash between snapshot write and hint update): scan up.
        v = best + 1
        while os.path.exists(os.path.join(self.meta_dir, f"v{v}.metadata.json")):
            best = v
            v += 1
        if best == 0:
            versions = [
                int(m.group(1))
                for p in glob.glob(os.path.join(self.meta_dir, "v*.metadata.json"))
                if (m := _VMETA_RE.search(p))
            ]
            best = max(versions, default=0)
        return best

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = version if version is not None else self.current_version()
        path = os.path.join(self.meta_dir, f"v{v}.metadata.json")
        d = json.load(open(path))
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_snapshot_id=d.get("parent_snapshot_id"),
            operation=d["operation"],
            manifests=d["manifests"],
            summary=d.get("summary", {}),
            quarantine=d.get("quarantine", []),
            timestamp_ms=d.get("timestamp_ms", 0),
            schema_ddl=d.get("schema"),
            delete_manifests=d.get("delete_manifests", []),
        )

    def snapshots(self) -> list[Snapshot]:
        out = []
        for v in range(1, self.current_version() + 1):
            if os.path.exists(os.path.join(self.meta_dir, f"v{v}.metadata.json")):
                out.append(self.snapshot(v))
        return out

    def schema(self, version: int | None = None) -> T.StructType:
        """Table schema at ``version`` (default: current). Pre-evolution
        snapshots (no tracked schema) are the base SEQUENCES_SCHEMA."""
        ddl = self.snapshot(version).schema_ddl
        if not ddl:
            return SEQUENCES_SCHEMA
        return T.StructType(
            [
                T.StructField(n, T.DataType.fromDDL(t), bool(nullable))
                for n, t, nullable in ddl
            ]
        )

    def add_columns(self, cols: dict[str, str]) -> Snapshot:
        """Schema evolution, add-only (the Iceberg subset a training
        pipeline needs — e.g. a quality-score or lineage-tag column):
        commit a metadata-only ``set-schema`` snapshot whose schema is
        the parent's plus ``cols`` ({name: Spark DDL type}), appended at
        the end and always nullable. Existing data files are untouched;
        reads null-fill the new columns (Spark's by-name parquet
        resolution under an explicit scan schema), and subsequent
        appends/merges write them. Renames/drops/type-changes are out of
        scope — they need Iceberg field-ids to be safe.
        """
        for name, ddl in cols.items():
            T.DataType.fromDDL(ddl)  # validate early, outside the CAS loop
        base = self.current_version()
        while True:
            parent = self.snapshot(base)
            have = set(self.schema(base).fieldNames())
            dupes = sorted(set(cols) & have)
            if dupes:
                raise ValueError(f"columns already exist: {dupes}")
            new_schema = [
                [f.name, f.dataType.simpleString(), f.nullable]
                for f in self.schema(base).fields
            ] + [[name, ddl, True] for name, ddl in cols.items()]
            snap = Snapshot(
                snapshot_id=base + 1,
                parent_snapshot_id=parent.snapshot_id,
                operation="set-schema",
                manifests=list(parent.manifests),
                summary={
                    "added_files": 0,
                    "removed_files": 0,
                    "total_files": parent.summary.get("total_files", 0),
                    "total_rows": parent.summary.get("total_rows", 0),
                    "total_tokens": parent.summary.get("total_tokens", 0),
                    "added_columns": sorted(cols),
                },
                quarantine=list(parent.quarantine),
                timestamp_ms=int(time.time() * 1000),
                schema_ddl=new_schema,
                delete_manifests=list(parent.delete_manifests),
            )
            if self._try_claim_version(base + 1, snap):
                return snap
            base = self.current_version()

    def drop_columns(self, names: list[str]) -> Snapshot:
        """Schema evolution, drop — EVOLVED columns only (the base
        sequence columns are load-bearing for stats, clustering keys and
        the quality gate). Metadata-only: data files keep the column's
        bytes, but every read's explicit schema omits it (Spark's
        by-name parquet resolution), and the next rewrite physically
        sheds it. Time travel before the drop still reads the column."""
        base_names = set(SEQUENCES_SCHEMA.fieldNames())
        bad = sorted(set(names) & base_names)
        if bad:
            raise ValueError(f"cannot drop base sequence columns: {bad}")
        base = self.current_version()
        while True:
            parent = self.snapshot(base)
            have = set(self.schema(base).fieldNames())
            missing = sorted(set(names) - have)
            if missing:
                raise ValueError(f"no such columns: {missing}")
            new_schema = [
                [f.name, f.dataType.simpleString(), f.nullable]
                for f in self.schema(base).fields
                if f.name not in set(names)
            ]
            snap = Snapshot(
                snapshot_id=base + 1,
                parent_snapshot_id=parent.snapshot_id,
                operation="set-schema",
                manifests=list(parent.manifests),
                summary={
                    "added_files": 0,
                    "removed_files": 0,
                    "total_files": parent.summary.get("total_files", 0),
                    "total_rows": parent.summary.get("total_rows", 0),
                    "total_tokens": parent.summary.get("total_tokens", 0),
                    "dropped_columns": sorted(names),
                },
                quarantine=list(parent.quarantine),
                timestamp_ms=int(time.time() * 1000),
                schema_ddl=new_schema,
                delete_manifests=list(parent.delete_manifests),
            )
            if self._try_claim_version(base + 1, snap):
                return snap
            base = self.current_version()

    def evolve_to_include(self, df: DataFrame) -> list[str]:
        """Schema evolution from a producer's batch (Iceberg's
        ``merge-schema`` write option): add every column ``df`` carries
        that the table schema lacks, as a nullable column of the
        source's type, and return the added names. Concurrent-writer
        safe: if another writer adds one of the columns first, the
        commit retries with the remainder instead of failing — the
        batch still lands with its columns represented."""
        added: list[str] = []
        while True:
            have = set(self.schema().fieldNames())
            extra = {
                f.name: f.dataType.simpleString()
                for f in df.schema.fields
                if f.name not in have
            }
            if not extra:
                return added
            try:
                self.add_columns(extra)
                return added + sorted(extra)
            except ValueError as e:
                if "already exist" not in str(e):
                    raise
                # a concurrent writer landed some of them — recompute

    def align_to_schema(self, df: DataFrame) -> DataFrame:
        """Project ``df`` onto the current schema for writing: evolved
        nullable columns missing from the input are null-filled (the
        file written by an un-evolved producer is still valid), missing
        base/required columns raise, and every column is cast to the
        schema type (no-op casts fold away)."""
        sch = self.schema()
        have = set(df.columns)
        base = set(SEQUENCES_SCHEMA.fieldNames())
        cols = []
        for f in sch.fields:
            if f.name in have:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            elif f.name in base or not f.nullable:
                raise ValueError(f"input is missing required column {f.name!r}")
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols)

    def _read_manifest(self, name: str) -> list[FileEntry]:
        d = json.load(open(os.path.join(self.meta_dir, name)))
        return [FileEntry.from_dict(e) for e in d["entries"]]

    def _write_manifest(self, entries: list[FileEntry]) -> str:
        name = f"manifest-{uuid.uuid4().hex}.json"
        tmp = os.path.join(self.meta_dir, f".tmp-{name}")
        with open(tmp, "w") as f:
            json.dump({"entries": [e.to_dict() for e in entries]}, f)
        os.rename(tmp, os.path.join(self.meta_dir, name))
        return name

    def live_entries(self, version: int | None = None) -> list[FileEntry]:
        snap = self.snapshot(version)
        out: list[FileEntry] = []
        for m in snap.manifests:
            out.extend(self._read_manifest(m))
        return out

    def live_paths(self, version: int | None = None) -> set[str]:
        return {e.path for e in self.live_entries(version)}

    def live_delete_entries(self, version: int | None = None) -> list[FileEntry]:
        """Live equality-delete files (merge-on-read DELETE)."""
        snap = self.snapshot(version)
        out: list[FileEntry] = []
        for m in snap.delete_manifests:
            out.extend(self._read_manifest(m))
        return out

    def live_delete_paths(self, version: int | None = None) -> set[str]:
        return {e.path for e in self.live_delete_entries(version)}

    # ---------------------------------------------------------------- commits

    def _try_claim_version(self, version: int, snap: Snapshot) -> bool:
        """Atomically claim v<version> with its full snapshot content
        (``claim_json``). True if won."""
        path = os.path.join(self.meta_dir, f"v{version}.metadata.json")
        payload = {
            "format_version": 1,
            "snapshot_id": snap.snapshot_id,
            "parent_snapshot_id": snap.parent_snapshot_id,
            "operation": snap.operation,
            "manifests": snap.manifests,
            "summary": snap.summary,
            "quarantine": snap.quarantine,
            "timestamp_ms": snap.timestamp_ms,
            "schema": snap.schema_ddl,
            "delete_manifests": snap.delete_manifests,
        }
        if not claim_json(path, payload):
            return False
        # advisory hint, atomically replaced
        tmp = os.path.join(self.meta_dir, f".tmp-hint-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.rename(tmp, os.path.join(self.meta_dir, "version-hint.text"))
        return True

    def commit(
        self,
        operation: str,
        added: list[FileEntry],
        removed_paths: Iterable[str] = (),
        required_paths: Iterable[str] = (),
        quarantine: list[dict[str, Any]] | None = None,
        base_version: int | None = None,
        max_retries: int = 20,
        summary_extra: dict[str, Any] | None = None,
        added_deletes: list[FileEntry] | None = None,
        removed_delete_paths: Iterable[str] = (),
        no_new_deletes_since: int | None = None,
    ) -> Snapshot:
        """Optimistic commit: new snapshot = parent − removed + added.

        ``required_paths``: files this operation *read* (its inputs).
        If a concurrent commit removed any of them, raise CommitConflict
        instead of silently committing over rewritten data — this is the
        Iceberg conflict-detection behavior the north_star requires.

        ``summary_extra`` lands INSIDE the atomic snapshot write (e.g.
        the streaming sink's epoch_id) — there is no window where the
        snapshot exists without its tags.

        Sequence numbers: ``added`` / ``added_deletes`` entries with
        ``seq=None`` are stamped with the claimed version; entries whose
        seq is already set (compaction preserving its inputs' min seq)
        keep it. DANGLING deletes — equality-delete files with no live
        data file of strictly smaller seq left to apply to — are shed
        automatically from the new snapshot (metadata-only), so a full
        rewrite physically materializes pending deletes and drops them.

        ``no_new_deletes_since``: Iceberg's ``validateNoNewDeleteFiles``
        for physical rewrites. A rewrite that read its inputs (applying
        the deletes live at snapshot V) and emits fresh-seq outputs
        MUST abort if an equality delete applicable to any of its
        inputs committed after V — otherwise the rewrite's outputs
        (seq > the new delete's seq) silently RESURRECT the deleted
        rows. Callers pin their read at ``read_files(...,
        version=V)`` and pass ``no_new_deletes_since=V``; the check
        re-runs on every optimistic retry against the current base.
        Seq-preserving rewrites (bin-pack compaction) don't need it:
        pending and future deletes still apply to their outputs.
        """
        removed = set(removed_paths)
        removed_del = set(removed_delete_paths)
        required = set(required_paths) | removed
        preset_seq = {
            id(e) for e in [*added, *(added_deletes or [])] if e.seq is not None
        }
        base = base_version if base_version is not None else self.current_version()
        for _ in range(max_retries):
            parent = self.snapshot(base)
            live_now = self.live_paths(base)
            if not required <= live_now:
                missing = sorted(required - live_now)[:5]
                raise CommitConflict(
                    f"{operation}: input files no longer live "
                    f"(concurrently rewritten): {missing}"
                )
            if no_new_deletes_since is not None and required:
                fresh_dels = [
                    d
                    for d in self.live_delete_entries(base)
                    if (d.seq or 0) > no_new_deletes_since
                ]
                if fresh_dels:
                    by_path = {
                        e.path: e for e in self.live_entries(base)
                    }
                    for p in sorted(required):
                        e = by_path.get(p)
                        if e is not None and applicable_delete_paths(
                            e, fresh_dels
                        ):
                            raise CommitConflict(
                                f"{operation}: equality-delete files "
                                f"committed after read snapshot "
                                f"{no_new_deletes_since} apply to input "
                                f"{p}; rewriting it would resurrect "
                                f"deleted rows — re-run to pick up the "
                                f"new deletes"
                            )
            for e in [*added, *(added_deletes or [])]:
                if id(e) not in preset_seq:
                    e.seq = base + 1
            # rewrite manifests: drop removed paths, keep the rest
            new_manifests: list[str] = []
            for m in parent.manifests:
                entries = self._read_manifest(m)
                kept = [e for e in entries if e.path not in removed]
                if len(kept) == len(entries):
                    new_manifests.append(m)  # manifest unchanged → shared
                elif kept:
                    new_manifests.append(self._write_manifest(kept))
            if added:
                new_manifests.append(self._write_manifest(list(added)))

            live = [
                e for m in new_manifests for e in self._read_manifest(m)
            ]
            # delete manifests: drop explicit removals and deletes gone
            # dangling (min live data seq >= delete seq ⇒ nothing older
            # than the delete remains — conservative, ignores key ranges)
            min_live_seq = min(((e.seq or 0) for e in live), default=None)

            def _dangling(d: FileEntry) -> bool:
                return min_live_seq is None or min_live_seq >= (d.seq or 0)

            new_del_manifests: list[str] = []
            shed = 0
            for m in parent.delete_manifests:
                entries = self._read_manifest(m)
                kept = [
                    d
                    for d in entries
                    if d.path not in removed_del and not _dangling(d)
                ]
                shed += sum(1 for d in entries if _dangling(d))
                if len(kept) == len(entries):
                    new_del_manifests.append(m)
                elif kept:
                    new_del_manifests.append(self._write_manifest(kept))
            fresh_dels = [d for d in (added_deletes or []) if not _dangling(d)]
            if fresh_dels:
                new_del_manifests.append(self._write_manifest(fresh_dels))
            live_dels = [
                d for m in new_del_manifests for d in self._read_manifest(m)
            ]
            snap = Snapshot(
                snapshot_id=base + 1,
                parent_snapshot_id=parent.snapshot_id,
                operation=operation,
                manifests=new_manifests,
                summary={
                    "added_files": len(added),
                    "removed_files": len(removed),
                    "total_files": len(live),
                    "total_rows": sum(e.rows for e in live),
                    "total_tokens": sum(e.token_count for e in live),
                    **(
                        {
                            "added_delete_files": len(added_deletes or []),
                            "shed_delete_files": shed + len(removed_del),
                            "total_delete_files": len(live_dels),
                            "total_delete_rows": sum(d.rows for d in live_dels),
                        }
                        if (added_deletes or parent.delete_manifests or removed_del)
                        else {}
                    ),
                    **(summary_extra or {}),
                },
                quarantine=quarantine or [],
                timestamp_ms=int(time.time() * 1000),
                schema_ddl=parent.schema_ddl,  # data commits keep the schema
                delete_manifests=new_del_manifests,
            )
            if self._try_claim_version(base + 1, snap):
                return snap
            base = self.current_version()  # lost the race → revalidate + retry
        raise CommitConflict(f"{operation}: gave up after {max_retries} retries")

    # ---------------------------------------------------------------- data IO

    def _abs(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def compute_file_stats(self, abs_paths: list[str]) -> list[FileEntry]:
        """Per-file stats via ONE distributed aggregation over
        input_file_name() — never reads data on the driver."""
        if not abs_paths:
            return []
        df = self.spark.read.schema(self.schema()).parquet(*abs_paths)
        rows = (
            df.groupBy(F.input_file_name().alias("file"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("n_tok").cast("long").alias("token_count"),
                F.sum(F.col("n_tok").cast("long") * F.col("n_tok").cast("long")).alias(
                    "sum_sq_n_tok"
                ),
                F.min("n_tok").alias("min_n_tok"),
                F.max("n_tok").alias("max_n_tok"),
                F.min("source").alias("min_source"),
                F.max("source").alias("max_source"),
                F.min("doc_id").alias("min_doc_id"),
                F.max("doc_id").alias("max_doc_id"),
            )
            .collect()
        )
        out = []
        for r in rows:
            # input_file_name returns a URI (file:///...)
            p = r["file"]
            p = p[7:] if p.startswith("file://") else p
            rel = os.path.relpath(p, self.root)
            out.append(
                FileEntry(
                    path=rel,
                    rows=int(r["rows"]),
                    token_count=int(r["token_count"] or 0),
                    size_bytes=os.path.getsize(p),
                    min_n_tok=r["min_n_tok"],
                    max_n_tok=r["max_n_tok"],
                    min_source=r["min_source"],
                    max_source=r["max_source"],
                    min_doc_id=r["min_doc_id"],
                    max_doc_id=r["max_doc_id"],
                    sum_sq_n_tok=int(r["sum_sq_n_tok"] or 0),
                )
            )
        return out

    def write_data_files(
        self,
        df: DataFrame,
        prefix: str | None = None,
        split_col: str | None = None,
    ) -> list[FileEntry]:
        """Write a DataFrame as new (uncommitted) data files, return stats
        (see ``_write_files``)."""
        return self._write_files(df, prefix, split_col, with_deletes=False)[0]

    def write_upsert_files(
        self, df: DataFrame
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        """Write a merge-on-read upsert's files in ONE writer job: each
        data file gets a paired equality-delete file holding exactly its
        doc_ids (``delete-<data file name>``). Returns (data entries,
        delete entries), index-aligned: ``deletes[i]`` pairs ``data[i]``,
        so a caller that quarantines a data file drops its pair and the
        replaced rows stay live. ``df`` must carry unique doc_ids."""
        return self._write_files(df, None, None, with_deletes=True)

    def _write_files(
        self,
        df: DataFrame,
        prefix: str | None,
        split_col: str | None,
        with_deletes: bool,
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        """Write a DataFrame as new (uncommitted) data files, return stats.

        ONE distributed job — the Iceberg writer-task model (Spark's
        SparkWrite/DataWriter returns DataFile structs with stats): each
        task streams its Arrow batches through pyarrow ParquetWriters and
        emits one stats row per file (rows, token sum, min/max of the
        pruning columns) accumulated from the batches it wrote. Within-
        partition row order (the clustering sort) is preserved because
        Arrow batches arrive and are written in order.

        With ``split_col`` (an int column, consumed — not written), a
        task starts a new file every time the column's value changes, so
        one task can emit one file per range bucket (the Iceberg fanout-
        writer model). Rows must arrive sorted by ``split_col`` within
        the partition and one value must not span partitions (use a hash
        repartition on the column); file names are derived from the
        bucket value, so they are stable across retries.

        Files land in data/ under a fresh uuid prefix; they become live
        only when a subsequent commit references them. Tasks write to an
        attempt-unique ``.inprogress-*`` temp and atomically rename to
        the deterministic final name, so retried tasks can't duplicate
        files; stale temps and never-committed orphans are swept by
        expire_snapshots' reachability GC.

        With ``with_deletes`` the same task also streams each data file's
        doc_id column into a paired equality-delete file, renamed into
        place like the data file; its doc_id range is the data file's.
        """
        prefix = prefix or uuid.uuid4().hex
        data_dir = self.data_dir
        root = self.root
        data_names = list(self.schema().fieldNames())
        stats_schema = (
            "path string, rows long, token_count long, sum_sq_n_tok long, "
            "size_bytes long, "
            "min_n_tok int, max_n_tok int, min_source string, max_source string, "
            "min_doc_id string, max_doc_id string, key_bloom string, "
            "delete_path string, delete_size_bytes long"
        )

        def _write(batches):
            import os as _os

            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq
            from pyspark import TaskContext

            from datalakequality_spark.sources import keybloom

            ctx = TaskContext.get()
            attempt = ctx.taskAttemptId()
            out_schema = pa.schema(
                [
                    ("path", pa.string()),
                    ("rows", pa.int64()),
                    ("token_count", pa.int64()),
                    ("sum_sq_n_tok", pa.int64()),
                    ("size_bytes", pa.int64()),
                    ("min_n_tok", pa.int32()),
                    ("max_n_tok", pa.int32()),
                    ("min_source", pa.string()),
                    ("max_source", pa.string()),
                    ("min_doc_id", pa.string()),
                    ("max_doc_id", pa.string()),
                    ("key_bloom", pa.string()),
                    ("delete_path", pa.string()),
                    ("delete_size_bytes", pa.int64()),
                ]
            )
            results: list[dict] = []
            cur: dict | None = None

            def _open(group: int) -> dict:
                name = f"{prefix}-{group:05d}"
                return {
                    "group": group,
                    "final": _os.path.join(data_dir, f"{name}.parquet"),
                    "tmp": _os.path.join(data_dir, f".inprogress-{name}-{attempt}"),
                    "del_final": _os.path.join(data_dir, f"delete-{name}.parquet"),
                    "del_tmp": _os.path.join(
                        data_dir, f".inprogress-delete-{name}-{attempt}"
                    ),
                    "writer": None,
                    "del_writer": None,
                    "buf": [],
                    "buffered": 0,
                    "rows": 0,
                    "token_count": 0,
                    "sum_sq": 0,
                    "hashes": [],
                    "mins": {"n_tok": None, "source": None, "doc_id": None},
                    "maxs": {"n_tok": None, "source": None, "doc_id": None},
                }

            def _flush(st: dict) -> None:
                if not st["buf"]:
                    return
                tbl = pa.Table.from_batches(st["buf"])
                if st["writer"] is None:
                    st["writer"] = pq.ParquetWriter(
                        st["tmp"], tbl.schema, compression="zstd"
                    )
                st["writer"].write_table(tbl)
                if with_deletes:
                    keys = tbl.select(["doc_id"])
                    if st["del_writer"] is None:
                        st["del_writer"] = pq.ParquetWriter(
                            st["del_tmp"], keys.schema, compression="zstd"
                        )
                    st["del_writer"].write_table(keys)
                st["buf"], st["buffered"] = [], 0

            def _feed(st: dict, batch, h_np) -> None:
                if batch.num_rows == 0:
                    return
                st["hashes"].append(h_np)
                st["rows"] += batch.num_rows
                st["token_count"] += pc.sum(batch.column("n_tok")).as_py() or 0
                nt64 = pc.cast(batch.column("n_tok"), pa.int64())
                st["sum_sq"] += pc.sum(pc.multiply(nt64, nt64)).as_py() or 0
                for name in ("n_tok", "source", "doc_id"):
                    mm = pc.min_max(batch.column(name))
                    lo, hi = mm["min"].as_py(), mm["max"].as_py()
                    if lo is not None:
                        st["mins"][name] = (
                            lo if st["mins"][name] is None else min(st["mins"][name], lo)
                        )
                    if hi is not None:
                        st["maxs"][name] = (
                            hi if st["maxs"][name] is None else max(st["maxs"][name], hi)
                        )
                st["buf"].append(batch)
                st["buffered"] += batch.num_rows
                # ~128k-row row groups: granular enough for row-group
                # pruning, coarse enough to keep footers small
                if st["buffered"] >= 128_000:
                    _flush(st)

            def _close(st: dict) -> None:
                _flush(st)
                if st["writer"] is None:
                    return
                st["writer"].close()
                # sidecar lands BEFORE the data file's rename, so a
                # live data file always has its sketch; a crash in
                # between leaves an orphan .bloom the GC sweeps
                bloom = keybloom.write_sidecar(
                    st["final"],
                    np.concatenate(st["hashes"]) if st["hashes"] else [],
                    attempt,
                )
                del_path = del_size = None
                if with_deletes:
                    st["del_writer"].close()
                    _os.rename(st["del_tmp"], st["del_final"])
                    del_path = st["del_final"]
                    del_size = _os.path.getsize(del_path)
                _os.rename(st["tmp"], st["final"])
                results.append(
                    {
                        "path": st["final"],
                        "rows": st["rows"],
                        "token_count": st["token_count"],
                        "sum_sq_n_tok": st["sum_sq"],
                        "size_bytes": _os.path.getsize(st["final"]),
                        "min_n_tok": st["mins"]["n_tok"],
                        "max_n_tok": st["maxs"]["n_tok"],
                        "min_source": st["mins"]["source"],
                        "max_source": st["maxs"]["source"],
                        "min_doc_id": st["mins"]["doc_id"],
                        "max_doc_id": st["maxs"]["doc_id"],
                        "key_bloom": bloom,
                        "delete_path": del_path,
                        "delete_size_bytes": del_size,
                    }
                )

            for batch in batches:
                if batch.num_rows == 0:
                    continue
                # __keyhash feeds the sidecar sketch only — never written
                h = batch.column("__keyhash").to_numpy(zero_copy_only=False)
                data = pa.RecordBatch.from_arrays(
                    [batch.column(n) for n in data_names], names=data_names
                )
                if split_col is None:
                    if cur is None:
                        cur = _open(ctx.partitionId())
                    _feed(cur, data, h)
                    continue
                g = batch.column(split_col).to_numpy(zero_copy_only=False)
                cuts = np.flatnonzero(g[1:] != g[:-1]) + 1
                starts = np.concatenate(([0], cuts))
                ends = np.concatenate((cuts, [len(g)]))
                for s, e in zip(starts, ends):
                    grp = int(g[s])
                    if cur is None or cur["group"] != grp:
                        if cur is not None:
                            _close(cur)
                        cur = _open(grp)
                    _feed(cur, data.slice(s, e - s), h[s:e])
            if cur is not None:
                _close(cur)
            if results:
                yield pa.RecordBatch.from_pylist(results, schema=out_schema)

        cols = [*data_names, *([split_col] if split_col else [])]
        stat_rows = (
            df.select(*cols, F.xxhash64("doc_id").alias("__keyhash"))
            .mapInArrow(_write, stats_schema)
            .collect()
        )
        stat_rows = sorted(stat_rows, key=lambda r: r["path"])
        data = [
            FileEntry(
                path=os.path.relpath(r["path"], root),
                rows=int(r["rows"]),
                token_count=int(r["token_count"]),
                size_bytes=int(r["size_bytes"]),
                min_n_tok=r["min_n_tok"],
                max_n_tok=r["max_n_tok"],
                min_source=r["min_source"],
                max_source=r["max_source"],
                min_doc_id=r["min_doc_id"],
                max_doc_id=r["max_doc_id"],
                sum_sq_n_tok=int(r["sum_sq_n_tok"] or 0),
                key_bloom=os.path.relpath(r["key_bloom"], root),
            )
            for r in stat_rows
        ]
        deletes = [
            FileEntry(
                path=os.path.relpath(r["delete_path"], root),
                rows=int(r["rows"]),
                token_count=0,
                size_bytes=int(r["delete_size_bytes"]),
                min_doc_id=r["min_doc_id"],
                max_doc_id=r["max_doc_id"],
            )
            for r in stat_rows
            if r["delete_path"] is not None
        ]
        return data, deletes

    def write_delete_files(
        self, keys_df: DataFrame, max_rows_per_file: int = 4_000_000
    ) -> list[FileEntry]:
        """Write (uncommitted) EQUALITY-DELETE files: doc_id-keyed
        parquet under data/ with ``delete-`` names. The caller commits
        them via ``commit(added_deletes=...)``; at scan time their keys
        are anti-joined out of data files with seq < the delete's seq.

        For key sets with no data file of their own: merge-on-read
        DELETE (``merge._delete_mor``) and delete-file compaction
        (``compaction.compact_delete_files``). Upserts, whose keys are
        exactly their new rows' keys, write each delete file next to its
        data file in one job instead (``write_upsert_files``).

        One distributed write + O(#delete files) driver-side footer
        reads for stats (delete files are O(matched keys) — tiny next
        to the data they suppress; that asymmetry is the whole point of
        merge-on-read)."""
        import shutil

        import pyarrow.parquet as pq

        n = keys_df.count()
        if n == 0:
            return []
        prefix = f"delete-{uuid.uuid4().hex}"
        stage = os.path.join(self.data_dir, f".stage-{prefix}")
        parts = max(1, -(-n // max_rows_per_file))
        (
            keys_df.select("doc_id")
            .repartition(parts)
            .write.mode("overwrite")
            .parquet(stage)
        )
        entries: list[FileEntry] = []
        for i, p in enumerate(
            sorted(glob.glob(os.path.join(stage, "part-*.parquet")))
        ):
            final = os.path.join(self.data_dir, f"{prefix}-{i:05d}.parquet")
            os.rename(p, final)
            md = pq.read_metadata(final)
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(0).statistics
                if st is not None and st.has_min_max:
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            entries.append(
                FileEntry(
                    path=os.path.relpath(final, self.root),
                    rows=md.num_rows,
                    token_count=0,
                    size_bytes=os.path.getsize(final),
                    min_doc_id=lo,
                    max_doc_id=hi,
                )
            )
        shutil.rmtree(stage, ignore_errors=True)
        return entries

    def append(
        self,
        df: DataFrame,
        target_file_rows: int | None = None,
        merge_schema: bool = False,
    ) -> Snapshot:
        if merge_schema:
            self.evolve_to_include(df)
        df = self.align_to_schema(df)
        if target_file_rows:
            n = df.count()
            df = df.repartition(max(1, -(-n // target_file_rows)))
        entries = self.write_data_files(df)
        return self.commit("append", added=entries)

    # ------------------------------------------------------------------ scans

    def prune_entries(
        self,
        entries: list[FileEntry],
        min_n_tok: int | None = None,
        max_n_tok: int | None = None,
        sources: list[str] | None = None,
    ) -> list[FileEntry]:
        """Manifest-level file skipping on per-file min/max stats — the
        custom half of partition pruning (SURVEY.md §4.2); Parquet
        row-group pushdown still applies inside surviving files."""
        out = []
        for e in entries:
            if min_n_tok is not None and e.max_n_tok is not None and e.max_n_tok < min_n_tok:
                continue
            if max_n_tok is not None and e.min_n_tok is not None and e.min_n_tok > max_n_tok:
                continue
            if sources is not None and e.min_source is not None:
                if e.min_source == e.max_source and e.min_source not in sources:
                    continue
            out.append(e)
        return out

    def _read_with_deletes(
        self, entries: list[FileEntry], version: int | None = None
    ) -> DataFrame:
        """Read the given data-file entries, applying live equality
        deletes (merge-on-read). A delete applies to a data file iff the
        delete's seq is strictly greater than the file's seq AND their
        doc_id ranges can overlap; files are grouped by their applicable
        delete set so each group is ONE scan + ONE anti-join (group
        count = distinct delete-generation combos, typically 1–2). The
        delete side is broadcast when its manifest-known size fits the
        session threshold — at 10^12-row scale a takedown's key set is
        tiny, so the anti-join adds no shuffle to the scan."""
        sch = self.schema(version)
        if not entries:
            return self.spark.createDataFrame([], sch)
        dels = {d.path: d for d in self.live_delete_entries(version)}
        if not dels:
            paths = [self._abs(e.path) for e in entries]
            return self.spark.read.schema(sch).parquet(*paths)

        groups: dict[frozenset, list[FileEntry]] = {}
        for e in entries:
            app = applicable_delete_paths(e, list(dels.values()))
            groups.setdefault(app, []).append(e)

        from ..maintenance.merge import broadcast_threshold_bytes

        thr = broadcast_threshold_bytes(self.spark)
        key_schema = T.StructType([sch["doc_id"]])
        parts: list[DataFrame] = []
        for app, es in groups.items():
            df = self.spark.read.schema(sch).parquet(
                *[self._abs(e.path) for e in es]
            )
            if app:
                keys = self.spark.read.schema(key_schema).parquet(
                    *[self._abs(p) for p in sorted(app)]
                )
                if 0 < sum(dels[p].size_bytes for p in app) * 4 <= thr:
                    keys = F.broadcast(keys)
                df = df.join(keys, "doc_id", "left_anti")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_files(
        self, rel_paths: list[str], version: int | None = None
    ) -> DataFrame:
        """Read specific live data files WITH pending equality deletes
        applied — the reader every physical rewrite (merge, clustering,
        predicate DML) must use so MoR-deleted rows are never
        resurrected into fresh-seq output files."""
        by_path = {e.path: e for e in self.live_entries(version)}
        entries = [by_path[p] for p in rel_paths if p in by_path]
        return self._read_with_deletes(entries, version)

    def scan(
        self,
        version: int | str | None = None,
        min_n_tok: int | None = None,
        max_n_tok: int | None = None,
        sources: list[str] | None = None,
    ) -> DataFrame:
        """Snapshot scan with manifest-level file pruning and
        merge-on-read delete application. ``version`` may be a version
        number or a tag name. Residual predicates still applied by the
        caller (pruning is conservative)."""
        version = self.version_of(version)
        entries = self.prune_entries(
            self.live_entries(version), min_n_tok, max_n_tok, sources
        )
        return self._read_with_deletes(entries, version)

    def canonical_scan(self, version: int | None = None) -> DataFrame:
        """Scan in canonical order (doc_id) — the basis of byte-for-byte
        parity checks under the token-array-equality invariant."""
        return self.scan(version).orderBy("doc_id")

    def incremental_scan(
        self, from_version: int | str, to_version: int | str | None = None
    ) -> DataFrame:
        """Rows ADDED in snapshots (from_version, to_version] — both
        bounds may be version numbers or tag names — the
        Iceberg incremental-append read a training pipeline uses to pick
        up new sequences without rescanning the table.

        Defined only over append-shaped ranges (append / merge-insert /
        stream-append); a rewrite (compact/cluster/rewrite-sorted) or a
        row-removing merge in the range makes "new rows" ambiguous
        (files change without row identity), so — matching Iceberg's
        IncrementalAppendScan — such ranges raise ValueError.

        Implementation is metadata-only: new files = live(to) − live(from)
        (manifest set difference), then ONE pruned parquet scan of just
        those files.
        """
        from_version = self.version_of(from_version)
        to_version = (
            self.version_of(to_version)
            if to_version is not None
            else self.current_version()
        )
        if not 0 < from_version <= to_version:
            raise ValueError(
                f"invalid incremental range ({from_version}, {to_version}]"
            )
        for v in range(from_version + 1, to_version + 1):
            snap = self.snapshot(v)
            if int(snap.summary.get("removed_files", 0)) > 0:
                raise ValueError(
                    f"snapshot v{v} ({snap.operation}) removed files: "
                    "incremental scan is append-only (Iceberg "
                    "IncrementalAppendScan semantics) — read the ranges "
                    "on either side of the rewrite instead"
                )
            if int(snap.summary.get("added_delete_files", 0)) > 0:
                raise ValueError(
                    f"snapshot v{v} ({snap.operation}) added equality-"
                    "delete files: incremental scan is append-only "
                    "(merge-on-read deletes make 'rows added' ambiguous)"
                )
        base_paths = self.live_paths(from_version)
        new_entries = [
            e for e in self.live_entries(to_version) if e.path not in base_paths
        ]
        sch = self.schema(to_version)
        if not new_entries:
            return self.spark.createDataFrame([], sch)
        paths = [self._abs(e.path) for e in new_entries]
        return self.spark.read.schema(sch).parquet(*paths)

    # content-preserving physical ops: the live ROW SET is unchanged by
    # construction (certified by the content-invariance tests), so the
    # changelog skips them with ZERO I/O — a consumer never pays for
    # compaction/clustering/delete-backlog maintenance. A gated rewrite
    # that QUARANTINED files did remove rows and falls through to the
    # generic diff.
    _CONTENT_PRESERVING_OPS = frozenset(
        {"compact", "cluster", "rewrite-sorted", "rewrite-deletes"}
    )

    def changelog_scan(
        self, from_version: int | str, to_version: int | str | None = None
    ) -> DataFrame:
        """Row-level CDC over snapshots (from_version, to_version] —
        Iceberg's changelog scan (``create_changelog_view``): every row
        that became visible is emitted as INSERT and every row that
        stopped being visible as DELETE (an update = DELETE of the old
        row + INSERT of the new one), tagged ``_change_type`` /
        ``_commit_version``. Unlike ``incremental_scan`` this is total:
        it handles MoR/CoW DML, rollbacks and gated rewrites, so a
        downstream consumer can keep a derived store in sync reading
        O(changed data), never O(table).

        Per-commit cost model (the 100-TB contract):
        - content-preserving rewrites (compaction, clustering,
          delete-file compaction) → skipped metadata-only;
        - appends → one scan of the added files, no diff;
        - merge-on-read commits → added files scanned for INSERTs, and
          DELETEs from a pruned semi-join: only data files whose
          applicable-delete set changed are read at the parent version;
        - everything else (CoW DML, rollback, quarantining rewrites) →
          bag-diff (exceptAll) restricted to the touched files.

        Rows are emitted in ``to_version``'s schema (columns added or
        dropped mid-range are null-filled / dropped; the schema-change
        commit itself emits nothing, matching Iceberg). Needs the
        range's snapshots retained — expired parents raise.
        """
        from_version = self.version_of(from_version)
        to_version = (
            self.version_of(to_version)
            if to_version is not None
            else self.current_version()
        )
        if not 0 < from_version <= to_version:
            # v1 is the create snapshot, so from_version=1 is the full
            # history; v0 has no metadata to diff against
            raise ValueError(
                f"invalid changelog range ({from_version}, {to_version}]"
            )
        final_sch = self.schema(to_version)

        def _tag(df: DataFrame, kind: str, v: int) -> DataFrame:
            cols = [
                F.col(f.name)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in final_sch.fields
            ]
            return df.select(
                *cols,
                F.lit(kind).alias("_change_type"),
                F.lit(v).alias("_commit_version"),
            )

        parts: list[DataFrame] = []
        for v in range(from_version + 1, to_version + 1):
            snap = self.snapshot(v)
            if (
                snap.operation in self._CONTENT_PRESERVING_OPS
                and not snap.quarantine
            ):
                continue
            prev_entries = {e.path: e for e in self.live_entries(v - 1)}
            cur_entries = {e.path: e for e in self.live_entries(v)}
            added = [e for p, e in cur_entries.items() if p not in prev_entries]
            removed = [
                e for p, e in prev_entries.items() if p not in cur_entries
            ]
            prev_dels = self.live_delete_entries(v - 1)
            cur_dels = self.live_delete_entries(v)
            new_del_paths = {d.path for d in cur_dels} - {
                d.path for d in prev_dels
            }
            # files live at BOTH versions whose visibility may have
            # changed because their applicable-delete set changed
            # (MoR delete/merge, rollback across a delete commit)
            common_changed = [
                e
                for p, e in cur_entries.items()
                if p in prev_entries
                and applicable_delete_paths(e, prev_dels)
                != applicable_delete_paths(e, cur_dels)
            ]
            if not added and not removed and not common_changed:
                continue
            if not removed and new_del_paths >= (
                {d.path for d in cur_dels} ^ {d.path for d in prev_dels}
            ):
                # fast path — append / MoR delete / MoR merge: added
                # files carry only new rows (no delete can apply to
                # their seq yet), and the only visibility change on
                # common files is the NEW delete keys → semi-join
                # instead of a bag-diff
                if added:
                    parts.append(
                        _tag(self._read_with_deletes(added, v), "INSERT", v)
                    )
                if common_changed and new_del_paths:
                    from ..maintenance.merge import broadcast_threshold_bytes

                    key_schema = T.StructType([self.schema(v)["doc_id"]])
                    keys = self.spark.read.schema(key_schema).parquet(
                        *[self._abs(p) for p in sorted(new_del_paths)]
                    )
                    by_path = {d.path: d for d in cur_dels}
                    del_bytes = sum(
                        by_path[p].size_bytes for p in new_del_paths
                    )
                    if 0 < del_bytes * 4 <= broadcast_threshold_bytes(
                        self.spark
                    ):
                        keys = F.broadcast(keys)
                    gone = self._read_with_deletes(common_changed, v - 1).join(
                        keys, "doc_id", "semi"
                    )
                    parts.append(_tag(gone, "DELETE", v))
                continue
            before = self._read_with_deletes(removed + common_changed, v - 1)
            after = self._read_with_deletes(added + common_changed, v)
            if set(before.columns) != set(after.columns):
                # schema changed mid-range: diff on the common columns
                shared = [c for c in after.columns if c in set(before.columns)]
                before, after = before.select(*shared), after.select(*shared)
            parts.append(_tag(after.exceptAll(before), "INSERT", v))
            parts.append(_tag(before.exceptAll(after), "DELETE", v))

        meta = T.StructType(
            list(final_sch.fields)
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_version", T.IntegerType(), False),
            ]
        )
        if not parts:
            return self.spark.createDataFrame([], meta)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def snapshots_df(self) -> DataFrame:
        """Iceberg's ``snapshots`` metadata table as a DataFrame: one
        row per retained snapshot (id, parent, operation, totals,
        schema'd summary as a map). Driver-side metadata → DataFrame;
        O(#retained snapshots), the same cost class as ``snapshots()``."""
        rows = [
            {
                "snapshot_id": s.snapshot_id,
                "parent_snapshot_id": s.parent_snapshot_id,
                "operation": s.operation,
                "timestamp_ms": s.timestamp_ms,
                "total_files": int(s.summary.get("total_files", 0)),
                "total_rows": int(s.summary.get("total_rows", 0)),
                "total_tokens": int(s.summary.get("total_tokens", 0)),
                "summary": {k: str(v) for k, v in s.summary.items()},
            }
            for s in self.snapshots()
        ]
        schema = (
            "snapshot_id long, parent_snapshot_id long, operation string, "
            "timestamp_ms long, total_files long, total_rows long, "
            "total_tokens long, summary map<string,string>"
        )
        return self.spark.createDataFrame(rows, schema)

    def files_df(self, version: int | None = None) -> DataFrame:
        """Iceberg's ``files`` metadata table: one row per live data
        file with its manifest stats (rows, tokens, size, per-file
        min/max of the pruning columns) — what an operator inspects to
        decide whether compaction or clustering is due, without touching
        any data file."""
        rows = [
            {
                "path": e.path,
                "rows": e.rows,
                "token_count": e.token_count,
                "size_bytes": e.size_bytes,
                "min_n_tok": e.min_n_tok,
                "max_n_tok": e.max_n_tok,
                "min_source": e.min_source,
                "max_source": e.max_source,
                "min_doc_id": e.min_doc_id,
                "max_doc_id": e.max_doc_id,
                "seq": e.seq or 0,
            }
            for e in self.live_entries(version)
        ]
        schema = (
            "path string, rows long, token_count long, size_bytes long, "
            "min_n_tok int, max_n_tok int, min_source string, "
            "max_source string, min_doc_id string, max_doc_id string, "
            "seq long"
        )
        return self.spark.createDataFrame(rows, schema)

    def delete_files_df(self, version: int | None = None) -> DataFrame:
        """Iceberg's ``files`` table restricted to EQUALITY-DELETE files
        (content=2 in Iceberg terms): one row per live delete file with
        its key count, size, key range and sequence number — what an
        operator inspects to decide whether the delete backlog warrants
        a shedding rewrite."""
        rows = [
            {
                "path": d.path,
                "deleted_keys": d.rows,
                "size_bytes": d.size_bytes,
                "min_doc_id": d.min_doc_id,
                "max_doc_id": d.max_doc_id,
                "seq": d.seq or 0,
            }
            for d in self.live_delete_entries(version)
        ]
        schema = (
            "path string, deleted_keys long, size_bytes long, "
            "min_doc_id string, max_doc_id string, seq long"
        )
        return self.spark.createDataFrame(rows, schema)

    def rollback_to(self, version: int | str) -> Snapshot:
        """Roll the table back to the state of snapshot ``version``
        (a version number or a tag name) —
        Iceberg's ``rollback_to_snapshot``: a NEW snapshot whose live
        file set is the old one, so history is preserved (the bad
        merge/rewrite stays inspectable and time-travelable) and the
        operation is itself undoable. Metadata-only: manifests are
        immutable and shared by name; no data file moves.

        The rolled-back-to files must still exist — snapshot expiration
        may have GC'd them — so the target must be a retained snapshot.
        """
        version = self.version_of(version)
        current = self.current_version()
        if not 0 < version <= current:
            raise ValueError(f"cannot roll back to v{version} (current v{current})")
        target = self.snapshot(version)  # raises if expired/missing
        target_paths = self.live_paths(version)
        # O(#files) driver-side stat — the same cost class as expire's
        # reachability walk, and rollback is a rare operator action
        missing = [
            p
            for p in sorted(target_paths | self.live_delete_paths(version))
            if not os.path.exists(self._abs(p))
        ]
        if missing:
            raise ValueError(
                f"rollback target v{version} references GC'd data files: "
                f"{missing[:5]}"
            )
        base = current
        while True:
            parent = self.snapshot(base)
            parent_paths = self.live_paths(base)
            snap = Snapshot(
                snapshot_id=base + 1,
                parent_snapshot_id=parent.snapshot_id,
                operation="rollback",
                manifests=list(target.manifests),
                summary={
                    "added_files": len(target_paths - parent_paths),
                    "removed_files": len(parent_paths - target_paths),
                    "total_files": target.summary.get("total_files", len(target_paths)),
                    "total_rows": target.summary.get("total_rows", 0),
                    "total_tokens": target.summary.get("total_tokens", 0),
                    "rollback_of": parent.snapshot_id,
                    "rollback_to": version,
                },
                quarantine=list(target.quarantine),
                timestamp_ms=int(time.time() * 1000),
                schema_ddl=target.schema_ddl,  # restore the schema too
                delete_manifests=list(target.delete_manifests),
            )
            if self._try_claim_version(base + 1, snap):
                return snap
            base = self.current_version()

    # ------------------------------------------------------------------- GC

    # ------------------------------------------------------------------ tags

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Tag a snapshot with an immutable name (Iceberg tag refs): the
        tagged version survives ``expire_snapshots`` until the tag is
        dropped — a training run pins its exact input ("dataset-v3")
        and stays reproducible through table maintenance. One file per
        tag, created by ``claim_json`` — the same atomic claim as a
        commit, so a failed create leaves the name free; tags are
        immutable (drop and re-create to move one)."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
            raise ValueError(f"invalid tag name {name!r}")
        v = version if version is not None else self.current_version()
        # must reference a retained snapshot
        self.snapshot(v)
        path = os.path.join(self.meta_dir, f"ref-{name}.json")
        if not claim_json(path, {"name": name, "version": v, "type": "tag"}):
            raise ValueError(f"tag {name!r} already exists")
        return v

    def tags(self) -> dict[str, int]:
        out = {}
        for p in glob.glob(os.path.join(self.meta_dir, "ref-*.json")):
            try:
                d = json.load(open(p))
                out[d["name"]] = d["version"]
            except (OSError, ValueError, KeyError):
                continue  # unreadable ref (dropped concurrently, or torn)
        return out

    def drop_tag(self, name: str) -> None:
        path = os.path.join(self.meta_dir, f"ref-{name}.json")
        try:
            os.remove(path)
        except FileNotFoundError:
            raise ValueError(f"no tag {name!r}") from None

    def version_of(self, ref: int | str | None) -> int | None:
        """Resolve a version-or-tag argument to a version number."""
        if ref is None or isinstance(ref, int):
            return ref
        tags = self.tags()
        if ref not in tags:
            raise ValueError(f"no tag {ref!r}")
        return tags[ref]

    def expire_snapshots(
        self, keep_last: int = 1, orphan_temp_age_s: float = 3600.0
    ) -> dict[str, Any]:
        """Drop all but the last ``keep_last`` snapshots and GC anything
        unreachable: data files and manifests referenced by no retained
        snapshot, plus staged orphans never committed.

        ``.inprogress-*`` writer temps (and ``metadata/.tmp-*`` commit
        temps) are removed only when older than
        ``orphan_temp_age_s`` (Iceberg's orphan-file-cleanup mtime
        pattern): an expire running concurrently with an in-flight
        rewrite/merge must not unlink temps a writer task still holds
        open — its rename-to-final would fail and kill the job."""
        current = self.current_version()
        keep_versions = set(range(max(1, current - keep_last + 1), current + 1))
        keep_versions.update(self.tags().values())  # tagged snapshots pinned
        retained_manifests: set[str] = set()
        retained_files: set[str] = set()
        for v in keep_versions:
            snap = self.snapshot(v)
            retained_manifests.update(snap.manifests)
            retained_manifests.update(snap.delete_manifests)
            for m in [*snap.manifests, *snap.delete_manifests]:
                retained_files.update(e.path for e in self._read_manifest(m))
            # quarantined files stay on disk for inspection — they are
            # referenced by the snapshot's quarantine metadata, not by a
            # manifest, but are still reachable state
            retained_files.update(q["path"] for q in snap.quarantine if "path" in q)

        deleted_files, deleted_manifests, deleted_snapshots = [], [], []
        # stale writer temps from failed/retried tasks (never renamed)
        # and metadata temps of crashed commits — age-gated so live
        # writers' open temps survive a concurrent GC
        now = time.time()
        for p in [
            *glob.glob(os.path.join(self.data_dir, ".inprogress-*")),
            *glob.glob(os.path.join(self.meta_dir, ".tmp-*")),
        ]:
            try:
                if now - os.path.getmtime(p) >= orphan_temp_age_s:
                    os.remove(p)
            except OSError:
                pass
        for p in glob.glob(os.path.join(self.data_dir, "*.parquet")):
            rel = os.path.relpath(p, self.root)
            if rel not in retained_files:
                os.remove(p)
                deleted_files.append(rel)
        # key-bloom sidecars live and die with their data file — sweep
        # any whose data file is not retained (covers both expired files
        # and the crash window where a sidecar landed but its data
        # file's rename never happened)
        for p in glob.glob(os.path.join(self.data_dir, "*.parquet.bloom")):
            rel = os.path.relpath(p, self.root)
            if rel[: -len(".bloom")] not in retained_files:
                try:
                    os.remove(p)
                except OSError:
                    pass
        for p in glob.glob(os.path.join(self.meta_dir, "manifest-*.json")):
            if os.path.basename(p) not in retained_manifests:
                os.remove(p)
                deleted_manifests.append(os.path.basename(p))
        for p in glob.glob(os.path.join(self.meta_dir, "v*.metadata.json")):
            m = _VMETA_RE.search(p)
            if m and int(m.group(1)) not in keep_versions:
                os.remove(p)
                deleted_snapshots.append(int(m.group(1)))
        return {
            "deleted_data_files": sorted(deleted_files),
            "deleted_manifests": sorted(deleted_manifests),
            "deleted_snapshots": sorted(deleted_snapshots),
            "retained_versions": sorted(keep_versions),
        }
