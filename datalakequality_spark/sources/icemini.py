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

Every snapshot after v1 is claimed by one bounded loop (``claim_loop``,
which the side stores' manifests share): commits, schema changes and
rollbacks differ only in how they build the snapshot from its parent.

Scale notes: all metadata ops are O(#files) driver-side, the same cost
class as Iceberg's own planning. Every file under data/ — data files,
their paired upsert deletes and standalone equality-delete files — is
written by ONE writer (``IceMiniTable._write_files``): a single Spark
job whose tasks write ``.inprogress-*`` temps, rename them into place
and compute per-file stats from the Arrow batches they write, never by
reading files on the driver.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import asdict, dataclass, field, fields
from typing import Any, Iterable
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import keybloom

SEQUENCES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def local_path(uri: str) -> str:
    """The filesystem path behind an ``input_file_name()`` URI:
    ``file:///a%20b/x.parquet`` → ``/a b/x.parquet``. Spark percent-
    encodes the path, so a table root holding a space or ``%`` only
    matches its manifest paths once decoded; ``unquote`` keeps a literal
    ``+`` (Spark's ``url_decode`` would turn it into a space)."""
    return unquote(urlparse(uri).path)


# age (s) past which an orphaned writer temp or stage directory is
# assumed dead and swept: younger ones may belong to a live writer
ORPHAN_TEMP_AGE_S = 3600.0

# lost claim races after which a snapshot claim gives up
_MAX_LOST_CLAIMS = 20


def max_partition_bytes(spark: SparkSession) -> int:
    """Session ``spark.sql.files.maxPartitionBytes`` in bytes (the
    bytes one scan task reads), 128 MB if it cannot be read."""
    try:
        return int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
    except Exception:
        return 128 * 1024 * 1024


def broadcast_threshold_bytes(spark: SparkSession) -> int:
    """Session ``spark.sql.autoBroadcastJoinThreshold`` in bytes, parsed
    by Spark's own conf (``10485760``, ``10m``, ``64MB`` and ``-1``
    alike), -1 (no broadcast hint) if it cannot be read."""
    try:
        return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())
    except Exception:
        return -1


def sidecar_probe_tasks(spark: SparkSession, entries: Iterable["FileEntry"]) -> int:
    """Tasks for a probe over the key-Bloom sidecars of ``entries``:
    one per ``maxPartitionBytes`` of sidecar bytes (a sidecar's size
    follows from its file's manifest row count), at most 64."""
    sidecar_bytes = sum(
        keybloom.num_blocks_for(e.rows) * keybloom.BLOCK_BYTES
        for e in entries
        if e.key_bloom
    )
    return min(64, max(1, -(-sidecar_bytes // max_partition_bytes(spark))))


# joins a string list for one gateway call; no path holds a NUL
_SEP = "\0"
# Hadoop's glob metacharacters: the reader globs every path it is given
_GLOB_CHARS = re.compile(r"([\\{}\[\]*?])")


def _jvm_strings(spark: SparkSession, items: list[str]):
    """``items`` as a JVM ``Seq[String]``, sent as ONE joined string:
    py4j converts a Python list with one gateway round trip per
    element."""
    jvm = spark._jvm
    return jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(
        jvm.org.apache.commons.lang3.StringUtils.split(_SEP.join(items), _SEP)
    )


def read_parquet(spark: SparkSession, schema: T.StructType, paths: list[str]) -> DataFrame:
    """ONE parquet scan of ``paths`` (files or Spark-written
    directories) under ``schema`` (no inference job), the path list
    passed to the JVM in one gateway call. Glob metacharacters are
    escaped: under a root holding a backslash, ``\\b`` would glob to
    ``b`` and the read fail with PATH_NOT_FOUND."""
    escaped = [_GLOB_CHARS.sub(r"\\\1", p) for p in paths]
    reader = spark.read.schema(schema)
    return reader._df(reader._jreader.parquet(_jvm_strings(spark, escaped)))


def input_uris(df: DataFrame) -> list[str]:
    """``df.inputFiles()`` in one gateway call (pyspark's fetches the
    Java array element by element): the URIs as ``input_file_name()``
    spells them."""
    jvm = df.sparkSession._jvm
    joined = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(
        df._jdf.inputFiles()
    ).mkString(_SEP)
    return joined.split(_SEP) if joined else []


def key_hashes(keys: DataFrame, key: str = "doc_id"):
    """``xxhash64`` of ``keys[key]`` collected as an int64 array — the
    hash the writer feeds the key-Bloom sidecars (``bloom_prune``)."""
    return keys.select(F.xxhash64(key).alias("h")).toPandas()["h"].to_numpy(dtype="int64")


def _sql_string(s: str) -> str:
    """A Spark SQL string literal of ``s`` (backslash escapes on, the
    parser's default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def glob_in(directory: str, pattern: str, recursive: bool = False) -> list[str]:
    """The paths under ``directory`` matching the glob ``pattern``;
    ``directory`` itself is matched literally (a table root may hold
    ``[``, ``*`` or ``?``)."""
    return glob.glob(os.path.join(glob.escape(directory), pattern), recursive=recursive)


def remove_stale(directory: str, pattern: str, age_s: float) -> None:
    """Remove the files and directories in ``directory`` matching
    ``pattern`` whose mtime is at least ``age_s`` old — the
    orphan-file-cleanup pattern for temps a crashed writer left
    behind."""
    now = time.time()
    for p in glob_in(directory, pattern):
        try:
            if now - os.path.getmtime(p) >= age_s:
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)
        except OSError:
            pass


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
            json.dump(payload, f, separators=(",", ":"))
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


def claim_loop(what: str, base: int, attempt, current):
    """The one optimistic claim loop behind every IceMini snapshot after
    v1 and every side-store manifest. ``attempt(base)`` builds the next
    version's content from version ``base`` and tries to claim ``base +
    1``: it returns the claimed result, or None on a lost race, and may
    raise to abort. A lost race re-resolves the head with ``current()``
    and rebuilds on top of the winner; after ``_MAX_LOST_CLAIMS`` lost
    races in a row it raises ``CommitConflict``."""
    for _ in range(_MAX_LOST_CLAIMS):
        won = attempt(base)
        if won is not None:
            return won
        base = current()
    raise CommitConflict(f"{what}: lost {_MAX_LOST_CLAIMS} claims in a row")


def applicable_delete_paths(entry, deletes) -> frozenset:
    """The equality-delete files that apply to a data file: delete seq
    strictly greater than the file's seq (rows older than the delete)
    AND overlapping doc_id range. The scan reads only the delete files
    that apply to some data file it reads (``_read_with_deletes``), the
    changelog finds the files whose visibility a commit can change, and
    compaction's bin classes use it (files may only be bin-packed
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
    # null ROWS of the tokens array and of n_tok, counted by the writer
    # from its Arrow batches (``ListArray.null_count`` counts null
    # lists, not empty lists or null elements — a parquet footer's
    # list-leaf null count mixes all three). The quality gate reads
    # them from here; None on files written before these stats existed
    null_tokens: int | None = None
    null_n_tok: int | None = None

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

    def to_dict(self) -> dict[str, Any]:
        """The on-disk snapshot JSON (``schema_ddl`` is stored as
        ``schema``)."""
        d = asdict(self)
        d["schema"] = d.pop("schema_ddl")
        return {"format_version": 1, **d}

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "Snapshot":
        known = {f.name for f in fields(Snapshot)}
        kw = {k: v for k, v in d.items() if k in known}
        return Snapshot(**kw, schema_ddl=d.get("schema"))


def _struct(ddl: list[list] | None) -> T.StructType:
    """A snapshot's ``schema_ddl`` as a StructType; None (pre-evolution
    snapshots) is the base SEQUENCES_SCHEMA."""
    if not ddl:
        return SEQUENCES_SCHEMA
    return T.StructType(
        [T.StructField(n, T.DataType.fromDDL(t), bool(nullable)) for n, t, nullable in ddl]
    )


def _ddl(sch: T.StructType) -> list[list]:
    return [[f.name, f.dataType.simpleString(), f.nullable] for f in sch.fields]


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
            with open(hint_path) as f:
                best = int(f.read().strip())
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
                for p in glob_in(self.meta_dir, "v*.metadata.json")
                if (m := _VMETA_RE.search(p))
            ]
            best = max(versions, default=0)
        return best

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = version if version is not None else self.current_version()
        with open(os.path.join(self.meta_dir, f"v{v}.metadata.json")) as f:
            return Snapshot.from_dict(json.load(f))

    def snapshots(self) -> list[Snapshot]:
        out = []
        for v in range(1, self.current_version() + 1):
            if os.path.exists(os.path.join(self.meta_dir, f"v{v}.metadata.json")):
                out.append(self.snapshot(v))
        return out

    def schema(self, version: int | None = None) -> T.StructType:
        """Table schema at ``version`` (default: current). Pre-evolution
        snapshots (no tracked schema) are the base SEQUENCES_SCHEMA."""
        return _struct(self.snapshot(version).schema_ddl)

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
        for ddl in cols.values():
            T.DataType.fromDDL(ddl)  # validate early, outside the claim loop

        def add(sch: T.StructType) -> list[list]:
            dupes = sorted(set(cols) & set(sch.fieldNames()))
            if dupes:
                raise ValueError(f"columns already exist: {dupes}")
            return _ddl(sch) + [[name, ddl, True] for name, ddl in cols.items()]

        return self._set_schema(add, {"added_columns": sorted(cols)})

    def drop_columns(self, names: list[str]) -> Snapshot:
        """Schema evolution, drop — EVOLVED columns only (the base
        sequence columns are load-bearing for stats, clustering keys and
        the quality gate). Metadata-only: data files keep the column's
        bytes, but every read's explicit schema omits it (Spark's
        by-name parquet resolution), and the next rewrite physically
        sheds it. Time travel before the drop still reads the column."""
        bad = sorted(set(names) & set(SEQUENCES_SCHEMA.fieldNames()))
        if bad:
            raise ValueError(f"cannot drop base sequence columns: {bad}")

        def drop(sch: T.StructType) -> list[list]:
            missing = sorted(set(names) - set(sch.fieldNames()))
            if missing:
                raise ValueError(f"no such columns: {missing}")
            return [c for c in _ddl(sch) if c[0] not in names]

        return self._set_schema(drop, {"dropped_columns": sorted(names)})

    def _set_schema(self, new_schema, summary_extra: dict[str, Any]) -> Snapshot:
        """Claim a metadata-only ``set-schema`` snapshot: the parent's
        files, deletes and quarantine under the schema
        ``new_schema(parent schema)`` returns (``[[name, ddl, nullable],
        ...]``; it raises ValueError to refuse), re-derived from the new
        parent after a lost race."""

        def build(base: int, parent: Snapshot) -> dict[str, Any]:
            return {
                "manifests": list(parent.manifests),
                "summary": {
                    "added_files": 0,
                    "removed_files": 0,
                    **{
                        k: parent.summary.get(k, 0)
                        for k in ("total_files", "total_rows", "total_tokens")
                    },
                    **summary_extra,
                },
                "quarantine": list(parent.quarantine),
                "schema_ddl": new_schema(_struct(parent.schema_ddl)),
                "delete_manifests": list(parent.delete_manifests),
            }

        return self._claim_next("set-schema", build)

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
        with open(os.path.join(self.meta_dir, name)) as f:
            d = json.load(f)
        return [FileEntry.from_dict(e) for e in d["entries"]]

    def _write_manifest(self, entries: list[FileEntry]) -> str:
        """Write an immutable manifest. ``None`` stats are omitted
        (``FileEntry.from_dict`` restores them as defaults) and the JSON
        is compact: manifests are most of a small table's metadata."""
        name = f"manifest-{uuid.uuid4().hex}.json"
        tmp = os.path.join(self.meta_dir, f".tmp-{name}")
        slim = [
            {k: v for k, v in e.to_dict().items() if v is not None} for e in entries
        ]
        with open(tmp, "w") as f:
            json.dump({"entries": slim}, f, separators=(",", ":"))
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
        if not claim_json(path, snap.to_dict()):
            return False
        # advisory hint, atomically replaced
        tmp = os.path.join(self.meta_dir, f".tmp-hint-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.rename(tmp, os.path.join(self.meta_dir, "version-hint.text"))
        return True

    def _claim_next(self, operation: str, build, base: int | None = None) -> Snapshot:
        """Claim the snapshot after the current version (or ``base``)
        on ``claim_loop``: ``build(base, parent)`` returns the Snapshot
        fields other than its ids, ``operation`` and timestamp, and may
        raise to abort (e.g. ``CommitConflict`` when the parent
        invalidates the operation)."""

        def attempt(base: int) -> Snapshot | None:
            parent = self.snapshot(base)
            snap = Snapshot(
                snapshot_id=base + 1,
                parent_snapshot_id=parent.snapshot_id,
                operation=operation,
                timestamp_ms=int(time.time() * 1000),
                **build(base, parent),
            )
            return snap if self._try_claim_version(base + 1, snap) else None

        if base is None:
            base = self.current_version()
        return claim_loop(operation, base, attempt, self.current_version)

    def commit(
        self,
        operation: str,
        added: list[FileEntry],
        removed_paths: Iterable[str] = (),
        required_paths: Iterable[str] = (),
        quarantine: list[dict[str, Any]] | None = None,
        base_version: int | None = None,
        summary_extra: dict[str, Any] | None = None,
        added_deletes: list[FileEntry] | None = None,
        removed_delete_paths: Iterable[str] = (),
        no_new_deletes_since: int | None = None,
    ) -> Snapshot:
        """Optimistic commit: new snapshot = parent − removed + added,
        claimed by ``_claim_next`` (which re-validates and rebuilds on
        top of every winner, and raises ``CommitConflict`` once it has
        lost ``_MAX_LOST_CLAIMS`` races). ``base_version`` is the first
        parent to try (default: the current version).

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

        def build(base: int, parent: Snapshot) -> dict[str, Any]:
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
                    by_path = {e.path: e for e in self.live_entries(base)}
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

            live = [e for m in new_manifests for e in self._read_manifest(m)]
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
            return {
                "manifests": new_manifests,
                "summary": {
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
                "quarantine": quarantine or [],
                "schema_ddl": parent.schema_ddl,  # data commits keep the schema
                "delete_manifests": new_del_manifests,
            }

        return self._claim_next(operation, build, base_version)

    # ---------------------------------------------------------------- data IO

    def _abs(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def write_data_files(
        self,
        df: DataFrame,
        prefix: str | None = None,
        split_col: str | None = None,
    ) -> list[FileEntry]:
        """Write a DataFrame as new (uncommitted) data files, return stats
        (see ``_write_files``)."""
        return self._write_files(df, prefix, split_col)[0]

    def write_upsert_files(
        self, df: DataFrame
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        """Write a merge-on-read upsert's files in ONE writer job: each
        data file gets a paired equality-delete file holding exactly its
        doc_ids (``delete-<data file name>``). Returns (data entries,
        delete entries), index-aligned: ``deletes[i]`` pairs ``data[i]``,
        so a caller that quarantines a data file drops its pair and the
        replaced rows stay live. ``df`` must carry unique doc_ids."""
        return self._write_files(df, kind="upsert")

    def write_delete_files(self, keys_df: DataFrame) -> list[FileEntry]:
        """Write (uncommitted) EQUALITY-DELETE files holding the
        ``doc_id`` column of ``keys_df``: ``delete-<uuid>-<n>.parquet``
        under data/, one per non-empty partition of ``keys_df`` (the
        caller sets the file count: coalesce the keys first, or a
        shuffled key frame writes one file per AQE partition). The
        caller commits them via ``commit(added_deletes=...)``; at scan
        time their keys are anti-joined out of data files with seq <
        the delete's seq.

        For key sets with no data file of their own: merge-on-read
        DELETE (``merge._delete_mor``) and delete-file compaction
        (``compaction.compact_delete_files``). Upserts, whose keys are
        exactly their new rows' keys, write each delete file next to its
        data file instead (``write_upsert_files``). Both go through the
        one writer, ``_write_files``: one Spark job, the same temp-then-
        rename, stats (rows, doc_id range) from the Arrow batches."""
        return self._write_files(keys_df.select("doc_id"), kind="delete")[1]

    def _write_files(
        self,
        df: DataFrame,
        prefix: str | None = None,
        split_col: str | None = None,
        kind: str = "data",
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        """The one writer of IceMini files: write a DataFrame as new
        (uncommitted) files, return their stats as (data entries, delete
        entries).

        ONE distributed job — the Iceberg writer-task model (Spark's
        SparkWrite/DataWriter returns DataFile structs with stats): each
        task streams its Arrow batches through pyarrow ParquetWriters and
        emits one stats row per file group, accumulated from the batches
        it wrote (rows and doc_id range always; for a data file also the
        token sum, null rows of tokens and n_tok and min/max of the
        other pruning columns). Within-partition row order (the
        clustering sort) is preserved because Arrow batches arrive and
        are written in order.

        Each group ``<prefix>-<n>`` (``n`` the partition id, or the
        bucket below) emits the files its ``kind`` selects:

        - ``"data"``: the data file ``<prefix>-<n>.parquet`` plus its
          key-Bloom sidecar (written before the data file's rename, so a
          live data file always has its sketch);
        - ``"upsert"``: the data file and sidecar, plus the paired
          equality-delete file ``delete-<prefix>-<n>.parquet`` holding
          the group's doc_ids;
        - ``"delete"``: only the equality-delete file (``df`` then holds
          only ``doc_id``, and no sidecar is written).

        With ``split_col`` (an int column, consumed — not written), a
        task starts a new group every time the column's value changes,
        so one task can emit one file per range bucket (the Iceberg
        fanout-writer model). Rows must arrive sorted by ``split_col``
        within the partition and one value must not span partitions (use
        a hash repartition on the column); file names are derived from
        the bucket value, so they are stable across retries.

        Files land in data/ under a fresh uuid prefix; they become live
        only when a subsequent commit references them. Tasks write to an
        attempt-unique ``.inprogress-*`` temp and atomically rename to
        the deterministic final name, so retried tasks can't duplicate
        files; stale temps and never-committed orphans are swept by
        expire_snapshots' reachability GC.
        """
        if kind not in ("data", "upsert", "delete"):
            raise ValueError(f"unknown file kind {kind!r}")
        with_data, with_deletes = kind != "delete", kind != "data"
        prefix = prefix or uuid.uuid4().hex
        data_dir = self.data_dir
        root = self.root
        names = list(self.schema().fieldNames()) if with_data else ["doc_id"]
        stat_names = ("n_tok", "source", "doc_id") if with_data else ("doc_id",)
        # one row per file group: FileEntry's stats plus the key file's
        stats_schema = T.DataType.fromDDL(
            "path string, rows long, token_count long, sum_sq_n_tok long, "
            "null_tokens long, null_n_tok long, size_bytes long, "
            "min_n_tok int, max_n_tok int, min_source string, max_source string, "
            "min_doc_id string, max_doc_id string, key_bloom string, "
            "delete_path string, delete_size_bytes long"
        )
        out_schema = to_arrow_schema(stats_schema)

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
                    "sum_sq_n_tok": 0,
                    "null_tokens": 0,
                    "null_n_tok": 0,
                    "hashes": [],
                    "mins": {"n_tok": None, "source": None, "doc_id": None},
                    "maxs": {"n_tok": None, "source": None, "doc_id": None},
                }

            def _flush(st: dict) -> None:
                if not st["buf"]:
                    return
                tbl = pa.Table.from_batches(st["buf"])
                if with_data:
                    if st["writer"] is None:
                        st["writer"] = pq.ParquetWriter(
                            st["tmp"], tbl.schema, compression="zstd"
                        )
                    st["writer"].write_table(tbl)
                if with_deletes:
                    keys = tbl.select(["doc_id"])
                    if st["del_writer"] is None:
                        # a key file's doc_ids are unique: a dictionary
                        # only adds bytes (+50% on 2k keys)
                        st["del_writer"] = pq.ParquetWriter(
                            st["del_tmp"],
                            keys.schema,
                            compression="zstd",
                            compression_level=3,
                            use_dictionary=False,
                        )
                    st["del_writer"].write_table(keys)
                st["buf"], st["buffered"] = [], 0

            def _feed(st: dict, batch, h_np) -> None:
                if batch.num_rows == 0:
                    return
                st["rows"] += batch.num_rows
                if with_data:
                    st["hashes"].append(h_np)
                    st["token_count"] += pc.sum(batch.column("n_tok")).as_py() or 0
                    nt64 = pc.cast(batch.column("n_tok"), pa.int64())
                    st["sum_sq_n_tok"] += pc.sum(pc.multiply(nt64, nt64)).as_py() or 0
                    st["null_tokens"] += batch.column("tokens").null_count
                    st["null_n_tok"] += batch.column("n_tok").null_count
                for name in stat_names:
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
                if st["rows"] == 0:
                    return
                out = {
                    "rows": st["rows"],
                    **{f"min_{n}": st["mins"][n] for n in stat_names},
                    **{f"max_{n}": st["maxs"][n] for n in stat_names},
                }
                if with_deletes:
                    st["del_writer"].close()
                    _os.rename(st["del_tmp"], st["del_final"])
                    out["delete_path"] = st["del_final"]
                    out["delete_size_bytes"] = _os.path.getsize(st["del_final"])
                if with_data:
                    st["writer"].close()
                    # sidecar lands BEFORE the data file's rename, so a
                    # live data file always has its sketch; a crash in
                    # between leaves an orphan .bloom the GC sweeps
                    out["key_bloom"] = keybloom.write_sidecar(
                        st["final"],
                        np.concatenate(st["hashes"]) if st["hashes"] else [],
                        attempt,
                    )
                    _os.rename(st["tmp"], st["final"])
                    out["path"] = st["final"]
                    out["size_bytes"] = _os.path.getsize(st["final"])
                    for k in ("token_count", "sum_sq_n_tok", "null_tokens", "null_n_tok"):
                        out[k] = st[k]
                results.append(out)

            for batch in batches:
                if batch.num_rows == 0:
                    continue
                # __keyhash feeds the sidecar sketch only — never written
                h = (
                    batch.column("__keyhash").to_numpy(zero_copy_only=False)
                    if with_data
                    else None
                )
                data = pa.RecordBatch.from_arrays(
                    [batch.column(n) for n in names], names=names
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

        cols = [
            *names,
            *([split_col] if split_col else []),
            *([F.xxhash64("doc_id").alias("__keyhash")] if with_data else []),
        ]
        stat_rows = sorted(
            df.select(*cols).mapInArrow(_write, stats_schema).collect(),
            key=lambda r: r["path"] or r["delete_path"],
        )
        data: list[FileEntry] = []
        deletes: list[FileEntry] = []
        for r in stat_rows:
            d = r.asDict()
            del_path, del_size = d.pop("delete_path"), d.pop("delete_size_bytes")
            if d["path"] is not None:
                d["path"] = os.path.relpath(d["path"], root)
                d["key_bloom"] = os.path.relpath(d["key_bloom"], root)
                data.append(FileEntry(**d))
            if del_path is not None:
                deletes.append(
                    FileEntry(
                        path=os.path.relpath(del_path, root),
                        rows=d["rows"],
                        token_count=0,
                        size_bytes=del_size,
                        min_doc_id=d["min_doc_id"],
                        max_doc_id=d["max_doc_id"],
                    )
                )
        return data, deletes

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

    def read_parquet(self, schema: T.StructType, rel_paths: list[str]) -> DataFrame:
        """ONE parquet scan of the table files ``rel_paths`` under
        ``schema`` (module-level ``read_parquet``)."""
        return read_parquet(self.spark, schema, [self._abs(p) for p in rel_paths])

    def file_seq(self, df: DataFrame, entries: list[FileEntry]) -> Column:
        """Each row's sequence number in ``df`` — a scan of exactly the
        files of ``entries`` — as an expression over
        ``input_file_name()``, not a joined relation: ONE SQL ``CASE``
        over the entries' distinct seqs, each an ``IN`` list of that
        seq's file URIs as ``df.inputFiles()`` spells them (percent-
        encoded, the way ``input_file_name()`` does), most files first;
        a literal when there is one seq. Built as one SQL string and
        the URIs fetched in one call, so planning makes a fixed number
        of gateway round trips whatever the file count (a ``Column``
        per ``isin`` element cost one each). A row from any other file
        raises: a NULL seq would make ``seq < del_seq`` unknown and
        silently resurrect deleted rows."""
        by_seq: dict[int, list[str]] = {}
        for e in entries:
            by_seq.setdefault(int(e.seq or 0), []).append(e.path)
        if len(by_seq) == 1:
            return F.lit(next(iter(by_seq))).cast("long")
        uri = {local_path(u): u for u in input_uris(df)}
        whens = " ".join(
            f"WHEN input_file_name() IN "
            f"({', '.join(_sql_string(uri[self._abs(p)]) for p in paths)}) THEN {s}L"
            for s, paths in sorted(by_seq.items(), key=lambda kv: -len(kv[1]))
        )
        return F.expr(
            f"CASE {whens} ELSE raise_error(concat("
            f"'no sequence number for ', input_file_name())) END"
        )

    def _key_scan(self, dels: list[FileEntry], version: int | None = None) -> DataFrame:
        """ONE scan of the equality-delete files ``dels`` under the key
        schema (``doc_id`` only, so no schema-inference job)."""
        key_schema = T.StructType([self.schema(version)["doc_id"]])
        return self.read_parquet(key_schema, [d.path for d in dels])

    def _delete_keys(
        self, dels: list[FileEntry], version: int | None = None
    ) -> DataFrame:
        """ONE scan of the equality-delete files ``dels`` as
        (``__del_doc_id``, ``__del_seq``), broadcast-hinted when their
        manifest-known size fits the session threshold — at 10^12-row
        scale a takedown's key set is tiny, so joining it adds no
        shuffle to the data scan."""
        scan = self._key_scan(dels, version)
        keys = scan.select(
            F.col("doc_id").alias("__del_doc_id"),
            self.file_seq(scan, dels).alias("__del_seq"),
        )
        if 0 < sum(d.size_bytes for d in dels) * 4 <= broadcast_threshold_bytes(
            self.spark
        ):
            keys = F.broadcast(keys)
        return keys

    def _read_with_deletes(
        self, entries: list[FileEntry], version: int | None = None
    ) -> DataFrame:
        """Read the given data-file entries, applying live equality
        deletes (merge-on-read) in ONE parquet scan and ONE left-anti
        join, however many delete generations are pending: each row
        carries its file's data seq (``file_seq``), and a row is dropped
        iff a delete holding its ``doc_id`` has a strictly greater seq
        (Iceberg's sequence-number rule). Equal keys imply overlapping
        doc_id ranges, so the range test (``applicable_delete_paths``)
        only selects which delete files are read; the delete side is one
        scan (``_delete_keys``), broadcast when small. No second leaf
        relation sits under the join — a broadcast build costs one Spark
        job per leaf — so a read runs a fixed number of jobs."""
        sch = self.schema(version)
        if not entries:
            return self.spark.createDataFrame([], sch)
        df = self.read_parquet(sch, [e.path for e in entries])
        live_dels = self.live_delete_entries(version)
        app: set[str] = set()
        for e in entries:
            app |= applicable_delete_paths(e, live_dels)
        if not app:
            return df
        keys = self._delete_keys([d for d in live_dels if d.path in app], version)
        data = df.withColumn("__data_seq", self.file_seq(df, entries))
        return data.join(
            keys,
            (F.col("doc_id") == F.col("__del_doc_id"))
            & (F.col("__data_seq") < F.col("__del_seq")),
            "left_anti",
        ).drop("__data_seq")

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

    def bloom_prune(self, entries: list[FileEntry], hashes) -> list[FileEntry]:
        """The ``entries`` that may hold one of the keys whose
        ``xxhash64(doc_id)`` values are ``hashes``: files whose key-Bloom
        sidecar (``sources/keybloom.py``) admits none of them are
        dropped. Bloom filters have no false negatives, so no file
        holding a key is dropped; files without a sidecar, or with an
        unreadable one, are kept.

        Sidecars that fit one task (``sidecar_probe_tasks``) are probed
        on the driver: no Spark job and no Python worker task, which
        costs ~0.3 core-s before it reads a row. Larger sidecar volumes
        are probed by one Spark job of that many tasks, the hashes
        broadcast."""
        with_bloom = [e for e in entries if e.key_bloom]
        if not with_bloom:
            return entries
        spark = self.spark
        parts = sidecar_probe_tasks(spark, with_bloom)
        if parts == 1:
            kept = {
                e.path
                for e in with_bloom
                if keybloom.probe_any(keybloom.load(self._abs(e.key_bloom)), hashes)
            }
        else:
            bc = spark.sparkContext.broadcast(hashes)
            root = self.root

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

            cdf = spark.createDataFrame(
                [(e.path, e.key_bloom) for e in with_bloom], "path string, bloom string"
            ).repartition(parts)
            kept = {
                r["path"]
                for r in cdf.mapInPandas(_probe, "path string, maybe boolean")
                .where("maybe")
                .collect()
            }
            bc.unpersist()
        return [e for e in entries if not e.key_bloom or e.path in kept]

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
        return self.read_parquet(sch, [e.path for e in new_entries])

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
          applicable-delete set changed are read at the parent version.
          On an unclustered table that is every file, so when the new
          delete files hold at most ``keybloom.MAX_PROBE_KEYS`` rows
          their key hashes are collected (one small job) and only the
          files whose Bloom sidecar may hold one of them are read
          (``bloom_prune``: no false negatives, files without a
          sidecar kept) — a ~100-key upsert reads a few files, not
          the table;
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
                new_dels = [d for d in cur_dels if d.path in new_del_paths]
                if (
                    common_changed
                    and new_dels
                    and sum(d.rows for d in new_dels) <= keybloom.MAX_PROBE_KEYS
                ):
                    # a small key set reaches few files: read only those
                    # whose sidecar may hold one of its keys
                    common_changed = self.bloom_prune(
                        common_changed, key_hashes(self._key_scan(new_dels, v))
                    )
                if common_changed and new_dels:
                    keys = self._delete_keys(new_dels, v)
                    gone = self._read_with_deletes(common_changed, v - 1).join(
                        keys, F.col("doc_id") == F.col("__del_doc_id"), "semi"
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

        def build(base: int, parent: Snapshot) -> dict[str, Any]:
            parent_paths = self.live_paths(base)
            return {
                "manifests": list(target.manifests),
                "summary": {
                    "added_files": len(target_paths - parent_paths),
                    "removed_files": len(parent_paths - target_paths),
                    "total_files": target.summary.get("total_files", len(target_paths)),
                    "total_rows": target.summary.get("total_rows", 0),
                    "total_tokens": target.summary.get("total_tokens", 0),
                    "rollback_of": parent.snapshot_id,
                    "rollback_to": version,
                },
                "quarantine": list(target.quarantine),
                "schema_ddl": target.schema_ddl,  # restore the schema too
                "delete_manifests": list(target.delete_manifests),
            }

        return self._claim_next("rollback", build, current)

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
        for p in glob_in(self.meta_dir, "ref-*.json"):
            try:
                with open(p) as f:
                    d = json.load(f)
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
        self, keep_last: int = 1, orphan_temp_age_s: float = ORPHAN_TEMP_AGE_S
    ) -> dict[str, Any]:
        """Drop all but the last ``keep_last`` snapshots and GC anything
        unreachable: data files and manifests referenced by no retained
        snapshot, plus staged orphans never committed.

        Hidden entries of data/ — ``.inprogress-*`` writer temps, and
        the stage directories older versions of the delete writer could
        leave behind — and ``metadata/.tmp-*`` commit temps are removed
        only when older than ``orphan_temp_age_s`` (Iceberg's orphan-file-cleanup mtime
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
        # stale writer temps from failed/retried tasks (never renamed;
        # every hidden entry of data/ is one) and metadata temps of
        # crashed commits — age-gated so live writers' open temps
        # survive a concurrent GC
        remove_stale(self.data_dir, ".*", orphan_temp_age_s)
        remove_stale(self.meta_dir, ".tmp-*", orphan_temp_age_s)
        for p in glob_in(self.data_dir, "*.parquet"):
            rel = os.path.relpath(p, self.root)
            if rel not in retained_files:
                os.remove(p)
                deleted_files.append(rel)
        # key-bloom sidecars live and die with their data file — sweep
        # any whose data file is not retained (covers both expired files
        # and the crash window where a sidecar landed but its data
        # file's rename never happened)
        for p in glob_in(self.data_dir, "*.parquet.bloom"):
            rel = os.path.relpath(p, self.root)
            if rel[: -len(".bloom")] not in retained_files:
                try:
                    os.remove(p)
                except OSError:
                    pass
        for p in glob_in(self.meta_dir, "manifest-*.json"):
            if os.path.basename(p) not in retained_manifests:
                os.remove(p)
                deleted_manifests.append(os.path.basename(p))
        for p in glob_in(self.meta_dir, "v*.metadata.json"):
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
