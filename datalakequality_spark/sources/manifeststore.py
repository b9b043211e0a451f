"""The versioned-manifest lifecycle shared by the side stores beside the
tables — the MinHash signature store (``sigstore``) and the IVF ANN
index (``annindex``). Each subclass keeps only its own semantics; the
layout, commits, publishing, scans and GC live here once:

    <root>/
      data/<uuid>-<i>.parquet   immutable; listed in the manifests
      v<N>.manifest.json        store params + file list; readers take
                                max vN

- a commit claims ``v<N+1>`` with ``claim_json`` (temp + hard link, so
  the filesystem arbitrates racing writers and a failed write never
  takes the version) on IceMini's ``claim_loop``: a lost race rebuilds
  on top of the winner, and ``_MAX_LOST_CLAIMS`` in a row raise
  ``CommitConflict``;
- files are published (uncommitted) by a Spark write into a
  ``data/.stage-*`` directory whose part files are renamed into
  ``data/``; the stage is removed even when the write fails;
- scans read the manifest's files under a pinned schema through
  IceMini's escaped ``read_parquet``;
- ``expire`` drops all but the last ``keep_last`` manifests, deletes the
  data files no retained version references and sweeps stage
  directories older than IceMini's orphan-temp age (a killed driver's).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .icemini import ORPHAN_TEMP_AGE_S, claim_json, claim_loop, glob_in, read_parquet, remove_stale


class ManifestStore:
    """A side store rooted at ``root``; ``self.manifest`` is the version
    this object was loaded at or last committed."""

    kind = "manifest store"  # names the store in load errors

    def __init__(self, spark: SparkSession, root: str, manifest: dict[str, Any], version: int):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.manifest = manifest
        self.version = version

    # ------------------------------------------------------------ versions

    @staticmethod
    def _mpath(root: str, version: int) -> str:
        return os.path.join(root, f"v{version}.manifest.json")

    @staticmethod
    def _versions(root: str) -> list[int]:
        return [
            int(os.path.basename(p)[1:].split(".", 1)[0])
            for p in glob_in(root, "v*.manifest.json")
        ]

    @classmethod
    def current_version(cls, root: str) -> int:
        return max(cls._versions(root), default=0)

    @classmethod
    def _read(cls, root: str, version: int) -> dict[str, Any]:
        with open(cls._mpath(root, version)) as f:
            return json.load(f)

    @classmethod
    def load(cls, spark: SparkSession, root: str, version: int | None = None):
        root = os.path.abspath(root)
        v = version if version is not None else cls.current_version(root)
        if v == 0:
            raise FileNotFoundError(f"no {cls.kind} at {root}")
        return cls(spark, root, cls._read(root, v), v)

    # ------------------------------------------------------------- commits

    def _try_claim(self, version: int, manifest: dict[str, Any]) -> bool:
        if not claim_json(self._mpath(self.root, version), manifest):
            return False
        self.manifest, self.version = manifest, version
        return True

    def _commit(self, what: str, build: Callable[[dict[str, Any] | None], dict[str, Any]]) -> None:
        """Claim the manifest after the current one: ``build(parent)``
        returns it from the current manifest (None on an empty root) and
        may raise to abort; a lost race rebuilds on top of the winner."""

        def attempt(base: int) -> bool | None:
            manifest = build(self._read(self.root, base) if base else None)
            return self._try_claim(base + 1, manifest) or None

        claim_loop(what, self.current_version(self.root), attempt,
                   lambda: self.current_version(self.root))

    # ------------------------------------------------------------------ I/O

    def _publish(
        self,
        write: Callable[[str], None],
        fields: Callable[[str], dict[str, Any]] = lambda part: {},
    ) -> list[dict[str, Any]]:
        """Write (uncommitted) data files: ``write(stage)`` runs a Spark
        write into a fresh stage directory, whose part files are renamed
        into ``data/``; ``fields(part)`` adds a file's own manifest
        fields from its path under the stage (e.g. a partition value).
        The stage is removed even when the write fails."""
        import pyarrow.parquet as pq

        data_dir = os.path.join(self.root, "data")
        os.makedirs(data_dir, exist_ok=True)
        prefix = uuid.uuid4().hex
        stage = os.path.join(data_dir, f".stage-{prefix}")
        files: list[dict[str, Any]] = []
        try:
            write(stage)
            parts = glob_in(stage, os.path.join("**", "*.parquet"), recursive=True)
            for i, p in enumerate(sorted(parts)):
                final = os.path.join(data_dir, f"{prefix}-{i:05d}.parquet")
                os.rename(p, final)
                files.append({
                    "path": os.path.relpath(final, self.root),
                    **fields(os.path.relpath(p, stage)),
                    "rows": pq.read_metadata(final).num_rows,
                    "size_bytes": os.path.getsize(final),
                })
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return files

    def _scan(self, schema: T.StructType | str, paths: list[str]) -> DataFrame:
        """ONE scan of the store files ``paths`` (relative to the root)
        under ``schema``."""
        if not paths:
            return self.spark.createDataFrame([], schema)
        return read_parquet(self.spark, schema, [os.path.join(self.root, p) for p in paths])

    def expire(self, keep_last: int = 1) -> dict[str, Any]:
        """Drop all but the last ``keep_last`` manifests, GC data files
        no retained version references (O(#files) driver-side), and
        sweep stage directories older than IceMini's orphan-temp age."""
        data_dir = os.path.join(self.root, "data")
        remove_stale(data_dir, ".stage-*", ORPHAN_TEMP_AGE_S)
        current = self.current_version(self.root)
        keep = set(range(max(1, current - keep_last + 1), current + 1))
        retained = {e["path"] for v in keep for e in self._read(self.root, v)["files"]}
        deleted = []
        for p in glob_in(data_dir, "*.parquet"):
            rel = os.path.relpath(p, self.root)
            if rel not in retained:
                os.remove(p)
                deleted.append(rel)
        dropped = [v for v in self._versions(self.root) if v not in keep]
        for v in dropped:
            os.remove(self._mpath(self.root, v))
        return {
            "deleted_files": sorted(deleted),
            "deleted_versions": sorted(dropped),
            "retained_versions": sorted(keep),
        }
