"""Persisted MinHash signature store → incremental near-dup detection.

A real training-data pipeline dedups each NEW ingest batch against the
corpus; recomputing 100 TB of shingle sets and signatures per batch is
the cost that kills naive designs (tokenization + MinHash is the
expensive pass — the banded join over tiny signature rows is not). The
store persists each document's shingle-hash set and MinHash signature
ONCE, at ingest; ``dedup_batch`` then:

1. computes signatures for the NEW batch only (one JVM tokenization
   pass + one Arrow kernel — ``operators/dedup.minhash_sig_and_shingles``);
2. derives band hashes for the store side from its PERSISTED ``sig``
   column with pure JVM expressions (``xxhash64(slice(sig, ...))``) —
   no Python, no re-tokenization: the scan reads the signature column
   only (column pruning) until the verification join touches ``sh``;
3. band-joins new × (store ∪ new), verifies candidates with exact
   Jaccard over the persisted shingle sets.

The plan therefore carries exactly ONE ArrowEvalPython node — over the
new batch — regardless of corpus size (pinned by
``tests/test_sigstore.py::test_incremental_dedup_no_store_recompute``).

Store layout (the same versioned-manifest lifecycle as the ANN index):

    <root>/
      data/<uuid>-*.parquet     (doc_id, sh, sig) — immutable
      v<N>.manifest.json        file list + MinHash params + parent

MinHash parameters (num_perm, k, bands) are pinned at create time and
validated on every batch — mixing signature generations would silently
break banding. Appends commit optimistically (``claim_json``: temp +
hard link, so a failed write never takes the version) and commute: a
lost race retries on top of the winner, and ``_MAX_LOST_CLAIMS`` in a
row raise CommitConflict. ``expire`` GCs unreferenced files.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .icemini import (
    _MAX_LOST_CLAIMS,
    ORPHAN_TEMP_AGE_S,
    CommitConflict,
    claim_json,
    remove_stale,
)

SIG_SCHEMA = "doc_id string, sh array<long>, sig array<long>"


def band_hashes(sig_col, num_perm: int, bands: int):
    """All band hashes in ONE expression over a signature column (the
    same shape as minhash_dedup_pairs — separate slice exprs would
    re-evaluate the signature per band)."""
    r = num_perm // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(F.slice(sig_col, b * r + 1, r)),
    )


class MinHashStore:
    def __init__(
        self, spark: SparkSession, root: str, manifest: dict[str, Any], version: int
    ):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.manifest = manifest
        self.version = version

    # ------------------------------------------------------------ lifecycle

    @staticmethod
    def _mpath(root: str, v: int) -> str:
        return os.path.join(root, f"v{v}.manifest.json")

    @staticmethod
    def current_version(root: str) -> int:
        vs = [
            int(os.path.basename(p)[1:].split(".", 1)[0])
            for p in glob.glob(os.path.join(root, "v*.manifest.json"))
        ]
        return max(vs) if vs else 0

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        num_perm: int = 64,
        k: int = 3,
        bands: int = 16,
    ) -> "MinHashStore":
        if num_perm % bands:
            raise ValueError("num_perm must be divisible by bands")
        root = os.path.abspath(root)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        store = cls(
            spark,
            root,
            {"num_perm": num_perm, "k": k, "bands": bands, "files": []},
            0,
        )
        if not store._try_claim(1, store.manifest):
            raise FileExistsError(f"signature store already exists at {root}")
        return store

    @classmethod
    def load(
        cls, spark: SparkSession, root: str, version: int | None = None
    ) -> "MinHashStore":
        root = os.path.abspath(root)
        v = version if version is not None else cls.current_version(root)
        if v == 0:
            raise FileNotFoundError(f"no signature store at {root}")
        with open(cls._mpath(root, v)) as f:
            return cls(spark, root, json.load(f), v)

    def _try_claim(self, version: int, manifest: dict[str, Any]) -> bool:
        if not claim_json(self._mpath(self.root, version), manifest):
            return False
        self.manifest, self.version = manifest, version
        return True

    def expire(self, keep_last: int = 1) -> dict[str, Any]:
        """Drop all but the last ``keep_last`` manifests, GC data files
        no retained version references, and sweep stage directories
        older than IceMini's orphan-temp age."""
        remove_stale(os.path.join(self.root, "data", ".stage-*"), ORPHAN_TEMP_AGE_S)
        current = self.current_version(self.root)
        keep = set(range(max(1, current - keep_last + 1), current + 1))
        retained: set[str] = set()
        for v in keep:
            with open(self._mpath(self.root, v)) as f:
                retained.update(e["path"] for e in json.load(f)["files"])
        deleted = []
        for p in glob.glob(os.path.join(self.root, "data", "*.parquet")):
            rel = os.path.relpath(p, self.root)
            if rel not in retained:
                os.remove(p)
                deleted.append(rel)
        for p in glob.glob(os.path.join(self.root, "v*.manifest.json")):
            v = int(os.path.basename(p)[1:].split(".", 1)[0])
            if v not in keep:
                os.remove(p)
        return {"deleted_files": sorted(deleted), "retained_versions": sorted(keep)}

    # ------------------------------------------------------------------ I/O

    def _signatures_of(self, df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        """(doc_id, sh, sig) for a batch — the ONE expensive pass."""
        from ..operators.dedup import minhash_sig_and_shingles

        m = self.manifest
        return (
            df.select(
                F.col(id_col).cast("string").alias("doc_id"),
                minhash_sig_and_shingles(
                    F.col(text_col), m["num_perm"], m["k"]
                ).alias("__p"),
            )
            .select(
                "doc_id", F.col("__p.sh").alias("sh"), F.col("__p.sig").alias("sig")
            )
            .where(F.size("sh") > 0)
        )

    def _write_files(self, sigs: DataFrame) -> list[dict[str, Any]]:
        """Write (uncommitted) signature files: a Spark write into a
        stage directory, whose part files are renamed into data/. The
        stage is removed even when the write fails; ``expire`` sweeps
        one a killed driver left behind."""
        import shutil

        import pyarrow.parquet as pq

        prefix = uuid.uuid4().hex
        stage = os.path.join(self.root, "data", f".stage-{prefix}")
        try:
            sigs.write.mode("overwrite").parquet(stage)
            files = []
            for i, p in enumerate(
                sorted(glob.glob(os.path.join(stage, "part-*.parquet")))
            ):
                final = os.path.join(self.root, "data", f"{prefix}-{i:05d}.parquet")
                os.rename(p, final)
                files.append(
                    {
                        "path": os.path.relpath(final, self.root),
                        "rows": pq.read_metadata(final).num_rows,
                        "size_bytes": os.path.getsize(final),
                    }
                )
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return files

    def _commit_append(self, files: list[dict[str, Any]]) -> None:
        """Claim the next manifest with ``files`` appended; a lost race
        retries on top of the winner, and after ``_MAX_LOST_CLAIMS`` in
        a row raises ``CommitConflict``."""
        for _ in range(_MAX_LOST_CLAIMS):
            base = self.current_version(self.root)
            with open(self._mpath(self.root, base)) as f:
                parent = json.load(f)
            for p in ("num_perm", "k", "bands"):
                if parent[p] != self.manifest[p]:
                    raise ValueError(
                        "signature store params changed under a concurrent "
                        f"writer ({p}): {parent[p]} != {self.manifest[p]}"
                    )
            manifest = {**parent, "files": [*parent["files"], *files]}
            if self._try_claim(base + 1, manifest):
                return
        raise CommitConflict(
            f"signature store append: lost {_MAX_LOST_CLAIMS} manifest claims in a row"
        )

    def scan(self) -> DataFrame:
        paths = [os.path.join(self.root, e["path"]) for e in self.manifest["files"]]
        if not paths:
            return self.spark.createDataFrame([], SIG_SCHEMA)
        return self.spark.read.schema(SIG_SCHEMA).parquet(*paths)

    def add_batch(self, df: DataFrame, id_col: str, text_col: str) -> dict[str, Any]:
        """Signature-compute a batch once and append it to the store."""
        files = self._write_files(self._signatures_of(df, id_col, text_col))
        self._commit_append(files)
        return {
            "files": len(files),
            "rows": sum(f["rows"] for f in files),
            "version": self.version,
        }

    # ------------------------------------------------------------- dedup

    def dedup_batch(
        self,
        df: DataFrame,
        id_col: str,
        text_col: str,
        threshold: float = 0.7,
        add: bool = True,
    ) -> DataFrame:
        """Near-dup pairs (id_a < id_b, jaccard ≥ threshold) where at
        least one side is in the NEW batch — against the corpus = store
        ∪ batch — WITHOUT recomputing any stored signature. With
        ``add=True`` the batch's signatures are appended afterwards, so
        consecutive calls dedup each batch against everything before
        it."""
        from ..operators.dedup import _eager, _track

        m = self.manifest
        new_sigs = _eager(self._signatures_of(df, id_col, text_col))
        store = self.scan()

        def banded(frame: DataFrame, is_new: bool) -> DataFrame:
            return frame.select(
                F.col("doc_id").alias("__id"),
                F.lit(is_new).alias("__new"),
                F.posexplode(
                    band_hashes(F.col("sig"), m["num_perm"], m["bands"])
                ).alias("band", "bh"),
            )

        all_bands = banded(store, False).unionByName(banded(new_sigs, True))
        left, right = all_bands.alias("l"), all_bands.alias("r")
        candidates = (
            left.join(
                right,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bh") == F.col("r.bh"))
                & (F.col("l.__id") < F.col("r.__id"))
                & (F.col("l.__new") | F.col("r.__new")),
            )
            .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
            .distinct()
        )
        sh = store.unionByName(new_sigs).select("doc_id", "sh")
        verified = (
            candidates.join(
                sh.withColumnsRenamed({"doc_id": "id_a", "sh": "sh_a"}), "id_a"
            )
            .join(sh.withColumnsRenamed({"doc_id": "id_b", "sh": "sh_b"}), "id_b")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
        verified = _track(verified, new_sigs)
        if add:
            # reuses the persisted new_sigs frame — signatures are still
            # computed exactly once per document
            self._commit_append(self._write_files(new_sigs))
        return verified
