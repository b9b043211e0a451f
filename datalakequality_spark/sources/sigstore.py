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

The store is a ``manifeststore.ManifestStore`` (its layout, commits,
stage publishing, scans and ``expire``): its files hold (doc_id, sh,
sig) and its manifests the MinHash parameters (num_perm, k, bands).
They are pinned at create time and validated on every append, also
against the parent a concurrent writer committed — mixing signature
generations would silently break banding. Appends commute: a lost race
retries on top of the winner.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifeststore import ManifestStore

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


class MinHashStore(ManifestStore):
    kind = "signature store"

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
        store = cls(spark, root, {"num_perm": num_perm, "k": k, "bands": bands, "files": []}, 0)
        os.makedirs(os.path.join(store.root, "data"), exist_ok=True)
        if not store._try_claim(1, store.manifest):
            raise FileExistsError(f"signature store already exists at {store.root}")
        return store

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

    def _append(self, sigs: DataFrame) -> list[dict[str, Any]]:
        """Publish signature files and commit them on top of the current
        manifest, whose MinHash params must still be this store's."""
        files = self._publish(lambda stage: sigs.write.mode("overwrite").parquet(stage))

        def build(parent: dict[str, Any]) -> dict[str, Any]:
            for p in ("num_perm", "k", "bands"):
                if parent[p] != self.manifest[p]:
                    raise ValueError(
                        "signature store params changed under a concurrent "
                        f"writer ({p}): {parent[p]} != {self.manifest[p]}"
                    )
            return {**parent, "files": [*parent["files"], *files]}

        self._commit("signature store append", build)
        return files

    def scan(self) -> DataFrame:
        return self._scan(SIG_SCHEMA, [e["path"] for e in self.manifest["files"]])

    def add_batch(self, df: DataFrame, id_col: str, text_col: str) -> dict[str, Any]:
        """Signature-compute a batch once and append it to the store."""
        files = self._append(self._signatures_of(df, id_col, text_col))
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
            self._append(new_sigs)
        return verified
