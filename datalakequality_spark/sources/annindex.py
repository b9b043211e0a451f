"""IVF ANN index as a table layout: the coarse-quantizer cell id is a
materialized column, the table is clustered on it, and probes read ONLY
the files owning the probed cells (manifest min/max pruning — the same
file-skipping shape IceMiniTable.prune_entries gives n_tok scans).

This is the thing that makes ANN viable on a 100 TB embedding corpus:
brute force scans everything per query; hyperplane-LSH bucketing prunes
compute but still *reads* everything; an IVF-clustered layout prunes
I/O — a probe touches ``n_probe / n_centroids`` of the bytes.

The index is a ``manifeststore.ManifestStore`` (its layout, commits,
stage publishing, scans and ``expire``; an index is a table, not a
one-shot layout). Its files hold one cell each (the cell is in the
manifest) and its manifests the codebook, the pinned id/vec column
types and the file list:

- ``build``  — train a spherical k-means codebook on a seeded UNBIASED
  Bernoulli sample (not ``limit()``, which is partition-biased on
  pre-sorted inputs), assign every vector its cell via ONE
  Arrow-batched matmul, hash-exchange on the cell id and write the
  cell-clustered files. Re-building an existing root commits a full-
  replace snapshot (old files become unreferenced, swept by ``expire``).
- ``append`` — assign NEW vectors with the EXISTING codebook and commit
  only their per-cell files: O(batch) work, zero rebuild, existing
  files untouched. A cell accumulates multiple files across appends
  (and ``max_rows_per_file`` splits hot cells at build time); per-file
  cell stats stay exact because every file holds exactly one cell. An
  append validates that the parent manifest still carries ITS codebook
  (``codebook_id``): losing to a concurrent rebuild raises
  CommitConflict, since cells assigned under the old codebook are
  meaningless under the new one. Concurrent appends commute.

Probe: rank codebook cells against the query (driver-side, K floats),
prune the manifest to the top ``n_probe`` cells' files, scan only
those under the pinned column types, exact-cosine re-rank JVM-side.
"""

from __future__ import annotations

import os
import uuid
from typing import Any

import numpy as np
import pandas as pd  # module scope: pandas_udf resolves stringified hints here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .icemini import CommitConflict
from .manifeststore import ManifestStore


def train_kmeans(
    vecs: np.ndarray, k: int, iters: int = 15, seed: int = 42
) -> np.ndarray:
    """Spherical k-means (Lloyd's on the unit sphere — the cosine
    geometry): deterministic, driver-side numpy on a bounded sample.
    Returns (k, dim) unit-norm centroids."""
    v = np.asarray(vecs, dtype=np.float64)
    v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    if len(v) <= k:
        # degenerate sample: pad with random unit directions
        pad = rng.standard_normal((k - len(v) + 1, v.shape[1]))
        pad /= np.linalg.norm(pad, axis=1, keepdims=True)
        v = np.vstack([v, pad])
    cents = v[rng.choice(len(v), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(v @ cents.T, axis=1)
        for j in range(k):
            members = v[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    cents[j] = c / n
            else:
                cents[j] = v[rng.integers(len(v))]  # reseed an empty cell
    return cents


def cell_assign_udf(centroids: np.ndarray):
    """Vectorized cell assignment: one BLAS matmul per Arrow batch.
    Centroids live in the UDF closure — zero plan literals (the same
    posture as dedup's hyperplane UDFs)."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def _cell(v: pd.Series) -> pd.Series:
        mat = np.asarray(v.tolist(), dtype=np.float64)  # (batch, dim)
        sims = mat @ cents.T  # centroids unit-norm ⇒ argmax == cosine argmax
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return _cell


class AnnIvfIndex(ManifestStore):
    """IVF-clustered embedding index with snapshot lifecycle (see module
    docstring). ``self.manifest`` is the snapshot this object was loaded
    at; mutating operations re-resolve the current version at commit."""

    kind = "ANN index"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        manifest: dict[str, Any],
        version: int,
    ):
        super().__init__(spark, root, manifest, version)
        self.centroids = np.asarray(manifest["centroids"], dtype=np.float64)

    def _assign_and_write(
        self, df: DataFrame, id_col: str, vec_col: str, max_rows_per_file: int | None
    ) -> list[dict[str, Any]]:
        """Assign cells and publish (uncommitted) cell-clustered files.

        One hash exchange on the cell id: every cell lands wholly inside
        one task, so ``partitionBy`` emits per-cell files and per-file
        cell stats are exact (``maxRecordsPerFile`` splits hot cells
        into multiple files). At 10^12 scale the exchange moves each
        vector once; probes then skip whole files."""
        assigned = df.select(
            F.col(id_col),
            F.col(vec_col),
            cell_assign_udf(self.centroids)(F.col(vec_col)).alias("__cell"),
        )
        writer = assigned.repartition(len(self.centroids), "__cell").write.mode("overwrite")
        if max_rows_per_file:
            writer = writer.option("maxRecordsPerFile", max_rows_per_file)
        return self._publish(
            lambda stage: writer.partitionBy("__cell").parquet(stage),
            # part paths are __cell=<cell>/part-*.parquet
            lambda part: {"cell": int(part.split(os.sep, 1)[0].split("=", 1)[1])},
        )

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        root: str,
        n_centroids: int = 16,
        sample_rows: int = 4096,
        iters: int = 15,
        seed: int = 42,
        max_rows_per_file: int | None = None,
    ) -> "AnnIvfIndex":
        root = os.path.abspath(root)
        os.makedirs(root, exist_ok=True)
        # seeded Bernoulli sample across ALL partitions — unbiased on
        # pre-sorted inputs (the old limit() sample read the first
        # partitions only); one count job bounds the fraction
        n_rows = df.count()
        frac = min(1.0, (sample_rows * 1.2) / max(n_rows, 1))
        sample = (
            df.select(vec_col)
            .sample(fraction=frac, seed=seed)
            .limit(sample_rows)
            .toPandas()
        )
        cents = train_kmeans(
            np.asarray(sample[vec_col].tolist(), dtype=np.float64),
            n_centroids,
            iters=iters,
            seed=seed,
        )
        manifest = {
            "id_col": id_col,
            "vec_col": vec_col,
            # column types pinned at build time: probes read the files
            # under them, so an empty and a non-empty probe share one
            # schema and no inference job runs
            "id_type": df.schema[id_col].dataType.simpleString(),
            "vec_type": df.schema[vec_col].dataType.simpleString(),
            "n_centroids": n_centroids,
            "codebook_id": uuid.uuid4().hex,  # appends pin against this
            "centroids": cents.tolist(),
        }
        idx = cls(spark, root, manifest, 0)
        manifest["files"] = idx._assign_and_write(df, id_col, vec_col, max_rows_per_file)
        # a re-build is a full-replace snapshot on top of whatever is
        # current — old files become unreferenced and expire() sweeps
        # them; claim races (vs other builders) just advance the version
        idx._commit("ann build", lambda parent: manifest)
        return idx

    def append(self, df: DataFrame) -> "AnnIvfIndex":
        """Incrementally index a new vector batch: assign cells with the
        EXISTING codebook, write only the batch's per-cell files, commit
        parent.files + new files. O(batch) — no rebuild, existing files
        untouched. Raises CommitConflict if a concurrent re-build
        replaced the codebook (cell ids would be meaningless)."""
        m = self.manifest
        new_files = self._assign_and_write(
            df.select(m["id_col"], m["vec_col"]), m["id_col"], m["vec_col"], None
        )

        def build(parent: dict[str, Any]) -> dict[str, Any]:
            if parent.get("codebook_id") != m.get("codebook_id"):
                raise CommitConflict(
                    "ann append: codebook replaced by a concurrent rebuild "
                    "— re-assign the batch against the new codebook"
                )
            return {**parent, "files": [*parent["files"], *new_files]}

        self._commit("ann append", build)
        return self

    # ------------------------------------------------------------------ probe

    def probe_cells(self, query: list[float], n_probe: int) -> list[int]:
        q = np.asarray(query, dtype=np.float64)
        q = q / max(float(np.linalg.norm(q)), 1e-12)
        sims = self.centroids @ q
        return [int(c) for c in np.argsort(-sims)[:n_probe]]

    def prune_files(self, cells: list[int]) -> list[str]:
        """Manifest-level file skipping on the cell column — returns
        only files whose cell is probed (relative paths)."""
        want = set(cells)
        return [f["path"] for f in self.manifest["files"] if f["cell"] in want]

    def scan_cells(self, cells: list[int]) -> DataFrame:
        """Scan ONLY the probed cells' files (the pruned I/O path)."""
        m = self.manifest
        schema = T.StructType(
            [
                T.StructField(m["id_col"], T.DataType.fromDDL(m["id_type"])),
                T.StructField(m["vec_col"], T.DataType.fromDDL(m["vec_type"])),
            ]
        )
        return self._scan(schema, self.prune_files(cells))

    def topk(self, query: list[float], k: int = 10, n_probe: int = 4) -> DataFrame:
        """IVF probe: prune to n_probe cells' files, exact-cosine
        re-rank inside them (JVM expression — no Python in the ranking
        path)."""
        from ..operators.similarity import cosine_topk

        cells = self.probe_cells(query, n_probe)
        return cosine_topk(
            self.scan_cells(cells),
            self.manifest["id_col"],
            self.manifest["vec_col"],
            query,
            k,
        )
