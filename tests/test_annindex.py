"""ANN index lifecycle (sources/annindex.py): incremental append,
multi-file cells, snapshot GC, and rebuild conflict detection — the
properties that make the index maintainable at 100 TB (VERDICT r4 #3:
an index is a table, not a one-shot layout)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from datalakequality_spark.sources.annindex import AnnIvfIndex
from datalakequality_spark.sources.icemini import CommitConflict


def _vec_df(spark, vecs, start_id=0, id_prefix=None):
    if id_prefix is None:
        rows = [(start_id + i, v.tolist()) for i, v in enumerate(vecs)]
        return spark.createDataFrame(rows, "id long, v array<double>")
    rows = [(f"{id_prefix}{start_id + i}", v.tolist()) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "id string, v array<double>")


def test_ann_append_touches_only_new_files(spark, tmp_path):
    """Appending a batch commits O(batch) new files; every pre-existing
    file stays byte-identical and live; probes find vectors from both
    generations through the pruned path."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal((500, 12))
    q = base[0].copy()
    idx = AnnIvfIndex.build(
        spark, _vec_df(spark, base), "id", "v", str(tmp_path / "ivf"), n_centroids=8
    )
    v1_files = {f["path"]: f for f in idx.manifest["files"]}
    v1_mtimes = {p: os.path.getmtime(os.path.join(idx.root, p)) for p in v1_files}

    # planted near-neighbors of q arrive in a second batch
    planted = np.stack([q + rng.standard_normal(12) * 0.05 for _ in range(6)])
    idx.append(_vec_df(spark, planted, start_id=10_000))

    v2_files = {f["path"]: f for f in idx.manifest["files"]}
    assert set(v1_files) <= set(v2_files)  # nothing removed
    new = set(v2_files) - set(v1_files)
    # O(batch): at most one file per cell the batch touched
    assert 0 < len(new) <= idx.manifest["n_centroids"]
    for p in v1_files:  # untouched, not rewritten
        assert os.path.getmtime(os.path.join(idx.root, p)) == v1_mtimes[p]
    assert sum(v2_files[p]["rows"] for p in new) == 6

    got = [r["id"] for r in idx.topk(q.tolist(), k=7, n_probe=3).collect()]
    assert got[0] == 0
    assert len(set(got) & set(range(10_000, 10_006))) >= 5
    # the probe still prunes I/O
    cells = idx.probe_cells(q.tolist(), 3)
    assert 0 < len(idx.prune_files(cells)) < len(v2_files)

    # a reloaded reader sees the appended snapshot; time travel sees v1
    again = AnnIvfIndex.load(spark, idx.root)
    assert again.version == idx.version and len(again.manifest["files"]) == len(
        v2_files
    )
    old = AnnIvfIndex.load(spark, idx.root, version=idx.version - 1)
    assert set(f["path"] for f in old.manifest["files"]) == set(v1_files)


def test_ann_hot_cell_splits_into_multiple_files(spark, tmp_path):
    """max_rows_per_file caps file size, so a hot cell becomes several
    exact-stat files instead of one giant one — and the probe result is
    unchanged."""
    rng = np.random.default_rng(5)
    # one dominant direction ⇒ one hot cell
    hot = np.stack([np.ones(8) + rng.standard_normal(8) * 0.01 for _ in range(400)])
    rest = rng.standard_normal((100, 8))
    df = _vec_df(spark, np.vstack([hot, rest]))
    idx = AnnIvfIndex.build(
        spark, df, "id", "v", str(tmp_path / "hot"),
        n_centroids=4, max_rows_per_file=100,
    )
    from collections import Counter

    per_cell = Counter(f["cell"] for f in idx.manifest["files"])
    assert max(per_cell.values()) >= 3  # the hot cell split
    q = np.ones(8).tolist()
    got = [r["id"] for r in idx.topk(q, k=5, n_probe=1).collect()]
    assert len(got) == 5 and all(i < 400 for i in got)


def test_ann_rebuild_expire_and_time_travel(spark, tmp_path):
    """A re-build is a full-replace snapshot: the old version stays
    readable until expire() sweeps its files; after expire only live
    files remain on disk."""
    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((300, 10))
    root = str(tmp_path / "gc")
    idx1 = AnnIvfIndex.build(
        spark, _vec_df(spark, vecs), "id", "v", root, n_centroids=4
    )
    v1 = idx1.version
    v1_paths = {f["path"] for f in idx1.manifest["files"]}
    idx2 = AnnIvfIndex.build(
        spark, _vec_df(spark, vecs), "id", "v", root, n_centroids=8
    )
    assert idx2.version == v1 + 1
    # both snapshots readable pre-expire
    assert AnnIvfIndex.load(spark, root, version=v1).manifest["n_centroids"] == 4
    r = idx2.expire(keep_last=1)
    assert set(r["deleted_files"]) == v1_paths
    assert r["deleted_versions"] == [v1]
    for p in v1_paths:
        assert not os.path.exists(os.path.join(root, p))
    live = {f["path"] for f in idx2.manifest["files"]}
    on_disk = {
        os.path.relpath(p, root)
        for p in __import__("glob").glob(os.path.join(root, "data", "*.parquet"))
    }
    assert on_disk == live
    q = vecs[0].tolist()
    assert idx2.topk(q, k=3, n_probe=2).count() == 3


def test_ann_append_conflicts_with_concurrent_rebuild(spark, tmp_path):
    """An append holding a stale codebook must NOT commit over a rebuild
    — its cell assignments are meaningless under the new codebook."""
    rng = np.random.default_rng(13)
    vecs = rng.standard_normal((200, 8))
    root = str(tmp_path / "conf")
    stale = AnnIvfIndex.build(
        spark, _vec_df(spark, vecs), "id", "v", root, n_centroids=4
    )
    AnnIvfIndex.build(  # concurrent rebuild wins first
        spark, _vec_df(spark, vecs), "id", "v", root, n_centroids=4, seed=7
    )
    with pytest.raises(CommitConflict, match="codebook"):
        stale.append(_vec_df(spark, rng.standard_normal((5, 8)), start_id=900))
    # the rebuilt snapshot is intact and appendable
    fresh = AnnIvfIndex.load(spark, root)
    fresh.append(_vec_df(spark, rng.standard_normal((5, 8)), start_id=900))
    assert sum(f["rows"] for f in fresh.manifest["files"]) == 205


def test_ann_string_id_append_and_empty_probe(spark, tmp_path):
    """Pinned id/vec types hold through appends (string ids)."""
    rng = np.random.default_rng(17)
    vecs = rng.standard_normal((60, 6))
    idx = AnnIvfIndex.build(
        spark,
        _vec_df(spark, vecs, id_prefix="doc-"),
        "id",
        "v",
        str(tmp_path / "str"),
        n_centroids=3,
    )
    idx.append(_vec_df(spark, vecs[:4] + 0.01, start_id=100, id_prefix="doc-"))
    empty = idx.scan_cells([999])
    nonempty = idx.scan_cells([0, 1, 2])
    assert empty.schema == nonempty.schema
    assert nonempty.count() == 64


def test_ann_failed_manifest_write_keeps_index_loadable(spark, tmp_path, monkeypatch):
    """A fault while an append's manifest is being written never leaves
    a torn version: the index still loads at its previous version and
    the next append commits."""
    import json

    rng = np.random.default_rng(19)
    root = str(tmp_path / "torn")
    AnnIvfIndex.build(
        spark, _vec_df(spark, rng.standard_normal((100, 6))), "id", "v", root,
        n_centroids=3,
    )
    v = AnnIvfIndex.current_version(root)
    real_dump = json.dump

    def failing_dump(obj, fp, *a, **k):
        if isinstance(obj, dict) and "codebook_id" in obj:
            fp.write('{"files": ')
            raise OSError("simulated fault while writing the manifest")
        return real_dump(obj, fp, *a, **k)

    idx = AnnIvfIndex.load(spark, root)
    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="simulated"):
        idx.append(_vec_df(spark, rng.standard_normal((5, 6)), start_id=500))
    monkeypatch.setattr(json, "dump", real_dump)

    assert AnnIvfIndex.current_version(root) == v
    again = AnnIvfIndex.load(spark, root)
    assert sum(f["rows"] for f in again.manifest["files"]) == 100
    again.append(_vec_df(spark, rng.standard_normal((5, 6)), start_id=500))
    assert AnnIvfIndex.current_version(root) == v + 1
    assert sum(f["rows"] for f in AnnIvfIndex.load(spark, root).manifest["files"]) == 105
