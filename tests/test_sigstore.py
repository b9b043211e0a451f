"""Incremental dedup against a persisted MinHash signature store
(sources/sigstore.py) — VERDICT r4 #5: a new ingest batch dedups
against the corpus without recomputing any stored signature."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import datalakequality_spark.operators.dedup as dedup_mod
from datalakequality_spark.operators.dedup import minhash_dedup_pairs
from datalakequality_spark.sources.sigstore import MinHashStore

VOCAB = [f"w{i}" for i in range(300)]


def _texts(rng, n, lo=20, hi=40):
    return [" ".join(rng.choice(VOCAB, size=rng.integers(lo, hi))) for _ in range(n)]


@pytest.fixture()
def batches(spark):
    """Batch A (the corpus) and batch B with planted cross-batch
    near-dups of A docs, one within-B dup pair, and fresh docs."""
    rng = np.random.default_rng(23)
    a_texts = _texts(rng, 40)
    a = spark.createDataFrame(
        [(f"a{i}", t) for i, t in enumerate(a_texts)], "doc_id string, text string"
    )
    b_rows = [(f"b{i}", t) for i, t in enumerate(_texts(rng, 20))]
    # planted: b100+i ≈ a_i (cross-batch), b200/b201 ≈ each other (within)
    b_rows += [(f"b10{i}", a_texts[i] + " tail") for i in range(5)]
    twin = " ".join(rng.choice(VOCAB, size=30))
    b_rows += [("b200", twin), ("b201", twin + " x")]
    b = spark.createDataFrame(b_rows, "doc_id string, text string")
    return a, b


def test_incremental_dedup_finds_cross_batch_dups(spark, tmp_path, batches):
    """dedup_batch(B) over a store holding A equals the full-recompute
    reference (minhash_dedup_pairs over A∪B) restricted to pairs
    touching B — same params ⇒ same bands ⇒ identical verified pairs."""
    a, b = batches
    store = MinHashStore.create(spark, str(tmp_path / "sig"))
    store.add_batch(a, "doc_id", "text")

    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in store.dedup_batch(b, "doc_id", "text", threshold=0.6).collect()
    }
    ref_all = minhash_dedup_pairs(
        a.unionByName(b), "doc_id", "text", threshold=0.6
    )
    ref = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ref_all.collect()
        if r["id_a"].startswith("b") or r["id_b"].startswith("b")
    }
    assert got == ref
    # the planted structure is actually in there
    assert {(p[0], p[1]) for p in got} >= {(f"a{i}", f"b10{i}") for i in range(5)}
    assert ("b200", "b201") in {(p[0], p[1]) for p in got}
    # dedup_batch(add=True) appended B: the store now answers for both
    assert store.scan().count() == a.count() + b.count()


def test_incremental_dedup_no_store_recompute(spark, tmp_path, batches):
    """The expensive pass (tokenize + Arrow MinHash kernel) runs exactly
    ONCE per dedup_batch — over the new batch; the store side is pure
    JVM over persisted signatures."""
    a, b = batches
    store = MinHashStore.create(spark, str(tmp_path / "sig2"))
    store.add_batch(a, "doc_id", "text")

    calls = {"n": 0}
    real = dedup_mod.minhash_sig_and_shingles

    def counting(*args, **kw):
        calls["n"] += 1
        return real(*args, **kw)

    dedup_mod.minhash_sig_and_shingles = counting
    try:
        pairs = store.dedup_batch(b, "doc_id", "text", threshold=0.6, add=False)
        assert pairs.count() > 0
    finally:
        dedup_mod.minhash_sig_and_shingles = real
    assert calls["n"] == 1  # new batch only — the store was never re-signed
    # and the store-side band derivation is Python-free
    store_plan = store.scan()._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in store_plan


def test_store_lifecycle(spark, tmp_path, batches):
    a, b = batches
    with pytest.raises(ValueError, match="divisible"):
        MinHashStore.create(spark, str(tmp_path / "bad"), num_perm=64, bands=7)
    store = MinHashStore.create(spark, str(tmp_path / "s"))
    v1 = store.version
    store.add_batch(a, "doc_id", "text")
    assert store.version == v1 + 1
    n_a = store.scan().count()
    assert n_a == a.count()
    store.add_batch(b, "doc_id", "text")
    assert store.scan().count() == n_a + b.count()

    # reload sees the appended state; params are pinned
    again = MinHashStore.load(spark, store.root)
    assert again.version == store.version
    assert again.manifest["num_perm"] == 64

    # expire GCs nothing while all files are referenced by the head
    live = {f["path"] for f in store.manifest["files"]}
    r = store.expire(keep_last=1)
    assert r["deleted_files"] == []
    on_disk = {
        os.path.relpath(p, store.root)
        for p in __import__("glob").glob(os.path.join(store.root, "data", "*.parquet"))
    }
    assert on_disk == live


def test_store_failed_manifest_write_keeps_store_loadable(
    spark, tmp_path, batches, monkeypatch
):
    """A fault while an append's manifest is being written never leaves
    a torn version: the store still loads at its previous version and
    the next append commits."""
    import json

    a, b = batches
    store = MinHashStore.create(spark, str(tmp_path / "torn"))
    store.add_batch(a, "doc_id", "text")
    v = store.version
    real_dump = json.dump

    def failing_dump(obj, fp, *a_, **k):
        if isinstance(obj, dict) and "num_perm" in obj:
            fp.write('{"files": ')
            raise OSError("simulated fault while writing the manifest")
        return real_dump(obj, fp, *a_, **k)

    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="simulated"):
        store.add_batch(b, "doc_id", "text")
    monkeypatch.setattr(json, "dump", real_dump)

    again = MinHashStore.load(spark, store.root)
    assert again.version == v
    assert again.scan().count() == a.count()
    again.add_batch(b, "doc_id", "text")
    assert MinHashStore.load(spark, store.root).version == v + 1
    assert again.scan().count() == a.count() + b.count()
