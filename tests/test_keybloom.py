"""Per-file key-existence sketches (sources/keybloom.py) and their use
in MERGE discovery (maintenance/merge.py::bloom_prune_candidates).

The scenario that motivates the feature: an UNCLUSTERED table — every
file spans the whole doc_id range, so per-file min/max pruning keeps
every file — merged with a narrow key set. The sidecar probe must cut
the discovery scan to ~the files actually holding those keys.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from datalakequality_spark.maintenance.merge import (
    bloom_prune_candidates,
    merge_into,
)
from datalakequality_spark.sources import keybloom
from datalakequality_spark.sources.datagen import generate_sequences
from datalakequality_spark.sources.icemini import IceMiniTable


def test_sbbf_build_probe_roundtrip():
    rng = np.random.default_rng(7)
    present = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    absent = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    absent = np.setdiff1d(absent, present)
    buf = keybloom.build(present)
    # header sanity + sizing: ~24 bits/key
    assert buf[:8] == keybloom.MAGIC
    words = np.frombuffer(buf[keybloom.HEADER_BYTES :], dtype="<u4")
    assert keybloom.probe(words, present).all()  # zero false negatives
    fp = keybloom.probe(words, absent).mean()
    assert fp < 0.01  # sized for ~4e-5; generous determinism margin

    # empty filter admits nothing; empty probe returns empty
    empty = np.frombuffer(
        keybloom.build([])[keybloom.HEADER_BYTES :], dtype="<u4"
    )
    assert not keybloom.probe(empty, present).any()
    assert keybloom.probe(words, np.array([], dtype=np.int64)).shape == (0,)


def test_load_tolerates_missing_and_corrupt(tmp_path):
    assert keybloom.load(str(tmp_path / "nope.bloom")) is None
    bad = tmp_path / "bad.bloom"
    bad.write_bytes(b"NOTMAGIC" + b"\x00" * 64)
    assert keybloom.load(str(bad)) is None
    trunc = tmp_path / "trunc.bloom"
    trunc.write_bytes(keybloom.build([1, 2, 3])[:-5])
    assert keybloom.load(str(trunc)) is None
    # None words ⇒ "maybe" (pruning stays conservative)
    assert keybloom.probe_any(None, np.array([1], dtype=np.int64))


def test_writer_emits_sidecars_matching_spark_xxhash64(spark, tmp_path):
    """Every data file gets a manifest-recorded sidecar whose contents
    answer for exactly the keys written to that file, under Spark's own
    xxhash64 — the cross-check that the JVM write-side hash and the
    probe-side hash are the same function."""
    t = IceMiniTable.create(spark, str(tmp_path / "tbl"))
    t.append(generate_sequences(spark, 2000), target_file_rows=500)
    entries = t.live_entries()
    assert all(e.key_bloom for e in entries)
    all_hashes = {
        e.path: np.array(
            [
                r["h"]
                for r in spark.read.parquet(t._abs(e.path))
                .select(F.xxhash64("doc_id").alias("h"))
                .collect()
            ],
            dtype=np.int64,
        )
        for e in entries
    }
    foreign = np.array(
        [
            r["h"]
            for r in spark.range(10)
            .select(
                F.xxhash64(
                    F.concat(F.lit("zz-"), F.col("id").cast("string"))
                ).alias("h")
            )
            .collect()
        ],
        dtype=np.int64,
    )
    for e in entries:
        words = keybloom.load(t._abs(e.key_bloom))
        assert words is not None
        assert keybloom.probe(words, all_hashes[e.path]).all()
        assert not keybloom.probe(words, foreign).any()


def test_merge_bloom_prunes_unclustered_table(spark, tmp_path):
    """The headline scenario: freshly appended (unclustered) table where
    min/max prunes nothing; a merge touching 2 files' keys must scan far
    fewer candidates than the live file count, and still produce the
    exact merge result."""
    t = IceMiniTable.create(spark, str(tmp_path / "uncl"))
    t.append(generate_sequences(spark, 20_000), target_file_rows=500)
    entries = t.live_entries()
    assert len(entries) >= 30

    # keys of exactly two files, re-tagged as updates
    picked = [entries[3].path, entries[17].path]
    src = (
        spark.read.schema(t.schema())
        .parquet(*[t._abs(p) for p in picked])
        .withColumn("source", F.lit("patched"))
    )
    expect_updates = src.count()

    r = merge_into(t, src)
    d = r["discovery"]
    # the unclustered premise: min/max pruning kept (almost) everything
    assert d["candidates_minmax"] >= 0.9 * d["live_files"]
    # the bloom probe is what cut discovery down (2 true + bounded FPs)
    assert 2 <= d["candidates_bloom"] <= max(6, d["live_files"] // 4)
    assert sorted(r["input_files"]) == sorted(picked)
    assert t.scan().where("source = 'patched'").count() == expect_updates
    assert t.scan().count() == 20_000


def test_bloom_prune_is_conservative(spark, tmp_path):
    """Files without a sidecar are never pruned; oversized key sets and
    non-doc_id keys skip the probe entirely."""
    t = IceMiniTable.create(spark, str(tmp_path / "cons"))
    t.append(generate_sequences(spark, 1000), target_file_rows=500)
    cands = t.live_entries()
    stripped = [
        type(e)(**{**e.to_dict(), "key_bloom": None}) for e in cands
    ]
    src_keys = generate_sequences(spark, 10, start_id=10**9).select("doc_id")
    kept = bloom_prune_candidates(t, stripped, src_keys, "doc_id", 10)
    assert kept == stripped  # no sidecars ⇒ untouched
    # foreign keys against real sidecars: everything prunable is pruned
    kept2 = bloom_prune_candidates(t, cands, src_keys, "doc_id", 10)
    assert kept2 == []
    # non-doc_id key or oversized source ⇒ probe skipped
    assert bloom_prune_candidates(t, cands, src_keys, "other", 10) == cands
    assert (
        bloom_prune_candidates(t, cands, src_keys, "doc_id", 10**9) == cands
    )


def test_bloom_probe_small_candidate_set_is_one_task(spark, tmp_path):
    """The probe job is sized by sidecar bytes (from the manifest's row
    counts), not by file count: 20 small sidecars are probed by one
    task, and the kept set is unchanged."""
    t = IceMiniTable.create(spark, str(tmp_path / "onetask"))
    t.append(generate_sequences(spark, 2000), target_file_rows=100)
    cands = t.live_entries()
    assert len(cands) >= 16
    picked = cands[5]
    src_keys = (
        spark.read.schema(t.schema()).parquet(t._abs(picked.path)).select("doc_id")
    )

    sc = spark.sparkContext
    group = "bloom-probe-one-task"
    sc.setJobGroup(group, "bloom probe")
    try:
        kept = bloom_prune_candidates(t, cands, src_keys, "doc_id", picked.rows)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert picked in kept and len(kept) <= 3

    tracker = sc.statusTracker()
    probe_job = max(tracker.getJobIdsForGroup(group))  # the last action
    stages = tracker.getJobInfo(probe_job).stageIds
    assert sum(tracker.getStageInfo(s).numTasks for s in stages) == 1


def test_expire_sweeps_orphan_sidecars(spark, tmp_path):
    """Sidecars die with their data file: after a rewrite + expire, no
    sidecar without a live data file remains, and every live data file
    keeps its sidecar."""
    from datalakequality_spark.maintenance.compaction import compact_table

    t = IceMiniTable.create(spark, str(tmp_path / "gc"))
    t.append(generate_sequences(spark, 2000), target_file_rows=250)
    old_blooms = [e.key_bloom for e in t.live_entries()]
    compact_table(t, target_bytes=64 * 1024 * 1024)
    t.expire_snapshots(keep_last=1)
    live = t.live_entries()
    for e in live:
        assert e.key_bloom and os.path.exists(t._abs(e.key_bloom))
    for b in old_blooms:
        if b not in {e.key_bloom for e in live}:
            assert not os.path.exists(t._abs(b))
