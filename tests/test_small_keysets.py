"""Small key sets stay small: a MERGE source or a merge-on-read commit's
delete keys at or below ``keybloom.MAX_PROBE_KEYS`` are probed against
the Bloom sidecars on the driver, only the files that survive the probe
are read, and a copy-on-write rewrite is written through as many Python
tasks as its bytes need. Sidecar probes that run as a Spark job are
sized by sidecar bytes."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datalakequality_spark.maintenance import merge as merge_mod
from datalakequality_spark.maintenance.compaction import compact_delete_files
from datalakequality_spark.maintenance.merge import bloom_prune_candidates, merge_into
from datalakequality_spark.sources import keybloom
from datalakequality_spark.sources.datagen import generate_sequences
from datalakequality_spark.sources.icemini import IceMiniTable, key_hashes

COLS = ["doc_id", "n_tok", "source", "tokens"]


def _fanout_table(spark, root: str, rows: int, files: int) -> IceMiniTable:
    """``rows`` rows in ~``files`` files written by one four-task fanout
    write; rows are spread by a hash of doc_id, so every file spans the
    whole key range (min/max pruning keeps every file)."""
    t = IceMiniTable.create(spark, root)
    df = (
        generate_sequences(spark, rows, mean_tokens=8)
        .withColumn("__b", F.pmod(F.xxhash64("doc_id"), F.lit(files)).cast("int"))
        .repartition(4, "__b")
        .sortWithinPartitions("__b")
    )
    t.commit("append", added=t.write_data_files(df, split_col="__b"))
    return t


def _in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (its result, the
    group's job ids)."""
    sc = spark.sparkContext
    group = f"small-keys-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "small key set")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _tasks_run(spark, job_id: int) -> int:
    tracker = spark.sparkContext.statusTracker()
    return sum(
        tracker.getStageInfo(s).numCompletedTasks
        for s in tracker.getJobInfo(job_id).stageIds
    )


def _rows(pdf: pd.DataFrame, ordered: bool = True) -> list[tuple]:
    rows = [
        (r.doc_id, r.n_tok, r.source, tuple(r.tokens) if r.tokens is not None else None)
        for r in pdf[COLS].itertuples()
    ]
    return sorted(rows) if ordered else rows


def _keys_of(t: IceMiniTable, e) -> set[str]:
    return set(pq.read_table(t._abs(e.path), columns=["doc_id"]).column("doc_id").to_pylist())


def test_point_merge_probes_on_the_driver_and_writes_through_one_task(spark, tmp_path, monkeypatch):
    """A 20-key copy-on-write MERGE on a 200-file unclustered table: its
    Bloom probe runs no Spark job beyond the collect of the source's key
    hashes, its rewrite is written by one Python task (one per partition
    of the rewrite's plan wrote 12), and the table then equals the
    last-writer-wins content."""
    t = _fanout_table(spark, str(tmp_path / "point"), 4000, 200)
    assert len(t.live_entries()) >= 200
    want = t.scan().toPandas()
    src = generate_sequences(spark, 16, start_id=1000, rev=1, mean_tokens=8).unionByName(
        generate_sequences(spark, 4, start_id=10**6, rev=1, mean_tokens=8)
    )
    src_pdf = src.toPandas()
    want = pd.concat([want, src_pdf]).drop_duplicates("doc_id", keep="last")
    holders = sorted(e.path for e in t.live_entries() if _keys_of(t, e) & set(src_pdf["doc_id"]))

    probe_jobs: list[list[int]] = []
    writer_jobs: list[list[int]] = []
    orig_probe = merge_mod.bloom_prune_candidates
    orig_write = IceMiniTable.write_data_files

    def probe(*a, **k):
        out, jobs = _in_group(spark, lambda: orig_probe(*a, **k))
        probe_jobs.append(jobs)
        return out

    def write(self, df, *a, **k):
        out, jobs = _in_group(spark, lambda: orig_write(self, df, *a, **k))
        writer_jobs.append(jobs)
        return out

    monkeypatch.setattr(merge_mod, "bloom_prune_candidates", probe)
    monkeypatch.setattr(IceMiniTable, "write_data_files", write)
    r = merge_into(t, src)
    monkeypatch.undo()

    d = r["discovery"]
    assert d["candidates_minmax"] == d["live_files"]
    assert len(holders) <= d["candidates_bloom"] <= len(holders) + 4
    assert sorted(r["input_files"]) == holders
    [jobs] = probe_jobs
    assert len(jobs) == 1  # the key-hash collect
    [jobs] = writer_jobs
    assert _tasks_run(spark, jobs[-1]) == 1  # the writer job is the last
    assert len(r["output_files"]) == 1
    assert _rows(t.scan().toPandas()) == _rows(want)


def test_changelog_reads_only_files_the_new_delete_keys_can_hit(spark, tmp_path, monkeypatch):
    """Interleaved merge-on-read upserts (hot keys, and insert keys no
    earlier file holds) on an unclustered table: each commit's DELETE
    rows come from reading only the files whose sidecar may hold one of
    its delete keys, a file whose sidecar was removed is read anyway,
    and the changelog equals the pandas last-writer-wins oracle."""
    t = _fanout_table(spark, str(tmp_path / "cdc"), 3000, 64)
    state = t.scan().toPandas().set_index("doc_id")
    v0 = t.current_version()
    want: list[pd.DataFrame] = []
    for epoch in range(1, 4):
        # 12 keys of the base, 6 hot keys of the previous epoch, 6 new
        b = generate_sequences(
            spark, 18, start_id=200 + 12 * epoch, rev=epoch, mean_tokens=8
        ).unionByName(
            generate_sequences(spark, 6, start_id=10**6 + 6 * epoch, rev=epoch, mean_tokens=8)
        )
        if epoch == 2:
            # a base file holding none of this epoch's keys loses its
            # sidecar: the probe cannot rule it out
            keys = set(b.toPandas()["doc_id"])
            bare = next(e for e in t.live_entries(v0) if not keys & _keys_of(t, e))
            os.remove(t._abs(bare.key_bloom))
        merge_into(t, b, mode="merge_on_read")
        v = t.current_version()
        new = b.toPandas().set_index("doc_id")
        old = state.loc[state.index.intersection(new.index)]
        want.append(old.reset_index().assign(_change_type="DELETE", _commit_version=v))
        want.append(new.reset_index().assign(_change_type="INSERT", _commit_version=v))
        state = pd.concat([state.drop(new.index, errors="ignore"), new])

    kept: list[list[str]] = []
    orig = IceMiniTable.bloom_prune

    def spy(self, entries, hashes):
        out = orig(self, entries, hashes)
        kept.append([e.path for e in out])
        assert len(out) < len(entries)
        return out

    monkeypatch.setattr(IceMiniTable, "bloom_prune", spy)
    got = t.changelog_scan(v0).toPandas()
    monkeypatch.undo()

    assert len(kept) == 3  # one probe per upsert commit
    assert bare.path in kept[1]
    assert _changes(got) == _changes(pd.concat(want, ignore_index=True))


def _changes(pdf: pd.DataFrame) -> list[tuple]:
    return sorted(
        (kind, int(v), *row)
        for kind, v, row in zip(
            pdf["_change_type"], pdf["_commit_version"], _rows(pdf, ordered=False)
        )
    )


def test_distributed_probe_keeps_the_driver_probe_files(spark, tmp_path):
    """With ``spark.sql.files.maxPartitionBytes`` below the sidecar
    volume the probe runs as a Spark job of several tasks; it keeps
    exactly the files the driver-side probe keeps, sidecar-less files
    included."""
    t = _fanout_table(spark, str(tmp_path / "dist"), 2000, 40)
    cands = t.live_entries()
    cands[3] = type(cands[3])(**{**cands[3].to_dict(), "key_bloom": None})
    src = generate_sequences(spark, 8, start_id=300).unionByName(
        generate_sequences(spark, 8, start_id=10**7)
    ).select("doc_id")
    driver, jobs = _in_group(spark, lambda: bloom_prune_candidates(t, cands, src, "doc_id", 16))
    assert len(jobs) == 1
    assert cands[3] in driver and len(driver) < len(cands)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        dist, jobs = _in_group(spark, lambda: bloom_prune_candidates(t, cands, src, "doc_id", 16))
        assert _tasks_run(spark, jobs[-1]) > 1
    finally:
        spark.conf.set(key, old)
    assert dist == driver


def test_delete_compaction_probe_is_sized_by_sidecar_bytes(spark, tmp_path):
    """On a 200-file table the delete-file analysis probes every
    sidecar in one Python task (it ran one per file, up to 64), and its
    dead, lifted and kept key counts equal a driver-side replay of the
    rule over the same sidecars; the content is unchanged."""
    t = _fanout_table(spark, str(tmp_path / "backlog"), 4000, 200)
    for epoch in range(1, 4):
        merge_into(
            t,
            generate_sequences(spark, 40, start_id=30 * epoch, rev=epoch, mean_tokens=8),
            mode="merge_on_read",
        )
    # dropping the base file holding the most delete keys leaves keys
    # no older file holds: dead keys
    dels = t.live_delete_entries()
    dkeys = set().union(*(_keys_of(t, d) for d in dels))
    base = max(t.live_entries(2), key=lambda e: len(_keys_of(t, e) & dkeys))
    t.commit("drop-file", added=[], removed_paths=[base.path])
    before = _rows(t.scan().toPandas())

    # the rule over the backlog: each key at its max delete seq sk is
    # dead if no file below sk may hold it, else lifted unless a file
    # in [sk, top) may hold it
    top = max(d.seq for d in dels)
    sk: dict[str, int] = {}
    for d in dels:
        for k in _keys_of(t, d):
            sk[k] = max(sk.get(k, 0), d.seq)
    keys = sorted(sk)
    h = key_hashes(spark.createDataFrame([(k,) for k in keys], "doc_id string"))
    s = np.array([sk[k] for k in keys])
    below = np.zeros(len(keys), bool)
    window = np.zeros(len(keys), bool)
    for e in t.live_entries():
        maybe = keybloom.probe(keybloom.load(t._abs(e.key_bloom)), h)
        below |= maybe & (e.seq < s)
        window |= maybe & (e.seq >= s) & (e.seq < top)

    r, jobs = _in_group(spark, lambda: compact_delete_files(t))
    tracker = spark.sparkContext.statusTracker()
    probe = [
        j for j in jobs
        if any(
            tracker.getStageInfo(st).name.startswith("collect at")
            and "compaction.py" in tracker.getStageInfo(st).name
            for st in tracker.getJobInfo(j).stageIds
        )
    ]
    assert len(probe) == 1 and _tasks_run(spark, probe[0]) == 1
    assert r["skipped"] == 0 and r["analysis"] == "bloom"
    assert r["dead_keys_dropped"] == int((~below).sum()) > 0
    assert r["lifted_keys"] == int((below & ~window).sum())
    assert r["kept_keys"] == int((below & window).sum())
    assert _rows(t.scan().toPandas()) == before
