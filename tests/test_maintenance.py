"""Maintenance invariants (SURVEY.md §5.2.3 / north_rule):
scan parity under token-array equality, snapshot isolation, crash
resume, quarantine, reachability GC."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datalakequality_spark.maintenance.clustering import cluster_table, rewrite_sorted
from datalakequality_spark.maintenance.compaction import compact_table
from datalakequality_spark.maintenance.lineage import JobLog
from datalakequality_spark.maintenance.merge import merge_into
from datalakequality_spark.sources.datagen import (
    generate_merge_batch,
    generate_sequences,
)
from datalakequality_spark.sources.icemini import CommitConflict, IceMiniTable

N = 8000


def _content_hash(table: IceMiniTable) -> int:
    """Order-insensitive full-content hash under token-array equality
    (xxhash64 covers the tokens array element-wise)."""
    return (
        table.scan()
        .agg(
            F.sum(
                F.pmod(
                    F.xxhash64("doc_id", "tokens", "n_tok", "source"), F.lit(2**31)
                )
            )
        )
        .collect()[0][0]
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = IceMiniTable.create(spark, str(tmp_path / "tbl"))
    t.append(generate_sequences(spark, N), target_file_rows=N // 20)
    return t


def test_scan_parity_through_full_cycle(spark, table):
    h0 = _content_hash(table)
    rows0 = table.scan().count()
    compact_table(table, target_bytes=8 * 1024 * 1024)
    assert _content_hash(table) == h0
    cluster_table(table, target_rows_per_file=N // 2)
    assert _content_hash(table) == h0
    assert table.scan().count() == rows0
    # canonical order: doc_id ascending, rows identical field-for-field
    first = table.canonical_scan().limit(3).collect()
    assert [r["doc_id"] for r in first] == sorted(r["doc_id"] for r in first)


def test_rewrite_sorted_fuses_compact_and_cluster(spark, table):
    """One-pass sorted rewrite ≡ compact_table + cluster_table: content
    unchanged, small files gone, files globally range-ordered on the
    curve key with tight disjoint-ish n_tok stats for pruning."""
    h0 = _content_hash(table)
    rows0 = table.scan().count()
    n_files_before = len(table.live_entries())
    r = rewrite_sorted(table, target_rows_per_file=N // 4)
    assert r["tasks"] == 1 and r["new_files"] <= 5
    assert _content_hash(table) == h0
    assert table.scan().count() == rows0
    entries = table.live_entries()
    assert len(entries) < n_files_before  # packing happened
    # clustering happened: manifest pruning on n_tok drops files
    assert len(table.prune_entries(entries, min_n_tok=4000)) < len(entries)
    full = table.scan().where(F.col("n_tok") >= 4000).count()
    assert table.scan(min_n_tok=4000).where(F.col("n_tok") >= 4000).count() == full


def test_rewrite_sorted_gate_and_resume(spark, tmp_path, monkeypatch):
    t = IceMiniTable.create(spark, str(tmp_path / "rs"))
    t.append(generate_sequences(spark, 4000), target_file_rows=500)
    bad = generate_sequences(spark, 400, start_id=10**9).withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit("+leak@example.com"))
    )
    t.append(bad.coalesce(1), target_file_rows=None)
    job = "rewrite-resume-test"
    real_mark_done = JobLog.mark_done

    def dying_mark_done(self, task_id, record):
        raise RuntimeError("simulated crash after commit, before ack")

    monkeypatch.setattr(JobLog, "mark_done", dying_mark_done)
    with pytest.raises(RuntimeError):
        rewrite_sorted(t, target_rows_per_file=2000, quality_gate=True, job_id=job)
    v_after_crash = t.current_version()
    h = _content_hash(t)
    assert t.scan().count() == 4000  # quarantined file already excluded

    monkeypatch.setattr(JobLog, "mark_done", real_mark_done)
    r = rewrite_sorted(t, target_rows_per_file=2000, quality_gate=True, job_id=job)
    assert r["skipped"] == 1 and r["tasks"] == 0  # commit landed → ack only
    assert t.current_version() == v_after_crash
    assert _content_hash(t) == h
    assert len(t.snapshot().quarantine) == 1


def test_merge_upserts_and_inserts(spark, table):
    src = generate_merge_batch(spark, N, insert_rows=N // 10)
    n_src = src.count()
    n_updates = (
        src.join(table.scan().select("doc_id"), "doc_id", "left_semi").count()
    )
    r = merge_into(table, src)
    assert table.scan().count() == N + (n_src - n_updates)
    # updated rows now carry rev=1 token arrays from the source
    updated = table.scan().join(src, ["doc_id", "n_tok"], "left_semi")
    assert updated.count() >= n_updates


def test_merge_pure_insert_keeps_existing_files(spark, table):
    before = table.live_paths()
    inserts = generate_sequences(spark, 500, start_id=10 * N)
    merge_into(table, inserts)
    assert before <= table.live_paths()  # copy-on-write touched nothing


def test_snapshot_isolation_conflict(spark, table):
    # writer A pins its inputs, a concurrent compaction rewrites them,
    # then A's commit must abort (Iceberg conflict-detection semantics)
    pinned = [e.path for e in table.live_entries()]
    compact_table(table, target_bytes=8 * 1024 * 1024)
    with pytest.raises(CommitConflict):
        table.commit("merge", added=[], removed_paths=pinned[:1], required_paths=pinned)


def test_concurrent_nonconflicting_commit_retries(spark, table):
    # a commit whose inputs are untouched retries on top of the winner
    v0 = table.current_version()
    new = table.write_data_files(generate_sequences(spark, 100, start_id=20 * N))
    compact_table(table, target_bytes=8 * 1024 * 1024)  # concurrent winner
    snap = table.commit("append", added=new, base_version=v0)
    assert snap.snapshot_id == table.current_version()
    assert {e.path for e in new} <= table.live_paths()


def test_commit_survives_failed_snapshot_write(spark, tmp_path, monkeypatch):
    """A failure while the snapshot JSON is being written (a crash or a
    full disk mid-write) never leaves a torn v<N>.metadata.json: the
    version is claimed only once its full content exists, so the
    current version, its snapshot and the next commit all still work."""
    import json

    t = IceMiniTable.create(spark, str(tmp_path / "torn"))
    t.append(generate_sequences(spark, 200))
    v = t.current_version()
    real_dump = json.dump

    def failing_dump(obj, fp, *a, **k):
        if isinstance(obj, dict) and "snapshot_id" in obj:
            fp.write('{"snapshot_id": ')  # partial payload, then the fault
            raise OSError("simulated fault while writing the snapshot")
        return real_dump(obj, fp, *a, **k)

    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="simulated"):
        t.append(generate_sequences(spark, 100, start_id=1000))
    monkeypatch.setattr(json, "dump", real_dump)

    assert t.current_version() == v
    assert t.snapshot().snapshot_id == v
    assert t.scan().count() == 200
    t.append(generate_sequences(spark, 100, start_id=1000))
    assert t.current_version() == v + 1
    assert t.scan().count() == 300
    assert not [p for p in os.listdir(t.meta_dir) if p.startswith(".tmp-v")]


def test_crash_resume_idempotent(spark, table, monkeypatch):
    job = "compact-resume-test"
    real_mark_done = JobLog.mark_done
    calls = {"n": 0}

    def dying_mark_done(self, task_id, record):
        calls["n"] += 1
        raise RuntimeError("simulated crash after commit, before ack")

    monkeypatch.setattr(JobLog, "mark_done", dying_mark_done)
    with pytest.raises(RuntimeError):
        compact_table(table, target_bytes=8 * 1024 * 1024, job_id=job)
    v_after_crash = table.current_version()
    h = _content_hash(table)
    # the landed compaction snapshot is tagged with its job
    assert table.snapshot(v_after_crash).summary.get("maint_job_id") == job

    monkeypatch.setattr(JobLog, "mark_done", real_mark_done)
    r = compact_table(table, target_bytes=8 * 1024 * 1024, job_id=job)
    # the interrupted task's commit landed → resume must skip, not redo
    assert r["skipped"] >= 1 and r["batches"] == 0
    assert table.current_version() == v_after_crash
    assert _content_hash(table) == h


def test_quarantine_excludes_failing_files(spark, tmp_path):
    t = IceMiniTable.create(spark, str(tmp_path / "q"))
    good = generate_sequences(spark, 4000)
    t.append(good, target_file_rows=500)
    # one poisoned file: every doc_id carries an email → pii_ratio 1.0
    bad = generate_sequences(spark, 400, start_id=10**9).withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit("+leak@example.com"))
    )
    t.append(bad.coalesce(1), target_file_rows=None)
    r = compact_table(t, target_bytes=8 * 1024 * 1024, quality_gate=True)
    assert r["quarantined_files"] == 1
    snap = t.snapshot()
    assert len(snap.quarantine) == 1 and "pii_ratio" in snap.quarantine[0]["reasons"][0]
    assert t.scan().count() == 4000  # bad rows excluded from the live set
    # quarantined file survives GC for inspection
    qpath = snap.quarantine[0]["path"]
    t.expire_snapshots(keep_last=1)
    assert os.path.exists(t._abs(qpath))


def test_expire_snapshots_gc(spark, table):
    compact_table(table, target_bytes=8 * 1024 * 1024)
    all_files = {
        os.path.relpath(p, table.root)
        for p in __import__("glob").glob(os.path.join(table.data_dir, "*.parquet"))
    }
    live = table.live_paths()
    assert live < all_files  # pre-GC: old files still on disk
    r = table.expire_snapshots(keep_last=1)
    assert set(r["deleted_data_files"]) == all_files - live
    remaining = {
        os.path.relpath(p, table.root)
        for p in __import__("glob").glob(os.path.join(table.data_dir, "*.parquet"))
    }
    assert remaining == live
    assert table.current_version() == max(r["retained_versions"])


def test_load_missing_table(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        IceMiniTable.load(spark, str(tmp_path / "nope"))


def test_manifest_pruning(spark, table):
    cluster_table(table, target_rows_per_file=N // 8)
    entries = table.live_entries()
    # clustering produced tight n_tok ranges → pruning must drop files
    pruned = table.prune_entries(entries, min_n_tok=4000)
    assert len(pruned) < len(entries)
    # pruned scan returns exactly the same rows as a filtered full scan
    full = table.scan().where(F.col("n_tok") >= 4000).count()
    assert table.scan(min_n_tok=4000).where(F.col("n_tok") >= 4000).count() == full


def test_cli_rewrite_merge_expire(spark, table, tmp_path, monkeypatch, capsys):
    """The spark-submit CLI drives the same library entry points:
    rewrite --gate, merge from a parquet source, expire. Each prints one
    JSON line; content survives under token-array equality."""
    import json

    from datalakequality_spark import cli

    # the CLI builds its own session via get_spark; reuse the fixture's
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    h0 = _content_hash(table)

    out = cli.main(["rewrite", "--table", table.root, "--gate",
                    "--target-rows", str(N // 4), "--job-id", "cli-r1"])
    assert out["tasks"] == 1 and out["new_files"] >= 4
    assert json.loads(capsys.readouterr().out.strip())["job_id"] == "cli-r1"
    assert _content_hash(table) == h0

    src_path = str(tmp_path / "mergesrc")
    batch = generate_merge_batch(spark, N, insert_rows=N // 10)
    batch.write.parquet(src_path)
    v_pre_merge = table.current_version()
    out = cli.main(["merge", "--table", table.root, "--source", src_path])
    assert out["rows"] > 0 and out["matched_files"] > 0
    assert table.scan().count() == N + N // 10

    # operational undo: roll the merge back, content returns to h0
    out = cli.main(["rollback", "--table", table.root,
                    "--to-version", str(v_pre_merge)])
    assert out["rolled_back_to"] == v_pre_merge
    assert _content_hash(table) == h0

    out = cli.main(["expire", "--table", table.root, "--keep-last", "1"])
    assert out["deleted_data_files"]
    # resume semantics: re-submitting the same rewrite job id is a no-op
    out = cli.main(["rewrite", "--table", table.root, "--job-id", "cli-r1"])
    assert out["skipped"] == 1 and out["tasks"] == 0


def test_rewrite_shards_crash_resume(spark, tmp_path, monkeypatch):
    """The fused rewrite plans multiple independent shards; a crash
    after shard k leaves k committed shards that resume SKIPS (no
    partition processed twice — SURVEY §5.2.3), and the resumed run's
    final content equals the uninterrupted result (content invariance
    of the rewrite)."""
    t = IceMiniTable.create(spark, str(tmp_path / "shards"))
    t.append(generate_sequences(spark, 6000), target_file_rows=500)
    h0 = _content_hash(t)
    job = "rewrite-shards-test"

    real_mark_done = JobLog.mark_done
    calls = {"n": 0}

    def dying_mark_done(self, task_id, record):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("simulated crash at shard 3")
        return real_mark_done(self, task_id, record)

    monkeypatch.setattr(JobLog, "mark_done", dying_mark_done)
    with pytest.raises(RuntimeError):
        # 1500-row shards over 12x500-row files -> 4 shards; concurrency
        # pinned to 1 so "crash at the 3rd mark_done" is a deterministic
        # prefix (the resumed runs below exercise the default pool)
        rewrite_sorted(
            t, target_rows_per_file=1500, max_shard_rows=1500, job_id=job,
            max_concurrent_shards=1,
        )
    # shard 3's commit landed (crash was post-commit, pre-ack)
    v_after_crash = t.current_version()

    monkeypatch.setattr(JobLog, "mark_done", real_mark_done)
    r = rewrite_sorted(t, target_rows_per_file=1500, max_shard_rows=1500, job_id=job)
    # 2 acked shards skipped + the landed-but-unacked shard 3 skipped
    assert r["skipped"] == 3 and r["tasks"] == 1
    assert t.current_version() == v_after_crash + 1
    assert _content_hash(t) == h0
    assert t.scan().count() == 6000
    # re-run once more: everything done, nothing re-processed
    r2 = rewrite_sorted(t, target_rows_per_file=1500, max_shard_rows=1500, job_id=job)
    assert r2["skipped"] == 4 and r2["tasks"] == 0


def test_merge_batched_equals_single(spark, tmp_path):
    """Batched MERGE (max_batch_files) produces byte-identical content
    to the single-commit path, with one snapshot per batch + inserts."""
    t1 = IceMiniTable.create(spark, str(tmp_path / "m1"))
    t1.append(generate_sequences(spark, 4000), target_file_rows=500)
    t2 = IceMiniTable.create(spark, str(tmp_path / "m2"))
    t2.append(generate_sequences(spark, 4000), target_file_rows=500)
    src = generate_merge_batch(spark, 4000, insert_rows=400)

    v1 = t1.current_version()
    r1 = merge_into(t1, src, max_batch_files=None)  # single commit
    r2 = merge_into(t2, src, max_batch_files=3)  # batched commits
    assert t1.current_version() == v1 + 1
    # batched: ceil(affected/3) batch commits + 1 insert commit
    assert t2.current_version() > v1 + 1
    assert r2["matched_files"] == r1["matched_files"]
    assert _content_hash(t1) == _content_hash(t2)
    assert t1.scan().count() == t2.scan().count() == 4400


def test_merge_batched_crash_resume(spark, tmp_path, monkeypatch):
    """Crash at batch k of a batched MERGE: resume with the same job_id
    and source skips landed batches and completes the rest; final
    content equals an uninterrupted single-commit merge."""
    t = IceMiniTable.create(spark, str(tmp_path / "mc"))
    t.append(generate_sequences(spark, 4000), target_file_rows=500)
    ref = IceMiniTable.create(spark, str(tmp_path / "mref"))
    ref.append(generate_sequences(spark, 4000), target_file_rows=500)
    src = generate_merge_batch(spark, 4000, insert_rows=400)
    merge_into(ref, src, max_batch_files=None)

    job = "merge-batch-resume"
    real_mark_done = JobLog.mark_done
    calls = {"n": 0}

    def dying_mark_done(self, task_id, record):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash at batch 2")
        return real_mark_done(self, task_id, record)

    monkeypatch.setattr(JobLog, "mark_done", dying_mark_done)
    with pytest.raises(RuntimeError):
        # concurrency pinned to 1: "crash at batch 2" must be a
        # deterministic prefix (the resume below uses the default pool)
        merge_into(
            t, src, max_batch_files=3, job_id=job, max_concurrent_batches=1
        )

    monkeypatch.setattr(JobLog, "mark_done", real_mark_done)
    r = merge_into(t, src, max_batch_files=3, job_id=job)
    # batch 1 acked + batch 2 landed-but-unacked -> both skipped
    assert r["skipped"] == 2 and r["tasks"] >= 1
    assert _content_hash(t) == _content_hash(ref)
    assert t.scan().count() == 4400
    # keys updated exactly once: no duplicate doc_ids anywhere
    assert t.scan().groupBy("doc_id").count().where("count > 1").count() == 0


def test_broadcast_threshold_parsing(spark):
    """merge's broadcast gate parses every conf form Spark accepts
    (plain bytes, short suffix, unit suffix, disabled)."""
    from datalakequality_spark.maintenance.merge import broadcast_threshold_bytes

    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for raw, want in [
            ("10485760", 10 * 1024 * 1024),
            ("10m", 10 * 1024 * 1024),
            ("64MB", 64 * 1024 * 1024),
            ("-1", -1),
        ]:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
            assert broadcast_threshold_bytes(spark) == want, raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)


def test_expire_preserves_fresh_inprogress_temps(spark, table):
    """A concurrent writer's open .inprogress temp must survive GC
    (age-gated orphan cleanup); stale temps are removed."""
    fresh = os.path.join(table.data_dir, ".inprogress-live-writer")
    open(fresh, "w").write("x")
    stale = os.path.join(table.data_dir, ".inprogress-stale")
    open(stale, "w").write("x")
    old = __import__("time").time() - 7200
    os.utime(stale, (old, old))
    table.expire_snapshots(keep_last=1)
    assert os.path.exists(fresh)
    assert not os.path.exists(stale)
    table.expire_snapshots(keep_last=1, orphan_temp_age_s=0)
    assert not os.path.exists(fresh)


def test_merge_salted_source_equals_unsalted(spark, tmp_path):
    """north_rule skew handling: a pathologically single-partition,
    source-skewed merge batch routed through salted repartitioning
    produces byte-identical content to the unsalted path."""
    t1 = IceMiniTable.create(spark, str(tmp_path / "s1"))
    t1.append(generate_sequences(spark, 3000), target_file_rows=500)
    t2 = IceMiniTable.create(spark, str(tmp_path / "s2"))
    t2.append(generate_sequences(spark, 3000), target_file_rows=500)
    # skew: every insert from ONE heavy source, all in one partition
    src = generate_merge_batch(spark, 3000, insert_rows=300).withColumn(
        "source", F.lit("heavy-source")
    ).coalesce(1)

    merge_into(t1, src)
    merge_into(t2, src, salt_partitions=8)
    assert _content_hash(t1) == _content_hash(t2)
    assert t2.scan().count() == 3300


def test_concurrent_shards_equal_serial(spark, tmp_path):
    """max_concurrent_shards > 1 (the default, Iceberg's
    max-concurrent-file-group-rewrites shape) commits the same shards —
    content, row count, snapshot count — as strictly serial execution;
    commits land via optimistic retry under in-process contention."""
    roots = {}
    for name, conc in [("ser", 1), ("conc", 4)]:
        t = IceMiniTable.create(spark, str(tmp_path / name))
        t.append(generate_sequences(spark, 6000), target_file_rows=500)
        v0 = t.current_version()
        r = rewrite_sorted(
            t, target_rows_per_file=1500, max_shard_rows=1500,
            max_concurrent_shards=conc,
        )
        assert r["tasks"] == 4 and r["skipped"] == 0
        # one independently-resumable commit per shard, regardless of pool
        assert t.current_version() == v0 + 4
        roots[name] = t
    assert _content_hash(roots["ser"]) == _content_hash(roots["conc"])
    assert roots["conc"].scan().count() == 6000


def test_delete_where(spark, tmp_path, monkeypatch):
    """Copy-on-write DELETE: only affected files rewritten (manifest
    pruning honored), exact surviving content, crash-resume idempotent."""
    from datalakequality_spark.maintenance.merge import delete_where

    t = IceMiniTable.create(spark, str(tmp_path / "del"))
    keep = generate_sequences(spark, 2000).withColumn("source", F.lit("keep"))
    purge = generate_sequences(spark, 2000, start_id=10_000).withColumn(
        "source", F.lit("purge")
    )
    t.append(keep, target_file_rows=500)
    t.append(purge, target_file_rows=500)
    n_files = len(t.live_entries())  # 8, single-source each

    r = delete_where(t, "source = 'purge'", sources=["purge"])
    assert t.scan().count() == 2000
    assert t.scan().where("source = 'purge'").count() == 0
    # manifest pruning: only the purge files were candidates/rewritten
    assert r["rewritten_files"] == 4 < n_files
    assert r["deleted_rows"] == 2000 and r["new_files"] == 0

    # no-match delete: zero affected files, clean no-op
    r2 = delete_where(t, "n_tok > 100000")
    assert r2["affected_files"] == 0 and r2["deleted_rows"] == 0
    assert t.scan().count() == 2000

    # partial in-file delete: survivors rewritten, complement exact
    expect = t.scan().where("NOT (n_tok % 7 = 0)").count()
    r3 = delete_where(t, "n_tok % 7 = 0")
    assert t.scan().count() == expect and r3["new_files"] > 0

    # BATCHED delete: crash at batch 1's post-commit window -> resume
    # skips the landed batch, completes the rest, complement is exact
    job = "delete-resume-test"
    real_mark_done = JobLog.mark_done
    expect2 = t.scan().where("NOT (n_tok % 11 = 0)").count()

    def dying(self, task_id, record):
        raise RuntimeError("crash post-commit")

    monkeypatch.setattr(JobLog, "mark_done", dying)
    with pytest.raises(RuntimeError):
        delete_where(
            t, "n_tok % 11 = 0", job_id=job,
            max_batch_files=2, max_concurrent=1,
        )
    monkeypatch.setattr(JobLog, "mark_done", real_mark_done)
    r4 = delete_where(
        t, "n_tok % 11 = 0", job_id=job, max_batch_files=2
    )
    assert r4["skipped"] >= 1  # the landed-but-unacked batch
    assert t.scan().count() == expect2
    assert t.scan().where("n_tok % 11 = 0").count() == 0


def test_delete_conflicts_with_concurrent_compaction(spark, tmp_path, monkeypatch):
    """Snapshot isolation extends to predicate DML: a compaction that
    rewrites the delete's input files between its planning and its
    commit must abort the delete with CommitConflict (Iceberg
    conflict-detection semantics), leaving content untouched."""
    from datalakequality_spark.maintenance.merge import delete_where
    from datalakequality_spark.sources.icemini import CommitConflict

    t = IceMiniTable.create(spark, str(tmp_path / "dc"))
    t.append(generate_sequences(spark, 2000), target_file_rows=250)
    h0 = _content_hash(t)

    orig = IceMiniTable.write_data_files
    fired = {"done": False}

    def hooked(self, df, *a, **k):
        # first write call comes from the delete's rewrite, AFTER its
        # plan pinned the input files — sneak a full compaction in
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(IceMiniTable, "write_data_files", orig)
            compact_table(t, target_bytes=64 * 1024 * 1024)
        return orig(self, df, *a, **k)

    monkeypatch.setattr(IceMiniTable, "write_data_files", hooked)
    with pytest.raises(CommitConflict):
        delete_where(t, "n_tok % 2 = 0", max_concurrent=1)
    # the delete never landed; the compaction did
    assert _content_hash(t) == h0
    assert t.snapshot().operation == "compact"


def test_update_where(spark, tmp_path):
    """Copy-on-write UPDATE: CASE-WHEN rewrite of affected files only;
    untouched rows byte-identical; unknown columns raise."""
    from datalakequality_spark.maintenance.merge import update_where

    t = IceMiniTable.create(spark, str(tmp_path / "upd"))
    t.append(generate_sequences(spark, 3000), target_file_rows=500)
    n_match = t.scan().where("n_tok % 4 = 0").count()
    tok_sum0 = t.scan().agg(
        F.sum(F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x))
    ).collect()[0][0]

    r = update_where(t, "n_tok % 4 = 0", {"source": F.lit("redacted")})
    assert t.scan().where("source = 'redacted'").count() == n_match
    assert t.scan().count() == 3000
    assert r["rows"] > 0 and r["affected_files"] > 0
    # token arrays untouched by a source-only update
    assert t.scan().agg(
        F.sum(F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x))
    ).collect()[0][0] == tok_sum0

    # SQL-string assignment referencing the pre-update row
    update_where(t, "source = 'redacted'", {"n_tok": "n_tok + 1000"})
    assert t.scan().where("source = 'redacted' AND n_tok > 1000").count() == n_match

    with pytest.raises(ValueError, match="unknown columns"):
        update_where(t, "true", {"nope": F.lit(1)})


def test_metadata_tables(spark, tmp_path):
    """Iceberg-style snapshots/files metadata tables: manifest stats as
    DataFrames, consistent with the table's own accounting, with time
    travel on files_df."""
    t = IceMiniTable.create(spark, str(tmp_path / "meta"))
    t.append(generate_sequences(spark, 2000), target_file_rows=500)
    v1 = t.current_version()
    merge_into(t, generate_merge_batch(spark, 2000, insert_rows=200))

    snaps = t.snapshots_df()
    ops = [r["operation"] for r in snaps.orderBy("snapshot_id").collect()]
    assert ops[0] == "create" and "append" in ops and "merge" in ops

    files = t.files_df()
    agg = files.agg(
        F.sum("rows").alias("r"), F.sum("token_count").alias("tk"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert agg["r"] == 2200
    assert agg["n"] == len(t.live_entries())
    assert agg["tk"] == t.snapshot().summary["total_tokens"]
    # time travel: pre-merge file listing
    assert t.files_df(v1).agg(F.sum("rows")).collect()[0][0] == 2000
    # stats are real per-file bounds, usable for pruning decisions
    assert files.where("min_n_tok > max_n_tok").count() == 0


def test_rollback_restores_content_and_survives_gc(spark, tmp_path):
    """Iceberg rollback_to_snapshot: a bad merge is undone by a NEW
    metadata-only snapshot; content equals the pre-merge state, history
    stays time-travelable, reachability GC keeps the restored files
    live, and rolling back to an expired snapshot raises."""
    t = IceMiniTable.create(spark, str(tmp_path / "rb"))
    t.append(generate_sequences(spark, 2000), target_file_rows=500)
    v_good = t.current_version()
    h_good = _content_hash(t)

    bad = generate_merge_batch(spark, 2000, insert_rows=200)
    merge_into(t, bad)
    v_bad = t.current_version()
    assert _content_hash(t) != h_good

    snap = t.rollback_to(v_good)
    assert snap.operation == "rollback"
    assert snap.summary["rollback_to"] == v_good
    assert _content_hash(t) == h_good
    assert t.scan().count() == 2000
    # history preserved: the bad state is still time-travelable...
    assert t.scan(v_bad).count() == 2200
    # ...and a rollback is itself undoable (roll forward)
    t.rollback_to(v_bad)
    assert t.scan().count() == 2200
    t.rollback_to(v_good)

    # GC keeps everything the rollback snapshot references
    t.expire_snapshots(keep_last=1)
    assert _content_hash(t) == h_good
    with pytest.raises((ValueError, FileNotFoundError)):
        t.rollback_to(v_bad)  # expired → metadata or data gone


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg add-column evolution: metadata-only set-schema snapshot;
    old files read with null backfill; time travel sees the historical
    schema; compaction/rewrite/merge all carry the evolved column; and
    un-evolved producers (no new column) still append/merge (null-fill)."""
    t = IceMiniTable.create(spark, str(tmp_path / "ev"))
    t.append(generate_sequences(spark, 2000), target_file_rows=250)
    v_pre = t.current_version()

    t.add_columns({"quality": "double"})
    assert t.schema().fieldNames() == ["doc_id", "tokens", "n_tok", "source", "quality"]
    assert t.scan(v_pre).columns == ["doc_id", "tokens", "n_tok", "source"]  # time travel
    assert t.scan().where(F.col("quality").isNotNull()).count() == 0  # null backfill
    with pytest.raises(ValueError, match="already exist"):
        t.add_columns({"quality": "float"})

    # evolved producer appends WITH the column; un-evolved appends without
    batch = generate_sequences(spark, 500, start_id=50_000).withColumn(
        "quality", (F.col("n_tok") % 100).cast("double") / 100.0
    )
    expected_q = batch.agg(F.sum("quality")).collect()[0][0]
    t.append(batch, target_file_rows=250)
    t.append(generate_sequences(spark, 100, start_id=90_000), target_file_rows=None)
    assert t.scan().count() == 2600
    q_sum = t.scan().agg(F.sum("quality")).collect()[0][0]
    assert q_sum == pytest.approx(expected_q)

    # maintenance must not drop the evolved column's values
    compact_table(t, target_bytes=8 * 1024 * 1024)
    rewrite_sorted(t, target_rows_per_file=1000)
    assert t.scan().agg(F.sum("quality")).collect()[0][0] == pytest.approx(q_sum)

    # merge: evolved source updates the column; survivors keep theirs
    upd_ids = [r["doc_id"] for r in batch.select("doc_id").head(100)]
    upd = (
        t.scan().where(F.col("doc_id").isin(upd_ids))
        .withColumn("quality", F.lit(1.0))
    )
    merge_into(t, upd)
    assert t.scan().where("quality = 1.0").count() == 100
    assert t.scan().count() == 2600

    # required base column missing -> loud failure
    with pytest.raises(ValueError, match="required column"):
        t.append(generate_sequences(spark, 10).drop("tokens"))

    # drop: evolved columns only, metadata-only, time travel unaffected
    v_with_q = t.current_version()
    with pytest.raises(ValueError, match="base sequence"):
        t.drop_columns(["n_tok"])
    t.drop_columns(["quality"])
    assert t.scan().columns == ["doc_id", "tokens", "n_tok", "source"]
    assert "quality" in t.scan(v_with_q).columns  # historical schema
    # a stale producer still sending the column is projected onto the
    # current schema; the next rewrite physically sheds the bytes
    t.append(batch.limit(10))
    assert t.scan().count() == 2610
    rewrite_sorted(t, target_rows_per_file=1000)
    assert t.scan().columns == ["doc_id", "tokens", "n_tok", "source"]
    assert t.scan().count() == 2610


def test_incremental_scan_append_ranges(spark, tmp_path):
    """Iceberg IncrementalAppendScan semantics: rows added in
    (from, to] from manifest set-difference only; ranges crossing a
    file-removing snapshot raise."""
    t = IceMiniTable.create(spark, str(tmp_path / "inc"))
    v0 = t.current_version()
    t.append(generate_sequences(spark, 1000), target_file_rows=250)
    v1 = t.current_version()
    t.append(generate_sequences(spark, 500, start_id=10_000), target_file_rows=250)
    v2 = t.current_version()

    inc = t.incremental_scan(v1)
    assert inc.count() == 500
    batch_b = generate_sequences(spark, 500, start_id=10_000).select("doc_id")
    assert inc.join(batch_b, "doc_id", "left_semi").count() == 500  # exactly B
    assert t.incremental_scan(v0).count() == 1500
    assert t.incremental_scan(v1, v1).count() == 0

    # pure-insert merge is append-shaped -> still readable incrementally
    merge_into(t, generate_sequences(spark, 200, start_id=50_000))
    assert t.incremental_scan(v2).count() == 200

    # a rewrite removes files -> ranges crossing it must raise
    compact_table(t, target_bytes=8 * 1024 * 1024)
    with pytest.raises(ValueError, match="append-only"):
        t.incremental_scan(v1)
    with pytest.raises(ValueError):
        t.incremental_scan(0)


def test_delete_where_null_predicate_keeps_null_rows(spark, tmp_path):
    """SQL DELETE three-valued logic: a row whose predicate evaluates to
    NULL is NOT deleted (only TRUE rows are). A bare ``where(~cond)``
    silently dropped every null-predicate row in any affected file —
    realistic after schema evolution null-fills a column (ADVICE r4)."""
    from datalakequality_spark.maintenance.merge import delete_where

    t = IceMiniTable.create(spark, str(tmp_path / "nulldel"))
    df = generate_sequences(spark, 1200).withColumn(
        "n_tok",
        F.when(F.col("n_tok") % 3 == 0, None).otherwise(F.col("n_tok")),
    )
    t.append(df, target_file_rows=300)
    n_null = t.scan().where("n_tok IS NULL").count()
    n_true = t.scan().where("n_tok % 2 = 0").count()
    assert n_null > 0 and n_true > 0

    r = delete_where(t, "n_tok % 2 = 0")
    assert r["deleted_rows"] == n_true
    # NULL-predicate rows all survive
    assert t.scan().where("n_tok IS NULL").count() == n_null
    assert t.scan().where("n_tok % 2 = 0").count() == 0


def test_nomatch_dml_commits_no_snapshot(spark, tmp_path):
    """A DELETE/UPDATE matching zero rows is a clean no-op: no empty
    commit, no junk snapshot version, no manifest churn (ADVICE r4)."""
    from datalakequality_spark.maintenance.merge import delete_where, update_where

    t = IceMiniTable.create(spark, str(tmp_path / "nomatch"))
    t.append(generate_sequences(spark, 500), target_file_rows=250)
    v0 = t.current_version()

    r1 = delete_where(t, "n_tok > 1000000")
    r2 = update_where(t, "n_tok > 1000000", {"source": F.lit("x")})
    assert r1["affected_files"] == 0 and r2["affected_files"] == 0
    assert t.current_version() == v0  # zero snapshots created


def test_merge_insert_resume_after_expire_no_duplicates(spark, tmp_path, monkeypatch):
    """Resume safety for the EMPTY-INPUT insert task (ADVICE r4): crash
    between commit and ack, then the tagged snapshot is expired AND the
    insert's output files are rewritten away — resume must still detect
    the landed commit (key-presence probe) and NOT re-append."""
    from datalakequality_spark.maintenance.clustering import rewrite_sorted

    t = IceMiniTable.create(spark, str(tmp_path / "insres"))
    t.append(generate_sequences(spark, 1000), target_file_rows=250)
    inserts = generate_sequences(spark, 200, start_id=50_000)

    real_mark_done = JobLog.mark_done

    def dying(self, task_id, record):
        raise RuntimeError("crash post-commit")

    monkeypatch.setattr(JobLog, "mark_done", dying)
    with pytest.raises(RuntimeError):
        merge_into(t, inserts, job_id="ins-resume")
    monkeypatch.setattr(JobLog, "mark_done", real_mark_done)
    assert t.scan().count() == 1200  # the insert commit DID land

    # bury the evidence: rewrite replaces the insert's output files,
    # extra commits + expire drop the tagged snapshot from retention
    rewrite_sorted(t, method="zorder", target_rows_per_file=600)
    t.append(generate_sequences(spark, 100, start_id=90_000))
    t.expire_snapshots(keep_last=1)

    merge_into(t, inserts, job_id="ins-resume")  # resume
    assert t.scan().count() == 1300  # NOT 1500 — inserts not re-applied
    assert t.scan().groupBy("doc_id").count().where("count > 1").count() == 0


def test_merge_zero_insert_source_no_junk_snapshot(spark, tmp_path):
    """A merge whose source is fully matched leaves no empty trailing
    insert commit (the inserts task writes nothing, removes nothing)."""
    t = IceMiniTable.create(spark, str(tmp_path / "zins"))
    t.append(generate_sequences(spark, 1000), target_file_rows=100)
    updates = generate_sequences(spark, 1000, rev=1).where("n_tok % 9 = 0")
    v0 = t.current_version()
    merge_into(t, updates, max_batch_files=2)
    # batched path ran (several batch commits) but NO empty insert commit
    merge_snaps = [
        s for s in t.snapshots() if s.operation == "merge" and s.snapshot_id > v0
    ]
    assert merge_snaps
    assert all(
        int(s.summary.get("added_files", 0)) + int(s.summary.get("removed_files", 0)) > 0
        for s in merge_snaps
    )
    assert t.scan().count() == 1000


def test_delete_where_merge_on_read(spark, tmp_path):
    """Merge-on-read DELETE: the commit is O(matched keys) bytes — no
    data file rewritten — yet scans return the exact complement; a
    later re-insert of a deleted key survives (sequence-number
    ordering); the next clustering rewrite sheds the deletes physically
    and auto-drops the dangling delete files (metadata-only)."""
    from datalakequality_spark.maintenance.clustering import rewrite_sorted
    from datalakequality_spark.maintenance.merge import delete_where

    t = IceMiniTable.create(spark, str(tmp_path / "mor"))
    t.append(generate_sequences(spark, 4000), target_file_rows=250)
    data_paths = t.live_paths()
    data_bytes = sum(e.size_bytes for e in t.live_entries())
    expect = t.scan().where("NOT coalesce(n_tok % 5 = 0, false)").count()

    r = delete_where(t, "n_tok % 5 = 0", mode="merge_on_read")
    assert r["mode"] == "merge_on_read" and r["rewritten_files"] == 0
    assert r["deleted_rows"] == 4000 - expect
    # O(matches) new bytes, zero data churn
    assert t.live_paths() == data_paths
    del_bytes = sum(d.size_bytes for d in t.live_delete_entries())
    assert 0 < del_bytes < data_bytes / 100
    # exact complement through the scan
    assert t.scan().count() == expect
    assert t.scan().where("n_tok % 5 = 0").count() == 0

    # a key re-inserted AFTER the delete is newer than the delete's
    # sequence number -> it must survive the anti-join
    dead = [
        row["doc_id"]
        for row in spark.read.parquet(
            *[t._abs(d.path) for d in t.live_delete_entries()]
        ).limit(5).collect()
    ]
    t.append(generate_sequences(spark, 4000).where(F.col("doc_id").isin(dead)))
    assert t.scan().where(F.col("doc_id").isin(dead)).count() == 5

    # compaction carries rows 1:1 (min-seq preserved, bins grouped by
    # applicable-delete class) -> deletes still apply, re-inserts survive
    compact_table(t, target_bytes=64 * 1024 * 1024)
    assert t.scan().count() == expect + 5
    assert t.scan().where("n_tok % 5 = 0").count() == 5  # only re-inserts

    # the clustering rewrite materializes the deletes and sheds the
    # delete files; physical row count now equals the logical one
    rewrite_sorted(t, method="zorder", target_rows_per_file=1000)
    assert t.scan().count() == expect + 5
    assert len(t.live_delete_entries()) == 0
    raw = spark.read.schema(t.schema()).parquet(
        *[t._abs(e.path) for e in t.live_entries()]
    )
    assert raw.count() == expect + 5


def test_mor_delete_time_travel_and_metadata(spark, tmp_path):
    """Time travel reads the delete state AT the snapshot; the
    delete_files_df metadata table exposes the live delete backlog."""
    from datalakequality_spark.maintenance.merge import delete_where

    t = IceMiniTable.create(spark, str(tmp_path / "morttt"))
    t.append(generate_sequences(spark, 1000), target_file_rows=250)
    v_before = t.current_version()
    n_before = t.scan().count()
    delete_where(t, "n_tok % 3 = 0", mode="merge_on_read")
    v_after = t.current_version()

    assert t.scan(v_before).count() == n_before  # pre-delete snapshot
    assert t.scan(v_after).where("n_tok % 3 = 0").count() == 0
    dfd = t.delete_files_df()
    assert dfd.count() == len(t.live_delete_entries()) > 0
    row = dfd.collect()[0]
    assert row["deleted_keys"] > 0 and row["seq"] == v_after

    # incremental scan crossing the delete snapshot is ambiguous
    with pytest.raises(ValueError, match="delete"):
        t.incremental_scan(v_before)


def test_mor_delete_conflict_and_resume(spark, tmp_path, monkeypatch):
    """The MoR delete's commit must CONFLICT with a concurrent rewrite
    of its affected files (the rewrite bumps those rows past the
    delete's seq — committing anyway would silently lose the delete);
    and a crash between commit and ack resumes without duplicating
    delete files."""
    from datalakequality_spark.maintenance.merge import delete_where
    from datalakequality_spark.sources.icemini import CommitConflict

    t = IceMiniTable.create(spark, str(tmp_path / "morc"))
    t.append(generate_sequences(spark, 2000), target_file_rows=250)

    orig = IceMiniTable.write_delete_files
    fired = {"done": False}

    def hooked(self, df, *a, **k):
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(IceMiniTable, "write_delete_files", orig)
            compact_table(t, target_bytes=64 * 1024 * 1024)
        return orig(self, df, *a, **k)

    monkeypatch.setattr(IceMiniTable, "write_delete_files", hooked)
    with pytest.raises(CommitConflict):
        delete_where(t, "n_tok % 2 = 0", mode="merge_on_read")
    assert len(t.live_delete_entries()) == 0  # nothing landed
    assert t.scan().where("n_tok % 2 = 0").count() > 0

    # crash-resume: die between commit and done, rerun same job_id
    expect = t.scan().where("NOT coalesce(n_tok % 2 = 0, false)").count()
    real_mark_done = JobLog.mark_done

    def dying(self, task_id, record):
        raise RuntimeError("crash post-commit")

    monkeypatch.setattr(JobLog, "mark_done", dying)
    with pytest.raises(RuntimeError):
        delete_where(t, "n_tok % 2 = 0", mode="merge_on_read", job_id="mor-res")
    monkeypatch.setattr(JobLog, "mark_done", real_mark_done)
    n_delfiles = len(t.live_delete_entries())
    r = delete_where(t, "n_tok % 2 = 0", mode="merge_on_read", job_id="mor-res")
    assert r["skipped"] == 1
    assert len(t.live_delete_entries()) == n_delfiles  # not re-applied
    assert t.scan().count() == expect


def test_mor_delete_survives_expire_and_rollback(spark, tmp_path):
    """Snapshot GC retains live delete files/manifests; rollback across
    a MoR delete restores the pre-delete logical content."""
    from datalakequality_spark.maintenance.merge import delete_where

    t = IceMiniTable.create(spark, str(tmp_path / "morgc"))
    t.append(generate_sequences(spark, 1000), target_file_rows=250)
    n0 = t.scan().count()
    v_pre = t.current_version()
    delete_where(t, "n_tok % 4 = 0", mode="merge_on_read")
    n1 = t.scan().count()
    t.append(generate_sequences(spark, 100, start_id=70_000))

    t.expire_snapshots(keep_last=2)  # pre-delete snapshot expired
    assert t.scan().count() == n1 + 100  # delete files retained by GC
    assert all(
        os.path.exists(t._abs(d.path)) for d in t.live_delete_entries()
    )

    # rolling back to an EXPIRED snapshot raises (its metadata is gone)
    with pytest.raises((ValueError, FileNotFoundError)):
        t.rollback_to(v_pre)

    # rollback across the MoR delete restores pre-delete logical content
    t2 = IceMiniTable.create(spark, str(tmp_path / "morrb"))
    t2.append(generate_sequences(spark, 500), target_file_rows=250)
    v0 = t2.current_version()
    n_all = t2.scan().count()
    delete_where(t2, "n_tok % 4 = 0", mode="merge_on_read")
    assert t2.scan().count() < n_all
    t2.rollback_to(v0)
    assert t2.scan().count() == n_all  # delete set restored to empty


def _conditional_expected(spark, t, src, clauses_insert_cond=True):
    """Reference result for the conditional-merge tests, computed with
    plain DataFrame ops (no merge machinery)."""
    tgt = t.scan().alias("t")
    s = src.alias("s")
    j = tgt.join(s, F.col("t.doc_id") == F.col("s.doc_id"), "left")
    upgraded = F.col("s.doc_id").isNotNull() & (F.col("s.n_tok") > F.col("t.n_tok"))
    deleted = (
        F.col("s.doc_id").isNotNull()
        & ~F.coalesce(F.col("s.n_tok") > F.col("t.n_tok"), F.lit(False))
        & (F.col("t.n_tok") % 5 == 0)
    )
    kept = j.where(~deleted).select(
        F.col("t.doc_id").alias("doc_id"),
        F.when(upgraded, F.col("s.tokens")).otherwise(F.col("t.tokens")).alias("tokens"),
        F.when(upgraded, F.col("s.n_tok")).otherwise(F.col("t.n_tok")).alias("n_tok"),
        F.when(upgraded, F.lit("upgraded")).otherwise(F.col("t.source")).alias("source"),
    )
    ins = src.join(t.scan().select("doc_id"), "doc_id", "left_anti")
    if clauses_insert_cond:
        ins = ins.where("n_tok % 3 != 0")
    return kept.unionByName(ins.select("doc_id", "tokens", "n_tok", "source"))


_COND_CLAUSES = [
    {"action": "update", "condition": "s.n_tok > t.n_tok",
     "set": {"n_tok": "s.n_tok", "tokens": "s.tokens", "source": "'upgraded'"}},
    {"action": "delete", "condition": "t.n_tok % 5 = 0"},
]


def _df_hash(df) -> int:
    return (
        df.agg(
            F.sum(
                F.pmod(F.xxhash64("doc_id", "tokens", "n_tok", "source"), F.lit(2**31))
            )
        ).collect()[0][0]
        or 0
    )


def test_merge_conditional_clauses(spark, tmp_path):
    """WHEN MATCHED AND cond THEN UPDATE SET col=expr / THEN DELETE and
    conditional NOT MATCHED inserts: first-true clause fires per row,
    non-firing matched rows pass through verbatim, and the result equals
    a plain-DataFrame reference computation."""
    t = IceMiniTable.create(spark, str(tmp_path / "cm"))
    t.append(generate_sequences(spark, 3000), target_file_rows=400)
    # perturb the source n_tok so the ">" clause fires on ~half the
    # matches (the generator reproduces the target's n_tok verbatim)
    src = generate_merge_batch(spark, 3000, insert_rows=300).withColumn(
        "n_tok",
        (F.col("n_tok") + F.pmod(F.xxhash64("doc_id"), F.lit(7)) - 3).cast("int"),
    )
    expect = _conditional_expected(spark, t, src)
    exp_hash, exp_n = _df_hash(expect), expect.count()

    r = merge_into(
        t, src, matched=_COND_CLAUSES, not_matched_condition="n_tok % 3 != 0"
    )
    assert r["matched_files"] > 0
    assert t.scan().count() == exp_n
    assert _df_hash(t.scan()) == exp_hash
    # some rows really were upgraded / deleted / conditionally inserted
    assert t.scan().where("source = 'upgraded'").count() > 0
    assert t.scan().where("source = 'new' AND n_tok % 3 = 0").count() == 0


def test_merge_conditional_batched_equals_single(spark, tmp_path):
    """The batched commit path produces identical content to the
    single-commit path under conditional clauses (incl. DELETE)."""
    t1 = IceMiniTable.create(spark, str(tmp_path / "cb1"))
    t1.append(generate_sequences(spark, 3000), target_file_rows=400)
    t2 = IceMiniTable.create(spark, str(tmp_path / "cb2"))
    t2.append(generate_sequences(spark, 3000), target_file_rows=400)
    src = generate_merge_batch(spark, 3000, insert_rows=300)

    merge_into(t1, src, max_batch_files=None, matched=_COND_CLAUSES,
               not_matched_condition="n_tok % 3 != 0")
    r2 = merge_into(t2, src, max_batch_files=2, matched=_COND_CLAUSES,
                    not_matched_condition="n_tok % 3 != 0")
    assert t2.current_version() > 2  # really took the batched path
    assert r2["matched_files"] > 2
    assert _content_hash(t1) == _content_hash(t2)


def test_merge_conditional_validation(spark, tmp_path):
    t = IceMiniTable.create(spark, str(tmp_path / "cv"))
    t.append(generate_sequences(spark, 100))
    src = generate_merge_batch(spark, 100, insert_rows=10)
    with pytest.raises(ValueError, match="update|delete"):
        merge_into(t, src, matched=[{"action": "upsert"}])
    with pytest.raises(ValueError, match="DELETE"):
        merge_into(t, src, matched=[{"action": "delete", "set": {"n_tok": "1"}}])


def test_merge_conditional_null_condition_does_not_fire(spark, tmp_path):
    """A clause whose condition evaluates NULL must not fire (SQL
    three-valued logic) — the matched row passes through unchanged."""
    t = IceMiniTable.create(spark, str(tmp_path / "cn"))
    t.append(generate_sequences(spark, 200), target_file_rows=100)
    # a source with NULL n_tok makes "s.n_tok > t.n_tok" NULL
    src = generate_merge_batch(spark, 200, insert_rows=0).withColumn(
        "n_tok", F.lit(None).cast("int")
    )
    before = _df_hash(t.scan())
    merge_into(t, src, matched=[
        {"action": "delete", "condition": "s.n_tok > t.n_tok"},
    ])
    assert _df_hash(t.scan()) == before  # nothing fired, nothing lost


def test_task_input_spill_side_table(tmp_path):
    """At 10^5 affected files, the plan spills to a parquet side-table:
    tasks carry [lo, hi) ranges, the plan JSON stays O(#tasks), and
    range resolution returns exactly the original ordered list."""
    import json as _json

    from datalakequality_spark.maintenance.merge import (
        _pin_task_inputs,
        _task_input_count,
        _task_inputs,
    )

    log = JobLog(str(tmp_path), "spill-unit")
    names = [f"data/f-{i:07d}.parquet" for i in range(100_000)]
    tasks = _pin_task_inputs(log, names, 256, "delete")
    log.write_plan(tasks)
    assert all("file_range" in t and "input_files" not in t for t in tasks)
    assert len(tasks) == -(-100_000 // 256)
    assert sum(_task_input_count(t) for t in tasks) == 100_000
    # plan JSON is metadata-scale, not O(total paths)
    assert os.path.getsize(os.path.join(log.dir, "plan.json")) < 64 * 1024
    cache: dict = {}
    resolved = [p for t in tasks for p in _task_inputs(log, t, cache)]
    assert resolved == names
    # below the threshold, lists stay inline (readable, self-contained)
    small = _pin_task_inputs(log, names[:10], 4, "delete", threshold=100)
    assert all("input_files" in t for t in small)


def test_delete_where_spilled_plan_and_resume(spark, tmp_path, monkeypatch):
    """With the spill threshold forced to 2, a copy-on-write DELETE runs
    its whole batched/resume machinery off the side-table: crash at
    task k resumes correctly and the final content matches the
    predicate complement."""
    import datalakequality_spark.maintenance.merge as merge_mod
    from datalakequality_spark.maintenance.merge import delete_where

    monkeypatch.setattr(merge_mod, "_SPILL_THRESHOLD", 2)
    t = IceMiniTable.create(spark, str(tmp_path / "sp"))
    t.append(generate_sequences(spark, 4000), target_file_rows=250)
    expect = t.scan().where("NOT coalesce(n_tok % 2 = 0, false)").count()

    real_mark_done = JobLog.mark_done
    calls = {"n": 0}

    def dying(self, task_id, record):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("crash mid-job")
        return real_mark_done(self, task_id, record)

    monkeypatch.setattr(JobLog, "mark_done", dying)
    with pytest.raises(RuntimeError):
        delete_where(t, "n_tok % 2 = 0", job_id="sp-del", max_batch_files=4)
    monkeypatch.setattr(JobLog, "mark_done", real_mark_done)

    plan = os.path.join(t.root, "metadata", "jobs", "sp-del", "plan.json")
    import json as _json

    tasks = _json.load(open(plan))["tasks"]
    assert all("file_range" in t_ for t_ in tasks)
    assert os.path.exists(
        os.path.join(t.root, "metadata", "jobs", "sp-del", "affected_files.parquet")
    )
    r = delete_where(t, "n_tok % 2 = 0", job_id="sp-del", max_batch_files=4)
    assert r["skipped"] >= 1
    assert t.scan().count() == expect
    assert t.scan().where("n_tok % 2 = 0").count() == 0


# ------------------------------------------------------- merge-on-read MERGE


def test_merge_merge_on_read_equals_copy_on_write(spark, tmp_path):
    """mode="merge_on_read" is the Flink-upsert shape: ONE commit of
    equality-delete files (the source keys) + appended data files —
    ZERO target files rewritten — whose logical content equals the
    copy-on-write merge of the identical source (token-array equality);
    the next clustering rewrite sheds the deletes physically without
    changing content."""
    from datalakequality_spark.maintenance.clustering import rewrite_sorted

    src = generate_merge_batch(spark, 3000, insert_rows=300)

    t_cow = IceMiniTable.create(spark, str(tmp_path / "cow"))
    t_cow.append(generate_sequences(spark, 3000), target_file_rows=250)
    merge_into(t_cow, src)

    t_mor = IceMiniTable.create(spark, str(tmp_path / "mor"))
    t_mor.append(generate_sequences(spark, 3000), target_file_rows=250)
    data_paths = t_mor.live_paths()
    r = merge_into(t_mor, src, mode="merge_on_read")

    assert r["mode"] == "merge_on_read" and r["rewritten_files"] == 0
    # O(source): every pre-merge data file untouched, only appends
    assert data_paths <= t_mor.live_paths()
    assert r["delete_files"] > 0 and r["appended_files"] > 0
    assert len(t_mor.live_delete_entries()) == r["delete_files"]
    # matched rows suppressed at scan time; exactly one row per key
    assert _content_hash(t_mor) == _content_hash(t_cow)
    assert t_mor.scan().count() == t_cow.scan().count()
    assert (
        t_mor.scan().groupBy("doc_id").count().where("count > 1").count() == 0
    )

    # the clustering rewrite materializes the deletes and drops them
    rewrite_sorted(t_mor, method="zorder", target_rows_per_file=1000)
    assert len(t_mor.live_delete_entries()) == 0
    assert _content_hash(t_mor) == _content_hash(t_cow)


def test_merge_mor_validation(spark, tmp_path):
    """merge_on_read is restricted to the default replace-row clauses
    and the doc_id key; unknown modes raise."""
    t = IceMiniTable.create(spark, str(tmp_path / "v"))
    t.append(generate_sequences(spark, 100))
    src = generate_sequences(spark, 10, rev=1)
    with pytest.raises(ValueError, match="clauses"):
        merge_into(
            t,
            src,
            mode="merge_on_read",
            matched=[{"action": "delete", "condition": "t.n_tok % 2 = 0"}],
        )
    with pytest.raises(ValueError, match="doc_id"):
        merge_into(t, src, key="source", mode="merge_on_read")
    with pytest.raises(ValueError, match="mode"):
        merge_into(t, src, mode="bogus")


def test_merge_mor_crash_resume_and_reapply(spark, tmp_path, monkeypatch):
    """Crash between commit and done-ack: the same job_id resumes as a
    pure ack (skipped=1, no duplicate delete/data files). Re-applying
    the SAME source under a NEW job_id is also content-idempotent by
    construction — the new deletes supersede the first application's
    rows, leaving exactly one live row per key."""
    t = IceMiniTable.create(spark, str(tmp_path / "res"))
    t.append(generate_sequences(spark, 2000), target_file_rows=250)
    src = generate_merge_batch(spark, 2000, insert_rows=200)

    real_mark_done = JobLog.mark_done

    def dying(self, task_id, record):
        raise RuntimeError("crash post-commit")

    monkeypatch.setattr(JobLog, "mark_done", dying)
    with pytest.raises(RuntimeError):
        merge_into(t, src, mode="merge_on_read", job_id="mor-merge-res")
    monkeypatch.setattr(JobLog, "mark_done", real_mark_done)

    v_after_crash = t.current_version()
    h = _content_hash(t)
    r = merge_into(t, src, mode="merge_on_read", job_id="mor-merge-res")
    assert r["skipped"] == 1
    assert t.current_version() == v_after_crash  # ack only, no new commit
    assert _content_hash(t) == h

    # re-apply under a NEW job_id: one live row per key, same content
    merge_into(t, src, mode="merge_on_read")
    assert _content_hash(t) == h
    assert (
        t.scan().groupBy("doc_id").count().where("count > 1").count() == 0
    )


def test_rewrite_aborts_when_mor_delete_lands_mid_flight(
    spark, tmp_path, monkeypatch
):
    """Iceberg validateNoNewDeleteFiles: a clustering rewrite reads its
    inputs (applying deletes live at snapshot V) and emits fresh-seq
    outputs — if an equality delete applicable to those inputs commits
    after V, blindly committing would RESURRECT the deleted rows. The
    commit must abort; the re-run picks up the new deletes."""
    from datalakequality_spark.maintenance.clustering import rewrite_sorted
    from datalakequality_spark.maintenance.merge import delete_where

    t = IceMiniTable.create(spark, str(tmp_path / "resur"))
    t.append(generate_sequences(spark, 2000), target_file_rows=250)

    orig = IceMiniTable.write_data_files
    fired = {"done": False}

    def hooked(self, df, *a, **k):
        # inject a MoR delete between the rewrite's pinned read and its
        # commit (first write_data_files call only — delete_where's own
        # path uses write_delete_files, no recursion)
        if self is t and not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(IceMiniTable, "write_data_files", orig)
            delete_where(t, "n_tok % 3 = 0", mode="merge_on_read")
        return orig(self, df, *a, **k)

    monkeypatch.setattr(IceMiniTable, "write_data_files", hooked)
    with pytest.raises(CommitConflict, match="delete"):
        rewrite_sorted(t, method="zorder", target_rows_per_file=1000, job_id="rz")
    assert fired["done"]

    # the delete landed; the aborted rewrite resurrected nothing
    expect = t.scan().where("NOT coalesce(n_tok % 3 = 0, false)").count()
    assert t.scan().count() == expect

    # re-run with the same job_id: reads the new deletes, sheds them
    rewrite_sorted(t, method="zorder", target_rows_per_file=1000, job_id="rz")
    assert t.scan().count() == expect
    assert t.scan().where("n_tok % 3 = 0").count() == 0
    assert len(t.live_delete_entries()) == 0


def test_cow_merge_aborts_when_mor_delete_lands_mid_flight(
    spark, tmp_path, monkeypatch
):
    """The same resurrect guard for copy-on-write MERGE rewrites: its
    anti-join+union outputs take a fresh seq, so a mid-flight equality
    delete on its input files must conflict the commit."""
    from datalakequality_spark.maintenance.merge import delete_where

    t = IceMiniTable.create(spark, str(tmp_path / "cowc"))
    t.append(generate_sequences(spark, 2000), target_file_rows=250)
    src = generate_merge_batch(spark, 2000, insert_rows=0)

    orig = IceMiniTable.write_data_files
    fired = {"done": False}

    def hooked(self, df, *a, **k):
        if self is t and not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(IceMiniTable, "write_data_files", orig)
            delete_where(t, "n_tok % 3 = 0", mode="merge_on_read")
        return orig(self, df, *a, **k)

    monkeypatch.setattr(IceMiniTable, "write_data_files", hooked)
    with pytest.raises(CommitConflict, match="delete"):
        merge_into(t, src, job_id="cow-mid")
    assert fired["done"]
    expect = t.scan().where("NOT coalesce(n_tok % 3 = 0, false)").count()
    assert t.scan().count() == expect  # nothing resurrected


# --------------------------------------------------- delete-file compaction


def test_compact_delete_files_trickle_backlog(spark, tmp_path):
    """Trickle MoR upserts build a delete backlog (one+ delete file per
    commit); compact_delete_files consolidates it WITHOUT changing scan
    content: hot keys collapse by subsumption (max seq wins), dead keys
    (inserts' self-deletes whose older data was rewritten away) drop,
    liftable keys merge into one top-seq group."""
    from datalakequality_spark.maintenance.compaction import (
        compact_delete_files,
    )

    t = IceMiniTable.create(spark, str(tmp_path / "cdel"))
    t.append(generate_sequences(spark, 4000), target_file_rows=250)

    # five trickle upserts over overlapping (hot) key ranges + inserts
    for rev in range(1, 6):
        batch = generate_sequences(spark, 4000, rev=rev).where(
            f"pmod(xxhash64(doc_id), 7) = {rev % 3}"
        )
        ins = generate_sequences(spark, 50, start_id=100_000 + rev * 1000)
        merge_into(t, batch.unionByName(ins), mode="merge_on_read")

    n_backlog = len(t.live_delete_entries())
    assert n_backlog >= 5
    h0 = _content_hash(t)
    n0 = t.scan().count()

    r = compact_delete_files(t)
    assert r["skipped"] == 0 and r["analysis"] == "bloom"
    assert r["output_delete_files"] < r["input_delete_files"] == n_backlog
    # subsumption must shrink the key multiset (hot keys repeated 2-3x)
    assert r["output_delete_rows"] < r["input_delete_rows"]
    assert len(t.live_delete_entries()) == r["output_delete_files"]
    assert _content_hash(t) == h0
    assert t.scan().count() == n0

    # idempotent: a second run finds nothing worth rewriting
    r2 = compact_delete_files(t)
    assert r2["skipped"] == 1 or r2["output_delete_files"] <= r["output_delete_files"]
    assert _content_hash(t) == h0


def test_compact_delete_files_lift_respects_reinsert(spark, tmp_path):
    """A key deleted at seq S then RE-APPENDED at seq R > S must keep
    its delete at S (lifting past R would kill the re-inserted row);
    unrelated keys deleted later still lift/merge. Scan content is the
    invariant."""
    from datalakequality_spark.maintenance.compaction import (
        compact_delete_files,
    )
    from datalakequality_spark.maintenance.merge import delete_where

    t = IceMiniTable.create(spark, str(tmp_path / "clift"))
    t.append(generate_sequences(spark, 3000), target_file_rows=250)

    delete_where(t, "n_tok % 5 = 0", mode="merge_on_read")  # seq S
    # re-insert five deleted keys (seq R > S) — picked DETERMINISTICALLY
    # (a bare limit() over the delete files varies with partition
    # order) and disjoint from the LATER delete predicates, whose
    # (seq T) deletes would legitimately kill a re-inserted row with
    # n_tok % 7 == 0 or % 11 == 0
    dead = [
        row["doc_id"]
        for row in generate_sequences(spark, 3000)
        .where("n_tok % 5 = 0 AND n_tok % 7 != 0 AND n_tok % 11 != 0")
        .orderBy("doc_id")
        .limit(5)
        .collect()
    ]
    t.append(generate_sequences(spark, 3000).where(F.col("doc_id").isin(dead)))
    delete_where(t, "n_tok % 11 = 0", mode="merge_on_read")
    delete_where(t, "n_tok % 7 = 0", mode="merge_on_read")  # seq T > R

    h0 = _content_hash(t)
    assert t.scan().where(F.col("doc_id").isin(dead)).count() == 5

    r = compact_delete_files(t)
    assert r["skipped"] == 0
    assert _content_hash(t) == h0
    # the re-inserted keys' deletes could NOT be lifted to T
    assert r["kept_keys"] >= 5
    assert t.scan().where(F.col("doc_id").isin(dead)).count() == 5


def test_compact_delete_files_drops_dead_keys(spark, tmp_path):
    """Delete keys whose applicable (older-seq) data was later rewritten
    away are dead weight in the backlog — the Bloom probe proves no
    older live file can contain them and the compaction drops them."""
    from datalakequality_spark.maintenance.compaction import (
        compact_delete_files,
    )
    from datalakequality_spark.maintenance.merge import delete_where

    t = IceMiniTable.create(spark, str(tmp_path / "cdead"))
    rows = generate_sequences(spark, 3000)
    # two appends with DISJOINT n_tok populations (disjoint doc_ids):
    # the CoW delete below affects only the first append's files
    t.append(rows.where("n_tok <= 200"), target_file_rows=250)
    t.append(rows.where("n_tok > 200"), target_file_rows=250)
    # MoR delete (backlog at seq S, keys from BOTH appends) ...
    delete_where(t, "n_tok % 4 = 0", mode="merge_on_read")
    n_mor_keys = sum(d.rows for d in t.live_delete_entries())
    # ... then a CoW delete removing every low-n_tok row: the first
    # append's files disappear, leaving their MoR keys DEAD in the
    # backlog (the second append's older-seq files keep the backlog
    # alive but provably lack the low-n_tok doc_ids — disjoint sets)
    delete_where(t, "n_tok <= 200")
    assert t.live_delete_entries(), "premise: backlog must survive"

    h0 = _content_hash(t)
    r = compact_delete_files(t, min_files=1)
    assert r["dead_keys_dropped"] > 0
    assert r["output_delete_rows"] <= n_mor_keys - r["dead_keys_dropped"] + 1
    assert _content_hash(t) == h0


def test_compact_delete_files_crash_resume(spark, tmp_path, monkeypatch):
    """Crash between commit and ack: the same job_id resumes as a pure
    ack without rewriting the backlog again."""
    from datalakequality_spark.maintenance.compaction import (
        compact_delete_files,
    )

    t = IceMiniTable.create(spark, str(tmp_path / "cres"))
    t.append(generate_sequences(spark, 2000), target_file_rows=250)
    for rev in (1, 2, 3):
        merge_into(
            t,
            generate_sequences(spark, 2000, rev=rev).where(
                "pmod(xxhash64(doc_id), 5) = 0"
            ),
            mode="merge_on_read",
        )
    h0 = _content_hash(t)

    real_mark_done = JobLog.mark_done

    def dying(self, task_id, record):
        raise RuntimeError("crash post-commit")

    monkeypatch.setattr(JobLog, "mark_done", dying)
    with pytest.raises(RuntimeError):
        compact_delete_files(t, job_id="cd-res")
    monkeypatch.setattr(JobLog, "mark_done", real_mark_done)

    v = t.current_version()
    n_files = len(t.live_delete_entries())
    r = compact_delete_files(t, job_id="cd-res")
    assert r["skipped"] == 1
    assert t.current_version() == v  # ack only
    assert len(t.live_delete_entries()) == n_files
    assert _content_hash(t) == h0


def test_compact_delete_files_subsumption_only_path(spark, tmp_path):
    """Above max_analysis_keys the Bloom probe is skipped; the
    distributed subsumption pass still collapses hot keys per seq and
    preserves content."""
    from datalakequality_spark.maintenance.compaction import (
        compact_delete_files,
    )

    t = IceMiniTable.create(spark, str(tmp_path / "csub"))
    t.append(generate_sequences(spark, 3000), target_file_rows=250)
    for rev in (1, 2, 3):
        merge_into(
            t,
            generate_sequences(spark, 3000, rev=rev).where(
                "pmod(xxhash64(doc_id), 3) = 0"
            ),
            mode="merge_on_read",
        )
    h0 = _content_hash(t)
    n_in = len(t.live_delete_entries())

    r = compact_delete_files(t, max_analysis_keys=0)
    assert r["analysis"] == "subsumption-only"
    assert r["skipped"] == 0
    assert r["output_delete_files"] < n_in
    assert r["output_delete_rows"] < r["input_delete_rows"]  # hot keys collapsed
    assert _content_hash(t) == h0


def test_cli_mor_update_and_compact_deletes(spark, tmp_path, monkeypatch, capsys):
    """Round-5 CLI surface: merge --mode merge_on_read, delete --mode
    merge_on_read, update --set, compact-deletes — each prints one JSON
    line and drives the same library entry points."""
    import json as _json

    from datalakequality_spark import cli

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    t = IceMiniTable.create(spark, str(tmp_path / "clidml"))
    t.append(generate_sequences(spark, 2000), target_file_rows=250)

    src_path = str(tmp_path / "morsrc")
    generate_merge_batch(spark, 2000, insert_rows=200).write.parquet(src_path)
    out = cli.main(["merge", "--table", t.root, "--source", src_path,
                    "--mode", "merge_on_read"])
    assert out["mode"] == "merge_on_read" and out["rewritten_files"] == 0
    assert t.scan().count() == 2200
    capsys.readouterr()

    out = cli.main(["delete", "--table", t.root,
                    "--where", "n_tok % 9 = 0", "--mode", "merge_on_read"])
    assert out["mode"] == "merge_on_read" and out["deleted_rows"] > 0
    assert t.scan().where("n_tok % 9 = 0").count() == 0
    capsys.readouterr()

    backlog = len(t.live_delete_entries())
    assert backlog >= 2  # merge + delete both landed equality deletes
    n0 = t.scan().count()
    out = cli.main(["compact-deletes", "--table", t.root, "--min-files", "1"])
    assert _json.loads(capsys.readouterr().out.strip())["job_id"] == out["job_id"]
    assert t.scan().count() == n0
    assert out["skipped"] == 1 or (
        out["output_delete_rows"] <= out["input_delete_rows"]
    )

    # CoW update last (it rewrites affected files, shedding the backlog)
    out = cli.main(["update", "--table", t.root,
                    "--where", "n_tok % 7 = 0",
                    "--set", "source='retagged'"])
    assert out["affected_files"] > 0 and out["rows"] > 0
    assert t.scan().where("n_tok % 7 = 0 AND source != 'retagged'").count() == 0


def test_merge_schema_evolves_from_source_batch(spark, tmp_path):
    """Iceberg's merge-schema write option: a source batch carrying a
    column the table lacks auto-evolves the schema on merge/append —
    the batch lands with the column populated, pre-existing rows read
    null. Default (merge_schema=False) keeps the drop-unknown-columns
    alignment. Works through CoW merge, MoR merge, and append."""
    t = IceMiniTable.create(spark, str(tmp_path / "ms"))
    t.append(generate_sequences(spark, 1000), target_file_rows=250)

    src = generate_sequences(spark, 200, start_id=500, rev=1).withColumn(
        "quality", (F.col("n_tok") % 100).cast("double") / 100.0
    )
    # default: unknown column silently dropped, schema unchanged
    merge_into(t, src.where("doc_id = '999999999'"))  # empty, no-op
    assert "quality" not in t.schema().fieldNames()

    merge_into(t, src, merge_schema=True)  # CoW, evolves
    assert t.schema().fieldNames()[-1] == "quality"
    got = t.scan().where(F.col("quality").isNotNull())
    assert got.count() == 200
    assert set(r.doc_id for r in got.select("doc_id").collect()) == set(
        r.doc_id for r in src.select("doc_id").collect()
    )

    # MoR merge with a SECOND new column on top of the first
    src2 = generate_sequences(spark, 100, start_id=0, rev=2).withColumn(
        "lineage", F.lit("batch-2")
    )
    merge_into(t, src2, mode="merge_on_read", merge_schema=True)
    assert t.schema().fieldNames()[-1] == "lineage"
    assert t.scan().where("lineage = 'batch-2'").count() == 100
    # rows merged before the second evolution read null lineage
    assert (
        t.scan().where(F.col("quality").isNotNull() & F.col("lineage").isNull()).count()
        == 200
    )

    # append with merge_schema; already-present column is NOT re-added
    t.append(
        generate_sequences(spark, 50, start_id=10**6).withColumn(
            "quality", F.lit(0.5)
        ),
        merge_schema=True,
    )
    assert t.scan().where("quality = 0.5").count() == 50
    assert t.schema().fieldNames().count("quality") == 1


def test_snapshot_tags_pin_through_expire(spark, tmp_path):
    """Iceberg tag refs: a tagged snapshot (and its files) survives
    expire_snapshots; dropping the tag releases it to GC; scan and
    rollback accept the tag name; tags are immutable and atomic."""
    t = IceMiniTable.create(spark, str(tmp_path / "tags"))
    t.append(generate_sequences(spark, 500), target_file_rows=250)
    v_tagged = t.current_version()
    n_tagged = t.scan().count()
    t.create_tag("dataset-v1")
    assert t.tags() == {"dataset-v1": v_tagged}
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("dataset-v1", v_tagged)
    with pytest.raises(ValueError, match="invalid tag name"):
        t.create_tag("bad/name")

    # table moves on; expire would normally GC v_tagged
    merge_into(t, generate_sequences(spark, 500, rev=1))
    compact_table(t, target_bytes=8 * 1024 * 1024)
    t.expire_snapshots(keep_last=1)
    assert t.scan("dataset-v1").count() == n_tagged  # still readable
    h_tagged = _content_hash_at(t, v_tagged)

    # rollback by tag name; changelog/incremental accept tags as bounds
    assert (
        t.changelog_scan("dataset-v1").count()
        == t.changelog_scan(v_tagged).count()
    )
    t.rollback_to("dataset-v1")
    assert _content_hash_at(t, t.current_version()) == h_tagged

    # drop releases the pin: the next expire GCs the old version
    t.drop_tag("dataset-v1")
    with pytest.raises(ValueError, match="no tag"):
        t.drop_tag("dataset-v1")
    merge_into(t, generate_sequences(spark, 100, rev=2))
    t.expire_snapshots(keep_last=1)
    with pytest.raises(Exception):
        t.scan(v_tagged).count()


def _content_hash_at(t: IceMiniTable, v: int) -> int:
    return (
        t.scan(v)
        .agg(F.sum(F.pmod(F.xxhash64("doc_id", "tokens", "n_tok", "source"), F.lit(2**31))))
        .collect()[0][0]
    )


@pytest.mark.parametrize("mode", ["copy_on_write", "merge_on_read"])
def test_delete_resume_after_compaction_never_acks_unlanded_commit(
    spark, tmp_path, monkeypatch, mode
):
    """A DELETE that crashed between its intent and its commit, whose
    input files a compaction then rewrote, must not be acknowledged as
    landed on resume: the resumed job either raises CommitConflict or
    leaves no matching row. Input files that are no longer live prove
    nothing about this job's commit — another job removed them."""
    from datalakequality_spark.maintenance.merge import delete_where

    t = IceMiniTable.create(spark, str(tmp_path / "dres"))
    t.append(generate_sequences(spark, 2000), target_file_rows=250)
    op = "delete" if mode == "copy_on_write" else "delete-mor"
    real_commit = IceMiniTable.commit

    def crashing_commit(self, operation, *a, **k):
        if operation == op:
            raise RuntimeError("simulated crash before commit")
        return real_commit(self, operation, *a, **k)

    monkeypatch.setattr(IceMiniTable, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="before commit"):
        delete_where(t, "n_tok % 3 = 0", mode=mode, job_id="dres-job")
    monkeypatch.setattr(IceMiniTable, "commit", real_commit)
    n_match = t.scan().where("n_tok % 3 = 0").count()
    assert n_match > 0  # the delete never landed

    compact_table(t, target_bytes=64 * 1024 * 1024)
    assert t.snapshot().operation == "compact"
    try:
        delete_where(t, "n_tok % 3 = 0", mode=mode, job_id="dres-job")
    except CommitConflict:
        # refused: the matching rows are untouched, and a new job_id
        # re-plans against the compacted files
        assert t.scan().where("n_tok % 3 = 0").count() == n_match
        delete_where(t, "n_tok % 3 = 0", mode=mode)
    assert t.scan().where("n_tok % 3 = 0").count() == 0
    assert t.scan().count() == 2000 - n_match


def test_failed_tag_write_leaves_name_free(spark, tmp_path, monkeypatch):
    """A fault while a tag ref is being written leaves no ref behind:
    the name is still free and a retry creates the tag."""
    import json

    t = IceMiniTable.create(spark, str(tmp_path / "tagfail"))
    t.append(generate_sequences(spark, 200))
    v = t.current_version()
    real_dump = json.dump

    def failing_dump(obj, fp, *a, **k):
        if isinstance(obj, dict) and obj.get("type") == "tag":
            fp.write('{"name": ')
            raise OSError("simulated fault while writing the tag")
        return real_dump(obj, fp, *a, **k)

    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="simulated"):
        t.create_tag("v1")
    monkeypatch.setattr(json, "dump", real_dump)

    assert t.tags() == {}
    assert t.create_tag("v1") == v
    assert t.tags() == {"v1": v}
    assert not [p for p in os.listdir(t.meta_dir) if p.startswith(".tmp-")]
