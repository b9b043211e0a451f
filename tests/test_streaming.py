"""Structured Streaming ingest into IceMini tables."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datalakequality_spark.sources.datagen import generate_sequences
from datalakequality_spark.sources.icemini import IceMiniTable, SEQUENCES_SCHEMA
from datalakequality_spark.streaming.ingest import stream_append, windowed_counts


def test_stream_append_commits_snapshots(spark, tmp_path):
    t = IceMiniTable.create(spark, str(tmp_path / "tbl"))
    src_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")

    # first micro-batch: 500 rows land as files in the source dir
    generate_sequences(spark, 500).coalesce(1).write.mode("append").parquet(src_dir)
    stream = spark.readStream.schema(SEQUENCES_SCHEMA).parquet(src_dir)
    q = stream_append(stream, t, checkpoint_dir=ckpt, trigger_available_now=True)
    q.awaitTermination(120)
    assert t.scan().count() == 500
    snaps = [s for s in t.snapshots() if s.operation == "stream-append"]
    assert snaps and all("epoch_id" in s.summary for s in snaps)

    # restart from the same checkpoint with one NEW file: only the new
    # rows are appended, nothing is reprocessed
    generate_sequences(spark, 300, start_id=10_000).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    q2 = stream_append(
        spark.readStream.schema(SEQUENCES_SCHEMA).parquet(src_dir),
        t,
        checkpoint_dir=ckpt,
    )
    q2.awaitTermination(120)
    assert t.scan().count() == 800
    assert t.scan().groupBy("doc_id").count().where("count > 1").count() == 0

    # evolve mid-stream: the un-evolved producer keeps working — its
    # next micro-batch is null-filled onto the evolved schema
    t.add_columns({"quality": "double"})
    generate_sequences(spark, 100, start_id=20_000).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    q3 = stream_append(
        spark.readStream.schema(SEQUENCES_SCHEMA).parquet(src_dir),
        t,
        checkpoint_dir=ckpt,
    )
    q3.awaitTermination(120)
    assert t.scan().count() == 900
    assert t.scan().schema.fieldNames()[-1] == "quality"


def test_stream_crash_between_write_and_commit(spark, tmp_path):
    """Crash INSIDE the exactly-once window — after write_data_files
    has landed data files but before commit publishes the snapshot.
    Restart must neither lose the epoch (the commit never landed, so
    the checkpoint replays it) nor duplicate it (the orphaned first-
    attempt files are invisible to scans, which read the manifest)."""
    t = IceMiniTable.create(spark, str(tmp_path / "tbl"))
    src_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    generate_sequences(spark, 400).coalesce(1).write.mode("append").parquet(src_dir)

    orig_commit = t.commit
    calls = {"n": 0}

    def crashing_commit(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash: files written, commit lost")
        return orig_commit(*a, **k)

    t.commit = crashing_commit
    q = stream_append(
        spark.readStream.schema(SEQUENCES_SCHEMA).parquet(src_dir),
        t,
        checkpoint_dir=ckpt,
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    assert calls["n"] == 1
    assert t.scan().count() == 0  # orphaned files are not visible

    # restart from the same checkpoint: epoch replays and commits once
    q2 = stream_append(
        spark.readStream.schema(SEQUENCES_SCHEMA).parquet(src_dir),
        t,
        checkpoint_dir=ckpt,
    )
    q2.awaitTermination(120)
    assert t.scan().count() == 400
    assert t.scan().groupBy("doc_id").count().where("count > 1").count() == 0
    snaps = [s for s in t.snapshots() if s.operation == "stream-append"]
    assert len(snaps) == 1 and "epoch_id" in snaps[0].summary


def test_windowed_counts_plan(spark):
    # streaming aggregation with watermark builds a valid incremental plan
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 10)
        .load()
        .select(F.col("timestamp").alias("ts"), F.pmod("value", F.lit(3)).alias("k"))
    )
    agg = windowed_counts(stream, "ts", "10 seconds", "20 seconds", ["k"])
    assert agg.isStreaming
    assert "window" in agg.columns and "n_rows" in agg.columns


def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: sessions close in-batch
    when a later event exceeds the gap, AND idle sessions flush via the
    event-time timeout once the watermark passes last_event + gap —
    each emitted exactly once, append-only."""
    import datetime as dt

    from datalakequality_spark.streaming.stateful import streaming_sessionize

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    # batch 1: user 1, two events 10s apart (one open session)
    spark.createDataFrame(
        [(1, ts(0)), (1, ts(10))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: user 1 much later → closes session 0 in-batch
    spark.createDataFrame(
        [(1, ts(10_000))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 3: far-future other user → watermark passes user 1's
    # timeout → open session 1 flushes via EventTimeTimeout
    spark.createDataFrame(
        [(99, ts(100_000))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sess = streaming_sessionize(stream, "user_id", "ts", gap_seconds=1800)
    q = (
        sess.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = sorted(
        (r["user_id"], r["session_id"], r["n_events"], r["start_ts"], r["end_ts"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [
        (1, 0, 2, ts(0), ts(10)),          # closed by the batch-2 gap
        (1, 1, 1, ts(10_000), ts(10_000)),  # flushed by the timeout
    ]


def test_many_microbatches_flat_epoch_cost(spark, tmp_path):
    """50 micro-batches: epoch bookkeeping reads table metadata ONCE per
    stream lifetime (not O(#snapshots) per batch), and every epoch lands
    atomically inside its snapshot's summary."""
    import time

    t = IceMiniTable.create(spark, str(tmp_path / "tbl"))
    scans = {"n": 0}
    orig_snapshots = t.snapshots
    t.snapshots = lambda: (scans.__setitem__("n", scans["n"] + 1), orig_snapshots())[1]

    src_dir = str(tmp_path / "incoming")
    for b in range(50):
        generate_sequences(spark, 10, start_id=b * 100).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    stream = (
        spark.readStream.schema(SEQUENCES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    t0 = time.time()
    q = stream_append(stream, t, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(600)
    wall = time.time() - t0

    scans_during_stream = scans["n"]
    t.snapshots = orig_snapshots
    stream_snaps = [s for s in t.snapshots() if s.operation == "stream-append"]
    assert len(stream_snaps) == 50
    assert all("epoch_id" in s.summary for s in stream_snaps)
    assert t.scan().count() == 500
    # the O(1) mechanism itself: one metadata scan for 50 commits
    assert scans_during_stream == 1, scans_during_stream
    # informational: flat per-batch cost → 50 batches in bounded wall time
    assert wall < 300


def test_streaming_sessionize_late_event_within_watermark(spark, tmp_path):
    """A late-but-within-watermark event that PRECEDES the stored open
    session must extend start downward, never move last/end_ts backward
    (a shrinking end_ts made the event-time timeout fire early and
    merged pre-session events silently)."""
    import datetime as dt

    from datalakequality_spark.streaming.stateful import streaming_sessionize

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    # batch 1: user 1 at 100s and 200s (open session, last=200)
    spark.createDataFrame(
        [(1, ts(100)), (1, ts(200))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: late event at 50s — inside the gap, inside the watermark;
    # the session must become [50, 200], not end at 50
    spark.createDataFrame(
        [(1, ts(50))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 3: far-future other user → timeout flushes user 1's session
    spark.createDataFrame(
        [(99, ts(100_000))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sess = streaming_sessionize(stream, "user_id", "ts", gap_seconds=1800)
    q = (
        sess.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = sorted(
        (r["user_id"], r["session_id"], r["n_events"], r["start_ts"], r["end_ts"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [(1, 0, 3, ts(50), ts(200))]


def test_streaming_sessionize_straggler_emits_own_session(spark, tmp_path):
    """A late-but-within-watermark event OLDER than the open session's
    reach (t < start - gap) cannot merge with it — it must be emitted
    as its own closed session, not silently dropped (ADVICE r4): the
    watermark admitted it, and batch sessionize would count it."""
    import datetime as dt

    from datalakequality_spark.streaming.stateful import streaming_sessionize

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    # batch 1: open session [10000, 10050]; watermark = 10050 - 7200
    spark.createDataFrame(
        [(1, ts(10_000)), (1, ts(10_050))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: stragglers at 5000s and 5100s — within the 7200s
    # watermark, but > gap older than the open session's start; they
    # chain together (100s apart < gap) into ONE closed session
    spark.createDataFrame(
        [(1, ts(5_000)), (1, ts(5_100))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 3: far-future other user → timeout flushes user 1's session
    spark.createDataFrame(
        [(99, ts(100_000))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sess = streaming_sessionize(
        stream, "user_id", "ts", gap_seconds=1800, watermark="7200 seconds"
    )
    q = (
        sess.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = sorted(
        (r["user_id"], r["n_events"], r["start_ts"], r["end_ts"])
        for r in spark.read.parquet(out).collect()
    )
    # straggler pair emitted as one closed session; open session kept
    # its full extent and flushed by the timeout; ids unique per key
    assert rows == [
        (1, 2, ts(5_000), ts(5_100)),
        (1, 2, ts(10_000), ts(10_050)),
    ]
    sids = {r["session_id"] for r in spark.read.parquet(out).collect()}
    assert len(sids) == 2


def test_stream_upsert_merge_on_read(spark, tmp_path):
    """Streaming MoR upsert: each micro-batch replaces matched keys and
    inserts the rest in one O(batch) commit — no data file rewritten;
    a checkpoint restart with a new file upserts only the new batch;
    exactly one live row per key throughout."""
    from datalakequality_spark.streaming.ingest import stream_upsert

    t = IceMiniTable.create(spark, str(tmp_path / "tbl"))
    t.append(generate_sequences(spark, 1000), target_file_rows=250)
    base_paths = t.live_paths()
    src_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: 200 updates (rev=1 token arrays) + 100 inserts
    upd = generate_sequences(spark, 1000, rev=1).where(
        "pmod(xxhash64(doc_id), 5) = 0"
    )
    ins = generate_sequences(spark, 100, start_id=50_000)
    upd.unionByName(ins).coalesce(1).write.mode("append").parquet(src_dir)

    q = stream_upsert(
        spark.readStream.schema(SEQUENCES_SCHEMA).parquet(src_dir),
        t,
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)

    n_upd = upd.count()
    assert t.scan().count() == 1100  # 1000 + 100 inserts
    assert base_paths <= t.live_paths()  # zero rewrites — appends only
    snaps = [s for s in t.snapshots() if s.operation == "stream-upsert"]
    assert snaps and all("epoch_id" in s.summary for s in snaps)
    # updated rows carry the rev=1 arrays
    assert (
        t.scan().join(upd, ["doc_id", "n_tok"], "left_semi").count() >= n_upd
    )
    assert t.scan().groupBy("doc_id").count().where("count > 1").count() == 0

    # restart from the checkpoint: a second file re-upserting SOME of
    # the same keys (rev=2) — later epoch wins, still no duplicates
    upd2 = generate_sequences(spark, 1000, rev=2).where(
        "pmod(xxhash64(doc_id), 10) = 0"
    )
    upd2.coalesce(1).write.mode("append").parquet(src_dir)
    q2 = stream_upsert(
        spark.readStream.schema(SEQUENCES_SCHEMA).parquet(src_dir),
        t,
        checkpoint_dir=ckpt,
    )
    q2.awaitTermination(120)
    assert t.scan().count() == 1100
    assert t.scan().groupBy("doc_id").count().where("count > 1").count() == 0
    assert (
        t.scan().join(upd2, ["doc_id", "n_tok"], "left_semi").count()
        >= upd2.count()
    )

    # batch equality vs a batch merge_into(mode="merge_on_read")
    from datalakequality_spark.maintenance.merge import merge_into

    t2 = IceMiniTable.create(spark, str(tmp_path / "ref"))
    t2.append(generate_sequences(spark, 1000), target_file_rows=250)
    merge_into(t2, upd.unionByName(ins), mode="merge_on_read")
    merge_into(t2, upd2, mode="merge_on_read")
    h = lambda tt: (
        tt.scan()
        .agg(
            F.sum(
                F.pmod(
                    F.xxhash64("doc_id", "tokens", "n_tok", "source"),
                    F.lit(2**31),
                )
            )
        )
        .collect()[0][0]
    )
    assert h(t) == h(t2)

    # one epoch's shape: at most two Spark jobs (the dedup shuffle and
    # the writer), and every delete file it adds holds exactly the keys
    # of its paired data file
    from datalakequality_spark.streaming.ingest import IceMiniUpsertSink

    sc = spark.sparkContext
    dels_before = t.live_delete_paths()
    group = "upsert-epoch-shape"
    sc.setJobGroup(group, "one upsert epoch")
    try:
        IceMiniUpsertSink(t)(
            generate_sequences(spark, 1000, rev=3, num_partitions=4).where(
                "pmod(xxhash64(doc_id), 7) = 0"
            ),
            epoch_id=1000,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup(group)) <= 2

    keys = lambda rel: {
        r["doc_id"] for r in spark.read.parquet(t._abs(rel)).select("doc_id").collect()
    }
    new_dels = t.live_delete_paths() - dels_before
    assert new_dels
    for d in new_dels:
        head, name = os.path.split(d)
        paired = os.path.join(head, name[len("delete-"):])
        assert name.startswith("delete-") and paired in t.live_paths()
        assert keys(d) == keys(paired)
    assert t.scan().groupBy("doc_id").count().where("count > 1").count() == 0


def test_stream_upsert_gate_quarantines_some_files(spark, tmp_path):
    """One upsert epoch in which some files pass the gate and some are
    quarantined: keys in passing files show their new rows, keys in
    quarantined files keep their old rows, and no live delete file is
    paired with a quarantined data file."""
    from datalakequality_spark.streaming.ingest import IceMiniUpsertSink

    row_h = F.xxhash64("doc_id", "tokens", "n_tok", "source").alias("h")
    hashes = lambda df: {r["doc_id"]: r["h"] for r in df.select("doc_id", row_h).collect()}
    keys = lambda paths: {
        r["doc_id"]
        for r in spark.read.parquet(*[t._abs(p) for p in paths]).select("doc_id").collect()
    }

    t = IceMiniTable.create(spark, str(tmp_path / "gp"))
    t.append(generate_sequences(spark, 1000), target_file_rows=250)
    old = hashes(t.scan())
    # the batch arrives hash-partitioned on doc_id, so the sink's dedup
    # keeps that partitioning and writes one file per partition; the
    # rows of partition 0 get a null n_tok, which fails the gate
    upd = (
        generate_sequences(spark, 1000, rev=1)
        .where("pmod(xxhash64(doc_id), 3) = 0")
        .repartition(4, "doc_id")
    )
    poisoned = F.pmod(F.hash("doc_id"), F.lit(4)) == 0
    batch = upd.withColumn(
        "n_tok", F.when(poisoned, F.lit(None)).otherwise(F.col("n_tok"))
    )
    new = hashes(upd)
    IceMiniUpsertSink(t, quality_gate=True)(batch, epoch_id=0)

    snap = t.snapshot()
    quarantined = [q["path"] for q in snap.quarantine]
    passed = [e.path for e in t.live_entries() if e.seq == snap.snapshot_id]
    assert quarantined and passed
    now = hashes(t.scan())
    assert len(now) == t.scan().count() == 1000
    assert all(now[k] == old[k] for k in keys(quarantined))
    assert all(now[k] == new[k] for k in keys(passed))
    live_dels = {os.path.basename(p) for p in t.live_delete_paths()}
    assert len(live_dels) == len(passed)
    for q in quarantined:
        assert f"delete-{os.path.basename(q)}" not in live_dels


def test_stream_upsert_replayed_epoch_skipped(spark, tmp_path):
    """An epoch whose commit landed before a crash is skipped on
    replay — no duplicate delete/data files, same content."""
    from datalakequality_spark.streaming.ingest import (
        IceMiniUpsertSink,
        stream_upsert,
    )

    t = IceMiniTable.create(spark, str(tmp_path / "tbl"))
    t.append(generate_sequences(spark, 500), target_file_rows=250)
    batch = generate_sequences(spark, 500, rev=1).where(
        "pmod(xxhash64(doc_id), 4) = 0"
    )

    sink = IceMiniUpsertSink(t)
    sink(batch, epoch_id=7)
    v = t.current_version()
    n_del = len(t.live_delete_entries())

    # replay the same epoch through a FRESH sink (simulates restart):
    # the committed epoch id is rediscovered from table metadata
    sink2 = IceMiniUpsertSink(t)
    sink2(batch, epoch_id=7)
    assert t.current_version() == v
    assert len(t.live_delete_entries()) == n_del
    assert t.scan().groupBy("doc_id").count().where("count > 1").count() == 0

    with pytest.raises(ValueError, match="doc_id"):
        IceMiniUpsertSink(t, key="source")


def test_stream_gate_quarantines_bad_batch_files(spark, tmp_path):
    """quality_gate=True on the streaming sinks: a micro-batch whose
    rows carry PII-laden doc_ids never becomes live — the file is
    quarantined in the epoch's commit; for the UPSERT sink the
    quarantined keys' OLD rows stay live (the deletes are derived from
    clean files only, so a poisoned replacement cannot take down the
    row it failed to replace)."""
    from datalakequality_spark.streaming.ingest import stream_append, stream_upsert

    # ---- append sink
    t = IceMiniTable.create(spark, str(tmp_path / "ga"))
    src_dir, ckpt = str(tmp_path / "in_a"), str(tmp_path / "ck_a")
    good = generate_sequences(spark, 500)
    bad = generate_sequences(spark, 200, start_id=10**9).withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit("+leak@example.com"))
    )
    good.coalesce(1).write.mode("append").parquet(src_dir)
    q = stream_append(
        spark.readStream.schema(SEQUENCES_SCHEMA).parquet(src_dir),
        t,
        checkpoint_dir=ckpt,
        quality_gate=True,
    )
    q.awaitTermination(120)
    assert t.scan().count() == 500
    # the poisoned batch arrives as its own epoch (checkpoint restart)
    bad.coalesce(1).write.mode("append").parquet(src_dir)
    q = stream_append(
        spark.readStream.schema(SEQUENCES_SCHEMA).parquet(src_dir),
        t,
        checkpoint_dir=ckpt,
        quality_gate=True,
    )
    q.awaitTermination(120)
    assert t.scan().count() == 500  # poisoned file never published
    quars = [s for s in t.snapshots() if s.quarantine]
    assert quars and "pii_ratio" in quars[-1].quarantine[0]["reasons"][0]

    # ---- upsert sink: a poisoned REPLACEMENT leaves the old row live
    t2 = IceMiniTable.create(spark, str(tmp_path / "gu"))
    t2.append(generate_sequences(spark, 500), target_file_rows=250)
    src2, ckpt2 = str(tmp_path / "in_u"), str(tmp_path / "ck_u")
    poisoned_updates = (
        generate_sequences(spark, 500, rev=1)
        .where("pmod(xxhash64(doc_id), 5) = 0")
        .withColumn("source", F.lit("evil+x@example.com"))
        .withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("+x@example.com")))
    )
    poisoned_updates.coalesce(1).write.mode("append").parquet(src2)
    q2 = stream_upsert(
        spark.readStream.schema(SEQUENCES_SCHEMA).parquet(src2),
        t2,
        checkpoint_dir=ckpt2,
        quality_gate=True,
    )
    q2.awaitTermination(120)
    # whole batch quarantined: no deletes written, all 500 originals live
    assert t2.scan().count() == 500
    assert len(t2.live_delete_entries()) == 0
    quars2 = [s for s in t2.snapshots() if s.quarantine]
    assert quars2  # verdicts published for operational visibility
    # the quarantine epoch is NOT replayed on restart
    q3 = stream_upsert(
        spark.readStream.schema(SEQUENCES_SCHEMA).parquet(src2),
        t2,
        checkpoint_dir=ckpt2,
        quality_gate=True,
    )
    q3.awaitTermination(120)
    assert len([s for s in t2.snapshots() if s.quarantine]) == len(quars2)
