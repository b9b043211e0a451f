"""Merge-on-read reads: one data scan and one delete-side scan per read,
whatever the delete history, with Iceberg's sequence-number rule (a row
is live unless a delete with a strictly higher seq holds its key)."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq

from datalakequality_spark.maintenance.compaction import compact_table
from datalakequality_spark.maintenance.merge import delete_where, merge_into
from datalakequality_spark.sources.datagen import generate_sequences
from datalakequality_spark.sources.icemini import IceMiniTable

BASE_ROWS = 4000


def _job_count(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"mor-read-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "merge-on-read read")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _batch(spark, epoch: int):
    """Epoch ``epoch``'s upsert: keys [700·epoch, 700·epoch + 900) at
    rev ``epoch`` — it overlaps the previous epoch's keys (hot keys) and
    the base table, and the last epochs insert keys beyond it."""
    return generate_sequences(spark, 900, start_id=700 * epoch, rev=epoch, mean_tokens=8)


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    return sorted(
        (r.doc_id, r.n_tok, r.source, tuple(r.tokens) if r.tokens is not None else None)
        for r in pdf.itertuples()
    )


def _iceberg_rule(t: IceMiniTable) -> list[tuple]:
    """Pandas oracle of the live rows, from the files themselves: every
    live data file's rows with its seq, anti-joined against every live
    delete file's keys with its seq where data seq < delete seq."""
    cols = ["doc_id", "n_tok", "source", "tokens"]
    data = pd.concat(
        [
            pq.read_table(t._abs(e.path), columns=cols).to_pandas().assign(seq=e.seq or 0)
            for e in t.live_entries()
        ]
    )
    dels = [
        pq.read_table(t._abs(d.path), columns=["doc_id"]).to_pandas().assign(dseq=d.seq or 0)
        for d in t.live_delete_entries()
    ]
    if dels:
        keys = pd.concat(dels).groupby("doc_id", as_index=False)["dseq"].max()
        data = data.merge(keys, on="doc_id", how="left")
        data = data[~(data["dseq"] > data["seq"])]
    return _rows(data)


def test_mor_scan_runs_fixed_job_count_over_delete_generations(spark, tmp_path):
    """A scan of more than 32 files under a root that needs URI escaping
    runs the same number of Spark jobs (at most 2: the delete side's
    broadcast and the data scan) at 2 and at 8 delete generations; a
    scan and anti-join per generation ran 3 and 9."""
    t = IceMiniTable.create(spark, str(tmp_path / "sp ace%20+x" / "jobs"))
    t.append(generate_sequences(spark, BASE_ROWS, mean_tokens=8), target_file_rows=100)
    assert len(t.live_entries()) > 32
    jobs = {}
    for epoch in range(1, 9):
        merge_into(t, _batch(spark, epoch), mode="merge_on_read")
        if epoch in (2, 8):
            assert len({d.seq for d in t.live_delete_entries()}) == epoch
            jobs[epoch] = _job_count(spark, lambda: t.scan().collect())
    assert jobs[2] == jobs[8] <= 2, jobs
    assert _rows(t.scan().toPandas()) == _iceberg_rule(t)


def test_mor_reader_matches_iceberg_rule_and_last_writer_wins(spark, tmp_path):
    """Interleaved merge-on-read upserts, a merge-on-read delete and two
    compactions (which keep their inputs' minimum seq, so older deletes
    still apply to the compacted files): the scan equals both a pandas
    oracle of the sequence rule over the live files and the last-writer-
    wins content of the writes. Every upsert deletes and re-inserts its
    keys in one commit, at one seq — equal seqs mean not deleted."""
    t = IceMiniTable.create(spark, str(tmp_path / "oracle"))
    base = generate_sequences(spark, BASE_ROWS, mean_tokens=8)
    t.append(base, target_file_rows=100)
    want = base.toPandas().set_index("doc_id")

    def upsert(epoch: int) -> None:
        nonlocal want
        b = _batch(spark, epoch)
        merge_into(t, b, mode="merge_on_read")
        new = b.toPandas().set_index("doc_id")
        want = pd.concat([want.drop(new.index, errors="ignore"), new])

    upsert(1)
    upsert(2)
    seqs = {e.seq for e in t.live_entries()}
    r = compact_table(t, target_bytes=64 * 1024)
    assert r["rewritten_files"] > 0
    assert {e.seq for e in t.live_entries()} <= seqs  # min seq preserved
    delete_where(t, "n_tok % 5 = 0", mode="merge_on_read")
    want = want[want["n_tok"] % 5 != 0]
    upsert(3)  # re-inserts keys the delete removed
    upsert(4)
    r = compact_table(t, target_bytes=1024 * 1024)
    assert r["rewritten_files"] > 0
    upsert(5)
    assert len({d.seq for d in t.live_delete_entries()}) >= 5

    got = _rows(t.scan().toPandas())
    assert got == _iceberg_rule(t)
    assert got == _rows(want.reset_index())
    assert _rows(t.read_files([e.path for e in t.live_entries()]).toPandas()) == got


def _gateway_calls(fn) -> int:
    """py4j commands the driver sends while ``fn()`` runs, not counting
    the release of JVM objects that Python garbage-collects (those
    arrive whenever earlier objects die)."""
    import gc

    import py4j.clientserver as cs
    from py4j import protocol

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    orig = cs.ClientServerConnection.send_command
    n = {"calls": 0}

    def counted(self, command):
        n["calls"] += not command.startswith(release)
        return orig(self, command)

    gc.collect()
    cs.ClientServerConnection.send_command = counted
    try:
        out = fn()
    finally:
        cs.ClientServerConnection.send_command = orig
    del out
    return n["calls"]


def test_mor_scan_planning_makes_a_fixed_number_of_gateway_calls(spark, tmp_path):
    """Planning a merge-on-read scan (the parquet path list, the
    ``inputFiles()`` URIs and the per-row seq expression) sends the same
    number of py4j commands at 48 files as at 8, under a root whose URIs
    hold a quote, a backslash, a space and an escape-like ``%20+x``;
    the scan equals the sequence-rule oracle there (a path list passed
    unescaped globbed ``\\b`` to ``b`` and failed). A ``Column`` per
    URI and pyspark's list conversions cost about 9 calls per file."""
    tables = {}
    for files in (8, 48):
        t = IceMiniTable.create(spark, str(tmp_path / f"it's a\\b %20+x {files}"))
        t.append(generate_sequences(spark, 50 * files, mean_tokens=8), target_file_rows=50)
        for epoch in (1, 2):
            merge_into(t, _batch(spark, epoch).limit(120), mode="merge_on_read")
        assert len(t.live_entries()) >= files
        tables[files] = t
    t = tables[48]
    assert _rows(t.scan().toPandas()) == _iceberg_rule(t)
    tables[8].scan()  # warm the gateway's class lookups
    calls = {f: _gateway_calls(t.scan) for f, t in tables.items()}
    assert calls[8] == calls[48], calls


def test_file_seq_raises_for_a_file_with_no_seq(spark, tmp_path):
    """A row from a file the seq expression does not list raises rather
    than reading a NULL seq (which would resurrect deleted rows)."""
    import pytest

    t = IceMiniTable.create(spark, str(tmp_path / "noseq"))
    t.append(generate_sequences(spark, 300, mean_tokens=8), target_file_rows=100)
    merge_into(t, _batch(spark, 1).limit(50), mode="merge_on_read")
    entries = t.live_entries()
    assert len({e.seq for e in entries[1:]}) == 2
    df = t.read_parquet(t.schema(), [e.path for e in entries])
    with pytest.raises(Exception, match="no sequence number for"):
        df.select(t.file_seq(df, entries[1:])).collect()
