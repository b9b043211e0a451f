"""IceMini's two write boundaries, each a single implementation: every
file under data/ comes from one writer (``IceMiniTable._write_files``),
and every snapshot after v1 from one bounded claim loop
(``IceMiniTable._claim_next``). The side stores' stage directories never
outlive a failed write or an expire."""

from __future__ import annotations

import json
import os
from dataclasses import asdict

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from datalakequality_spark.maintenance.compaction import compact_delete_files
from datalakequality_spark.maintenance.merge import delete_where, merge_into
from datalakequality_spark.sources import icemini
from datalakequality_spark.sources.datagen import generate_sequences
from datalakequality_spark.sources.icemini import (
    CommitConflict,
    FileEntry,
    IceMiniTable,
    Snapshot,
)


def _job_count(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"writer-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "standalone delete write")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _table(spark, tmp_path, name: str, rows: int = 4000) -> IceMiniTable:
    t = IceMiniTable.create(spark, str(tmp_path / name))
    t.append(generate_sequences(spark, rows), target_file_rows=250)
    return t


def _assert_delete_stats_match_files(t: IceMiniTable) -> None:
    dels = t.live_delete_entries()
    assert dels
    for d in dels:
        keys = pq.read_table(t._abs(d.path)).column("doc_id")
        mm = pc.min_max(keys)
        assert d.rows == len(keys) > 0
        assert (d.min_doc_id, d.max_doc_id) == (mm["min"].as_py(), mm["max"].as_py())
        assert d.size_bytes == os.path.getsize(t._abs(d.path))
        assert d.key_bloom is None


def test_standalone_delete_writes_run_one_writer_job(spark, tmp_path):
    """A merge-on-read DELETE evaluates its key plan once (the writer
    job), not once for a count and again for the write; delete-file
    compaction writes each group through the same writer, after one
    evaluation of the backlog's keys and a one-task sidecar probe. On a
    4,000-row, 16-file table the stage-directory writer ran 8 and 11
    jobs, and compaction with a separate key count and a 16-task probe
    behind a shuffle 8."""
    t = _table(spark, tmp_path, "jobs")
    assert len(t.live_entries()) == 16
    n = _job_count(spark, lambda: delete_where(t, "n_tok % 3 = 0", mode="merge_on_read"))
    assert n == 4
    for m in (5, 7, 11):
        delete_where(t, f"n_tok % {m} = 1", mode="merge_on_read")
    assert len(t.live_delete_entries()) == 4
    n = _job_count(spark, lambda: compact_delete_files(t))
    assert n == 4
    assert len(t.live_delete_entries()) == 1


def test_standalone_delete_stats_match_their_files(spark, tmp_path):
    """Both standalone-delete callers record each key file's rows,
    doc_id range and size as a pyarrow read of the file sees them."""
    t = _table(spark, tmp_path, "stats", rows=2000)
    delete_where(t, "n_tok % 3 = 0", mode="merge_on_read")
    delete_where(t, "n_tok % 5 = 1", mode="merge_on_read")
    _assert_delete_stats_match_files(t)
    r = compact_delete_files(t)
    assert r["skipped"] == 0 and r["output_delete_files"] == 1
    _assert_delete_stats_match_files(t)

    # the subsumption-only path writes distributed groups the same way
    merge_into(
        t,
        generate_sequences(spark, 2000, rev=1).where("pmod(xxhash64(doc_id), 4) = 0"),
        mode="merge_on_read",
    )
    delete_where(t, "n_tok % 7 = 2", mode="merge_on_read")
    r = compact_delete_files(t, max_analysis_keys=0)
    assert r["analysis"] == "subsumption-only" and r["skipped"] == 0
    _assert_delete_stats_match_files(t)


def _data_listing(t: IceMiniTable) -> set[str]:
    return set(os.listdir(t.data_dir))


def _live_listing(t: IceMiniTable) -> set[str]:
    live = t.live_entries()
    names = {os.path.basename(e.path) for e in [*live, *t.live_delete_entries()]}
    return names | {os.path.basename(e.key_bloom) for e in live if e.key_bloom}


def test_failed_delete_writes_leave_nothing_after_expire(spark, tmp_path, monkeypatch):
    """What a failed standalone delete write can leave in data/ is
    swept by ``expire_snapshots``: key files whose commit never
    happened (an uncommitted write, a MoR delete whose commit crashes),
    a task's ``.inprogress-*`` temp that never reached its rename, and
    a ``.stage-*`` directory that older versions of the delete writer
    left behind. Temps and stages are age-gated like any writer temp;
    at age 0, data/ holds exactly the live files and their sidecars —
    no hidden entry, no directory."""
    t = _table(spark, tmp_path, "leak", rows=2000)
    t.write_delete_files(t.scan().where("n_tok % 3 = 0").select("doc_id"))

    def failing_commit(self, *a, **k):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(IceMiniTable, "commit", failing_commit)
    with pytest.raises(RuntimeError, match="before commit"):
        delete_where(t, "n_tok % 5 = 0", mode="merge_on_read")
    monkeypatch.undo()

    with open(os.path.join(t.data_dir, ".inprogress-delete-x-00000-7"), "wb") as f:
        f.write(b"PAR1")
    stage = os.path.join(t.data_dir, ".stage-delete-x")
    os.makedirs(stage)
    for name in ("_SUCCESS", "._SUCCESS.crc", "part-00000.parquet"):
        open(os.path.join(stage, name), "w").close()

    assert _data_listing(t) > _live_listing(t)  # orphans are there
    t.expire_snapshots()  # young temps and stages may be a live writer's
    assert os.path.isdir(stage)
    t.expire_snapshots(orphan_temp_age_s=0)
    left = _data_listing(t)
    assert left == _live_listing(t)
    assert not [n for n in left if n.startswith(".")]
    assert not [n for n in left if os.path.isdir(os.path.join(t.data_dir, n))]


def test_standalone_delete_writes_one_file_per_group_above_a_shuffle_partition(spark, tmp_path):
    """A key frame above AQE's 1 MB minimum partition size splits into
    several shuffle partitions on the 8-partition test session, so a
    writer fed the raw distinct writes several files. A merge-on-read
    DELETE still writes one delete file, and a subsumption-only
    compaction one file per seq group."""
    t = IceMiniTable.create(spark, str(tmp_path / "wide"))
    t.append(generate_sequences(spark, 400_000, with_tokens=False), target_file_rows=100_000)
    cond = "n_tok % 16 != 0"
    split = t.write_delete_files(t.scan().where(cond).select("doc_id").distinct())
    assert len(split) > 1  # uncommitted, swept by the expire below

    r = delete_where(t, cond, mode="merge_on_read")
    [first] = t.live_delete_entries()
    assert r["delete_files"] == 1 and first.rows == r["deleted_rows"] > 300_000
    n_live = t.scan().count()
    # the same keys again at a later seq: subsumption keeps each once
    again = t.write_delete_files(spark.read.parquet(t._abs(first.path)))
    t.commit("delete", added=[], added_deletes=again)
    top = max(d.seq for d in t.live_delete_entries())
    r = compact_delete_files(t, max_analysis_keys=0)
    assert r["analysis"] == "subsumption-only" and r["skipped"] == 0
    assert r["output_delete_files"] == 1
    [out] = t.live_delete_entries()
    assert out.rows == first.rows and out.seq == top
    assert t.scan().count() == n_live
    _assert_delete_stats_match_files(t)
    t.expire_snapshots(orphan_temp_age_s=0)
    assert _data_listing(t) == _live_listing(t)


def test_manifests_are_slim_and_parent_format_still_loads(spark, tmp_path):
    """Manifests omit None stats and use compact separators; a manifest
    in the older format (every key, None values, default separators)
    loads to the same entries. Snapshots keep their on-disk keys."""
    t = IceMiniTable.create(spark, str(tmp_path / "slim"))
    t.append(generate_sequences(spark, 500), target_file_rows=250)
    delete_where(t, "n_tok % 3 = 0", mode="merge_on_read")
    snap = t.snapshot()
    entries: list[FileEntry] = []
    for m in [*snap.manifests, *snap.delete_manifests]:
        with open(os.path.join(t.meta_dir, m)) as f:
            text = f.read()
        assert ":null" not in text and ", " not in text and '": ' not in text
        slim = t._read_manifest(m)
        old = f"manifest-old-{m}"
        with open(os.path.join(t.meta_dir, old), "w") as f:
            json.dump({"entries": [asdict(e) for e in slim]}, f)
        assert t._read_manifest(old) == slim
        entries += slim
    # delete entries carry no n_tok/source stats: omitted, restored as None
    assert any(v is None for e in entries for v in asdict(e).values())

    with open(os.path.join(t.meta_dir, f"v{t.current_version()}.metadata.json")) as f:
        raw = json.load(f)
    assert raw == snap.to_dict()
    assert raw["format_version"] == 1 and "schema" in raw and "schema_ddl" not in raw
    # a snapshot written before to_dict existed: same keys, other order
    legacy = {
        "format_version": 1,
        "snapshot_id": 7,
        "parent_snapshot_id": 6,
        "operation": "append",
        "manifests": ["m.json"],
        "summary": {"total_rows": 3},
        "quarantine": [],
        "timestamp_ms": 5,
        "schema": [["doc_id", "string", False]],
        "delete_manifests": [],
    }
    loaded = Snapshot.from_dict(legacy)
    assert loaded.schema_ddl == [["doc_id", "string", False]]
    assert loaded.to_dict() == legacy


def _lose_first_claim(monkeypatch, t: IceMiniTable, spark) -> dict:
    """Make the next snapshot claim lose to an append of 100 rows that
    lands just before it."""
    orig = IceMiniTable._try_claim_version
    state = {"armed": True, "append_v": None}

    def racing(self, version, snap):
        if state["armed"]:
            state["armed"] = False
            t.append(generate_sequences(spark, 100, start_id=50_000))
            state["append_v"] = t.current_version()
        return orig(self, version, snap)

    monkeypatch.setattr(IceMiniTable, "_try_claim_version", racing)
    return state


def test_schema_ops_and_rollback_retry_on_top_of_a_lost_claim(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path, "race", rows=500)
    n0 = t.scan().count()

    race = _lose_first_claim(monkeypatch, t, spark)
    snap = t.add_columns({"score": "double"})
    monkeypatch.undo()
    assert snap.parent_snapshot_id == race["append_v"] and snap.operation == "set-schema"
    assert snap.snapshot_id == t.current_version() == race["append_v"] + 1
    assert "score" in t.schema().fieldNames()
    assert t.scan().count() == n0 + 100  # the append's rows survive

    race = _lose_first_claim(monkeypatch, t, spark)
    snap = t.drop_columns(["score"])
    monkeypatch.undo()
    assert snap.parent_snapshot_id == race["append_v"]
    assert "score" not in t.schema().fieldNames()
    assert t.scan().count() == n0 + 200

    race = _lose_first_claim(monkeypatch, t, spark)
    snap = t.rollback_to(2)
    monkeypatch.undo()
    assert snap.parent_snapshot_id == race["append_v"] and snap.operation == "rollback"
    assert snap.summary["rollback_of"] == race["append_v"]
    assert t.live_paths() == t.live_paths(2)
    assert t.scan().count() == n0


def test_a_claim_that_always_loses_raises_commit_conflict(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path, "lose", rows=300)
    t.add_columns({"extra": "int"})
    calls = {"n": 0}

    def always_lose(self, version, snap):
        calls["n"] += 1
        if calls["n"] > 10 * icemini._MAX_LOST_CLAIMS:
            raise RuntimeError("claim loop does not give up")
        return False

    monkeypatch.setattr(IceMiniTable, "_try_claim_version", always_lose)
    ops = {
        "commit": lambda: t.commit("append", added=[]),
        "add_columns": lambda: t.add_columns({"more": "int"}),
        "drop_columns": lambda: t.drop_columns(["extra"]),
        "rollback_to": lambda: t.rollback_to(2),
    }
    for name, op in ops.items():
        calls["n"] = 0
        with pytest.raises(CommitConflict, match="lost"):
            op()
        assert calls["n"] == icemini._MAX_LOST_CLAIMS, name


def test_side_store_claims_that_always_lose_raise_commit_conflict(spark, tmp_path, monkeypatch):
    """``MinHashStore`` appends and ``AnnIvfIndex`` builds and appends
    give up with ``CommitConflict`` after ``_MAX_LOST_CLAIMS`` lost
    manifest claims, as IceMini's snapshot claims do."""
    import numpy as np

    from datalakequality_spark.sources.annindex import AnnIvfIndex
    from datalakequality_spark.sources.sigstore import MinHashStore

    texts = spark.createDataFrame(
        [(f"d{i}", " ".join(f"w{(i * 3 + j) % 40}" for j in range(12))) for i in range(20)],
        "doc_id string, text string",
    )
    vecs = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(np.random.default_rng(2).standard_normal((40, 4)))],
        "id long, v array<double>",
    )
    store = MinHashStore.create(spark, str(tmp_path / "sig"))
    index = AnnIvfIndex.build(spark, vecs, "id", "v", str(tmp_path / "ivf"), n_centroids=2)
    calls = {"n": 0}

    def always_lose(self, version, manifest):
        calls["n"] += 1
        if calls["n"] > 10 * icemini._MAX_LOST_CLAIMS:
            raise RuntimeError("claim loop does not give up")
        return False

    monkeypatch.setattr(MinHashStore, "_try_claim", always_lose)
    monkeypatch.setattr(AnnIvfIndex, "_try_claim", always_lose)
    ops = {
        "sig append": lambda: store.add_batch(texts, "doc_id", "text"),
        "ann build": lambda: AnnIvfIndex.build(
            spark, vecs, "id", "v", str(tmp_path / "ivf"), n_centroids=2
        ),
        "ann append": lambda: index.append(vecs),
    }
    for name, op in ops.items():
        calls["n"] = 0
        with pytest.raises(CommitConflict, match="lost"):
            op()
        assert calls["n"] == icemini._MAX_LOST_CLAIMS, name


def test_side_store_stages_are_removed_on_failure_and_swept_by_expire(spark, tmp_path, monkeypatch):
    """``MinHashStore`` and ``AnnIvfIndex`` publish files through a
    stage directory: a failed rename removes it, and ``expire`` sweeps
    one older than IceMini's orphan-temp age (a killed driver's) while
    a young one (a live writer's) survives."""
    import numpy as np

    from datalakequality_spark.sources.annindex import AnnIvfIndex
    from datalakequality_spark.sources.sigstore import MinHashStore

    texts = spark.createDataFrame(
        [(f"d{i}", " ".join(f"w{(i * 7 + j) % 50}" for j in range(20))) for i in range(30)],
        "doc_id string, text string",
    )
    vecs = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(np.random.default_rng(1).standard_normal((60, 4)))],
        "id long, v array<double>",
    )
    store = MinHashStore.create(spark, str(tmp_path / "sig"))
    store.add_batch(texts, "doc_id", "text")
    index = AnnIvfIndex.build(spark, vecs, "id", "v", str(tmp_path / "ivf"), n_centroids=2)

    def failing_rename(src, dst):
        raise OSError("injected rename failure")

    def stages(root: str) -> list[str]:
        return [n for n in os.listdir(os.path.join(root, "data")) if n.startswith(".stage-")]

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        store.add_batch(texts, "doc_id", "text")
    with pytest.raises(OSError, match="injected"):
        index.append(vecs)
    monkeypatch.undo()
    assert stages(store.root) == [] and stages(index.root) == []

    for side in (store, index):
        old = os.path.join(side.root, "data", ".stage-old")
        young = os.path.join(side.root, "data", ".stage-young")
        for d in (old, young):
            os.makedirs(d)
            open(os.path.join(d, "_SUCCESS"), "w").close()
        past = os.path.getmtime(old) - icemini.ORPHAN_TEMP_AGE_S - 60
        os.utime(old, (past, past))
        side.expire()
        assert stages(side.root) == [".stage-young"]


def test_side_stores_under_a_root_that_needs_uri_escaping(spark, tmp_path):
    """The signature store and the ANN index publish and read their
    files under a root holding a space, a ``%``, a ``+`` and a ``\\``
    (which Hadoop globs away unless the read escapes it) exactly as
    under a plain root, and leave no stage directory behind."""
    import numpy as np

    from datalakequality_spark.sources.annindex import AnnIvfIndex
    from datalakequality_spark.sources.sigstore import MinHashStore

    def words(i: int) -> str:
        return " ".join(f"w{(i * 7 + j) % 50}" for j in range(20))

    old = spark.createDataFrame([(f"a{i}", words(i)) for i in range(30)], "doc_id string, text string")
    new = spark.createDataFrame(  # each an exact dup of a stored doc
        [(f"b{i}", words(i + 1)) for i in range(0, 27, 3)], "doc_id string, text string"
    )
    vecs = np.random.default_rng(5).standard_normal((80, 4))

    def vec_df(lo: int, hi: int):
        return spark.createDataFrame(
            [(i, vecs[i].tolist()) for i in range(lo, hi)], "id long, v array<double>"
        )

    def run(root: str):
        store = MinHashStore.create(spark, os.path.join(root, "sig"))
        store.add_batch(old, "doc_id", "text")
        pairs = sorted(map(tuple, store.dedup_batch(new, "doc_id", "text").collect()))
        ids = sorted(r["doc_id"] for r in store.scan().select("doc_id").collect())
        index = AnnIvfIndex.build(spark, vec_df(0, 60), "id", "v", os.path.join(root, "ivf"), n_centroids=3)
        index.append(vec_df(60, 80))
        top = [r["id"] for r in index.topk(vecs[61].tolist(), k=5, n_probe=2).collect()]
        expired = [store.expire(), index.expire()]
        stages = [
            n for side in (store, index)
            for n in os.listdir(os.path.join(side.root, "data")) if n.startswith(".stage-")
        ]
        return pairs, ids, top, [e["deleted_versions"] for e in expired], stages

    escaped = run(str(tmp_path / "sp ace%20+x\\b"))
    pairs, ids, top, deleted_versions, stages = escaped
    assert {(f"a{i + 1}", f"b{i}", 1.0) for i in range(0, 27, 3)} <= set(pairs)
    assert len(ids) == 39 and top[0] == 61
    assert deleted_versions == [[1, 2], [1]] and stages == []
    assert escaped == run(str(tmp_path / "plain"))
