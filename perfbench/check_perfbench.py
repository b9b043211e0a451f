"""Tests of the benchmark itself (not part of the package's suite).

    python -m pytest perfbench/check_perfbench.py -q

The file name does not match pytest's ``test_*.py`` pattern, so a
test run from the repository root does not collect it: its smoke runs
take minutes and its Spark session would share a JVM with the package's
suite. Name the file on the command line to run it.

A tiny-size smoke run of each workload through the command line, a
check that a corrupted table fails the correctness checks, that
BENCHMARK.json names exactly what the code reports, and that the
command fails cleanly where the package is absent.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
from spans import EventLog, Recorder, TaskRec, _union_length, spark_phase  # noqa: E402
from workloads import WORKLOADS, BulkMaintain, TrickleUpsert  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PERFBENCH_SIZE": "tiny", "SPARK_DRIVER_MEMORY": "2g"},
    )


def test_benchmark_json_matches_the_code():
    doc = _bench_json()
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]} == layers.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_is_correct_and_complete(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, p.stdout
    want = layers.PER_LAYER if trace else layers.END_TO_END
    assert set(out["metrics"]) == set(want)
    for name, m in out["metrics"].items():
        assert m["unit"] == want[name][0]
        assert isinstance(m["value"], float)
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())
    assert not glob.glob(os.path.join(ROOT, ".perfbench_work", f"{workload}-*"))


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("bulk_maintain", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_self_time_and_spark_phase_arithmetic():
    rec = Recorder(enabled=True)
    with rec.op("op"):
        with rec.span("a"):
            with rec.span("b"):
                pass
    assert [s.name for s in rec.spans] == ["op", "a", "b"]
    assert rec.spans[2].parent == 1 and rec.spans[1].parent == 0
    assert 0 <= rec.self_time(1) <= rec.spans[1].duration
    assert _union_length([(0, 2), (1, 3), (5, 6)]) == 4
    log = EventLog(jobs=[(10.0, 12.0)], tasks=[TaskRec(10.0, 11.0, 0.8, 0.1, 5, 0), TaskRec(10.5, 12.0, 1.0, 0.2, 0, 7)])
    ph = spark_phase(log, 10.0, 14.0, cores=2)
    assert ph["jobs"] == 1 and ph["tasks"] == 2
    assert ph["task_s"] == pytest.approx(2.5)
    assert ph["driver_gap_s"] == pytest.approx(2.0)
    assert ph["occupancy"] == pytest.approx(2.5 / 8)
    assert ph["shuffle_write_bytes"] == 5 and ph["spill_bytes"] == 7


# ------------------------------------------------------- negative checks


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from datalakequality_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]",
                  extra_conf={"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _change_one_token(spark, t, avoid: set[int]) -> None:
    """Rewrite one live data file in place with one token changed, in a
    row whose doc_id no op of the workload writes again (a later write
    would replace the changed row)."""
    for e in t.live_entries():
        path = os.path.join(t.root, e.path)
        tbl = pq.read_table(path)
        rows = tbl.to_pylist()
        i = next((i for i, r in enumerate(rows) if r["doc_id"] not in avoid), None)
        if i is None:
            continue
        toks = rows[i]["tokens"] or [0]
        rows[i]["tokens"] = [toks[0] + 1, *toks[1:]]
        pq.write_table(type(tbl).from_pylist(rows, schema=tbl.schema), path)
        return
    raise AssertionError("no row to corrupt")


def _extra_row(spark, t, avoid: set[int]) -> None:
    """Append one row with a doc_id the generator never makes."""
    from datalakequality_spark.sources.datagen import generate_sequences

    t.append(generate_sequences(spark, 1, start_id=10**9))


@pytest.mark.parametrize("corrupt", [_change_one_token, _extra_row])
def test_corrupted_trickle_template_fails_the_check(spark, tmp_path, corrupt):
    wl = TrickleUpsert(spark, str(tmp_path), 5, 2, Recorder(False), "tiny")
    wl.setup()
    assert wl.log.failed == 0, wl.log.errors
    written = {*wl.epochs["doc_id"], *wl.merge_src["doc_id"]}
    corrupt(spark, wl.template, written)
    wl.timing = True
    wl.round()
    assert any(err.startswith("full scan") for err in wl.log.errors), wl.log.errors


@pytest.mark.parametrize("corrupt", [_change_one_token, _extra_row])
def test_corrupted_bulk_template_fails_the_check(spark, tmp_path, corrupt):
    wl = BulkMaintain(spark, str(tmp_path), 5, 2, Recorder(False), "tiny")
    wl.setup()
    assert wl.log.failed == 0, wl.log.errors
    corrupt(spark, wl.template, set(wl.src.select("doc_id").toPandas()["doc_id"]))
    wl.timing = True
    wl.round()
    # a changed token shows in the content hash; a lone extra row's file
    # may instead be quarantined by the gate, which the check also flags
    assert wl.log.failed >= 1, wl.log.errors
