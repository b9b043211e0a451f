"""Per-layer metrics of a traced run, measured from outside the package.

``install`` wraps the public entry points of each layer with spans;
``collect`` turns the spans of the measured window, the workload's op
log and a few direct calls into the layer kernels into the ``per_layer``
metrics; ``spark_phases`` reads the Spark event log. Layer times are
seconds per timed op of the window (all op kinds) unless the name says
otherwise. A layer a workload does not reach reports 0.
"""

from __future__ import annotations

import statistics
import time
from typing import Any

import numpy as np
import pandas as pd  # module scope: pandas_udf resolves stringified hints here
from pyspark.sql import functions as F

from datalakequality_spark.functions import spacecurves
from datalakequality_spark.maintenance import compaction
from datalakequality_spark.maintenance import merge as merge_mod
from datalakequality_spark.sources import keybloom
from datalakequality_spark.sources.icemini import IceMiniTable
from datalakequality_spark.streaming.ingest import IceMiniUpsertSink

import spans
from workloads import _med

SPARK_OPS = ("rewrite", "merge_cow", "upsert", "point_merge", "scan_full", "scan_pruned", "changelog")

# name -> (unit, which direction is better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_cpu_s": ("core-s", "lower"),
    "rows_per_core_s": ("rows/core-s", "higher"),
    "space_amp": ("ratio", "lower"),
}

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warm_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "datagen.build_s": ("s", "lower"),
    # sources.icemini: driver metadata
    "icemini.commit_s": ("s", "lower"),
    "icemini.commit_calls": ("count", "lower"),
    "icemini.live_entries_s": ("s", "lower"),
    "icemini.snapshot_s": ("s", "lower"),
    "icemini.current_version_s": ("s", "lower"),
    "icemini.expire_s": ("s", "lower"),
    "icemini.metadata_bytes": ("bytes", "lower"),
    "icemini.metadata_bytes_per_commit": ("bytes", "lower"),
    "icemini.manifests_live": ("count", "lower"),
    "icemini.files_live": ("count", "lower"),
    "icemini.delete_files_live": ("count", "lower"),
    # sources.icemini: data IO
    "icemini.write_data_files_s": ("s", "lower"),
    "icemini.data_files_written": ("count", "lower"),
    "icemini.data_bytes_written": ("bytes", "lower"),
    "icemini.write_delete_files_s": ("s", "lower"),
    "icemini.delete_files_written": ("count", "lower"),
    "icemini.scan_plan_s": ("s", "lower"),
    "icemini.scan_exec_s": ("s", "lower"),
    # planning
    "planning.prune_s": ("s", "lower"),
    "planning.prune_files_in": ("count", "lower"),
    "planning.prune_files_kept": ("count", "lower"),
    "planning.prune_kept_ratio": ("ratio", "lower"),
    "planning.bloom_probe_s": ("s", "lower"),
    "planning.bloom_files_in": ("count", "lower"),
    "planning.bloom_files_kept": ("count", "lower"),
    "planning.bloom_useful_ratio": ("ratio", "higher"),
    # sources.keybloom, called directly
    "keybloom.build_keys_per_s": ("keys/s", "higher"),
    "keybloom.probe_keys_per_s": ("keys/s", "higher"),
    "keybloom.sidecar_bytes": ("bytes", "lower"),
    "keybloom.fpp_measured": ("ratio", "lower"),
    # functions.spacecurves, called directly (bulk_maintain only)
    "spacecurves.morton3_rows_per_s": ("rows/s", "higher"),
    "spacecurves.hilbert3_rows_per_s": ("rows/s", "higher"),
    "spacecurves.udf_pass_rows_per_s": ("rows/s", "higher"),
    "spacecurves.jvm_pass_rows_per_s": ("rows/s", "higher"),
    "spacecurves.udf_boundary_share": ("ratio", "lower"),
    # plans.quality_gate via maintenance.compaction.gate_batch
    "gate.s": ("s", "lower"),
    "gate.files": ("count", "lower"),
    "gate.rows": ("count", "lower"),
    "gate.quarantined_files": ("count", "lower"),
    "clustering.rewrite_tasks": ("count", "lower"),
    "clustering.output_files": ("count", "lower"),
    "clustering.rows_per_output_file": ("rows", "higher"),
    "merge.files_rewritten": ("count", "lower"),
    "merge.rows_rewritten_per_source_row": ("ratio", "lower"),
    "lineage.records_written": ("count", "lower"),
    "lineage.bytes_written": ("bytes", "lower"),
    "ingest.epoch_self_s": ("s", "lower"),
    # whole ops, under tracing
    "rewrite_s": ("s", "lower"),
    "merge_cow_s": ("s", "lower"),
    "upsert_p50_s": ("s", "lower"),
    "upsert_tail_s": ("s", "lower"),
    "upsert_samples": ("count", "higher"),
    "point_merge_s": ("s", "lower"),
    "scan_full_s": ("s", "lower"),
    "scan_pruned_s": ("s", "lower"),
    "changelog_s": ("s", "lower"),
    "write_amp": ("ratio", "lower"),
    "failed_op_ratio": ("ratio", "lower"),
    **{
        f"spark.{op}.{m}": (u, "higher" if m == "occupancy" else "lower")
        for op in SPARK_OPS
        for m, u in zip(spans.SPARK_METRICS, ("count", "count", "s", "s", "bytes", "bytes", "ratio", "s"))
    },
    "trace.overhead_share": ("ratio", "lower"),
    "trace.op_p50_s": ("s", "lower"),
    "trace.op_cpu_s": ("core-s", "lower"),
    "trace.rows_per_s": ("rows/s", "higher"),
    "jvm.jit_core_s": ("core-s", "lower"),
    "trace.spans": ("count", "lower"),
    "host.sys_pct": ("%", "lower"),
    "host.steal_pct": ("%", "lower"),
    "host.loadavg_1m": ("load", "lower"),
}


def unit(name: str) -> str:
    return (END_TO_END.get(name) or PER_LAYER[name])[0]


def warm_python_workers(spark, cpus: int) -> None:
    """Start the Python worker pool and JIT the Arrow path before
    anything is measured: first-use cost belongs to set-up."""

    @F.pandas_udf("long")
    def _w(s: pd.Series) -> pd.Series:
        return s

    spark.range(cpus * 4, numPartitions=cpus).select(_w(F.col("id")).alias("x")).agg(F.sum("x")).collect()


def _n(x: Any) -> int:
    return len(x) if x is not None else 0


def install(rec: spans.Recorder) -> None:
    """Wrap the layer entry points. Module-level functions are wrapped
    on the module that calls them at run time."""
    T = IceMiniTable
    for attr in ("live_entries", "snapshot", "current_version"):
        rec.wrap(T, attr, f"icemini.{attr}")
    rec.wrap(T, "commit", "icemini.commit")
    rec.wrap(T, "expire_snapshots", "icemini.expire")
    rec.wrap(T, "write_data_files", "icemini.write_data_files", lambda c, a, k, r: c.update(
        files=len(r), bytes=sum(e.size_bytes for e in r)))
    rec.wrap(T, "write_delete_files", "icemini.write_delete_files", lambda c, a, k, r: c.update(files=len(r)))
    for attr in ("scan", "read_files", "changelog_scan"):
        rec.wrap(T, attr, "icemini.scan_plan")
    rec.wrap(T, "prune_entries", "planning.prune", lambda c, a, k, r: c.update(
        files_in=_n(a[1] if len(a) > 1 else k.get("entries")), files_kept=len(r)))
    rec.wrap(merge_mod, "bloom_prune_candidates", "planning.bloom_probe", lambda c, a, k, r: c.update(
        files_in=_n(a[1] if len(a) > 1 else k.get("candidates")), files_kept=len(r)))
    rec.wrap(compaction, "gate_batch", "gate", lambda c, a, k, r: c.update(
        files=sum(len(b) for b in a[1]), rows=sum(e.rows for b in a[1] for e in b), quarantined=len(r[1])))
    rec.wrap(IceMiniUpsertSink, "__call__", "ingest.epoch")


def table_stats(t: IceMiniTable, files: dict[str, int]) -> dict[str, float]:
    """Metadata-layer state of a table; ``files`` is its tree listing."""
    snap = t.snapshot()
    live = t.live_entries()
    return {
        "icemini.manifests_live": len(snap.manifests) + len(snap.delete_manifests),
        "icemini.files_live": len(live),
        "icemini.delete_files_live": len(t.live_delete_entries()),
        "icemini.metadata_bytes": sum(
            s for p, s in files.items() if p.startswith("metadata/") and not p.startswith("metadata/jobs/")),
        "keybloom.sidecar_bytes": sum(files.get(e.key_bloom, 0) for e in live if e.key_bloom),
    }


def _rate(fn, n: int, min_s: float = 0.2) -> float:
    """Items per second of ``fn()`` over ``n`` items, repeated for at
    least ``min_s`` seconds."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n * reps / dt


def keybloom_direct(spark, t: IceMiniTable) -> dict[str, float]:
    """Build and probe a sketch over the table's own key hashes; the
    false-positive share comes from probing keys that are absent."""
    present = t.scan().select(F.xxhash64("doc_id").alias("h")).toPandas()["h"].to_numpy(np.int64)
    absent = (
        spark.range(len(present))
        .select(F.xxhash64(F.concat(F.lit("absent-"), F.col("id").cast("string"))).alias("h"))
        .toPandas()["h"].to_numpy(np.int64)
    )
    raw = keybloom.build(present)
    words = np.frombuffer(raw[keybloom.HEADER_BYTES:], dtype="<u4").astype(np.uint32)
    return {
        "keybloom.build_keys_per_s": _rate(lambda: keybloom.build(present), len(present)),
        "keybloom.probe_keys_per_s": _rate(lambda: keybloom.probe(words, absent), len(absent)),
        "keybloom.fpp_measured": float(keybloom.probe(words, absent).mean()),
    }


def spacecurves_direct(spark, t: IceMiniTable, cores: int) -> dict[str, float]:
    """Curve kernels called directly on the table's key dims, and the
    same one-pass key+bucket computation through the Arrow UDF and
    through a JVM-only expression, over the cached dims."""
    dims = t.scan().select("source", "n_tok", "doc_id").cache()
    n = dims.count()
    d = dims.select(
        F.xxhash64("source").alias("s"),
        (F.least(F.col("n_tok").cast("long"), F.lit(8192)) * 65535 / 8192).cast("long").alias("t"),
        F.xxhash64("doc_id").alias("d"),
    ).toPandas()
    # the kernels' inputs: the low 16 bits of each dim, as the UDF feeds them
    x, y, z = (d[c].to_numpy(np.int64).view(np.uint64) & np.uint64(0xFFFF) for c in ("s", "t", "d"))
    morton = _rate(lambda: spacecurves.morton3(x, y, z), n)
    hilbert = _rate(lambda: spacecurves.hilbert3(x, y, z), n)
    bounds = [int(b) for b in np.quantile(spacecurves.morton3(x, y, z).astype(np.int64), [0.25, 0.5, 0.75])]

    def udf_pass():
        spacecurves.with_cluster_bucket(dims, bounds).agg(F.sum("__pid"), F.max("__cluster_key")).collect()

    def jvm_pass():
        key = F.xxhash64(F.xxhash64("source"), F.col("n_tok"), F.xxhash64("doc_id"))
        dims.select(key.alias("k"), F.pmod(key, F.lit(4)).alias("p")).agg(F.sum("p"), F.max("k")).collect()

    udf_pass(), jvm_pass()  # first-use cost out of the measurement
    udf = statistics.median(_rate(udf_pass, n, 0.0) for _ in range(3))
    jvm = statistics.median(_rate(jvm_pass, n, 0.0) for _ in range(3))
    dims.unpersist()
    t_udf, t_jvm, t_kernel = n / udf, n / jvm, n / morton / cores
    return {
        "spacecurves.morton3_rows_per_s": morton,
        "spacecurves.hilbert3_rows_per_s": hilbert,
        "spacecurves.udf_pass_rows_per_s": udf,
        "spacecurves.jvm_pass_rows_per_s": jvm,
        # the part of the UDF pass that is neither the JVM work both
        # passes share nor the numpy kernel: the Arrow/Python boundary
        "spacecurves.udf_boundary_share": max(0.0, (t_udf - t_jvm - t_kernel) / t_udf),
    }


def collect(wl, rec: spans.Recorder, spark, cores: int) -> dict[str, float]:
    """Per-layer metrics from the spans of the measured window."""
    out = {k: 0.0 for k in PER_LAYER}
    out.update(wl.layer)
    ops = wl.log.ops
    n_ops = max(len(ops), 1)
    t0, t1 = wl.window
    win_idx = rec.in_window(t0, t1)
    win = [rec.spans[i] for i in win_idx]

    def spans_of(name):
        return [s for s in win if s.name == name]

    def per_op(name):
        return sum(s.duration for s in spans_of(name)) / n_ops

    def count(name, key):
        return sum(s.counts.get(key, 0) for s in spans_of(name))

    for attr in ("commit", "live_entries", "snapshot", "current_version", "expire",
                 "write_data_files", "write_delete_files"):
        out[f"icemini.{attr}_s"] = per_op(f"icemini.{attr}")
    commits = len(spans_of("icemini.commit"))
    out["icemini.commit_calls"] = commits / n_ops
    out["icemini.data_files_written"] = count("icemini.write_data_files", "files") / n_ops
    out["icemini.data_bytes_written"] = count("icemini.write_data_files", "bytes") / n_ops
    out["icemini.delete_files_written"] = count("icemini.write_delete_files", "files") / n_ops
    # plan time: outermost plan spans only (changelog_scan reads files too)
    plan = [s for s in spans_of("icemini.scan_plan")
            if s.parent is None or rec.spans[s.parent].name != "icemini.scan_plan"]
    out["icemini.scan_plan_s"] = sum(s.duration for s in plan) / n_ops
    out["icemini.scan_exec_s"] = per_op("icemini.scan_exec")

    out["planning.prune_s"] = per_op("planning.prune")
    p_in, p_kept = count("planning.prune", "files_in"), count("planning.prune", "files_kept")
    out["planning.prune_files_in"], out["planning.prune_files_kept"] = p_in / n_ops, p_kept / n_ops
    out["planning.prune_kept_ratio"] = p_kept / p_in if p_in else 0.0
    out["planning.bloom_probe_s"] = per_op("planning.bloom_probe")
    out["planning.bloom_files_in"] = count("planning.bloom_probe", "files_in") / n_ops
    out["planning.bloom_files_kept"] = count("planning.bloom_probe", "files_kept") / n_ops
    useful = [o["useful"] for o in ops if "useful" in o]
    kept = sum(k for _, k in useful)
    out["planning.bloom_useful_ratio"] = sum(m for m, _ in useful) / kept if kept else 0.0

    n_gates = max(len(spans_of("gate")), 1)  # gate metrics are per gate call
    out["gate.s"] = sum(s.duration for s in spans_of("gate")) / n_gates
    out["gate.files"] = count("gate", "files") / n_gates
    out["gate.rows"] = count("gate", "rows") / n_gates
    out["gate.quarantined_files"] = count("gate", "quarantined") / n_gates

    epochs = [i for i in win_idx if rec.spans[i].name == "ingest.epoch"]
    if epochs:
        out["ingest.epoch_self_s"] = statistics.median(rec.self_time(i) for i in epochs)

    created = wl.created
    jobs = [s for p, s in created.items() if "metadata/jobs/" in p]
    out["lineage.records_written"] = len(jobs) / n_ops
    out["lineage.bytes_written"] = sum(jobs) / n_ops
    meta = sum(s for p, s in created.items() if "metadata/" in p and "metadata/jobs/" not in p)
    out["icemini.metadata_bytes_per_commit"] = meta / commits if commits else 0.0

    out.update(wl.layer_metrics())
    out.update(keybloom_direct(spark, wl.t))
    if wl.name == "bulk_maintain":
        out.update(spacecurves_direct(spark, wl.t, cores))

    out["trace.op_p50_s"] = _med(wl.primary("s"))
    out["trace.op_cpu_s"] = _med(wl.primary("cpu"))
    out["jvm.jit_core_s"] = sum(o["jit"] for o in ops) / n_ops
    out["trace.rows_per_s"] = sum(o["rows"] for o in ops) / max(sum(o["s"] for o in ops), 1e-9)
    out["trace.overhead_share"] = rec.overhead_s / max(sum(o["s"] for o in ops), 1e-9)
    out["trace.spans"] = len(win)
    return out


def spark_phases(wl, events: str, cores: int) -> dict[str, float]:
    log = spans.read_event_log(events)
    out = {f"spark.{op}.{m}": 0.0 for op in SPARK_OPS for m in spans.SPARK_METRICS}
    out.update(spans.spark_phases_by_op(log, wl.op_windows(), cores))
    return out
