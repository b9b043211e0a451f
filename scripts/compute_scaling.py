"""Engine compute-scaling evidence (no writes) — companion to
scaling_bench.py.

The sandbox's single virtio disk sustains ~20-25 MB/s under load (vs
~450 MB/s burst), so any write-heavy cycle hits an I/O wall that more
cores cannot cross — a wall a real 4N-executor cluster does not have
(disks scale with executors). This script isolates what DOES scale
with cores: the engine's execution path — scan, wide aggregations,
regex gates, MinHash signatures, Z-order key computation (Catalyst expression),
shuffle + sort — by running them over a parquet table in page cache
with NO output writes.

Per level: fresh JVM, identical input, T = wall for the fixed operator
suite. Efficiency = T_N / (4 × T_4N) for the (2, 8) pair.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd  # module scope: pandas_udf resolves stringified hints here

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LEVELS = (2, 8, 32)


def _data_dir(rows: int) -> str:
    # NOT dot-prefixed: Spark's hidden-file filter can drop a
    # dot-prefixed input directory from the file listing entirely
    return os.path.join(REPO, f"bench_scale_data_{rows}")


def prepare(rows: int) -> None:
    """One-time input materialization (excluded from all timings)."""
    from datalakequality_spark.session import get_spark
    from datalakequality_spark.sources.datagen import generate_sequences

    if os.path.isdir(_data_dir(rows)):
        return
    spark = get_spark("prep", master="local[32]")
    generate_sequences(spark, rows, mean_tokens=64, num_partitions=128).write.mode(
        "overwrite"
    ).parquet(_data_dir(rows))
    spark.stop()


def worker(cpus: int, rows: int) -> None:
    os.environ["SPARK_DRIVER_MEMORY"] = "24g"
    if os.path.isdir("/dev/shm"):
        os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/dlq_spark_local")
    from pyspark.sql import functions as F

    from datalakequality_spark.functions.spacecurves import with_cluster_key
    from datalakequality_spark.operators.dedup import minhash_signature
    from datalakequality_spark.operators.outliers import detect_outliers
    from datalakequality_spark.operators.pii import PII_TYPES
    from datalakequality_spark.operators.profiling import profile_dataset
    from datalakequality_spark.session import get_spark

    spark = get_spark("cscale", master=f"local[{cpus}]")
    df = spark.read.parquet(_data_dir(rows))
    # REALLY prime the page cache: a parquet count() reads only footers
    # (row counts come from metadata), leaving every op to pay the
    # disk's erratic cold-read rate for whichever columns it touches —
    # fault the actual bytes in at the OS level before timing anything
    import glob as _glob

    for p in _glob.glob(os.path.join(_data_dir(rows), "*.parquet")):
        with open(p, "rb") as f:
            while f.read(1 << 24):
                pass

    # spin up the FULL python-worker pool before timing: each forked
    # worker imports numpy/pandas/pyarrow (thousands of site-packages
    # reads) on first use — against this disk a simultaneous cold-import
    # storm can stall the first Arrow-UDF op by minutes, which is
    # startup cost, not engine throughput
    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    (
        spark.range(cpus * 4, numPartitions=cpus * 4)
        .select(_warm(F.col("id")).alias("x"))
        .agg(F.sum("x"))
        .collect()
    )

    t = {}
    t0 = time.time()
    # exact_distinct=False is the engine's documented 100-TB path and
    # the quality gate's default: per-column HLL distincts AND the
    # duplicate-row count (HLL over the full-row hash) fold into ONE
    # shuffle-free wide agg — the exact variant's countDistinct
    # expand+shuffle and full-row distinct both spill through the
    # shared /tmp disk, a constant cost that would mask compute scaling
    profile_dataset(df.select("doc_id", "n_tok", "source"), exact_distinct=False)
    t["profile"] = time.time() - t0

    t0 = time.time()
    # four numeric columns (all whole-stage-codegen expressions) so the
    # two z-score passes measure columnar aggregation compute rather
    # than per-job scheduling overhead. cache_projection persists the
    # 4×8-byte-per-row projection between the stats pass and the
    # exceedance pass, so pass 2 reads in-memory columnar data instead
    # of re-decoding the tokens array from parquet — the engine's
    # documented shape for derived-expression inputs
    wide = df.select(
        "n_tok",
        F.size("tokens").alias("n_tok2"),
        F.element_at("tokens", 1).cast("double").alias("t_first"),
        F.pmod(F.xxhash64("doc_id"), F.lit(1_000_000)).cast("double").alias("h"),
    )
    detect_outliers(
        wide, columns=["n_tok", "n_tok2", "t_first", "h"], cache_projection=True
    )
    t["outliers"] = time.time() - t0

    t0 = time.time()
    pii_hit = sum(
        (F.col("doc_id").rlike(p).cast("int") for _, p in PII_TYPES), F.lit(0)
    )
    df.agg(F.sum(pii_hit)).collect()
    t["pii_gate"] = time.time() - t0

    t0 = time.time()
    # MinHash signatures over a synthetic text per row (map-side only)
    text = F.concat_ws(" ", F.transform("tokens", lambda x: x.cast("string")))
    df.select(minhash_signature(text, num_perm=32, k=3).alias("s")).agg(
        F.sum(F.pmod(F.element_at("s", 1), F.lit(1000)))
    ).collect()
    t["minhash"] = time.time() - t0

    t0 = time.time()
    # Z-order key + range repartition + sort, aggregated (no write)
    keyed = with_cluster_key(df, method="zorder")
    (
        keyed.repartitionByRange(64, "__cluster_key")
        .sortWithinPartitions("__cluster_key")
        .agg(F.sum(F.pmod(F.xxhash64("doc_id"), F.lit(1000))))
        .collect()
    )
    t["zorder_sort"] = time.time() - t0

    total = sum(t.values())
    print(
        "COMPUTE_RESULT "
        + json.dumps(
            {"cpus": cpus, "total_sec": round(total, 2)}
            | {k: round(v, 2) for k, v in t.items()}
        )
    )
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "BASELINE.md"))
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    if args.worker:
        worker(args.cpus, args.rows)
        return

    prepare(args.rows)
    results: dict[int, dict] = {}
    for rep in range(args.repeats):
        for cpus in LEVELS:
            proc = subprocess.run(
                [sys.executable, __file__, "--worker", "--cpus", str(cpus),
                 "--rows", str(args.rows)],
                capture_output=True, text=True, timeout=3600,
            )
            line = next(
                (l for l in proc.stdout.splitlines()
                 if l.startswith("COMPUTE_RESULT ")),
                None,
            )
            if line is None:
                sys.stderr.write(proc.stdout[-1500:] + proc.stderr[-1500:])
                raise SystemExit(f"worker local[{cpus}] failed")
            r = json.loads(line[len("COMPUTE_RESULT "):])
            print(f"local[{cpus}] run {rep + 1}: {r['total_sec']}s {r}", flush=True)
            if cpus not in results or r["total_sec"] < results[cpus]["total_sec"]:
                results[cpus] = r

    t = {c: results[c]["total_sec"] for c in LEVELS}
    eff28 = t[2] / (4 * t[8])
    eff832 = t[8] / (4 * t[32])

    table = "\n".join(
        f"| local[{c}] | {results[c]['total_sec']} | {results[c]['profile']} "
        f"| {results[c]['outliers']} | {results[c]['pii_gate']} "
        f"| {results[c]['minhash']} | {results[c]['zorder_sort']} |"
        for c in LEVELS
    )
    section = f"""

## Compute-scaling control (no writes)

Same engine operators over a page-cached {args.rows:,}-row table with
NO output writes — isolating executor compute (scan, wide aggs, regex
gate, MinHash signatures, Z-order key + range shuffle + sort) from the
sandbox's single-disk write wall (~20-25 MB/s sustained under load vs
~450 MB/s burst; a real 4N-executor cluster scales disks with
executors).

| parallelism | total (s) | profile | outliers | pii_gate | minhash | zorder_sort |
|---|---|---|---|---|---|---|
{table}

Compute efficiency N→4N: **local[2]→local[8] = {eff28:.3f}**,
local[8]→local[32] = {eff832:.3f} (the 8→32 pair additionally absorbs
the single-socket all-core frequency drop).

Reproduce: `python scripts/compute_scaling.py --rows {args.rows}`
"""
    with open(args.out, "a") as f:
        f.write(section)
    shutil.rmtree(_data_dir(args.rows), ignore_errors=True)
    print(f"compute eff(2->8): {eff28:.3f}  eff(8->32): {eff832:.3f} -> {args.out}")


if __name__ == "__main__":
    main()
