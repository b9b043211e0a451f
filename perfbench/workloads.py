"""The closed-loop, single-client workloads of the benchmark.

Each workload builds a template table from ``sources.datagen`` with the
run's seed and warms up untimed. The window then runs whole rounds of
its op mix back to back until it closes. Every round runs on a fresh
copy of the template, so a round does the same work however many rounds
fit in the window. Every op's output is checked against a content hash
computed independently with plain Spark from the generator (last writer
wins per ``doc_id``; rows of quarantined files removed), so a wrong
answer is counted as a failed op, never skipped.

- ``bulk_maintain``: the paper's maintenance cycle (Z-order
  ``rewrite_sorted`` with the quality gate, bulk copy-on-write
  ``merge_into``, ``expire_snapshots``) on a fresh small-files table,
  then a training read of the maintained table. The Spark data plane
  dominates; metadata is a few hundred entries.
- ``trickle_upsert``: merge-on-read upsert epochs through
  ``IceMiniUpsertSink`` and a 20-key copy-on-write point merge on a
  table of 500 small files, then the training reads of that
  table and its delete backlog: full scan, pruned scan and changelog
  scan. Each write moves only kilobytes, so per-op Spark and Python-UDF
  task cost dominates; metadata commits are a few percent of an epoch.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from collections import Counter
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalakequality_spark.maintenance import compaction
from datalakequality_spark.maintenance import merge as merge_mod
from datalakequality_spark.maintenance.clustering import rewrite_sorted
from datalakequality_spark.sources.datagen import SOURCES, generate_merge_batch, generate_sequences
from datalakequality_spark.sources.icemini import IceMiniTable
from datalakequality_spark.streaming.ingest import IceMiniUpsertSink

from procstats import cpu_between, cpu_sample
from spans import Recorder

COLS = ["doc_id", "tokens", "n_tok", "source"]


def row_hash() -> F.Column:
    """The content hash of one row; summed over a table it is the
    table's content hash."""
    return F.pmod(F.xxhash64(*COLS), F.lit(2**31))


# Input sizes per workload. "full" is what the benchmark measures;
# "tiny" is for the smoke tests only. They are bounded by the time
# budget of a comparison: 4 + 22 runs per workload within 3,420 s, so
# about a minute per run at local[4], set-up included.
SIZES: dict[str, dict[str, dict[str, int]]] = {
    "bulk_maintain": {
        "full": {"rows": 30_000, "mean_tokens": 64, "files": 160},
        "tiny": {"rows": 2_000, "mean_tokens": 16, "files": 8},
    },
    "trickle_upsert": {
        # per epoch ~epoch_rows/2 updates of existing ids + as many
        # inserts; merge_keys existing ids per point merge; one round is
        # merge_every epochs then one point merge
        "full": {"rows": 10_000, "mean_tokens": 16, "files": 500,
                 "epoch_rows": 200, "merge_keys": 20, "merge_every": 8},
        "tiny": {"rows": 2_000, "mean_tokens": 8, "files": 50,
                 "epoch_rows": 40, "merge_keys": 5, "merge_every": 2},
    },
}
# the pruned training read: n_tok range and source list
PRUNE_NTOK = (40, 8192)
PRUNE_SOURCES = SOURCES[:10]


def content(df: DataFrame) -> tuple[int, int]:
    """(rows, content hash) in one Spark job."""
    r = df.agg(F.count(F.lit(1)), F.sum(row_hash())).collect()[0]
    return int(r[0]), int(r[1] or 0)


def hashed(df: DataFrame, op: int | None = None) -> pd.DataFrame:
    """doc_id, n_tok, source and row hash of every row, on the driver,
    with the op sequence number in ``op`` (taken from an ``__op`` column
    when ``op`` is None). The hash is Spark's, so it matches the
    table's content hash exactly."""
    opcol = F.col("__op") if op is None else F.lit(op)
    return df.select("doc_id", "n_tok", "source", row_hash().alias("h"), opcol.alias("op")).toPandas()


def latest(rows: pd.DataFrame) -> pd.DataFrame:
    """Last writer wins per doc_id: the row of the highest op."""
    return rows.sort_values("op", kind="stable").drop_duplicates("doc_id", keep="last")


def summary(rows: pd.DataFrame) -> tuple[int, int]:
    return len(rows), int(rows["h"].sum())


def pruned(rows: pd.DataFrame) -> pd.DataFrame:
    """The rows the pruned training read must return."""
    lo, hi = PRUNE_NTOK
    return rows[rows["n_tok"].between(lo, hi) & rows["source"].isin(PRUNE_SOURCES)]


def with_op_column(schema: T.StructType) -> T.StructType:
    """``schema`` plus the ``__op`` sequence column (a new object: the
    table may hand out a shared schema instance)."""
    return T.StructType([*schema.fields, T.StructField("__op", T.LongType())])


def tree_sizes(root: str) -> dict[str, int]:
    """{relative path: bytes} of every regular file under ``root``."""
    out: dict[str, int] = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # a temp renamed away mid-walk
    return out


def fanout_build(spark: SparkSession, t: IceMiniTable, df: DataFrame, files: int, cores: int, seed: int) -> None:
    """Write ``df`` as ~``files`` small files (rows spread by a hash of
    doc_id, so every file spans the whole key range) with one fanout
    ``write_data_files`` and one commit."""
    bucketed = (
        df.withColumn("__b", F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(files)).cast("int"))
        .repartition(cores, "__b")
        .sortWithinPartitions("__b")
    )
    t.commit("append", added=t.write_data_files(bucketed, split_col="__b"))


class OpLog:
    """Timed ops of one run: kind, window, wall seconds (``s``), CPU
    seconds of the whole process tree (``cpu``), the part of them the
    JVM spent on JIT compilation (``jit``) and rows processed."""

    def __init__(self) -> None:
        self.ops: list[dict[str, Any]] = []
        self.attempted = 0  # timed ops started plus checks made
        self.failed = 0  # ops that raised plus checks that did not hold
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def times(self, kind: str, key: str = "s") -> list[float]:
        return [o[key] for o in self.ops if o["kind"] == kind]

    def windows(self, kind: str) -> list[tuple[float, float]]:
        return [(o["t0"], o["t1"]) for o in self.ops if o["kind"] == kind]


class Workload:
    """One run of a workload: set-up, the measured window, the checks."""

    name = ""
    SPARK_OPS: tuple[str, ...] = ()  # op kinds whose Spark jobs are reported

    def __init__(self, spark: SparkSession, work: str, seed: int, cores: int,
                 rec: Recorder, size: str = "full"):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.rec = rec
        self.jvm = spark.sparkContext._gateway.proc.pid
        self.sz = SIZES[self.name][size]
        self.log = OpLog()
        self.timing = False  # True inside the measured window
        self.layer: dict[str, float] = {}  # per-layer values set during the run
        self.created: dict[str, int] = {}  # files made by timed ops -> bytes
        self.rounds: list[dict[str, Any]] = []  # one record per timed round
        self.round_no = 0
        self.t: IceMiniTable | None = None  # the current round's table

    def timed(self, kind: str, fn: Callable[[], Any], rows: int | Callable[[Any], int] = 0) -> Any:
        """Run one op; inside the window it is recorded and counted.
        ``rows`` is the rows it processed, or a function of its result
        that gives them."""
        if not self.timing:
            t0 = time.time()
            with self.rec.op(kind):
                out = fn()
            print(f"perfbench: warm-up {kind} {time.time() - t0:.3f}s", file=sys.stderr)
            return out
        self.log.attempted += 1
        c0 = cpu_sample(os.getpid(), self.jvm)
        t0 = time.time()
        try:
            with self.rec.op(kind):
                out = fn()
        except Exception as e:  # noqa: BLE001 — an op failure is a result
            self.log.fail(f"{kind} raised {type(e).__name__}: {e}")
            e.counted = True
            raise
        t1 = time.time()
        cpu, jit = cpu_between(c0, cpu_sample(os.getpid(), self.jvm))
        n = rows(out) if callable(rows) else rows
        self.log.ops.append({"kind": kind, "t0": t0, "t1": t1, "s": t1 - t0, "cpu": cpu, "jit": jit, "rows": n})
        print(f"perfbench: {kind} {t1 - t0:.3f}s {cpu:.2f} core-s (JIT {jit:.2f})", file=sys.stderr)
        return out

    def expect(self, what: str, got: Any, want: Any) -> None:
        """A correctness check; a mismatch is one failure."""
        self.log.attempted += 1
        if got != want:
            self.log.fail(f"{what}: got {got}, expected {want}")

    def read(self, kind: str, plan: Callable[[], DataFrame], action: Callable[[DataFrame], Any],
             rows: Callable[[Any], int]) -> Any:
        """A timed read: ``plan`` returns the DataFrame (icemini's scan
        planning, spanned by its wrappers), ``action`` runs it."""
        def op():
            df = plan()
            with self.rec.span("icemini.scan_exec"):
                return action(df)
        return self.timed(kind, op, rows=rows)

    def read_full(self, t: IceMiniTable, want: tuple[int, int]) -> None:
        """The training read: a full-scan content hash, checked."""
        got = self.read("scan_full", t.scan, content, rows=lambda r: r[0])
        self.expect("full scan (rows, hash)", got, want)

    def check_table(self, t: IceMiniTable, what: str) -> None:
        """doc_id is unique and every live data file has its sidecar."""
        r = t.scan().agg(F.count(F.lit(1)), F.countDistinct("doc_id")).collect()[0]
        self.expect(f"{what}: distinct doc_ids vs rows", r[1], r[0])
        missing = [
            e.path for e in t.live_entries()
            if not e.key_bloom or not os.path.isfile(os.path.join(t.root, e.key_bloom))
        ]
        self.expect(f"{what}: live files without a Bloom sidecar", missing[:3], [])

    def fresh_copy(self) -> IceMiniTable:
        """A new copy of the template for the next round; the previous
        round's table is removed."""
        if self.t is not None:
            shutil.rmtree(self.t.root)
        self.round_no += 1
        root = os.path.join(self.work, f"round-{self.round_no}")
        shutil.copytree(self.template.root, root)
        self.t = IceMiniTable.load(self.spark, root)
        return self.t

    def run(self, seconds: float) -> None:
        """The closed loop: whole rounds of the op mix back to back until
        ``seconds`` have passed. An exception ends the loop (the table
        state is then unknown) and counts as a failure."""
        self.timing = True
        end = time.time() + seconds
        try:
            while True:
                self.round()
                if time.time() >= end:
                    break
        except Exception as e:  # noqa: BLE001 — reported, not raised
            if not getattr(e, "counted", False):
                self.log.fail(f"{type(e).__name__}: {e}")
        self.timing = False
        ops = self.log.ops
        self.window = (ops[0]["t0"], ops[-1]["t1"]) if ops else (0.0, 0.0)

    def op_windows(self) -> dict[str, list[tuple[float, float]]]:
        return {k: self.log.windows(k) for k in self.SPARK_OPS}

    def space_amp(self, t: IceMiniTable) -> float:
        """Bytes under the table root ÷ live data-file bytes."""
        return sum(tree_sizes(t.root).values()) / sum(e.size_bytes for e in t.live_entries())

    def metrics(self) -> dict[str, float]:
        """The end-to-end metrics. They count CPU seconds, not wall time:
        on a shared host, steal makes one run's wall times up to twice
        another's, while the kernel leaves steal out of CPU time.
        ``op_cpu_s`` is the median cost of the workload's primary op;
        ``rows_per_core_s`` covers every timed op of the window, reads
        included, so a cost moved from writes onto reads shows."""
        ops = self.log.ops
        return {
            "op_cpu_s": statistics.median(self.primary("cpu")),
            "rows_per_core_s": sum(o["rows"] for o in ops) / sum(o["cpu"] for o in ops),
            "space_amp": statistics.median(r["space_amp"] for r in self.rounds),
        }

    # Subclasses provide setup() (which builds ``template``), round(),
    # primary(key) (one value of op log ``key`` per primary op: "s" or
    # "cpu") and layer_metrics() (the op-level per-layer metrics).


def created_between(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    return {p: s for p, s in after.items() if p not in before}


def write_amp(created: dict[str, int], t: IceMiniTable) -> float:
    """Bytes of files the ops created ÷ bytes of the live data files
    among them."""
    live_new = sum(e.size_bytes for e in t.live_entries() if e.path in created)
    return sum(created.values()) / max(live_new, 1)


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class BulkMaintain(Workload):
    """Maintenance cycle on a fresh small-files table, then a training
    read of the maintained table."""

    name = "bulk_maintain"
    SPARK_OPS = ("rewrite", "merge_cow", "scan_full")
    READS = 3  # the maintained table is small: a median of three reads
    # A fresh JVM runs its first cycle 1.5-2x slower; two warm-up rounds
    # keep that out of the window (the JIT still compiles ~3 core-s a
    # cycle after them, on a 4-CPU host)
    WARMUP_ROUNDS = 2

    def setup(self) -> None:
        sz = self.sz
        t0 = time.time()
        self.template = IceMiniTable.create(self.spark, os.path.join(self.work, "template"))
        base = generate_sequences(self.spark, sz["rows"], mean_tokens=sz["mean_tokens"], seed=self.seed)
        fanout_build(self.spark, self.template, base, sz["files"], self.cores, self.seed)
        # the MERGE source (10% updates + 10% inserts) exists as data
        # before the window, as a real merge source would: persisted
        self.src = generate_merge_batch(
            self.spark, sz["rows"], insert_rows=sz["rows"] // 10, mean_tokens=sz["mean_tokens"], seed=self.seed
        ).persist()
        self.src_rows = self.src.count()
        self.layer["datagen.build_s"] = time.time() - t0
        self.template_rows = self.template.snapshot().summary["total_rows"]
        self.target_rows = max(sz["rows"] // 8, 250)
        # which template files the gate quarantines, straight from the
        # gate: every rewrite must quarantine exactly these
        _, q = compaction.gate_batch(self.template, [self.template.live_entries()], None)
        self.quarantined = sorted(r["path"] for r in q)
        if self.quarantined:
            bad = self.spark.read.schema(base.schema).parquet(
                *[os.path.join(self.template.root, p) for p in self.quarantined]).select("doc_id")
            base = base.join(bad, "doc_id", "left_anti")
        self.want = summary(latest(pd.concat([hashed(base, 0), hashed(self.src, 1)])))
        for _ in range(self.WARMUP_ROUNDS):
            self.round()

    def round(self) -> None:
        """One maintenance cycle on a fresh copy of the template, then
        full-scan reads of the result."""
        t = self.fresh_copy()
        fs = [tree_sizes(t.root)]
        rw = self.timed("rewrite", lambda: rewrite_sorted(
            t, method="zorder", target_rows_per_file=self.target_rows, quality_gate=True),
            rows=self.template_rows)
        quarantined = sorted(q["path"] for s in t.snapshots() for q in s.quarantine)
        fs.append(tree_sizes(t.root))
        mg = self.timed("merge_cow", lambda: merge_mod.merge_into(t, self.src), rows=self.src_rows)
        fs.append(tree_sizes(t.root))
        self.timed("expire", lambda: t.expire_snapshots(keep_last=1))
        fs.append(tree_sizes(t.root))
        for _ in range(self.READS):
            self.read_full(t, self.want)
        self.expect("quarantined files", quarantined, self.quarantined)
        self.check_table(t, f"round {self.round_no}")
        if not self.timing:
            return
        created: dict[str, int] = {}
        for a, b in zip(fs, fs[1:]):
            created.update(created_between(a, b))
        self.created.update({f"{self.round_no}/{p}": s for p, s in created.items()})
        self.rounds.append({
            "rows": t.snapshot().summary["total_rows"],
            "write_amp": write_amp(created, t),
            "space_amp": self.space_amp(t),
            "rewrite": rw,
            "merge": mg,
        })

    def primary(self, key: str) -> list[float]:
        """The cycle: rewrite + merge + expire. Live rows after the
        cycle ÷ its wall time is the paper's sequences/s."""
        parts = [self.log.times(k, key) for k in ("rewrite", "merge_cow", "expire")]
        return [sum(p[i] for p in parts) for i in range(len(self.rounds))]

    def layer_metrics(self) -> dict[str, float]:
        from layers import table_stats

        rw = [r["rewrite"] for r in self.rounds]
        mg = [r["merge"] for r in self.rounds]
        out_files = sum(r["new_files"] for r in rw)
        return {
            "scan_full_s": _med(self.log.times("scan_full")),
            "rewrite_s": _med(self.log.times("rewrite")),
            "merge_cow_s": _med(self.log.times("merge_cow")),
            "write_amp": _med([r["write_amp"] for r in self.rounds]),
            "clustering.rewrite_tasks": _med([r["tasks"] for r in rw]),
            "clustering.output_files": _med([r["new_files"] for r in rw]),
            "clustering.rows_per_output_file": sum(r["rows"] for r in self.rounds) / max(out_files, 1),
            "merge.files_rewritten": _med([len(m["input_files"]) for m in mg]),
            "merge.rows_rewritten_per_source_row": _med([m["rows"] / self.src_rows for m in mg]),
            **table_stats(self.t, tree_sizes(self.t.root)),
        }


def epoch_batches(spark: SparkSession, rows: int, epoch_rows: int, epochs: int,
                  seed: int, mean_tokens: float) -> Any:
    """Pre-generated upsert epochs as one pandas frame with an ``__e``
    column: ~epoch_rows/2 updates (rev=1) of existing ids and
    ~epoch_rows/2 inserts of new ids per epoch, assigned by hash. An id
    is updated by at most one epoch."""
    half = max(1, epoch_rows // 2)
    upd = generate_sequences(spark, rows, rev=1, seed=seed, mean_tokens=mean_tokens).withColumn(
        "__e", F.pmod(F.xxhash64("doc_id", F.lit(seed), F.lit("upd")), F.lit(max(rows // half, 1)))
    ).where(F.col("__e") < epochs)
    ins = generate_sequences(spark, epochs * half, start_id=rows, seed=seed, mean_tokens=mean_tokens).withColumn(
        "__e", F.pmod(F.xxhash64("doc_id", F.lit(seed), F.lit("ins")), F.lit(epochs))
    )
    return upd.unionByName(ins).toPandas()


class TrickleUpsert(Workload):
    """Streaming CDC between compactions, and its readers. A round runs
    upsert epochs through the merge-on-read sink and one copy-on-write
    point merge, then full, pruned and changelog reads of the table."""

    name = "trickle_upsert"
    SPARK_OPS = ("upsert", "point_merge", "scan_full", "scan_pruned", "changelog")
    READS = 1  # full-scan reads per round
    # the changelog read covers the last epoch and the point merge: a
    # merge-on-read commit's changelog reads every file the delete
    # reaches, so each commit in range costs about a full scan
    CHANGELOG_COMMITS = 2
    # epochs applied to the template in set-up: the first epochs of a
    # fresh JVM cost 20-40% more CPU than the sixth
    WARMUP_EPOCHS = 2

    def setup(self) -> None:
        sz = self.sz
        self.template = IceMiniTable.create(self.spark, os.path.join(self.work, "template"))
        base = generate_sequences(self.spark, sz["rows"], mean_tokens=sz["mean_tokens"], seed=self.seed)
        t0 = time.time()
        fanout_build(self.spark, self.template, base, sz["files"], self.cores, self.seed)
        base_h = hashed(base, 0)
        # epochs 0..WARMUP_EPOCHS-1 are applied to the template; every
        # round applies the next merge_every epochs, then the point merge
        self.n_epochs = self.WARMUP_EPOCHS + sz["merge_every"]
        self.epochs = epoch_batches(self.spark, sz["rows"], sz["epoch_rows"], self.n_epochs,
                                    self.seed, sz["mean_tokens"])
        # the point-merge source: ~merge_keys existing ids, rev=2; an id
        # may also be in an epoch, so commit order decides the winner
        self.merge_src = generate_sequences(
            self.spark, sz["rows"], rev=2, seed=self.seed, mean_tokens=sz["mean_tokens"]
        ).where(
            F.pmod(F.xxhash64("doc_id", F.lit(self.seed), F.lit("pm")),
                   F.lit(max(sz["rows"] // sz["merge_keys"], 1))) == 0
        ).toPandas()
        self.layer["datagen.build_s"] = time.time() - t0
        self._warm_up()
        self._expected(base_h)

    def _epoch_rows(self, e: int) -> pd.DataFrame:
        return self.epochs[self.epochs["__e"] == e]

    def _warm_up(self) -> None:
        """Ops of each kind. The warm-up epochs and a full read run on
        the template; the point merge, the pruned read and the changelog
        read run on a small side table (same plans and code paths; a
        point merge on the full table costs several seconds)."""
        sz = self.sz
        sink = IceMiniUpsertSink(self.template)
        for e in range(self.WARMUP_EPOCHS):
            sink(self._frame(self._epoch_rows(e)), e)
        content(self.template.scan())
        side = IceMiniTable.create(self.spark, os.path.join(self.work, "warmup"))
        fanout_build(self.spark, side, generate_sequences(
            self.spark, 40 * sz["merge_keys"], mean_tokens=sz["mean_tokens"], seed=self.seed),
            8, self.cores, self.seed)
        v = side.current_version()
        merge_mod.merge_into(side, generate_sequences(
            self.spark, sz["merge_keys"], rev=2, mean_tokens=sz["mean_tokens"], seed=self.seed))
        content(self._pruned_scan(side).where(_pruned_filter()))
        self._by_change_type(side.changelog_scan(v))
        shutil.rmtree(side.root)

    def _frame(self, pdf: pd.DataFrame) -> DataFrame:
        return self.spark.createDataFrame(pdf[COLS], schema=self.template.schema())

    def round(self) -> None:
        """Epochs and a point merge on a fresh copy of the template, then
        the training reads of the table they leave, all checked."""
        t = self.fresh_copy()
        sink = IceMiniUpsertSink(t)
        # epoch 0 is in the template: this call only loads the sink's
        # committed epochs, so no timed epoch pays for that
        sink(self._frame(self._epoch_rows(0)), 0)
        before = tree_sizes(t.root)
        for e in range(self.WARMUP_EPOCHS, self.n_epochs):
            pdf = self._epoch_rows(e)
            df = self._frame(pdf)
            self.timed("upsert", lambda: sink(df, e), rows=len(pdf))
        df = self._frame(self.merge_src)
        res = self.timed("point_merge", lambda: merge_mod.merge_into(t, df), rows=len(self.merge_src))
        if self.timing:
            self.log.ops[-1]["useful"] = (res["matched_files"], res["discovery"].get("candidates_bloom", 0))
        created = created_between(before, tree_sizes(t.root))

        for _ in range(self.READS):
            self.read_full(t, self.want_full)
        got = self.read("scan_pruned", lambda: self._pruned_scan(t),
                        lambda df: content(df.where(_pruned_filter())), rows=lambda r: r[0])
        self.expect("pruned scan (rows, hash)", got, self.want_pruned)
        v_from = t.current_version() - self.CHANGELOG_COMMITS
        got = self.read("changelog", lambda: t.changelog_scan(v_from), self._by_change_type,
                        rows=lambda r: sum(n for n, _ in r.values()))
        self.expect("changelog (rows, hash) by change type", got, self.want_changelog)

        self.check_table(t, f"round {self.round_no}")
        seen = Counter(s.summary["epoch_id"] for s in t.snapshots() if "epoch_id" in s.summary)
        self.expect("epoch ids in snapshot summaries", dict(seen),
                    {e: 1 for e in range(self.n_epochs)})
        if not self.timing:
            return
        self.created.update({f"{self.round_no}/{p}": s for p, s in created.items()})
        self.rounds.append({
            "space_amp": self.space_amp(t),
            "write_amp": write_amp(created, t),
            "merge": {**res, "source_rows": len(self.merge_src)},
        })

    @staticmethod
    def _pruned_scan(t: IceMiniTable) -> DataFrame:
        """Manifest pruning on the stats; the caller applies the filter."""
        lo, hi = PRUNE_NTOK
        return t.scan(min_n_tok=lo, max_n_tok=hi, sources=list(PRUNE_SOURCES))

    @staticmethod
    def _by_change_type(df: DataFrame) -> dict[str, tuple[int, int]]:
        rows = df.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum(row_hash()).alias("h")).collect()
        return {r["_change_type"]: (int(r["n"]), int(r["h"] or 0)) for r in rows}

    def _expected(self, base_h: pd.DataFrame) -> None:
        """The state a round leaves, its pruned part and the changelog of
        its last commits, from the generator: every applied row is an
        INSERT, the version it replaced (if any) a DELETE."""
        applied = [self._epoch_rows(e) for e in range(self.n_epochs)] + [self.merge_src]
        ch = pd.concat([p[COLS].assign(__op=i + 1) for i, p in enumerate(applied)], ignore_index=True)
        changes = hashed(self.spark.createDataFrame(ch, schema=with_op_column(self.template.schema())))
        rows = pd.concat([base_h, changes], ignore_index=True).sort_values(["doc_id", "op"], kind="stable")
        final = latest(rows)
        self.want_full = summary(final)
        self.want_pruned = summary(pruned(final))
        prev = rows.groupby("doc_id")["h"].shift(1)
        in_window = rows["op"] > len(applied) - self.CHANGELOG_COMMITS
        replaced = rows[in_window & prev.notna()]
        self.want_changelog = {
            "INSERT": summary(rows[in_window]),
            "DELETE": (len(replaced), int(prev[replaced.index].sum())),
        }

    def primary(self, key: str) -> list[float]:
        return self.log.times("upsert", key)

    def layer_metrics(self) -> dict[str, float]:
        from layers import table_stats

        ups = sorted(self.log.times("upsert"))
        mg = [r["merge"] for r in self.rounds]
        return {
            "scan_full_s": _med(self.log.times("scan_full")),
            "upsert_p50_s": _med(ups),
            # too few epochs per run for a percentile with ten samples
            # beyond it: the run's slowest epoch
            "upsert_tail_s": ups[-1] if ups else 0.0,
            "upsert_samples": len(ups),
            "point_merge_s": _med(self.log.times("point_merge")),
            "scan_pruned_s": _med(self.log.times("scan_pruned")),
            "changelog_s": _med(self.log.times("changelog")),
            "write_amp": _med([r["write_amp"] for r in self.rounds]),
            "merge.files_rewritten": _med([len(m["input_files"]) for m in mg]),
            "merge.rows_rewritten_per_source_row": _med([m["rows"] / max(m["source_rows"], 1) for m in mg]),
            **table_stats(self.t, tree_sizes(self.t.root)),
        }


def _pruned_filter() -> F.Column:
    lo, hi = PRUNE_NTOK
    return F.col("n_tok").between(lo, hi) & F.col("source").isin(*PRUNE_SOURCES)


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (BulkMaintain, TrickleUpsert)}
