"""Layered benchmark for datalakequality_spark.

    python3 perfbench/run.py --workload bulk_maintain --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. It starts Spark at ``local[<cpus>]``,
builds the workload's table from the seed, warms up, runs the closed
loop for ``--seconds``, checks every result, and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the package's public
entry points with spans, turns on the Spark event log and reports the
per-layer metrics instead. Everything it writes goes under
``.perfbench_work/`` in the checkout and is removed at exit. Flush
policy: no fsync anywhere; files live in the page cache of the
checkout's filesystem.

Environment: ``SPARK_DRIVER_MEMORY`` (default 3g here), ``PERFBENCH_SIZE``
(``full``; ``tiny`` is for the smoke tests).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

from procstats import cpu_count, descendants, host_stats, not_zombie, peak_rss_mb, proc_stat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process this run
    started has exited."""
    sc = spark.sparkContext
    gw = sc._gateway
    procs = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None and proc.poll() is None:
            proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 — fall through to the kill
                proc.kill()
                proc.wait()
        deadline = time.time() + 20
        while procs and time.time() < deadline:
            procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for p in procs:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while any(os.path.exists(f"/proc/{p}") and not_zombie(p) for p in procs):
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's own package, never an
    # installed copy
    if not os.path.isfile(os.path.join(ROOT, "datalakequality_spark", "__init__.py")):
        print(f"datalakequality_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )  # python workers import the package too

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a TERM (e.g. a caller's timeout) unwinds through the finally
    # blocks below: Spark and its processes stop, the work dir goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still in it


def run(args, work: str) -> int:
    cpus = cpu_count()
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    events = os.path.join(work, "events")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    import layers
    import spans
    from workloads import WORKLOADS

    stat0 = proc_stat()
    rec = spans.Recorder(enabled=bool(args.trace))
    if args.trace:
        layers.install(rec)
    t0 = time.time()
    from datalakequality_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    try:
        t1 = time.time()
        layers.warm_python_workers(spark, cpus)
        t2 = time.time()
        wl = WORKLOADS[args.workload](
            spark, work, args.seed, cpus, rec, os.environ.get("PERFBENCH_SIZE", "full")
        )
        wl.setup()
        t3 = time.time()
        setup_s = t3 - t0
        wl.run(args.seconds)
        print(f"perfbench: session {t1 - t0:.2f}s warm {t2 - t1:.2f}s build+warm-up ops "
              f"{t3 - t2:.2f}s window {time.time() - t3:.2f}s rounds {len(wl.rounds)}",
              file=sys.stderr)
        # metrics only from a run whose every op and check succeeded
        ok = wl.log.failed == 0 and bool(wl.log.ops)
        if ok and args.trace:
            jvm = spark.sparkContext._gateway.proc
            per_layer = layers.collect(wl, rec, spark, cpus)
            per_layer.update({"session.start_s": t1 - t0, "session.warm_s": t2 - t1,
                              "peak_rss_mb": peak_rss_mb([os.getpid(), jvm.pid])})
        elif ok:
            e2e = {"setup_s": setup_s, **wl.metrics()}
    finally:
        stop_spark(spark)
        rec.restore()

    host = host_stats(stat0)
    print(json.dumps({"host": host, "ops": len(wl.log.ops), "errors": wl.log.errors[:5]}))
    metrics: dict[str, float] = {}
    if ok and args.trace:
        per_layer.update(layers.spark_phases(wl, events, cpus))
        per_layer.update(host)
        per_layer["failed_op_ratio"] = wl.log.failed / wl.log.attempted
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        rec.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))
        metrics = per_layer
    elif ok:
        metrics = e2e
    print(json.dumps({
        "correct": ok,
        "attempted": wl.log.attempted,
        "failed": wl.log.failed,
        "metrics": {k: {"value": float(v), "unit": layers.unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
