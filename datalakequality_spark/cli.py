"""spark-submit entry point for the maintenance engine (north_rule:
"run via spark-submit --py-files on multi-executor clusters").

Package the library and submit any maintenance job against a table
root; every job prints ONE JSON result line (job_id inside) so
schedulers can script retries — re-submitting with the same --job-id
resumes from the per-partition lineage log instead of redoing work.
spark-submit takes a script (it has no -m module flag), so cluster
submissions go through the thin launcher scripts/dlq_cli.py:

    zip -r dlq.zip datalakequality_spark
    spark-submit --py-files dlq.zip scripts/dlq_cli.py \\
        rewrite --table hdfs://.../seqs --method hilbert --gate
    spark-submit --py-files dlq.zip scripts/dlq_cli.py \\
        merge --table .../seqs --source .../batch.parquet --job-id m-42
    spark-submit --py-files dlq.zip scripts/dlq_cli.py \\
        expire --table .../seqs --keep-last 3
    spark-submit --py-files dlq.zip scripts/dlq_cli.py \\
        delete --table .../seqs --where "source = 'contaminated'" \\
        --sources contaminated
    spark-submit --py-files dlq.zip scripts/dlq_cli.py \\
        rollback --table .../seqs --to-version 41
    spark-submit --py-files dlq.zip scripts/dlq_cli.py \\
        merge --table .../seqs --source .../cdc.parquet --mode merge_on_read
    spark-submit --py-files dlq.zip scripts/dlq_cli.py \\
        update --table .../seqs --where "source = 'weborig'" \\
        --set "source='web'"
    spark-submit --py-files dlq.zip scripts/dlq_cli.py \\
        compact-deletes --table .../seqs
    spark-submit --py-files dlq.zip scripts/dlq_cli.py \\
        changelog --table .../seqs --from-version 41 --out .../changes41

(`python -m datalakequality_spark.cli ...` runs the same jobs in local
mode; the bench and tests go through the same library entry points.)

Cluster sizing is spark-submit's job (--num-executors / dynamic
allocation); the engine only fixes per-job parallelism knobs
(--shuffle-partitions, defaulting to 2x the cluster's default
parallelism via session.get_spark).
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Any

from .session import get_spark
from .sources.icemini import IceMiniTable


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--table", required=True, help="table root path")
    p.add_argument("--job-id", default=None,
                   help="stable id: re-submit with the same id to resume "
                        "from the lineage checkpoint after a crash")
    p.add_argument("--master", default=None,
                   help="override master (default: env/local)")
    p.add_argument("--shuffle-partitions", type=int, default=None)


def _spark(args):
    return get_spark(
        "dlq-maintenance",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def main(argv: list[str] | None = None) -> dict[str, Any]:
    ap = argparse.ArgumentParser(prog="datalakequality_spark.cli")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("rewrite", help="fused bin-packing compaction + "
                       "space-curve clustering (one data pass)")
    _add_common(p)
    p.add_argument("--method", choices=("zorder", "hilbert"), default="zorder")
    p.add_argument("--target-rows", type=int, default=250_000,
                   help="rows per output file")
    p.add_argument("--gate", action="store_true",
                   help="run the per-file quality gate; failing files "
                        "are quarantined out of the rewrite")
    p.add_argument("--max-shard-rows", type=int, default=None,
                   help="rows per independently-committed rewrite shard "
                        "(default 64x target-rows; crash at shard k "
                        "resumes at k)")
    p.add_argument("--max-concurrent", type=int, default=4,
                   help="shards in flight at once (Iceberg's "
                        "max-concurrent-file-group-rewrites); 1 = "
                        "strictly serial")

    p = sub.add_parser("compact", help="bin-packing compaction only")
    _add_common(p)
    p.add_argument("--target-bytes", type=int, default=128 * 1024 * 1024)
    p.add_argument("--gate", action="store_true")

    p = sub.add_parser("cluster", help="space-curve clustering only")
    _add_common(p)
    p.add_argument("--method", choices=("zorder", "hilbert"), default="zorder")
    p.add_argument("--target-rows", type=int, default=250_000)

    p = sub.add_parser("merge", help="MERGE INTO (copy-on-write upsert "
                       "keyed on doc_id)")
    _add_common(p)
    p.add_argument("--source", required=True, help="parquet path of the "
                   "merge source batch")
    p.add_argument("--key", default="doc_id")
    p.add_argument("--salt-partitions", type=int, default=None,
                   help="pre-repartition the source by a salted key "
                        "(pathological source skew)")
    p.add_argument("--max-batch-files", type=int, default=256,
                   help="affected files per commit batch (partial "
                        "progress on giant merges; crash at batch k "
                        "resumes at k)")
    p.add_argument("--max-concurrent", type=int, default=4,
                   help="commit batches in flight at once; 1 = "
                        "strictly serial")
    p.add_argument("--mode", default="copy_on_write",
                   choices=("copy_on_write", "merge_on_read"),
                   help="merge_on_read commits equality deletes + appends "
                        "in ONE O(source)-bytes commit (no target rewrite)")
    p.add_argument("--merge-schema", action="store_true",
                   help="auto-add source columns the table lacks "
                        "(Iceberg merge-schema)")

    p = sub.add_parser("delete", help="DELETE FROM ... WHERE "
                       "(takedown/contamination removal)")
    _add_common(p)
    p.add_argument("--where", required=True, help="SQL predicate; matching "
                   "rows are removed")
    p.add_argument("--min-n-tok", type=int, default=None,
                   help="manifest-pruning envelope of the predicate")
    p.add_argument("--max-n-tok", type=int, default=None)
    p.add_argument("--sources", default=None,
                   help="comma-separated source pruning envelope")
    p.add_argument("--mode", default="copy_on_write",
                   choices=("copy_on_write", "merge_on_read"),
                   help="merge_on_read writes O(matched-keys) equality-"
                        "delete files instead of rewriting affected files")

    p = sub.add_parser("update", help="copy-on-write UPDATE ... SET ... "
                       "WHERE (predicate-addressed row edits)")
    _add_common(p)
    p.add_argument("--where", required=True, help="SQL predicate")
    p.add_argument("--set", required=True, action="append", dest="sets",
                   help="col=sql_expr assignment (repeatable)")
    p.add_argument("--min-n-tok", type=int, default=None)
    p.add_argument("--max-n-tok", type=int, default=None)
    p.add_argument("--sources", default=None)

    p = sub.add_parser("compact-deletes", help="consolidate the equality-"
                       "delete backlog (subsumption + Bloom-probed dead-key "
                       "drop and seq-lift; scan semantics unchanged)")
    _add_common(p)
    p.add_argument("--min-files", type=int, default=2,
                   help="skip when the backlog is smaller than this")

    p = sub.add_parser("expire", help="snapshot expiration + reachability GC")
    _add_common(p)
    p.add_argument("--keep-last", type=int, default=3)

    p = sub.add_parser("rollback", help="metadata-only rollback to an "
                       "earlier snapshot (history preserved)")
    _add_common(p)
    p.add_argument("--to-version", type=int, required=True)

    p = sub.add_parser("tag", help="create/drop/list snapshot tags "
                       "(tagged snapshots survive expire)")
    _add_common(p)
    p.add_argument("--name", default=None, help="tag to create")
    p.add_argument("--version", type=int, default=None,
                   help="snapshot to tag (default: current)")
    p.add_argument("--drop", default=None, help="tag to drop")

    p = sub.add_parser("changelog", help="CDC read: write the row-level "
                       "INSERT/DELETE diff over a snapshot range to parquet")
    _add_common(p)
    p.add_argument("--from-version", type=int, required=True,
                   help="exclusive lower bound (1 = full history)")
    p.add_argument("--to-version", type=int, default=None,
                   help="inclusive upper bound (default: current)")
    p.add_argument("--out", required=True,
                   help="output parquet directory for the change rows")

    p = sub.add_parser("gate", help="quality gate only: report (not "
                       "quarantine) per-file contract/PII/outlier verdicts")
    _add_common(p)

    args = ap.parse_args(argv)
    spark = _spark(args)
    table = IceMiniTable.load(spark, args.table)

    if args.cmd == "rewrite":
        from .maintenance.clustering import rewrite_sorted

        out = rewrite_sorted(
            table,
            method=args.method,
            target_rows_per_file=args.target_rows,
            job_id=args.job_id,
            quality_gate=args.gate,
            max_shard_rows=args.max_shard_rows,
            max_concurrent_shards=args.max_concurrent,
        )
    elif args.cmd == "compact":
        from .maintenance.compaction import compact_table

        out = compact_table(
            table,
            target_bytes=args.target_bytes,
            job_id=args.job_id,
            quality_gate=args.gate,
        )
    elif args.cmd == "cluster":
        from .maintenance.clustering import cluster_table

        out = cluster_table(
            table,
            method=args.method,
            target_rows_per_file=args.target_rows,
            job_id=args.job_id,
        )
    elif args.cmd == "merge":
        from .maintenance.merge import merge_into

        # --merge-schema must see the source's OWN columns (a fixed
        # table-schema read would drop the new ones before evolution)
        reader = (
            spark.read
            if args.merge_schema
            else spark.read.schema(table.schema())
        )
        source = reader.parquet(args.source)
        out = merge_into(
            table,
            source,
            key=args.key,
            salt_partitions=args.salt_partitions,
            job_id=args.job_id,
            max_batch_files=args.max_batch_files,
            max_concurrent_batches=args.max_concurrent,
            mode=args.mode,
            merge_schema=args.merge_schema,
        )
    elif args.cmd == "delete":
        from .maintenance.merge import delete_where

        out = delete_where(
            table,
            args.where,
            job_id=args.job_id,
            min_n_tok=args.min_n_tok,
            max_n_tok=args.max_n_tok,
            sources=args.sources.split(",") if args.sources else None,
            mode=args.mode,
        )
    elif args.cmd == "update":
        from .maintenance.merge import update_where

        assignments = {}
        for a in args.sets:
            col, _, expr = a.partition("=")
            if not _:
                raise SystemExit(f"--set expects col=sql_expr, got {a!r}")
            assignments[col.strip()] = expr
        out = update_where(
            table,
            args.where,
            assignments,
            job_id=args.job_id,
            min_n_tok=args.min_n_tok,
            max_n_tok=args.max_n_tok,
            sources=args.sources.split(",") if args.sources else None,
        )
    elif args.cmd == "compact-deletes":
        from .maintenance.compaction import compact_delete_files

        out = compact_delete_files(
            table, job_id=args.job_id, min_files=args.min_files
        )
    elif args.cmd == "expire":
        out = table.expire_snapshots(keep_last=args.keep_last)
    elif args.cmd == "rollback":
        snap = table.rollback_to(args.to_version)
        out = {
            "snapshot_id": snap.snapshot_id,
            "rolled_back_to": args.to_version,
            "total_rows": snap.summary.get("total_rows"),
            "total_files": snap.summary.get("total_files"),
        }
    elif args.cmd == "tag":
        if args.drop:
            table.drop_tag(args.drop)
        elif args.name:
            table.create_tag(args.name, args.version)
        out = {"tags": table.tags()}
    elif args.cmd == "changelog":
        ch = table.changelog_scan(args.from_version, args.to_version)
        ch.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        out = {
            "from_version": args.from_version,
            "to_version": args.to_version
            if args.to_version is not None
            else table.current_version(),
            "out": args.out,
            "inserts": written.where("_change_type = 'INSERT'").count(),
            "deletes": written.where("_change_type = 'DELETE'").count(),
        }
    elif args.cmd == "gate":
        from .plans.quality_gate import gate_entries

        entries = table.live_entries()
        quarantine = gate_entries(table, entries)
        out = {
            "files": len(entries),
            "clean_files": len(entries) - len(quarantine),
            "quarantine": quarantine,
        }
    else:  # pragma: no cover - argparse enforces choices
        raise SystemExit(f"unknown cmd {args.cmd}")

    print(json.dumps(out, default=str))
    return out


if __name__ == "__main__":
    main(sys.argv[1:])
