"""datalakequality_spark — PySpark-native table-maintenance + data-quality engine.

A from-scratch re-expression of the capabilities of
``shobith-s/DataLakeQuality`` (reference snapshot at /root/reference) on
Apache Spark, extended with the table-maintenance layer required for
Iceberg-style tables of pre-tokenized training sequences at 10^12-row
scale:

- ``operators/``   — quality kernels (profiling, contracts, PII, outliers,
  drift/PSI, schema-change, scoring, autofix) plus training-data-pipeline
  operators (dedup, similarity search, text analysis, context chunking,
  sessionization, as-of join, multimodal plumbing).
- ``sources/``     — the "IceMini" table format (Parquet data files + JSON
  manifests/snapshots + atomic version pointer; time travel, incremental
  append-range scans, metadata-only rollback, add/drop-column schema
  evolution, snapshots/files metadata tables), the IVF ANN index
  (cell-clustered embedding layout with manifest file pruning +
  trained spherical-k-means codebook), deterministic synthetic
  sequence generation, and cross-run state (contracts/baselines/history).
- ``maintenance/`` — bin-packing compaction, Z-order/Hilbert clustering,
  a fused one-pass sorted rewrite (compact+cluster) sharded into
  independently-committed, crash-resumable tasks, MERGE INTO
  (copy-on-write, batched commits for partial progress), snapshot
  expiration with reachability GC, per-partition lineage log + resume.
- ``plans/``       — orchestration (quality-gate pipeline mirroring the
  reference's run order, maintenance job planner).
- ``functions/``   — reusable column expressions (z-order keys, hashes,
  text metrics) and report narration.
- ``streaming/``   — Structured Streaming ingest into IceMini tables,
  watermarked window aggregation, stateful sessionization
  (applyInPandasWithState).

Everything is DataFrame/SQL-first: Catalyst owns the physical plan, Python
touches data only through Arrow-vectorized pandas UDFs.
"""

__version__ = "0.1.0"

from pyspark.core.files import SparkFiles as _SparkFiles

if _SparkFiles._is_running_on_worker:
    # a Python worker pays for every task's importlib.invalidate_caches()
    # with a re-read of each zip on sys.path (zipdirs.py)
    from . import zipdirs

    zipdirs.install()
