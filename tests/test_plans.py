"""Physical-plan assertions — the 100-TB design properties that the
operators promise (pushdown, pruning, broadcast, no plane literals)
checked against `.explain`/queryExecution output so regressions fail
loudly instead of silently degrading at scale."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_pushdown_and_pruning(spark, tmp_path):
    """Filters reach the parquet source and untouched columns are
    pruned from ReadSchema (tokens never read for a doc_id/n_tok
    query)."""
    from datalakequality_spark.sources.datagen import generate_sequences

    path = str(tmp_path / "seq")
    generate_sequences(spark, 2000).write.parquet(path)
    df = (
        spark.read.parquet(path)
        .where(F.col("n_tok") > 50)
        .select("doc_id", "n_tok")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "n_tok" in plan.split("PushedFilters")[1][:120]
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "tokens" not in read_schema  # column pruning reached the scan


def test_profile_single_exchange(spark):
    """The batched numeric-stats aggregation is one partial+final agg —
    exactly one shuffle regardless of column count."""
    from datalakequality_spark.operators.profiling import numeric_stats_df

    df = spark.createDataFrame(
        [(float(i), i * 2.0, i % 7) for i in range(100)], "a double, b double, c long"
    )
    plan = _plan(numeric_stats_df(df))
    assert plan.count("Exchange") <= 1


def test_broadcast_join_in_merge_discovery(spark, tmp_path):
    """MERGE's affected-file semi-join broadcasts the (small) key side
    rather than shuffling the table."""
    from datalakequality_spark.sources.datagen import generate_sequences

    path = str(tmp_path / "seq")
    generate_sequences(spark, 5000).write.parquet(path)
    tgt = spark.read.parquet(path)
    src_keys = generate_sequences(spark, 100).select("doc_id")
    plan = _plan(tgt.join(F.broadcast(src_keys), "doc_id", "left_semi"))
    assert "BroadcastHashJoin" in plan


def test_embedding_bucket_plan_has_no_plane_literals(spark):
    """The hyperplane-LSH bucket must keep its planes in the UDF
    closure: at dim=1024 an inlined-literal formulation produces a
    multi-megabyte Catalyst tree that chokes the optimizer."""
    from datalakequality_spark.operators.dedup import embedding_lsh_bucket

    rng = np.random.default_rng(0)
    df = spark.createDataFrame(
        [(i, rng.standard_normal(1024).tolist()) for i in range(4)],
        "id long, v array<double>",
    )
    out = df.select(embedding_lsh_bucket(F.col("v"), dim=1024, n_planes=16).alias("b"))
    plan = _optimized(out)
    assert len(plan) < 20_000  # literal planes would be ~16k floats ≈ >250 KB
    assert "ArrowEvalPython" in _plan(out)


def test_contract_suggest_single_scan(spark):
    """q_contract_suggest must be ONE wide agg over ONE scan of events
    (VERDICT r2: the old per-column agg-union scanned it 4x)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("entry_mod", "__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    df = entry.q_contract_suggest(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert df.count() == 4


def test_top_customers_aqe_broadcasts(spark):
    """Without a hard broadcast hint, AQE's size-gated re-plan must
    still broadcast the customer dimension at test SF."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("entry_mod2", "__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    df = entry.q_top_customers(spark, "/root/testdata/sf0.001")
    assert df.count() == 10  # materialize so AQE finalizes the plan
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "broadcast" not in _optimized(df).lower()  # no forced hint


def test_cluster_rewrite_single_range_exchange(spark, tmp_path):
    """The (fused) sorted rewrite's data path is ONE range exchange +
    within-partition sort; the Z-order key is a Catalyst expression (no
    Python eval node), the Hilbert key ONE Arrow UDF — no extra
    shuffles sneak in around the clustering."""
    from datalakequality_spark.functions.spacecurves import with_cluster_key
    from datalakequality_spark.sources.datagen import generate_sequences

    path = str(tmp_path / "seq")
    generate_sequences(spark, 2000).write.parquet(path)
    df = spark.read.parquet(path)
    for method, python_evals in (("zorder", 0), ("hilbert", 1)):
        clustered = (
            with_cluster_key(df, method=method)
            .repartitionByRange(4, "__cluster_key")
            .sortWithinPartitions("__cluster_key")
            .drop("__cluster_key")
        )
        plan = _plan(clustered)
        assert plan.count("Exchange") == 1, method
        assert "rangepartitioning" in plan, method
        assert plan.count("ArrowEvalPython") == python_evals, method
        assert plan.count("BatchEvalPython") == 0, method


def test_cluster_and_bucket_one_exchange_one_udf(spark, tmp_path):
    """The production rewrite path (_cluster_and_bucket with sampled
    bounds) must shuffle ONCE (hash on the bucket id) —
    repartitionByRange would add a second full evaluation of the key
    for its sampling job. The bucket id is a JVM expression over the
    key: a Z-order pass evaluates no Python, a Hilbert pass only its
    ONE key UDF."""
    from datalakequality_spark.maintenance.clustering import _cluster_and_bucket
    from datalakequality_spark.sources.datagen import generate_sequences

    path = str(tmp_path / "seq")
    generate_sequences(spark, 2000).write.parquet(path)
    bounds = [i << 45 for i in range(1, 8)]  # 8 buckets over the 48-bit key
    for method, python_evals in (("zorder", 0), ("hilbert", 1)):
        plan = _plan(_cluster_and_bucket(spark.read.parquet(path), bounds, method))
        assert plan.count("ArrowEvalPython") == python_evals, method
        assert plan.count("BatchEvalPython") == 0, method
        assert plan.count("Exchange") == 1, method
        assert "hashpartitioning(__pid" in plan, method


def test_minhash_single_tokenization(spark):
    """The MinHash path sends ONE token-hash array per row through ONE
    Arrow UDF — no shingle-string expression tree in the plan."""
    from datalakequality_spark.operators.dedup import minhash_sig_and_shingles

    df = spark.createDataFrame([("a b c d e",)], "t string")
    out = df.select(minhash_sig_and_shingles(F.col("t"), 64, 3).alias("p"))
    plan = _plan(out)
    assert plan.count("ArrowEvalPython") == 1
    assert "slice" not in plan  # no per-shingle slicing JVM-side


def test_merge_joins_broadcast_despite_cached_source(spark, tmp_path):
    """InMemoryRelation stats are not column-pruned, so a persisted
    4-column merge source makes Catalyst refuse to broadcast the key
    projection and both merge joins degrade to sort-merge — shuffling
    the full token payload. merge_into must hint broadcast from the
    exact key count when the key set fits the threshold (and must NOT
    when the threshold is off: at 10^12-row scale SMJ is correct)."""
    from datalakequality_spark.maintenance import merge as merge_mod
    from datalakequality_spark.sources.datagen import (
        generate_merge_batch,
        generate_sequences,
    )
    from datalakequality_spark.sources.icemini import IceMiniTable

    captured = []
    orig = IceMiniTable.write_data_files

    def spy(self, df, prefix=None, split_col=None):
        captured.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(self, df, prefix=prefix, split_col=split_col)

    t = IceMiniTable.create(spark, str(tmp_path / "m"))
    t.append(generate_sequences(spark, 4000), target_file_rows=1000)
    try:
        IceMiniTable.write_data_files = spy
        merge_mod.merge_into(t, generate_merge_batch(spark, 4000))
    finally:
        IceMiniTable.write_data_files = orig
    assert len(captured) == 1
    assert "BroadcastHashJoin" in captured[0]
    assert "SortMergeJoin" not in captured[0]

    captured.clear()
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        IceMiniTable.write_data_files = spy
        merge_mod.merge_into(t, generate_merge_batch(spark, 4000))
    finally:
        IceMiniTable.write_data_files = orig
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    assert "BroadcastHashJoin" not in captured[0]


def test_changelog_mor_fast_path_plan(spark, tmp_path):
    """Changelog over a merge-on-read DELETE commit must use the pruned
    semi-join fast path — no ExceptAll bag-diff (that shuffles full
    rows incl. token arrays) — while a CoW UPDATE commit's diff DOES
    use the bag-diff, restricted to touched files."""
    from datalakequality_spark.maintenance.merge import delete_where, update_where
    from datalakequality_spark.sources.datagen import generate_sequences
    from datalakequality_spark.sources.icemini import IceMiniTable
    from pyspark.sql import functions as F

    t = IceMiniTable.create(spark, str(tmp_path / "cdc"))
    t.append(generate_sequences(spark, 2000), target_file_rows=250)
    def _analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    v1 = t.current_version()
    delete_where(t, "n_tok % 6 = 0", mode="merge_on_read")
    v2 = t.current_version()
    plan = _analyzed(t.changelog_scan(v1, v2))
    assert "Except" not in plan
    assert "LeftSemi" in _optimized(t.changelog_scan(v1, v2))

    update_where(t, "n_tok % 13 = 0", {"source": F.lit("patched")})
    v3 = t.current_version()
    assert "Except" in _analyzed(t.changelog_scan(v2, v3))
