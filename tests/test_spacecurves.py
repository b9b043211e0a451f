"""Space-filling-curve kernels (functions/spacecurves.py): Morton
against a pure-Python reference, Hilbert's defining space-filling
property, the Hilbert clustering path end-to-end, and skew resistance
of the range-partitioned rewrite under the Zipf source distribution."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from datalakequality_spark.functions.spacecurves import hilbert3, morton3


def _morton_ref(x: int, y: int, z: int) -> int:
    out = 0
    for b in range(21):
        out |= ((x >> b) & 1) << (3 * b + 2)
        out |= ((y >> b) & 1) << (3 * b + 1)
        out |= ((z >> b) & 1) << (3 * b)
    return out


def test_morton3_matches_reference():
    rng = np.random.default_rng(0)
    xs, ys, zs = (rng.integers(0, 1 << 16, 64, dtype=np.uint64) for _ in range(3))
    got = morton3(xs, ys, zs)
    for x, y, z, g in zip(xs, ys, zs, got):
        assert int(g) == _morton_ref(int(x), int(y), int(z))


def test_hilbert3_is_a_space_filling_curve():
    """Defining property at bits=4 over the full 16³ grid: the index is
    a bijection onto 0..4095 and consecutive indices are L1-adjacent
    cells (step distance exactly 1) — Morton fails the adjacency part,
    Hilbert must not."""
    g = np.arange(16, dtype=np.uint64)
    x, y, z = np.meshgrid(g, g, g, indexing="ij")
    idx = hilbert3(x.ravel(), y.ravel(), z.ravel(), bits=4)
    assert sorted(int(i) for i in idx) == list(range(4096))  # bijection
    order = np.argsort(idx)
    pts = np.stack([x.ravel(), y.ravel(), z.ravel()], axis=1).astype(np.int64)[order]
    steps = np.abs(np.diff(pts, axis=0)).sum(axis=1)
    assert (steps == 1).all()  # every curve step moves one cell


def test_hilbert_cluster_table_end_to_end(spark, tmp_path):
    from datalakequality_spark.maintenance.clustering import cluster_table
    from datalakequality_spark.sources.datagen import generate_sequences
    from datalakequality_spark.sources.icemini import IceMiniTable

    t = IceMiniTable.create(spark, str(tmp_path / "h"))
    t.append(generate_sequences(spark, 6000), target_file_rows=600)
    h0 = (
        t.scan()
        .agg(F.sum(F.pmod(F.xxhash64("doc_id", "tokens", "n_tok", "source"), F.lit(2**31))))
        .collect()[0][0]
    )
    cluster_table(t, method="hilbert", target_rows_per_file=1500)
    h1 = (
        t.scan()
        .agg(F.sum(F.pmod(F.xxhash64("doc_id", "tokens", "n_tok", "source"), F.lit(2**31))))
        .collect()[0][0]
    )
    assert h1 == h0  # content preserved through the Hilbert rewrite
    entries = t.live_entries()
    assert len(t.prune_entries(entries, min_n_tok=4000)) < len(entries)


def test_skewed_source_still_balances_output_files(spark, tmp_path):
    """The Zipf source distribution puts ~30% of rows in one source;
    the rewrite's range exchange partitions on the SAMPLED curve key,
    so output files stay balanced despite the key skew (the salting /
    AQE story is for hash-partitioned joins — range partitioning is
    skew-resistant by construction and this pins it)."""
    from datalakequality_spark.maintenance.clustering import rewrite_sorted
    from datalakequality_spark.sources.datagen import generate_sequences
    from datalakequality_spark.sources.icemini import IceMiniTable

    t = IceMiniTable.create(spark, str(tmp_path / "sk"))
    df = generate_sequences(spark, 8000)
    heavy = df.groupBy("source").count().orderBy(F.desc("count")).first()
    assert heavy["count"] > 8000 * 0.25  # the input really is skewed
    t.append(df, target_file_rows=1000)
    rewrite_sorted(t, target_rows_per_file=1000)
    rows = [e.rows for e in t.live_entries()]
    assert max(rows) <= 2.5 * (sum(rows) / len(rows))


def test_with_cluster_bucket_matches_linear_scan(spark):
    """The binary-search bucket id (O(log #buckets)/row) must equal the
    definitional linear scan (count of bounds < key) for both curves,
    and empty bounds must yield bucket 0 everywhere."""
    from datalakequality_spark.functions.spacecurves import (
        with_cluster_bucket,
        with_cluster_key,
    )
    from datalakequality_spark.sources.datagen import generate_sequences

    df = generate_sequences(spark, 2000)
    for method in ("hilbert", "zorder"):
        keys = with_cluster_key(df, method=method)
        bounds = sorted(
            int(r["__cluster_key"])
            for r in keys.sample(0.05, seed=7).select("__cluster_key").collect()
        )[:31]
        got = with_cluster_bucket(df, bounds, method=method)
        arr = F.array(*[F.lit(b) for b in bounds])
        check = got.withColumn(
            "__pid_ref",
            F.size(F.filter(arr, lambda b: b < F.col("__cluster_key"))).cast("int"),
        )
        assert check.where(F.col("__pid") != F.col("__pid_ref")).count() == 0, method
    empty = with_cluster_bucket(df, [], method="zorder")
    assert empty.select(F.max("__pid"), F.min("__pid")).first() == (0, 0)


def test_morton_key_is_bit_identical_to_morton3(spark):
    """The Catalyst Z-order key equals numpy ``morton3`` of the masked
    inputs, and its bucket equals ``np.searchsorted(side="left")``, on
    30k datagen rows plus edge inputs: each axis at 0 and 0xFFFF,
    negative int64 hashes and the int64 extremes, with bounds that
    equal some keys (the first and last included)."""
    import pandas as pd

    from datalakequality_spark.functions.spacecurves import (
        bucket_of,
        curve_inputs,
        curve_key,
        morton_key,
        with_cluster_key,
    )
    from datalakequality_spark.sources.datagen import generate_sequences

    rows = (
        with_cluster_key(generate_sequences(spark, 30_000))
        .select(*[c.alias(n) for n, c in zip("xyz", curve_inputs())], "__cluster_key")
        .toPandas()
    )
    assert len(rows) == 30_000 and (rows.x < 0).any() and (rows.z < 0).any()
    np.testing.assert_array_equal(
        rows["__cluster_key"].to_numpy(), curve_key("zorder", rows.x, rows.y, rows.z)
    )

    m = 0xFFFF
    edges = [(a, b, c) for a in (0, m) for b in (0, m) for c in (0, m)] + [
        (-1, -1, -1),
        (-(2**63), 2**63 - 1, -(2**16)),
        (-(2**16) - 1, 2**16, -2),
    ]
    inputs = pd.concat([rows[["x", "y", "z"]], pd.DataFrame(edges, columns=["x", "y", "z"])])
    want = curve_key("zorder", inputs.x, inputs.y, inputs.z)
    assert want.min() == 0 and want.max() == 2**48 - 1  # the edges reach both ends
    bounds = sorted(
        {int(want.min()), int(want.max())}
        | {int(k) for k in np.random.default_rng(3).choice(want, 61)}
    )
    x, y, z = (F.col(c) for c in "xyz")
    key = morton_key(x, y, z)
    got = (
        spark.createDataFrame(inputs, "x long, y long, z long")
        .select(key.alias("k"))
        .select("k", bucket_of(F.col("k"), bounds).alias("pid"))
        .toPandas()
    )
    np.testing.assert_array_equal(got.k.to_numpy(), want)
    np.testing.assert_array_equal(
        got.pid.to_numpy(), np.searchsorted(np.array(bounds), want, side="left")
    )
