"""Z-order (Morton) and Hilbert clustering keys — SURVEY.md §4.2.

Inputs are prepared JVM-side (``curve_inputs``: xxhash64 of
source/doc_id, n_tok scaling); each key interleaves their low 16 bits.

- Z-order is ONE Catalyst expression (``morton_key``): bit b of the
  three inputs lands at bits 3b+2, 3b+1 and 3b, a shift and a mask per
  bit, so no row crosses into Python. numpy ``morton3`` is the same
  interleave; it stays as the test oracle and as ``hilbert3``'s last
  step.
- Hilbert stays an Arrow-vectorized pandas UDF over pure numpy uint64
  bit ops (no per-row Python, per BASELINE.json input_hint): as
  Catalyst expressions its bit loop cost 4x the CPU. ``curve_key`` is
  its numpy key of raw inputs; the UDF calls it per batch, and the
  clustering rewrite calls it on the driver over its sampled inputs.

Dimension encoding for the (source, n_tok, doc_id) clustering required
by the north_star, 16 bits per dimension:
- source  → xxhash64 → low 16 bits (distinct sources land in distinct
  bucket prefixes with high probability)
- n_tok   → scaled to [0, 65535] over the [0, clip] token-length range,
  preserving order so n_tok range-pruning works after clustering
- doc_id  → xxhash64 → low 16 bits (intra-(source,n_tok) spread)

The Hilbert index uses Skilling's transpose algorithm (public domain,
"Programming the Hilbert curve", AIP Conf. Proc. 707), vectorized: the
bit loop is O(bits) numpy passes over the whole Arrow batch.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BITS = 16
_ONE = np.uint64(1)


def _part1by2(x: np.ndarray) -> np.ndarray:
    """Spread each of the low 21 bits of x two apart (Morton helper)."""
    x = x.astype(np.uint64) & np.uint64(0x1FFFFF)
    x = (x | (x << np.uint64(32))) & np.uint64(0x1F00000000FFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x1F0000FF0000FF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x100F00F00F00F00F)
    x = (x | (x << np.uint64(4))) & np.uint64(0x10C30C30C30C30C3)
    x = (x | (x << np.uint64(2))) & np.uint64(0x1249249249249249)
    return x


def morton3(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> np.ndarray:
    """48-bit 3-D Morton (Z-order) key; x is the most significant dim."""
    return (_part1by2(x) << np.uint64(2)) | (_part1by2(y) << np.uint64(1)) | _part1by2(z)


_FULL = np.uint64(0xFFFFFFFFFFFFFFFF)


def _axes_to_transpose(X: np.ndarray, bits: int = BITS) -> np.ndarray:
    """Skilling AxestoTranspose, vectorized over rows. X: (n, 3) uint64.

    Branchless: the per-bit exchange/invert is selected with full-width
    masks (np.where over whole columns) instead of boolean fancy
    indexing — fancy indexing gathers/scatters through an index list and
    measured 3.1x slower at 16 bits x 3 dims (0.21 -> 0.65 M rows/s/core
    on 5M-row batches, bit-identical output).
    """
    n_dims = X.shape[1]
    M = _ONE << np.uint64(bits - 1)
    Q = M
    zero = np.uint64(0)
    while Q > _ONE:
        P = Q - _ONE
        for i in range(n_dims):
            mm = np.where((X[:, i] & Q) != 0, _FULL, zero)
            t = ((X[:, 0] ^ X[:, i]) & P) & ~mm
            X[:, 0] ^= (P & mm) | t
            X[:, i] ^= t
        Q >>= _ONE
    for i in range(1, n_dims):
        X[:, i] ^= X[:, i - 1]
    t = np.zeros(len(X), dtype=np.uint64)
    Q = M
    while Q > _ONE:
        t ^= (Q - _ONE) & np.where((X[:, n_dims - 1] & Q) != 0, _FULL, zero)
        Q >>= _ONE
    for i in range(n_dims):
        X[:, i] ^= t
    return X


def hilbert3(x: np.ndarray, y: np.ndarray, z: np.ndarray, bits: int = BITS) -> np.ndarray:
    """48-bit 3-D Hilbert index (better locality than Morton at the
    cost of ~3x the bit ops — still fully vectorized)."""
    X = np.stack(
        [
            x.astype(np.uint64) & np.uint64((1 << bits) - 1),
            y.astype(np.uint64) & np.uint64((1 << bits) - 1),
            z.astype(np.uint64) & np.uint64((1 << bits) - 1),
        ],
        axis=1,
    )
    X = _axes_to_transpose(X, bits)
    # transpose form → single index: interleave bit b of each axis
    return morton3(X[:, 0], X[:, 1], X[:, 2])


def _mask16(x) -> np.ndarray:
    """Low 16 bits of an int64 Series or array, as uint64."""
    a = x.to_numpy(dtype=np.int64) if isinstance(x, pd.Series) else np.asarray(x, dtype=np.int64)
    return a.view(np.uint64) & np.uint64(0xFFFF)


_KERNELS = {"zorder": morton3, "hilbert": hilbert3}
# the curve inputs as columns, projected once below the key expression
_INPUTS = ("__curve_src", "__curve_ntok", "__curve_doc")


def curve_inputs(n_tok_clip: int = 8192) -> list[Column]:
    """The three JVM-computed curve inputs, in key order: xxhash64 of
    source, n_tok scaled to [0, 65535] over [0, ``n_tok_clip``], and
    xxhash64 of doc_id. ``curve_key`` turns them into the key."""
    return [
        F.xxhash64("source"),
        (F.least(F.col("n_tok").cast("long"), F.lit(n_tok_clip)) * 65535 / n_tok_clip).cast("long"),
        F.xxhash64("doc_id"),
    ]


def curve_key(method: str, src_h, ntok16, doc_h) -> np.ndarray:
    """The int64 curve key of raw ``curve_inputs`` values (Series or
    int64 arrays): the low 16 bits of each through ``morton3``
    (``"zorder"``) or ``hilbert3`` (``"hilbert"``). The Hilbert UDF
    and the rewrite's driver-side Hilbert sample call this; for
    Z-order it is the oracle of ``morton_key``."""
    return _KERNELS[method](_mask16(src_h), _mask16(ntok16), _mask16(doc_h)).astype(np.int64)


def morton_key(x: Column, y: Column, z: Column) -> Column:
    """``morton3`` of the low 16 bits of three int64 columns as ONE
    Catalyst expression: bit b of x, y and z moves to bit 3b+2, 3b+1
    and 3b. Each input is referenced 16 times, so pass column
    references (``with_cluster_key`` projects the inputs first), not
    expressions to re-evaluate per bit."""
    return reduce(
        Column.bitwiseOR,
        (
            F.shiftleft(c.bitwiseAND(F.lit(1 << b)), 2 * b + k)
            for b in range(BITS)
            for k, c in ((2, x), (1, y), (0, z))
        ),
    )


def bucket_of(key: Column, bounds: list[int]) -> Column:
    """``np.searchsorted(bounds, key, side="left")`` — the count of
    ``bounds`` (ascending) strictly below ``key`` — as a balanced
    binary-search ``CASE``: ~log2(#bounds) comparisons per row and
    ~2·#bounds expression nodes. The rewrite's bounds are per shard,
    so there are at most ``max_shard_rows / target_rows_per_file`` of
    them (63 by default)."""

    def search(lo: int, hi: int) -> Column:  # the answer is in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(key <= F.lit(bounds[mid]), search(lo, mid)).otherwise(search(mid + 1, hi))

    return search(0, len(bounds))


@F.pandas_udf(T.LongType())
def _hilbert_key_udf(src_h: pd.Series, ntok16: pd.Series, doc_h: pd.Series) -> pd.Series:
    return pd.Series(curve_key("hilbert", src_h, ntok16, doc_h))


def with_cluster_key(
    df: DataFrame,
    method: str = "zorder",
    key_col: str = "__cluster_key",
    n_tok_clip: int = 8192,
) -> DataFrame:
    """Add the clustering key column: the JVM prepares the three int
    dims, then ``morton_key`` (``"zorder"``) or the Hilbert Arrow UDF
    (``"hilbert"``) interleaves them."""
    if method == "hilbert":
        return df.withColumn(key_col, _hilbert_key_udf(*curve_inputs(n_tok_clip)))
    if method != "zorder":  # fail here, not inside a task
        raise KeyError(method)
    return (
        df.withColumns(dict(zip(_INPUTS, curve_inputs(n_tok_clip))))
        .withColumn(key_col, morton_key(*(F.col(c) for c in _INPUTS)))
        .drop(*_INPUTS)
    )


def with_cluster_bucket(
    df: DataFrame,
    bounds: list[int],
    method: str = "zorder",
    key_col: str = "__cluster_key",
    pid_col: str = "__pid",
    n_tok_clip: int = 8192,
) -> DataFrame:
    """Add the curve key AND its range-bucket id.

    ``bounds`` are pre-sampled key quantiles; a row's bucket is the
    count of bounds strictly below its key (``bucket_of``: a binary
    search, O(log #buckets) per row; a linear scan over a bounds array
    would be O(#buckets)). The bucket is a JVM expression over the key
    column for both curves, so a Z-order pass evaluates no Python and
    a Hilbert pass only its key UDF.
    """
    return with_cluster_key(df, method, key_col, n_tok_clip).withColumn(
        pid_col, bucket_of(F.col(key_col), sorted(bounds))
    )
