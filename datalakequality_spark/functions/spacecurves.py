"""Z-order (Morton) and Hilbert clustering keys — SURVEY.md §4.2.

OSS Spark SQL has no space-filling-curve expression, so the keys are
computed in ONE Arrow-vectorized pandas UDF over pure numpy uint64 bit
ops (no per-row Python, per BASELINE.json input_hint). Inputs are
prepared JVM-side (``curve_inputs``: xxhash64 of source/doc_id, n_tok
scaling), so the UDF sees only three integer Series per Arrow batch.
``curve_key`` is the one numpy key of those raw inputs: the UDFs call
it per batch, and the clustering rewrite calls it on the driver over
its collected key sample to place the range-bucket bounds.

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
    (``"zorder"``) or ``hilbert3`` (``"hilbert"``). The Arrow UDFs and
    the rewrite's driver-side bucket sample both call this."""
    return _KERNELS[method](_mask16(src_h), _mask16(ntok16), _mask16(doc_h)).astype(np.int64)


@F.pandas_udf(T.LongType())
def _zorder_key_udf(src_h: pd.Series, ntok16: pd.Series, doc_h: pd.Series) -> pd.Series:
    return pd.Series(curve_key("zorder", src_h, ntok16, doc_h))


@F.pandas_udf(T.LongType())
def _hilbert_key_udf(src_h: pd.Series, ntok16: pd.Series, doc_h: pd.Series) -> pd.Series:
    return pd.Series(curve_key("hilbert", src_h, ntok16, doc_h))


def with_cluster_key(
    df: DataFrame,
    method: str = "zorder",
    key_col: str = "__cluster_key",
    n_tok_clip: int = 8192,
) -> DataFrame:
    """Add the clustering key column. JVM prepares the three int dims;
    one pandas UDF interleaves them."""
    udf = {"zorder": _zorder_key_udf, "hilbert": _hilbert_key_udf}[method]
    return df.withColumn(key_col, udf(*curve_inputs(n_tok_clip)))


def with_cluster_bucket(
    df: DataFrame,
    bounds: list[int],
    method: str = "zorder",
    key_col: str = "__cluster_key",
    pid_col: str = "__pid",
    n_tok_clip: int = 8192,
) -> DataFrame:
    """Add the curve key AND its range-bucket id in the SAME Arrow pass.

    ``bounds`` are pre-sampled key quantiles (ascending); a row's bucket
    is the count of bounds strictly below its key, computed with
    ``np.searchsorted`` — O(log #buckets) per row. The naive Column
    expression (``F.size(F.filter(bounds_arr, b < key))``) is a linear
    scan: fine at 96 output files, catastrophic at real scale, where a
    100 TB table at 256 MB target files has ~400k buckets and the scan
    would do 400k comparisons PER ROW. Bounds are closure-captured into
    the UDF (one broadcast-sized numpy array per python worker, ~8 B per
    output file).
    """
    if method not in _KERNELS:  # fail here, not inside a task
        raise KeyError(method)
    b = np.asarray(sorted(bounds), dtype=np.int64)

    @F.pandas_udf("key long, pid int")
    def _key_and_bucket(
        src_h: pd.Series, ntok16: pd.Series, doc_h: pd.Series
    ) -> pd.DataFrame:
        k = curve_key(method, src_h, ntok16, doc_h)
        pid = np.searchsorted(b, k, side="left").astype(np.int32)
        return pd.DataFrame({"key": k, "pid": pid})

    tmp = "__kb"
    return (
        df.withColumn(tmp, _key_and_bucket(*curve_inputs(n_tok_clip)))
        .withColumn(key_col, F.col(f"{tmp}.key"))
        .withColumn(pid_col, F.col(f"{tmp}.pid"))
        .drop(tmp)
    )
