"""Dataset profiling — SURVEY.md §2.2 (P1–P8).

Re-expression of the reference's ``profile_dataset``
(/root/reference/backend/app/core/profiling.py:9-77) as Spark
aggregations. Semantics preserved exactly:

- missing = SQL NULL (pandas ``isna``)
- duplicate rows = rows − distinct rows over all columns; pandas
  ``duplicated()`` treats NaNs as equal, Spark ``dropDuplicates`` groups
  nulls together, so the two agree
- numeric std is population std (``ddof=0`` → ``stddev_pop``)
- ``unique_count`` = exact distinct excluding nulls (``nunique(dropna=True)``)

Scale notes: with ``exact_distinct=True`` (parity mode) the profile is
TWO Spark jobs regardless of column count — one wide agg
(missing/min/max/mean/std batched across every column, map-side partial
aggregation, no shuffle beyond the final single-row reduce; exact
per-column distincts plan as one expand-based agg) and one
full-row-distinct job for duplicates. With ``exact_distinct=False``
(the 100 TB path, and the quality gate's default) the ENTIRE profile is
ONE shuffle-free job: per-column distincts become HLL sketches
(``approx_count_distinct``, map-side mergeable) and the duplicate-row
count folds into the same agg as an HLL over the 64-bit full-row hash
(error: HLL rsd ~2% + a vanishing xxhash64 collision term ≈ n²·2⁻⁶⁵).
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INTEGER_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType, T.DecimalType)
_DATE_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)


def infer_simple_type(dtype: T.DataType) -> str:
    """Spark type → the reference's 4-value logical type system
    (/root/reference/backend/app/utils/io.py:53-64)."""
    if isinstance(dtype, _INTEGER_TYPES):
        return "integer"
    if isinstance(dtype, _FLOAT_TYPES):
        return "number"
    if isinstance(dtype, _DATE_TYPES):
        return "date"
    return "string"


def numeric_columns(df: DataFrame) -> list[str]:
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, _INTEGER_TYPES + _FLOAT_TYPES)
    ]


def nn(df: DataFrame, c: str) -> F.Column:
    """Numeric column with NaN normalized to NULL — pandas counts NaN as
    missing (``isna``) and drops it from stats, while Spark aggregates
    treat NaN as a value and propagate it; ``nanvl`` closes the gap for
    float/double columns at zero cost for other types."""
    qc = F.col(c)
    for f_ in df.schema.fields:
        if f_.name == c and isinstance(f_.dataType, (T.FloatType, T.DoubleType)):
            return F.nanvl(qc, F.lit(None).cast(f_.dataType))
    return qc


def string_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


def profile_dataset(df: DataFrame, exact_distinct: bool = True) -> dict[str, Any]:
    """Full profile: ``{"summary": ..., "basic_profile": ...}`` with the
    reference's exact field names and value semantics
    (/root/reference/backend/app/core/profiling.py:59-77)."""
    cols = df.columns
    n_cols = len(cols)
    num_cols = set(numeric_columns(df))

    distinct_fn = F.countDistinct if exact_distinct else F.approx_count_distinct

    aggs: list = [F.count(F.lit(1)).alias("__rows")]
    if not exact_distinct:
        # P3 at scale: distinct-row count as an HLL over the full-row
        # hash INSIDE the same wide agg — no second job, no shuffle
        # (xxhash64 seed-chains across columns incl. arrays; NULLs keep
        # the running hash, consistent with dropDuplicates' null-safe
        # grouping up to hash collisions)
        aggs.append(
            F.approx_count_distinct(F.xxhash64(*cols)).alias("__distinct_rows")
        )
    for c in cols:
        qc = nn(df, c)
        aggs.append(F.sum(qc.isNull().cast("long")).alias(f"miss::{c}"))
        aggs.append(distinct_fn(qc).alias(f"uniq::{c}"))
        if c in num_cols:
            aggs.append(F.min(qc).cast("double").alias(f"min::{c}"))
            aggs.append(F.max(qc).cast("double").alias(f"max::{c}"))
            aggs.append(F.avg(qc).alias(f"mean::{c}"))
            aggs.append(F.stddev_pop(qc).alias(f"std::{c}"))

    row = df.agg(*aggs).collect()[0].asDict()
    n_rows = int(row["__rows"])

    # P3: duplicate full rows. Parity mode: exact hash-agg over all
    # columns (arrays compare element-wise natively) — second (and
    # last) job of the profile. Scale mode folded it into the agg above.
    if not n_rows:
        duplicate_rows = 0
    elif exact_distinct:
        duplicate_rows = n_rows - df.dropDuplicates().count()
    else:
        duplicate_rows = max(0, n_rows - int(row["__distinct_rows"]))

    total_cells = max(n_rows * n_cols, 1)
    total_missing = sum(int(row[f"miss::{c}"]) for c in cols)

    missing_by_column = {c: int(row[f"miss::{c}"]) for c in cols}
    inferred_types: dict[str, str] = {}
    column_stats: dict[str, dict[str, Any]] = {}

    for f_ in df.schema.fields:
        c = f_.name
        inferred = infer_simple_type(f_.dataType)
        inferred_types[c] = inferred
        stats: dict[str, Any] = {
            "inferred_type": inferred,
            "missing_count": int(row[f"miss::{c}"]),
            "unique_count": int(row[f"uniq::{c}"]),
        }
        if c in num_cols and row[f"mean::{c}"] is not None:
            stats["min"] = float(row[f"min::{c}"])
            stats["max"] = float(row[f"max::{c}"])
            stats["mean"] = float(row[f"mean::{c}"])
            std = row[f"std::{c}"]
            stats["std"] = float(std) if std is not None and not math.isnan(std) else 0.0
        column_stats[c] = stats

    summary = {
        "row_count": n_rows,
        "column_count": n_cols,
        "total_missing_cells": total_missing,
        "missing_ratio": total_missing / total_cells,
        "duplicate_rows": int(duplicate_rows),
        "duplicate_ratio": duplicate_rows / n_rows if n_rows > 0 else 0.0,
    }
    return {
        "summary": summary,
        "basic_profile": {
            "missing_by_column": missing_by_column,
            "inferred_types": inferred_types,
            "column_stats": column_stats,
        },
    }


def profile_summary_df(df: DataFrame) -> DataFrame:
    """Single-row DataFrame form of the summary (for the driver's
    DuckDB-oracle contract): row_count, total_missing_cells,
    duplicate_rows as one declarative plan (no driver math)."""
    cols = df.columns
    agg = df.agg(
        F.count(F.lit(1)).alias("row_count"),
        sum(
            (F.sum(F.col(c).isNull().cast("long")) for c in cols),
            F.lit(0),
        ).alias("total_missing_cells"),
    )
    distinct_cnt = df.dropDuplicates().agg(
        F.count(F.lit(1)).alias("distinct_rows")
    )
    return agg.crossJoin(distinct_cnt).select(
        "row_count",
        "total_missing_cells",
        (F.col("row_count") - F.col("distinct_rows")).alias("duplicate_rows"),
    )


def numeric_stats_df(df: DataFrame, round_to: int = 6) -> DataFrame:
    """Long-form per-numeric-column stats (column, min, max, mean, std)
    as ONE aggregation followed by an unpivot — no per-column jobs.
    Values rounded for stable cross-engine hashing."""
    num_cols = numeric_columns(df)
    aggs = []
    for c in num_cols:
        qc = F.col(c)
        aggs += [
            F.round(F.min(qc).cast("double"), round_to).alias(f"min::{c}"),
            F.round(F.max(qc).cast("double"), round_to).alias(f"max::{c}"),
            F.round(F.avg(qc), round_to).alias(f"mean::{c}"),
            F.round(F.stddev_pop(qc), round_to).alias(f"std::{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `min::{c}`, `max::{c}`, `mean::{c}`, `std::{c}`" for c in num_cols
    )
    return wide.selectExpr(
        f"stack({len(num_cols)}, {stack_args}) as "
        "(column_name, min_value, max_value, mean_value, std_value)"
    ).orderBy("column_name")


def missing_by_column_df(df: DataFrame) -> DataFrame:
    """Long-form (column_name, missing_count, distinct_count)."""
    cols = df.columns
    aggs = []
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"miss::{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"uniq::{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', `miss::{c}`, `uniq::{c}`" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) as (column_name, missing_count, distinct_count)"
    ).orderBy("column_name")
