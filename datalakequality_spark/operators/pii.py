"""PII detection — SURVEY.md §2.4 (PII1–PII5).

Re-expression of the reference detector
(/root/reference/backend/app/core/pii.py:7-64) as ONE Spark
aggregation: for every string column, three boolean `max(rlike)` aggs
(email / phone / id_number) batched into a single wide `df.agg(...)`.
One pass over the data regardless of column count; whole-stage codegen
keeps the regex matching JVM-side.

Semantics vs the reference:
- same three regexes (EMAIL / PHONE / ID) — Java regex and Python `re`
  agree on these patterns (character classes, `\\b`, bounded reps);
- string columns only (reference: object-dtype), nulls ignored;
- ``detected_types`` emitted in the fixed order email, phone, id_number;
- the reference samples 200 rows per column as a speed hack
  (pii.py:12,27) which can under-report; the engine's default is a FULL
  scan (a superset detector — agrees whenever the reference fires).
  ``sample_rows`` reproduces the cap when parity experiments need it.

Scale: one job, map-side partial aggregation of 3×#string_cols booleans,
single-row result. At 100 TB this is scan-bound, which is optimal — no
shuffle, no Python.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .profiling import string_columns

# Reference patterns (pii.py:7-9); identical meaning under Java regex.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b(\+?\d[\d\s\-]{7,}\d)\b"
ID_RE = r"\b\d{10,16}\b"

PII_TYPES = [("email", EMAIL_RE), ("phone", PHONE_RE), ("id_number", ID_RE)]


def detect_pii(
    df: DataFrame,
    columns: list[str] | None = None,
    sample_rows: int | None = None,
    sample_seed: int | None = None,
) -> dict[str, Any]:
    """Full-scan PII detection over string columns.

    Returns the reference's result shape:
    ``{"pii_columns": [{"column", "detected_types"}], "pii_column_count",
    "has_pii"}``.

    ``sample_rows`` caps the scan like the reference's 200-row sample
    (pii.py:12,27). With ``sample_seed`` the cap is a deterministic
    pseudo-random ROW sample (seeded row-hash TakeOrdered — no full
    sort); without it, a plain prefix limit. Documented deviation: the
    reference samples each COLUMN independently with random_state=42;
    the row-level sample is the Spark-native equivalent (one pass, one
    sample for all columns) and coincides when columns share null
    positions. The full-scan default is a strict superset detector.
    """
    cols = columns if columns is not None else string_columns(df)
    if not cols:
        return {"pii_columns": [], "pii_column_count": 0, "has_pii": False}

    if sample_rows is not None:
        if sample_seed is not None:
            row_hash = F.xxhash64(
                F.struct(*[F.col(c) for c in cols]), F.lit(sample_seed)
            )
            df = df.orderBy(row_hash).limit(sample_rows)
        else:
            df = df.limit(sample_rows)

    aggs = []
    for c in cols:
        qc = F.col(c)
        for tname, pattern in PII_TYPES:
            aggs.append(
                F.max(F.coalesce(qc.rlike(pattern), F.lit(False))).alias(
                    f"{tname}::{c}"
                )
            )
    row = df.agg(*aggs).collect()[0].asDict()

    pii_columns = []
    for c in cols:
        detected = [t for t, _ in PII_TYPES if row.get(f"{t}::{c}")]
        if detected:
            pii_columns.append({"column": c, "detected_types": detected})
    return {
        "pii_columns": pii_columns,
        "pii_column_count": len(pii_columns),
        "has_pii": bool(pii_columns),
    }


def pii_flags_df(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Long-form (column_name, has_email, has_phone, has_id) DataFrame —
    the DuckDB-oracle contract shape. Single declarative agg + unpivot."""
    cols = columns if columns is not None else string_columns(df)
    aggs = []
    for c in cols:
        qc = F.col(c)
        for tname, pattern in PII_TYPES:
            aggs.append(
                F.max(F.coalesce(qc.rlike(pattern), F.lit(False)))
                .cast("int")
                .alias(f"{tname}::{c}")
            )
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `email::{c}`, `phone::{c}`, `id_number::{c}`" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) as (column_name, has_email, has_phone, has_id)"
    ).orderBy("column_name")
