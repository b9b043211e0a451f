"""Autofix — data-repair transforms + generated-script plan
(SURVEY.md §2.9 A1–A8).

The executed transforms mirror the reference's one-click cleaner
(/root/reference/backend/app/main.py:133-205), applied in its fixed
order: numeric median impute → IQR clip (on the imputed values) →
categorical mode impute → date normalization → PII masking. The plan /
generated-script surface mirrors autofix.py:111-353 but emits a
**PySpark** script (the engine's users run Spark, not pandas).

Spark-first execution:
- All quantiles (median, q1, q3 for every numeric column) come from ONE
  aggregation using exact ``percentile`` (linear interpolation —
  identical definition to pandas ``quantile``). At scale, pass
  ``exact_quantiles=False`` for ``percentile_approx`` in the same single
  pass.
- Mode per categorical column = groupBy + orderBy(count desc, value
  asc) limit 1 — the ascending value tie-break reproduces pandas
  ``mode()`` (lexicographically smallest).
- The rewrite itself is one narrow ``select`` — every repair is a
  column expression (coalesce / least / greatest / regexp_replace /
  date_format), fully whole-stage-codegen'd, zero Python in the data
  path.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .profiling import numeric_columns, string_columns

EMAIL_MASK_RE = r"(^[^@]+)@"
PHONE_MASK_RE = r"[0-9](?=[0-9]{4})"


@dataclass
class AutofixOptions:
    fill_numeric_missing: bool = True
    fill_categorical_missing: bool = True
    clip_outliers: bool = True
    parse_dates: bool = True
    mask_pii: bool = True
    exact_quantiles: bool = True
    stats: dict[str, Any] = field(default_factory=dict)  # filled during apply


def _numeric_quantiles(
    df: DataFrame, cols: list[str], exact: bool, fill_first: bool
) -> tuple[dict[str, tuple[float | None, float | None, float | None]], dict[str, int]]:
    """((q1, median, q3) per column, null-count per column). The
    reference clips using quantiles of the ALREADY median-imputed
    series (main.py:149-165 fills first), so with ``fill_first`` this is
    two batched aggregation passes: medians + null counts, then q1/q3
    over ``coalesce(x, median)``. NaNs normalized to NULL to match
    pandas dropna; the null counts decide whether a column needs the
    int→double promotion pandas applies to NaN-bearing int columns."""
    if not cols:
        return {}, {}
    fn = "percentile" if exact else "percentile_approx"
    med_aggs = [
        F.expr(f"{fn}(nanvl(`{c}`, null), 0.5D)").alias(f"m::{c}") for c in cols
    ] + [
        F.expr(f"count(*) - count(nanvl(`{c}`, null))").alias(f"n::{c}") for c in cols
    ]
    mrow = df.agg(*med_aggs).collect()[0].asDict()
    meds = {c: mrow[f"m::{c}"] for c in cols}
    nulls = {c: int(mrow[f"n::{c}"]) for c in cols}

    q_aggs = []
    for c in cols:
        x = f"nanvl(`{c}`, null)"
        if fill_first and meds[c] is not None:
            x = f"coalesce({x}, {float(meds[c])!r}D)"
        q_aggs.append(F.expr(f"{fn}({x}, array(0.25D, 0.75D))").alias(f"q::{c}"))
    qrow = df.agg(*q_aggs).collect()[0].asDict()

    out = {}
    for c in cols:
        q = qrow[f"q::{c}"]
        out[c] = (q[0], meds[c], q[1]) if q is not None else (None, meds[c], None)
    return out, nulls


def _column_mode(df: DataFrame, col: str) -> Any | None:
    """pandas-``mode()``-compatible mode: most frequent non-null value,
    ties broken by smallest value."""
    r = (
        df.where(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), F.asc(col))
        .limit(1)
        .collect()
    )
    return r[0][col] if r else None


def apply_autofix(
    df: DataFrame, options: AutofixOptions | None = None
) -> DataFrame:
    """The reference's `_apply_autofix_clean`, as one declarative plan.

    Returns a DataFrame with the same columns; stats gathered along the
    way land in ``options.stats`` for reporting.
    """
    opt = options or AutofixOptions()
    num_cols = numeric_columns(df)
    str_cols = string_columns(df)

    # --- stats passes (batched) ------------------------------------------
    quantiles, null_counts = (
        _numeric_quantiles(
            df, num_cols, opt.exact_quantiles, opt.fill_numeric_missing
        )
        if (opt.fill_numeric_missing or opt.clip_outliers)
        else ({}, {})
    )
    modes = (
        {c: _column_mode(df, c) for c in str_cols}
        if opt.fill_categorical_missing
        else {}
    )
    opt.stats = {"quantiles": quantiles, "modes": modes}

    # --- single select applying every repair -----------------------------
    exprs: list[F.Column] = []
    for c in df.columns:
        qc = F.col(c)
        if c in set(num_cols):
            q1, med, q3 = quantiles.get(c, (None, None, None))
            if (
                opt.fill_numeric_missing
                and med is not None
                and null_counts.get(c, 0) > 0
            ):
                # pandas promotes a NaN-bearing int column to float64 and
                # fills the (often fractional) interpolated median — so
                # fill the DOUBLE median, never truncate to the int type;
                # columns without nulls keep their type (fillna no-op)
                qc = F.coalesce(qc.cast("double"), F.lit(float(med)))
            if opt.clip_outliers and q1 is not None and q3 is not None:
                # clip bounds computed on the already-imputed series in the
                # reference too (main.py:155-165 runs after fillna)
                iqr = q3 - q1
                if iqr != 0:
                    lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
                    qc = F.least(
                        F.greatest(qc.cast("double"), F.lit(lo)), F.lit(hi)
                    )
        elif c in set(str_cols):
            if opt.fill_categorical_missing and modes.get(c) is not None:
                qc = F.coalesce(qc, F.lit(modes[c]))
            if opt.mask_pii:
                lower = c.lower()
                if "email" in lower:
                    qc = F.regexp_replace(qc, EMAIL_MASK_RE, "***@")
                if "phone" in lower or "mobile" in lower:
                    qc = F.regexp_replace(qc, PHONE_MASK_RE, "*")
        if opt.parse_dates and "date" in c.lower():
            # reference (main.py:176-183) runs pd.to_datetime on ANY
            # date-named column and emits %Y-%m-%d strings, skipping the
            # column when parsing raises; best-effort equivalent: the
            # column becomes string, original value kept per-row when
            # the parse fails (incl. non-string date-named columns,
            # whose values are stringified rather than epoch-decoded)
            # try_to_timestamp: NULL on malformed input (plain
            # to_timestamp THROWS under Spark 4's ANSI default)
            parsed = F.date_format(F.try_to_timestamp(qc.cast("string")), "yyyy-MM-dd")
            qc = F.coalesce(parsed, qc.cast("string"))
        exprs.append(qc.alias(c))
    return df.select(*exprs)


def mask_pii_hash(df: DataFrame, pii_cols: list[str]) -> DataFrame:
    """A7 — SHA-256 hash of PII column values, nulls preserved
    (autofix.py:268-280; disabled by default there too)."""
    out = df
    for c in pii_cols:
        if c in df.columns:
            out = out.withColumn(
                c,
                F.when(
                    F.col(c).isNotNull(), F.sha2(F.col(c).cast("string"), 256)
                ),
            )
    return out


# ------------------------------------------------------------- script builder


def build_autofix_plan(
    dataset_name: str,
    profile: dict[str, Any],
    pii_result: dict[str, Any],
) -> dict[str, Any]:
    """A8 — plan of repair steps with generated **PySpark** code. Step
    ids/categories/enabled flags match the reference plan
    (autofix.py:147-289); the code bodies are Spark."""
    basic = profile.get("basic_profile") or {}
    types = basic.get("inferred_types") or {}

    def _cols(pred) -> list[str]:
        return sorted({c for c, t in types.items() if pred(c, str(t).lower())})

    numeric_cols = _cols(lambda c, t: t in ("integer", "number"))
    date_cols = sorted(
        set(_cols(lambda c, t: "date" in t or "time" in t))
        | {c for c in types if any(k in c.lower() for k in ("date", "dt", "timestamp"))}
    )
    cat_cols = _cols(lambda c, t: t == "string")
    email_cols = sorted(c for c in types if "email" in c.lower())
    pii_cols = sorted(
        {i["column"] for i in pii_result.get("pii_columns") or [] if i.get("column")}
    )

    header = (
        f'"""AutoFix script for dataset: {dataset_name} '
        '(generated by datalakequality_spark)."""\n'
        "from pyspark.sql import SparkSession, functions as F\n\n"
        'INPUT_PATH = "input.parquet"\n'
        'OUTPUT_PATH = "autofixed_output.parquet"\n\n'
        "spark = SparkSession.builder.getOrCreate()\n"
        "df = spark.read.parquet(INPUT_PATH)\n\n"
        f"NUMERIC_COLUMNS = {numeric_cols}\n"
        f"DATE_COLUMNS = {date_cols}\n"
        f"CATEGORICAL_COLUMNS = {cat_cols}\n"
        f"EMAIL_COLUMNS = {email_cols}\n"
        f"PII_COLUMNS = {pii_cols}\n"
    )
    footer = "\ndf.write.mode('overwrite').parquet(OUTPUT_PATH)\n"

    steps: list[dict[str, Any]] = []
    if numeric_cols:
        steps.append(
            {
                "id": "missing_numeric_impute",
                "label": "Fill missing numeric values with median",
                "category": "missing",
                "enabled": True,
                "description": "For each numeric column, fill NULLs with the column median.",
                "code": (
                    "meds = df.agg(*[F.expr(f\"percentile(`{c}`, 0.5D)\").alias(c)"
                    " for c in NUMERIC_COLUMNS]).first().asDict()\n"
                    "for c in NUMERIC_COLUMNS:\n"
                    "    if meds[c] is not None:\n"
                    "        df = df.withColumn(c, F.coalesce(F.col(c), F.lit(meds[c])))\n"
                ),
            }
        )
    if cat_cols:
        steps.append(
            {
                "id": "missing_categorical_impute",
                "label": "Fill missing categorical values with mode",
                "category": "missing",
                "enabled": True,
                "description": "For each categorical column, fill NULLs with the most frequent value.",
                "code": (
                    "for c in CATEGORICAL_COLUMNS:\n"
                    "    top = (df.where(F.col(c).isNotNull()).groupBy(c).count()\n"
                    "           .orderBy(F.desc('count'), F.asc(c)).limit(1).collect())\n"
                    "    if top:\n"
                    "        df = df.withColumn(c, F.coalesce(F.col(c), F.lit(top[0][c])))\n"
                ),
            }
        )
    if numeric_cols:
        steps.append(
            {
                "id": "outlier_clip_iqr",
                "label": "Clip numeric outliers using IQR (1.5x)",
                "category": "outliers",
                "enabled": True,
                "description": "Winsorize values beyond the 1.5 * IQR range for numeric columns.",
                "code": (
                    "qs = df.agg(*[F.expr(f\"percentile(`{c}`, array(0.25D, 0.75D))\")"
                    ".alias(c) for c in NUMERIC_COLUMNS]).first().asDict()\n"
                    "for c in NUMERIC_COLUMNS:\n"
                    "    q1, q3 = qs[c]\n"
                    "    iqr = q3 - q1\n"
                    "    if iqr != 0:\n"
                    "        df = df.withColumn(c, F.least(F.greatest(F.col(c).cast('double'),\n"
                    "            F.lit(q1 - 1.5 * iqr)), F.lit(q3 + 1.5 * iqr)))\n"
                ),
            }
        )
    if date_cols:
        steps.append(
            {
                "id": "date_parse_iso",
                "label": "Parse date/time columns to ISO-8601",
                "category": "dates",
                "enabled": True,
                "description": "Parse DATE_COLUMNS and format as ISO strings; unparseable values keep their original text.",
                "code": (
                    "for c in DATE_COLUMNS:\n"
                    "    iso = F.date_format(F.try_to_timestamp(F.col(c).cast('string')),\n"
                    "                        \"yyyy-MM-dd'T'HH:mm:ss\")\n"
                    "    df = df.withColumn(c, F.coalesce(iso, F.col(c).cast('string')))\n"
                ),
            }
        )
    if email_cols:
        steps.append(
            {
                "id": "email_normalize",
                "label": "Normalize email columns (trim + lowercase)",
                "category": "strings",
                "enabled": True,
                "description": "Strip whitespace and lowercase email addresses for consistency.",
                "code": (
                    "for c in EMAIL_COLUMNS:\n"
                    "    df = df.withColumn(c, F.lower(F.trim(F.col(c))))\n"
                ),
            }
        )
    if pii_cols:
        steps.append(
            {
                "id": "pii_mask",
                "label": "Mask PII columns (hash values)",
                "category": "pii",
                "enabled": False,  # conservative default, as in the reference
                "description": "Hash PII columns using SHA256 to reduce exposure of raw values.",
                "code": (
                    "for c in PII_COLUMNS:\n"
                    "    df = df.withColumn(c, F.when(F.col(c).isNotNull(),\n"
                    "        F.sha2(F.col(c).cast('string'), 256)))\n"
                ),
            }
        )

    return {"header": header, "footer": footer, "steps": steps}


def assemble_script(plan: dict[str, Any]) -> str:
    body = "\n".join(
        s["code"] for s in plan.get("steps") or [] if s.get("enabled") and s.get("code")
    )
    return (
        plan.get("header", "").rstrip()
        + "\n\n"
        + body.rstrip()
        + "\n\n"
        + plan.get("footer", "").lstrip()
    )


def build_autofix(
    dataset_name: str,
    profile: dict[str, Any],
    pii_result: dict[str, Any],
    outlier_result: dict[str, Any] | None = None,
) -> tuple[dict[str, Any], str]:
    """(plan, script) — the reference's build_autofix surface
    (autofix.py:313-353)."""
    plan = build_autofix_plan(dataset_name, profile, pii_result)
    return plan, assemble_script(plan)
