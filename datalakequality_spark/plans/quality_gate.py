"""Quality-gate pipeline — the reference's intended orchestration
(SURVEY.md §3.2; /root/reference/backend/app/core/quality_gate.py:21-161
is the coherent spec even where its own imports are broken).

Order preserved exactly: profile → contract → PII → outliers → drift →
score → merged summary → policy gate → narration/autofix → report →
history persist. The engine flavor:

- metrics come from batched Spark aggregations (each kernel documents
  its job count; a full gate is ~6 jobs regardless of column count);
- outliers reuse the profile's mean/std/count stats (one shared pass);
- state (contract, drift/schema baselines, history) lives in a
  StateStore rooted next to the table's snapshots;
- ``file_gate`` is the one per-file gate (north_star: "quality gates
  that run inside each compaction pass and quarantine failing files"):
  from the manifest it sets up the null rows and n_tok moments, and it
  returns the per-file aggregate columns for ONE grouped aggregation
  over ``input_file_name()`` plus the judge that turns its rows into
  quarantine records against the thresholds. Compaction's
  ``gate_batch``, both stream sinks and ``cli gate`` run it through
  ``gate_entries`` (one job over the light columns); the sorted
  rewrite runs its columns inside its planning job, next to the
  curve-key sample.
"""

from __future__ import annotations

import math
import os
from datetime import datetime, timezone
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from ..functions.narration import build_alerts, build_explanations, generate_insights
from ..operators.contracts import evaluate_policy, validate_contract
from ..operators.drift import analyze_drift_against_baseline, build_numeric_baseline
from ..operators.outliers import detect_outliers
from ..operators.pii import PII_TYPES, detect_pii
from ..operators.profiling import numeric_columns, profile_dataset, string_columns
from ..operators.schema_change import detect_schema_changes
from ..operators.scoring import compute_quality_score
from ..operators.autofix import build_autofix
from ..sources.icemini import FileEntry, IceMiniTable, local_path
from ..sources.state import StateStore


def run_quality_gate(
    df: DataFrame,
    dataset_name: str,
    state: StateStore,
    save_history: bool = True,
    exact_stats: bool = False,
) -> dict[str, Any]:
    """Full consolidated report over one DataFrame. Matches the
    reference's report dict field-for-field (quality_gate.py:138-156),
    with Spark-generated autofix script.

    ``exact_stats=False`` (default — the 100 TB path) profiles with HLL
    sketches for per-column distincts AND the duplicate-row count, so
    the whole profile is one shuffle-free job; pass True for bit-exact
    reference parity (adds the countDistinct expand + a full-row
    distinct shuffle — reserve for parity tests / small tables)."""
    # 1) profiling
    profile = profile_dataset(df, exact_distinct=exact_stats)
    summary = profile["summary"]
    basic_profile = profile["basic_profile"]

    # 2) contract
    contract_obj = state.load_contract(dataset_name)
    if contract_obj is None:
        contract_result = {
            "contract_name": None,
            "required_columns": {"present": [], "missing": []},
            "type_mismatches": [],
            "unique_violations": [],
            "passed": False,
            "note": "No contract found for this dataset; treated as warning.",
        }
        contract_violations = 0
    else:
        contract_result = validate_contract(df, contract_obj)
        contract_violations = (
            len(contract_result["required_columns"]["missing"])
            + len(contract_result["type_mismatches"])
            + len(contract_result["unique_violations"])
        )

    # 3) PII
    pii_result = detect_pii(df)
    pii_column_count = pii_result.get("pii_column_count", 0)

    # 4) outliers — reuse the profile's stats pass
    stats = {
        c: {
            "mean": basic_profile["column_stats"][c].get("mean"),
            "std": basic_profile["column_stats"][c].get("std"),
            "value_count": summary["row_count"]
            - basic_profile["column_stats"][c]["missing_count"],
        }
        for c in numeric_columns(df)
    }
    outliers_result = detect_outliers(df, stats=stats)
    overall_outlier_ratio = outliers_result.get("overall_outlier_ratio", 0.0)

    # 5) drift — baseline from state; first run creates it
    baseline = state.load_drift_baseline(dataset_name)
    if baseline is None:
        cols = build_numeric_baseline(df)
        state.save_drift_baseline(dataset_name, cols)
        drift_result = {"baseline_created": True, "has_drift": False, "columns": []}
    else:
        drift_result = analyze_drift_against_baseline(
            df, baseline.get("columns", {})
        )
    has_drift = bool(drift_result.get("has_drift", False))

    # 6) score
    score_obj = compute_quality_score(
        missing_ratio=summary["missing_ratio"],
        duplicate_ratio=summary["duplicate_ratio"],
        contract_violations=contract_violations,
        pii_column_count=pii_column_count,
        overall_outlier_ratio=overall_outlier_ratio,
        has_drift=has_drift,
    )

    summary_extended = {
        **summary,
        "pii_column_count": pii_column_count,
        "contract_violations": contract_violations,
        "overall_outlier_ratio": overall_outlier_ratio,
        "has_drift": has_drift,
    }

    # 7) policy gate
    policy_result = evaluate_policy(
        contract=contract_obj,
        quality_score=score_obj["score"],
        summary=summary_extended,
        drift=drift_result,
    )

    # schema-change detection (main.py report includes it via alerts)
    schema_baseline = state.load_schema_baseline(dataset_name)
    schema_changes, current_schema = detect_schema_changes(
        profile, pii_result, schema_baseline
    )
    if schema_changes["status"] == "baseline_created":
        state.save_schema_baseline(dataset_name, current_schema)

    # 8) narration + autofix plan/script
    explanations = build_explanations(
        summary_extended, contract_result, pii_result, outliers_result, drift_result
    )
    drift_sev = "none"
    for ci in drift_result.get("columns", []):
        s = ci.get("psi_severity", "none")
        order = {"none": 0, "moderate": 1, "severe": 2}
        if order.get(s, 0) > order.get(drift_sev, 0):
            drift_sev = s
    insights = generate_insights(
        {
            "missing_ratio": summary["missing_ratio"],
            "outlier_ratio": overall_outlier_ratio,
            "has_pii": pii_result["has_pii"],
            "pii_columns": pii_result["pii_columns"],
            "drift_severity": drift_sev,
            "schema_change_status": (
                "breaking"
                if schema_changes.get("is_breaking")
                else ("non_breaking" if schema_changes["status"] == "changed" else "")
            ),
            "overall_score": score_obj["score"],
            "policy_passed": policy_result["pipeline_passed"],
        }
    )
    autofix_plan, autofix_script = build_autofix(dataset_name, profile, pii_result)

    report: dict[str, Any] = {
        "dataset_name": dataset_name,
        "quality_score": score_obj["score"],
        "quality_label": score_obj["label"],
        "status": score_obj["label"],
        "pipeline_passed": policy_result["pipeline_passed"],
        "policy_failures": policy_result["failures"],
        "summary": summary_extended,
        "basic_profile": basic_profile,
        "contract": contract_result,
        "pii": pii_result,
        "outliers": outliers_result,
        "drift": drift_result,
        "schema_changes": schema_changes,
        "explanations": explanations,
        "insights": insights,
        "autofix_steps": autofix_plan["steps"],
        "autofix_script": autofix_script,
        "generated_at": datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")
        + "Z",
    }
    report["alerts"] = build_alerts(
        {
            **report,
            "missing_ratio": summary["missing_ratio"],
            "outlier_ratio": overall_outlier_ratio,
            "pii_columns": pii_result["pii_columns"],
            "pii_column_count": pii_column_count,
            "has_pii": pii_result["has_pii"],
            "policy_passed": policy_result["pipeline_passed"],
        }
    )
    # history points for time-travel (history.py:94-108 semantics)
    if save_history:
        state.save_run(
            dataset_name,
            {
                "overall_score": score_obj["score"],
                "missing_ratio": summary["missing_ratio"],
                "outlier_ratio": overall_outlier_ratio,
                "pipeline_passed": policy_result["pipeline_passed"],
            },
        )
        report["history"] = {"points": state.history_points(dataset_name)}
    return report


# ------------------------------------------------------- per-file gate (M5)

# a file is quarantined when any of its ratios exceeds the threshold of
# that name; a caller's ``thresholds`` override these by name
_THRESHOLDS = {
    "max_null_ratio": 0.0,  # sequences contract: tokens/n_tok required
    "max_outlier_ratio": 0.10,
    "max_pii_ratio": 0.05,
}


def _null_rows(table: IceMiniTable, e: FileEntry, column: str) -> int:
    """Null rows of ``column`` in one data file: the writer's manifest
    stat, else (files written before it) an exact count of that one
    column of that one file."""
    n = getattr(e, f"null_{column}")
    if n is None:
        import pyarrow.parquet as pq

        n = pq.read_table(table._abs(e.path), columns=[column]).column(column).null_count
    return n


def file_gate(
    table: IceMiniTable,
    entries: list[FileEntry],
    df: DataFrame,
    thresholds: dict[str, Any] | None = None,
) -> tuple[list[Column], Callable[[list[Row]], list[dict[str, Any]]]]:
    """The per-file quality gate over ``entries`` — the one place a
    data file is judged. Returns ``(columns, judge)``: the caller runs
    ``df.groupBy("__file").agg(*columns, ...)`` — ONE job, which may
    carry aggregates of its own — and ``judge(rows)`` turns the
    collected rows into the snapshot quarantine records (relative path,
    reasons, rows, tokens) of the failing files, sorted by path.

    ``df`` scans the light columns ``doc_id`` and ``n_tok`` of the
    entries' files, with ``__file`` = ``input_file_name()``. Per file
    the columns count rows, null n_tok, n_tok z-outliers (|z| > 3
    against the GLOBAL distribution of the entries) and doc_id PII
    regex hits. The tokens array is never scanned: its null rows come
    from the writer's manifest stats and count toward the null ratio.
    The global n_tok (mean, pop-std) comes from manifest moments
    (Σn_tok, Σn_tok² are in the file stats), over non-null n_tok rows
    only, as Spark's aggregates count them. Entries written before a
    stat fall back: null rows to an exact count of that one column of
    that one file, the moments to one tiny job over ``df``."""
    tokens_nulls = {table._abs(e.path): _null_rows(table, e, "tokens") for e in entries}
    moments = None
    if entries and all(e.sum_sq_n_tok is not None for e in entries):
        n = sum(e.rows - _null_rows(table, e, "n_tok") for e in entries)
        if n > 0:
            mean = sum(e.token_count for e in entries) / n
            var = sum(e.sum_sq_n_tok for e in entries) / n - mean * mean
            moments = (mean, math.sqrt(max(var, 0.0)))
    if moments is None:
        g = df.agg(F.avg("n_tok").alias("mean"), F.stddev_pop("n_tok").alias("std")).first()
        moments = (float(g["mean"] or 0.0), float(g["std"] or 0.0))
    gmean, gstd = moments

    z_out = (
        F.abs((F.col("n_tok").cast("double") - gmean) / gstd) > 3.0
        if gstd and not math.isnan(gstd)
        else F.lit(False)
    )
    pii_hit = sum(
        (F.col("doc_id").rlike(p).cast("int") for _, p in PII_TYPES), F.lit(0)
    ) > 0
    columns = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("n_tok").isNull().cast("long")).alias("nulls"),
        F.sum(z_out.cast("long")).alias("outliers"),
        F.sum(pii_hit.cast("long")).alias("pii_rows"),
        F.sum("n_tok").alias("tokens"),
    ]
    thr = {**_THRESHOLDS, **(thresholds or {})}

    def judge(rows: list[Row]) -> list[dict[str, Any]]:
        records = []
        for r in rows:
            path = local_path(r["__file"])  # a percent-encoded URI
            n = max(int(r["rows"]), 1)
            ratios = {
                "null_ratio": max(int(r["nulls"] or 0), tokens_nulls.get(path, 0)) / n,
                "outlier_ratio": int(r["outliers"] or 0) / n,
                "pii_ratio": int(r["pii_rows"] or 0) / n,
            }
            reasons = [
                f"{k} {v:.4f} > {thr[f'max_{k}']}"
                for k, v in ratios.items()
                if v > thr[f"max_{k}"]
            ]
            if reasons:
                records.append({
                    "path": os.path.relpath(path, table.root),
                    "reasons": reasons,
                    "rows": int(r["rows"]),
                    "tokens": int(r["tokens"] or 0),
                })
        return sorted(records, key=lambda q: q["path"])

    return columns, judge


def gate_entries(
    table: IceMiniTable,
    entries: list[FileEntry],
    thresholds: dict[str, Any] | None = None,
) -> list[dict[str, Any]]:
    """``file_gate`` as ONE grouped job over the light columns of
    ``entries``' files: the quarantine records of the failing files."""
    df = table.read_parquet(table.schema(), [e.path for e in entries]).select(
        "doc_id", "n_tok", F.input_file_name().alias("__file")
    )
    columns, judge = file_gate(table, entries, df, thresholds)
    return judge(df.groupBy("__file").agg(*columns).collect())
