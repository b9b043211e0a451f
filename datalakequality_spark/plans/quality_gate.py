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
- ``gate_files`` runs the same checks per data file in ONE grouped
  aggregation over ``input_file_name()`` and returns quarantine
  decisions — this is what compaction calls inside each pass
  (north_star: "quality gates that run inside each compaction pass and
  quarantine failing files"). Its two halves, ``gate_aggregates`` and
  ``gate_verdicts``, also run inside the sorted rewrite's planning job,
  next to the curve-key sample.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import Column, DataFrame
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
from ..sources.icemini import local_path
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


def gate_aggregates(
    df_with_file: DataFrame, global_stats: tuple[float, float] | None = None
) -> list[Column]:
    """The gate's per-file aggregate columns — ``rows``, ``nulls``
    (n_tok), ``outliers`` (n_tok z > 3 against the GLOBAL distribution),
    ``pii_rows`` (doc_id PII regex hits) and ``tokens`` — to run in a
    ``groupBy("__file")`` over the light columns ``doc_id`` and
    ``n_tok``. The global n_tok mean/pop-std come from ``global_stats``
    (the caller's manifest moments: zero data passes — Σn_tok and
    Σn_tok² live in the file stats), else from one tiny job over
    ``df_with_file``."""
    if global_stats is not None:
        gmean, gstd = global_stats
    else:
        g = df_with_file.agg(
            F.avg("n_tok").alias("mean"), F.stddev_pop("n_tok").alias("std")
        ).first()
        gmean = float(g["mean"]) if g["mean"] is not None else 0.0
        gstd = float(g["std"]) if g["std"] is not None else 0.0

    z_out = (
        F.abs((F.col("n_tok").cast("double") - gmean) / gstd) > 3.0
        if gstd and not math.isnan(gstd)
        else F.lit(False)
    )
    pii_hit = sum(
        (F.col("doc_id").rlike(p).cast("int") for _, p in PII_TYPES), F.lit(0)
    ) > 0
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("n_tok").isNull().cast("long")).alias("nulls"),
        F.sum(z_out.cast("long")).alias("outliers"),
        F.sum(pii_hit.cast("long")).alias("pii_rows"),
        F.sum("n_tok").alias("tokens"),
    ]


def gate_verdicts(
    rows: list,
    thresholds: dict[str, Any] | None = None,
    extra_null_counts: dict[str, int] | None = None,
) -> dict[str, dict[str, Any]]:
    """Quarantine decisions from collected ``gate_aggregates`` rows,
    keyed by file path (``__file`` holds ``input_file_name()`` URIs and
    is decoded here). ``extra_null_counts`` — null rows of the tokens
    array, by path, from the manifest — count toward the null ratio. A file is
    quarantined when any threshold is exceeded."""
    thr = {
        "max_null_ratio": 0.0,  # sequences contract: tokens/n_tok required
        "max_outlier_ratio": 0.10,
        "max_pii_ratio": 0.05,
        **(thresholds or {}),
    }
    extra = extra_null_counts or {}
    out: dict[str, dict[str, Any]] = {}
    for r in rows:
        path = local_path(r["__file"])
        n = max(int(r["rows"]), 1)
        null_ratio = max(int(r["nulls"] or 0), extra.get(path, 0)) / n
        outlier_ratio = int(r["outliers"] or 0) / n
        pii_ratio = int(r["pii_rows"] or 0) / n
        reasons = []
        if null_ratio > thr["max_null_ratio"]:
            reasons.append(f"null_ratio {null_ratio:.4f} > {thr['max_null_ratio']}")
        if outlier_ratio > thr["max_outlier_ratio"]:
            reasons.append(
                f"outlier_ratio {outlier_ratio:.4f} > {thr['max_outlier_ratio']}"
            )
        if pii_ratio > thr["max_pii_ratio"]:
            reasons.append(f"pii_ratio {pii_ratio:.4f} > {thr['max_pii_ratio']}")
        out[path] = {
            "rows": int(r["rows"]),
            "tokens": int(r["tokens"] or 0),
            "null_ratio": null_ratio,
            "outlier_ratio": outlier_ratio,
            "pii_ratio": pii_ratio,
            "quarantined": bool(reasons),
            "reasons": reasons,
        }
    return out


def gate_files(
    df_with_file: DataFrame,
    thresholds: dict[str, Any] | None = None,
    extra_null_counts: dict[str, int] | None = None,
    global_stats: tuple[float, float] | None = None,
) -> dict[str, dict[str, Any]]:
    """Per-FILE quality metrics in ONE grouped aggregation over
    ``__file`` (``input_file_name()``, set by the caller), plus
    quarantine decisions, keyed by file path.

    Metrics per file over the sequences schema: row count, null
    n_tok/tokens (tokens nulls come from ``extra_null_counts`` — the
    writer's manifest stats — so the array column is never scanned), n_tok z-outliers vs
    the GLOBAL distribution, doc_id PII regex hits. A file is
    quarantined when any threshold is exceeded — failing files are
    excluded from the maintenance commit and listed in the snapshot's
    quarantine metadata.
    """
    rows = (
        df_with_file.groupBy("__file")
        .agg(*gate_aggregates(df_with_file, global_stats))
        .collect()
    )
    return gate_verdicts(rows, thresholds, extra_null_counts)
