"""Intelligent analysis of validation runs — the Spark analog of the
reference's advisory layer (sql_testing/intelligent_analysis.py:97-617
performance-trend / slow-test insights, db/query_analyzer.py:116-243
slow-query detection + optimization suggestions).

The reference re-parses SQL strings with regexes to guess complexity;
Spark hands us the real physical plan, so the analysis here works on
what will actually execute:

- **slow-rule insights** — a rule whose latest wall time is a p95
  outlier against its own run history (query_analyzer.get_slow_queries
  semantics over the durable JSONL history), or an outlier across the
  current run's rules.
- **plan smells** — `explain(mode="formatted")` captured per non-fused
  rule job, scanned for the patterns that kill 100 TB runs:
  cartesian / broadcast-nested-loop joins, parquet scans whose filters
  did NOT push down, and row-at-a-time Python UDFs (BatchEvalPython).

Everything is driver-side string/number work over already-collected
outcomes — zero extra Spark jobs.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field
from typing import Any, Iterable, Mapping, Sequence

from pyspark.sql import DataFrame


@dataclass
class Insight:
    """One advisory finding (reference AnalysisInsight,
    intelligent_analysis.py:55-66)."""

    kind: str  # slow_rule | plan_smell
    severity: str  # info | warning
    rule_id: str
    message: str
    details: dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        return {
            "kind": self.kind,
            "severity": self.severity,
            "rule_id": self.rule_id,
            "message": self.message,
            "details": self.details,
        }


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The text ``df.explain(mode)`` would print, as a string (PySpark
    only offers the printing form)."""
    try:
        return df.sparkSession._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), mode
        )
    except Exception:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode=mode)
        return buf.getvalue()


def plan_smells(plan_text: str, rule_id: str = "") -> list[Insight]:
    """Scan a formatted physical plan for scale-killing shapes
    (the executable-plan analog of the reference's regex heuristics,
    query_analyzer.py:459-539)."""
    out: list[Insight] = []
    if not plan_text:
        return out
    if "CartesianProduct" in plan_text or "BroadcastNestedLoopJoin" in plan_text:
        join_kind = (
            "CartesianProduct"
            if "CartesianProduct" in plan_text
            else "BroadcastNestedLoopJoin"
        )
        out.append(Insight(
            kind="plan_smell", severity="warning", rule_id=rule_id,
            message=(
                f"{join_kind} in the plan — an all-pairs join that is "
                "quadratic in input size; add an equi-join key or a "
                "pre-filter so Spark can hash-join"
            ),
            details={"pattern": join_kind},
        ))
    # a Filter node above a columnar scan where no comparison reached the
    # reader (PushedFilters empty or only the implicit IsNotNull): the
    # scan decodes every row group only to drop rows post-hoc
    pushed = re.findall(r"PushedFilters:\s*\[([^\]]*)\]", plan_text)
    only_trivial_pushdown = bool(pushed) and all(
        not p.strip() or all(
            item.strip().startswith("IsNotNull") for item in p.split(",")
        )
        for p in pushed
    )
    # ignore conditions over aggregate outputs (HAVING-style filters sit
    # above an Aggregate and could never reach the reader — flagging
    # them would mark every group-threshold rule as a smell)
    filter_conds = [
        c for c in re.findall(r"Condition\s*:\s*(.+)", plan_text)
        if not re.search(r"\b(count|sum|avg|min|max|first|collect_\w+)\(", c)
    ]
    filter_has_comparison = any(
        re.search(r"[<>=]|LIKE|IN\b|rlike", c) for c in filter_conds
    )
    if only_trivial_pushdown and filter_has_comparison:
        out.append(Insight(
            kind="plan_smell", severity="warning", rule_id=rule_id,
            message=(
                "Filter present but the file scan shows PushedFilters: [] "
                "— the predicate is not reaching the reader (cast/UDF over "
                "the column?); rows are decoded then discarded"
            ),
            details={"pattern": "unpushed_filter"},
        ))
    if "BatchEvalPython" in plan_text:
        out.append(Insight(
            kind="plan_smell", severity="warning", rule_id=rule_id,
            message=(
                "row-at-a-time Python UDF (BatchEvalPython) in the hot "
                "path — convert to a pandas UDF (ArrowEvalPython) or a "
                "built-in expression"
            ),
            details={"pattern": "BatchEvalPython"},
        ))
    return out


def _p95(values: Sequence[float]) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(round(0.95 * (len(s) - 1))))]


def _outcomes(report: Any) -> list[Any]:
    from types import SimpleNamespace

    raw = report["outcomes"] if isinstance(report, Mapping) else report.outcomes
    return [
        SimpleNamespace(**{"plan": "", "elapsed_sec": 0.0, **o})
        if isinstance(o, Mapping)
        else o
        for o in raw
    ]


def slow_rules(
    report: Any,
    history: Iterable[Mapping[str, Any]] = (),
    min_sec: float = 0.5,
    regression_factor: float = 3.0,
) -> list[Insight]:
    """Flag rules whose latest wall time is an outlier.

    Two detectors (both gated on ``min_sec`` so micro-rules never
    alarm):
    - **history regression**: latest elapsed exceeds both the rule's own
      p95 over stored runs and ``regression_factor`` × its median
      (needs ≥3 historical samples).
    - **current-run outlier**: elapsed ≥ the p95 of this run's rules AND
      > 2 × the run median (needs ≥5 rules).
    """
    insights: list[Insight] = []
    hist: dict[str, list[float]] = {}
    for rec in history or ():
        for rid, vals in (rec.get("rules") or {}).items():
            e = vals.get("elapsed_sec")
            if e is not None:
                hist.setdefault(rid, []).append(float(e))

    outcomes = _outcomes(report)
    flagged: set[str] = set()
    for o in outcomes:
        e = float(o.elapsed_sec or 0.0)
        h = hist.get(o.rule_id, [])
        if e >= min_sec and len(h) >= 3:
            med, p95 = statistics.median(h), _p95(h)
            if e > p95 and e > regression_factor * med:
                flagged.add(o.rule_id)
                insights.append(Insight(
                    kind="slow_rule", severity="warning", rule_id=o.rule_id,
                    message=(
                        f"rule took {e:.2f}s — above its own history "
                        f"(median {med:.2f}s, p95 {p95:.2f}s over "
                        f"{len(h)} runs)"
                    ),
                    details={"elapsed_sec": e, "median": med, "p95": p95,
                             "runs": len(h)},
                ))

    timed = [float(o.elapsed_sec or 0.0) for o in outcomes]
    if len(timed) >= 5:
        run_p95, run_med = _p95(timed), statistics.median(timed)
        for o in outcomes:
            e = float(o.elapsed_sec or 0.0)
            if (
                o.rule_id not in flagged
                and e >= min_sec
                and e >= run_p95
                and e > 2 * run_med
            ):
                insights.append(Insight(
                    kind="slow_rule", severity="info", rule_id=o.rule_id,
                    message=(
                        f"rule took {e:.2f}s — p95 outlier for this run "
                        f"(run median {run_med:.2f}s)"
                    ),
                    details={"elapsed_sec": e, "run_median": run_med,
                             "run_p95": run_p95},
                ))
    return insights


def flaky_rules(
    history: Iterable[Mapping[str, Any]],
    min_runs: int = 6,
    min_flakiness: float = 0.15,
) -> list[Insight]:
    """Rules that flip between pass and fail across stored runs
    (reference _detect_flaky_tests, intelligent_analysis.py:270-317:
    flakiness = min(passes, fails) / runs). A data-quality rule that
    alternates usually means a threshold sitting on the data's noise
    floor — worth a max_violations margin, not a nightly page."""
    runs: dict[str, list[bool]] = {}
    for rec in history or ():
        for rid, vals in (rec.get("rules") or {}).items():
            if "passed" in vals:
                runs.setdefault(rid, []).append(bool(vals["passed"]))
    out: list[Insight] = []
    for rid, statuses in runs.items():
        n = len(statuses)
        if n < min_runs:
            continue
        passes = sum(statuses)
        fails = n - passes
        if passes == 0 or fails == 0:
            continue
        flakiness = min(passes, fails) / n
        if flakiness >= min_flakiness:
            out.append(Insight(
                kind="flaky_rule", severity="warning", rule_id=rid,
                message=(
                    f"rule flip-flops across runs ({passes} pass / {fails} "
                    f"fail over {n}) — threshold likely sits on the data's "
                    "noise floor; consider a max_violations margin"
                ),
                details={"flakiness": round(flakiness, 3), "runs": n,
                         "passes": passes, "fails": fails},
            ))
    return out


def degrading_rules(
    history: Iterable[Mapping[str, Any]],
    min_runs: int = 5,
    min_slope_frac: float = 0.10,
    min_sec: float = 1.0,
) -> list[Insight]:
    """Rules whose wall time TRENDS upward over stored runs (reference
    _analyze_performance_trends, intelligent_analysis.py:224-268):
    least-squares slope over run index, flagged when the per-run growth
    exceeds ``min_slope_frac`` of the mean and the rule is slow enough
    to matter. Catches the creep slow_rules' outlier check misses —
    e.g. an unpartitioned input growing 5% per day."""
    series: dict[str, list[float]] = {}
    for rec in history or ():
        for rid, vals in (rec.get("rules") or {}).items():
            e = vals.get("elapsed_sec")
            if e is not None:
                series.setdefault(rid, []).append(float(e))
    out: list[Insight] = []
    for rid, ys in series.items():
        n = len(ys)
        if n < min_runs:
            continue
        mean_y = statistics.fmean(ys)
        if mean_y < min_sec:
            continue
        mean_x = (n - 1) / 2
        denom = sum((i - mean_x) ** 2 for i in range(n))
        slope = sum((i - mean_x) * (y - mean_y) for i, y in enumerate(ys)) / denom
        if slope / mean_y >= min_slope_frac:
            out.append(Insight(
                kind="degrading_rule", severity="warning", rule_id=rid,
                message=(
                    f"rule wall time trending up {slope:.2f}s/run "
                    f"({100 * slope / mean_y:.0f}%/run of its {mean_y:.2f}s "
                    f"mean over {n} runs)"
                ),
                details={"slope_sec_per_run": round(slope, 4),
                         "mean_sec": round(mean_y, 4), "runs": n},
            ))
    return out


def failure_patterns(report: Any, min_count: int = 2) -> list[Insight]:
    """Group this run's failed rules by normalized message pattern
    (reference _analyze_failure_patterns, intelligent_analysis.py:
    184-222 + _extract_error_pattern :569-595): numbers and quoted
    values stripped, so N rules failing the same way surface as ONE
    systemic insight (a renamed column, a dead upstream table) instead
    of N separate red rows."""
    groups: dict[str, list[str]] = {}
    for o in _outcomes(report):
        if getattr(o, "passed", True) or getattr(o, "skipped", False):
            continue
        msg = str(getattr(o, "message", "") or "")
        pattern = re.sub(r"\d+", "<n>", msg)
        pattern = re.sub(r"'[^']*'|\"[^\"]*\"", "<val>", pattern).strip()
        if not pattern:
            pattern = "<violations over threshold>"
        groups.setdefault(pattern, []).append(o.rule_id)
    out: list[Insight] = []
    total_failed = sum(len(v) for v in groups.values())
    for pattern, rids in groups.items():
        if len(rids) >= min_count:
            freq = len(rids) / total_failed
            out.append(Insight(
                kind="failure_pattern",
                severity="warning" if freq > 0.5 else "info",
                rule_id=",".join(sorted(rids)),
                message=(
                    f"{len(rids)} rules failed the same way "
                    f"({freq:.0%} of failures): {pattern!r} — likely one "
                    "systemic cause, not independent data issues"
                ),
                details={"pattern": pattern, "rules": sorted(rids),
                         "frequency": round(freq, 3)},
            ))
    return out


def analyze_report(
    report: Any, history: Iterable[Mapping[str, Any]] = ()
) -> list[Insight]:
    """All insights for one run: slow/flaky/degrading-rule detectors,
    same-cause failure grouping, and plan smells over every captured
    plan (engine ``capture_plans=True``). Rules compiled into one fused
    action share its plan, so each distinct plan is scanned once and its
    smells name every rule that ran under it."""
    insights = slow_rules(report, history)
    insights.extend(flaky_rules(history))
    insights.extend(degrading_rules(history))
    insights.extend(failure_patterns(report))
    for plan, rule_ids in plan_groups(_outcomes(report)).items():
        insights.extend(plan_smells(plan, ",".join(rule_ids)))
    return insights


def plan_groups(outcomes: Iterable[Any]) -> dict[str, list[str]]:
    """Captured plan text → ids of the rules that ran under it, in
    outcome order (outcomes without a plan are left out)."""
    groups: dict[str, list[str]] = {}
    for o in outcomes:
        plan = getattr(o, "plan", "") or ""
        if plan:
            groups.setdefault(plan, []).append(o.rule_id)
    return groups
