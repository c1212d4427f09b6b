"""Cross-suite orchestration: compose multiple rule-sets into ONE run
with aggregate reporting.

Reference surface: ``sql_testing/orchestration.py:1-888`` (workflow
composition of suites) and ``enterprise_executor.py:1-964`` (multi-
rule-set enterprise runs with merged results). The Spark analog is
deliberately thin: bind every set to its input table, compile the run
into as few Spark actions as its gating allows, merge verdicts.

Without run-level ``fail_fast`` every set goes through ONE
``ValidationEngine.run_many`` call: the row, uniqueness and referential
rules of all sets compile to one aggregate per (set, table)
(compile.table_checks), unioned into a single ``collect()`` whose rows
split back into per-set reports in declaration order. A set with its
own ``fail_fast`` is cut into gated stages (row pass, then each
dependency wave) that run through the same compiler.

Parallelism note: ``parallel=N`` only overlaps ``fail_fast`` stages and
SqlRules. Under run-level ``fail_fast`` each set is one gated stage, and
up to N of them run from driver threads pinned to the
``sparkcheck-orchestrate`` FAIR pool (``get_spark`` sets
``spark.scheduler.mode=FAIR``) so one suite's large scan cannot
serialize the others behind it. SqlRules keep one job each on their
set's wave thread pool (``RuleSet.max_concurrent``). A run without
``fail_fast`` is one fused action, which ``parallel`` does not change.

``fail_fast=True`` stops launching new rule-sets once one has FAILED
(error-severity violations); already-running ones finish — on the
parallel path a shared stop flag is checked as each queued set comes up
for execution, so sets queued behind a failure are skipped there too.
Skipped sets are reported by name so a resumed run knows what remains.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from sparkcheck.rules.models import RuleSet
from sparkcheck.run.engine import ValidationEngine, ValidationReport


@dataclass
class OrchestrationResult:
    """Aggregate of one multi-suite run: per-suite reports in launch
    order, plus the sets fail_fast skipped."""

    reports: dict[str, ValidationReport] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    elapsed_sec: float = 0.0

    @property
    def passed(self) -> bool:
        return not self.skipped and all(r.passed for r in self.reports.values())

    @property
    def total_violations(self) -> int:
        return sum(r.total_violations for r in self.reports.values())

    def summary_dict(self) -> dict[str, Any]:
        return {
            "passed": self.passed,
            "rule_sets": len(self.reports),
            "failed_sets": [n for n, r in self.reports.items() if not r.passed],
            "skipped_sets": list(self.skipped),
            "total_violations": self.total_violations,
            "elapsed_sec": self.elapsed_sec,
            "sets": {n: r.summary_dict() for n, r in self.reports.items()},
        }


def run_rulesets(
    spark: SparkSession,
    rulesets: Mapping[str, RuleSet] | Sequence[RuleSet],
    tables: Mapping[str, DataFrame],
    default_table: str | None = None,
    parallel: int = 0,
    fail_fast: bool = False,
    capture_plans: bool = False,
    history_path: str | None = None,
) -> OrchestrationResult:
    """Run every rule-set against its bound table and merge results.

    Each set binds to ``tables[set.table]`` when the set declares a
    table (YAML ``table:``), else to ``default_table`` / the first
    entry. ``parallel=N`` overlaps up to N sets via driver threads
    (Spark FAIR pool interleaves their jobs); 0/1 = sequential.
    ``history_path`` appends every suite's record for trend reports."""
    sets = list(rulesets.values()) if isinstance(rulesets, Mapping) else list(rulesets)
    if not sets:
        raise ValueError("no rule sets to orchestrate")
    names = [rs.name for rs in sets]
    dupes = sorted({n for n in names if names.count(n) > 1})
    if dupes:
        # reports are keyed by name — a duplicate would silently drop a
        # suite's verdict from the aggregate gate
        raise ValueError(f"duplicate rule-set names: {dupes}")
    fallback = default_table or next(iter(tables))
    for rs in sets:
        bind = rs.table or fallback
        if bind not in tables:
            raise KeyError(
                f"rule set {rs.name!r} binds to unknown table {bind!r} "
                f"(have: {sorted(tables)})"
            )

    result = OrchestrationResult()
    t0 = time.monotonic()
    engine = ValidationEngine(spark, capture_plans=capture_plans)
    if not fail_fast:
        bindings = [(rs, rs.table or fallback) for rs in sets]
        reps = engine.run_many(bindings, tables)
        result.reports = {rs.name: rep for rs, rep in zip(sets, reps)}
        result.elapsed_sec = time.monotonic() - t0
        _append_history(result, history_path)
        return result

    stop = threading.Event()  # set on first failure

    def _run_one(rs: RuleSet) -> ValidationReport | None:
        if stop.is_set():
            return None  # queued behind a failure — skip
        # thread-local FAIR pool so overlapped suites' jobs interleave
        # instead of FIFO-serializing behind one suite's large scan
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "sparkcheck-orchestrate"
        )
        try:
            rep = engine.run(rs, tables, default_table=rs.table or fallback)
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
        if not rep.passed:
            stop.set()
        return rep

    if parallel and parallel > 1 and len(sets) > 1:
        # Submit ROLLING: keep at most `parallel` in flight and top up as
        # each future finishes. Submitting every set up front would start
        # them all before the first failure can raise the stop flag
        # (fail_fast degrades to a no-op whenever max_workers >=
        # len(sets)); a wave BARRIER fixes that but lets one straggler per
        # wave idle every other worker across otherwise-passing suites.
        # Rolling keeps full overlap while a failure still halts
        # submission within one in-flight window.
        with ThreadPoolExecutor(max_workers=parallel) as pool:
            pending = list(sets)
            in_flight: dict[Any, RuleSet] = {}
            while pending or in_flight:
                if stop.is_set():
                    result.skipped.extend(rs.name for rs in pending)
                    pending = []
                while pending and len(in_flight) < parallel:
                    rs = pending.pop(0)
                    in_flight[pool.submit(_run_one, rs)] = rs
                if not in_flight:
                    break
                done, _ = wait(in_flight, return_when=FIRST_COMPLETED)
                for fut in done:
                    rs = in_flight.pop(fut)
                    rep = fut.result()
                    if rep is None:
                        result.skipped.append(rs.name)
                    else:
                        result.reports[rs.name] = rep
        # completion order is nondeterministic under overlap — re-key the
        # report dict to declaration order so aggregate output is stable
        result.reports = {
            rs.name: result.reports[rs.name]
            for rs in sets if rs.name in result.reports
        }
        result.skipped.sort(key=[rs.name for rs in sets].index)
    else:
        for rs in sets:
            rep = _run_one(rs)
            if rep is None:
                result.skipped.append(rs.name)
            else:
                result.reports[rs.name] = rep
    result.elapsed_sec = time.monotonic() - t0
    _append_history(result, history_path)
    return result


def _append_history(result: OrchestrationResult, history_path: str | None) -> None:
    if history_path:
        from sparkcheck.io.html_report import append_history

        for rep in result.reports.values():
            append_history(rep, history_path)
