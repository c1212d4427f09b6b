"""ValidationEngine — the driver that runs a RuleSet over tables.

Execution shape (vs the reference's per-rule thread pool,
business_rules/engine.py:615-697):

1. plan-time checks (missing tables / columns → synthetic failures,
   mirrors field_validator/__init__.py:300-316)
2. topo-sort rules (scheduler); a ``fail_fast`` set is cut into gated
   stages — the row pass, then each dependency wave — and stops after
   the first stage with a failing error-severity rule; any other set is
   a single stage
3. COMPILE every row, uniqueness and referential rule of a stage into
   one aggregate per target table (sparkcheck.compile.table_checks:
   fused conditional sums, count_distinct per unique key, orphan
   left-join hit markers) and run all of a stage's tables — across every
   rule set of the run (``run_many``) — as ONE ``collect()``
4. SqlRule keeps its own job: a stage's SQL rules run after the fused
   action, per dependency wave, from ruleset.max_concurrent driver
   threads in a FAIR pool; outcomes stay in topo / wave order
5. SqlRule runs via spark.sql with the reference's violation-row
   contract (business_rules/engine.py:516-574): each returned row is one
   violation; recognized columns violation_count / message / table_name /
   column_name; other columns → sample_values; rows with
   violation_count<=0 and no samples count as passing
6. thresholds (engine.py:429-452): a rule passes when violations ==
   expected_violations (if set) or violations <= max_violations
7. per-rule wall time + rows/s metrics in every outcome (fused rules
   share their action's wall time evenly)
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from sparkcheck.compile import (
    plan_time_check,
    rule_column,
    table_checks,
    violation_rows,
)
from sparkcheck.integrity import duplicate_violation_rows
from sparkcheck.rules.models import (
    CompletenessRule,
    FieldRule,
    ReferentialIntegrityRule,
    Rule,
    RuleSet,
    Severity,
    SqlRule,
    UniqueRule,
)
from sparkcheck.run.scheduler import topo_sort


@dataclass
class RuleOutcome:
    rule_id: str
    table: str
    column: str
    passed: bool
    violations: int
    evaluated: int
    total_rows: int
    severity: str = Severity.ERROR.value
    skipped: bool = False
    message: str = ""
    sample_values: list[Any] = field(default_factory=list)
    elapsed_sec: float = 0.0
    # formatted physical plan of the action the rule ran in (its fused
    # per-table aggregate, or its own SqlRule job), captured when the
    # engine runs with capture_plans=True (input to run.analyze smells)
    plan: str = ""

    @property
    def rows_per_sec(self) -> float:
        return self.total_rows / self.elapsed_sec if self.elapsed_sec > 0 else 0.0


@dataclass
class ValidationReport:
    ruleset: str
    outcomes: list[RuleOutcome] = field(default_factory=list)
    elapsed_sec: float = 0.0
    # wall-clock id of this run; append_history stores it as the record's
    # ts so a report can be matched to its own history record exactly
    # (matching on the violations map misidentifies stable suites)
    run_ts: float = 0.0

    @property
    def passed(self) -> bool:
        return all(o.passed or o.severity != Severity.ERROR.value for o in self.outcomes)

    @property
    def total_violations(self) -> int:
        return sum(o.violations for o in self.outcomes)

    def summary_dict(self) -> dict[str, Any]:
        return {
            "ruleset": self.ruleset,
            "passed": self.passed,
            "rules": len(self.outcomes),
            "failed_rules": [o.rule_id for o in self.outcomes if not o.passed],
            "total_violations": self.total_violations,
            "elapsed_sec": self.elapsed_sec,
        }


def split_rules(rules) -> tuple[list[Rule], list[Rule]]:
    """Partition rules into (row_rules, other_rules): row rules are
    per-row predicates (the fail_fast row pass, the checkpointed
    runner's per-group pass); others are unique / RI / SQL rules. Shared
    by the engine and the checkpointed runner so both classify
    identically."""
    row_rules: list[Rule] = []
    other_rules: list[Rule] = []
    for r in rules:
        if isinstance(r, (UniqueRule, ReferentialIntegrityRule, SqlRule)):
            other_rules.append(r)
        elif isinstance(r, (FieldRule, CompletenessRule)):
            row_rules.append(r)
        else:
            other_rules.append(r)
    return row_rules, other_rules


def _dependency_waves(rules: Sequence[Rule]) -> list[list[Rule]]:
    """Group topo-ordered rules into waves: wave i holds rules whose
    deepest in-group dependency chain has length i. Rules within a wave
    are independent of each other ⇒ safe to run concurrently; waves run
    in order so depends_on is honored. Deps on rules outside the group
    (e.g. fused row rules, which always run first) are already satisfied."""
    names = {r.name for r in rules}
    level: dict[str, int] = {}
    waves: list[list[Rule]] = []
    for r in rules:  # topo order: deps precede dependents
        lv = 1 + max((level[d] for d in r.depends_on if d in names), default=-1)
        level[r.name] = lv
        while len(waves) <= lv:
            waves.append([])
        waves[lv].append(r)
    return waves


def _threshold_pass(rule: Rule, violations: int) -> bool:
    if rule.expected_violations is not None:
        return violations == rule.expected_violations
    return violations <= rule.max_violations


def _failing(o: RuleOutcome) -> bool:
    return not o.passed and o.severity == Severity.ERROR.value


def _synthetic(r: Rule, table: str, message: str, skipped: bool = False) -> RuleOutcome:
    return RuleOutcome(
        rule_id=r.name, table=table, column=rule_column(r),
        passed=False, violations=0, evaluated=0, total_rows=0,
        severity=r.severity.value, skipped=skipped, message=message,
    )


def _fused_outcome(r: Rule, row: Any, table: str) -> RuleOutcome:
    """One table_checks row as an outcome. Unique rules report their
    non-NULL key count as evaluated/total_rows; referential rules report
    their orphan count in all three counts plus the distinct orphan keys."""
    viol = row["violations"]
    evaluated, total, message = row["evaluated"], row["total_rows"], ""
    if isinstance(r, UniqueRule):
        total = evaluated
    elif isinstance(r, ReferentialIntegrityRule):
        table, evaluated, total = r.child_table, viol, viol
        message = f"distinct orphan keys: {row['distinct_keys']}"
    return RuleOutcome(
        rule_id=r.name, table=table, column=row["column"],
        passed=_threshold_pass(r, viol), violations=viol,
        evaluated=evaluated, total_rows=total,
        severity=r.severity.value, message=message,
    )


@dataclass
class _SetRun:
    """One rule set's progress through a run: its gated stages and the
    outcomes collected so far (keyed by rule name)."""

    ruleset: RuleSet
    table: str
    order: list[str]
    stages: list[list[Rule]]
    outcomes: dict[str, RuleOutcome] = field(default_factory=dict)
    elapsed: float = 0.0
    run_ts: float = field(default_factory=time.time)

    @classmethod
    def plan(cls, ruleset: RuleSet, table: str) -> "_SetRun":
        row_rules, other_rules = split_rules(topo_sort(ruleset.enabled_rules()))
        waves = _dependency_waves(other_rules)
        order = [r.name for r in row_rules] + [r.name for w in waves for r in w]
        if ruleset.fail_fast:
            stages = [s for s in (row_rules, *waves) if s]
        else:
            stages = [row_rules + other_rules] if order else []
        return cls(ruleset, table, order, stages)

    @property
    def stopped(self) -> bool:
        return self.ruleset.fail_fast and any(map(_failing, self.outcomes.values()))

    def report(self) -> ValidationReport:
        return ValidationReport(
            ruleset=self.ruleset.name,
            outcomes=[self.outcomes[n] for n in self.order if n in self.outcomes],
            elapsed_sec=self.elapsed, run_ts=self.run_ts,
        )


class ValidationEngine:
    """Runs rule sets over named tables (a dict of DataFrames)."""

    def __init__(self, spark: SparkSession, capture_plans: bool = False):
        self.spark = spark
        # attach explain(mode="formatted") to each compiled outcome (the
        # fused per-table plan, shared by its rules) and SqlRule outcome,
        # for run.analyze smells; plan-text capture is driver-side and
        # costs no Spark job
        self.capture_plans = capture_plans

    def _plan(self, frame: DataFrame) -> str:
        if not self.capture_plans:
            return ""
        from sparkcheck.run.analyze import explain_str

        return explain_str(frame)

    def run(
        self,
        ruleset: RuleSet,
        tables: Mapping[str, DataFrame],
        default_table: str | None = None,
    ) -> ValidationReport:
        return self.run_many([(ruleset, default_table or next(iter(tables)))], tables)[0]

    def run_many(
        self,
        bindings: Sequence[tuple[RuleSet, str]],
        tables: Mapping[str, DataFrame],
    ) -> list[ValidationReport]:
        """Run several (rule set, bound table name) pairs as one
        validation run: stage k of every set still running executes as
        ONE fused action (plus its SqlRules). Sets without fail_fast have
        a single stage, so such a run is one ``collect()``. Reports come
        back in binding order."""
        runs = [_SetRun.plan(rs, table) for rs, table in bindings]
        k = 0
        while True:
            live = [r for r in runs if k < len(r.stages) and not r.stopped]
            if not live:
                break
            t0 = time.monotonic()
            self._run_stage([(r, r.stages[k]) for r in live], tables)
            dt = time.monotonic() - t0
            for r in live:
                r.elapsed += dt
            k += 1
        return [r.report() for r in runs]

    def _run_stage(
        self,
        items: Sequence[tuple[_SetRun, list[Rule]]],
        tables: Mapping[str, DataFrame],
    ) -> None:
        groups: list[tuple[_SetRun, str, list[Rule]]] = []
        sql: list[tuple[_SetRun, list[Rule]]] = []
        for run, rules in items:
            by_table: dict[str, list[Rule]] = {}
            sql_rules: list[Rule] = []
            for r in rules:
                if isinstance(r, SqlRule):
                    sql_rules.append(r)
                elif isinstance(r, ReferentialIntegrityRule):
                    # missing table ⇒ synthetic failure, never a crash
                    # (the table-level analog of the missing-column guard)
                    absent = [t for t in (r.child_table, r.parent_table) if t not in tables]
                    if absent:
                        run.outcomes[r.name] = _synthetic(
                            r, r.child_table,
                            f"table_exists check failed: {absent} not provided",
                            skipped=True)
                    else:
                        by_table.setdefault(r.child_table, []).append(r)
                elif isinstance(r, (FieldRule, CompletenessRule)):
                    by_table.setdefault(run.table, []).append(r)
                else:
                    run.outcomes[r.name] = _synthetic(
                        r, run.table, f"unsupported rule type {type(r).__name__}",
                        skipped=True)
            for table, rs in by_table.items():
                ok, missing = plan_time_check(tables[table], rs, tables)
                for r in missing:
                    run.outcomes[r.name] = _synthetic(
                        r, table, "column_exists check failed: missing column")
                if ok:
                    groups.append((run, table, ok))
            if sql_rules:
                sql.append((run, sql_rules))

        if groups:
            self._collect_fused(groups, tables)
        for run, rules in sql:
            self._run_sql_waves(run, rules)

    def _collect_fused(
        self,
        groups: Sequence[tuple[_SetRun, str, list[Rule]]],
        tables: Mapping[str, DataFrame],
    ) -> None:
        """Compile each (set, table) group with table_checks, union the
        frames and collect them in ONE action named after its suites;
        fill in the outcomes."""
        frames = [table_checks(tables[t], rules, tables) for _, t, rules in groups]
        union = reduce(DataFrame.union, [
            f.selectExpr(f"{g} AS grp", "*") for g, f in enumerate(frames)])
        n_rules = sum(len(rules) for _, _, rules in groups)
        suites = ", ".join(dict.fromkeys(run.ruleset.name for run, _, _ in groups))
        n_tables = len({t for _, t, _ in groups})
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"{suites}: {n_rules} rules over {n_tables} tables")
        t0 = time.monotonic()
        try:
            rows = union.collect()
        finally:
            sc.setJobDescription(prev)  # type: ignore[arg-type]
        dt = time.monotonic() - t0
        got = {(row["grp"], row["rule_id"]): row for row in rows}
        for g, (run, table, rules) in enumerate(groups):
            plan = self._plan(frames[g])
            for r in rules:
                o = _fused_outcome(r, got[(g, r.name)], table)
                o.elapsed_sec = dt / n_rules
                o.plan = plan
                run.outcomes[r.name] = o

    def _run_sql_waves(self, run: _SetRun, rules: Sequence[Rule]) -> None:
        """SqlRules keep one job each, submitted per dependency wave
        from ruleset.max_concurrent driver threads into a FAIR pool, so
        independent rule SQL overlaps its scans (the reference ran rules
        in a thread pool, business_rules/engine.py:615-697)."""
        sc = self.spark.sparkContext

        def _one(r: Rule) -> RuleOutcome:
            sc.setLocalProperty("spark.scheduler.pool", "sparkcheck-rules")
            t0 = time.monotonic()
            try:
                out = self._run_sql_rule(r, run.table)
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)  # type: ignore[arg-type]
            out.elapsed_sec = time.monotonic() - t0
            return out

        for wave in _dependency_waves(rules):
            if len(wave) == 1 or run.ruleset.max_concurrent <= 1:
                outs = [_one(r) for r in wave]
            else:
                with ThreadPoolExecutor(max_workers=run.ruleset.max_concurrent) as pool:
                    outs = list(pool.map(_one, wave))
            for r, o in zip(wave, outs):
                run.outcomes[r.name] = o

    def _run_sql_rule(self, rule: SqlRule, table_name: str) -> RuleOutcome:
        """spark.sql + the reference's violation contract
        (_process_sql_results, business_rules/engine.py:516-574)."""
        result = self.spark.sql(rule.sql)
        cols = set(result.columns)
        recognized = {"violation_count", "message", "table_name", "column_name"}
        rows = result.limit(10_000).collect()  # rule SQL returns violations: small by construction
        violations = 0
        samples: list[Any] = []
        for row in rows:
            d = row.asDict()
            vc = d.get("violation_count")
            try:
                vc = int(vc) if vc is not None else None
            except (TypeError, ValueError):
                vc = None  # malformed count column ⇒ row counts as 1 violation
            extra = {k: v for k, v in d.items() if k not in recognized}
            if vc is not None and vc <= 0 and not extra:
                continue  # passing row (engine.py:556-558)
            violations += vc if vc is not None else 1
            if extra and len(samples) < 10:
                samples.append(extra)
        return RuleOutcome(
            rule_id=rule.name, table=table_name, column="",
            passed=_threshold_pass(rule, violations),
            violations=violations, evaluated=len(rows), total_rows=len(rows),
            severity=rule.severity.value, sample_values=samples,
            plan=self._plan(result),
        )

    def violation_rows(
        self, df: DataFrame, rules: list[Rule], key_cols: list[str],
        cap_per_rule: int | None = None,
    ) -> DataFrame:
        ok, _ = plan_time_check(df, rules)
        return violation_rows(df, ok, key_cols, cap_per_rule=cap_per_rule)

    def duplicate_rows(self, df: DataFrame, key_cols: list[str]) -> DataFrame:
        return duplicate_violation_rows(df, key_cols)
