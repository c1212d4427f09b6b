"""Rule IR → vectorized Spark plan compiler — the heart of the engine.

The reference evaluates every rule with a per-row Python loop
(``field_validator/validator.py:208, 241, 301, ...`` — ``for idx, value
in data.items()``), emitting one result object per (row, rule). That is
the exact anti-pattern the north rule forbids. Here every rule compiles
to a pair of ``pyspark.sql.Column`` expressions:

    applicable : BooleanType — rows this rule evaluates (NULL-skip contract)
    passed     : BooleanType — among applicable rows, pass/fail

and ALL rules on a table fuse into ONE whole-stage-codegen'd
``df.agg(...)`` pass (conditional sums), so a 40-rule suite over 10^12
rows costs a single scan + partial/final aggregation — no shuffle at all
for the summary (aggregation without grouping keys is a tree-reduce).
``table_checks`` adds a table's uniqueness (count_distinct) and
referential (left join to distinct parent keys) rules to that same
aggregate, so every check on a table is one scan.

Violation rows come from a second (optional) pass that keeps lineage
columns (spark partition id, rule ids, offending key) — at scale that
pass writes to a sink table, never to the driver.

Scale notes (100 TB / 1000 executors):
- Only the rule columns are referenced ⇒ Catalyst prunes the parquet scan
  to exactly those columns (check ``ReadSchema`` in explain output).
- Conditional-sum aggregation is map-side partial ⇒ shuffle volume is
  O(#rules × #partitions) tiny rows, independent of data size.
- The regex/enum/range predicates are JVM-side codegen'd; the only Python
  is CustomRule, which runs as an Arrow-batched pandas UDF.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from sparkcheck.integrity.referential import parent_hint
from sparkcheck.rules.models import (
    CompletenessRule,
    CustomRule,
    DataTypeRule,
    EnumRule,
    FieldRule,
    LengthRule,
    NullCheckRule,
    RangeRule,
    ReferentialIntegrityRule,
    RegexRule,
    Rule,
    UniqueRule,
)


@dataclass
class CompiledPredicate:
    """A rule compiled to vectorized Column expressions."""

    rule: Rule
    applicable: Column  # rows the rule evaluates
    passed: Column      # pass among applicable rows (undefined elsewhere)

    @property
    def violated(self) -> Column:
        return self.applicable & ~F.coalesce(self.passed, F.lit(False))


def _anchor(pattern: str) -> str:
    """Reference regex semantics are ``re.match`` — anchored at string
    START only (validator.py:214). ``rlike`` is a search, so prepend
    ``^`` unless already anchored; never force a trailing ``$``."""
    return pattern if pattern.startswith("^") else "^" + pattern


def compile_field_rule(rule: FieldRule) -> CompiledPredicate:
    """Compile one per-column rule into (applicable, passed) Columns."""
    col = F.col(rule.column)

    if isinstance(rule, NullCheckRule):
        # Evaluates EVERY row, incl. NULLs (validator.py:331-356).
        applicable = F.lit(True)
        passed = F.lit(True) if rule.allow_null else col.isNotNull()
        return CompiledPredicate(rule, applicable, passed)

    # Every other rule skips NULLs (validator.py:210-211, 243, 302, 374).
    applicable = col.isNotNull()

    if isinstance(rule, RegexRule):
        s = col.cast("string")
        pat = _anchor(rule.pattern)
        if rule.case_insensitive:
            pat = "(?i)" + pat
        passed = s.rlike(pat)
    elif isinstance(rule, RangeRule):
        # Non-numeric value ⇒ violation, not a skip (validator.py:249-260):
        # try_cast("double") yields NULL for non-numeric ⇒ fails the rule
        # (plain cast throws under Spark 4 ANSI mode).
        v = col.try_cast("double")
        cond = F.lit(True)
        if rule.min_value is not None:
            cond = cond & (v >= rule.min_value if rule.inclusive else v > rule.min_value)
        if rule.max_value is not None:
            cond = cond & (v <= rule.max_value if rule.inclusive else v < rule.max_value)
        passed = v.isNotNull() & cond
    elif isinstance(rule, LengthRule):
        n = F.length(col.cast("string"))
        if rule.exact_length is not None:
            passed = n == rule.exact_length
        else:
            cond = F.lit(True)
            if rule.min_length is not None:
                cond = cond & (n >= rule.min_length)
            if rule.max_length is not None:
                cond = cond & (n <= rule.max_length)
            passed = cond
    elif isinstance(rule, EnumRule):
        s = col.cast("string")
        if rule.case_sensitive:
            passed = s.isin(list(rule.allowed_values))
        else:
            passed = F.lower(s).isin([v.lower() for v in rule.allowed_values])
    elif isinstance(rule, DataTypeRule):
        passed = col.try_cast(rule.expected_type).isNotNull()
    elif isinstance(rule, CustomRule):
        passed = _custom_pandas_predicate(rule)(col)
    else:
        raise TypeError(f"not a compilable field rule: {type(rule).__name__}")

    return CompiledPredicate(rule, applicable, passed)


def _custom_pandas_predicate(rule: CustomRule):
    """Wrap a vectorized callable as an Arrow-batched pandas UDF.

    The reference's custom rule is per-value Python (validator.py:396-429);
    ours receives a whole pandas Series per Arrow batch. Exceptions ⇒ the
    batch fails (mirrors reference 'exception ⇒ fail')."""
    fn = rule.func
    if fn is None:
        raise ValueError(f"CustomRule {rule.name!r} has no callable")

    @F.pandas_udf(T.BooleanType())
    def _pred(s: pd.Series) -> pd.Series:
        try:
            out = fn(s)
            if not isinstance(out, pd.Series):
                out = pd.Series(out, index=s.index)
            return out.astype("boolean").fillna(False).astype(bool)
        except Exception:
            return pd.Series([False] * len(s), index=s.index)

    return _pred


def compile_completeness(rule: CompletenessRule) -> CompiledPredicate:
    """Row fails when ANY required column is NULL
    (business_rules/models.py:451-474)."""
    any_null = F.lit(False)
    for c in rule.required_columns:
        any_null = any_null | F.col(c).isNull()
    return CompiledPredicate(rule, F.lit(True), ~any_null)


def compile_rules(rules: Sequence[Rule]) -> list[CompiledPredicate]:
    out: list[CompiledPredicate] = []
    for r in rules:
        if isinstance(r, CompletenessRule):
            out.append(compile_completeness(r))
        elif isinstance(r, FieldRule):
            out.append(compile_field_rule(r))
        else:
            raise TypeError(
                f"{type(r).__name__} is not a row-predicate rule; "
                "use sparkcheck.integrity / run.engine for it"
            )
    return out


def plan_time_check(
    df: DataFrame,
    rules: Sequence[Rule],
    tables: Mapping[str, DataFrame] | None = None,
) -> tuple[list[Rule], list[Rule]]:
    """Split rules into (compilable, missing-column) at plan time.

    Mirrors the reference's missing-column guard
    (field_validator/__init__.py:300-316): a rule against an absent
    column becomes a synthetic 'column_exists' failure, never a crash.
    A ``UniqueRule`` needs every key column in ``df``; a
    ``ReferentialIntegrityRule`` (``df`` is its child) needs its child
    column in ``df`` and its parent column in ``tables[parent_table]``.
    """
    cols = set(df.columns)
    ok: list[Rule] = []
    missing: list[Rule] = []
    for r in rules:
        need: tuple[str, ...]
        if isinstance(r, ReferentialIntegrityRule):
            need = (r.child_column,)
            parent = (tables or {}).get(r.parent_table)
            if parent is not None and r.parent_column not in parent.columns:
                missing.append(r)
                continue
        elif isinstance(r, UniqueRule):
            need = r.key_columns
        elif isinstance(r, CompletenessRule):
            need = r.required_columns
        elif isinstance(r, FieldRule):
            need = (r.column,)
        else:
            need = ()
        (ok if all(c in cols for c in need) else missing).append(r)
    return ok, missing


def _count_exprs(cp: CompiledPredicate, i: int) -> list[Column]:
    """(ev_i, vi_i): evaluated / violating row counts of one compiled
    rule (count_if is 0, not NULL, over an empty table)."""
    return [
        F.count_if(cp.applicable).alias(f"ev_{i}"),
        F.count_if(cp.violated).alias(f"vi_{i}"),
    ]


def _q(s: str) -> str:
    """A rule/column name as a SQL string literal (for stack())."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def rule_column(rule: Rule) -> str:
    """The column label a rule reports under: its column, its key or
    required columns comma-joined, or an RI rule's child column."""
    if isinstance(rule, ReferentialIntegrityRule):
        return rule.child_column
    if isinstance(rule, UniqueRule):
        return ",".join(rule.key_columns)
    return getattr(rule, "column", None) or ",".join(
        getattr(rule, "required_columns", ())
    )


def fused_agg(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """ONE aggregation pass for every rule: returns a single-row frame
    with total_rows plus (ev_i, vi_i) = evaluated/violation counts per
    rule, in rule order. This is the replacement for the reference's
    rule batching (engine.py:815-862) — composition happens before the
    plan, Catalyst fuses it into one scan."""
    exprs: list[Column] = [F.count(F.lit(1)).alias("total_rows")]
    for i, cp in enumerate(compile_rules(rules)):
        exprs.extend(_count_exprs(cp, i))
    return df.agg(*exprs)


def table_checks(
    df: DataFrame,
    rules: Sequence[Rule],
    tables: Mapping[str, DataFrame] | None = None,
) -> DataFrame:
    """Every check on ONE table as one aggregate over one scan of it:
    one row per rule, (rule_id, column, evaluated, violations,
    total_rows, distinct_keys), in rule order.

    - row rules (field / completeness): the ``fused_agg`` conditional
      sums; ``distinct_keys`` is NULL.
    - ``UniqueRule``: evaluated = rows whose key columns are all
      non-NULL, distinct_keys = distinct such keys, violations =
      evaluated − distinct_keys (``uniqueness_summary`` semantics).
    - ``ReferentialIntegrityRule`` (``df`` is the child; the parent is
      ``tables[parent_table]``): each child row gets a hit marker,
      EXISTS(parent row with pk = fk), which Catalyst plans as an
      existence join; evaluated = non-NULL FK rows,
      violations = rows with a non-NULL FK and no hit, distinct_keys =
      distinct orphan FKs (``orphan_summary`` semantics).
      ``broadcast_parent`` picks the join as in ``orphan_rows``.

    An existence join emits each child row once whatever the parent's
    duplicates, so total_rows stays count(*) of ``df`` and the parent
    keys need no distinct (no shuffle of the parent before a
    broadcast). Each count_distinct is a shuffle on its key; with
    exactly one, the row-rule partial sums ride through that shuffle,
    with several Spark expands the rows once per distinct aggregate."""
    rules = list(rules)
    if not rules:
        raise ValueError("table_checks needs at least one rule")
    frame = df
    exprs: list[Column] = [F.expr("count(1) AS total_rows")]
    entries: list[str] = []
    for i, r in enumerate(rules):
        ev, vi, nd = f"ev_{i}", f"vi_{i}", f"nd_{i}"
        if isinstance(r, UniqueRule):
            keys = [F.col(c) for c in r.key_columns]
            all_set = keys[0].isNotNull()
            for k in keys[1:]:
                all_set = all_set & k.isNotNull()
            # count(DISTINCT a, b) skips tuples with any NULL member
            exprs += [F.count_if(all_set).alias(ev),
                      F.count_distinct(*keys).alias(nd)]
            vi = f"{ev} - {nd}"
        elif isinstance(r, ReferentialIntegrityRule):
            if tables is None or r.parent_table not in tables:
                raise KeyError(f"rule {r.name!r}: parent table "
                               f"{r.parent_table!r} not in tables")
            fk, pk, hit = f"__sc_fk_{i}", f"__sc_pk_{i}", f"__sc_hit_{i}"
            keys = parent_hint(tables[r.parent_table].select(
                F.col(r.parent_column).alias(pk)), r.broadcast_parent)
            # the outer reference needs a name the parent cannot resolve:
            # Catalyst would bind a bare child column name that the parent
            # also has to the parent's own column, making EXISTS always true
            frame = frame.withColumn(fk, F.col(r.child_column))
            frame = frame.withColumn(
                hit, keys.where(F.col(fk).outer() == F.col(pk)).exists())
            # SQL text over the generated names: one driver round trip
            # per aggregate instead of one per Column operator
            orphan = f"{fk} IS NOT NULL AND NOT {hit}"
            exprs += [F.expr(f"count({fk}) AS {ev}"),
                      F.expr(f"count_if({orphan}) AS {vi}"),
                      F.expr(f"count(DISTINCT CASE WHEN {orphan} THEN {fk} END) AS {nd}")]
        else:
            exprs.extend(_count_exprs(compile_rules([r])[0], i))
            nd = "CAST(NULL AS BIGINT)"
        entries.append(
            f"{_q(r.name)}, {_q(rule_column(r))}, {ev}, {vi}, total_rows, {nd}")
    return frame.agg(*exprs).selectExpr(
        f"stack({len(rules)}, {', '.join(entries)}) as "
        "(rule_id, column, evaluated, violations, total_rows, distinct_keys)")


def summary_df(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Distributed per-rule summary: (rule_id, column, evaluated,
    violations, total_rows, violation_rate): ``table_checks`` plus the
    rate — still one scan, no collect."""
    return table_checks(df, rules).select(
        "rule_id",
        "column",
        "evaluated",
        "violations",
        "total_rows",
        F.when(F.col("evaluated") > 0, F.col("violations") / F.col("evaluated"))
        .otherwise(F.lit(0.0))
        .alias("violation_rate"),
    )


def partition_verdicts(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Per-PARTITION pass/fail verdicts — the north rule's verdict unit:
    (partition_id, rule_id, evaluated, violations, passed) one row per
    (input partition × rule).

    Same fused conditional-sum shape as fused_agg but grouped on
    ``spark_partition_id()``: map-side partials make the shuffle
    O(#partitions × #rules) tiny rows. At 10^12 rows this is the frame a
    cluster job appends to the verdict/checkpoint table so a re-run can
    prune completed partitions.
    """
    compiled = compile_rules(rules)
    aggs: list[Column] = []
    for i, cp in enumerate(compiled):
        aggs.extend(_count_exprs(cp, i))
    wide = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(*aggs)
    )
    pairs = ", ".join(
        f"{_q(cp.rule.name)}, ev_{i}, vi_{i}" for i, cp in enumerate(compiled)
    )
    return wide.selectExpr(
        "partition_id",
        f"stack({len(compiled)}, {pairs}) as (rule_id, evaluated, violations)",
    ).select(
        "partition_id", "rule_id", "evaluated", "violations",
        (F.col("violations") == 0).alias("passed"),
    )


def violation_rows(
    df: DataFrame,
    rules: Sequence[Rule],
    key_cols: Sequence[str],
    cap_per_rule: int | None = None,
) -> DataFrame:
    """Violation rows with lineage: key columns + partition_id +
    failed_rules array. At scale this frame is written to a sink table;
    ``cap_per_rule`` bounds a driver-side sample (mirrors the reference's
    outlier cap of 10, profiler/analyzer.py:128).

    One scan; the filter (any rule violated) and the array construction
    are codegen'd. No shuffle unless cap_per_rule forces a per-rule
    window."""
    compiled = compile_rules(rules)
    tagged = F.array_compact(
        F.array(*[F.when(cp.violated, F.lit(cp.rule.name)) for cp in compiled])
    )
    out = (
        df.select(
            *key_cols,
            F.spark_partition_id().alias("partition_id"),
            tagged.alias("failed_rules"),
        )
        .where(F.size("failed_rules") > 0)
    )
    if cap_per_rule is not None:
        from pyspark.sql import Window

        exploded = out.select(
            *key_cols, "partition_id", F.explode("failed_rules").alias("rule_id")
        )
        w = Window.partitionBy("rule_id").orderBy(*key_cols)
        out = (
            exploded.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= cap_per_rule)
            .drop("rn")
        )
    return out


def rule_projection(
    rules: Sequence[Rule], key_cols: Sequence[str]
) -> tuple[list[str], bool]:
    """(columns the rules + lineage keys touch, prunable?). A rule type
    that declares no column set — ``column``, ``required_columns`` or
    ``columns`` all absent/empty (a future multi-column row rule or
    expression rule) — makes the projection non-prunable: dropping
    columns its predicate references would fail the downstream plan
    with AnalysisException, so callers keep the full row instead."""
    needed: list[str] = list(key_cols)
    prunable = True
    for r in rules:
        declared = False
        col = getattr(r, "column", None)
        if col:
            declared = True
            if col not in needed:
                needed.append(col)
        for attr in ("required_columns", "columns"):  # Completeness / multi-col Unique
            for col in getattr(r, attr, ()) or ():
                declared = True
                if col not in needed:
                    needed.append(col)
        if not declared:
            prunable = False
    return needed, prunable


def verdicts_and_sink(
    df: DataFrame,
    rules: Sequence[Rule],
    key_cols: Sequence[str],
    sink_path: str,
    mode: str = "overwrite",
    sink_format: str = "parquet",
    storage_level=None,
) -> list:
    """The north-rule output contract — per-partition pass/fail verdicts
    PLUS the violation-row sink — over a shared, rule-pruned projection.

    Both outputs read ONLY the columns the rules and lineage keys touch
    (the explicit select below); on a columnar source each pass is a
    pruned scan of that handful of columns, never the wide row (e.g. raw
    html bytes stay untouched).

    ``storage_level=None`` (default): the two outputs are two pruned
    scans. Measured on the 8M-doc webtext bench, this beats persisting:
    re-decoding 4 pruned parquet columns costs ~8 s total while
    materializing the same rows into the block-store cache costs ~16 s
    best-case (85 s cold) — a decoded row cache is BIGGER and slower
    than the compressed columnar source it came from.

    Pass a ``pyspark.StorageLevel`` (e.g. DISK_ONLY) to share one scan
    through a cache instead — the right choice when the source is
    expensive to re-read (remote object store without page cache, a
    non-columnar format, or an upstream transform worth reusing). A
    cache also pins ONE partitioning for both outputs, making the
    sink's ``partition_id`` lineage provably the partitions the
    verdicts scored; without it, both passes read the same file splits
    (deterministic for file sources, but not contractual).

    Returns the collected verdict rows (driver-sized:
    #partitions × #rules)."""
    needed, prunable = rule_projection(rules, key_cols)
    pruned = df.select(*needed) if prunable else df
    cached = pruned.persist(storage_level) if storage_level is not None else pruned
    try:
        # The two passes are independent jobs over the same pruned
        # columns — submit them from driver threads so the sink write's
        # scan back-fills the verdict scan's task tail (guide §2.6; the
        # session's FAIR pools share slots). Wall time ≈ max, not sum.
        from concurrent.futures import ThreadPoolExecutor

        def _verdicts():
            return partition_verdicts(cached, rules).collect()

        def _sink():
            (
                violation_rows(cached, rules, key_cols)
                .write.mode(mode).format(sink_format).save(sink_path)
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            verdict_fut = pool.submit(_verdicts)
            sink_fut = pool.submit(_sink)
            verdicts = verdict_fut.result()
            sink_fut.result()
        return verdicts
    finally:
        if storage_level is not None:
            cached.unpersist()
