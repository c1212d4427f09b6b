from sparkcheck.compile.grouped import (
    GROUP_VERDICT_SCHEMA,
    batch_custom_check,
    grouped_custom_check,
)
from sparkcheck.compile.compiler import (
    CompiledPredicate,
    compile_field_rule,
    fused_agg,
    partition_verdicts,
    verdicts_and_sink,
    summary_df,
    violation_rows,
    plan_time_check,
    rule_column,
    table_checks,
)

__all__ = [
    "CompiledPredicate",
    "compile_field_rule",
    "fused_agg",
    "partition_verdicts",
    "verdicts_and_sink",
    "summary_df",
    "violation_rows",
    "plan_time_check",
    "rule_column",
    "table_checks",
    "GROUP_VERDICT_SCHEMA",
    "batch_custom_check",
    "grouped_custom_check",
]
