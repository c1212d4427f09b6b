"""compile.table_checks — one aggregate per table for row, uniqueness and
orphan rules — against the standalone summaries it replaces in the
engine (summary_df, uniqueness_summary, orphan_summary), plus the
single-action run and its plan-time guards."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparkcheck.compile import summary_df, table_checks
from sparkcheck.integrity import orphan_summary, uniqueness_summary
from sparkcheck.rules import (
    NullCheckRule,
    RangeRule,
    ReferentialIntegrityRule,
    RuleSet,
    UniqueRule,
)
from sparkcheck.run import ValidationEngine, analyze_report, run_rulesets


def _expected(df, rule, tables, total):
    """(evaluated, violations, total_rows, distinct_keys) of one rule from
    the standalone summary the engine used to run per rule."""
    if isinstance(rule, UniqueRule):
        s = uniqueness_summary(df, list(rule.key_columns)).collect()[0]
        return s["total_keys"], s["duplicate_excess"], total, s["distinct_keys"]
    if isinstance(rule, ReferentialIntegrityRule):
        s = orphan_summary(df, rule.child_column, tables[rule.parent_table],
                           rule.parent_column, rule.broadcast_parent).collect()[0]
        fk_rows = df.where(F.col(rule.child_column).isNotNull()).count()
        return fk_rows, s["orphan_count"], total, s["distinct_orphan_keys"]
    s = summary_df(df, [rule]).collect()[0]
    return s["evaluated"], s["violations"], s["total_rows"], None


def _assert_parity(df, rules, tables=None):
    got = {r["rule_id"]: (r["evaluated"], r["violations"], r["total_rows"],
                          r["distinct_keys"])
           for r in table_checks(df, rules, tables).collect()}
    total = df.count()
    want = {r.name: _expected(df, r, tables, total) for r in rules}
    assert got == want
    return got


def _ri(name, child, fk, parent, pk, broadcast=None):
    return ReferentialIntegrityRule(
        name=name, child_table=child, child_column=fk, parent_table=parent,
        parent_column=pk, broadcast_parent=broadcast)


@pytest.fixture
def star(spark):
    """customers (one NULL and one duplicated key) and orders (NULL FKs,
    orphans 7 ×2 and 8, a NULL amount)."""
    customers = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b2"), (3, None), (None, "n")],
        "c_id int, name string")
    orders = spark.createDataFrame(
        [(10, 1, 5.0), (11, 2, 7.0), (12, 7, 1.0), (13, 7, None),
         (14, None, 2.0), (15, 8, 3.0), (16, None, 4.0), (16, 3, 9.0)],
        "o_id int, c_id int, amount double")
    return {"customers": customers, "orders": orders}


def test_parity_null_keys_and_null_fks(star):
    rules = [
        NullCheckRule(name="amount_nn", column="amount"),
        RangeRule(name="amount_range", column="amount", min_value=2.0),
        UniqueRule(name="o_pk", column="o_id"),
        _ri("o_fk", "orders", "c_id", "customers", "c_id"),
    ]
    got = _assert_parity(star["orders"], rules, star)
    assert got["o_fk"] == (6, 3, 8, 2)  # orphans 7, 7, 8; NULL FKs exempt
    assert got["o_pk"] == (8, 1, 8, 7)
    # NULL parent keys match nothing; the NULL customer key is exempt
    assert _assert_parity(star["customers"],
                          [UniqueRule(name="c_pk", column="c_id")])["c_pk"] == (4, 1, 5, 3)


def test_parity_multi_column_key_with_partly_null_tuples(spark):
    df = spark.createDataFrame(
        [(1, None), (1, None), (1, 2), (1, 2), (None, None), (2, 2), (None, 2)],
        "a int, b int")
    got = _assert_parity(df, [UniqueRule(name="ab", columns=("a", "b"))])
    assert got["ab"] == (3, 1, 7, 2)


def test_parity_empty_child(spark, star):
    empty = star["orders"].where(F.lit(False))
    tables = {**star, "orders": empty}
    got = _assert_parity(empty, [
        NullCheckRule(name="nn", column="amount"),
        UniqueRule(name="pk", column="o_id"),
        _ri("fk", "orders", "c_id", "customers", "c_id"),
    ], tables)
    assert got == {"nn": (0, 0, 0, None), "pk": (0, 0, 0, 0), "fk": (0, 0, 0, 0)}


def test_parity_two_orphan_rules_on_one_child(spark):
    a = spark.createDataFrame([(1,), (2,)], "k int")
    b = spark.createDataFrame([(10,), (20,)], "k int")
    child = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 10), (3, 98), (None, None)], "ka int, kb int")
    tables = {"a": a, "b": b, "child": child}
    got = _assert_parity(child, [
        _ri("fa", "child", "ka", "a", "k"),
        _ri("fb", "child", "kb", "b", "k"),
    ], tables)
    assert got["fa"] == (4, 2, 5, 1) and got["fb"] == (4, 2, 5, 2)


def test_parity_self_referential(spark):
    emp = spark.createDataFrame(
        [(1, None), (2, 1), (3, 1), (4, 9), (5, 4), (5, 9)],
        "emp_id int, manager_id int")
    got = _assert_parity(emp, [
        UniqueRule(name="pk", column="emp_id"),
        _ri("mgr", "emp", "manager_id", "emp", "emp_id"),
    ], {"emp": emp})
    assert got["mgr"] == (5, 2, 6, 1) and got["pk"] == (6, 1, 6, 5)


@pytest.mark.parametrize("broadcast", [True, False, None])
def test_parity_broadcast_parent_modes(star, broadcast):
    rule = _ri("fk", "orders", "c_id", "customers", "c_id", broadcast)
    _assert_parity(star["orders"], [rule], star)
    plan = table_checks(star["orders"], [rule], star)._jdf.queryExecution() \
        .executedPlan().toString()
    if broadcast is True:
        assert "BroadcastHashJoin" in plan
    if broadcast is False:
        assert "BroadcastHashJoin" not in plan and "ShuffledHashJoin" in plan


def test_parity_int_fk_against_long_pk(spark):
    parent = spark.createDataFrame([(1,), (2,), (3_000_000_000,)], "pk long")
    child = spark.createDataFrame([(1,), (2,), (5,), (5,), (None,)], "fk int")
    got = _assert_parity(child, [_ri("fk", "child", "fk", "parent", "pk")],
                         {"parent": parent, "child": child})
    assert got["fk"] == (4, 2, 5, 1)


KEYS = st.one_of(st.none(), st.integers(0, 4))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(child=st.lists(st.tuples(KEYS, KEYS, KEYS), max_size=12),
       parent=st.lists(KEYS, max_size=6))
def test_parity_property(spark, child, parent):
    c = spark.createDataFrame(child, "fk int, a int, b int")
    p = spark.createDataFrame([(k,) for k in parent], "pk long")
    _assert_parity(c, [
        NullCheckRule(name="nn", column="a"),
        UniqueRule(name="ab", columns=("a", "b")),
        _ri("fk", "c", "fk", "p", "pk"),
        _ri("fk_self", "c", "a", "c", "b"),
    ], {"c": c, "p": p})


def test_engine_outcomes_match_per_rule_contract(star):
    """Unique outcomes report non-NULL key counts; RI outcomes report the
    orphan count as evaluated/total_rows plus the distinct-orphan message."""
    rs = RuleSet(name="o", rules=(
        UniqueRule(name="o_pk", column="o_id"),
        _ri("o_fk", "orders", "c_id", "customers", "c_id"),
    ))
    rep = ValidationEngine(star["orders"].sparkSession).run(rs, star, "orders")
    by = {o.rule_id: o for o in rep.outcomes}
    assert (by["o_pk"].violations, by["o_pk"].evaluated, by["o_pk"].total_rows) == (1, 8, 8)
    o = by["o_fk"]
    assert (o.violations, o.evaluated, o.total_rows, o.table, o.column) == \
        (3, 3, 3, "orders", "c_id")
    assert o.message == "distinct orphan keys: 2" and not o.passed


def test_missing_key_columns_are_synthetic_failures(spark):
    df = spark.range(5)
    other = spark.range(3)
    rs = RuleSet(name="m", rules=(
        NullCheckRule(name="ok", column="id"),
        UniqueRule(name="u_missing", column="nope"),
        UniqueRule(name="u_multi", columns=("id", "nope")),
        _ri("child_missing", "t", "ghost", "p", "id"),
        _ri("parent_missing", "t", "id", "p", "ghost"),
        _ri("fine", "t", "id", "p", "id"),
    ))
    rep = ValidationEngine(spark).run(rs, {"t": df, "p": other})
    by = {o.rule_id: o for o in rep.outcomes}
    for name in ("u_missing", "u_multi", "child_missing", "parent_missing"):
        assert not by[name].passed
        assert by[name].message == "column_exists check failed: missing column"
    assert by["ok"].passed and by["fine"].violations == 2


def _three_sets(fail_fast_set=None):
    def ff(name):
        return name == fail_fast_set
    return [
        RuleSet(name="cust", table="customers", fail_fast=ff("cust"), rules=(
            UniqueRule(name="c_pk", column="c_id"),
            NullCheckRule(name="c_name_nn", column="name"))),
        RuleSet(name="ord", table="orders", fail_fast=ff("ord"), rules=(
            NullCheckRule(name="amount_nn", column="amount"),
            UniqueRule(name="o_pk", column="o_id", depends_on=("amount_nn",)),
            _ri("o_fk", "orders", "c_id", "customers", "c_id"))),
        RuleSet(name="ord2", table="orders", rules=(
            RangeRule(name="amount_range", column="amount", min_value=0.0),)),
    ]


def test_run_rulesets_is_one_collect(spark, star, collects):
    res = run_rulesets(spark, _three_sets(), star)
    assert len(collects) == 1
    assert list(res.reports) == ["cust", "ord", "ord2"]
    assert [o.rule_id for o in res.reports["ord"].outcomes] == [
        "amount_nn", "o_fk", "o_pk"]
    v = {o.rule_id: o.violations for r in res.reports.values() for o in r.outcomes}
    assert v == {"c_pk": 1, "c_name_nn": 1, "amount_nn": 1, "o_pk": 1,
                 "o_fk": 3, "amount_range": 0}


def test_set_level_fail_fast_stages(spark, star, collects):
    """A fail_fast set is cut into gated stages (row pass, then each
    dependency wave); its failing row pass stops it while the other sets
    finish in the same first action."""
    res = run_rulesets(spark, _three_sets(fail_fast_set="ord"), star)
    assert len(collects) == 1
    assert [o.rule_id for o in res.reports["ord"].outcomes] == ["amount_nn"]
    assert len(res.reports["cust"].outcomes) == 2
    assert len(res.reports["ord2"].outcomes) == 1
    # a passing row pass moves on to the next stage (one more action)
    collects.clear()
    rs = RuleSet(name="ff", fail_fast=True, rules=(
        NullCheckRule(name="id_nn", column="o_id"),
        UniqueRule(name="o_pk", column="o_id"),
        _ri("o_fk", "orders", "c_id", "customers", "c_id"),
    ))
    rep = ValidationEngine(spark).run(rs, star, "orders")
    assert len(collects) == 2
    assert [o.rule_id for o in rep.outcomes] == ["id_nn", "o_fk", "o_pk"]


def test_run_level_fail_fast_skips_sets(spark, star):
    res = run_rulesets(spark, _three_sets(), star, fail_fast=True)
    assert list(res.reports) == ["cust"] and res.skipped == ["ord", "ord2"]


def test_fused_action_job_description(spark, star, collects):
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        run_rulesets(spark, _three_sets(), star)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setJobDescription(None)  # type: ignore[arg-type]
    assert collects == ["cust, ord, ord2: 6 rules over 2 tables"]


def test_capture_plans_fused_plan_smell_reported_once(spark):
    row_udf = F.udf(lambda x: x, "long")
    df = spark.range(20).withColumn("v", row_udf("id"))
    rs = RuleSet(name="p", rules=(
        NullCheckRule(name="v_nn", column="v"),
        RangeRule(name="v_range", column="v", min_value=0.0),
        UniqueRule(name="v_pk", column="v"),
    ))
    rep = ValidationEngine(spark, capture_plans=True).run(rs, {"t": df})
    plans = {o.plan for o in rep.outcomes}
    assert len(plans) == 1 and "HashAggregate" in plans.pop()
    smells = [i for i in analyze_report(rep) if i.kind == "plan_smell"]
    assert [i.details["pattern"] for i in smells] == ["BatchEvalPython"]
    assert smells[0].rule_id == "v_nn,v_range,v_pk"
