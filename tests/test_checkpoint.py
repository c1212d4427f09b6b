"""Grouped rule summaries (``table_checks`` / ``summary_df`` with ``by=``)
against per-group filtered summaries, and the checkpoint layer built on
them: one grouped pass per run, resume from the store, NULL and vanished
groups, rule order, and injective group directories."""

from __future__ import annotations

import glob
import json
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparkcheck.compile import summary_df, table_checks
from sparkcheck.rules import (
    EnumRule,
    NullCheckRule,
    RangeRule,
    UniqueRule,
)
from sparkcheck.run import CheckpointStore, GroupResult, checkpointed_validate


def _split(rows, by):
    out: dict = {}
    for r in rows:
        d = r.asDict()
        out.setdefault(d.pop(by), []).append(d)
    return out


def _assert_grouped_parity(df, rules, by="g"):
    """table_checks(by=) equals table_checks over ``where(by == v)`` for
    every value v of ``by`` (NULL included), rows in rule order."""
    key = F.col(f"`{by}`")
    got = _split(table_checks(df, rules, by=by).collect(), by)
    want = {}
    for (v,) in df.select(key).distinct().collect():
        part = df.where(key.isNull() if v is None else key == v)
        want[v] = [r.asDict() for r in table_checks(part, rules).collect()]
    assert got == want
    return got


def _rows(got, v):
    return {o["rule_id"]: (o["evaluated"], o["violations"], o["total_rows"],
                           o["distinct_keys"]) for o in got[v]}


RULES = [
    NullCheckRule(name="v_nn", column="v"),
    RangeRule(name="v_range", column="v", min_value=0.0),
    UniqueRule(name="k_pk", column="k"),
]


def test_grouped_parity_row_and_unique_rules(spark):
    # k=1 repeats across groups a and b (not a duplicate within either);
    # k=2 repeats inside a; group c has no violation; NULL v and NULL k
    # rows and a NULL group
    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, None), ("a", 2, -1), ("a", None, 3),
         ("b", 1, 4), ("b", 3, None),
         ("c", 4, 1), ("c", 5, 2),
         (None, 6, None)],
        "g string, k int, v int")
    got = _assert_grouped_parity(df, RULES)
    assert _rows(got, "a") == {"v_nn": (4, 1, 4, None), "v_range": (3, 1, 4, None),
                               "k_pk": (3, 1, 4, 2)}
    assert _rows(got, "b")["k_pk"] == (2, 0, 2, 2)
    assert all(o["violations"] == 0 for o in got["c"])
    assert _rows(got, None)["v_nn"] == (1, 1, 1, None)
    assert [o["rule_id"] for o in got["b"]] == ["v_nn", "v_range", "k_pk"]


def test_grouped_parity_single_group(spark):
    df = spark.createDataFrame(
        [("only", 1, 1), ("only", 1, None), ("only", 2, 3)],
        "g string, k int, v int")
    got = _assert_grouped_parity(df, RULES)
    assert list(got) == ["only"]
    # the only group's counts are the ungrouped summary's
    assert got["only"] == [r.asDict() for r in table_checks(df, RULES).collect()]


def test_grouped_summary_df_keeps_group_first_and_quotes_name(spark):
    df = spark.createDataFrame([(1, 5), (1, None), (2, 7)], "`g.x` int, v int")
    out = summary_df(df, [NullCheckRule(name="nn", column="v")], by="g.x")
    assert out.columns == ["g.x", "rule_id", "column", "evaluated", "violations",
                           "total_rows", "violation_rate"]
    rates = {r["g.x"]: r["violation_rate"] for r in out.collect()}
    assert rates == {1: 0.5, 2: 0.0}
    _assert_grouped_parity(df, [NullCheckRule(name="nn", column="v")], by="g.x")


SMALL = st.one_of(st.none(), st.integers(0, 3))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(st.one_of(st.none(), st.sampled_from("xyz")),
                               SMALL, SMALL, SMALL), min_size=1, max_size=14))
def test_grouped_parity_property(spark, rows):
    df = spark.createDataFrame(rows, "g string, a int, b int, v int")
    _assert_grouped_parity(df, [
        NullCheckRule(name="nn", column="v"),
        EnumRule(name="a_enum", column="a", allowed_values=("0", "1")),
        UniqueRule(name="ab", columns=("a", "b")),
        UniqueRule(name="v_pk", column="v"),
    ])


# ---- checkpoint layer ---------------------------------------------------

def _frame(spark, n=120):
    """parts 0..3; every 10th v NULL, every 7th part NULL."""
    return spark.createDataFrame(
        [(i, None if i % 7 == 0 else i % 4, None if i % 10 == 0 else i)
         for i in range(n)],
        "id int, part int, v int")


def _markers(root):
    out = {}
    for path in glob.glob(os.path.join(root, "*", "*", "_SUCCESS.json")):
        with open(path) as f:
            out[json.load(f)["group_id"]] = path
    return out


def test_fresh_store_is_one_collect(spark, tmp_path, collects):
    df = _frame(spark)
    done = []
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        res = checkpointed_validate(
            spark, df, RULES[:2], F.col("part"), CheckpointStore(str(tmp_path)),
            suite_name="s", on_group_done=lambda r: done.append(r.group_id))
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setJobDescription(None)  # type: ignore[arg-type]
    assert collects == ["s: 2 rules over pending groups (0 done)"]
    assert [r.group_id for r in res] == ["0", "1", "2", "3"] == done
    assert not any(r.resumed for r in res)
    # one shared pass: every group carries its whole wall time
    assert len({r.elapsed_sec for r in res}) == 1


def test_partly_done_store_resumes_stored_outcomes(spark, tmp_path, collects):
    df = _frame(spark)
    store = CheckpointStore(str(tmp_path))
    first = checkpointed_validate(spark, df, RULES[:2], F.col("part"), store,
                                  suite_name="s")
    markers = _markers(str(tmp_path))
    # group 1 edited in the store: its stored outcomes must come back
    # verbatim, proving its rules are not evaluated again
    with open(markers["1"]) as f:
        meta = json.load(f)
    meta["outcomes"][0]["violations"] = 999
    with open(markers["1"], "w") as f:
        json.dump(meta, f)
    # group 2 lost: it is the only pending group
    os.remove(markers["2"])

    collects.clear()
    fired = []
    res = checkpointed_validate(spark, df, RULES[:2], F.col("part"), store,
                                suite_name="s", on_group_done=fired.append)
    assert collects == ["s: locate 3 done groups",
                        "s: 2 rules over pending groups (3 done)"]
    assert [r.group_id for r in res] == ["0", "1", "2", "3"]
    assert [r.resumed for r in res] == [True, True, False, True]
    assert [r.group_id for r in fired] == ["2"]
    by = {r.group_id: r for r in res}
    assert by["1"].outcomes == meta["outcomes"]
    assert by["1"].elapsed_sec == meta["elapsed_sec"]
    assert by["2"].outcomes == first[2].outcomes


def test_null_groups_skipped(spark, tmp_path):
    df = _frame(spark)
    res = checkpointed_validate(spark, df, RULES[:1], F.col("part"),
                                CheckpointStore(str(tmp_path)), suite_name="s")
    assert None not in {r.group_id for r in res}
    non_null = df.where(F.col("part").isNotNull()).count()
    assert sum(r.outcomes[0]["total_rows"] for r in res) == non_null < 120


def test_stored_group_absent_from_data_not_returned(spark, tmp_path):
    df = _frame(spark)
    store = CheckpointStore(str(tmp_path))
    checkpointed_validate(spark, df, RULES[:1], F.col("part"), store, suite_name="s")
    res = checkpointed_validate(spark, df.where(F.col("part") != 3), RULES[:1],
                                F.col("part"), store, suite_name="s")
    assert [r.group_id for r in res] == ["0", "1", "2"]
    assert all(r.resumed for r in res)


def test_rule_order_preserved_in_each_group(spark, tmp_path):
    rules = [
        RangeRule(name="z_range", column="v", max_value=50.0),
        NullCheckRule(name="a_nn", column="v"),
        UniqueRule(name="m_pk", column="id"),
        EnumRule(name="b_enum", column="part", allowed_values=("1", "2")),
        NullCheckRule(name="y_nn", column="id"),
    ]
    df = _frame(spark).repartition(4)
    store = CheckpointStore(str(tmp_path))
    for _ in range(2):  # computed, then resumed
        res = checkpointed_validate(spark, df, rules, F.col("part"), store,
                                    suite_name="s")
        assert len(res) == 4
        for r in res:
            assert [o["rule_id"] for o in r.outcomes] == [x.name for x in rules]


def test_group_dirs_are_injective(tmp_path):
    store = CheckpointStore(str(tmp_path))
    ids = ["a/b", "a_b", "a?b", "", ".", "..", "x~y"]
    for i, g in enumerate(ids):
        store.save_group("fp", GroupResult(group_id=g, outcomes=[{"i": i}],
                                           elapsed_sec=0.0))
    assert store.completed_groups("fp") == set(ids)
    for i, g in enumerate(ids):
        assert store.load_group("fp", g).outcomes == [{"i": i}]
    dirs = {store._group_dir("fp", g) for g in ids}
    assert len(dirs) == len(ids)
    assert all(os.path.dirname(d) == os.path.join(str(tmp_path), "fp") for d in dirs)
    # an id that sanitising leaves alone keeps its plain directory name
    assert store._group_dir("fp", "a_b") == os.path.join(str(tmp_path), "fp", "a_b")
