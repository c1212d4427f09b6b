"""The public sparkcheck calls the benchmark makes.

``OPS`` holds the timed calls, one per end-to-end metric; ``compare`` and
``curate`` run only in the traced run (see run.py). Each call returns what
the checks need; none of them reads the generator's planted-count tables,
so a wrong result cannot be masked.
"""

from __future__ import annotations

import contextlib
import io
import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkcheck.cli import main as cli_main
from sparkcheck.compile import verdicts_and_sink
from sparkcheck.drift import compare_profiles, ks_statistic, psi
from sparkcheck.io import load_rulesets
from sparkcheck.profile import TableProfile
from sparkcheck.rules import RuleSet
from sparkcheck.run import (
    CheckpointStore,
    ValidationEngine,
    checkpointed_validate,
    merge_group_outcomes,
    run_rulesets,
    split_rules,
)
from sparkcheck.textextract import extraction_mismatch_rows
from sparkcheck.webtext import host_stats, url_host

WEB_SUITE = {"rule_sets": [{
    "name": "webtext_suite", "table": "webtext", "fail_fast": False,
    "rules": [
        {"name": "url_not_null", "type": "null_check", "column": "url"},
        {"name": "url_scheme", "type": "regex", "column": "url",
         "pattern": "https?://"},
        {"name": "text_not_null", "type": "null_check", "column": "text"},
        {"name": "text_length", "type": "length", "column": "text",
         "min_length": 10, "max_length": 100000},
        {"name": "lang_not_null", "type": "null_check", "column": "lang"},
        {"name": "lang_enum", "type": "enum", "column": "lang",
         "values": ["en", "de", "fr", "es", "zh", "ru", "ja", "pt"]},
        {"name": "doc_complete", "type": "completeness",
         "columns": ["url", "text", "lang"]},
        {"name": "url_unique", "type": "unique", "columns": ["url"],
         "max_violations": 1000000},
    ],
}]}

STAR_SUITE = {"rule_sets": [
    {"name": "customers_checks", "table": "customers", "rules": [
        {"name": "c_pk", "type": "unique", "columns": ["c_custkey"]},
        {"name": "c_name_nn", "type": "not_null", "column": "c_name"},
    ]},
    {"name": "part_checks", "table": "part", "rules": [
        {"name": "p_pk", "type": "unique", "columns": ["p_partkey"]},
        {"name": "p_size_range", "type": "range", "column": "p_size",
         "min": 1, "max": 50},
    ]},
    {"name": "orders_checks", "table": "orders", "rules": [
        {"name": "o_pk", "type": "unique", "columns": ["o_orderkey"]},
        {"name": "o_cust_nn", "type": "not_null", "column": "o_custkey"},
        {"name": "o_cust_fk", "type": "referential_integrity",
         "child_table": "orders", "child_column": "o_custkey",
         "parent_table": "customers", "parent_column": "c_custkey"},
    ]},
    {"name": "lineitem_checks", "table": "lineitem", "rules": [
        {"name": "l_order_fk", "type": "referential_integrity",
         "child_table": "lineitem", "child_column": "l_orderkey",
         "parent_table": "orders", "parent_column": "o_orderkey"},
        {"name": "l_part_fk", "type": "referential_integrity",
         "child_table": "lineitem", "child_column": "l_partkey",
         "parent_table": "part", "parent_column": "p_partkey"},
        {"name": "l_qty_range", "type": "range", "column": "l_quantity",
         "min": 1, "max": 50},
    ]},
]}

SEQ_LEN = 2048
SHARDS = 16
CHECKPOINT_GROUPS = 4
PSI_BINS = 10


def host_bucket():
    """Checkpoint group: a url-host hash bucket (NULL urls hash as '')."""
    return F.pmod(F.xxhash64(F.coalesce(url_host(F.col("url")), F.lit(""))),
                  F.lit(CHECKPOINT_GROUPS))


@dataclass
class Inputs:
    spark: SparkSession
    paths: dict[str, str]
    frames: dict[str, DataFrame] = field(default_factory=dict)
    drift_frame: DataFrame | None = None
    score_range: tuple[float, float] = (0.0, 1.0)

    @property
    def web_suite(self) -> RuleSet:
        return load_rulesets(WEB_SUITE)["webtext_suite"]

    @property
    def row_rules(self):
        return split_rules(self.web_suite.enabled_rules())[0]


def load(spark: SparkSession, paths: dict[str, str]) -> Inputs:
    """Register every input table and compute what the drift calls take
    as given: the score range of both snapshots (the PSI / KS bin edges)."""
    inp = Inputs(spark, paths)
    inp.frames = {name: spark.read.parquet(p) for name, p in paths.items()}
    both = inp.frames["baseline"].select("score").unionByName(
        inp.frames["current"].select("score"))
    lo, hi = both.agg(F.min("score"), F.max("score")).first()
    inp.score_range = (float(lo), float(hi))
    inp.drift_frame = (
        inp.frames["baseline"].select("score", F.lit("a_base").alias("slice"))
        .unionByName(inp.frames["current"].select(
            "score", F.lit("b_cur").alias("slice"))))
    return inp


# ---- one function per end-to-end metric --------------------------------

def validate(inp: Inputs, out: str) -> dict[str, int]:
    rep = ValidationEngine(inp.spark).run(
        inp.web_suite, {"webtext": inp.frames["webtext"]})
    return {o.rule_id: o.violations for o in rep.outcomes}


def sink(inp: Inputs, out: str) -> dict[str, int]:
    verdicts = verdicts_and_sink(inp.frames["webtext"], inp.row_rules,
                                 ["id"], out)
    acc: dict[str, int] = {}
    for v in verdicts:
        acc[v["rule_id"]] = acc.get(v["rule_id"], 0) + v["violations"]
    return acc


def checkpoint(inp: Inputs, out: str) -> list:
    return checkpointed_validate(
        inp.spark, inp.frames["webtext"], inp.row_rules, host_bucket(),
        CheckpointStore(out), suite_name="webtext_suite")


def merged(results) -> dict[str, int]:
    return {o["rule_id"]: o["violations"] for o in merge_group_outcomes(results)}


def star(inp: Inputs, out: str) -> dict[str, int]:
    tables = {t: inp.frames[t] for t in ("customers", "part", "orders", "lineitem")}
    res = run_rulesets(inp.spark, load_rulesets(STAR_SUITE), tables)
    return {o.rule_id: o.violations
            for rep in res.reports.values() for o in rep.outcomes}


def extract(inp: Inputs, out: str) -> int:
    return extraction_mismatch_rows(inp.frames["webtext"], key_cols=("id",)).count()


def drift(inp: Inputs, out: str) -> dict[str, float]:
    lo, hi = inp.score_range
    col = F.col("slice")
    return {"psi": psi(inp.drift_frame, "score", col, PSI_BINS, lo, hi),
            "ks": ks_statistic(inp.drift_frame, "score", col, PSI_BINS, lo, hi)}


DRIFT_FLAGS = ("null_pct_delta", "unique_pct_delta", "psi_flag", "chi2_flag")


def compare(base: TableProfile, cur: TableProfile) -> dict:
    delta = compare_profiles(base, cur)
    return {"self_drift": compare_profiles(base, base).has_drift,
            "flags": {c: sorted(k for k in ch if k in DRIFT_FLAGS)
                      for c, ch in delta.column_changes.items()
                      if c in delta.drifted_columns}}


def hosts(inp: Inputs, out: str) -> list[tuple[str, int, int]]:
    return [(r["host"], r["n_docs"], r["n_urls"])
            for r in host_stats(inp.frames["webtext"], salted=True).collect()]


def curate(inp: Inputs, out: str) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli_main(["curate", "--table", inp.paths["corpus"], "--out", out,
                       "--url-col", "url", "--shards", str(SHARDS),
                       "--seq-len", str(SEQ_LEN)])
    if rc != 0:
        raise RuntimeError(f"curate exited {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


# (metric, function, gen.SIZES key whose row count makes the rate or None
# for a metric in seconds, calls per timed round). The sub-second calls
# repeat within a round so that their median shrugs off calls slowed by a
# neighbour on the host; the two shortest, which scattered most over ten
# seeds at three calls, run five times.
OPS = [
    ("validate_docs_per_s", validate, "webtext", 3),
    ("sink_docs_per_s", sink, "webtext", 3),
    ("checkpoint_docs_per_s", checkpoint, "webtext", 1),
    ("star_run_s", star, None, 1),
    ("extract_docs_per_s", extract, "webtext", 1),
    ("drift_check_s", drift, None, 5),
    ("host_stats_docs_per_s", hosts, "webtext", 5),
]
