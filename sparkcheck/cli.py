"""Command-line surface — the Spark-native analog of the reference CLI
(sqltest/cli/main.py:22-69: `sqltest profile`, `sqltest validate`,
`sqltest business-rules`).

    python -m sparkcheck profile  --table <parquet> [--columns a,b] --out profile.json
    python -m sparkcheck validate --table <parquet> --rules rules.yaml --out report.json
                                  [--html report.html] [--csv outcomes.csv]
                                  [--history history.jsonl]
    python -m sparkcheck drift    --table <parquet> --baseline profile.json --out drift.json
    python -m sparkcheck report   --report report.json [--history history.jsonl]
                                  [--drift drift.json] --out report.html
                                  [--csv outcomes.csv]      # reference cli report.py
    python -m sparkcheck init     --dir ./checks            # reference cli init.py scaffolding

Each subcommand builds one SparkSession, runs the corresponding engine
path, writes JSON, prints a one-line summary, and exits non-zero when
validation fails / drift is detected (CI-gate friendly, like the
reference's exit codes).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys


def _spark(cpus: str | None):
    from sparkcheck.session import get_spark

    return get_spark(app_name="sparkcheck-cli",
                     master=f"local[{cpus}]" if cpus else None)


def cmd_profile(args) -> int:
    from sparkcheck.profile import profile_table

    spark = _spark(args.cpus)
    df = spark.read.parquet(args.table)
    cols = args.columns.split(",") if args.columns else None
    prof = profile_table(df, table_name=args.table, columns=cols,
                         approx_distinct=not getattr(args, "exact_ndv", False))
    payload = dataclasses.asdict(prof)
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=2, default=str)
    if getattr(args, "html", None):
        from sparkcheck.io.html_report import render_profile_html

        with open(args.html, "w") as f:
            f.write(render_profile_html(prof))
    print(json.dumps({"table": args.table, "rows": prof.total_rows,
                      "columns": len(prof.columns), "out": args.out}))
    return 0


def cmd_corpus(args) -> int:
    """One-call corpus report card (webtext.corpus_report): volume,
    tokens, quality, language mix, PII, repetition, duplication."""
    from sparkcheck.webtext import corpus_report, render_corpus_html

    spark = _spark(args.cpus)
    df = spark.read.parquet(args.table)
    rep = corpus_report(df, text_col=args.text_col, id_col=args.id_col)
    with open(args.out, "w") as f:
        json.dump(rep, f, indent=2)
    if getattr(args, "html", None):
        with open(args.html, "w") as f:
            f.write(render_corpus_html(rep, title=f"corpus report — {args.table}"))
    print(json.dumps({"docs": rep["docs"], "out": args.out,
                      "exact_dup_rate": rep["duplication"]["exact_dup_rate"],
                      "pii_rate": rep["pii"]["any_pii_rate"]}))
    return 0


def cmd_curate(args) -> int:
    """End-to-end corpus curation (the training-data pipeline this
    package's operator families compose into): dedup (URL → exact →
    LSH near-dup → keep-best) → Gopher quality filter → seeded global
    shuffle → sequence packing, written as parquet with every doc's
    training-layout coordinates (shard_id, shard_pos, seq_id,
    seq_offset). Each stage is the library's own oracle-checked
    operator; this command is the spark-submit composition of them."""
    from pyspark.sql import functions as F

    from sparkcheck.dedup import dedup_corpus
    from sparkcheck.sampling import deterministic_shuffle, pack_sequences
    from sparkcheck.textstats import gopher_quality_flags, token_stats

    spark = _spark(args.cpus)
    df = spark.read.parquet(args.table)
    n_in = df.count()

    stage = df
    if not args.no_dedup:
        # Materialize the SURVIVOR-ID frame once (localCheckpoint — the
        # same narrow-ids discipline as dedup/pipeline.py's internal
        # stages): the dedup lineage previously re-executed for this
        # count, the quality count, AND the final token-join + write —
        # the most expensive stage ran ~3× per curate run. Ids only;
        # full rows re-join the pruned source.
        dedup_ids = (
            dedup_corpus(
                stage,
                text_col=args.text_col,
                id_col=args.id_col,
                url_col=args.url_col,
                checkpoint_dir=args.checkpoint_dir,
            )
            .select(args.id_col)
            .localCheckpoint()
        )
        stage = df.join(dedup_ids, on=args.id_col, how="left_semi")
        n_dedup = dedup_ids.count()
    else:
        n_dedup = n_in

    if not args.no_quality:
        keep = gopher_quality_flags(
            stage, args.text_col, args.id_col
        ).where(F.col("keep") == 1).select(args.id_col)
        stage = stage.join(keep, on=args.id_col, how="semi")
    if args.lm_ref:
        # CCNet stage: train a pruned stupid-backoff LM on the trusted
        # reference parquet, score the corpus, drop the worst tercile
        # (threshold mode — map-only, no per-group sort)
        from sparkcheck.textstats.lm import (
            perplexity_buckets,
            perplexity_scores,
            train_ngram_counts,
        )

        ref = spark.read.parquet(args.lm_ref)
        lm = train_ngram_counts(
            ref, text_col=args.text_col, n=3, min_count=args.lm_min_count
        )
        scored = perplexity_scores(
            stage, lm, text_col=args.text_col, id_col=args.id_col, n=3
        ).withColumn("_all", F.lit("all"))
        lm_keep = (
            perplexity_buckets(
                scored, by="_all", id_col=args.id_col, method="threshold"
            )
            .where(F.col("ppl_bucket") < 3)
            .select(args.id_col)
        )
        stage = stage.join(lm_keep, on=args.id_col, how="semi")
    if not (args.no_quality and not args.lm_ref):
        # same single-execution discipline for the quality stages: pin
        # the surviving ids so the token-stats join + write below don't
        # re-run the gopher/LM filters
        quality_ids = stage.select(args.id_col).localCheckpoint()
        stage = df.join(quality_ids, on=args.id_col, how="left_semi")
        n_quality = quality_ids.count()
    else:
        n_quality = n_dedup

    if "n_tokens" in stage.columns:
        # same explicit-clash contract as deterministic_shuffle /
        # pack_sequences' staged columns: a pre-existing n_tokens would
        # silently duplicate under the join and fail far away at packing
        raise ValueError(
            "input table already has an 'n_tokens' column — rename or drop "
            "it; curate derives n_tokens from token_stats over "
            f"--text-col {args.text_col!r}"
        )
    toks = token_stats(stage, args.text_col, args.id_col).select(
        args.id_col, "n_tokens"
    )
    stage = stage.join(toks, on=args.id_col)
    shuffled = deterministic_shuffle(
        stage, num_shards=args.shards, id_col=args.id_col, seed=args.seed
    )
    packed = pack_sequences(
        shuffled, "n_tokens", args.seq_len,
        id_col="shard_pos", shard_col="shard_id",
    )
    packed.write.mode("overwrite").parquet(args.out)

    out_df = spark.read.parquet(args.out)
    summary = {
        "input_docs": n_in,
        "after_dedup": n_dedup,
        "after_quality": n_quality,
        "packed_docs": out_df.count(),
        "sequences": out_df.select(
            "shard_id", "seq_id"
        ).distinct().count(),
        "tokens": int(
            out_df.agg(F.sum("n_tokens")).collect()[0][0] or 0
        ),
        "out": args.out,
    }
    print(json.dumps(summary))
    return 0


def cmd_validate(args) -> int:
    from sparkcheck.io.config import load_ruleset_yaml
    from sparkcheck.io.sinks import write_report_json
    from sparkcheck.run import ValidationEngine

    spark = _spark(args.cpus)
    rulesets = load_ruleset_yaml(args.rules)
    # table bindings: --table is the default input; --bind name=path adds
    # named tables that rule sets reference via their YAML `table:` key
    tables = {"table": spark.read.parquet(args.table)}
    for spec in getattr(args, "bind", None) or ():
        name, _, path = spec.partition("=")
        if not path:
            raise SystemExit(f"--bind expects name=path, got {spec!r}")
        tables[name] = spark.read.parquet(path)

    if getattr(args, "all_rulesets", False):
        return _validate_all(args, spark, rulesets, tables)

    ruleset = rulesets[args.ruleset] if args.ruleset else next(iter(rulesets.values()))
    if ruleset.table and ruleset.table not in tables:
        # the YAML declares a table this invocation never bound — falling
        # back to --table silently would validate a different table than
        # the suite declares
        print(
            f"warning: rule set {ruleset.name!r} declares table: "
            f"{ruleset.table!r} but no --bind {ruleset.table}=<path> was "
            f"given; validating the --table input instead",
            file=sys.stderr,
        )
    # capture_plans: every outcome carries the physical plan it ran under
    # so the report's analysis section can flag cartesian joins /
    # unpushed filters
    report = ValidationEngine(spark, capture_plans=True).run(
        ruleset, tables,
        default_table=ruleset.table if ruleset.table in tables else "table",
    )
    write_report_json(report, args.out)
    # Split history views: the slow/flaky/degrading detectors compare the
    # current run against PRIOR runs only (with the current sample inside
    # its own baseline, `elapsed > p95(history)` could never fire), while
    # the trend section plots the full history including this run.
    prior_hist = full_hist = None
    if getattr(args, "history", None):
        from sparkcheck.io.html_report import append_history, load_history

        prior_hist = load_history(args.history)
        append_history(report, args.history)
        full_hist = load_history(args.history)
    if getattr(args, "html", None):
        from sparkcheck.io.html_report import render_full_html
        from sparkcheck.run.analyze import analyze_report

        with open(args.html, "w") as f:
            f.write(render_full_html(
                report, history=full_hist,
                insights=analyze_report(report, prior_hist or ()),
                title=f"sparkcheck — {ruleset.name}",
            ))
    if getattr(args, "csv", None):
        from sparkcheck.io.html_report import write_outcomes_csv

        write_outcomes_csv(report, args.csv)
    print(json.dumps({"ruleset": ruleset.name, "passed": report.passed,
                      "violations": report.total_violations, "out": args.out}))
    return 0 if report.passed else 2


def _validate_all(args, spark, rulesets, tables) -> int:
    """--all-rulesets: orchestrate every rule set in the config into one
    run with an aggregate report (run/orchestrate.py — the reference's
    orchestration.py / enterprise_executor.py surface)."""
    from sparkcheck.run import run_rulesets

    # sets whose YAML table isn't bound fall back to the --table input
    for rs in rulesets.values():
        if rs.table and rs.table not in tables:
            tables[rs.table] = tables["table"]
    result = run_rulesets(
        spark, rulesets, tables, default_table="table",
        capture_plans=True, fail_fast=getattr(args, "fail_fast", False),
        history_path=getattr(args, "history", None),
    )
    with open(args.out, "w") as f:
        json.dump(result.summary_dict(), f, indent=2, default=str)
    if getattr(args, "html", None):
        from sparkcheck.io.html_report import render_orchestration_html

        with open(args.html, "w") as f:
            f.write(render_orchestration_html(result))
    if getattr(args, "csv", None):
        from sparkcheck.io.html_report import write_merged_outcomes_csv

        write_merged_outcomes_csv(result.reports, args.csv)
    print(json.dumps({"rule_sets": len(result.reports),
                      "passed": result.passed,
                      "violations": result.total_violations,
                      "out": args.out}))
    return 0 if result.passed else 2


def cmd_drift(args) -> int:
    import dataclasses as dc

    from sparkcheck.drift import compare_profiles
    from sparkcheck.profile import profile_table
    from sparkcheck.profile.models import ColumnStatistics, TableProfile

    spark = _spark(args.cpus)
    with open(args.baseline) as f:
        raw = json.load(f)
    raw["columns"] = {k: ColumnStatistics(**v) for k, v in raw["columns"].items()}
    field_names = {f.name for f in dc.fields(TableProfile)}
    baseline = TableProfile(**{k: v for k, v in raw.items() if k in field_names})
    # Re-bin the current table on the BASELINE's histogram edges so the
    # PSI/KS comparison is over aligned bins.
    bounds = {
        c: (cs.histogram_lo, cs.histogram_hi)
        for c, cs in baseline.columns.items()
        if cs.histogram_lo is not None and cs.histogram_hi is not None
    }
    current = profile_table(
        spark.read.parquet(args.table), table_name=baseline.table,
        histogram_bounds=bounds or None,
    )
    delta = compare_profiles(baseline, current)
    with open(args.out, "w") as f:
        json.dump(dc.asdict(delta), f, indent=2, default=str)
    if getattr(args, "html", None):
        from sparkcheck.io.html_report import render_comparison_html

        with open(args.html, "w") as f:
            f.write(render_comparison_html(
                baseline, current, delta,
                title=f"sparkcheck drift — {baseline.table}",
            ))
    print(json.dumps({"has_drift": delta.has_drift, "out": args.out}))
    return 3 if delta.has_drift else 0


def cmd_report(args) -> int:
    """Compose report JSON + run history + drift delta into one HTML page
    (+ optional CSV export) — the analog of the reference's `sqltest
    report` (cli/commands/report.py). Pure driver-side: no SparkSession."""
    from sparkcheck.io.html_report import (
        load_history,
        render_full_html,
        write_outcomes_csv,
    )

    report = None
    if args.report:
        with open(args.report) as f:
            report = json.load(f)
    hist = load_history(args.history) if args.history else None
    drift = None
    if args.drift:
        with open(args.drift) as f:
            drift = json.load(f)
    insights = None
    if report is not None:
        from sparkcheck.run.analyze import analyze_report

        # the stored history usually already contains THIS report's run
        # (validate appends before report composes) — drop the trailing
        # record that matches it so the slow-rule detector's baseline is
        # prior runs only (a sample inside its own p95 can never exceed it)
        prior = list(hist or ())
        if prior:
            run_ts = report.get("run_ts")
            if run_ts:
                # exact match on the run id append_history stored as ts
                if prior[-1].get("ts") == run_ts:
                    prior = prior[:-1]
            else:
                # legacy report files without run_ts: fall back to the
                # violations-map heuristic (can false-positive on stable
                # suites whose consecutive runs have identical counts)
                this_run = {
                    o["rule_id"]: o.get("violations")
                    for o in report.get("outcomes", [])
                    if isinstance(o, dict)
                }
                last = {
                    rid: vals.get("violations")
                    for rid, vals in (prior[-1].get("rules") or {}).items()
                }
                if this_run and last == this_run:
                    prior = prior[:-1]
        insights = analyze_report(report, prior)
    html_doc = render_full_html(report, history=hist, drift=drift,
                                insights=insights, title=args.title)
    with open(args.out, "w") as f:
        f.write(html_doc)
    if args.csv and report is not None:
        write_outcomes_csv(report, args.csv)
    print(json.dumps({"out": args.out,
                      "sections": {"outcomes": report is not None,
                                   "trend": bool(hist and len(hist) > 1),
                                   "drift": drift is not None}}))
    return 0


_INIT_RULES_YAML = """\
# sparkcheck rule suite — edit table/column names for your data.
# Run: python -m sparkcheck validate --table <parquet> --rules rules.yaml \\
#        --out report.json --html report.html --history history.jsonl
rule_sets:
  - name: example_checks
    fail_fast: false
    rules:
      - {name: id_not_null, type: null_check, column: id}
      - {name: id_unique, type: unique, columns: [id]}
      - {name: value_range, type: range, column: value, min: 0, max: 1000000}
      - {name: status_enum, type: enum, column: status, values: [active, inactive]}
      - {name: email_format, type: regex, column: email,
         pattern: "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", severity: warning}
      - {name: complete, type: completeness, columns: [id, value]}
"""

_INIT_SUITE_YAML = """\
# sparkcheck SQL unit-test suite — run with sparkcheck.testing:
#   from sparkcheck.session import get_spark
#   from sparkcheck.testing import load_suite_yaml, SparkTestRunner
#   res = SparkTestRunner(get_spark()).execute_suite(load_suite_yaml("suite.yaml"))
name: example_suite
fixtures:
  - name: users
    table_name: users
    fixture_type: inline
    data_source:
      - {id: 1, name: Alice}
      - {id: 2, name: Bob}
    schema: "id int, name string"
tests:
  - name: user_count
    sql: SELECT COUNT(*) AS n FROM users
    fixtures: [users]
    assertions:
      - {type: equals, expected: [{n: 2}]}
  - name: ids_unique
    sql: SELECT id FROM users
    fixtures: [users]
    assertions:
      - {type: is_unique, column: id}
"""


def cmd_init(args) -> int:
    """Scaffold a checks directory (reference cli/commands/init.py):
    a starter rules.yaml + SQL-test suite.yaml, never overwriting.
    ``--ci github|gitlab|jenkins`` additionally writes a pipeline that
    runs validate + report and uploads the artifacts
    (ci_cd_integration.py:144-413 providers)."""
    import os

    os.makedirs(args.dir, exist_ok=True)
    written = []
    for fname, content in [("rules.yaml", _INIT_RULES_YAML),
                           ("suite.yaml", _INIT_SUITE_YAML)]:
        path = os.path.join(args.dir, fname)
        if os.path.exists(path):
            continue
        with open(path, "w") as f:
            f.write(content)
        written.append(fname)
    if getattr(args, "ci", None):
        from sparkcheck.io.ci import DEFAULT_PATHS, EMITTERS

        platform = args.ci
        if platform not in EMITTERS:
            print(json.dumps({"error": f"unknown CI platform {platform!r}; "
                                       f"choose from {sorted(EMITTERS)}"}))
            return 1
        ci_path = os.path.join(args.dir, DEFAULT_PATHS[platform])
        os.makedirs(os.path.dirname(ci_path) or ".", exist_ok=True)
        if not os.path.exists(ci_path):
            with open(ci_path, "w") as f:
                f.write(EMITTERS[platform]())
            written.append(os.path.relpath(ci_path, args.dir))
    print(json.dumps({"dir": args.dir, "written": written}))
    return 0


def cmd_mock(args) -> int:
    """Materialize a named mock scenario (testing/scenarios.py) to
    parquet tables under --out/<table>/ — multi-table fixture sets with
    FK graphs, generated deterministically at any size (the CLI face of
    the reference's scenario manager, advanced_mocking.py:546-607)."""
    import os

    from sparkcheck.testing.scenarios import build_scenario, load_scenarios_yaml

    scenarios = load_scenarios_yaml(args.scenarios)
    if args.scenario:
        if args.scenario not in scenarios:
            print(json.dumps({"error": f"unknown scenario {args.scenario!r}; "
                                       f"available: {sorted(scenarios)}"}))
            return 1
        chosen = scenarios[args.scenario]
    else:
        chosen = next(iter(scenarios.values()))
    spark = _spark(args.cpus)
    frames = build_scenario(spark, chosen)
    written = {}
    for name, df in frames.items():
        path = os.path.join(args.out, name)
        df.write.mode("overwrite").parquet(path)
        written[name] = path
    print(json.dumps({"scenario": chosen.name, "tables": written}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="sparkcheck")
    ap.add_argument("--cpus", default=None, help="local[N] override")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("profile", help="one-pass table profile → JSON")
    p.add_argument("--table", required=True)
    p.add_argument("--columns", default=None)
    p.add_argument("--out", required=True)
    p.add_argument("--html", default=None, help="also render a profile dashboard")
    p.add_argument("--exact-ndv", action="store_true",
                   help="exact distinct counts (default: HLL approx — the "
                        "skew-proof profiling mode)")
    p.set_defaults(fn=cmd_profile)

    cr = sub.add_parser("corpus", help="corpus quality report card → JSON")
    cr.add_argument("--table", required=True)
    cr.add_argument("--text-col", default="text", dest="text_col")
    cr.add_argument("--id-col", default="doc_id", dest="id_col")
    cr.add_argument("--out", required=True)
    cr.add_argument("--html", default=None, help="also render the report page")
    cr.set_defaults(fn=cmd_corpus)

    cu = sub.add_parser(
        "curate",
        help="dedup → quality-filter → shuffle → pack a corpus to parquet",
    )
    cu.add_argument("--table", required=True)
    cu.add_argument("--out", required=True)
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--url-col", default=None)
    cu.add_argument("--shards", type=int, default=64)
    cu.add_argument("--seq-len", type=int, default=2048)
    cu.add_argument("--seed", type=int, default=1)
    cu.add_argument("--no-dedup", action="store_true")
    cu.add_argument("--no-quality", action="store_true")
    cu.add_argument("--lm-ref", default=None,
                    help="trusted-reference parquet: train a 3-gram LM on it "
                         "and drop the worst perplexity tercile (CCNet stage)")
    cu.add_argument("--lm-min-count", type=int, default=2)
    cu.add_argument("--checkpoint-dir", default=None,
                    help="dedup stage checkpoints (resume after a kill)")
    cu.set_defaults(fn=cmd_curate)

    v = sub.add_parser("validate", help="run a YAML rule suite")
    v.add_argument("--table", required=True)
    v.add_argument("--rules", required=True)
    v.add_argument("--ruleset", default=None)
    v.add_argument("--out", required=True)
    v.add_argument("--html", default=None, help="also render an HTML report")
    v.add_argument("--csv", default=None, help="also export outcomes CSV")
    v.add_argument("--history", default=None,
                   help="append this run to a JSONL history (enables trends)")
    v.add_argument("--all-rulesets", action="store_true", dest="all_rulesets",
                   help="orchestrate EVERY rule set in the config into one "
                        "aggregate run/report")
    v.add_argument("--bind", action="append", default=None, metavar="NAME=PATH",
                   help="bind a named table to a parquet path (repeatable; "
                        "rule sets reference it via their YAML `table:` key)")
    v.add_argument("--fail-fast", action="store_true", dest="fail_fast",
                   help="with --all-rulesets: stop launching sets after one fails")
    v.set_defaults(fn=cmd_validate)

    d = sub.add_parser("drift", help="compare table vs stored baseline profile")
    d.add_argument("--table", required=True)
    d.add_argument("--baseline", required=True)
    d.add_argument("--out", required=True)
    d.add_argument("--html", default=None,
                   help="also render the side-by-side comparison page")
    d.set_defaults(fn=cmd_drift)

    r = sub.add_parser("report", help="render HTML/CSV from stored artifacts")
    r.add_argument("--report", default=None, help="report JSON from validate")
    r.add_argument("--history", default=None, help="history JSONL (trend section)")
    r.add_argument("--drift", default=None, help="drift JSON (comparison section)")
    r.add_argument("--out", required=True, help="output HTML path")
    r.add_argument("--csv", default=None, help="also export outcomes CSV")
    r.add_argument("--title", default="sparkcheck report")
    r.set_defaults(fn=cmd_report)

    m = sub.add_parser("mock", help="materialize a mock scenario to parquet")
    m.add_argument("--scenarios", required=True, help="scenarios YAML file")
    m.add_argument("--scenario", default=None, help="scenario name (default: first)")
    m.add_argument("--out", required=True, help="output dir (one subdir per table)")
    m.set_defaults(fn=cmd_mock)

    i = sub.add_parser("init", help="scaffold rules.yaml + suite.yaml")
    i.add_argument("--dir", default=".")
    i.add_argument("--ci", default=None,
                   help="also write a CI pipeline: github | gitlab | jenkins")
    i.set_defaults(fn=cmd_init)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
