"""sparkcheck benchmark: one workload in one process, one result line.

    python3 perfbench/run.py --workload skewed --seed 1 --seconds 8 --trace 0

Run from the repository root. A run generates (or reuses) its seeded
inputs under ``.perfbench/data``, starts one local[nproc] session through
``sparkcheck.session.get_spark``, registers the inputs and runs
``WARMUP_ROUNDS`` untimed rounds of every call in ``calls.OPS``. It then
runs whole timed rounds until ``--seconds`` have passed (at least one),
checks every output against ``checks`` and prints one JSON line as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Each end-to-end metric is the median of its call's wall times over the
timed rounds.

``--trace 1`` runs, after the warm-up, one untimed untraced round and one
traced round (their difference is the tracing overhead), then one traced
call of each layer function the rounds do not make on their own (profile
and profile comparison, the curate CLI and the functions it composes).
It reports the per-layer metrics of ``spans.LAYER_CALLS`` and writes the
spans to ``.perfbench/traces``.
"""

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "3g"
KEEP_DATASETS = 6
# untimed rounds before the timed ones: the first is the cold one, the
# second lets the JIT settle (timed rounds after a single warm-up round
# still ran 15-25% slower than later ones)
WARMUP_ROUNDS = 2

# the span (per-layer call name) of each round call in a traced round
ROUND_SPANS = {
    "validate_docs_per_s": "run.engine_run",
    "sink_docs_per_s": "compile.verdicts_and_sink",
    "checkpoint_docs_per_s": "run.checkpointed_validate",
    "star_run_s": "run.run_rulesets",
    "extract_docs_per_s": "textextract.extraction_mismatch_rows",
    "drift_check_s": "drift.check",
    "host_stats_docs_per_s": "webtext.host_stats",
}


def log(msg: str) -> None:
    print(f"[{time.monotonic() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _pin_environment(cores: int) -> None:
    """Cores, heap, worker import path and every temp dir inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARKCHECK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp


def _prune_cache(data_root: str, keep: str) -> None:
    """Keep the KEEP_DATASETS most recently generated datasets."""
    entries = sorted((os.path.getmtime(os.path.join(data_root, d)), d)
                     for d in os.listdir(data_root))
    for _, d in entries[:-KEEP_DATASETS]:
        if d != keep:
            shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)


def _warm_page_cache(paths: dict) -> None:
    for p in paths.values():
        for f in sorted(os.listdir(p)):
            with open(os.path.join(p, f), "rb") as fh:
                while fh.read(1 << 22):
                    pass


def _stop_spark(spark) -> None:
    """Stop the session, then close the py4j gateway and wait for the JVM
    (it exits when its stdin closes) so no process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Runs rounds of calls.OPS, recording wall times, outputs and failures.
    An operation that raises counts as failed; the run goes on."""

    def __init__(self, inp, run_dir: str, tracer):
        self.inp = inp
        self.run_dir = run_dir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.walls: dict[str, list[float]] = {}
        self.results: list[dict] = []

    def round(self, tag: str, keep: bool = False, traced: bool = False,
              timed: bool = True) -> float:
        """One call of every op (``reps`` calls when timed); returns the
        summed wall time. ``keep`` leaves the written outputs for the full
        checks."""
        import calls

        results, total = {"tag": tag}, 0.0
        for metric, fn, _, reps in calls.OPS:
            for rep in range(reps if timed else 1):
                out = os.path.join(self.run_dir, tag, f"{metric}-{rep}")
                gc.collect()
                self.attempted += 1
                t0 = time.monotonic()
                try:
                    if traced:
                        with self.tracer.span(ROUND_SPANS[metric], counters=True):
                            res = fn(self.inp, out)
                    else:
                        res = fn(self.inp, out)
                    wall = time.monotonic() - t0
                except Exception:
                    self.failed += 1
                    traceback.print_exc()
                    continue
                finally:
                    if not keep:
                        shutil.rmtree(out, ignore_errors=True)
                log(f"{tag} {metric} {wall:.3f}s")
                results[metric] = res
                total += wall
                if timed:
                    self.walls.setdefault(metric, []).append(wall)
        self.results.append(results)
        return total


def _e2e_metrics(runner: Runner, sizes: dict, setup_s: float) -> dict:
    import calls

    m = {"setup_s": {"value": setup_s, "unit": "s"}}
    for metric, _, table, _ in calls.OPS:
        walls = runner.walls.get(metric)
        med = statistics.median(walls) if walls else None
        if table is None:
            m[metric] = {"value": med, "unit": "s"}
        else:
            m[metric] = {"value": sizes[table] / med if med else None, "unit": "docs/s"}
    return m


def _probes(inp, runner: Runner, curate_out: str) -> dict:
    """One traced call of each layer function the timed rounds do not
    make on their own: the profile and profile comparison of the two
    snapshots, the curate CLI (output left in ``curate_out``) and every
    function the CLI composes. Each is forced by its own action; an input
    a probe shares with the pipeline is materialized before its span.
    Returns the outputs the checks need, keyed by span name."""
    from pyspark.sql import functions as F

    import calls
    from sparkcheck.compile import summary_df
    from sparkcheck.dedup import dedup_corpus
    from sparkcheck.drift import ks_statistic, psi
    from sparkcheck.integrity import orphan_summary, uniqueness_summary
    from sparkcheck.profile import profile_table
    from sparkcheck.sampling import deterministic_shuffle, pack_sequences
    from sparkcheck.textstats import gopher_quality_flags, token_stats

    web, corpus = inp.frames["webtext"], inp.frames["corpus"]
    lo, hi = inp.score_range

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    base = profile_table(inp.frames["baseline"], "baseline")
    bounds = {c: (s.histogram_lo, s.histogram_hi) for c, s in base.columns.items()
              if s.histogram_lo is not None}
    toks = token_stats(corpus).select("doc_id", "n_tokens")
    with_toks = corpus.join(toks, "doc_id").localCheckpoint()
    shuffled = deterministic_shuffle(with_toks, calls.SHARDS).localCheckpoint()
    out: dict = {}
    probes = [
        ("profile.profile_table", lambda: profile_table(
            inp.frames["current"], "current", histogram_bounds=bounds)),
        ("drift.compare_profiles",
         lambda: calls.compare(base, out["profile.profile_table"])),
        ("drift.psi", lambda: psi(inp.drift_frame, "score", F.col("slice"),
                                  calls.PSI_BINS, lo, hi)),
        ("drift.ks_statistic", lambda: ks_statistic(
            inp.drift_frame, "score", F.col("slice"), calls.PSI_BINS, lo, hi)),
        ("compile.summary_df", lambda: summary_df(web, inp.row_rules).collect()),
        ("integrity.uniqueness_summary",
         lambda: uniqueness_summary(web, ["url"]).collect()),
        ("integrity.orphan_summary", lambda: orphan_summary(
            inp.frames["lineitem"], "l_orderkey", inp.frames["orders"],
            "o_orderkey").collect()),
        ("cli.curate", lambda: calls.curate(inp, curate_out)),
        ("dedup.dedup_corpus", lambda: noop(dedup_corpus(corpus, url_col="url"))),
        ("textstats.gopher_quality_flags", lambda: noop(gopher_quality_flags(corpus))),
        ("textstats.token_stats", lambda: noop(token_stats(corpus))),
        ("sampling.deterministic_shuffle",
         lambda: noop(deterministic_shuffle(with_toks, calls.SHARDS))),
        ("sampling.pack_sequences", lambda: noop(pack_sequences(
            shuffled, "n_tokens", calls.SEQ_LEN, id_col="shard_pos",
            shard_col="shard_id"))),
    ]
    for name, fn in probes:
        gc.collect()
        runner.attempted += 1
        try:
            with runner.tracer.span(name, counters=name != "drift.compare_profiles"):
                out[name] = fn()
        except Exception:
            runner.failed += 1
            traceback.print_exc()
    with_toks.unpersist()
    shuffled.unpersist()
    return out


def _layer_metrics(counters: dict, overhead_s: float, corpus_docs: int) -> dict:
    import spans

    m = {}
    for call, names in spans.LAYER_CALLS.items():
        got = counters.get(call, {})
        for c in names:
            m[f"{call}.{c}"] = {"value": got.get(c), "unit": spans.UNITS[c]}
    cur = counters.get("cli.curate", {})
    m["curate.input_bytes_per_doc"] = {
        "value": cur["input_bytes"] / corpus_docs if "input_bytes" in cur else None,
        "unit": "B/doc"}
    m["trace.overhead_s"] = {"value": overhead_s, "unit": "s"}
    return m


def _check(runner: Runner, inp, paths: dict, workload: str, run_dir: str,
           probed: dict) -> list[str]:
    """Every round's outputs against the expectations, the first round's
    written outputs (sink, checkpoint store) in full, and the outputs of
    the traced run's extra calls."""
    import calls
    import checks
    import gen

    con = checks.connect(os.path.join(WORK, "tmp"))
    try:
        exp = checks.expected(con, paths, workload)
        lo, hi = inp.score_range
        bins = checks.duck_score_bins(con, paths, lo, hi, calls.PSI_BINS)
        problems = []
        if (lo, hi) != exp["score_range"]:
            problems.append(f"score range {(lo, hi)} != duckdb {exp['score_range']}")
        first = runner.results[0]
        for res in runner.results:
            for metric, fn, arg in (
                ("validate_docs_per_s", checks.check_validate, exp),
                ("sink_docs_per_s", checks.check_verdicts, exp),
                ("star_run_s", checks.check_star, exp),
                ("extract_docs_per_s", checks.check_extract, exp),
                ("drift_check_s", checks.check_drift, bins),
                ("host_stats_docs_per_s", checks.check_hosts, exp),
            ):
                if metric in res:
                    problems += fn(res[metric], arg)
            if "checkpoint_docs_per_s" in res:
                problems += checks.check_checkpoint(
                    calls.merged(res["checkpoint_docs_per_s"]), exp)
        rdir = os.path.join(run_dir, first["tag"])
        if "sink_docs_per_s" in first:
            problems += checks.check_sink(con, os.path.join(rdir, "sink_docs_per_s-0"),
                                          paths["webtext"], exp)
        if "checkpoint_docs_per_s" in first:
            again = calls.checkpoint(inp, os.path.join(rdir, "checkpoint_docs_per_s-0"))
            problems += checks.check_resume(first["checkpoint_docs_per_s"], again)
        if "profile.profile_table" in probed:
            problems += checks.check_profile(probed["profile.profile_table"], exp)
        if "drift.compare_profiles" in probed:
            problems += checks.check_compare(probed["drift.compare_profiles"], gen.DRIFT)
        if "cli.curate" in probed:
            problems += checks.check_curate(
                con, probed["cli.curate"], os.path.join(run_dir, "curate"),
                paths["corpus"], exp, gen.CURATE_MOD[workload], calls.SEQ_LEN)
        missing = [m for m, *_ in calls.OPS if m not in first]
        if missing:
            problems.append(f"no output to check for {missing}")
        return problems
    finally:
        con.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import gen

    if args.workload not in gen.SIZES:
        print(f"unknown workload {args.workload!r}; have {sorted(gen.SIZES)}",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "sparkcheck", "session.py")):
        print(f"no sparkcheck package under {ROOT}; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    _pin_environment(cores)
    sys.path.insert(0, ROOT)

    import spans

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(WORK, "runs", run_id)
    tracer = spans.Tracer(run_id, cores=cores)

    t = time.monotonic()
    data_root = os.path.join(WORK, "data")
    paths = gen.generate(data_root, args.workload, args.seed)
    gen_s = time.monotonic() - t
    _prune_cache(data_root, os.path.basename(os.path.dirname(paths["webtext"])))
    _warm_page_cache(paths)
    log(f"inputs ready, {gen_s:.2f}s generating")

    from sparkcheck.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        })
    tracer.spark = spark
    try:
        import calls

        inp = calls.load(spark, paths)
        runner = Runner(inp, run_dir, tracer)
        for i in range(WARMUP_ROUNDS):
            runner.round(f"warmup{i}", keep=i == 0, timed=False)
        setup_s = time.monotonic() - T0 - gen_s
        log(f"setup_s {setup_s:.2f}")
        probed = {}
        if args.trace:
            untraced = runner.round("r0", timed=False)
            traced = runner.round("r1", traced=True, timed=False)
            overhead = traced - untraced
            probed = _probes(inp, runner, os.path.join(run_dir, "curate"))
        else:
            deadline = time.monotonic() + args.seconds
            while True:
                runner.round(f"r{len(runner.results) - WARMUP_ROUNDS}")
                if time.monotonic() >= deadline:
                    break
        try:
            problems = _check(runner, inp, paths, args.workload, run_dir, probed)
        except Exception:
            traceback.print_exc()
            problems = ["a check raised; see the traceback above"]
        log(f"checked: {len(problems)} problems")
    finally:
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", run_id + ".jsonl"))
        metrics = _layer_metrics(tracer.counters, overhead,
                                 gen.SIZES[args.workload]["corpus"])
    else:
        metrics = _e2e_metrics(runner, gen.SIZES[args.workload], setup_s)
    print(json.dumps({"correct": not problems, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
