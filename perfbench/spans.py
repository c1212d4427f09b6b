"""Spans and Spark job counters for the traced run.

A span is (name, start, end, parent, run_id); spans stay in memory and are
written as JSON lines when the run ends. A span opened with
``counters=True`` also tags its jobs with a Spark job group named after
the span and, once the call returns, reads every job launched since the
span opened — including jobs submitted from the library's own driver
threads, which do not inherit the group — from the application status
store. That store is filled by the listener bus even with the UI off.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# counters of a call that runs Spark jobs; "+result" adds result_bytes
FULL = ("wall_s", "jobs", "stages", "input_bytes", "shuffle_bytes",
        "executor_s", "slot_busy")
UNITS = {"wall_s": "s", "jobs": "count", "stages": "count",
         "input_bytes": "B", "shuffle_bytes": "B", "executor_s": "s",
         "slot_busy": "ratio", "result_bytes": "B"}

# every per-layer call the traced run records, with its counters
LAYER_CALLS = {
    "session.get_spark": ("wall_s",),
    "run.engine_run": FULL + ("result_bytes",),
    "compile.summary_df": FULL,
    "integrity.uniqueness_summary": FULL,
    "compile.verdicts_and_sink": FULL + ("result_bytes",),
    "run.checkpointed_validate": FULL,
    "run.run_rulesets": FULL,
    "integrity.orphan_summary": FULL,
    "textextract.extraction_mismatch_rows": FULL,
    "profile.profile_table": FULL + ("result_bytes",),
    "webtext.host_stats": FULL + ("result_bytes",),
    "drift.psi": ("wall_s", "jobs", "shuffle_bytes", "executor_s"),
    "drift.ks_statistic": ("wall_s", "jobs", "shuffle_bytes", "executor_s"),
    "drift.compare_profiles": ("wall_s",),
    "dedup.dedup_corpus": FULL,
    "textstats.gopher_quality_flags": FULL,
    "textstats.token_stats": FULL,
    "sampling.deterministic_shuffle": FULL,
    "sampling.pack_sequences": FULL,
    "cli.curate": FULL,
}
# derived per-run figures: (name, unit)
DERIVED = (("curate.input_bytes_per_doc", "B/doc"),
           ("trace.overhead_s", "s"))


def per_layer_names() -> list[tuple[str, str]]:
    out = [(f"{call}.{c}", UNITS[c]) for call, cs in LAYER_CALLS.items()
           for c in cs]
    return out + list(DERIVED)


class Tracer:
    def __init__(self, run_id: str, spark=None, cores: int = 1):
        self.run_id = run_id
        self.spark = spark
        self.cores = cores
        self.spans: list[dict] = []
        self.counters: dict[str, dict[str, float]] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, counters: bool = False):
        rec = {"name": name, "run_id": self.run_id,
               "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext if counters else None
        if sc is not None:
            self._drain()
            first_job = self._max_job_id() + 1
            sc.setJobGroup(name, name)
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            wall = time.monotonic() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc._jsc.clearJobGroup()
                self._drain()
                c = self._job_counters(first_job)
                c["wall_s"] = wall
                c["slot_busy"] = c["executor_s"] / (wall * self.cores) if wall else 0.0
                self.counters[name] = c
                rec["counters"] = c
            else:
                self.counters.setdefault(name, {})["wall_s"] = wall

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every queued event."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _max_job_id(self) -> int:
        # jobsList is newest first
        jobs = self._store().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _job_counters(self, first_job: int) -> dict[str, float]:
        store = self._store()
        jobs = store.jobsList(None)
        c = {"jobs": 0, "stages": 0, "input_bytes": 0, "shuffle_bytes": 0,
             "executor_s": 0.0, "result_bytes": 0}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() < first_job:
                break
            c["jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.length()):
                st = store.lastStageAttempt(sids.apply(k))
                if str(st.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["input_bytes"] += st.inputBytes()
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["executor_s"] += st.executorRunTime() / 1000.0
                c["result_bytes"] += st.resultSize()
        return c

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
