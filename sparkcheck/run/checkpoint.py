"""Per-partition checkpoint / resume.

North-rule requirement: interrupted runs resume per-partition without
recomputation. The reference's nearest analog is its result cache keyed
by (rule, context) (business_rules/engine.py:71-128) — volatile and
in-process. Here the checkpoint is DURABLE: a verdict store keyed by
(suite_fingerprint, group_id), where ``group_id`` is the value of a
caller-chosen partition expression (an Iceberg partition column in
production — date bucket, url-host hash bucket; at small scale any
low-cardinality column expression works).

One run is ONE grouped pass. Rows are tagged with their group id; NULL
groups are dropped, and so are the groups the store has completed, by
an anti-filter ``~isin(done)`` on the group column — on a partition
column Spark prunes the done partitions from the scan, which the
incremental path (``versioning.revalidate_targets``) relies on. Every
pending group's rule summary then comes from one ``summary_df(...,
by="__group")`` aggregate over that one scan, collected once. The Spark driver
splits the rows by group and, in sorted group order, saves each group
(atomic marker rename) and then calls ``on_group_done`` for it. Done
groups are loaded from the store (``resumed=True``) without evaluating
their rules again; when the store holds any, one small distinct job
finds which of them the data still has, so a stored group that is gone
from the data is not returned.

Crash semantics: a crash during the pass loses the pass — the next run
re-runs every group it had pending. A crash after the pass (in a save
or an ``on_group_done`` callback) keeps the groups saved before it, and
those resume. ``elapsed_sec`` of a computed group is the wall time of
the whole shared pass, not an even share of it.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from sparkcheck.compile import summary_df
from sparkcheck.rules.models import Rule, RuleSet
from sparkcheck.session import job_description


@dataclass
class GroupResult:
    group_id: str
    outcomes: list[dict[str, Any]]
    # wall time of the pass that computed this group — one grouped pass
    # serves every pending group, so they all carry the same figure
    elapsed_sec: float
    resumed: bool = False  # True when loaded from checkpoint, not recomputed


class CheckpointStore:
    """Filesystem-backed verdict store (works on HDFS/S3 paths via the
    JVM in production; plain local fs in the sandbox)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _group_dir(self, suite_fp: str, group_id: str) -> str:
        """One directory per group id, injectively: an id that sanitising
        changes (or that names no directory of its own: '', '.', '..')
        gets a '~' + hash suffix, and '~' never survives sanitising, so
        no suffixed name equals an id kept as is."""
        raw = str(group_id)
        safe = "".join(c if c.isalnum() or c in "-_." else "_" for c in raw)
        if safe != raw or safe in ("", ".", ".."):
            safe += "~" + hashlib.sha256(raw.encode()).hexdigest()[:16]
        return os.path.join(self.root, suite_fp, safe)

    def completed_groups(self, suite_fp: str) -> set[str]:
        base = os.path.join(self.root, suite_fp)
        if not os.path.isdir(base):
            return set()
        done = set()
        for d in os.listdir(base):
            marker = os.path.join(base, d, "_SUCCESS.json")
            if os.path.exists(marker):
                with open(marker) as f:
                    done.add(json.load(f)["group_id"])
        return done

    def load_group(self, suite_fp: str, group_id: str) -> GroupResult:
        d = self._group_dir(suite_fp, group_id)
        with open(os.path.join(d, "_SUCCESS.json")) as f:
            meta = json.load(f)
        return GroupResult(
            group_id=group_id, outcomes=meta["outcomes"],
            elapsed_sec=meta["elapsed_sec"], resumed=True,
        )

    def save_group(self, suite_fp: str, result: GroupResult) -> None:
        d = self._group_dir(suite_fp, result.group_id)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, "_SUCCESS.json.tmp")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "group_id": result.group_id,
                    "outcomes": result.outcomes,
                    "elapsed_sec": result.elapsed_sec,
                    "written_at": time.time(),
                },
                f,
            )
        os.replace(tmp, os.path.join(d, "_SUCCESS.json"))  # atomic mark


def checkpointed_validate(
    spark: SparkSession,
    df: DataFrame,
    rules: Sequence[Rule],
    group_col: Column,
    store: CheckpointStore,
    suite_name: str = "suite",
    on_group_done: Callable[[GroupResult], None] | None = None,
) -> list[GroupResult]:
    """Validate per partition-group with resume, sorted by group id.

    ``group_col``: expression labeling each group (in production a
    PARTITION column so the done-group anti-filter prunes the scan).
    Every pending group is computed by one grouped pass (see the module
    docstring); completed groups are loaded from the store."""
    suite_fp = RuleSet(name=suite_name, rules=tuple(rules)).fingerprint()
    tagged = (df.withColumn("__group", group_col.cast("string"))
              .where(F.col("__group").isNotNull()))
    done = sorted(store.completed_groups(suite_fp))
    results: list[GroupResult] = []
    pending = tagged
    if done:
        with job_description(spark, f"{suite_name}: locate {len(done)} done groups"):
            present = (tagged.where(F.col("__group").isin(done))
                       .select("__group").distinct().collect())
        results = [store.load_group(suite_fp, r["__group"]) for r in present]
        pending = tagged.where(~F.col("__group").isin(done))

    with job_description(spark, f"{suite_name}: {len(rules)} rules over "
                                f"pending groups ({len(done)} done)"):
        t0 = time.monotonic()
        rows = summary_df(pending, rules, by="__group").collect()
        elapsed = time.monotonic() - t0
    by_group: dict[str, list[dict[str, Any]]] = {}
    for row in rows:  # stack() emits a group's rules contiguously, in order
        o = row.asDict()
        by_group.setdefault(o.pop("__group"), []).append(o)
    for g in sorted(by_group):
        res = GroupResult(group_id=g, outcomes=by_group[g], elapsed_sec=elapsed)
        store.save_group(suite_fp, res)
        if on_group_done:
            on_group_done(res)
        results.append(res)
    return sorted(results, key=lambda r: r.group_id)


def merge_group_outcomes(results: Sequence[GroupResult]) -> list[dict[str, Any]]:
    """Merge per-group rule summaries into suite totals — the analog of
    the reference's chunk merge (field_validator/__init__.py:276-298)."""
    acc: dict[str, dict[str, Any]] = {}
    for res in results:
        for o in res.outcomes:
            a = acc.setdefault(
                o["rule_id"],
                {"rule_id": o["rule_id"], "column": o["column"],
                 "evaluated": 0, "violations": 0, "total_rows": 0},
            )
            a["evaluated"] += o["evaluated"]
            a["violations"] += o["violations"]
            a["total_rows"] += o["total_rows"]
    return list(acc.values())
