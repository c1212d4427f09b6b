"""Tests of the benchmark's own generator and checks (no Spark session).

    python3 -m pytest perfbench/test_checks.py -q

Each check is shown to pass on a correct output and to fail on a
perturbed one.
"""

from __future__ import annotations

import copy
import json
import os
import sys
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402


@pytest.fixture()
def con(tmp_path):
    c = checks.connect(str(tmp_path))
    yield c
    c.close()


def _write(tmp_path, name: str, table: pa.Table) -> str:
    path = str(tmp_path / name)
    gen._write(table, path, 2)
    return path


# ---- generator ---------------------------------------------------------

def test_residue_count_matches_brute_force():
    for n in (0, 1, 999, 1000, 1001, 2500):
        for r in (0, 7, 43, 999):
            assert gen.residue_count(n, 1000, r) == sum(1 for i in range(n) if i % 1000 == r)


def test_generator_is_deterministic_per_seed(tmp_path, monkeypatch):
    small = {"webtext": 1200, "snapshot": 500, "corpus": 300, "customers": 200,
             "part": 100, "orders": 500, "lineitem": 800}
    monkeypatch.setitem(gen.SIZES, "skewed", small)
    a = gen.generate(str(tmp_path / "a"), "skewed", 5)
    b = gen.generate(str(tmp_path / "b"), "skewed", 5)
    c = gen.generate(str(tmp_path / "c"), "skewed", 6)
    for t in a:
        assert pq.read_table(a[t]).equals(pq.read_table(b[t])), t
        assert len(os.listdir(a[t])) in (2, gen.NFILES)
    assert not pq.read_table(a["webtext"]).equals(pq.read_table(c["webtext"]))


def test_closed_form_web_counts_match_generated_rows():
    n = 3100
    t = gen._webtext(np.random.default_rng(1), n, 0.4).to_pylist()
    exp = checks.expected_web(n)
    langs = set(gen.LANGS)
    got = {
        "url_not_null": sum(r["url"] is None for r in t),
        "url_scheme": sum(r["url"] is not None and not r["url"].startswith(("http://", "https://"))
                          for r in t),
        "text_not_null": sum(r["text"] is None for r in t),
        "text_length": sum(r["text"] is not None and not 10 <= len(r["text"]) <= 100000
                           for r in t),
        "lang_not_null": sum(r["lang"] is None for r in t),
        "lang_enum": sum(r["lang"] is not None and r["lang"] not in langs for r in t),
        "doc_complete": sum(r["url"] is None or r["text"] is None or r["lang"] is None
                            for r in t),
    }
    assert got == exp["row_rules"]
    urls = [r["url"] for r in t if r["url"] is not None]
    assert len(urls) - len(set(urls)) == exp["suite"]["url_unique"]


def test_star_closed_form_equals_duckdb(tmp_path, con):
    sz = {"customers": 450, "part": 230, "orders": 1700, "lineitem": 5300}
    paths = {name: _write(tmp_path, name, t)
             for name, t in gen._star(np.random.default_rng(3), sz).items()}
    assert checks.duck_star(con, paths) == checks.expected_star(sz)


# ---- comparisons -------------------------------------------------------

EXP = {"web": checks.expected_web(5000), "star": checks.expected_star(
    {"customers": 300, "part": 200, "orders": 2000, "lineitem": 4000})}
EXP["star_duck"] = dict(EXP["star"])


@pytest.mark.parametrize("fn,key", [
    (checks.check_validate, "suite"),
    (checks.check_verdicts, "row_rules"),
    (checks.check_checkpoint, "row_rules"),
])
def test_rule_count_checks(fn, key):
    good = dict(EXP["web"][key])
    assert fn(good, EXP) == []
    bad = dict(good, doc_complete=good["doc_complete"] + 1)
    assert fn(bad, EXP)
    missing = dict(good)
    missing.pop("lang_enum")
    assert fn(missing, EXP)
    assert fn(dict(good, stray_rule=0), EXP)


def test_star_check():
    assert checks.check_star(dict(EXP["star"]), EXP) == []
    assert checks.check_star(dict(EXP["star"], l_part_fk=EXP["star"]["l_part_fk"] - 1), EXP)
    exp = copy.deepcopy(EXP)
    exp["star_duck"]["o_pk"] += 1  # planted and DuckDB disagree
    assert checks.check_star(dict(EXP["star"]), exp)


def test_extract_check():
    n = EXP["web"]["mismatch"]
    assert checks.check_extract(n, EXP) == []
    assert checks.check_extract(n + 1, EXP)


def _sink_rows(t: list[dict]) -> list[dict]:
    out = []
    for i, r in enumerate(t):
        tags = [name for name, bad in (
            ("url_not_null", r["url"] is None),
            ("url_scheme", r["url"] is not None and r["url"].startswith("ftp")),
            ("text_not_null", r["text"] is None),
            ("text_length", r["text"] is not None and len(r["text"]) < 10),
            ("lang_not_null", r["lang"] is None),
            ("lang_enum", r["lang"] == "xx"),
            ("doc_complete", None in (r["url"], r["text"], r["lang"])),
        ) if bad]
        if tags:
            out.append({"id": r["id"], "partition_id": i % 3, "failed_rules": tags})
    return out


def test_sink_check(tmp_path, con):
    n = 2100
    web = gen._webtext(np.random.default_rng(2), n, 0.0)
    web_path = _write(tmp_path, "web", web)
    exp = {"web": checks.expected_web(n)}
    rows = _sink_rows(web.to_pylist())
    assert checks.check_sink(con, _write(tmp_path, "ok", pa.Table.from_pylist(rows)),
                             web_path, exp) == []
    assert checks.check_sink(con, _write(tmp_path, "short", pa.Table.from_pylist(rows[1:])),
                             web_path, exp)
    stray = [dict(rows[0], id=10 ** 9)] + rows[1:]
    assert checks.check_sink(con, _write(tmp_path, "stray", pa.Table.from_pylist(stray)),
                             web_path, exp)
    retag = [dict(rows[0], failed_rules=["lang_enum"])] + rows[1:]
    assert checks.check_sink(con, _write(tmp_path, "retag", pa.Table.from_pylist(retag)),
                             web_path, exp)


def test_resume_check():
    def g(i, resumed, v=1):
        return SimpleNamespace(group_id=str(i), resumed=resumed,
                               outcomes=[{"rule_id": "r", "violations": v}])
    first = [g(0, False), g(1, False)]
    assert checks.check_resume(first, [g(0, True), g(1, True)]) == []
    assert checks.check_resume(first, [g(0, True), g(1, False)])
    assert checks.check_resume(first, [g(0, True), g(1, True, v=2)])


def _profile(want: dict):
    cols = {c: SimpleNamespace(total_count=w["rows"], null_count=w["nulls"],
                               min_value=w["min"], max_value=w["max"],
                               distinct_count=w["ndv"]) for c, w in want.items()}
    return SimpleNamespace(columns=cols, total_rows=next(iter(want.values()))["rows"])


def test_profile_check():
    want = {"lang": {"rows": 100, "nulls": 0, "min": "de", "max": "zh", "ndv": 8},
            "score": {"rows": 100, "nulls": 3, "min": -2.5, "max": 3.25, "ndv": 9700}}
    exp = {"profile": want}
    assert checks.check_profile(_profile(want), exp) == []
    near = _profile(want)
    near.columns["score"].distinct_count = 9700 + 200  # inside the HLL bound
    assert checks.check_profile(near, exp) == []
    for attr, value in (("null_count", 4), ("min_value", -2.4), ("max_value", 3.0),
                        ("distinct_count", 9700 + 400)):
        bad = _profile(want)
        setattr(bad.columns["score"], attr, value)
        assert checks.check_profile(bad, exp), attr


def test_drift_check():
    from sparkcheck.drift import ks_from_binned, psi_from_counts

    e, a = [10.0, 30.0, 40.0, 20.0], [5.0, 15.0, 40.0, 40.0]
    good = {"psi": psi_from_counts(e, a), "ks": ks_from_binned(e, a)}
    assert checks.check_drift(good, (e, a)) == []
    assert checks.check_drift(dict(good, psi=good["psi"] * (1 + 1e-6)), (e, a))
    assert checks.check_drift(dict(good, ks=good["ks"] + 0.01), (e, a))
    assert checks.check_drift(good, (e, [6.0] + a[1:]))


def test_compare_check():
    good = {"self_drift": False, "flags": copy.deepcopy(gen.DRIFT)}
    assert checks.check_compare(good, gen.DRIFT) == []
    assert checks.check_compare(dict(good, self_drift=True), gen.DRIFT)
    assert checks.check_compare(dict(good, flags={"lang": ["chi2_flag"]}), gen.DRIFT)
    assert checks.check_compare(
        dict(good, flags={**gen.DRIFT, "score": ["psi_flag"]}), gen.DRIFT)


def test_hosts_check(tmp_path, con):
    web = gen._webtext(np.random.default_rng(4), 3000, 0.4)
    exp = {"hosts": checks.duck_hosts(con, _write(tmp_path, "web", web))}
    got = [tuple(r) for r in exp["hosts"]]
    assert got[0][0] == "h0.example.com"
    assert checks.check_hosts(got, exp) == []
    assert checks.check_hosts(got[1:], exp)
    assert checks.check_hosts([(got[0][0], got[0][1] - 1, got[0][2])] + got[1:], exp)


# ---- curate --------------------------------------------------------------

SEQ = 256
MOD = 50


def _reference_curate(con, corpus: str) -> pa.Table:
    """A correct curate output for a generated corpus, built in DuckDB: every
    planted near-duplicate removed, the Gopher rules applied, any unique
    (shard_id, shard_pos) and the matching concat-then-chunk packing."""
    surv = (f"SELECT * FROM {checks._pq(corpus)} SEMI JOIN "
            f"({checks.url_exact_survivors_sql(checks._pq(corpus))}) USING (doc_id) "
            f"WHERE doc_id % {MOD} <> {gen.CURATE['near']}")
    keep = checks.gopher_keep_sql(f"({surv})")
    return con.execute(
        f"SELECT *, (before // {SEQ})::BIGINT AS seq_id, (before % {SEQ})::BIGINT AS seq_offset "
        f"FROM (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY shard_id ORDER BY shard_pos "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM ("
        f"  SELECT c.*, len(string_split(text, ' '))::INT AS n_tokens, "
        f"  (doc_id % 4)::BIGINT AS shard_id, (doc_id // 4)::INT AS shard_pos "
        f"  FROM {checks._pq(corpus)} c SEMI JOIN ({keep}) USING (doc_id))) "
        f"ORDER BY doc_id").arrow().drop(["before"])


def _summary(out: pa.Table, n_in: int, after_dedup: int) -> dict:
    return {"input_docs": n_in, "after_dedup": after_dedup, "after_quality": out.num_rows,
            "packed_docs": out.num_rows, "tokens": int(pa.compute.sum(out["n_tokens"]).as_py())}


def test_curate_check(tmp_path, con):
    n = 1000
    corpus = _write(tmp_path, "corpus", gen._corpus(np.random.default_rng(7), n, 0.4, MOD))
    lo, hi = checks.duck_dedup_bounds(con, corpus, MOD)
    exp = {"dedup_bounds": (lo, hi), "corpus_docs": n}
    out = _reference_curate(con, corpus)
    ok = _write(tmp_path, "ok", out)

    def run(table, summary=None):
        path = _write(tmp_path, f"t{len(os.listdir(tmp_path))}", table)
        return checks.check_curate(con, summary or _summary(table, n, lo), path, corpus,
                                   exp, MOD, SEQ)

    assert checks.check_curate(con, _summary(out, n, lo), ok, corpus, exp, MOD, SEQ) == []
    rows = out.to_pylist()
    # a doc that passes every rule dropped (re-packed so only that differs)
    normal = next(i for i, r in enumerate(rows) if r["doc_id"] % MOD == 20)
    assert run(pa.Table.from_pylist(rows[:normal] + rows[normal + 1:]))
    # a Gopher failure kept
    src = pq.read_table(corpus).to_pylist()
    failing = src[gen.CURATE["no_stop"]]
    extra = dict(rows[-1], doc_id=failing["doc_id"], url=failing["url"], text=failing["text"],
                 shard_pos=10 ** 6)
    assert run(pa.Table.from_pylist(rows + [extra]))
    # text changed from the input
    assert run(pa.Table.from_pylist([dict(rows[0], text=rows[0]["text"] + " the")] + rows[1:]))
    # a packing position off by one
    assert run(pa.Table.from_pylist([dict(rows[0], seq_offset=rows[0]["seq_offset"] + 1)]
                                    + rows[1:]))
    # duplicated (shard_id, shard_pos)
    assert run(pa.Table.from_pylist([dict(rows[0], shard_pos=rows[1]["shard_pos"],
                                          shard_id=rows[1]["shard_id"])] + rows[1:]))
    # summary that disagrees with the written rows
    assert run(out, dict(_summary(out, n, lo), tokens=1))
    assert run(out, dict(_summary(out, n, lo), after_dedup=hi + 1))


# ---- the benchmark definition ------------------------------------------

def test_benchmark_json_matches_the_code():
    import calls
    import spans

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(gen.SIZES)
    e2e = [m["name"] for m in bench["end_to_end"]]
    assert e2e == ["setup_s"] + [m for m, *_ in calls.OPS]
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == spans.per_layer_names()
    assert len(bench["per_layer"]) <= 128
