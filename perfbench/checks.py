"""Expected outputs, computed apart from sparkcheck, and the comparisons.

Two independent sources: closed-form planted counts from ``gen`` (a pure
function of the row counts) and DuckDB over the same parquet files.
Every ``check_*`` function returns a list of problems; an empty list
means the output is correct. They take plain values, so the tests can
feed them perturbed outputs.
"""

from __future__ import annotations

import math

import duckdb

from gen import CURATE, CURATE_MOD, SIZES, STAR, STAR_MOD, STOP, WEB, WEB_MOD, residue_count

HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
HLL_REL_ERR = 0.03  # 3 x the profiler's rsd=0.01
PSI_TOL = 1e-9


def _pq(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def connect(tmp: str) -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                  "temp_directory": tmp})


# ---- closed-form expectations ------------------------------------------

def expected_web(n: int) -> dict:
    c = {k: residue_count(n, WEB_MOD, r) for k, r in WEB.items()}
    rules = {
        "url_not_null": c["null_url"], "url_scheme": c["ftp_url"],
        "text_not_null": c["null_text"], "text_length": c["short_text"],
        "lang_not_null": c["null_lang"], "lang_enum": c["bad_lang"],
        "doc_complete": c["null_url"] + c["null_text"] + c["null_lang"],
    }
    return {
        "row_rules": rules,
        "suite": {**rules, "url_unique": c["dup_url"]},
        # each planted row breaks its own rule (+ doc_complete for NULLs)
        "sink_rows": sum(c[k] for k in ("null_url", "ftp_url", "null_text",
                                        "bad_lang", "null_lang", "short_text")),
        "mismatch": c["bad_html"],
    }


def expected_star(sz: dict) -> dict[str, int]:
    def rc(n, k):
        return residue_count(n, STAR_MOD, STAR[k])
    return {
        "c_pk": rc(sz["customers"], "cust_dup"),
        "c_name_nn": rc(sz["customers"], "cust_null_name"),
        "p_pk": rc(sz["part"], "part_dup"), "p_size_range": 0,
        "o_pk": rc(sz["orders"], "ord_dup"),
        "o_cust_nn": rc(sz["orders"], "ord_null_cust"),
        "o_cust_fk": rc(sz["orders"], "ord_orphan"),
        "l_order_fk": rc(sz["lineitem"], "li_orphan_ord"),
        "l_part_fk": rc(sz["lineitem"], "li_orphan_part"),
        "l_qty_range": 0,
    }


# ---- DuckDB expectations -----------------------------------------------

def duck_star(con, paths: dict) -> dict[str, int]:
    q = {t: _pq(paths[t]) for t in ("customers", "part", "orders", "lineitem")}

    def one(sql):
        return int(con.execute(sql).fetchone()[0])

    def dup(t, k):
        return one(f"SELECT count({k}) - count(DISTINCT {k}) FROM {q[t]}")

    def orphans(ct, fk, pt, pk):
        return one(f"SELECT count(*) FROM {q[ct]} c WHERE c.{fk} IS NOT NULL "
                   f"AND NOT EXISTS (SELECT 1 FROM {q[pt]} p WHERE p.{pk} = c.{fk})")

    def nulls(t, c):
        return one(f"SELECT count(*) - count({c}) FROM {q[t]}")

    def out_of(t, c):
        return one(f"SELECT count(*) FROM {q[t]} WHERE {c} < 1 OR {c} > 50")

    return {
        "c_pk": dup("customers", "c_custkey"), "c_name_nn": nulls("customers", "c_name"),
        "p_pk": dup("part", "p_partkey"), "p_size_range": out_of("part", "p_size"),
        "o_pk": dup("orders", "o_orderkey"), "o_cust_nn": nulls("orders", "o_custkey"),
        "o_cust_fk": orphans("orders", "o_custkey", "customers", "c_custkey"),
        "l_order_fk": orphans("lineitem", "l_orderkey", "orders", "o_orderkey"),
        "l_part_fk": orphans("lineitem", "l_partkey", "part", "p_partkey"),
        "l_qty_range": out_of("lineitem", "l_quantity"),
    }


def duck_profile(con, path: str) -> dict[str, dict]:
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {_pq(path)}").fetchall()]
    out = {}
    for c in cols:
        rows, nn, lo, hi, ndv = con.execute(
            f"SELECT count(*), count({c}), min({c}), max({c}), count(DISTINCT {c}) "
            f"FROM {_pq(path)}").fetchone()
        out[c] = {"rows": rows, "nulls": rows - nn, "min": lo, "max": hi, "ndv": ndv}
    return out


def duck_score_bins(con, paths: dict, lo: float, hi: float, bins: int):
    """Per-slice bin counts with sparkcheck.drift's bucket formula:
    least(floor((x - lo) / width), bins - 1), width = (hi - lo) / bins."""
    width = (hi - lo) / float(bins)
    out = []
    for t in ("baseline", "current"):
        counts = [0.0] * bins
        for b, n in con.execute(
                f"SELECT least(floor((score - $1) / $2), $3)::BIGINT AS b, count(*) "
                f"FROM {_pq(paths[t])} WHERE score IS NOT NULL GROUP BY b",
                [lo, width, bins - 1]).fetchall():
            if 0 <= b < bins:
                counts[b] = float(n)
        out.append(counts)
    return out


def duck_score_range(con, paths: dict) -> tuple[float, float]:
    return tuple(con.execute(
        f"SELECT min(score), max(score) FROM (SELECT score FROM {_pq(paths['baseline'])} "
        f"UNION ALL SELECT score FROM {_pq(paths['current'])})").fetchone())


def duck_hosts(con, path: str, k: int = 20) -> list[tuple[str, int, int]]:
    return [tuple(r) for r in con.execute(
        f"SELECT host, count(*) AS n_docs, count(DISTINCT url) AS n_urls FROM ("
        f"  SELECT regexp_extract(url, '{HOST_RE}', 1) AS host, url "
        f"  FROM {_pq(path)} WHERE url IS NOT NULL) "
        f"WHERE host <> '' GROUP BY host ORDER BY n_docs DESC, host ASC LIMIT {k}"
    ).fetchall()]


def url_exact_survivors_sql(corpus: str) -> str:
    """doc_id of the docs left after canonical-url then exact-text dedup
    (min id kept each time). Generated urls are canonical except for the
    planted '?utm_source=' re-crawls, so dropping the query canonicalizes."""
    return (f"WITH u AS (SELECT min(doc_id) AS doc_id FROM {corpus} "
            f"GROUP BY regexp_replace(url, '\\?.*$', '')) "
            f"SELECT min(c.doc_id) AS doc_id FROM {corpus} c SEMI JOIN u USING (doc_id) "
            f"GROUP BY c.text")


def duck_dedup_bounds(con, path: str, mod: int) -> tuple[int, int]:
    """(U - P, U): U url+exact survivors, P planted near-duplicates — LSH
    removes at most all of them."""
    u = con.execute(f"SELECT count(*) FROM ({url_exact_survivors_sql(_pq(path))})").fetchone()[0]
    p = con.execute(f"SELECT count(*) FROM {_pq(path)} WHERE doc_id % {mod} = "
                    f"{CURATE['near']}").fetchone()[0]
    return int(u - p), int(u)


def gopher_keep_sql(rel: str) -> str:
    """The four Gopher rules of textstats.gopher_quality_flags (defaults),
    re-stated over whitespace tokens: 5..100000 words, mean word length
    2..12, ('#' | '...') per word <= 0.1, at least one English stop word."""
    stops = ", ".join(f"'{w}'" for w in STOP)
    return (
        f"SELECT doc_id FROM (SELECT doc_id, text, string_split(text, ' ') AS t "
        f"FROM {rel} WHERE text IS NOT NULL) WHERE len(t) BETWEEN 5 AND 100000 "
        f"AND round((length(text) - len(t) + 1)::DOUBLE / len(t), 4) BETWEEN 2.0 AND 12.0 "
        f"AND round(len(regexp_extract_all(text, '#|\\.\\.\\.'))::DOUBLE / len(t), 4) <= 0.1 "
        f"AND len(list_filter(t, x -> x IN ({stops}))) >= 1")


def expected(con, paths: dict, workload: str) -> dict:
    sz = SIZES[workload]
    return {
        "web": expected_web(sz["webtext"]),
        "star": expected_star(sz),
        "star_duck": duck_star(con, paths),
        "profile": duck_profile(con, paths["current"]),
        "score_range": duck_score_range(con, paths),
        "hosts": duck_hosts(con, paths["webtext"]),
        "dedup_bounds": duck_dedup_bounds(con, paths["corpus"], CURATE_MOD[workload]),
        "corpus_docs": sz["corpus"],
    }


# ---- comparisons -------------------------------------------------------

def _diff(name: str, got: dict, want: dict) -> list[str]:
    return [f"{name}: {k} = {got.get(k)!r}, expected {v!r}"
            for k, v in sorted(want.items()) if got.get(k) != v] + [
        f"{name}: unexpected key {k!r}" for k in sorted(set(got) - set(want))]


def check_validate(got: dict, exp: dict) -> list[str]:
    return _diff("validate", got, exp["web"]["suite"])


def check_verdicts(got: dict, exp: dict) -> list[str]:
    return _diff("verdict sum", got, exp["web"]["row_rules"])


def check_checkpoint(got: dict, exp: dict) -> list[str]:
    return _diff("checkpoint merge", got, exp["web"]["row_rules"])


def check_resume(first: list, second: list) -> list[str]:
    out = [f"group {g.group_id} not resumed" for g in second if not g.resumed]
    a = {g.group_id: g.outcomes for g in first}
    b = {g.group_id: g.outcomes for g in second}
    if a != b:
        out.append("resumed outcomes differ from the first pass")
    return out


def check_star(got: dict, exp: dict) -> list[str]:
    return (_diff("star vs planted", got, exp["star"])
            + _diff("star vs duckdb", got, exp["star_duck"]))


def check_extract(got: int, exp: dict) -> list[str]:
    want = exp["web"]["mismatch"]
    return [] if got == want else [f"extract: {got} mismatches, expected {want}"]


def check_sink(con, sink_dir: str, web_path: str, exp: dict) -> list[str]:
    rel = _pq(sink_dir)
    out = []
    n = con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]
    if n != exp["web"]["sink_rows"]:
        out.append(f"sink: {n} rows, expected {exp['web']['sink_rows']}")
    tags = dict(con.execute(
        f"SELECT r, count(*) FROM (SELECT unnest(failed_rules) AS r FROM {rel}) "
        f"GROUP BY r").fetchall())
    out += _diff("sink tags", tags, {k: v for k, v in exp["web"]["row_rules"].items() if v})
    stray = con.execute(f"SELECT count(*) FROM {rel} s ANTI JOIN {_pq(web_path)} w "
                        f"ON s.id = w.id").fetchone()[0]
    if stray:
        out.append(f"sink: {stray} keys not in the input")
    return out


def check_profile(prof, exp: dict) -> list[str]:
    want = exp["profile"]
    out = []
    for c, w in want.items():
        s = prof.columns.get(c)
        if s is None:
            out.append(f"profile: column {c} missing")
            continue
        got = {"rows": s.total_count, "nulls": s.null_count,
               "min": s.min_value, "max": s.max_value}
        out += _diff(f"profile {c}", got, {k: w[k] for k in got})
        if abs(s.distinct_count - w["ndv"]) > max(HLL_REL_ERR * w["ndv"], 1):
            out.append(f"profile {c}: distinct {s.distinct_count} vs exact {w['ndv']}")
    if prof.total_rows != next(iter(want.values()))["rows"]:
        out.append(f"profile: total_rows {prof.total_rows}")
    return out


def check_drift(got: dict, exp_bins) -> list[str]:
    from sparkcheck.drift import ks_from_binned, psi_from_counts

    out = []
    e, a = exp_bins
    for name, fn in (("psi", psi_from_counts), ("ks", ks_from_binned)):
        want = fn(e, a)
        if not math.isclose(got[name], want, rel_tol=PSI_TOL, abs_tol=PSI_TOL):
            out.append(f"drift: {name} {got[name]!r}, duckdb bins give {want!r}")
    return out


def check_compare(got: dict, planted: dict[str, list[str]]) -> list[str]:
    out = []
    if got["self_drift"]:
        out.append("compare_profiles(b, b) reports drift")
    if got["flags"] != planted:
        out.append(f"compare_profiles flagged {got['flags']}, planted {planted}")
    return out


def check_hosts(got: list, exp: dict) -> list[str]:
    want = exp["hosts"]
    return [] if [tuple(r) for r in got] == want else [
        f"host_stats: top-k differs from duckdb (first got {got[:1]}, want {want[:1]})"]


def check_curate(con, summary: dict, out_dir: str, corpus: str,
                 exp: dict, mod: int, seq_len: int) -> list[str]:
    """The curate output against the input corpus. With U the url+exact
    survivors and D the near-duplicates LSH removed (all planted docs that
    pass every Gopher rule), the packed docs must be exactly
    Gopher(U) minus D, where D holds only planted near-duplicates and
    |D| = |U| - after_dedup."""
    o, c = _pq(out_dir), _pq(corpus)
    out = []

    def one(sql):
        return con.execute(sql).fetchone()[0]

    n_out = one(f"SELECT count(*) FROM {o}")
    lo, hi = exp["dedup_bounds"]
    if summary["input_docs"] != exp["corpus_docs"]:
        out.append(f"curate: input_docs {summary['input_docs']}")
    if not lo <= summary["after_dedup"] <= hi:
        out.append(f"curate: after_dedup {summary['after_dedup']} outside [{lo}, {hi}]")
    if summary["packed_docs"] != n_out or summary["after_quality"] != n_out:
        out.append(f"curate: summary {summary} but {n_out} rows written")
    if one(f"SELECT count(*) FROM {o} x ANTI JOIN {c} y ON x.doc_id = y.doc_id "
           f"AND x.url = y.url AND x.text = y.text"):
        out.append("curate: output rows not in the input")
    if one(f"SELECT count(DISTINCT regexp_replace(url, '\\?.*$', '')) FROM {o}") != n_out:
        out.append("curate: two survivors share a url")
    if one(f"SELECT count(DISTINCT text) FROM {o}") != n_out:
        out.append("curate: two survivors share a text")
    groups = one(
        f"SELECT count(*) FROM (SELECT b FROM (SELECT doc_id, doc_id - doc_id % {mod} AS b "
        f"FROM {c} WHERE doc_id % {mod} IN (0, {CURATE['dup1']}, {CURATE['dup2']})) g "
        f"LEFT JOIN {o} x USING (doc_id) GROUP BY b HAVING count(x.doc_id) <> 1)")
    if groups:
        out.append(f"curate: {groups} exact-duplicate groups keep != 1 doc")
    keep = gopher_keep_sql(f"(SELECT * FROM {c} SEMI JOIN "
                           f"({url_exact_survivors_sql(c)}) USING (doc_id))")
    extra = one(f"SELECT count(*) FROM {o} ANTI JOIN ({keep}) USING (doc_id)")
    missing = con.execute(f"SELECT doc_id % {mod} AS r, count(*) FROM ({keep}) "
                          f"ANTI JOIN {o} USING (doc_id) GROUP BY r").fetchall()
    removed = sum(n for _, n in missing)
    if extra or any(r != CURATE["near"] for r, _ in missing) \
            or removed != hi - summary["after_dedup"]:
        out.append(f"curate: packed docs differ from Gopher(url+exact survivors): "
                   f"{extra} extra, missing by residue {missing}")
    toks = one(f"SELECT sum(len(string_split(text, ' '))) FROM {o}")
    if one(f"SELECT sum(n_tokens) FROM {o}") != toks or summary["tokens"] != toks:
        out.append(f"curate: token total {summary['tokens']} != duckdb {toks}")
    if one(f"SELECT count(DISTINCT (shard_id, shard_pos)) FROM {o}") != n_out:
        out.append("curate: (shard_id, shard_pos) not unique")
    bad = one(
        f"SELECT count(*) FROM (SELECT seq_id, seq_offset, coalesce(sum(n_tokens) OVER ("
        f"PARTITION BY shard_id ORDER BY shard_pos ROWS BETWEEN UNBOUNDED PRECEDING "
        f"AND 1 PRECEDING), 0) AS before FROM {o}) WHERE seq_id <> before // {seq_len} "
        f"OR seq_offset <> before % {seq_len} OR seq_offset >= {seq_len}")
    if bad:
        out.append(f"curate: {bad} docs packed off their prefix-sum position")
    return out
