"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Every table is a pure function of (workload, seed, GEN_VERSION): the same
arguments write byte-identical parquet. Violations are planted at fixed
``id`` residues, so every expected count is a closed-form function of the
row count (``residue_count``) and never has to be read back from the data.

Tables (one directory of ``NFILES`` parquet files each, so split planning
repeats from run to run):

``webtext``   id, url, warc_ts, html, text, lang — the validation table.
              Planted at ``id % 1000``: 7 url copies the url of id-1,
              13 url NULL, 17 ftp:// url, 29 text and html NULL,
              31 lang 'xx', 37 lang NULL, 41 html truncated,
              43 text shorter than 10 characters.
star schema   customers / orders / lineitem / part with planted duplicate
              keys, NULL columns and orphan foreign keys (see STAR).
``baseline``/``current``
              profile snapshots (lang, score). ``current`` shifts ``score``
              by +1.0, raises its NULL rate from 2% to 12% and moves half of
              the 'en' mass of ``lang`` to the other languages.
``corpus``    doc_id, url, text — the curation corpus. Planted at
              ``doc_id % CURATE_MOD`` with b = doc_id - residue:
              1, 2 text copies doc b (exact-duplicate group of three),
              3 url is a tracking-param re-crawl of doc b+2,
              5 text is doc b+4's text with its last word replaced
                (a near-duplicate pair at word-trigram Jaccard >= 0.9),
              7 no English stop word, 9 three words, 11 over-long words,
              13 one '#' token in five — each fails one Gopher rule.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 4
NFILES = 8

STOP = ("the", "a", "of", "and", "to")
LANGS = ("en", "de", "fr", "es", "zh", "ru", "ja", "pt")
NHOSTS = 4000

# webtext residues (id % WEB_MOD)
WEB_MOD = 1000
WEB = {
    "dup_url": 7, "null_url": 13, "ftp_url": 17, "null_text": 29,
    "bad_lang": 31, "null_lang": 37, "bad_html": 41, "short_text": 43,
}

# star-schema residues
STAR_MOD = 100
STAR = {
    "cust_dup": 11,      # customers: c_custkey k appears twice
    "cust_null_name": 13,  # customers: c_name NULL
    "part_dup": 7,       # part: p_partkey k appears twice
    "ord_dup": 17,       # orders row o: o_orderkey = o - 1 (o itself absent)
    "ord_orphan": 19,    # orders row o: o_custkey = NCUST + o (no parent)
    "ord_null_cust": 23,  # orders row o: o_custkey NULL
    "li_orphan_ord": 29,  # lineitem row l: l_orderkey = NORD + l
    "li_orphan_part": 31,  # lineitem row l: l_partkey = NPART + l
}

# the compare_profiles flags each planted snapshot change must raise
DRIFT = {"lang": ["chi2_flag"], "score": ["null_pct_delta", "psi_flag"]}

CURATE = {"dup1": 1, "dup2": 2, "recrawl": 3, "near": 5, "no_stop": 7,
          "few_words": 9, "long_words": 11, "symbols": 13}

# Row counts per workload. Both workloads run every layer; they differ in
# host skew and in how densely the curation corpus is planted.
_SMALL = {"webtext": 50_000, "snapshot": 200_000, "corpus": 4_000,
          "customers": 2_000, "part": 1_000, "orders": 20_000,
          "lineitem": 80_000}
SIZES = {"skewed": dict(_SMALL), "uniform": dict(_SMALL)}
HOT_HOST_SHARE = {"skewed": 0.4, "uniform": 0.0}
CURATE_MOD = {"skewed": 50, "uniform": 500}


def residue_count(n: int, mod: int, r: int) -> int:
    """#ids in [0, n) with id % mod == r."""
    return n // mod + (1 if n % mod > r else 0)


def _vocab() -> list[str]:
    """4000 distinct lowercase pseudo-words (3-9 letters), none a stop
    word — fixed for every seed so text statistics stay comparable."""
    rng = np.random.default_rng(20240601)
    out: list[str] = []
    seen = set(STOP)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(out) < 4000:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


VOCAB = _vocab()


def _texts(rng: np.random.Generator, n: int, lo: int = 40, hi: int = 80,
           stop_share: float = 0.12) -> list[str]:
    """n space-joined docs of lo..hi-1 words; every doc starts with 'the',
    later words are stop words with probability ``stop_share``."""
    lens = rng.integers(lo, hi, n)
    total = int(lens.sum())
    ids = rng.integers(0, len(VOCAB), total)
    stop = rng.random(total) < stop_share
    ids[stop] = len(VOCAB) + rng.integers(0, len(STOP), int(stop.sum()))
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    ids[offsets[:-1]] = len(VOCAB)  # 'the'
    words = pa.array(VOCAB + list(STOP)).take(pa.array(ids))
    lists = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), words)
    return pc.binary_join(lists, " ").to_pylist()


def _hosts(rng: np.random.Generator, n: int, hot_share: float) -> np.ndarray:
    """Host index per row: ``hot_share`` of rows on host 0, the rest
    Zipf(1.1) over the other hosts (hot_share=0: uniform over all)."""
    if hot_share <= 0:
        return rng.integers(0, NHOSTS, n)
    w = 1.0 / np.arange(1, NHOSTS) ** 1.1
    tail = 1 + rng.choice(NHOSTS - 1, n, p=w / w.sum())
    return np.where(rng.random(n) < hot_share, 0, tail)


def _host_names(idx: np.ndarray) -> list[str]:
    return [f"h{i}.example.com" for i in idx.tolist()]


def _write(table: pa.Table, path: str, nfiles: int = NFILES) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // nfiles)
    for i in range(nfiles):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:02d}.parquet"))


def _webtext(rng, n: int, hot: float) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    r = ids % WEB_MOD
    hosts = _host_names(_hosts(rng, n, hot))
    url = [f"https://{h}/p/{i}" for h, i in zip(hosts, ids.tolist())]
    text = _texts(rng, n)
    lang_idx = np.minimum(rng.geometric(0.5, n) - 1, len(LANGS) - 1)
    lang = [LANGS[i] for i in lang_idx.tolist()]
    ts = 1_704_067_200 + rng.integers(0, 180 * 86400, n)
    html: list[bytes | None] = []
    for i in range(n):
        ri = r[i]
        if ri == WEB["dup_url"] and i > 0:
            url[i] = url[i - 1]
        elif ri == WEB["null_url"]:
            url[i] = None
        elif ri == WEB["ftp_url"]:
            url[i] = "ftp://" + url[i][len("https://"):]
        elif ri == WEB["null_text"]:
            text[i] = None
        elif ri == WEB["bad_lang"]:
            lang[i] = "xx"
        elif ri == WEB["null_lang"]:
            lang[i] = None
        elif ri == WEB["short_text"]:
            text[i] = "the tiny"
        t = text[i]
        if t is None:
            html.append(None)
            continue
        page = (f"<html><head><title>doc {i}</title></head>"
                f"<body><p>{t}</p></body></html>")
        if ri == WEB["bad_html"]:
            # cut inside the paragraph: no closing </body>, half the text
            page = page[: page.index("<p>") + 3 + len(t) // 2]
        html.append(page.encode())
    return pa.table({
        "id": ids, "url": url,
        "warc_ts": pa.array(ts * 1_000_000, pa.int64()).cast(
            pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()), "text": text, "lang": lang,
    })


def _star(rng, sz: dict) -> dict[str, pa.Table]:
    nc, npart, no, nl = sz["customers"], sz["part"], sz["orders"], sz["lineitem"]
    m = STAR_MOD
    ck = np.arange(nc, dtype=np.int64)
    ck = np.concatenate([ck, ck[ck % m == STAR["cust_dup"]]])
    cname = [None if k % m == STAR["cust_null_name"] else f"cust{k}" for k in ck.tolist()]
    pk = np.arange(npart, dtype=np.int64)
    pk = np.concatenate([pk, pk[pk % m == STAR["part_dup"]]])
    o = np.arange(no, dtype=np.int64)
    okey = np.where(o % m == STAR["ord_dup"], o - 1, o)
    ocust = rng.integers(0, nc, no)
    ocust = np.where(o % m == STAR["ord_orphan"], nc + o, ocust)
    ocust_l = [None if oi % m == STAR["ord_null_cust"] else int(c)
               for oi, c in zip(o.tolist(), ocust.tolist())]
    li = np.arange(nl, dtype=np.int64)
    lo = rng.integers(0, no, nl)
    lo = np.where(lo % m == STAR["ord_dup"], lo - 1, lo)  # existing keys only
    lo = np.where(li % m == STAR["li_orphan_ord"], no + li, lo)
    lp = rng.integers(0, npart, nl)
    lp = np.where(li % m == STAR["li_orphan_part"], npart + li, lp)
    return {
        "customers": pa.table({"c_custkey": ck, "c_name": cname}),
        "part": pa.table({"p_partkey": pk,
                          "p_size": rng.integers(1, 51, len(pk))}),
        "orders": pa.table({"o_orderkey": okey,
                            "o_custkey": pa.array(ocust_l, pa.int64()),
                            "o_total": rng.random(no) * 1000.0}),
        "lineitem": pa.table({"l_linenumber": li, "l_orderkey": lo,
                              "l_partkey": lp,
                              "l_quantity": rng.integers(1, 51, nl)}),
    }


def _snapshot(rng, n: int, current: bool) -> pa.Table:
    p_en = 0.3 if current else 0.6
    rest = (1.0 - p_en) / (len(LANGS) - 1)
    lang_idx = rng.choice(len(LANGS), n, p=[p_en] + [rest] * (len(LANGS) - 1))
    score = rng.normal(1.0 if current else 0.0, 1.0, n)
    score_null = rng.random(n) < (0.12 if current else 0.02)
    return pa.table({
        "lang": [LANGS[i] for i in lang_idx.tolist()],
        "score": pa.array(score, mask=score_null),
    })


def _corpus(rng, n: int, hot: float, mod: int) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    hosts = _host_names(_hosts(rng, n, hot))
    url = [f"https://{h}/d/{i}" for h, i in zip(hosts, ids.tolist())]
    text = _texts(rng, n)
    nostop = _texts(rng, n, stop_share=0.0)
    for i in range(n):
        r, b = i % mod, i - i % mod
        if r in (CURATE["dup1"], CURATE["dup2"]):
            text[i] = text[b]
        elif r == CURATE["recrawl"]:
            url[i] = url[b + 2] + "?utm_source=feed"
        elif r == CURATE["near"]:
            words = text[b + 4].split(" ")
            k = VOCAB.index(words[-1]) if words[-1] in VOCAB else 0
            words[-1] = VOCAB[(k + 1) % len(VOCAB)]
            text[i] = " ".join(words)
        elif r == CURATE["no_stop"]:
            text[i] = nostop[i].split(" ", 1)[1]
        elif r == CURATE["few_words"]:
            text[i] = " ".join(text[i].split(" ")[:3])
        elif r == CURATE["long_words"]:
            w = text[i].split(" ")
            text[i] = " ".join(["the"] + [a + b + c for a, b, c in
                                          zip(w[1::3], w[2::3], w[3::3])])
        elif r == CURATE["symbols"]:
            w = text[i].split(" ")
            text[i] = " ".join(x if j % 5 else "#" for j, x in enumerate(w, 1))
    return pa.table({"doc_id": ids, "url": url, "text": text})


def generate(root: str, workload: str, seed: int) -> dict[str, str]:
    """Write (or reuse) every input table for (workload, seed) under
    ``root`` and return {table name: parquet directory}. The cache key
    holds the seed, the sizes and GEN_VERSION; a half-written directory
    never looks complete because ``_DONE`` is written last."""
    sz = SIZES[workload]
    hot = HOT_HOST_SHARE[workload]
    key = f"v{GEN_VERSION}-{workload}-s{seed}-n{sz['webtext']}-{sz['snapshot']}-{sz['corpus']}"
    base = os.path.join(root, key)
    names = ["webtext", "baseline", "current", "corpus",
             "customers", "part", "orders", "lineitem"]
    paths = {t: os.path.join(base, t) for t in names}
    if os.path.exists(os.path.join(base, "_DONE")):
        return paths
    shutil.rmtree(base, ignore_errors=True)
    # independent streams per table, so resizing one leaves the others
    rngs = [np.random.default_rng([seed, GEN_VERSION, i]) for i in range(5)]
    _write(_webtext(rngs[0], sz["webtext"], hot), paths["webtext"])
    for name, t in _star(rngs[1], sz).items():
        _write(t, paths[name], 2)
    _write(_snapshot(rngs[2], sz["snapshot"], False), paths["baseline"])
    _write(_snapshot(rngs[3], sz["snapshot"], True), paths["current"])
    _write(_corpus(rngs[4], sz["corpus"], hot, CURATE_MOD[workload]),
           paths["corpus"])
    with open(os.path.join(base, "_DONE"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "sizes": sz}, f)
    return paths
