"""Deterministic html → text extraction with a byte-identity contract.

The north rule (BASELINE.json input_hint) requires "byte-identical
extracted text per url". The reference framework has no extractor — this
is the one genuinely-new operator — so determinism is engineered, not
inherited. ``extract_text_py`` is the specification: a PURE function of
the html bytes that uses only the stdlib ``re`` module (versioned
behavior; no external parser whose upgrades would shift bytes), pinned by
EXTRACTOR_VERSION plus golden fixtures in tests.

Execution model: ``extract_text_col`` is the same function as a chain of
native Spark expressions (Java regex, whole-stage codegen), so the
extraction never crosses into a Python worker. Each step of the spec maps
onto one built-in:

- ``bytes.decode("utf-8", errors="replace")`` →
  ``make_valid_utf8(CAST(html AS STRING))``; a plain CAST keeps invalid
  byte sequences and is not equal;
- the closed-``<body>`` search → the first element of
  ``regexp_extract_all``, which is NULL exactly when there is no match;
- the body-less branch (``_drop_head``) → ``coalesce`` over the two
  ``regexp_replace`` calls, so the body expression is referenced once;
- ``\\s+`` → ``' '`` and ``.strip()`` → ``regexp_replace`` over
  ``[\\p{javaWhitespace}\\x85\\xA0\\u2007\\u202F]`` (exactly Python's
  ``str.isspace()`` set; Java's ``\\s`` is ASCII-only) and ``trim``, which
  after the collapse only ever meets a single ASCII space.

The property tests in ``tests/test_webtext.py`` hold the two equal.
At 10^12 docs this stage is embarrassingly parallel (no shuffle).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

EXTRACTOR_VERSION = "1"

_BODY_RE = re.compile(r"<body[^>]*>(.*?)</body>", re.S | re.I)
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")

# Java spellings of the patterns above. The case-insensitive letters are
# all ASCII with no Unicode fold partner, so Java's ASCII-only (?i)
# matches exactly what Python's Unicode re.I does.
_J_BODY = r"(?is)<body[^>]*>(.*?)</body>"
_J_HEAD = r"(?is)<head[^>]*>.*?</head>"
_J_THROUGH_BODY = r"(?is).*?<body[^>]*>"
_J_TAG = r"<[^>]*>"
_J_WS = r"[\p{javaWhitespace}\x85\xA0\u2007\u202F]+"


def extract_text_py(html_bytes: bytes | None) -> str | None:
    """Pure extraction: body content, tags stripped, whitespace collapsed.

    Contract: for well-formed generator html, extract_text_py(html) is
    byte-identical to the stored ``text`` column. Malformed html (e.g.
    truncated) yields best-effort text — those rows are exactly the
    extraction-mismatch violations.
    """
    if html_bytes is None:
        return None
    s = html_bytes.decode("utf-8", errors="replace")
    m = _BODY_RE.search(s)
    content = m.group(1) if m else _drop_head(s)
    content = _TAG_RE.sub(" ", content)
    return _WS_RE.sub(" ", content).strip()


def _drop_head(s: str) -> str:
    """No closed <body>: drop everything through <body...> if present,
    and any <head>…</head> block, then continue best-effort."""
    s = re.sub(r"<head[^>]*>.*?</head>", " ", s, flags=re.S | re.I)
    s = re.sub(r".*?<body[^>]*>", " ", s, flags=re.S | re.I)
    return s


def extract_text_col(html: Column) -> Column:
    """``extract_text_py`` as a native Column expression over a binary
    column; byte-identical to it (property-tested)."""
    s = F.make_valid_utf8(html.cast("string"))
    body = F.try_element_at(F.regexp_extract_all(s, F.lit(_J_BODY), 1), F.lit(1))
    no_body = F.regexp_replace(F.regexp_replace(s, _J_HEAD, " "), _J_THROUGH_BODY, " ")
    content = F.regexp_replace(F.coalesce(body, no_body), _J_TAG, " ")
    return F.trim(F.regexp_replace(content, _J_WS, " "))


def extraction_mismatch_rows(
    df: DataFrame, html_col: str = "html", text_col: str = "text",
    key_cols: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Rows where re-extraction does NOT reproduce the stored text
    byte-for-byte. NULL-safe: a NULL on exactly one side is a mismatch.
    The compare is binary (UTF8_BINARY), so no strings reach the driver
    unless a row mismatches."""
    return (
        df.select(
            *key_cols,
            F.spark_partition_id().alias("partition_id"),
            extract_text_col(F.col(html_col)).alias("extracted_text"),
            F.col(text_col),
        )
        .where(~F.col("extracted_text").eqNullSafe(F.col(text_col)))
    )
