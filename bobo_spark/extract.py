"""Byte-stable text extraction from HTML (Arrow-vectorized).

North-rule invariant: extraction must produce **byte-identical** text
per url on every run, partitioning, and parallelism level. The
extractor therefore uses only deterministic byte-level operations —
no locale-dependent parsing, no charset guessing: decode UTF-8
strictly, strip tags with a fixed regex, collapse whitespace with a
fixed pattern. (The sandbox generator wraps text in a fixed
``<html><body>…</body></html>`` envelope; the regex pipeline also
handles arbitrary simple markup deterministically.)

Hot path is Arrow C++ end-to-end (strict UTF-8 cast →
``replace_substring_regex`` ×2 → ``utf8_trim``): zero per-row Python
calls and zero per-value ``bytes`` objects — the same shape as the
tokenizer's ``flat_token_codes``, and for the same reason
(per-value Python object churn measurably serializes workers on the
shared allocator at build scale). Both regexes are pure-ASCII byte
classes, and multi-byte UTF-8 sequences never contain ``>`` or ASCII
whitespace bytes, so the RE2 (Arrow) and ``re``-on-bytes (fallback)
pipelines are byte-identical on valid UTF-8 — pinned by
tests/test_webgen_extract.py. Inputs that fail the strict cast fall
back to the per-row pandas path, which raises the same strict decode
error Python would.

Reference parity: replaces Lucene's analyzed stored-text handling in
the reference's indexing path (bobo-browse/src/main/java/com/
browseengine/bobo/index/BoboIndexer.java:63-86) with a Spark-side
pandas UDF.
"""

from __future__ import annotations

import re

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, functions as F

_TAG_PATTERN = "<[^>]*>"
_WS_PATTERN = "[ \t\r\n\f\v]+"
_TAG_RE = re.compile(_TAG_PATTERN.encode())
_WS_RE = re.compile(_WS_PATTERN.encode())


def extract_text_bytes(html: bytes) -> bytes:
    """Pure function: html bytes -> extracted text bytes."""
    stripped = _TAG_RE.sub(b" ", html)
    collapsed = _WS_RE.sub(b" ", stripped).strip()
    return collapsed


def _extract_series_py(html: pd.Series) -> pd.Series:
    """Per-row fallback (strict-decode errors surface here with
    Python's exact error message)."""
    return html.map(lambda b: extract_text_bytes(bytes(b))
                    .decode("utf-8", errors="strict"))


def extract_series(html: pd.Series) -> pd.Series:
    """Batch extraction: Series[bytes] -> Series[str], Arrow C++ on
    the hot path (no per-row Python), pandas fallback on invalid
    UTF-8."""
    if isinstance(html.dtype, pd.ArrowDtype):
        arr = html.array._pa_array.combine_chunks()
    else:
        arr = pa.array(html.to_numpy(object), type=pa.binary())
    try:
        s = arr.cast(pa.string())  # strict UTF-8 validation
    except pa.ArrowInvalid:
        return _extract_series_py(html)
    s = pc.replace_substring_regex(s, pattern=_TAG_PATTERN,
                                   replacement=" ")
    s = pc.replace_substring_regex(s, pattern=_WS_PATTERN,
                                   replacement=" ")
    s = pc.utf8_trim(s, characters=" ")
    return pd.Series(pd.arrays.ArrowExtensionArray(s), index=html.index)


def extract_text(col) -> Column:
    """Column expression: Arrow-vectorized pandas UDF over binary html."""
    udf = F.pandas_udf(extract_series, "string")
    return udf(col)
