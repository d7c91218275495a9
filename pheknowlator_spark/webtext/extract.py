"""HTML → text extraction (pipeline stage [1]).

Deterministic, byte-identical-per-url extraction (input_hint invariant) as an
Arrow-batched pandas UDF over the pages table ``(url, warc_ts, html, text,
lang)``. The extractor is a small pure function on bytes — no network, no
per-row Python in the Spark plan beyond the vectorized batch.

The extraction rules are intentionally simple and frozen (they define the
reference behavior for this engine): decode UTF-8 (errors → replace), strip
``<script>``/``<style>`` blocks, replace tags with a single space, unescape
the five core HTML entities, collapse whitespace runs to one space, strip.
Byte-identity holds because every step is deterministic on the html bytes.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_SCRIPT_RE = re.compile(r"(?is)<(script|style)\b.*?</\1\s*>")
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_TAG_RE = re.compile(r"(?s)<[^>]*>")
_WS_RE = re.compile(r"\s+")
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # last, so &amp;lt; doesn't double-decode
]


def html_to_text(html: bytes | None) -> str:
    """Pure extraction function — the per-url byte-identity contract."""
    if html is None:
        return ""
    s = html.decode("utf-8", errors="replace")
    s = _SCRIPT_RE.sub(" ", s)
    s = _COMMENT_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return _WS_RE.sub(" ", s).strip()


def _extract_series(html: pd.Series) -> pd.Series:
    return html.map(html_to_text)


def with_extracted_text(pages: DataFrame, out_col: str = "text") -> DataFrame:
    """Add/replace the extracted-text column via a vectorized pandas UDF."""
    extract_udf = F.pandas_udf(_extract_series, StringType())
    return pages.withColumn(out_col, extract_udf(F.col("html")))
