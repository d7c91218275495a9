"""Deterministic synthetic Common-Crawl-style pages (FIXTURES.md §1).

Input-table shape from BASELINE.json input_hint::

    url: string, warc_ts: timestamp, html: binary, text: string, lang: string

Generation is distributed (mapInPandas over spark.range) and fully
deterministic per row index: same (n_pages, seed) → byte-identical table on
any cluster size. A few hot surfaces appear in ≥5% of pages (skew
requirement) to exercise salted joins; ~2% of pages get non-'en' lang codes
to exercise filtering. The stored ``text`` column is produced by the
engine's own extractor over the generated html, so the
byte-identical-text-per-url invariant holds by construction and any drift
in the extractor breaks the invariant test.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from pheknowlator_spark.webtext.extract import html_to_text

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# synthetic OBO-style dictionary: (surface, curie, match_type)
_HOT_SURFACES = [
    ("cancer", "DOID_162", "label"),
    ("tp53", "PR_P04637", "label"),
    ("diabetes", "DOID_9351", "label"),
]
_COLD_BASE = [
    ("aspirin", "CHEBI_15365", "label"),
    ("acetylsalicylic acid", "CHEBI_15365", "hasExactSynonym"),
    ("hepatomegaly", "HP_0002240", "label"),
    ("liver disease", "DOID_409", "label"),
    ("schizophrenia", "DOID_5419", "label"),
    ("insulin", "PR_P01308", "label"),
    ("glucose", "CHEBI_17234", "label"),
    ("kinase inhibitor", "CHEBI_76980", "label"),
    ("heart attack", "DOID_5844", "label"),
    ("myocardial infarction", "DOID_5844", "hasExactSynonym"),  # same-as pair
    ("brca1", "PR_P38398", "label"),
    ("adenocarcinoma", "DOID_299", "label"),
]
# ambiguous surface → 2 CURIEs (exercises link scoring)
_AMBIGUOUS = [("cold", "DOID_3083", "label"), ("cold", "CHEBI_fake_cold", "DbXref")]

_FILLER = (
    "the of a in report study new page data from results about during between "
    "analysis method system model value table which after under over"
).split()

_LANGS = ["de", "fr", "es", "zh", "pt", "ru"]


def entity_dictionary_rows() -> list[tuple[str, str, str]]:
    return _HOT_SURFACES + _COLD_BASE + _AMBIGUOUS


def entity_dictionary(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        entity_dictionary_rows(), "surface string, curie string, match_type string"
    )


def _h(i: int, salt: str) -> int:
    """Deterministic per-index hash (stable across processes/partitions)."""
    return int.from_bytes(
        hashlib.md5(f"{salt}:{i}".encode()).digest()[:8], "big"
    )


def _page_words(i: int, size_factor: int = 1) -> list[str]:
    surfaces = [s for s, _, _ in entity_dictionary_rows()]
    words: list[str] = []
    n_words = (40 + _h(i, "len") % 80) * size_factor
    for w in range(n_words):
        r = _h(i * 131 + w, "word")
        if r % 100 < 4:  # ~4% of word slots are entity mentions
            if r % 100 < 2:  # half of those are hot surfaces (skew)
                words.append(_HOT_SURFACES[r % len(_HOT_SURFACES)][0])
            else:
                words.append(surfaces[r % len(surfaces)])
        else:
            words.append(_FILLER[r % len(_FILLER)])
    # guarantee hot-surface floor: every 12th page mentions 'cancer'
    if i % 12 == 0:
        words.insert(len(words) // 2, "cancer")
    return words


def _render_html(i: int, words: list[str]) -> bytes:
    body = []
    for w, word in enumerate(words):
        r = _h(i * 17 + w, "tag")
        if r % 13 == 0:
            body.append(f"<b>{word}</b>")
        elif r % 29 == 0:
            body.append(f'<a href="/x/{r % 97}">{word}</a>')
        else:
            body.append(word)
    html = (
        "<html><head><title>doc {i}</title>"
        "<script>var t = {i};</script>"
        "<style>p {{margin: 0}}</style></head>"
        "<body><p>{body}</p><!-- footer --></body></html>"
    ).format(i=i, body=" ".join(body))
    return html.encode("utf-8")


def _gen_rows(ids, size_factor: int = 1,
              skew: tuple[int, int, int] | None = None) -> pd.DataFrame:
    rows = []
    epoch = _dt.datetime(2024, 1, 1)
    for i in ids:
        i = int(i)
        url = f"https://site{i % 997}.example/doc/{i}"
        ts = epoch + _dt.timedelta(days=i % 365, seconds=i % 86400)
        factor = size_factor
        if skew is not None:
            # heavy-tail page sizes: (base, heavy, heavy_pct) — exactly
            # every (100//heavy_pct)-th contiguous 2048-page segment is
            # heavy/base times larger (a crawl segment of large documents).
            # Clustering is the point: it concentrates heavy pages in a few
            # input files, the split-sizing stress case real corpora pose.
            base, heavy, heavy_pct = skew
            factor = heavy if (i // 2048) % max(100 // heavy_pct, 1) == 0 else base
        words = _page_words(i, factor)
        html = _render_html(i, words)
        text = html_to_text(html)
        lang = _LANGS[_h(i, "lang") % len(_LANGS)] if _h(i, "l2") % 50 == 0 else "en"
        rows.append((url, ts, html, text, lang))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def generate_pages(
    spark: SparkSession,
    n_pages: int,
    partitions: int | None = None,
    size_factor: int = 1,
    skew: tuple[int, int, int] | None = None,
) -> DataFrame:
    """Distributed deterministic page generation. ``size_factor`` scales the
    words-per-page band (1 → 40-120 words; 5 → realistic web-page sizes).
    ``skew=(base, heavy, heavy_pct)`` instead draws a heavy-tailed
    per-page size: heavy_pct% of pages at ``heavy``×, the rest ``base``× —
    the split-sizing stress case (BASELINE.md's 2-4 splits/core + AQE
    recommendation for non-uniform corpora)."""
    partitions = partitions or max(spark.sparkContext.defaultParallelism, 4)
    rng = spark.range(0, n_pages, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _gen_rows(pdf["id"].to_numpy(), size_factor, skew)

    return rng.mapInPandas(gen, PAGES_SCHEMA)
