"""Mention detection: broadcast Aho-Corasick automaton over page text
(pipeline stage [2]; north rule: "batched pandas/Arrow UDFs using a
broadcast Aho-Corasick automaton built from ontology label/synonym
dictionaries").

The automaton is plain-Python (dict-of-dicts goto + fail links) built once
on the driver from the entity dictionary (A6 output,
reference kg_utils.py:138-194 synonym/dbxref dictionaries), broadcast to
executors, and run inside ``mapInPandas`` so each Arrow batch is scanned in
one Python call. Matching is case-insensitive, longest-match, word-boundary
anchored.

Output: one row per (url, surface, begin, end, curie) — candidate CURIEs
are exploded so downstream linking is a plain column pipeline.
"""

from __future__ import annotations

from collections import deque
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MENTION_SCHEMA = (
    "url string, surface string, begin int, end int, curie string"
)


class AhoCorasick:
    """Dict-transition Aho-Corasick with word-boundary post-filter.

    Deterministic: patterns inserted sorted; overlapping matches resolved to
    the longest match starting at each position (greedy left-to-right like a
    tokenizer), so output is independent of partitioning.
    """

    __slots__ = ("goto", "fail", "out")

    def __init__(self, patterns: dict[str, list[str]]):
        # goto[state] = {ch: state}; out[state] = (pattern, curies)
        self.goto: list[dict[str, int]] = [{}]
        self.out: dict[int, tuple[str, tuple[str, ...]]] = {}
        for pat in sorted(patterns):
            if not pat:
                continue
            state = 0
            for ch in pat:
                nxt = self.goto[state].get(ch)
                if nxt is None:
                    self.goto.append({})
                    nxt = len(self.goto) - 1
                    self.goto[state][ch] = nxt
                state = nxt
            self.out[state] = (pat, tuple(sorted(patterns[pat])))
        # BFS fail links
        self.fail = [0] * len(self.goto)
        q: deque[int] = deque()
        for ch, s in self.goto[0].items():
            q.append(s)
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0)
                if self.fail[s] == s:
                    self.fail[s] = 0

    @staticmethod
    def _is_word(ch: str) -> bool:
        return ch.isalnum() or ch == "_"

    def find(self, text: str) -> list[tuple[str, int, int, tuple[str, ...]]]:
        """All word-boundary matches; longest match kept per start offset,
        overlapping shorter matches inside a kept span suppressed."""
        lowered = text.lower()
        n = len(lowered)
        raw: list[tuple[int, int, str, tuple[str, ...]]] = []
        state = 0
        for i, ch in enumerate(lowered):
            while state and ch not in self.goto[state]:
                state = self.fail[state]
            state = self.goto[state].get(ch, 0)
            s = state
            while s:
                if s in self.out:
                    pat, curies = self.out[s]
                    begin = i - len(pat) + 1
                    if (begin == 0 or not self._is_word(lowered[begin - 1])) and (
                        i + 1 == n or not self._is_word(lowered[i + 1])
                    ):
                        raw.append((begin, i + 1, pat, curies))
                s = self.fail[s]
        # greedy longest-leftmost: sort by (begin, -len), sweep
        raw.sort(key=lambda m: (m[0], -(m[1] - m[0])))
        kept: list[tuple[str, int, int, tuple[str, ...]]] = []
        last_end = 0
        for begin, end, pat, curies in raw:
            if begin >= last_end:
                kept.append((text[begin:end], begin, end, curies))
                last_end = end
        return kept


def build_automaton(entity_dictionary: list[tuple[str, str]]) -> AhoCorasick:
    """Build from (surface, curie) pairs (surfaces matched case-insensitively)."""
    patterns: dict[str, list[str]] = {}
    for surface, curie in entity_dictionary:
        patterns.setdefault(surface.lower(), []).append(curie)
    return AhoCorasick(patterns)


def _worker_automaton(bc) -> AhoCorasick:
    """Build (once per worker process) the automaton from a broadcast of
    PLAIN (surface, curie) pairs.

    The automaton object itself is never broadcast: Spark broadcasts
    serialize with plain pickle (by reference), which would require this
    package to be importable on every worker. Plain tuples avoid that, and
    the per-process cache (stashed on ``sys``) amortizes the build across
    tasks.
    """
    import sys

    cache = getattr(sys, "_pkt_ac_cache", None)
    if cache is None:
        cache = {}
        sys._pkt_ac_cache = cache
    # worker-side Broadcast objects expose _path (their spill file), not id
    key = getattr(bc, "_path", None) or getattr(bc, "_jbroadcast", None) or id(bc)
    ac = cache.get(key)
    if ac is None:
        ac = build_automaton(bc.value)
        cache.clear()  # one dictionary at a time is the norm; bound memory
        cache[key] = ac
    return ac


def _scan(
    pages: DataFrame,
    entity_dictionary: DataFrame,
    column: str,
    to_text,
    resolve_spans: bool,
) -> DataFrame:
    """Broadcast the dictionary's (surface, curie) pairs and run the
    worker-side automaton over ``to_text(value)`` of each page's
    ``column`` in one ``mapInPandas`` pass; a page whose text is empty or
    None yields nothing. ``resolve_spans`` keeps only each span's first
    (lexicographically least) CURIE."""
    pairs = [
        (r[0], r[1])
        for r in entity_dictionary.select("surface", "curie").distinct().collect()
    ]
    bc = pages.sparkSession.sparkContext.broadcast(pairs)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac = _worker_automaton(bc)
        for pdf in batches:
            rows: list[tuple[str, str, int, int, str]] = []
            for url, value in zip(pdf["url"], pdf[column]):
                text = to_text(value)
                if not text:
                    continue
                for surface, begin, end, curies in ac.find(text):
                    if resolve_spans:
                        # curies is sorted → [0] is the score_mentions argmax
                        rows.append((url, surface, begin, end, curies[0]))
                    else:
                        for curie in curies:
                            rows.append((url, surface, begin, end, curie))
            yield pd.DataFrame(
                rows, columns=["url", "surface", "begin", "end", "curie"]
            )

    return pages.select("url", column).mapInPandas(scan, MENTION_SCHEMA)


def detect_mentions(
    pages: DataFrame,
    entity_dictionary: DataFrame,
) -> DataFrame:
    """Run the broadcast automaton over pages → exploded mention rows.

    ``entity_dictionary``: [surface, curie] (≤ GB — driver-collect +
    sc.broadcast; at 100 TB page scale the dictionary is still dimension-
    sized because it derives from the ontology, not the corpus).
    """
    return _scan(pages, entity_dictionary, "text", lambda text: text, False)


def extract_and_detect(
    pages: DataFrame,
    entity_dictionary: DataFrame,
    min_quality: float | None = None,
    resolve_spans: bool = False,
) -> DataFrame:
    """Fused extract → quality-gate → mention-scan in ONE Arrow crossing.

    Chaining separate Python stages (extract pandas UDF, then scan
    mapInPandas) costs an Arrow ser/deser hop per stage and was measured to
    cap pipeline scaling at ~1.7× for 4× cores on the html-heavy path;
    fusing restores ~4× (bench.py measures this). Extraction uses the same
    ``html_to_text`` as ``with_extracted_text`` so the byte-identity
    contract is unchanged; the quality gate uses ``quality_score_py``, the
    parity-tested twin of the Column scorer.

    ``resolve_spans=True`` additionally resolves each span to its linked
    CURIE inside the same crossing — byte-identical to
    ``score_mentions(..., priors=None)`` because every candidate of a span
    shares the span's surface (equal surface-length score), so the argmax
    is the lexicographically first candidate, which is per-page-computable.
    This removes the corpus-scale window shuffle from the linking stage: a
    10^12-page build shuffles only per-page aggregates, never raw mention
    rows. (Scoring with corpus priors needs the general path.)
    """
    from pheknowlator_spark.functions.text import quality_score_py
    from pheknowlator_spark.webtext.extract import html_to_text

    def to_text(html) -> str | None:
        text = html_to_text(bytes(html) if html is not None else None)
        if min_quality is not None and text and quality_score_py(text) < min_quality:
            return None
        return text

    return _scan(pages, entity_dictionary, "html", to_text, resolve_spans)
