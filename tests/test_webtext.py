"""Webtext front-end tests (M2/M3): extraction byte-identity, Aho-Corasick
mention detection, link scoring, canonicalization CC, co-mention edges, and
the full pages→triples pipeline."""

import pytest
from pyspark.sql import functions as F

from pheknowlator_spark.sources.pages import (
    entity_dictionary,
    generate_pages,
)
from pheknowlator_spark.webtext.canonicalize import build_canonical_map, rewrite_triples
from pheknowlator_spark.webtext.extract import html_to_text, with_extracted_text
from pheknowlator_spark.webtext.linking import salted_join, score_mentions
from pheknowlator_spark.webtext.mentions import AhoCorasick, build_automaton, detect_mentions
from pheknowlator_spark.webtext.pipeline import derive_comention_edges, run_pipeline


# ---------------- extraction ----------------

def test_html_to_text_deterministic_and_clean():
    html = (
        b"<html><head><title>t</title><script>var x = '<p>';</script>"
        b"<style>p{}</style></head><body><p>Hello &amp; <b>world</b>!</p>"
        b"<!-- note --></body></html>"
    )
    out = html_to_text(html)
    assert out == "t Hello & world !"
    assert html_to_text(html) == out  # deterministic


def test_extraction_invariant_on_generated_pages(spark):
    # the stored text is byte-identical to a re-extraction of the html
    pages = generate_pages(spark, 50, partitions=4)
    redone = with_extracted_text(pages, out_col="redone")
    assert redone.filter(F.col("redone") != F.col("text")).count() == 0


def test_generated_pages_deterministic(spark):
    a = generate_pages(spark, 30, partitions=2).orderBy("url").collect()
    b = generate_pages(spark, 30, partitions=5).orderBy("url").collect()
    assert [(r.url, r.text, bytes(r.html)) for r in a] == [
        (r.url, r.text, bytes(r.html)) for r in b
    ]


# ---------------- Aho-Corasick ----------------

def test_aho_corasick_basic():
    ac = build_automaton([("cancer", "DOID_162"), ("lung cancer", "DOID_1324")])
    hits = ac.find("Lung cancer kills; cancer is bad.")
    # longest-leftmost: 'Lung cancer' wins over inner 'cancer'
    assert [(h[0].lower(), h[3]) for h in hits] == [
        ("lung cancer", ("DOID_1324",)),
        ("cancer", ("DOID_162",)),
    ]


def test_aho_corasick_word_boundaries():
    ac = build_automaton([("cold", "DOID_3083")])
    assert ac.find("scolded") == []
    assert len(ac.find("a cold day")) == 1
    assert len(ac.find("cold.")) == 1


def test_aho_corasick_ambiguous_surface():
    ac = build_automaton([("cold", "DOID_3083"), ("cold", "CHEBI_X")])
    hits = ac.find("the cold")
    assert hits[0][3] == ("CHEBI_X", "DOID_3083")  # sorted candidates


def test_detect_mentions_spark(spark):
    pages = spark.createDataFrame(
        [("u1", "aspirin treats hepatomegaly"), ("u2", "no entities here at all")],
        "url string, text string",
    )
    mentions = detect_mentions(pages, entity_dictionary(spark))
    rows = {(r.url, r.surface, r.curie) for r in mentions.collect()}
    assert ("u1", "aspirin", "CHEBI_15365") in rows
    assert ("u1", "hepatomegaly", "HP_0002240") in rows
    assert not any(u == "u2" for u, _, _ in rows)


# ---------------- linking ----------------

def test_score_mentions_resolves_ambiguity_deterministically(spark):
    m = spark.createDataFrame(
        [("u1", "cold", 4, 8, "DOID_3083"), ("u1", "cold", 4, 8, "CHEBI_X")],
        "url string, surface string, begin int, end int, curie string",
    )
    out = score_mentions(m).collect()
    assert len(out) == 1
    assert out[0].curie == "CHEBI_X"  # lexicographic tie-break


def test_score_mentions_priors(spark):
    m = spark.createDataFrame(
        [("u1", "cold", 4, 8, "DOID_3083"), ("u1", "cold", 4, 8, "CHEBI_X")],
        "url string, surface string, begin int, end int, curie string",
    )
    priors = spark.createDataFrame([("DOID_3083", 10.0)], "curie string, prior double")
    out = score_mentions(m, priors).collect()
    assert out[0].curie == "DOID_3083"


def test_salted_join_matches_plain_join(spark):
    facts = spark.createDataFrame(
        [(k, i) for k in ("hot", "cold") for i in range(20)], "k string, v int"
    )
    dim = spark.createDataFrame([("hot", 1), ("cold", 2)], "k string, d int")
    plain = {(r.k, r.v, r.d) for r in facts.join(dim, "k").collect()}
    salted = {(r.k, r.v, r.d) for r in salted_join(facts, dim, "k", salts=4).collect()}
    assert salted == plain


# ---------------- canonicalization ----------------

def test_connected_components_canonical_map(spark):
    same_as = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "a string, b string"
    )
    cmap = {
        (r.curie, r.canonical) for r in build_canonical_map(same_as).collect()
    }
    assert cmap == {("b", "a"), ("c", "a"), ("y", "x")}


def test_rewrite_triples(spark):
    triples = spark.createDataFrame(
        [("c", "p1", "y", False, None, None)],
        "s string, p string, o string, o_is_literal boolean, o_lang string, o_datatype string",
    )
    cmap = spark.createDataFrame(
        [("c", "a"), ("y", "x")], "curie string, canonical string"
    )
    out = rewrite_triples(triples, cmap).collect()[0]
    assert (out.s, out.o) == ("a", "x")


# ---------------- co-mention edges + full pipeline ----------------

def test_derive_comention_edges(spark):
    linked = spark.createDataFrame(
        [("u1", "CHEBI_15365"), ("u1", "DOID_409"), ("u2", "CHEBI_15365"),
         ("u2", "DOID_409"), ("u3", "DOID_409"), ("u3", "PR_P04637")],
        "url string, curie string",
    )
    edges = derive_comention_edges(linked)
    rows = {(r.edge_type, r.sub_id, r.obj_id, r.n_pages) for r in edges.collect()}
    # CHEBI before DOID lexically; namespace pair CHEBI/DOID → chemical-disease
    assert ("chemical-disease", "CHEBI_15365", "DOID_409", 2) in rows
    # DOID+PR → protein-disease with swap (PR is subject)
    assert ("protein-disease", "PR_P04637", "DOID_409", 1) in rows


def test_full_pipeline_pages_to_triples(spark):
    pages = generate_pages(spark, 60, partitions=4)
    out = run_pipeline(pages, entity_dictionary(spark), min_pages=2)
    triples = out["triples"]
    n = triples.count()
    assert n > 0
    # triples are URI-only from class-class construction
    assert triples.filter(F.col("o_is_literal")).count() == 0
    # pkt-hash subjects present
    assert (
        triples.filter(F.col("s").startswith(
            "https://github.com/callahantiff/PheKnowLator/pkt/N")).count() > 0
    )
    assert out["construction_errors"].count() == 0


def test_pipeline_deterministic_across_parallelism(spark):
    pages8 = generate_pages(spark, 40, partitions=8)
    pages2 = generate_pages(spark, 40, partitions=2)
    d = entity_dictionary(spark)
    t1 = {(r.s, r.p, r.o) for r in run_pipeline(pages8, d, min_pages=2)["triples"].collect()}
    t2 = {(r.s, r.p, r.o) for r in run_pipeline(pages2, d, min_pages=2)["triples"].collect()}
    assert t1 == t2 and len(t1) > 0


def test_resolve_spans_parity_with_score_mentions(spark):
    # fused in-scan span resolution must be byte-identical to the general
    # score_mentions path (priors=None): same (url, surface, begin, end,
    # curie) rows on the same pages
    from pheknowlator_spark.webtext.mentions import extract_and_detect

    pages = generate_pages(spark, 50, partitions=4)
    d = entity_dictionary(spark)
    fused = extract_and_detect(pages, d, min_quality=0.4, resolve_spans=True)
    general = score_mentions(
        extract_and_detect(pages, d, min_quality=0.4, resolve_spans=False)
    )
    cols = ["url", "surface", "begin", "end", "curie"]
    a = {tuple(r) for r in fused.select(*cols).collect()}
    b = {tuple(r) for r in general.select(*cols).collect()}
    assert a == b and len(a) > 0


def test_re_extract_pipeline_matches_general_path(spark):
    # the re_extract fast path (fused scan + resolve) and the text-column
    # general path must emit the same triples
    pages = generate_pages(spark, 60, partitions=4)
    d = entity_dictionary(spark)
    fast = run_pipeline(pages, d, min_pages=2, re_extract=True,
                        quality_threshold=0.4)
    gen = run_pipeline(pages, d, min_pages=2, quality_threshold=0.4)
    t1 = {(r.s, r.p, r.o) for r in fast["triples"].collect()}
    t2 = {(r.s, r.p, r.o) for r in gen["triples"].collect()}
    assert t1 == t2 and len(t1) > 0


def test_generate_pages_clustered_skew(spark):
    # skew=(base, heavy, pct): every (100//pct)-th contiguous 2048-page
    # segment is heavy — deterministic, and heavy pages really are ~heavy/
    # base times longer than base pages
    from pheknowlator_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 6000, partitions=4, skew=(1, 20, 25))
    lens = (
        pages.select(
            F.element_at(F.split("url", "/"), -1).cast("long").alias("i"),
            F.length("text").alias("n"),
        )
        .collect()
    )
    by_block = {}
    for r in lens:
        by_block.setdefault(r.i // 2048, []).append(r.n)
    # blocks 0..2 exist; every 4th block heavy → block 0 heavy, 1,2 base
    avg = {b: sum(v) / len(v) for b, v in by_block.items()}
    assert avg[0] > 10 * avg[1]
    assert abs(avg[1] - avg[2]) < 0.3 * avg[1]
    # determinism: same call → same bytes
    again = generate_pages(spark, 6000, partitions=4, skew=(1, 20, 25))
    a = sorted((r.url, len(r.text)) for r in pages.collect())
    b = sorted((r.url, len(r.text)) for r in again.collect())
    assert a == b


def test_comention_pmi(spark):
    import math

    from pheknowlator_spark.webtext.pipeline import comention_pmi

    linked = spark.createDataFrame(
        [
            ("u1", "A"), ("u1", "B"), ("u1", "A"),  # dup mention collapses
            ("u2", "A"), ("u2", "B"),
            ("u3", "A"), ("u3", "C"),
            ("u4", "D"),                            # lone entity, no pair
        ],
        "url string, curie string",
    )
    rows = {(r.c1, r.c2): r for r in comention_pmi(linked).collect()}
    # N=4 pages; page counts: A=3 B=2 C=1 D=1; pairs: (A,B)x2, (A,C)x1
    assert set(rows) == {("A", "B"), ("A", "C")}
    ab = rows[("A", "B")]
    assert (ab.n_pages, ab.n1, ab.n2) == (2, 3, 2)
    assert abs(ab.pmi - math.log((2 * 4) / (3 * 2))) < 1e-12
    ac = rows[("A", "C")]
    assert (ac.n_pages, ac.n1, ac.n2) == (1, 3, 1)
    assert abs(ac.pmi - math.log(4 / 3)) < 1e-12
    # min_pages drops the single-page pair
    only = {(r.c1, r.c2) for r in comention_pmi(linked, min_pages=2).collect()}
    assert only == {("A", "B")}


class TestNormalizeUrls:
    def test_canonical_forms(self, spark):
        from pheknowlator_spark.webtext.urls import normalize_urls

        rows = [
            ("HTTP://WWW.Ex.COM:80/a/b?b=2&a=1#frag",),
            ("https://ex.com:443",),
            ("https://ex.com:8443/x?z=1",),
            ("http://ex.com/a/",),
        ]
        df = spark.createDataFrame(rows, ["url"])
        got = {r["url"]: (r["norm_url"], r["host"]) for r in normalize_urls(df).collect()}
        assert got["HTTP://WWW.Ex.COM:80/a/b?b=2&a=1#frag"] == (
            "http://www.ex.com/a/b?a=1&b=2",
            "www.ex.com",
        )
        # default https port stripped, empty path → '/'
        assert got["https://ex.com:443"] == ("https://ex.com/", "ex.com")
        # non-default port kept
        assert got["https://ex.com:8443/x?z=1"] == (
            "https://ex.com:8443/x?z=1",
            "ex.com",
        )
        # trailing slash preserved (path is semantic)
        assert got["http://ex.com/a/"] == ("http://ex.com/a/", "ex.com")

    def test_strip_www(self, spark):
        from pheknowlator_spark.webtext.urls import normalize_urls

        df = spark.createDataFrame([("http://www.ex.com/p",)], ["url"])
        r = normalize_urls(df, strip_www=True).collect()[0]
        assert (r["norm_url"], r["host"]) == ("http://ex.com/p", "ex.com")


class TestExtractLinks:
    def _links(self, spark, url, html):
        from pheknowlator_spark.webtext.links import extract_links

        df = spark.createDataFrame([(url, html)], ["url", "html"])
        return {
            (r["href"], r["link_url"]) for r in extract_links(df).collect()
        }

    def test_resolution_classes(self, spark):
        got = self._links(
            spark,
            "https://h.example/dir/page",
            '<a href="/root">r</a> <a href="rel/x">p</a>'
            ' <a href="https://abs.example/a#sec">a</a>'
            ' <a href="//cdn.example/l">c</a>'
            ' <a href="javascript:void(0)">j</a>'
            ' <a href="mailto:x@y">m</a> <a href="#top">f</a>',
        )
        assert got == {
            ("/root", "https://h.example/root"),
            ("rel/x", "https://h.example/dir/rel/x"),
            ("https://abs.example/a#sec", "https://abs.example/a"),
            ("//cdn.example/l", "https://cdn.example/l"),
        }

    def test_scheme_matches_case_insensitively(self, spark):
        # RFC 3986 schemes are case-insensitive: an upper- or mixed-case
        # http(s) href is absolute, not an "other scheme" to drop
        got = self._links(
            spark,
            "https://h.example/dir/page",
            '<a href="HTTP://up.example/a">u</a>'
            ' <a href="Https://mixed.example/b#x">m</a>',
        )
        assert got == {
            ("HTTP://up.example/a", "HTTP://up.example/a"),
            ("Https://mixed.example/b#x", "Https://mixed.example/b"),
        }

    def test_binary_html_and_rootless_base(self, spark):
        # binary payload decodes JVM-side; base url with no path resolves
        # path-relative hrefs against '/'
        from pheknowlator_spark.webtext.links import extract_links

        df = spark.createDataFrame(
            [("http://h.example", bytearray(b'<a href="x">y</a>'))],
            "url string, html binary",
        )
        rows = extract_links(df).collect()
        assert [(r["href"], r["link_url"]) for r in rows] == [
            ("x", "http://h.example/x")
        ]

    def test_host_degrees(self, spark):
        from pheknowlator_spark.webtext.links import extract_links, host_degrees

        rows = [
            ("https://a.example/1", '<a href="/x">1</a> <a href="/y">2</a>'),
            ("https://a.example/2", '<a href="https://b.example/z">3</a>'),
        ]
        df = spark.createDataFrame(rows, ["url", "html"])
        got = {
            (r["src_host"], r["dst_host"]): (r["n_links"], r["n_pages"])
            for r in host_degrees(extract_links(df)).collect()
        }
        assert got == {
            ("a.example", "a.example"): (2, 1),
            ("a.example", "b.example"): (1, 1),
        }


class TestCaptureOps:
    def test_latest_capture_keeps_newest_and_null_ts_loses(self, spark):
        import datetime as dt

        from pheknowlator_spark.webtext.urls import latest_capture

        rows = [
            ("k1", dt.datetime(2024, 1, 1), "old"),
            ("k1", dt.datetime(2024, 3, 1), "new"),
            ("k1", None, "nullts"),
            ("k2", None, "only-null"),
        ]
        df = spark.createDataFrame(rows, "norm_url string, warc_ts timestamp, v string")
        got = {r["norm_url"]: r["v"] for r in latest_capture(df).collect()}
        # newest wins; an all-NULL-ts group still keeps its row
        assert got == {"k1": "new", "k2": "only-null"}

    def test_latest_capture_tie_is_column_order(self, spark):
        import datetime as dt

        from pheknowlator_spark.webtext.urls import latest_capture

        ts = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("k", ts, "a"), ("k", ts, "b")],
            "norm_url string, warc_ts timestamp, v string",
        )
        assert latest_capture(df).collect()[0]["v"] == "b"

    def test_snapshot_diff_statuses(self, spark):
        from pheknowlator_spark.webtext.urls import snapshot_diff

        old = spark.createDataFrame(
            [("u1", "h1"), ("u2", "h2"), ("u3", "h3")],
            ["norm_url", "content_hash"],
        )
        new = spark.createDataFrame(
            [("u1", "h1"), ("u2", "hX"), ("u4", "h4")],
            ["norm_url", "content_hash"],
        )
        got = {r["norm_url"]: r["status"] for r in snapshot_diff(old, new).collect()}
        assert got == {
            "u1": "unchanged",
            "u2": "changed",
            "u3": "removed",
            "u4": "added",
        }


class TestRobots:
    def _rules(self, spark):
        from pheknowlator_spark.webtext.robots import parse_robots

        robots = spark.createDataFrame(
            [
                (
                    "a.example",
                    "User-agent: *\nDisallow: /private\nAllow: /private/pub\n"
                    "\nUser-agent: gptbot\nDisallow: /\n# comment\nDisallow:",
                ),
                ("b.example", "User-Agent: crawler\r\nDisallow: /x/"),
            ],
            "host string, robots_txt string",
        )
        return parse_robots(robots)

    def test_parse(self, spark):
        got = {
            (r.host, r.agent, r.allow, r.prefix)
            for r in self._rules(spark).collect()
        }
        # empty Disallow: and the comment line are dropped; CRLF handled;
        # directive case-insensitive, agent lowercased, path case kept
        assert got == {
            ("a.example", "*", False, "/private"),
            ("a.example", "*", True, "/private/pub"),
            ("a.example", "gptbot", False, "/"),
            ("b.example", "crawler", False, "/x/"),
        }

    def test_filter_semantics(self, spark):
        from pheknowlator_spark.webtext.robots import robots_filter

        pages = spark.createDataFrame(
            [
                ("https://a.example/ok",),
                ("https://a.example/private/secret",),
                ("https://a.example/private/pub/doc",),  # allow beats shorter disallow
                ("https://b.example/x/1",),
                ("https://b.example/y",),
                ("https://c.example/anything",),  # no rules → allowed
                ("https://a.example",),  # empty path → "/"
            ],
            "url string",
        )
        rules = self._rules(spark)

        def urls(agent):
            return sorted(
                r.url for r in robots_filter(pages, rules, agent).collect()
            )

        assert urls("*") == [
            "https://a.example",
            "https://a.example/ok",
            "https://a.example/private/pub/doc",
            "https://b.example/x/1",
            "https://b.example/y",
            "https://c.example/anything",
        ]
        # specific group REPLACES the '*' group (no rule merge)
        assert urls("GptBot") == [
            "https://b.example/x/1",
            "https://b.example/y",
            "https://c.example/anything",
        ]
        # crawler has no group on a.example → falls back to '*' there
        assert urls("crawler") == [
            "https://a.example",
            "https://a.example/ok",
            "https://a.example/private/pub/doc",
            "https://b.example/y",
            "https://c.example/anything",
        ]

    def test_filter_wildcards(self, spark):
        """``*`` matches any run of characters (query included), a trailing
        ``$`` anchors at the url's end, the longest matching rule wins, and
        ``%``/``_`` in a rule match only themselves."""
        from pheknowlator_spark.webtext.robots import parse_robots, robots_filter

        robots = spark.createDataFrame(
            [(
                "w.example",
                "User-agent: *\nDisallow: /*?sid=\nDisallow: /*.pdf$\n"
                "Allow: /pub/*.pdf$\nDisallow: /a_b%\n",
            )],
            "host string, robots_txt string",
        )
        pages = spark.createDataFrame(
            [
                ("https://w.example/shop?sid=42",),  # /*?sid= → disallowed
                ("https://w.example/shop?id=42",),
                ("https://w.example/docs/x.pdf",),  # /*.pdf$ → disallowed
                ("https://w.example/docs/x.pdf?v=1",),  # $ anchors: not a match
                ("https://w.example/docs/x.pdfs",),
                ("https://w.example/pub/x.pdf",),  # longer Allow wins
                ("https://w.example/a_b%/c",),  # literal _ and % → disallowed
                ("https://w.example/axb1",),  # _ and % are not wildcards
                ("https://w.example?sid=1",),  # empty path → "/?sid=1"
            ],
            "url string",
        )
        got = sorted(
            r.url for r in robots_filter(pages, parse_robots(robots)).collect()
        )
        assert got == [
            "https://w.example/axb1",
            "https://w.example/docs/x.pdf?v=1",
            "https://w.example/docs/x.pdfs",
            "https://w.example/pub/x.pdf",
            "https://w.example/shop?id=42",
        ]


class TestAnchors:
    def test_extract_and_top(self, spark):
        from pheknowlator_spark.webtext.links import anchor_texts, top_anchors

        html = spark.createDataFrame(
            [
                (
                    "u1",
                    '<a href="/t">Home  \n Page</a> <a href="/t">home</a>'
                    ' <a class="c" href="/u">About</a>'
                    ' <a href="/v"><img/></a>',  # tag-only anchor dropped
                ),
                ("u2", '<a href="/t">Home Page</a><a href="/u">about</a>'),
            ],
            "url string, html string",
        )
        rows = {
            (r.url, r.href, r.anchor) for r in anchor_texts(html).collect()
        }
        assert rows == {
            ("u1", "/t", "Home Page"),  # whitespace collapsed
            ("u1", "/t", "home"),
            ("u1", "/u", "About"),
            ("u2", "/t", "Home Page"),
            ("u2", "/u", "about"),
        }
        top = {
            r.href: (r.top_anchor, r.n_anchor, r.n_total)
            for r in top_anchors(anchor_texts(html)).collect()
        }
        assert top == {
            "/t": ("Home Page", 2, 3),
            # count tie (About=1, about=1) → lexicographically smaller wins
            "/u": ("About", 1, 2),
        }

    def test_binary_html(self, spark):
        from pheknowlator_spark.webtext.links import anchor_texts

        df = spark.createDataFrame(
            [("u", bytearray(b'<a href="/z">Zed</a>'))],
            "url string, html binary",
        )
        assert anchor_texts(df).collect()[0].anchor == "Zed"


class TestBloom:
    def test_no_false_negatives_and_sql_parity(self, spark):
        from pyspark.sql import functions as F

        from pheknowlator_spark.webtext.urls import bloom_build, bloom_probe

        urls = spark.range(400).select(
            F.concat(F.lit("https://x/p"), F.col("id").cast("string")).alias(
                "url"
            ),
            "id",
        )
        seen = urls.filter(F.col("id") % 2 == 0).select("url")
        bloom = bloom_build(seen, m_bits=1 << 13, k=4)
        got = {
            r.id: r.maybe_seen
            for r in bloom_probe(
                urls, bloom, m_bits=1 << 13, k=4
            ).collect()
        }
        # Bloom guarantee: every member reports seen
        assert all(got[i] for i in range(0, 400, 2))
        # at this load factor the FP rate is ~2e-4 — essentially all
        # non-members must report unseen
        fps = sum(1 for i in range(1, 400, 2) if got[i])
        assert fps <= 2

        # exact word-level parity with the documented DuckDB arithmetic
        import duckdb

        exp = dict(
            duckdb.sql(
                """
                WITH seen AS (SELECT 'https://x/p' || CAST(i*2 AS VARCHAR)
                                AS url FROM range(200) t(i)),
                pos AS (SELECT CAST(('0x' || substring(md5(
                          CAST(j AS VARCHAR) || ':' || url), 1, 8))
                          AS UBIGINT) % 8192 AS pos
                        FROM seen, range(4) s(j))
                SELECT CAST(pos // 32 AS BIGINT),
                       bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))
                FROM pos GROUP BY 1
                """
            ).fetchall()
        )
        assert {
            r.word_idx: r.word for r in bloom.collect()
        } == exp


class TestCorpusQuality:
    def test_host_quality_filter(self, spark):
        from pheknowlator_spark.operators.corpus import host_quality_filter

        good = (
            "the study of the new data and results from the analysis is "
            "presented in this report with a table of values for review."
        )
        pages = spark.createDataFrame(
            [
                ("https://good.example/1", good),
                ("https://good.example/2", good),
                ("https://spam.example/1", good),
                ("https://spam.example/2", "buy buy buy!!!"),
                ("https://spam.example/3", "!!!! ???? ....."),
                ("https://tiny.example/1", good),  # fails min_pages
            ],
            "url string, text string",
        )
        out = host_quality_filter(
            pages, min_mean_quality=0.7, min_pages=2
        )
        assert sorted(r.url for r in out.collect()) == [
            "https://good.example/1",
            "https://good.example/2",
        ]
        row = out.collect()[0]
        assert row.host == "good.example" and row.host_pages == 2

    def test_dsir_weights_direction(self, spark):
        from pyspark.sql import functions as F

        from pheknowlator_spark.operators.corpus import dsir_weights

        rows = [(i, "alpha beta gamma delta", "target") for i in range(20)]
        rows += [(100 + i, "zig zag zog zug", "other") for i in range(20)]
        rows += [(200, "alpha beta gamma delta", "other")]
        rows += [(201, "zig zag zog zug", "probe-other")]
        docs = spark.createDataFrame(rows, "doc_id long, text string, src string")
        w = {
            r.doc_id: r.dsir_weight
            for r in dsir_weights(
                docs, F.col("src") == "target", buckets=64
            ).collect()
        }
        # target-looking doc scores strictly higher than raw-looking doc
        assert w[200] > w[201]
        assert all(r > 0 for k, r in w.items() if k < 20)
        # n_tokens rides along
        assert len(w) == 42
