"""RFC 3986 reference resolution (extract/urlops.py) — executable spec.

Same discipline as test_tables_spec.py (vs html.parser) and
test_robots_spec.py (vs urllib.robotparser): the Spark-native resolver is
run over the RFC §5.4.1 normal + §5.4.2 abnormal example battery and every
output must equal urllib.parse.urljoin's, with fragments stripped (the
link-graph identity ignores fragments by design, documented on
resolve_url_col).
"""

from __future__ import annotations

from urllib.parse import urldefrag, urljoin

from pyspark.sql import functions as F

from codebased_spark.extract.urlops import (
    base_href_col,
    resolve_url_col,
    resolved_link_edges,
)

BASE = "http://a/b/c/d;p?q"

# RFC 3986 §5.4.1 normal examples (minus 'g:h' — foreign-scheme refs are
# returned verbatim, which urljoin also does, but scheme-relative 'http:g'
# behavior is historically contested and excluded like the RFC suggests)
NORMAL = [
    "g", "./g", "g/", "/g", "//g", "?y", "g?y", "#s", "g#s", "g?y#s",
    ";x", "g;x", "g;x?y#s", "", ".", "./", "..", "../", "../g",
    "../..", "../../", "../../g",
]

# §5.4.2 abnormal examples
ABNORMAL = [
    "../../../g", "../../../../g", "/./g", "/../g", "g.", ".g", "g..",
    "..g", "./../g", "./g/.", "g/./h", "g/../h", "g;x=1/./y",
    "g;x=1/../y", "g?y/./x", "g?y/../x", "g#s/./x", "g#s/../x",
]


def test_rfc3986_battery_matches_urljoin(spark):
    refs = NORMAL + ABNORMAL
    df = spark.createDataFrame([(BASE, r) for r in refs], ["base", "href"])
    got = {
        r.href: r.resolved
        for r in df.select(
            "href", resolve_url_col(F.col("base"), F.col("href")).alias("resolved")
        ).collect()
    }
    for ref in refs:
        expect = urldefrag(urljoin(BASE, ref)).url
        assert got[ref] == expect, f"{ref!r}: {got[ref]!r} != {expect!r}"


def test_resolve_relative_against_real_page_urls(spark):
    cases = [
        # (base, href, expected)
        ("https://s.example.org/en/doc/42", "item/7",
         "https://s.example.org/en/doc/item/7"),
        ("https://s.example.org/en/doc/42", "../shared/3",
         "https://s.example.org/en/shared/3"),
        ("https://s.example.org/en/doc/42", "/r/11",
         "https://s.example.org/r/11"),
        ("https://s.example.org/en/doc/42", "//cdn.example.net/pr/2",
         "https://cdn.example.net/pr/2"),
        ("https://s.example.org/en/doc/42", "./x/../y/5",
         "https://s.example.org/en/doc/y/5"),
        ("https://s.example.org/en/doc/42", "https://ext.example.com/p",
         "https://ext.example.com/p"),
        # authority-only base: path merge starts from '/'
        ("https://s.example.org", "a/b", "https://s.example.org/a/b"),
    ]
    df = spark.createDataFrame(cases, ["base", "href", "expect"])
    bad = df.where(
        resolve_url_col(F.col("base"), F.col("href")) != F.col("expect")
    ).count()
    assert bad == 0
    for base, href, expect in cases:
        assert urldefrag(urljoin(base, href)).url == expect  # spec agrees


def test_resolved_link_edges_end_to_end(spark):
    pages = spark.createDataFrame(
        [
            (
                "https://s.example.org/en/doc/1",
                '<html><body><a href="item/9">x</a>'
                "<A HREF='../up/2'>y</A>"
                '<a class="z" href="//cdn.example.net/c">z</a></body></html>'.encode(),
            )
        ],
        ["url", "html"],
    )
    got = {
        r.target for r in resolved_link_edges(pages).collect()
    }
    assert got == {
        "https://s.example.org/en/doc/item/9",
        "https://s.example.org/en/up/2",
        "https://cdn.example.net/c",
    }


def test_base_href_overrides_resolution_base(spark):
    # <base href> is itself relative -> resolved against the page url
    # first; hrefs then resolve against it. The first base element wins.
    pages = spark.createDataFrame(
        [
            (
                "https://s.example.org/en/doc/1",
                "<html><head><BASE HREF='/assets/'></head><body>"
                '<a href="img/3">x</a><a href="../css/4">y</a>'
                '<base href="/ignored/">'
                "</body></html>".encode(),
            ),
            (
                "https://s.example.org/en/doc/2",
                b'<html><body><a href="plain/5">z</a></body></html>',
            ),
        ],
        ["url", "html"],
    )
    rows = {(r.src_url, r.target) for r in resolved_link_edges(pages).collect()}
    assert rows == {
        ("https://s.example.org/en/doc/1", "https://s.example.org/assets/img/3"),
        ("https://s.example.org/en/doc/1", "https://s.example.org/css/4"),
        ("https://s.example.org/en/doc/2", "https://s.example.org/en/doc/plain/5"),
    }
    got = spark.createDataFrame(
        [("<base target='_x' href=\"https://b.example.net/p/\">",)], ["h"]
    ).select(base_href_col(F.col("h")).alias("b")).first()["b"]
    assert got == "https://b.example.net/p/"


def test_flagship_links_to_resolves_relative_hrefs(spark):
    # the pipeline's LINKS_TO edges must be absolute on real-web (relative
    # href) pages, and relative aliases of one target must dedup to one edge
    from codebased_spark.graph.pipeline import extract_triples
    from codebased_spark.synth.pages import gen_pages

    html = (
        "<html><body><p>plain text here</p>"
        '<a href="item/9">x</a>'
        "<a href='./item/9'>same target, different spelling</a>"
        '<a href="../up/2#frag">y</a>'
        '<a href="mailto:me@example.org">mail</a>'
        "<a href='javascript:void(0)'>js</a>"
        '<a href="https://abs.example.net/p">z</a></body></html>'
    ).encode()
    pages = spark.createDataFrame(
        [("https://s.example.org/en/doc/1", html, "en")],
        ["url", "html", "lang"],
    )
    # house gazetteer whose surfaces don't occur in this page's text
    gaz = spark.createDataFrame(
        gen_pages(n_docs=5, n_entities=5, seed=1).gazetteer
    )
    res = extract_triples(spark, pages, gaz)
    links = {
        r.obj
        for r in res.triples.where("pred = 'LINKS_TO'").collect()
    }
    assert links == {
        "page:https://s.example.org/en/doc/item/9",
        "page:https://s.example.org/en/up/2",
        "page:https://abs.example.net/p",
    }
    res.release()


def test_seeded_fuzz_battery_matches_urljoin(spark):
    """400 grammar-generated (base, href) pairs, one Spark job, every
    resolution compared to urllib (fragment-stripped). Deterministic
    seed — a failure reproduces exactly.

    Empty path segments are excluded from the grammar: CPython's urljoin
    COLLAPSES them ('x//y' -> '/x/y'), which deviates from RFC 3986 §5.2.4
    (and from WHATWG/browser behavior, which preserve them) — the
    resolver follows the RFC, so urljoin is only the oracle where it is
    conformant."""
    import random

    rng = random.Random(42)
    segs = ["a", "b", "c", "x-y", "..", ".", "p1"]

    def mk_base():
        host = rng.choice(["h.org", "w.example.com", "a"])
        path = "/".join(rng.choice(segs[:4]) for _ in range(rng.randint(0, 3)))
        q = rng.choice(["", "?q=1", "?a=b&c=d"])
        return f"{rng.choice(['http', 'https'])}://{host}/{path}{q}"

    def mk_href():
        kind = rng.randint(0, 6)
        if kind == 0:
            return f"https://ext.{rng.choice(['a', 'b'])}.org/p"
        if kind == 1:
            return "//cdn.net/" + rng.choice(segs[:4])
        if kind == 2:
            return "/" + "/".join(rng.choice(segs) for _ in range(rng.randint(0, 3)))
        if kind == 3:
            return rng.choice(["", "#s", "?x=2", "?x=2#s"])
        path = "/".join(rng.choice(segs) for _ in range(rng.randint(1, 4)))
        return path + rng.choice(["", "?y=3", "#f", "?y=3#f"])

    cases = [(mk_base(), mk_href()) for _ in range(400)]
    df = spark.createDataFrame(cases, ["base", "href"])
    got = [
        (r.base, r.href, r.resolved)
        for r in df.select(
            "base", "href",
            resolve_url_col(F.col("base"), F.col("href")).alias("resolved"),
        ).collect()
    ]
    bad = [
        (b, h, r, urldefrag(urljoin(b, h)).url)
        for b, h, r in got
        if r != urldefrag(urljoin(b, h)).url
    ]
    assert not bad, f"{len(bad)} divergences, first: {bad[0]}"


def test_url_templates_census(spark):
    from codebased_spark.extract.urlops import url_templates

    urls = spark.createDataFrame(
        [
            ("https://s.org/item/42",),
            ("https://s.org/item/7",),
            ("https://s.org/item/42/rev/3",),
            ("https://s.org/about",),
            ("https://other.org/item/1?page=2",),  # query excluded from path
        ],
        ["url"],
    )
    rows = {
        (r.host, r.template): r.n_urls for r in url_templates(urls).collect()
    }
    assert rows[("s.org", "/item/{n}")] == 2
    assert rows[("s.org", "/item/{n}/rev/{n}")] == 1
    assert rows[("s.org", "/about")] == 1
    assert rows[("other.org", "/item/{n}")] == 1
