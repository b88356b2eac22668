"""Canonical-url collapse (sources/canonical.py)."""

from __future__ import annotations

import datetime

from codebased_spark.sources.canonical import collapse_canonical


def _pages(spark, rows):
    # rows: (url, ts_offset_s, html)
    base = datetime.datetime(2025, 1, 1)
    return spark.createDataFrame(
        [
            (u, base + datetime.timedelta(seconds=dt), h.encode(), "x", "en")
            for u, dt, h in rows
        ],
        ["url", "warc_ts", "html", "text", "lang"],
    )


CANON = '<link rel="canonical" href="https://c.example.com/main"/>'
CANON_REV = '<link href="https://c.example.com/main" rel="canonical"/>'


def test_variants_collapse_self_capture_wins(spark):
    pages = _pages(
        spark,
        [
            # two variants declare the canonical (both attribute orders)
            ("https://m.example.com/a", 30, f"<head>{CANON}</head><p>mobile</p>"),
            ("https://amp.example.com/a", 20, f"<head>{CANON_REV}</head><p>amp</p>"),
            # the canonical itself was crawled EARLIER — must still win
            ("https://c.example.com/main", 10, "<head></head><p>main</p>"),
            # unrelated page, no declaration: self group
            ("https://o.example.com/b", 5, "<head></head><p>other</p>"),
        ],
    )
    got = {r.url: r for r in collapse_canonical(pages).collect()}
    assert set(got) == {"https://c.example.com/main", "https://o.example.com/b"}
    main = got["https://c.example.com/main"]
    assert main.n_variants == 3
    assert main.src_url == "https://c.example.com/main"  # self beats newer variants
    assert b"main" in bytes(main.html)
    other = got["https://o.example.com/b"]
    assert other.n_variants == 1 and other.src_url == "https://o.example.com/b"


def test_without_self_capture_latest_variant_wins(spark):
    pages = _pages(
        spark,
        [
            ("https://m.example.com/a", 30, f"<head>{CANON}</head><p>new</p>"),
            ("https://amp.example.com/a", 20, f"<head>{CANON}</head><p>old</p>"),
        ],
    )
    row = collapse_canonical(pages).collect()[0]
    assert row.url == "https://c.example.com/main"
    assert row.src_url == "https://m.example.com/a"
    assert b"new" in bytes(row.html)


def test_stylesheet_link_does_not_mispair(spark):
    html = (
        '<head><link rel="stylesheet" href="https://s.example.com/x.css">'
        f"{CANON}</head><p>t</p>"
    )
    pages = _pages(spark, [("https://m.example.com/a", 0, html)])
    row = collapse_canonical(pages).collect()[0]
    assert row.url == "https://c.example.com/main"


def test_pipeline_canonical_collapse_merges_variant_triples(spark):
    """A variant page declaring a crawled canonical must contribute no
    separate Page node: the pipeline output equals the single-page run
    on the canonical capture alone."""
    from codebased_spark.graph.pipeline import extract_triples
    from codebased_spark.synth.pages import gen_pages

    corpus = gen_pages(n_docs=8, n_entities=10, seed=11)
    pages = spark.createDataFrame(corpus.pages)
    gaz = spark.createDataFrame(corpus.gazetteer)
    first = corpus.pages.iloc[0]
    variant_html = (
        f'<html><head><link rel="canonical" href="{first.url}"/></head>'
        "<body><p>thin syndicated copy</p></body></html>"
    ).encode()
    variant = spark.createDataFrame(
        [
            (
                "https://mirror.example.net/copy/1",
                first.warc_ts.to_pydatetime() + datetime.timedelta(days=1),
                variant_html,
                "thin syndicated copy",
                "en",
            )
        ],
        pages.schema,
    )
    base = extract_triples(spark, pages, gaz)
    merged = extract_triples(
        spark,
        collapse_canonical(pages.unionByName(variant)).drop("src_url", "n_variants"),
        gaz,
    )
    a = {tuple(r) for r in base.triples.select("subj", "pred", "obj").collect()}
    b = {tuple(r) for r in merged.triples.select("subj", "pred", "obj").collect()}
    # self-capture wins over the newer thin variant -> identical triples
    assert a == b
    base.release()
    merged.release()


def test_hreflang_alternates_any_attr_order(spark):
    from codebased_spark.sources.canonical import hreflang_alternates

    html = (
        '<head>'
        '<link rel="alternate" hreflang="en" href="https://h/en"/>'
        '<link href="https://h/de" rel="alternate" hreflang="de"/>'
        '<link hreflang="fr" href="https://h/fr" rel="alternate"/>'
        '<link rel="stylesheet" href="https://h/style.css"/>'
        '<link rel="alternate" hreflang="x-default" href="https://h/en"/>'
        "</head>"
    )
    pages = _pages(spark, [("https://h/en", 0, html)])
    got = {(r.hreflang, r.alt_url) for r in hreflang_alternates(pages).collect()}
    assert got == {
        ("en", "https://h/en"),
        ("de", "https://h/de"),
        ("fr", "https://h/fr"),
        ("x-default", "https://h/en"),
    }
