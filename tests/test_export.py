"""Graph export sinks (sinks/export.py)."""

from __future__ import annotations

from codebased_spark.sinks.export import (
    triples_to_ntriples,
    write_bulk_import,
    write_ntriples,
)


def test_ntriples_lines_escape_and_terminate(spark):
    triples = spark.createDataFrame(
        [
            ("page:https://a.example.com/x", "LINKS_TO", "page:https://b.example.com/y"),
            ('ent:with"quote', "MENTIONS", "ent:with space"),
            ("ent:org:00001", "HAS_NAME", 'Acme "The Best" Corp\\Inc'),
        ],
        ["subj", "pred", "obj"],
    )
    lines = sorted(r.value for r in triples_to_ntriples(triples).collect())
    assert all(line.endswith(" .") for line in lines)
    # IRI positions use %-encoding, never literal escapes (ADVICE r3):
    # quote -> %22, space -> %20, backslash -> %5C
    assert '<urn:kg:ent:with%22quote> <urn:kg:MENTIONS> <urn:kg:ent:with%20space> .' in lines
    assert (
        "<urn:kg:page:https://a.example.com/x> <urn:kg:LINKS_TO> "
        "<urn:kg:page:https://b.example.com/y> ." in lines
    )
    # a non-scheme-shaped object is a quoted literal with literal escaping
    assert (
        '<urn:kg:ent:org:00001> <urn:kg:HAS_NAME> '
        '"Acme \\"The Best\\" Corp\\\\Inc" .' in lines
    )


def test_ntriples_parse_back(spark):
    """Every emitted line must satisfy the N-Triples grammar: IRIREFs
    contain no forbidden chars, literals round-trip their escapes."""
    import re

    triples = spark.createDataFrame(
        [
            ("page:u v", "P<>Q", 'literal with "quotes"\nand newline'),
            ("ent:a", "REL", "ent:b"),
        ],
        ["subj", "pred", "obj"],
    )
    iriref = r"<[^\x00-\x20<>\"{}|^`\\]*>"
    literal = r'"(?:[^"\\\n\r]|\\[tbnrf"\\])*"'
    line_re = re.compile(
        rf"^{iriref} {iriref} (?:{iriref}|{literal}) \.$"
    )
    for r in triples_to_ntriples(triples).collect():
        assert line_re.match(r.value), r.value


def test_roundtrip_through_files(spark, tmp_path):
    """Full pipeline graph -> N-Triples + bulk CSV on disk -> read back:
    triple count and node ids survive."""
    from codebased_spark.graph.pipeline import extract_triples
    from codebased_spark.synth.pages import gen_pages

    corpus = gen_pages(n_docs=10, n_entities=10, seed=3)
    res = extract_triples(
        spark,
        spark.createDataFrame(corpus.pages),
        spark.createDataFrame(corpus.gazetteer),
    )
    nt = str(tmp_path / "nt")
    bulk = str(tmp_path / "bulk")
    write_ntriples(res.triples.select("subj", "pred", "obj"), nt)
    write_bulk_import(res.nodes, res.edges, bulk)

    assert spark.read.text(nt).count() == res.triples.count()
    nodes_back = spark.read.option("header", True).csv(f"{bulk}/nodes.csv")
    edges_back = spark.read.option("header", True).csv(f"{bulk}/edges.csv")
    assert sorted(r.id for r in nodes_back.collect()) == sorted(
        r.id for r in res.nodes.collect()
    )
    assert edges_back.count() == res.edges.count()
    assert {"src", "dst", "rel_type", "source_url"} <= set(edges_back.columns)
    res.release()
