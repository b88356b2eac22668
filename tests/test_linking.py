"""Alias table + fuzzy TF-IDF char-ngram linker + connected components.

Reference analog: two-pass resolution (extractor.py:111-235) — registry
build, collision priority, fuzzy fallback — and the CC fixture from
FIXTURES.md §3 (chains 2-6 + one large skewed component).
"""

import math

import pandas as pd
import pytest

from codebased_spark.link.alias import (
    build_alias_table,
    build_idf,
    link_fuzzy_mentions,
    tfidf_cosine_batch,
)
from codebased_spark.link.cc import connected_components


def test_tfidf_cosine_sanity():
    idf = build_idf(["Acme Corporation", "Acme Industries", "Globex Systems"])
    d = math.log(4) + 1
    s = tfidf_cosine_batch(
        pd.Series(["Acme Corporati", "Acme Corporati", "Acme Corporation"]),
        pd.Series(["Acme Corporation", "Globex Systems", "Acme Corporation"]),
        idf,
        d,
    )
    assert s[2] == pytest.approx(1.0)
    assert s[0] > 0.7 > s[1]


def test_alias_collision_priority(spark):
    gaz = spark.createDataFrame(
        pd.DataFrame(
            {
                "surface_form": ["Acme", "Acme", "Globex"],
                "canonical_id": ["ent:b", "ent:a", "ent:g"],
                "entity_type": ["Org", "Org", "Org"],
                "weight": [0.5, 1.0, 1.0],
            }
        )
    )
    rows = {r.alias_key: r.entity_id for r in build_alias_table(gaz).collect()}
    assert rows["Acme"] == "ent:a"  # higher weight wins (J2)
    assert rows["Globex"] == "ent:g"
    assert rows.get("globex") == "ent:g"  # url-form variant, unambiguous
    assert "acme" not in rows  # url-form of a key with conflicting entities
    no_variants = {
        r.alias_key: r.entity_id
        for r in build_alias_table(gaz, variants=False).collect()
    }
    assert no_variants == {"Acme": "ent:a", "Globex": "ent:g"}


def test_alias_variant_generation(spark):
    """J1 in full: generated key variants (stripped / acronym / url-form)
    resolve exactly; ambiguous generated keys are dropped, explicit
    surfaces shadow same-spelling variants."""
    gaz = spark.createDataFrame(
        pd.DataFrame(
            {
                "surface_form": [
                    "Tyrell Dynamics Group",   # -> "Tyrell", "TDG", "tyrelldynamicsgroup"
                    "Acme Corporation",        # -> "Acme" (ambiguous, dropped)
                    "Acme Industries",         # -> "Acme" (ambiguous, dropped)
                    "The Wayne Group",         # -> "Wayne" via The-strip + qualifier-strip? (only one strip layer each)
                ],
                "canonical_id": ["ent:t", "ent:a1", "ent:a2", "ent:w"],
                "entity_type": ["Org"] * 4,
                "weight": [1.0, 1.0, 1.0, 1.0],
            }
        )
    )
    rows = {r.alias_key: (r.entity_id, r.specificity) for r in build_alias_table(gaz).collect()}
    assert rows["Tyrell"] == ("ent:t", 0.8)           # qualifier-stripped
    assert rows["TDG"] == ("ent:t", 0.5)              # acronym
    assert rows["tyrelldynamicsgroup"] == ("ent:t", 0.4)  # url-token form
    assert "Acme" not in rows                          # ambiguous -> dropped
    assert rows["Acme Corporation"] == ("ent:a1", 1.0)  # explicit intact
    # acronyms shorter than 3 chars are suppressed ("AC", "AI", "WG"...)
    assert "AC" not in rows and "AI" not in rows


def test_variant_only_mention_links_exactly(spark):
    """A page that mentions an entity ONLY by a generated variant resolves
    through the exact path (no fuzzy scoring involved)."""
    from codebased_spark.graph.pipeline import extract_triples
    from codebased_spark.synth.pages import pages_from_documents

    gaz = spark.createDataFrame(
        pd.DataFrame(
            {
                "surface_form": ["Tyrell Dynamics Group"],
                "canonical_id": ["ent:org:tdg"],
                "entity_type": ["Org"],
                "weight": [1.0],
            }
        )
    )
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [
                "Analysts say TDG beat expectations.",
                "Tyrell announced a new lens array.",
            ],
            "lang": ["en", "en"],
            "source": ["wire", "wire"],
        }
    )
    pages = spark.createDataFrame(pages_from_documents(docs))
    res = extract_triples(spark, pages, gaz)
    linked = res.mentions.where("entity_id is not null").toPandas()
    assert set(linked.surface) == {"TDG", "Tyrell"}
    assert (linked.entity_id == "ent:org:tdg").all()
    assert linked.exact.all()
    # scaled confidence: acronym 0.5, stripped 0.8
    got = dict(zip(linked.surface, linked.link_score))
    assert got["TDG"] == pytest.approx(0.5) and got["Tyrell"] == pytest.approx(0.8)
    # entity name is the canonical surface, not a variant
    names = {r.id: r.name for r in res.nodes.where("type = 'Org'").collect()}
    assert names == {"ent:org:tdg": "Tyrell Dynamics Group"}


def test_external_blocklist_suppresses_stubs(spark):
    """J5: blocklisted unknown surfaces produce NO ext: stub node; other
    unknown surfaces still do (reference extractor.py:393-426)."""
    from codebased_spark.graph.pipeline import extract_triples
    from codebased_spark.synth.pages import pages_from_documents

    gaz = spark.createDataFrame(
        pd.DataFrame(
            {
                "surface_form": ["Acme Corporation"],
                "canonical_id": ["ent:org:acme"],
                "entity_type": ["Org"],
                "weight": [1.0],
            }
        )
    )
    docs = pd.DataFrame(
        {
            "doc_id": [0],
            "text": ["Cookie Consent banners annoyed Zorblax Media readers."],
            "lang": ["en"],
            "source": ["wire"],
        }
    )
    pages = spark.createDataFrame(pages_from_documents(docs))
    res = extract_triples(
        spark, pages, gaz, external_blocklist=["cookie consent"]
    )
    ext = {r.name for r in res.nodes.where("type = 'External'").collect()}
    assert "Zorblax Media" in ext      # unknown surface -> stub, as before
    assert "Cookie Consent" not in ext  # blocklisted -> no stub at all
    # the blocklisted mention stays visibly unlinked in the mention table
    m = {r.surface: r.entity_id for r in res.mentions.collect()}
    assert m["Cookie Consent"] is None


def test_fuzzy_linker_end_to_end(spark, corpus):
    gaz = spark.createDataFrame(corpus.gazetteer)
    alias = build_alias_table(gaz)
    fuzzy = spark.createDataFrame(
        pd.DataFrame({"surface": ["Acme Corporati", "Zorblax Qux"]})
    )
    linked = {r.surface: r.entity_id for r in link_fuzzy_mentions(spark, fuzzy, alias).collect()}
    assert linked.get("Acme Corporati") == "ent:org:00001"
    assert "Zorblax Qux" not in linked  # no candidate above threshold


def test_fuzzy_linker_first_token_corruption(spark, corpus):
    """Second blocking key (last token — the reference's suffix fallback,
    extractor.py:386-390): a corrupted FIRST token still finds its entity."""
    gaz = spark.createDataFrame(corpus.gazetteer)
    alias = build_alias_table(gaz)
    fuzzy = spark.createDataFrame(pd.DataFrame({"surface": ["Acm Corporation"]}))
    linked = {r.surface: r.entity_id for r in link_fuzzy_mentions(spark, fuzzy, alias).collect()}
    assert linked.get("Acm Corporation") == "ent:org:00001"


def test_cc_chains_and_skew(spark):
    # chains of length 2-6 plus one large skewed (star) component
    edges = []
    nid = 0
    expected = {}
    for length in (2, 3, 4, 6):
        chain = [f"n{nid + i:04d}" for i in range(length)]
        nid += length
        edges += list(zip(chain, chain[1:]))
        for c in chain:
            expected[c] = chain[0]
    hub = "hub0"
    for i in range(200):  # skewed star
        edges.append((hub, f"spoke{i:04d}"))
        expected[f"spoke{i:04d}"] = hub
    expected[hub] = hub
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r.id: r.comp for r in connected_components(df).collect()}
    assert got == expected


def test_cc_merges_via_shared_node(spark):
    df = spark.createDataFrame(
        pd.DataFrame([("sf:a", "ent:1"), ("sf:a", "ent:2")], columns=["src", "dst"])
    )
    got = {r.id: r.comp for r in connected_components(df).collect()}
    assert got["ent:1"] == got["ent:2"] == "ent:1"


def test_cc_empty_edges(spark):
    """Empty edge set (e.g. empty gazetteer) returns an empty frame with a
    declared schema on BOTH the driver-side and distributed paths."""
    empty = spark.createDataFrame([], "src string, dst string")
    out = connected_components(empty)
    assert out.columns == ["id", "comp"]
    assert out.count() == 0
    out2 = connected_components(empty, driver_threshold=0)  # distributed path
    assert out2.columns == ["id", "comp"] and out2.count() == 0


def test_fuzzy_linker_distributed_matches_closure_path(spark, corpus):
    """VERDICT r2 #2 guard rails: forcing the big-gazetteer relational
    scorer (max_broadcast_aliases below the table size) must produce the
    same link decisions and near-identical scores as the closure path."""
    gaz = spark.createDataFrame(corpus.gazetteer)
    alias = build_alias_table(gaz)
    fuzzy = spark.createDataFrame(
        pd.DataFrame({"surface": [
            "Acme Corporati", "Acm Corporation", "Zorblax Qux", "Initech Grp",
        ]})
    )
    closure = {
        r.surface: (r.entity_id, r.link_score)
        for r in link_fuzzy_mentions(spark, fuzzy, alias).collect()
    }
    dist = {
        r.surface: (r.entity_id, r.link_score)
        for r in link_fuzzy_mentions(
            spark, fuzzy, alias, max_broadcast_aliases=1
        ).collect()
    }
    assert set(closure) == set(dist)
    for s, (eid, score) in closure.items():
        assert dist[s][0] == eid
        assert abs(dist[s][1] - score) < 1e-9, (s, score, dist[s][1])


def _wikidata_gazetteer(spark):
    """Entity ids that sort after the "sf:" prefix a surface node would
    carry, so no id can win a min-label contest against a surface."""
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "surface_form": ["Acme Corporation", "Globex"],
                "canonical_id": ["wd:Q1", "wd:Q2"],
                "entity_type": ["Org", "Org"],
                "weight": [1.0, 1.0],
            }
        )
    )


def _acme_pages(spark):
    from codebased_spark.synth.pages import pages_from_documents

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [
                "Acme Corporation acquired Globex last spring.",
                "Acme opened a new plant near Zorblax Media.",
            ],
            "lang": ["en", "en"],
            "source": ["wire", "wire"],
        }
    )
    return spark.createDataFrame(pages_from_documents(docs))


def _entity_ids(nodes, edges):
    ids = {r.id for r in nodes.where("type = 'Org'").collect()}
    rel = {(r.src, r.rel_type, r.dst) for r in edges.where("rel_type = 'ACQUIRED'").collect()}
    return ids, rel


def test_node_ids_are_gazetteer_ids(spark, tmp_path):
    """Canonical ids are the gazetteer's entity ids, whatever they sort
    against: a surface node never renames an entity."""
    from codebased_spark.graph.manifest import read_graph, run_partitioned
    from codebased_spark.graph.pipeline import extract_triples

    gaz, pages = _wikidata_gazetteer(spark), _acme_pages(spark)
    want = ({"wd:Q1", "wd:Q2"}, {("wd:Q1", "ACQUIRED", "wd:Q2")})

    res = extract_triples(spark, pages, gaz)
    objs = {r.obj for r in res.triples.where("pred = 'MENTIONS'").collect()}
    assert {"wd:Q1", "wd:Q2"} <= objs
    assert not [o for o in objs if o.startswith("sf:")]
    assert _entity_ids(res.nodes, res.edges) == want
    res.release()

    out = str(tmp_path / "graph")
    run_partitioned(spark, pages, gaz, out, n_buckets=2, batch_size=2)
    assert _entity_ids(*read_graph(spark, out)) == want


def test_entities_merge_only_through_a_shared_surface(spark):
    """Two entity ids that one surface maps to merge under the minimum
    entity id, transitively; entities with disjoint surfaces keep their
    own ids. The driver rule and the distributed one (above the
    broadcast guard) agree."""
    from codebased_spark.graph.pipeline import _canon_distributed, _shared_surface_labels

    exact = [
        ("Acme", "wd:Q9", "Org", 1.0),
        ("Acme Corp", "wd:Q3", "Org", 1.0),
        ("Initech", "wd:Q5", "Org", 1.0),
        ("Initrode", "wd:Q5", "Org", 0.8),
        ("Umbrella", "wd:Q8", "Org", 1.0),
    ]
    fuzzy = [  # fuzzy links and stubs that share a spelling with another entity
        ("Acme", "wd:Q3", "Org", 0.7),
        ("Umbrela", "wd:Q7", "Org", 0.6),
        ("Umbrela", "wd:Q9", "Org", 0.6),
        ("Zorblax", "ext:zz", "External", 0.0),
    ]
    want = {
        "wd:Q3": "wd:Q3", "wd:Q7": "wd:Q3", "wd:Q9": "wd:Q3",
        "wd:Q5": "wd:Q5", "wd:Q8": "wd:Q8", "ext:zz": "ext:zz",
    }
    label = _shared_surface_labels(exact + fuzzy)
    assert {e: label.get(e, e) for e in want} == want

    schema = "surface string, entity_id string, entity_type string, link_score double"
    canon = _canon_distributed(
        spark.createDataFrame(exact, schema), spark.createDataFrame(fuzzy, schema)
    )
    try:
        got = {(r.surface, r.entity_id): r.canonical_id for r in canon.collect()}
    finally:
        canon.unpersist()
    assert got == {(s, e): want[e] for s, e, _, _ in exact + fuzzy}
