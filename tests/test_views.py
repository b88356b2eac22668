"""Ad-hoc SQL surface over the materialized graph (reference cli.py:231-313
`codebased query` analog): view registration, auto-LIMIT, read-only guard,
and the canned QUERY_LIBRARY analogs."""

from __future__ import annotations

import dataclasses

import pytest

from codebased_spark.graph.pipeline import extract_triples
from codebased_spark.graph.views import (
    impact,
    pages_mentioning,
    register_views,
    related_entities,
    sql,
)
from codebased_spark.synth.pages import gen_pages


@pytest.fixture(scope="module")
def graph_views(spark):
    c = gen_pages(n_docs=60, n_entities=40, seed=42)
    pages = spark.createDataFrame(c.pages)
    gaz = spark.createDataFrame(c.gazetteer)
    res = extract_triples(spark, pages, gaz)
    # materialize the graph once, as a served graph is: the canned queries
    # reference the views several times each (impact() once per hop), and
    # lazy views would rerun extraction at every reference
    nodes, edges = res.nodes.persist(), res.edges.persist()
    register_views(spark, nodes=nodes, edges=edges)
    yield dataclasses.replace(res, nodes=nodes, edges=edges)
    nodes.unpersist()
    edges.unpersist()
    res.release()


def test_adhoc_sql_auto_limit(spark, graph_views):
    plan = sql(spark, "SELECT id, name FROM nodes ORDER BY id")._jdf.queryExecution().toString()
    assert "GlobalLimit 100" in plan or "Limit 100" in plan
    # explicit LIMIT is respected, not doubled
    df = sql(spark, "SELECT id FROM nodes LIMIT 3")
    assert df.count() == 3
    # limit=None returns everything
    n_all = sql(spark, "SELECT id FROM nodes", limit=None).count()
    assert n_all == graph_views.nodes.count()


def test_adhoc_sql_rejects_writes(spark, graph_views):
    with pytest.raises(ValueError, match="SELECT"):
        sql(spark, "DROP TABLE nodes")
    with pytest.raises(ValueError, match="SELECT"):
        sql(spark, "INSERT INTO nodes VALUES ('x')")
    # WITH-prefixed reads are fine
    assert sql(spark, "WITH c AS (SELECT count(*) n FROM edges) SELECT n FROM c").count() == 1
    # ...but a CTE list fronting DML is still DML (ADVICE r2: Spark parses
    # `WITH ... INSERT INTO ...`, so the structural guard alone is not the
    # stated F5 contract)
    with pytest.raises(ValueError, match="read-only"):
        sql(spark, "WITH c AS (SELECT 1 AS x) INSERT INTO nodes SELECT * FROM c")


def test_adhoc_sql_limit_offset_and_comments(spark, graph_views):
    """ADVICE r2: `LIMIT n OFFSET m` endings and trailing line comments must
    not get a second LIMIT appended (which would fail to parse)."""
    df = sql(spark, "SELECT id FROM nodes ORDER BY id LIMIT 10 OFFSET 5")
    assert df.count() == 10
    df2 = sql(spark, "SELECT id FROM nodes LIMIT 3 -- top rows")
    assert df2.count() == 3
    df3 = sql(spark, "SELECT id FROM nodes ORDER BY id\n-- exploratory\n-- note")
    plan = df3._jdf.queryExecution().toString()
    assert "GlobalLimit 100" in plan or "Limit 100" in plan


def test_pages_mentioning(spark, graph_views):
    # pick an entity that some page mentions
    row = (
        graph_views.edges.where("rel_type = 'MENTIONS'")
        .limit(1)
        .join(graph_views.nodes, graph_views.edges.dst == graph_views.nodes.id)
        .select("name")
        .first()
    )
    got = pages_mentioning(spark, row.name)
    assert got.count() >= 1
    assert set(got.columns) == {"page_id", "url"}


def test_related_entities_and_impact(spark, graph_views):
    # find an entity with at least one typed (non-MENTIONS) edge
    from pyspark.sql import functions as F

    typed = graph_views.edges.where(
        ~F.col("rel_type").isin("LINKS_TO", "MENTIONS")
    )
    src_name = (
        typed.join(graph_views.nodes, typed.src == graph_views.nodes.id)
        .select("name")
        .first()
        .name
    )
    rel = related_entities(spark, src_name)
    assert rel.count() >= 1
    assert set(rel.columns) == {"related", "rel_type", "direction"}

    reach = impact(spark, src_name, max_hops=3).toPandas()
    assert len(reach) >= 1
    assert set(reach.columns) == {"affected", "type", "hops"}
    assert reach.hops.min() >= 1 and reach.hops.max() <= 3
    # 1-hop impact must contain every direct out-neighbor
    direct = {
        r.related for r in related_entities(spark, src_name).collect() if r.direction == "out"
    }
    assert direct <= set(reach.affected)
