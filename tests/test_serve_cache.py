"""Serving from cached graph views: graph/views.py register_views plus
jobs/serve_graph.py make_handler, run in-process on a loopback HTTPServer.

The views over a committed graph directory are cached lazily (registration
persists nothing; the first request builds the columnar copy), every route
scans that copy instead of parquet, a refresh never serves stale or
missing rows, and re-registering releases only the caches register_views
itself made."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import threading
import urllib.error
import urllib.request
from collections import Counter
from http.server import HTTPServer

import pytest
from pyspark.sql import functions as F

from codebased_spark.graph.manifest import (
    incremental_update,
    read_graph,
    run_partitioned,
    with_bucket,
)
from codebased_spark.graph.views import register_views
from codebased_spark.synth.pages import gen_pages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_BUCKETS = 4
# an aggregate over both views, small enough to stay under the auto-LIMIT
JOIN_SQL = (
    "SELECT n.type, e.rel_type, count(*) AS n FROM edges e "
    "JOIN nodes n ON e.dst = n.id GROUP BY n.type, e.rel_type"
)


@pytest.fixture(scope="module")
def corpus_gaz():
    return gen_pages(n_docs=40, n_entities=24, seed=11)


@pytest.fixture(scope="module")
def graph(spark, corpus_gaz, tmp_path_factory):
    """One committed build; tests that update a graph update a copy."""
    out = str(tmp_path_factory.mktemp("served") / "graph")
    run_partitioned(
        spark, spark.createDataFrame(corpus_gaz.pages),
        spark.createDataFrame(corpus_gaz.gazetteer), out,
        n_buckets=N_BUCKETS, batch_size=N_BUCKETS,
    )
    return out


@pytest.fixture(scope="module")
def server(spark):
    """(port, served frames): the handler's `_rows` is wrapped to record
    the DataFrame each request collected."""
    spec = importlib.util.spec_from_file_location(
        "serve_graph", os.path.join(REPO, "jobs", "serve_graph.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    served = []
    rows = mod._rows

    def recording_rows(df):
        served.append(df)
        return rows(df)

    mod._rows = recording_rows
    srv = HTTPServer(("127.0.0.1", 0), mod.make_handler(spark))
    t = threading.Thread(target=srv.serve_forever, kwargs={"poll_interval": 0.05}, daemon=True)
    t.start()
    yield srv.server_address[1], served
    srv.shutdown()
    srv.server_close()
    t.join()
    for view in ("nodes", "edges"):
        spark.catalog.uncacheTable(view)


def _request(port, route, payload=None):
    data = None if payload is None else json.dumps(payload).encode()
    req = urllib.request.Request(f"http://127.0.0.1:{port}{route}", data=data)
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _answer(port, route, payload=None):
    """A route's 200 answer as a multiset of rows."""
    status, body = _request(port, route, payload)
    assert status == 200, body
    if route == "/api/graph":
        rows = [("n", r["type"], r["n"]) for r in body["nodes_by_type"]]
        rows += [("e", r["rel_type"], r["n"]) for r in body["edges_by_type"]]
    else:
        rows = [tuple(r.values()) for r in body["rows"]]
    return Counter(rows)


def _routes(name):
    return [
        ("/api/graph", None),
        ("/api/query", {"sql": JOIN_SQL}),
        ("/api/pages_mentioning", {"entity": name}),
        ("/api/related", {"entity": name}),
    ]


def _rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _leaves(plan) -> list[str]:
    """Class names of an executed plan's leaf operators, through AQE's
    wrapper and query stages. The cached plan an InMemoryTableScan reads
    from is not a child (explain() prints it, so text matching would find
    its FileScan)."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _leaves(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _leaves(plan.plan())
    if name == "ReusedExchangeExec":
        return _leaves(plan.child())
    kids = plan.children()
    if kids.isEmpty():
        return [name]
    return [leaf for i in range(kids.size()) for leaf in _leaves(kids.apply(i))]


def _mentioned_name(spark, graph):
    nodes, edges = read_graph(spark, graph)
    return (
        edges.where("rel_type = 'MENTIONS'")
        .join(nodes, edges.dst == nodes.id)
        .groupBy("name").count()
        .orderBy(F.desc("count"), "name")
        .first().name
    )


def test_registration_is_lazy(spark, graph, server):
    port, _ = server
    before = _rdd_ids(spark)
    register_views(spark, out_dir=graph)
    assert _rdd_ids(spark) <= before  # no cache built at registration
    _answer(port, "/api/graph")
    assert _rdd_ids(spark) - before  # the first request built it


def test_every_route_scans_the_cache(spark, graph, server):
    port, served = server
    register_views(spark, out_dir=graph)
    for route, payload in _routes(_mentioned_name(spark, graph)):
        n = len(served)
        _answer(port, route, payload)
        (df,) = served[n:]
        leaves = _leaves(df._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScanExec" in leaves, (route, leaves)
        assert not [s for s in leaves if s.startswith(("FileSourceScan", "BatchScan"))], (
            route, leaves,
        )


def _served_after_refresh(spark, port, out, name):
    """(answers from the re-registered cached views, answers from an
    uncached read_graph of the directory), one per route."""
    register_views(spark, out_dir=out)
    got = [_answer(port, r, p) for r, p in _routes(name)]
    spark.catalog.clearCache()
    nodes, edges = read_graph(spark, out)
    register_views(spark, nodes=nodes, edges=edges)
    want = [_answer(port, r, p) for r, p in _routes(name)]
    return got, want


def test_refresh_never_serves_stale_rows(spark, corpus_gaz, graph, server, tmp_path):
    port, _ = server
    out = str(tmp_path / "graph")
    shutil.copytree(graph, out)
    gaz = spark.createDataFrame(corpus_gaz.gazetteer)
    victim = with_bucket(spark.createDataFrame(corpus_gaz.pages), N_BUCKETS).first().bucket
    name = _mentioned_name(spark, out)

    def without_victim(pdf):
        pages_b = with_bucket(spark.createDataFrame(pdf), N_BUCKETS)
        return pages_b.where(F.col("bucket") != victim).drop("bucket")

    register_views(spark, out_dir=out)
    built = [_answer(port, r, p) for r, p in _routes(name)]  # materializes the cache

    # every page of one bucket removed: the update writes only a manifest
    # tombstone and deletes the bucket's partitions through the FileSystem
    # API, which refreshes no cached relation over nodes/ or edges/
    remaining = without_victim(corpus_gaz.pages)
    rep = incremental_update(spark, remaining, gaz, out, n_buckets=N_BUCKETS,
                             batch_size=N_BUCKETS)
    assert rep.buckets_deleted == [victim] and not rep.buckets_processed
    got, want = _served_after_refresh(spark, port, out, name)
    assert got == want
    assert got[0] != built[0]  # the refresh is visible in the stats

    # an English page of another bucket that does not mention the entity
    # edited to mention it: its bucket's partitions are deleted and rewritten
    register_views(spark, out_dir=out)
    pre_edit = [_answer(port, r, p) for r, p in _routes(name)]
    mentioning = {url for _, url in pre_edit[2]}
    edited = min(
        r.url for r in remaining.where("lang = 'en'").select("url").collect()
        if r.url not in mentioning
    )
    pdf = corpus_gaz.pages.copy()
    extra = f"<p>Ada Lovelock works for {name}.</p></body>".encode()
    is_edited = pdf.url == edited
    pdf.loc[is_edited, "html"] = pdf.loc[is_edited, "html"].map(
        lambda h: h.replace(b"</body>", extra)
    )
    remaining = without_victim(pdf)
    rep = incremental_update(spark, remaining, gaz, out, n_buckets=N_BUCKETS,
                             batch_size=N_BUCKETS)
    assert len(rep.buckets_processed) == 1 and not rep.buckets_deleted
    got, want = _served_after_refresh(spark, port, out, name)
    assert got == want
    assert got[2] != pre_edit[2]  # the edited page now mentions the entity


def test_reregister_releases_only_its_own_caches(spark, graph, server):
    port, _ = server
    register_views(spark, out_dir=graph)
    before = _rdd_ids(spark)
    _answer(port, "/api/query", {"sql": JOIN_SQL})
    first = _rdd_ids(spark) - before
    assert first

    register_views(spark, out_dir=graph)
    assert not first & _rdd_ids(spark)

    # frames the caller persisted itself stay persisted through a
    # registration of them and a later out_dir registration
    nodes, edges = read_graph(spark, graph)
    mine = [spark.createDataFrame(df.collect(), df.schema).persist() for df in (nodes, edges)]
    try:
        before = _rdd_ids(spark)
        for df in mine:
            df.count()
        caller = _rdd_ids(spark) - before
        assert caller
        register_views(spark, nodes=mine[0], edges=mine[1])
        _answer(port, "/api/graph")
        assert caller <= _rdd_ids(spark)
        register_views(spark, out_dir=graph)
        assert caller <= _rdd_ids(spark)
    finally:
        for df in mine:
            df.unpersist()


def test_bad_sql_is_a_400(spark, graph, server):
    port, _ = server
    register_views(spark, out_dir=graph)
    status, body = _request(port, "/api/query", {"sql": "SELECT no_such_col FROM nodes"})
    assert status == 400 and "no_such_col" in body["error"]
    status, body = _request(port, "/api/query", {"sql": "SELECT FROM WHERE nodes"})
    assert status == 400 and body["error"]


def test_server_error_is_a_json_500(spark, corpus_gaz, graph, server, tmp_path):
    """A request that fails for a reason other than the client's gets a
    JSON 500 naming the error class, never a closed connection. Here the
    views were registered over a directory before a tombstone-only update
    deleted one bucket's files, and are queried without re-registering."""
    port, _ = server
    out = str(tmp_path / "graph")
    shutil.copytree(graph, out)
    pages_b = with_bucket(spark.createDataFrame(corpus_gaz.pages), N_BUCKETS)
    victim = pages_b.first().bucket
    register_views(spark, out_dir=out)  # lazy: lists the files, reads none
    rep = incremental_update(
        spark, pages_b.where(F.col("bucket") != victim).drop("bucket"),
        spark.createDataFrame(corpus_gaz.gazetteer), out,
        n_buckets=N_BUCKETS, batch_size=N_BUCKETS,
    )
    assert rep.buckets_deleted == [victim]
    for route, payload in (("/api/graph", None), ("/api/query", {"sql": JOIN_SQL})):
        status, body = _request(port, route, payload)
        assert status == 500, (route, body)
        assert body["error_class"] and "FILE_NOT_EXIST" in body["error"], (route, body)
    # the server keeps answering, and a re-registration serves the update
    register_views(spark, out_dir=out)
    status, _ = _request(port, "/api/graph")
    assert status == 200


def test_missing_views_are_a_500(spark, graph, server):
    """Views the server never registered are its own fault, not the
    client's: GET /api/graph answers a JSON 500, not a 400."""
    port, _ = server
    register_views(spark, out_dir=graph)
    try:
        spark.catalog.dropTempView("nodes")
        status, body = _request(port, "/api/graph")
        assert status == 500, body
        assert body["error_class"] == "AnalysisException", body
        assert "TABLE_OR_VIEW_NOT_FOUND" in body["error"], body
    finally:
        register_views(spark, out_dir=graph)
    status, _ = _request(port, "/api/graph")
    assert status == 200
