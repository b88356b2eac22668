"""Traced runs: the layer walk and the per-layer metrics.

The walk calls each layer's public function in pipeline order on the
workload's first snapshot, inside a span. Every call is forced by a
``noop``-format write, which consumes every output column; a bare count
would let the optimizer prune unused columns, pandas UDFs included, and
time nothing. Counts are taken in separate passes outside the spans.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics

from spans import ENGINE_FIELDS, ENGINE_LAYERS, engine_counters


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_walk(b) -> dict:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from codebased_spark.extract.html_text import href_targets, with_text
    from codebased_spark.extract.mentions import with_mentions
    from codebased_spark.graph.pipeline import MENTION_LANGS, extract_triples
    from codebased_spark.link.alias import build_alias_table, link_fuzzy_mentions
    from codebased_spark.link.cc import connected_components

    spark, tr, pages, gaz = b.spark, b.tracer, b.pages0, b.gaz
    out: dict = {"pages": pages.count()}
    keep = []

    def cached(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        keep.append(df)
        return df

    with tr.span("link.alias"):
        alias = build_alias_table(gaz)
        _force(alias)
    alias = cached(alias)
    out["alias_keys"] = alias.count()

    with tr.span("extract.text"):
        _force(with_text(pages, "html", "text"))

    with tr.span("extract.links"):
        links = pages.select("url", href_targets(F.col("html")).alias("links"))
        _force(links)
    out["hrefs"] = links.select(F.sum(F.size("links"))).first()[0] or 0

    # the mention scan reads materialized text, so its span times the scan
    text_pages = cached(
        with_text(pages, "html", "text").where(F.col("lang").isin(*MENTION_LANGS))
    )
    text_pages.count()
    # the first call compiles the gazetteer automaton in every Python
    # worker; the second is the warm per-document cost
    with tr.span("extract.mentions.cold"):
        _force(with_mentions(text_pages, b.surfaces, "text"))
    with tr.span("extract.mentions"):
        scanned = with_mentions(text_pages, b.surfaces, "text")
        _force(scanned)
    scanned = cached(scanned)
    row = scanned.select(
        F.sum(F.size("extraction.mentions")).alias("m"),
        F.sum(F.size("extraction.rels")).alias("r"),
        F.sum(F.size(F.filter("extraction.mentions", lambda x: ~x["exact"]))).alias("f"),
    ).first()
    out["mentions"], out["rels"], out["fuzzy_mentions"] = (row.m or 0), (row.r or 0), (row.f or 0)
    fuzzy = cached(
        scanned.select(F.explode("extraction.mentions").alias("x"))
        .where(~F.col("x.exact"))
        .select(F.col("x.surface").alias("surface"))
        .distinct()
    )
    out["fuzzy_surfaces"] = fuzzy.count()

    with tr.span("link.fuzzy"):
        linked = link_fuzzy_mentions(spark, fuzzy, alias)
        _force(linked)
    linked = cached(linked)
    out["linked"] = linked.count()

    # canonicalization input as the pipeline builds it: exact aliases,
    # fuzzy links, and external stubs for unlinked candidates
    unlinked = fuzzy.join(linked, "surface", "left_anti").select(
        "surface", F.concat(F.lit("ext:"), F.sha2("surface", 256)).alias("entity_id")
    )
    surface_map = (
        alias.select(F.col("alias_key").alias("surface"), "entity_id")
        .unionByName(linked.select("surface", "entity_id"))
        .unionByName(unlinked)
    )
    cc_edges = cached(
        surface_map.select(
            F.concat(F.lit("sf:"), F.col("surface")).alias("src"),
            F.col("entity_id").alias("dst"),
        )
    )
    out["cc_edges"] = cc_edges.count()
    with tr.span("link.cc"):
        _force(connected_components(cc_edges))

    with tr.span("graph.pipeline"):
        res = extract_triples(spark, pages, gaz, persist_triples=True)
        _force(res.triples)
    with tr.span("graph.materialize"):
        _force(res.nodes)
        _force(res.edges)
    res.release()
    for df in keep:
        df.unpersist()
    return out


def after_rounds(b, graph_dir: str) -> None:
    """Traced-only calls after the recrawl rounds: change detection alone
    (an update with nothing changed), the re-extraction footprint of the
    first round, and a forced read_graph."""
    from pyspark.sql import functions as F

    from codebased_spark.graph.manifest import incremental_update, read_graph, with_bucket

    spark, tr = b.spark, b.tracer
    snap = b.path("pages_1") if b.recrawl else b.noop_snapshot(10_000)
    with tr.span("graph.manifest.detect"):
        incremental_update(spark, spark.read.parquet(snap), b.gaz, graph_dir,
                           n_buckets=b.n_buckets, batch_size=b.n_buckets)
    first = tr.first("graph.manifest.refresh")
    buckets = first.get("buckets", [])
    reextracted = 0
    if buckets:
        reextracted = (
            with_bucket(spark.read.parquet(snap), b.n_buckets)
            .where(F.col("bucket").isin(buckets)).count()
        )
    first["pages_reextracted"] = reextracted
    with tr.span("graph.read_graph"):
        nodes, edges = read_graph(spark, graph_dir)
        _force(nodes)
        _force(edges)


def _route_key(route: str) -> str:
    return route.rsplit("/", 1)[1]


def per_layer(b, res: dict, wall_s: float, runs_dir: str) -> dict[str, tuple[float, str]]:
    """name -> (value, unit) for every per-layer metric."""
    tr, w = b.tracer, res["walk"]
    dur = lambda name: tr.first(name)["dur"]  # noqa: E731
    m: dict[str, tuple[float, str]] = {}
    m["extract.text.busy_s"] = (dur("extract.text"), "s")
    m["extract.text.docs_per_s"] = (w["pages"] / dur("extract.text"), "1/s")
    m["extract.links.busy_s"] = (dur("extract.links"), "s")
    m["extract.links.hrefs_out"] = (w["hrefs"], "count")
    m["extract.mentions.busy_s"] = (dur("extract.mentions"), "s")
    m["extract.mentions.mentions_out"] = (w["mentions"], "count")
    m["extract.mentions.rels_out"] = (w["rels"], "count")
    m["extract.mentions.cold_s"] = (dur("extract.mentions.cold"), "s")
    m["extract.mentions.fuzzy_share"] = (w["fuzzy_mentions"] / max(w["mentions"], 1), "ratio")
    m["link.alias.busy_s"] = (dur("link.alias"), "s")
    m["link.alias.keys"] = (w["alias_keys"], "count")

    events = [os.path.join(b.event_dir, f) for f in os.listdir(b.event_dir)]
    eng = engine_counters(events[0]) if events else {g: {} for g in ENGINE_LAYERS}
    shutil.rmtree(b.event_dir, ignore_errors=True)
    pairs = eng["link.fuzzy"].get("python_rows", 0)
    m["link.fuzzy.busy_s"] = (dur("link.fuzzy"), "s")
    m["link.fuzzy.surfaces_in"] = (w["fuzzy_surfaces"], "count")
    m["link.fuzzy.pairs_scored"] = (pairs, "count")
    m["link.fuzzy.linked"] = (w["linked"], "count")
    m["link.fuzzy.linked_per_pair"] = (w["linked"] / pairs if pairs else 0.0, "ratio")
    m["link.cc.busy_s"] = (dur("link.cc"), "s")
    m["link.cc.edges"] = (w["cc_edges"], "count")
    m["graph.pipeline.busy_s"] = (dur("graph.pipeline"), "s")
    m["graph.materialize.busy_s"] = (dur("graph.materialize"), "s")

    build = tr.first("graph.manifest.build")
    commits = build.get("commits", [])
    marks = [build["wall_start"], *commits]
    gaps = [y - x for x, y in zip(marks, marks[1:])]
    m["graph.manifest.build_s"] = (build["dur"], "s")
    m["graph.manifest.batch_s"] = (statistics.median(gaps) if gaps else build["dur"], "s")
    m["graph.manifest.overhead_ratio"] = (build["dur"] / dur("graph.pipeline"), "ratio")
    m["graph.manifest.bytes_written"] = (build["bytes"], "bytes")
    refresh = tr.first("graph.manifest.refresh")
    changed = sum(b.meta["changes"].values())
    m["graph.manifest.detect_s"] = (dur("graph.manifest.detect"), "s")
    m["graph.manifest.buckets_reprocessed"] = (len(refresh.get("buckets", [])), "count")
    m["graph.manifest.reextract_amplification"] = (
        refresh.get("pages_reextracted", 0) / max(changed, 1), "ratio",
    )
    m["graph.read_graph.busy_s"] = (dur("graph.read_graph"), "s")
    m["graph.views.register_s"] = (statistics.median(tr.durations("graph.views.register")), "s")
    by_route: dict[str, list[float]] = {}
    for q in res["served"]:
        by_route.setdefault(_route_key(q["route"]), []).append(q["ms"])
    for route in ("graph", "query", "pages_mentioning", "related"):
        xs = by_route.get(route, [])
        m[f"graph.views.{route}.p50_ms"] = (statistics.median(xs) if xs else 0.0, "ms")

    n_spans = {name: len(tr.durations(name)) for name in ENGINE_LAYERS}
    n_spans["graph.views"] = len(res["served"])
    for layer in ENGINE_LAYERS:
        st = eng.get(layer, {})
        per = max(n_spans.get(layer, 0), 1)
        for field, unit in ENGINE_FIELDS.items():
            v = st.get(field, 0)
            m[f"{layer}.{field}"] = (v if field == "task_skew" else v / per, unit)

    # overhead against the untraced runs of this workload in this checkout;
    # without any, the time of the traced-only phases stands in
    walls = []
    for f in os.listdir(runs_dir):
        if f.startswith(f"{b.args.workload}-s"):
            with open(os.path.join(runs_dir, f)) as fh:
                walls.append((f == f"{b.args.workload}-s{b.args.seed}.json", json.load(fh)["wall_s"]))
    same = [x for s, x in walls if s]
    if same:
        base = same[0]
    elif walls:
        base = statistics.median(x for _, x in walls)
    else:
        base = wall_s - w["walk_s"] - sum(tr.durations("graph.manifest.detect")) - sum(
            tr.durations("graph.read_graph")
        )
    m["trace.overhead_s"] = (wall_s - base, "s")
    return m
