"""End-to-end KG construction: pages → triples → canonical nodes/edges.

Mirror of the reference's `codebased update` lifecycle (SURVEY.md §3.1),
restated as Spark stages:

  read pages → [route by lang, S4/S5 analog]
      → Arrow-UDF text extraction (byte-identical invariant)
      → JVM-side href extraction → LINKS_TO triples
      → Arrow-UDF mention scan + gap-pattern relations (one pass)
      → exact link: broadcast join vs alias table (J1/J2)
      → fuzzy link: blocking join + TF-IDF char-ngram scoring (J4 upgrade)
      → external stubs for unlinked candidates (J7)
      → canonical ids = the gazetteer's entity ids; only entities that
        share a surface merge, under the minimum entity id (J8)
      → nodes/edges with deterministic sha2 uids (E11), deduped (A8)

The vocabulary side (alias table, fuzzy links, stubs, canonical ids) is
resolved once per call. Below `max_broadcast_surfaces` it is held on the
driver: one probe job fetches the alias table, one job collects the fuzzy
and stub rows when fuzzy candidates exist (bounded by the same guard),
and the canonical map is a driver-built relation that every corpus-side
consumer broadcasts.

Shuffle budget (the thing that matters at 100 TB): one shuffle for the
mention explode→join (broadcast, so none), one for the distinct on fuzzy
surfaces (tiny), and one dedup per output table. The corpus itself is never
shuffled: every per-document stage is map-only.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from codebased_spark.extract.html_text import href_targets, with_text
from codebased_spark.extract.mentions import with_mentions
from codebased_spark.extract.metadata import page_meta_col
from codebased_spark.extract.urlops import base_href_col, resolve_url_col
from codebased_spark.link.alias import build_alias_table, link_fuzzy_mentions
from codebased_spark.link.cc import connected_components, min_labels

MENTION_LANGS = ("en",)  # gazetteer is English; routing analog of file_types.py:47-74


@dataclass
class GraphResult:
    triples: DataFrame  # (url, subj, pred, obj)
    nodes: DataFrame  # (id, uid, name, type, meta)
    edges: DataFrame  # (src, dst, rel_type, meta)
    mentions: DataFrame  # (url, surface, mstart, mend, exact, entity_id)
    # _materialize_graph's inputs, for callers that split the graph by an
    # owner column of their own (the manifest's buckets)
    pages: DataFrame  # the pages that became Page nodes
    canon: DataFrame  # (surface, entity_id, canonical_id, entity_type, link_score)
    # internal persisted fan-out points: the flat scan, the triples with
    # persist_triples=True, and the canonical map only above the broadcast
    # guard (below it the map is driver-built and needs no cache). SQL
    # cache entries live in the CacheManager until explicitly unpersisted,
    # so loops that run the pipeline repeatedly (benchmark warmups,
    # services, incremental batches) must release finished results or the
    # entries accumulate for the life of the session
    cached: tuple = ()

    def release(self) -> None:
        """Unpersist the pipeline's internal caches. Call when this
        result's DataFrames are no longer needed; actions on them after
        release still work (lineage recomputes) but pay the full scan."""
        for df in self.cached:
            try:
                df.unpersist()
            except Exception:
                pass


def extract_triples(
    spark: SparkSession,
    pages: DataFrame,
    gazetteer: DataFrame,
    *,
    max_html_bytes: int | None = 10 * 1024 * 1024,
    external_blocklist: list[str] | None = None,
    max_broadcast_surfaces: int = 2_000_000,
    persist_triples: bool = False,
    context_features: bool = False,
) -> GraphResult:
    """Run extraction + linking + canonicalization over pages
    `(url, html, lang, ...)`, one row per page.

    Page identity is settled BEFORE this call, by the caller. For a
    recrawled corpus, run `sources.recrawl.latest_captures(pages)
    .drop("n_captures")` (latest capture wins per url); for declared
    url variants, then `sources.canonical.collapse_canonical(pages)
    .drop("src_url", "n_variants")` (variants collapse onto their
    <link rel="canonical"> target). jobs/curate_corpus.py runs both,
    jobs/run_pipeline.py and jobs/incremental_update.py run
    latest_captures only, and streaming/ingest.py runs neither.

    The flat extraction output (consumed by the mention-, relation- and
    node-building branches) is always cached at MEMORY_AND_DISK; without
    this every downstream branch re-runs the scan UDFs over the corpus
    (measured 2.5x end-to-end at 20k docs). MEMORY_AND_DISK spills rather
    than OOMs on big partitions. Callers must `release()` the result once
    its DataFrames are consumed, or the cache entries live for the rest
    of the session.

    Canonical ids are the gazetteer's entity ids (and `ext:` stub ids).
    Every alias key keys one entity and fuzzy linking is top-1, so two
    entities merge only where one surface maps to both; a merged group
    takes its minimum entity id.

    `persist_triples=True` also caches the triples, for callers that
    materialize the graph from them (see the note at the persist).

    `context_features=True` adds the corpus-context rank feature to fuzzy
    candidate scoring (link/context.py::context_link_bonus): surface- and
    entity-level context profiles re-rank near-tied candidates while the
    acceptance threshold stays on the name score. Off by default — it
    costs one url-keyed text re-join plus two vocabulary-sized aggs.

    `max_broadcast_surfaces` bounds the rows the vocabulary side holds on
    the driver: the alias table (the automaton's executor-side broadcast
    and the base of the canonical map) and then the canonical map's fuzzy
    rows, one per distinct unlinked surface, which grow with the corpus.
    Above the guard on the alias table, the pipeline switches to the
    distributed dictionary JOIN scan (extract/mentions_join.py) — same
    mention/relation semantics on tokenized text, dictionary never leaves
    the cluster — instead of OOMing the driver silently, and keeps the
    vocabulary side distributed too (a persisted canonical map, merges by
    connected_components). When only the fuzzy rows would overflow it, the
    automaton scan stays and the canonical map alone is built distributed.
    The probe is one fused limit+collect job. Measured at the default
    guard (1 999 948 alias rows of a synthetic gazetteer, local[2], 4 GB
    driver heap): the probe took 36 s including the alias table build,
    turning its rows into the alias and canonical relations another 13 s,
    and the driver's Python process grew by 1.2 GB RSS.
    """
    alias_table = build_alias_table(gazetteer)
    # ONE probe job sizes AND fetches the alias table (cc.py discipline:
    # a count-then-collect pair would pay two fixed job overheads). Below
    # the guard the collected rows become the one alias relation that the
    # automaton, the exact map and the fuzzy scorer share, so the
    # gazetteer is read once per call.
    probe = alias_table.limit(max_broadcast_surfaces + 1).collect()
    use_join_scan = len(probe) > max_broadcast_surfaces
    if not use_join_scan:
        # rows that came out of Spark need no per-row schema check (it
        # costs seconds per million rows on the driver)
        alias_table = spark.createDataFrame(probe, alias_table.schema, verifySchema=False)
    # positional reads: a Row's named access is a Python-level lookup
    surfaces = [] if use_join_scan else [r[0] for r in probe]  # alias_key

    # size guard before any UDF work (reference base.py:146-149 max_file_size
    # skip): pathological documents are dropped map-side, never decoded
    if max_html_bytes is not None:
        pages = pages.where(F.length("html") <= max_html_bytes)

    pages = with_text(pages, "html", "text").withColumn(
        "links", href_targets(F.col("html"))
    )

    # LINKS_TO — all languages, pure JVM. The distinct runs on the narrow
    # (url, href) pair; subj ("page:"+url) and the constant pred are
    # projected AFTER the shuffle — at 10^12 rows the dedup shuffle is the
    # dominant byte-mover and must not carry derivable columns.
    #
    # hrefs resolve to absolute urls per RFC 3986 against the page's
    # <base href> (or the page url) BEFORE the dedup, so relative aliases
    # of the same target ("a/b" vs "./a/b") collapse to one edge — on real
    # crawl HTML most hrefs are relative and an unresolved link graph
    # silently drops most of its edges. Absolute hrefs pass through
    # verbatim (fixture oracles unchanged).
    base_tag = base_href_col(F.col("html"))
    link_base = F.when(base_tag == "", F.col("url")).otherwise(
        resolve_url_col(F.col("url"), base_tag)
    )
    exploded = pages.select(
        F.col("url"), link_base.alias("_b"), F.explode("links").alias("_h")
    ).select(
        "url", resolve_url_col(F.col("_b"), F.col("_h")).alias("href")
    ).where(F.col("href").rlike("(?i)^https?://"))  # no mailto:/js: edges
    link_triples = (
        exploded
        .distinct()
        .select(
            F.col("url"),
            F.concat(F.lit("page:"), F.col("url")).alias("subj"),
            F.lit("LINKS_TO").alias("pred"),
            F.concat(F.lit("page:"), F.col("href")).alias("obj"),
        )
    )

    mention_pages = pages.where(F.col("lang").isin(*MENTION_LANGS))
    if use_join_scan:
        # big-gazetteer fallback: distributed dictionary join, same flat
        # row shape (mentions_join runs the same finish_scan tail)
        from codebased_spark.extract.mentions_join import scan_mentions_join

        flat = scan_mentions_join(mention_pages, alias_table, text_col="text")
    else:
        scanned = with_mentions(mention_pages, surfaces, "text").select(
            "url", "extraction"
        )

        # Flatten BOTH extraction arrays in one explode and persist the
        # flat rows. Caching the nested array<struct> column instead is a
        # trap: the columnar cache cannot codegen-decode nested arrays, so
        # every downstream branch re-pays an object-materialization decode
        # that dominates the whole pipeline (measured ~40s per pass at 1M
        # docs vs ~4s for flat rows) and does not scale with cores.
        null_s = F.lit(None).cast("string")
        m_structs = F.transform(
            "extraction.mentions",
            lambda m: F.struct(
                F.lit("m").alias("kind"),
                m["surface"].alias("surface"),
                m["mstart"].alias("mstart"),
                m["mend"].alias("mend"),
                m["exact"].alias("exact"),
                null_s.alias("subj"),
                null_s.alias("pred"),
                null_s.alias("obj"),
            ),
        )
        r_structs = F.transform(
            "extraction.rels",
            lambda r: F.struct(
                F.lit("r").alias("kind"),
                null_s.alias("surface"),
                F.lit(None).cast("int").alias("mstart"),
                F.lit(None).cast("int").alias("mend"),
                F.lit(None).cast("boolean").alias("exact"),
                r["subj"].alias("subj"),
                r["pred"].alias("pred"),
                r["obj"].alias("obj"),
            ),
        )
        flat = scanned.select(
            "url", F.explode(F.concat(m_structs, r_structs)).alias("x")
        ).select("url", "x.*")
    flat = flat.persist(StorageLevel.MEMORY_AND_DISK)

    mentions = flat.where(F.col("kind") == "m").select(
        "url", "surface", "mstart", "mend", "exact"
    )
    rels = flat.where(F.col("kind") == "r").select("url", "subj", "pred", "obj")

    # exact surface → entity (broadcast: the alias table is the small dim).
    # link_score = alias specificity: a canonical-surface match is full
    # confidence, a generated-variant (acronym/stripped/url-form) match is
    # scaled down — which also makes the canonical surface win the entity
    # name selection in _materialize_graph.
    exact_map = alias_table.select(
        F.col("alias_key").alias("surface"),
        "entity_id",
        "entity_type",
        F.col("specificity").cast("double").alias("link_score"),
    )
    fuzzy_surfaces = mentions.where(~F.col("exact")).select("surface").distinct()
    # short-circuit: clean corpora have no fuzzy candidates, and the TF-IDF
    # scoring stage costs several fixed jobs. fuzzy_surfaces is vocabulary-
    # sized (distinct surfaces, not mentions), so isEmpty() is cheap and
    # doubles as the materialization point for the persisted scan.
    fuzzy_ext = None
    if not fuzzy_surfaces.isEmpty():
        # opt-in context feature (link/context.py): corpus-wide context
        # profiles re-rank near-tied candidates; the threshold decision
        # stays name-score-gated, so default-off P/R is unaffected
        ctx_bonus = None
        if context_features:
            from codebased_spark.link.context import context_link_bonus

            ctx_bonus = context_link_bonus(mention_pages, mentions, exact_map)
        fuzzy_map = link_fuzzy_mentions(
            spark, fuzzy_surfaces, alias_table, context_bonus=ctx_bonus,
            alias_keys=None if use_join_scan else surfaces,
        )
        # every fuzzy surface gets its top-1 link or, unlinked, an external
        # stub (J7: no dangling refs) — except known-external surfaces on
        # the blocklist, which are dropped entirely. The reference skips
        # @angular/rxjs/lodash prefixes before probing
        # (extractor.py:393-426); the web analog is boilerplate chrome
        # names (social widgets, cookie-banner vendors) that would
        # otherwise pollute the entity table with one stub per spelling
        # (J5).
        fuzzy_ext = fuzzy_surfaces.join(fuzzy_map, "surface", "left")
        if external_blocklist:
            fuzzy_ext = fuzzy_ext.where(
                F.col("entity_id").isNotNull()
                | ~F.lower("surface").isin(*sorted({b.lower() for b in external_blocklist}))
            )
        fuzzy_ext = fuzzy_ext.select(
            "surface",
            F.coalesce(
                "entity_id", F.concat(F.lit("ext:"), F.sha2(F.col("surface"), 256))
            ).alias("entity_id"),
            F.coalesce("entity_type", F.lit("External")).alias("entity_type"),
            F.coalesce("link_score", F.lit(0.0)).alias("link_score"),
        )

    # ONE job runs the fuzzy subtree (its pandas UDF included); every
    # consumer below then broadcasts the driver-built map. The fuzzy rows
    # are one per distinct unlinked surface, so their number grows with
    # the corpus: they count against the same guard as the alias rows,
    # and a map that would outgrow it stays distributed.
    fuzzy_rows = []
    canon_on_driver = not use_join_scan
    if fuzzy_ext is not None and canon_on_driver:
        room = max_broadcast_surfaces - len(probe)
        fuzzy_rows = fuzzy_ext.limit(room + 1).collect()
        canon_on_driver = len(fuzzy_rows) <= room
    if not canon_on_driver:
        canon = _canon_distributed(exact_map, fuzzy_ext)
        cached = (flat, canon)
    else:
        def rows():  # (surface, entity_id, entity_type, link_score)
            for key, entity_id, entity_type, spec in probe:  # alias table order
                yield key, entity_id, entity_type, None if spec is None else float(spec)
            yield from fuzzy_rows

        label = _shared_surface_labels(rows())
        canon = spark.createDataFrame(
            [(s, e, label.get(e, e), t, sc) for s, e, t, sc in rows()], _CANON_SCHEMA,
            verifySchema=False,
        )
        cached = (flat,)
    canon_b = F.broadcast(canon)

    linked = mentions.join(canon_b, "surface", "left").select(
        "url", "surface", "mstart", "mend", "exact",
        F.col("canonical_id").alias("entity_id"), "entity_type", "link_score",
    )

    mention_triples = (
        linked.where(F.col("entity_id").isNotNull())
        .select("url", F.col("entity_id").alias("obj"))
        .distinct()  # narrow (url, obj) shuffle; subj/pred derived below
        .select(
            "url",
            F.concat(F.lit("page:"), F.col("url")).alias("subj"),
            F.lit("MENTIONS").alias("pred"),
            "obj",
        )
    )

    rel_triples = (
        rels.join(
            canon_b.select(F.col("surface").alias("subj"), F.col("canonical_id").alias("subj_id")),
            "subj",
        )
        .join(
            canon_b.select(F.col("surface").alias("obj"), F.col("canonical_id").alias("obj_id")),
            "obj",
        )
        .select(
            "url",
            F.col("subj_id").alias("subj"),
            F.col("pred"),
            F.col("obj_id").alias("obj"),
        )
        .distinct()
    )

    triples = mention_triples.unionByName(rel_triples).unionByName(link_triples)
    if persist_triples:
        # third fan-out point for GRAPH-MATERIALIZING callers (the
        # manifest runner, stats): triples feed the caller's action AND
        # the node/edge build (used_ids, stubs, edge dedup), so caching
        # them saves re-running the three dedup shuffles per consumer.
        # OFF by default: a triples-only consumer (the headline
        # throughput path) would pay the corpus-sized cache write for
        # nothing (measured ~25% of end-to-end at 200k docs), and at
        # 100 TB a corpus-sized cache is a spill risk — flat stays cached
        # either way, so an unpersisted rebuild re-pays only the narrow
        # dedup shuffles, never the scan UDFs.
        triples = triples.persist(StorageLevel.MEMORY_AND_DISK)
        cached += (triples,)

    # one owner for the whole batch: the global graph
    nodes, edges = (
        df.drop("owner")
        for df in _materialize_graph(pages, canon, triples, F.lit(0))
    )
    return GraphResult(
        triples=triples, nodes=nodes, edges=edges, mentions=linked,
        pages=pages, canon=canon, cached=cached,
    )


_CANON_SCHEMA = (
    "surface string, entity_id string, canonical_id string, "
    "entity_type string, link_score double"
)


def _shared_surface_labels(rows) -> dict:
    """entity id → merged canonical id, for the entities that share a
    surface in `rows` of (surface, entity_id, ...); the minimum entity id
    of each merged group labels it. Entities absent from the dict keep
    their own id."""
    first: dict = {}  # surface -> the first entity id seen for it
    pairs = []
    for surface, entity_id, *_ in rows:
        seen = first.setdefault(surface, entity_id)
        if seen != entity_id:
            pairs.append((seen, entity_id))
    return min_labels(pairs)


def _canon_distributed(exact_map: DataFrame, fuzzy_ext: DataFrame | None) -> DataFrame:
    """The canonical map above the broadcast guard, kept off the driver:
    the same id rule as _shared_surface_labels, with the merges solved by
    connected_components over entity–entity edges only. Persisted, since
    every corpus-side consumer reads it."""
    surface_map = exact_map if fuzzy_ext is None else exact_map.unionByName(fuzzy_ext)
    shared = (
        surface_map.groupBy("surface")
        .agg(F.collect_set("entity_id").alias("ids"))
        .where(F.size("ids") > 1)
    )
    comps = connected_components(
        shared.select(F.explode("ids").alias("src"), F.array_min("ids").alias("dst"))
    )
    return (
        surface_map.join(
            comps.withColumnRenamed("id", "entity_id"), "entity_id", "left"
        )
        .withColumn("canonical_id", F.coalesce("comp", "entity_id"))
        .select("surface", "entity_id", "canonical_id", "entity_type", "link_score")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _materialize_graph(
    pages: DataFrame, canon: DataFrame, triples: DataFrame, owner: Column
) -> tuple[DataFrame, DataFrame]:
    """Typed node/edge tables with deterministic content-hash uids, each
    row tagged with the `owner` of the url that produced it.

    `owner` is a Column over `url` naming the unit of output a row belongs
    to (a constant for one global graph, the bucket for the manifest). Each
    owner gets its own Page rows, one row per entity its triples reference,
    an ExternalPage stub per LINKS_TO target that is not one of its own
    pages, and one edge per (src, dst, rel_type) it emits, so replacing an
    owner's rows never touches what another owner stated.

    uid = sha2(type:name, 256) — the determinism that makes task retries and
    re-runs idempotent (reference E11, python.py:445-462). Dedup is
    first-seen-indifferent because ids are content hashes (A8).
    """
    # Page nodes carry the structured markup metadata map (E15/E4/E6:
    # title + og:* — the reference's per-entity docstring/flags analog),
    # extracted JVM-side.
    page_nodes = pages.select(
        owner.alias("owner"),
        F.concat(F.lit("page:"), F.col("url")).alias("id"),
        F.col("url").alias("name"),
        F.lit("Page").alias("type"),
        F.col("url").alias("source_url"),
        page_meta_col(F.col("html")).alias("meta"),
    )
    triples = triples.withColumn("owner", owner)
    # only entities actually referenced by a triple become nodes (the
    # reference materializes extracted entities, not the whole gazetteer)
    used_ids = (
        triples.where(F.col("pred") != "LINKS_TO")
        .select("owner", F.col("obj").alias("canonical_id"))
        .union(
            triples.where(~F.col("pred").isin("LINKS_TO", "MENTIONS")).select(
                "owner", F.col("subj").alias("canonical_id")
            )
        )
        .distinct()
    )
    # one max_by of a struct keeps name/type from the SAME alias row, and
    # the (link_score, surface) sort key makes ties among equal-score
    # aliases deterministic (an entity with several exact surfaces must
    # not flip names between runs)
    # entity nodes carry per-entity metadata (E6 rich flags analog):
    # alias-count and the best link confidence that produced the name.
    # canon is vocabulary-sized, and the pipeline broadcasts it everywhere
    entity_nodes = (
        F.broadcast(canon).join(used_ids, "canonical_id")
        .groupBy("owner", F.col("canonical_id").alias("id"))
        .agg(
            F.max_by(
                F.struct(F.col("surface"), F.col("entity_type")),
                F.struct(F.col("link_score"), F.col("surface")),
            ).alias("best"),
            F.countDistinct("surface").alias("_n_aliases"),
            F.max("link_score").alias("_best_score"),
        )
        .select(
            "owner",
            "id",
            F.col("best.surface").alias("name"),
            F.col("best.entity_type").alias("type"),
            F.lit(None).cast("string").alias("source_url"),
            F.create_map(
                F.lit("n_aliases"), F.col("_n_aliases").cast("string"),
                F.lit("link_score"), F.col("_best_score").cast("string"),
            ).alias("meta"),
        )
    )
    # LINKS_TO targets outside the owner's pages → external Page stubs (J7)
    stub_pages = (
        triples.where(F.col("pred") == "LINKS_TO")
        .select("owner", F.col("obj").alias("id"))
        .distinct()
        .join(page_nodes.select("owner", "id"), ["owner", "id"], "left_anti")
        .select(
            "owner",
            "id",
            F.regexp_replace("id", "^page:", "").alias("name"),
            F.lit("ExternalPage").alias("type"),
            F.lit(None).cast("string").alias("source_url"),
            F.lit(None).cast("map<string,string>").alias("meta"),
        )
    )
    nodes = (
        page_nodes.unionByName(entity_nodes).unionByName(stub_pages)
        .dropDuplicates(["owner", "id"])
        .withColumn("uid", F.sha2(F.concat_ws(":", "type", "name"), 256))
        .select("id", "uid", "name", "type", "source_url", "meta", "owner")
    )
    # deterministic representative: min(url) per owner and edge key, not
    # whichever row dropDuplicates happens to see first (task order varies
    # between runs); the meta map is built AFTER the aggregate so the
    # shuffle carries one url string, not a map
    edges = (
        triples.groupBy(
            F.col("subj").alias("src"),
            F.col("obj").alias("dst"),
            F.col("pred").alias("rel_type"),
            "owner",
        )
        .agg(F.min("url").alias("_url"))
        .select(
            "src", "dst", "rel_type",
            F.create_map(F.lit("source_url"), F.col("_url")).alias("meta"),
            "owner",
        )
    )
    return nodes, edges
