"""Physical-plan contracts: the optimizations we rely on at 100 TB must
actually appear in the executed plans (broadcast joins, parquet filter
pushdown, column pruning, whole-stage codegen, no Python UDF in JVM-only
operators)."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_broadcast(spark):
    from codebased_spark.graph.queries import q_top_customers

    p = plan(q_top_customers(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_anti_join_filter_pushdown(spark):
    from codebased_spark.graph.queries import q_customers_no_orders

    df = q_customers_no_orders(spark, SF)
    p = plan(df)
    # the o_totalprice predicate must reach the orders parquet scan
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in p


def test_column_pruning_on_scan(spark):
    from codebased_spark.dedup.exact import exact_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(exact_dedup(docs))
    # only doc_id and text are read, not lang/source/n_chars
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_quality_scoring_stays_jvm(spark):
    from codebased_spark.textops.quality import doc_quality

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(doc_quality(docs))
    # higher-order functions run as interpreted JVM expressions (no
    # codegen), but must never fall back to Python evaluation
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_mention_scan_is_arrow_not_rowwise(spark):
    from codebased_spark.extract.mentions import with_mentions

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(with_mentions(docs.selectExpr("text"), ["spark"], "text"))
    assert "ArrowEvalPython" in p  # vectorized, not BatchEvalPython
    assert "BatchEvalPython" not in p


def test_minhash_signature_stays_jvm(spark):
    from codebased_spark.dedup.minhash import with_minhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(with_minhash(docs, k=8))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_sample_hash_is_map_only(spark):
    """tx_sample_hash must be a pure scan+filter: NO exchange, NO sort —
    that's the whole point of rate-based hash sampling at 10^12 rows."""
    from codebased_spark.dataops import tx_sample_hash

    p = plan(tx_sample_hash(spark, SF))
    assert "Exchange" not in p
    assert "Sort" not in p
    assert "BatchEvalPython" not in p


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark fingerprint set is the small side — the corpus-side
    contamination check must be a broadcast semi join, never a shuffle of
    the corpus against the benchmark."""
    from codebased_spark.dataops import tx_decontaminate

    p = plan(tx_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_join_scan_no_rowwise_python_and_no_cartesian(spark):
    """The big-gazetteer fallback: per-row work is Arrow-batched
    (FlatMapCoGroupsInPandas), never row-at-a-time Python, and the
    dictionary join is an equi-join — no cartesian/broadcast-nested-loop
    anywhere in the plan."""
    import pandas as pd

    from codebased_spark.extract.mentions_join import scan_mentions_join

    pages = spark.createDataFrame(
        pd.DataFrame({
            "url": ["u1", "u2"],
            "text": ["Acme Corporation ships widgets", "no entities at all"],
        })
    )
    alias = spark.createDataFrame(
        pd.DataFrame({"alias_key": ["Acme Corporation", "Globex"]})
    )
    p = plan(scan_mentions_join(pages, alias))
    assert "FlatMapCoGroupsInPandas" in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pipeline_outputs_read_no_vocabulary_plan(spark, corpus):
    """Below the broadcast guard the vocabulary is resolved once per
    extract_triples call, on the driver: the optimized plans of the
    corpus-side outputs contain no scan of the gazetteer (its columns
    surface_form/weight) and no connected-components join (its `comp`
    label), cached subplans included (an InMemoryRelation prints the plan
    it caches)."""
    import re

    from codebased_spark.graph.pipeline import extract_triples

    pages = spark.createDataFrame(corpus.pages)
    gaz = spark.createDataFrame(corpus.gazetteer)
    for kwargs in ({}, {"persist_triples": True}):
        res = extract_triples(spark, pages, gaz, **kwargs)
        try:
            for name in ("triples", "nodes", "edges"):
                p = getattr(res, name)._jdf.queryExecution().optimizedPlan().toString()
                assert not re.search(r"\b(surface_form|weight)#", p), name
                assert not re.search(r"\bcomp#", p), name
        finally:
            res.release()


def test_chunking_is_map_only(spark):
    from codebased_spark.textops.chunk import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(chunk_documents(docs))
    assert "Exchange" not in p  # no shuffle: scales with scan bandwidth
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # only the two needed columns are read
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_recrawl_collapse_partial_aggregates(spark):
    from codebased_spark.sources.recrawl import latest_captures
    from codebased_spark.synth.pages import pages_from_documents_spark

    pages = pages_from_documents_spark(spark.read.parquet(f"{SF}/documents.parquet"))
    p = plan(latest_captures(pages))
    # ONE url-keyed exchange, with a map-side partial aggregate before it
    # (the groupBy/max(struct) shape; a window form would sort-shuffle
    # every capture with no partial reduction)
    assert p.count("Exchange") == 1
    assert "partial_max" in p or "partial_first" in p or "SortAggregate" in p
    assert "Window" not in p


def test_filter_decisions_no_python(spark):
    from codebased_spark.textops.filters import filter_decisions

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(filter_decisions(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hll_sketch_is_one_exchange_with_partial_agg(spark):
    from codebased_spark.dataops import tx_hll_registers

    p = plan(tx_hll_registers(spark, SF))
    # partial + final HashAggregate around exactly one register exchange:
    # the sketch's whole point is that map-side combine bounds the shuffle
    assert p.count("HashAggregate") == 2
    assert p.count("Exchange") == 1
    assert "BatchEvalPython" not in p


def test_bloom_filter_is_codegen_not_join(spark):
    from codebased_spark.dataops import dd_bloom_blocklist

    p = plan(dd_bloom_blocklist(spark, SF))
    # the bitmap test is a literal-array Filter; only the exact verify
    # joins (broadcast), and nothing sort-merges
    assert "SortMergeJoin" not in p
    assert "shiftrightunsigned" in p
    assert "BatchEvalPython" not in p


def test_nb_classifier_stays_jvm(spark):
    from codebased_spark.dataops import tx_nb_classifier

    p = plan(tx_nb_classifier(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p  # model joins broadcast at this scale


def test_bm25_stays_jvm_with_broadcast_stats(spark):
    from codebased_spark.dataops import tx_bm25, tx_hard_negatives

    for fn in (tx_bm25, tx_hard_negatives):
        p = plan(fn(spark, SF))
        # pure built-in expressions: never falls back to Python eval
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        # df/query/totals sides arrive broadcast, never shuffled
        assert "BroadcastExchange" in p


def test_modularity_broadcasts_global_edge_count(spark):
    from codebased_spark.dataops import g_modularity, g_walk_pairs

    p = plan(g_modularity(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastExchange" in p  # the 1-row m_edges aggregate
    p2 = plan(g_walk_pairs(spark, SF))
    assert "BatchEvalPython" not in p2 and "ArrowEvalPython" not in p2


def test_apportionment_is_jvm_and_host_sized(spark):
    from codebased_spark.dataops import kg_crawl_budget

    p = plan(kg_crawl_budget(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the leftover/total aggregates are broadcast 1-row sides
    assert "BroadcastExchange" in p


def test_event_funnel_single_shuffle_no_python(spark):
    from codebased_spark.dataops import q_event_funnel

    p = plan(q_event_funnel(spark, SF))
    # higher-order array filters must stay JVM-side
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # one user-key exchange for the collect_list agg, one single-partition
    # exchange for the global roll-up — no third shuffle
    assert p.count("Exchange") <= 3
    # the event_type IN filter reaches the parquet scan
    assert "PushedFilters: [In(event_type" in p


def test_phrase_search_prunes_to_phrase_terms(spark):
    from codebased_spark.textops.phrase import phrase_matches

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(phrase_matches(docs, ["value", "table"]))
    # tokenization is map-only JVM work; postings for only the phrase's
    # terms are joined — never a cartesian, never Python
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # only doc_id and text are scanned
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_zorder_is_map_only_codegen(spark):
    from codebased_spark.dataops import kg_zorder_layout

    p = plan(kg_zorder_layout(spark, SF))
    assert "Exchange" not in p  # pure projection: no shuffle at any scale
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "*(1) Project" in p  # whole-stage codegen star on the projection


def test_phash_shuffle_carries_hash_not_pixels(spark):
    from codebased_spark.dataops import mm_phash_dups

    p = plan(mm_phash_dups(spark, SF))
    # the window shuffle must move (doc_id, phash) rows, never payload
    import re

    ex = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex and all("payload" not in ln for ln in ex)


def test_skyline_frontier_broadcast_no_corpus_window(spark):
    from codebased_spark.dataops import q_skyline

    p = plan(q_skyline(spark, SF))
    # the frontier join-back must be broadcast (frontier is tiny)
    assert "BroadcastHashJoin" in p
    # the suffix-max window runs over the distinct-value table, which is
    # produced by an aggregation — never directly over per-user rows
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_zone_maps_prefix_scan_broadcast(spark):
    from codebased_spark.dataops import kg_zone_maps

    p = plan(kg_zone_maps(spark, SF))
    # histogram start-ranks broadcast back to the corpus side
    assert "BroadcastHashJoin" in p
    # per-length window is keyed (hashpartitioning on n_chars), not a
    # single-partition global sort over the corpus
    assert "Exchange hashpartitioning(n_chars" in p
    assert "BatchEvalPython" not in p


def test_vacuum_single_url_exchange(spark):
    from codebased_spark.dataops import kg_vacuum_plan

    p = plan(kg_vacuum_plan(spark, SF))
    # the url-keyed exchange feeds both the window and the aggregate:
    # exactly one hashpartitioning exchange on url, nothing else
    ex = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(ex) == 1 and "url" in ex[0]
    # shuffle rows carry (url, doc_id, n_bytes) — never the text column
    assert all("text" not in ln for ln in ex)


def test_split_leakage_shuffles_hashes_not_text(spark):
    from codebased_spark.dataops import tx_split_leakage

    p = plan(tx_split_leakage(spark, SF))
    ex = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex and all("text" not in ln for ln in ex)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_qa_pairs_map_only_jvm(spark):
    from codebased_spark.dataops import tx_qa_pairs

    p = plan(tx_qa_pairs(spark, SF))
    assert "Exchange" not in p  # extraction is pure per-row projection
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_word_cooc_single_count_shuffle(spark):
    from codebased_spark.dataops import tx_word_cooc

    p = plan(tx_word_cooc(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # pair building is map-side zip_with: the only exchange is the
    # (w1, w2, dist) count agg with a map-side partial
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_count" in p


def test_lm_perplexity_no_string_shuffle(spark):
    from codebased_spark.dataops import tx_lm_perplexity

    p = plan(tx_lm_perplexity(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # every exchange is keyed by a 64-bit hash or doc_id — bigram/token
    # STRINGS never cross the wire
    ex = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex and all(" bg" not in ln and " w1" not in ln for ln in ex)


def test_charset_cascade_map_only(spark):
    from codebased_spark.dataops import kg_charset_cascade

    p = plan(kg_charset_cascade(spark, SF))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "*(1) Project" in p  # codegen projection


def test_exif_stage_is_arrow_batched(spark):
    from codebased_spark.dataops import mm_exif

    p = plan(mm_exif(spark, SF))
    # mapInPandas stages, never row-at-a-time Python
    assert "BatchEvalPython" not in p
    assert "MapInPandas" in p


def test_readability_map_only(spark):
    from codebased_spark.dataops import tx_readability

    p = plan(tx_readability(spark, SF))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_tech_census_detection_before_shuffle(spark):
    from codebased_spark.dataops import kg_tech_fingerprint

    p = plan(kg_tech_fingerprint(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # one (host, tech) count exchange with a map-side partial; html
    # never crosses the wire
    ex = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(ex) == 1 and "html" not in ex[0]
    assert "partial_count" in p


def test_fastrp_hops_are_keyed_joins(spark):
    from codebased_spark.dataops import g_fastrp

    p = plan(g_fastrp(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # hop aggregates keep map-side partials
    assert "partial_sum" in p


def test_heading_outline_window_is_doc_keyed(spark):
    from codebased_spark.dataops import kg_heading_outline

    p = plan(kg_heading_outline(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the parent-resolution window partitions by doc, never globally
    assert "Window" in p and "hashpartitioning(doc_id" in p


def test_fuzzy_matching_joins_vocab_not_records(spark):
    from codebased_spark.dataops import kg_fuzzy_name_matches

    p = plan(kg_fuzzy_name_matches(spark, SF))
    # candidates come from the distinct-surface vocabulary blocked join —
    # never a record-x-record cartesian
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_soft404_and_page_type_map_side_census(spark):
    from codebased_spark.dataops import kg_page_type, kg_soft404

    for q in (kg_soft404, kg_page_type):
        p = plan(q(spark, SF))
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert "partial_count" in p or "partial_sum" in p  # map-side combine


def test_hub_ablation_topk_no_global_window(spark):
    from codebased_spark.dataops import _doc_edges
    from codebased_spark.graph.ablation import top_hubs
    from pyspark.sql import functions as F

    e = _doc_edges(spark, SF).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    p = plan(top_hubs(sym, 5))
    # the k-hub pick must be TakeOrderedAndProject (per-partition heap +
    # driver merge of k rows), never a row_number window whose Exchange
    # funnels the whole node vocabulary through one partition's sort
    assert "TakeOrderedAndProject" in p
    assert "row_number" not in p
    assert "Exchange SinglePartition" not in p


def _unaggregated_global_windows(df):
    """Walk the optimized logical plan; return (stringified) Window nodes
    that have an EMPTY partitionSpec (global ordering) and at least one
    path to a leaf relation that does not pass through an Aggregate —
    i.e. a global sort over raw rows instead of over a histogram."""
    def children(node):
        cs = node.children()
        return [cs.apply(i) for i in range(cs.size())]

    def agg_on_every_path(node):
        if node.nodeName() == "Aggregate":
            return True
        cs = children(node)
        if not cs:
            return False
        return all(agg_on_every_path(c) for c in cs)

    bad = []

    def walk(node):
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            if not all(agg_on_every_path(c) for c in children(node)):
                bad.append(node.toString().splitlines()[0][:160])
        for c in children(node):
            walk(c)

    walk(df._jdf.queryExecution().optimizedPlan())
    return bad


@pytest.mark.parametrize("qname", [
    # the domain-histogram window idiom (distinct-value histogram -> tiny
    # window -> broadcast back): the window input must be the histogram
    # relation, never the corpus — a regression here is a single-partition
    # sort over every row at 10^12 docs
    "q_skyline", "kg_zone_maps", "tx_length_quantiles", "q_late_events",
    "kg_host_skew", "tx_vocab_growth", "g_component_size_histogram",
    "kg_frontier_growth", "tx_term_zipf",
])
def test_global_windows_rank_histograms_not_corpus(spark, qname):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()[qname](spark, SF)
    assert _unaggregated_global_windows(df) == []
