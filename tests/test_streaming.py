"""Structured Streaming: micro-batch execution must agree with batch SQL."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from codebased_spark.streaming.ingest import (
    stream_event_window_counts,
    stream_pages_to_graph,
)
from codebased_spark.util import round_stable

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def test_windowed_counts_match_batch(spark, tmp_path):
    src = str(tmp_path / "events")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)

    sdf = stream_event_window_counts(
        spark, src, EVENTS_SCHEMA, window="1 hour", watermark="2 hours",
        time_col="ts",
    )
    q = (
        sdf.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(sink)
    expected = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_stable(F.sum("value")).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "n_events", "sum_value",
        )
    )
    g = sorted(map(tuple, got.collect()))
    e = sorted(map(tuple, expected.collect()))
    # availableNow finalizes every window up to the watermark; the last
    # open window(s) may be withheld — got must be a prefix-subset
    assert len(g) > 0
    assert set(g) <= set(e)
    # every fully-finalized window matches exactly
    max_start = max(r[0] for r in g)
    assert set(r for r in e if r[0] <= max_start) >= set(g)


def test_stream_pages_to_graph_matches_batch(spark, corpus, tmp_path):
    from codebased_spark.graph.pipeline import extract_triples

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt2")
    pages = spark.createDataFrame(corpus.pages)
    gaz = spark.createDataFrame(corpus.gazetteer)
    # two file drops -> at least two micro-batch-able inputs
    pages.where(F.col("url") < "https://m").write.mode("append").parquet(pages_dir)
    pages.where(F.col("url") >= "https://m").write.mode("append").parquet(pages_dir)

    q = stream_pages_to_graph(
        spark, pages_dir, PAGES_SCHEMA, gaz, out, ckpt, available_now=True
    )
    q.awaitTermination(300)

    streamed = set(
        map(tuple, spark.read.parquet(out).select("url", "subj", "pred", "obj").distinct().collect())
    )
    batch = set(
        map(tuple, extract_triples(spark, pages, gaz).triples.collect())
    )
    # streaming processed the same corpus split across micro-batches; the
    # only legitimate difference is linking decisions that need corpus-
    # global context (fuzzy candidates seen in another batch) — on this
    # fixture both sides resolve identically
    assert streamed == batch


def test_stream_pages_to_graph_releases_batch_caches(spark, tmp_path):
    """Each micro-batch's pipeline caches are released after its write: a
    long-running query must not hold one (flat, canon) pair per batch."""
    from codebased_spark.synth.pages import gen_pages

    corpus = gen_pages(n_docs=16, n_entities=12, seed=23)
    pages_dir = str(tmp_path / "pages")
    pages = spark.createDataFrame(corpus.pages)
    pages.where(F.col("url") < "https://m").write.mode("append").parquet(pages_dir)
    pages.where(F.col("url") >= "https://m").write.mode("append").parquet(pages_dir)

    def persistent_rdd_ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    # compare ids, not counts: the context cleaner may unpersist RDDs that
    # earlier tests left behind while this query runs
    before = persistent_rdd_ids()

    q = stream_pages_to_graph(
        spark, pages_dir, PAGES_SCHEMA, spark.createDataFrame(corpus.gazetteer),
        str(tmp_path / "triples"), str(tmp_path / "ckpt"), available_now=True,
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    assert spark.read.parquet(str(tmp_path / "triples")).count() > 0
    assert persistent_rdd_ids() <= before


def test_stream_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming content-hash dedup (bounded state via watermark) emits
    exactly one page per distinct content, matching batch dedup on a
    corpus whose duplicates arrive within the watermark."""
    from codebased_spark.streaming.dedup import stream_exact_dedup
    from codebased_spark.synth.pages import pages_from_documents_spark

    src = str(tmp_path / "pages")
    sink = str(tmp_path / "dsink")
    ckpt = str(tmp_path / "dckpt")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    pages = pages_from_documents_spark(docs)
    # plant duplicates: 50 pages re-arrive 10 minutes later under new urls
    dups = (
        pages.limit(50)
        .withColumn("url", F.concat(F.lit("dup-"), F.col("url")))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    pages.unionByName(dups).write.parquet(src)

    sdf = stream_exact_dedup(spark, src, PAGES_SCHEMA, watermark="1 hour")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(sink)
    batch_distinct = (
        spark.read.parquet(src)
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
        .count()
    )
    assert got.count() == batch_distinct
    # one row per content hash, and none of them is a late duplicate url
    assert got.select("content_sha256").distinct().count() == batch_distinct
    assert got.where(F.col("url").startswith("dup-")).count() == 0


def test_stream_feed_discovery_dedups_urls(spark, tmp_path):
    """Streaming feed discovery: entries parsed with the batch column
    expressions, urls deduped within the watermark — a url republished
    by a second feed enters the frontier once."""
    import datetime

    from codebased_spark.streaming.discovery import stream_feed_discovery

    def rss(host, links):
        items = "".join(
            f"<item><title>t {l}</title><link>https://{host}/{l}</link></item>"
            for l in links
        )
        return f"<rss><channel>{items}</channel></rss>"

    t0 = datetime.datetime(2025, 1, 1, 12, 0)
    rows = [
        ("a.org", rss("a.org", ["p1", "p2"]), t0),
        # second fetch 10 min later republishes p2 and adds p3
        ("a.org", rss("a.org", ["p2", "p3"]), t0 + datetime.timedelta(minutes=10)),
        ("b.org", rss("b.org", ["p1"]), t0),
    ]
    src = str(tmp_path / "feeds")
    sink = str(tmp_path / "fsink")
    ckpt = str(tmp_path / "fckpt")
    spark.createDataFrame(rows, ["host", "feed_xml", "fetched_at"]).write.parquet(src)

    sdf = stream_feed_discovery(spark, src, watermark="1 hour")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.url for r in spark.read.parquet(sink).collect()}
    assert got == {
        "https://a.org/p1", "https://a.org/p2", "https://a.org/p3",
        "https://b.org/p1",
    }
    # p2 entered once despite the republish
    assert spark.read.parquet(sink).count() == 4


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Stream-static broadcast enrichment (streaming/enrich.py): per
    micro-batch join against the host-prior dimension matches the batch
    join, and unknown hosts pass through as 'unknown' instead of being
    dropped."""
    from codebased_spark.streaming.enrich import enrich_page_stream
    from codebased_spark.synth.pages import pages_from_documents_spark

    src = str(tmp_path / "epages")
    sink = str(tmp_path / "esink")
    ckpt = str(tmp_path / "eckpt")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    pages_from_documents_spark(docs).write.parquet(src)

    hosts = (
        spark.read.parquet(src)
        .selectExpr("parse_url(url, 'HOST') AS host")
        .distinct()
    )
    # score only half the hosts: the others must surface as 'unknown'
    prior = hosts.limit(hosts.count() // 2).withColumn(
        "quality_tier", F.lit("high")
    )

    sdf = enrich_page_stream(spark, src, PAGES_SCHEMA, prior)
    q = (
        sdf.select("url", "host", "quality_tier")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.url, r.host, r.quality_tier)
        for r in spark.read.parquet(sink).collect()
    }
    batch = {
        (r.url, r.host, r.quality_tier)
        for r in spark.read.parquet(src)
        .withColumn("host", F.expr("parse_url(url, 'HOST')"))
        .join(
            prior.withColumnRenamed("host", "p_host"),
            F.col("host") == F.col("p_host"),
            "left_outer",
        )
        .withColumn("quality_tier", F.coalesce("quality_tier", F.lit("unknown")))
        .select("url", "host", "quality_tier")
        .collect()
    }
    assert got == batch
    tiers = {t for _, _, t in got}
    assert tiers == {"high", "unknown"}
