"""Resumable manifest runs: interrupt/resume equivalence, lineage counters,
incremental change detection (reference incremental.py semantics)."""

from __future__ import annotations

import pytest

from codebased_spark.graph.manifest import (
    clear_graph,
    committed_buckets,
    graph_stats,
    incremental_update,
    read_graph,
    run_partitioned,
)

N_BUCKETS = 6


@pytest.fixture(scope="module")
def pages_gaz(spark, corpus):
    return spark.createDataFrame(corpus.pages), spark.createDataFrame(corpus.gazetteer)


@pytest.fixture(scope="module")
def built(spark, pages_gaz, tmp_path_factory):
    """A from-scratch build of the corpus, all buckets in one batch. Read
    it as is; copy it (_copy_of) before updating it."""
    pages, gaz = pages_gaz
    out = str(tmp_path_factory.mktemp("built"))
    run_partitioned(spark, pages, gaz, out, n_buckets=N_BUCKETS, batch_size=N_BUCKETS)
    return out


def _copy_of(built, tmp_path_factory, name):
    import shutil

    out = str(tmp_path_factory.mktemp(name) / "graph")
    shutil.copytree(built, out)
    return out


def _graph_sets(spark, out):
    nodes, edges = read_graph(spark, out)
    return (
        {r.id for r in nodes.select("id").collect()},
        {(r.src, r.dst, r.rel_type) for r in edges.select("src", "dst", "rel_type").collect()},
    )


def test_interrupted_run_resumes_to_same_graph(spark, pages_gaz, tmp_path_factory):
    pages, gaz = pages_gaz
    full = str(tmp_path_factory.mktemp("full"))
    partial = str(tmp_path_factory.mktemp("partial"))

    rep = run_partitioned(spark, pages, gaz, full, n_buckets=N_BUCKETS, batch_size=3)
    assert sorted(rep.buckets_processed) == list(range(N_BUCKETS))

    # simulate a crash: only the first batch commits
    rep1 = run_partitioned(
        spark, pages, gaz, partial, n_buckets=N_BUCKETS, batch_size=3, max_batches=1
    )
    assert len(rep1.buckets_processed) == 3
    assert committed_buckets(spark, partial).count() == 3

    # resume: picks up exactly the missing buckets
    rep2 = run_partitioned(spark, pages, gaz, partial, n_buckets=N_BUCKETS, batch_size=3)
    assert rep2.buckets_skipped == 3
    assert sorted(rep1.buckets_processed + rep2.buckets_processed) == list(range(N_BUCKETS))

    assert _graph_sets(spark, partial) == _graph_sets(spark, full)


def test_manifest_lineage_counters(spark, pages_gaz, built):
    pages, gaz = pages_gaz
    m = committed_buckets(spark, built).toPandas()
    assert len(m) == N_BUCKETS
    assert m.n_pages.sum() == pages.count()
    assert (m.n_pages > 0).all()
    assert m.content_hash.nunique() == N_BUCKETS  # per-bucket change keys
    assert m.run_id.nunique() == 1


def test_graph_stats_and_clear(spark, pages_gaz, tmp_path_factory):
    pages, gaz = pages_gaz
    out = str(tmp_path_factory.mktemp("stats"))
    run_partitioned(spark, pages, gaz, out, n_buckets=2, batch_size=2)
    nodes, edges = read_graph(spark, out)
    stats = {(r.kind, r.name): r.n for r in graph_stats(nodes, edges).collect()}
    assert stats[("node", "Page")] == pages.count()
    assert ("edge", "MENTIONS") in stats
    assert sum(n for (k, _), n in stats.items() if k == "node") == nodes.count()
    clear_graph(spark, out)
    assert committed_buckets(spark, out).count() == 0


def test_incremental_update_reprocesses_only_changed_buckets(
    spark, pages_gaz, corpus, built, tmp_path_factory
):
    import pandas as pd

    pages, gaz = pages_gaz
    out = _copy_of(built, tmp_path_factory, "incr")

    # unchanged input -> nothing to do
    rep = incremental_update(spark, pages, gaz, out, n_buckets=N_BUCKETS)
    assert rep.buckets_processed == []

    # mutate one page's html -> exactly its bucket is reprocessed
    pdf = corpus.pages.copy()
    pdf.loc[0, "html"] = pdf.loc[0, "html"] + b"<p>changed</p>"
    changed = spark.createDataFrame(pd.DataFrame(pdf))
    rep = incremental_update(spark, changed, gaz, out, n_buckets=N_BUCKETS)
    assert len(rep.buckets_processed) == 1
    # manifest now has a newer row for that bucket
    m = committed_buckets(spark, out).toPandas()
    b = rep.buckets_processed[0]
    assert (m.bucket == b).sum() == 2


def test_incremental_update_deletes_vanished_buckets(
    spark, pages_gaz, corpus, built, tmp_path_factory
):
    """Buckets whose pages all disappear must be wiped from the committed
    graph (VERDICT r1 #6: stale-bucket leak — removed pages survived
    forever because todo derived from current buckets only)."""
    from pyspark.sql import functions as F

    from codebased_spark.graph.manifest import with_bucket

    pages, gaz = pages_gaz
    out = _copy_of(built, tmp_path_factory, "vanish")

    # drop every page of one bucket from the input corpus
    victim = 0
    pages_b = with_bucket(pages, N_BUCKETS)
    dropped_urls = {
        r.url for r in pages_b.where(F.col("bucket") == victim).select("url").collect()
    }
    assert dropped_urls  # fixture puts pages in every bucket
    remaining = pages_b.where(F.col("bucket") != victim).drop("bucket")

    rep = incremental_update(spark, remaining, gaz, out, n_buckets=N_BUCKETS)
    assert rep.buckets_deleted == [victim]
    assert rep.buckets_processed == []  # nothing else changed

    nodes, edges = read_graph(spark, out)
    stale_ids = {f"page:{u}" for u in dropped_urls}
    # no dropped page survives as a corpus Page node; pages still linked-to
    # from other buckets may (correctly) remain as ExternalPage stubs
    survivors = nodes.where(F.col("id").isin(list(stale_ids)))
    assert survivors.where(F.col("type") == "Page").count() == 0
    assert survivors.where(F.col("type") != "ExternalPage").count() == 0
    meta_urls = edges.select(F.element_at("meta", "source_url").alias("u"))
    assert meta_urls.where(F.col("u").isin(list(dropped_urls))).count() == 0

    # unchanged re-run: the tombstone is stable, nothing reprocessed
    rep2 = incremental_update(spark, remaining, gaz, out, n_buckets=N_BUCKETS)
    assert rep2.buckets_deleted == [] and rep2.buckets_processed == []

    # the bucket's pages reappear -> reprocessed like a new bucket, and the
    # real Page rows win the read-side priority dedup over lingering stubs
    rep3 = incremental_update(spark, pages, gaz, out, n_buckets=N_BUCKETS)
    assert rep3.buckets_processed == [victim]
    nodes3, _ = read_graph(spark, out)
    back = nodes3.where(F.col("id").isin(list(stale_ids)))
    assert back.count() == len(stale_ids)
    assert back.where(F.col("type") == "Page").count() == len(stale_ids)


def test_tombstone_crash_window_is_safe(spark, pages_gaz, built, tmp_path_factory):
    """ADVICE r2 (medium): simulate a crash between the tombstone append and
    the partition delete. The latest-row tombstone must already hide the
    bucket from read_graph, and the next incremental run must repair by
    deleting the orphaned partition dirs."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from codebased_spark.graph.manifest import (
        MANIFEST_SCHEMA,
        with_bucket,
    )

    pages, gaz = pages_gaz
    out = _copy_of(built, tmp_path_factory, "crash")

    victim = 1
    pages_b = with_bucket(pages, N_BUCKETS)
    victim_urls = {
        r.url for r in pages_b.where(F.col("bucket") == victim).select("url").collect()
    }
    assert victim_urls

    # crash state: tombstone row written, partition dirs NOT deleted
    spark.createDataFrame(
        [(victim, 0, 0, 0, 0, None, "crashed-run", _time.time())], MANIFEST_SCHEMA
    ).write.mode("append").parquet(f"{out}/manifest")
    assert os.path.isdir(f"{out}/nodes/bucket={victim}")

    # read side: the tombstoned bucket's stale Page rows are invisible
    nodes, _ = read_graph(spark, out)
    stale_ids = [f"page:{u}" for u in victim_urls]
    assert (
        nodes.where(F.col("id").isin(stale_ids) & (F.col("type") == "Page")).count()
        == 0
    )

    # repair: next run (bucket still vanished) deletes the orphaned dirs
    # without writing a second tombstone
    remaining = pages_b.where(F.col("bucket") != victim).drop("bucket")
    rep = incremental_update(spark, remaining, gaz, out, n_buckets=N_BUCKETS)
    assert rep.buckets_processed == [] and rep.buckets_deleted == []
    assert not os.path.isdir(f"{out}/nodes/bucket={victim}")
    assert not os.path.isdir(f"{out}/edges/bucket={victim}")

    # reappearing bucket: NULL tombstone hash != real hash -> reprocessed
    rep2 = incremental_update(spark, pages, gaz, out, n_buckets=N_BUCKETS)
    assert rep2.buckets_processed == [victim]
    nodes2, _ = read_graph(spark, out)
    assert (
        nodes2.where(F.col("id").isin(stale_ids) & (F.col("type") == "Page")).count()
        == len(stale_ids)
    )


def test_run_partitioned_rebuilds_tombstoned_bucket(
    spark, pages_gaz, built, tmp_path_factory
):
    """run_partitioned must use the SAME committed definition as read_graph
    (latest manifest row non-null): a tombstoned bucket whose pages are back
    in the corpus is rebuilt by the full runner, not skipped because some
    old manifest row exists (code-review r3: silent data loss when the
    resume path is run_partitioned rather than incremental_update)."""
    from pyspark.sql import functions as F

    from codebased_spark.graph.manifest import with_bucket

    pages, gaz = pages_gaz
    out = _copy_of(built, tmp_path_factory, "rebuild")

    victim = 2
    pages_b = with_bucket(pages, N_BUCKETS)
    victim_urls = {
        r.url for r in pages_b.where(F.col("bucket") == victim).select("url").collect()
    }
    remaining = pages_b.where(F.col("bucket") != victim).drop("bucket")
    rep = incremental_update(spark, remaining, gaz, out, n_buckets=N_BUCKETS)
    assert rep.buckets_deleted == [victim]

    # full runner over the restored corpus: the tombstoned bucket is todo
    rep2 = run_partitioned(spark, pages, gaz, out, n_buckets=N_BUCKETS)
    assert rep2.buckets_processed == [victim]
    assert rep2.buckets_skipped == N_BUCKETS - 1
    nodes, _ = read_graph(spark, out)
    stale_ids = [f"page:{u}" for u in victim_urls]
    assert (
        nodes.where(F.col("id").isin(stale_ids) & (F.col("type") == "Page")).count()
        == len(stale_ids)
    )


# Two pages in different buckets (1 and 2 of 4) that state the same facts:
# refreshing ONE of them must leave the graph a from-scratch build of the
# final snapshot would produce.
_STATED = b"<html><body><p>Acme Systems acquired Flex Engine.</p></body></html>"
_TWIN_URLS = ("http://ex0.com/a", "http://ex1.com/a")


def _twin_snapshot(spark, ex0_html):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {"url": list(_TWIN_URLS), "html": [ex0_html, _STATED], "lang": ["en", "en"]}
        )
    )


@pytest.fixture(scope="module")
def twin_build(spark, tmp_path_factory):
    """(gazetteer, graph dir) of a from-scratch build of both twins."""
    import pandas as pd

    from codebased_spark.graph.manifest import with_bucket

    gaz = spark.createDataFrame(
        pd.DataFrame(
            [("Acme Systems", "e:acme", "Org", 1.0), ("Flex Engine", "e:flex", "Product", 1.0)],
            columns=["surface_form", "canonical_id", "entity_type", "weight"],
        )
    )
    before = _twin_snapshot(spark, _STATED)
    buckets = {r.url: r.bucket for r in with_bucket(before, 4).collect()}
    assert [buckets[u] for u in _TWIN_URLS] == [1, 2]
    out = str(tmp_path_factory.mktemp("twins"))
    run_partitioned(spark, before, gaz, out, n_buckets=4, batch_size=4)
    return gaz, out


def _twin_refresh_vs_scratch(spark, twin_build, tmp_path, edited_html):
    import shutil

    gaz, built = twin_build
    after = _twin_snapshot(spark, edited_html)
    out, fresh = str(tmp_path / "incr"), str(tmp_path / "fresh")
    shutil.copytree(built, out)
    rep = incremental_update(spark, after, gaz, out, n_buckets=4, batch_size=4)
    assert rep.buckets_processed == [1]
    run_partitioned(spark, after, gaz, fresh, n_buckets=4, batch_size=4)
    return _graph_sets(spark, out), _graph_sets(spark, fresh)


def test_refresh_keeps_edge_stated_in_unrefreshed_bucket(spark, twin_build, tmp_path):
    """An edge stated by pages in two buckets must survive a refresh of
    the bucket that held its smallest source url."""
    incr, scratch = _twin_refresh_vs_scratch(
        spark, twin_build, tmp_path, b"<html><body><p>Acme Systems is here.</p></body></html>"
    )
    assert ("e:acme", "e:flex", "ACQUIRED") in scratch[1]
    assert incr == scratch


def test_refresh_drops_edges_of_emptied_page(spark, twin_build, tmp_path):
    """A refreshed bucket whose new output has no edges must lose its old
    edges (the edited page's MENTIONS)."""
    incr, scratch = _twin_refresh_vs_scratch(
        spark, twin_build, tmp_path, b"<html><body><p>Nothing here today.</p></body></html>"
    )
    assert ("page:http://ex0.com/a", "e:acme", "MENTIONS") not in scratch[1]
    assert incr == scratch
