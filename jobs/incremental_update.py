#!/usr/bin/env python
"""spark-submit entry point for the incremental KG update.

The weekly-recrawl loop of the north rule: given a new crawl snapshot and
the graph directory of the previous run, (1) diff the url-keyed latest
captures against the committed url snapshot by content hash
(sources/delta.py — the reference's stored_hash == current_hash skip,
incremental.py:37-38), (2) refresh ONLY the buckets whose content
changed via the manifest-last committed runner
(graph/manifest.py::incremental_update — new/changed buckets rebuilt,
vanished buckets tombstoned + their partitions removed), (3) commit the
new url snapshot LAST.

Crash ordering: the url snapshot is written only after every bucket's
partitions + manifest row are committed. A crash in between leaves the
old snapshot in place, so the next run re-reports those urls as changed
and the bucket runner re-hashes — unchanged buckets skip, dirty buckets
rebuild — idempotent, never lossy (same discipline as the per-bucket
manifest-last commit itself).

`--n-buckets` must stay constant across runs of the same --out directory
(the manifest is keyed by bucket id).

Outputs under --out:
    nodes/ edges/ manifest/   the materialized graph (graph/manifest.py)
    url_snapshot/             (url, content_sha) of the committed crawl
    report line               one JSON line on stdout: per-status url
                              counts + bucket-level lineage

Usage:
    spark-submit --py-files codebased_spark.zip jobs/incremental_update.py \\
        --pages /path/pages_parquet --gazetteer /path/gaz_parquet \\
        --out /tmp/graph [--n-buckets 8]
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> dict:
    # direct `python jobs/incremental_update.py` runs (tests, dev); under
    # spark-submit --py-files the zip provides the package instead
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True,
                    help="parquet with (url, warc_ts, html, lang)")
    ap.add_argument("--gazetteer", required=True,
                    help="parquet with (surface_form, canonical_id, entity_type[, weight])")
    ap.add_argument("--out", required=True, help="graph directory (created/updated)")
    ap.add_argument("--n-buckets", type=int, default=8)
    ap.add_argument("--batch-size", type=int, default=4)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from codebased_spark.graph.manifest import incremental_update
    from codebased_spark.session import get_spark
    from codebased_spark.sources.delta import snapshot_delta
    from codebased_spark.sources.recrawl import latest_captures

    spark = get_spark("codebased-incremental-update", master=args.master)
    pages = spark.read.parquet(args.pages)
    if "warc_ts" in pages.columns:
        pages = latest_captures(pages).drop("n_captures")

    # narrow (url, sha) snapshot of the collapsed crawl — manifest-sized,
    # one row per url, never capture-sized (PLANS.md kg_snapshot_delta)
    curr_snap = pages.select("url", F.sha2(F.col("html"), 256).alias("content_sha"))
    snap_path = f"{args.out}/url_snapshot"
    try:  # read-try, not a local-fs stat: --out may be HDFS/S3 on a cluster
        prev_snap = spark.read.parquet(snap_path).select("url", "content_sha")
        first_run = False
    except Exception:  # noqa: BLE001 — AnalysisException: path does not exist
        prev_snap = spark.createDataFrame([], "url string, content_sha string")
        first_run = True

    delta = snapshot_delta(prev_snap, curr_snap)
    counts = {
        r.status: r.n
        for r in delta.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    report = {
        "first_run": first_run,
        **{s: int(counts.get(s, 0))
           for s in ("added", "changed", "unchanged", "vanished")},
    }

    if not first_run and not any(
        counts.get(s) for s in ("added", "changed", "vanished")
    ):
        # nothing to do: the graph and snapshot already reflect this crawl.
        # The bucket runner would conclude the same after hashing every
        # bucket; the url delta concludes it from the narrow snapshot.
        report.update(noop=True, buckets_processed=[], buckets_deleted=[])
        print(json.dumps(report))
        spark.stop()
        return report

    gaz = spark.read.parquet(args.gazetteer)
    rep = incremental_update(
        spark, pages, gaz, args.out,
        n_buckets=args.n_buckets, batch_size=args.batch_size,
    )
    # graph fully committed — only now replace the url snapshot
    curr_snap.write.mode("overwrite").parquet(snap_path)
    report.update(
        noop=False,
        run_id=rep.run_id,
        buckets_processed=sorted(rep.buckets_processed),
        buckets_skipped=rep.buckets_skipped,
        buckets_deleted=sorted(rep.buckets_deleted),
    )
    print(json.dumps(report))
    spark.stop()
    return report


if __name__ == "__main__":
    main()
