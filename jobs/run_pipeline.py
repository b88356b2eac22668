#!/usr/bin/env python
"""spark-submit entry point for the KG construction pipeline.

Cluster usage (the north-rule deployment shape):

    zip -r codebased_spark.zip codebased_spark
    spark-submit --py-files codebased_spark.zip jobs/run_pipeline.py \\
        --pages /path/to/pages_parquet --gazetteer /path/to/gazetteer \\
        --out /path/to/graph --n-buckets 1024 --batch-size 64

    # synthetic input instead of --pages (scale/soak testing):
    spark-submit --py-files codebased_spark.zip jobs/run_pipeline.py \\
        --synth-docs 1000000 --out /tmp/graph

Modes:
    default      fresh-or-resume: process buckets missing from the manifest
    --incremental  also re-process buckets whose content hash changed

The job is driver-light: all state lives in the out-dir manifest, so a
killed job resumes from the last committed bucket batch on re-submit.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", help="parquet dir/file with (url, warc_ts, html, text, lang)")
    ap.add_argument("--warc", help="dir/glob of *.warc(.gz) crawl archives instead of --pages")
    ap.add_argument("--warc-lang", default="en", help="lang tag for --warc pages")
    ap.add_argument("--gazetteer", help="parquet with (surface_form, canonical_id, entity_type, weight)")
    ap.add_argument("--synth-docs", type=int, help="generate N synthetic pages instead of --pages")
    ap.add_argument("--out", required=True, help="output dir (nodes/, edges/, manifest/)")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--batch-size", type=int, default=16)
    ap.add_argument("--incremental", action="store_true")
    ap.add_argument("--export-ntriples", help="also export the committed graph as N-Triples to this dir")
    ap.add_argument("--export-bulk", help="also export nodes.csv/edges.csv bulk-import dirs here")
    ap.add_argument(
        "--dedupe-captures", action="store_true",
        help="collapse recrawls first: latest warc_ts wins per url",
    )
    ap.add_argument("--master", default=None, help="override master (tests); cluster runs leave unset")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from codebased_spark.graph.manifest import incremental_update, run_partitioned
    from codebased_spark.session import get_spark

    spark = get_spark("codebased-kg-pipeline", master=args.master)
    t0 = time.time()
    if args.synth_docs:
        from codebased_spark.synth.scale import synth_pages_materialized

        pages, gaz = synth_pages_materialized(spark, args.synth_docs)
    elif args.warc:
        if not args.gazetteer:
            ap.error("--gazetteer required with --warc")
        from codebased_spark.sources.warc import read_warc, warc_to_pages

        pages = warc_to_pages(read_warc(spark, args.warc), lang=args.warc_lang)
        gaz = spark.read.parquet(args.gazetteer)
    else:
        if not (args.pages and args.gazetteer):
            ap.error("--pages and --gazetteer required unless --synth-docs/--warc")
        pages = spark.read.parquet(args.pages)
        gaz = spark.read.parquet(args.gazetteer)

    if args.dedupe_captures and "warc_ts" in pages.columns:
        from codebased_spark.sources.recrawl import latest_captures

        pages = latest_captures(pages).drop("n_captures")

    run = incremental_update if args.incremental else run_partitioned
    report = run(
        spark, pages, gaz, args.out,
        n_buckets=args.n_buckets, batch_size=args.batch_size,
    )
    if args.export_ntriples or args.export_bulk:
        from codebased_spark.graph.manifest import read_graph
        from codebased_spark.sinks.export import write_bulk_import, write_ntriples

        nodes, edges = read_graph(spark, args.out)
        if args.export_ntriples:
            write_ntriples(
                edges.select(
                    F.col("src").alias("subj"),
                    F.col("rel_type").alias("pred"),
                    F.col("dst").alias("obj"),
                ),
                args.export_ntriples,
            )
        if args.export_bulk:
            write_bulk_import(nodes, edges, args.export_bulk)
    print(
        json.dumps(
            {
                "run_id": report.run_id,
                "buckets_processed": len(report.buckets_processed),
                "buckets_skipped": report.buckets_skipped,
                "seconds": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, ".")
    main()
