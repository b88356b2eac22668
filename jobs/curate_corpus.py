#!/usr/bin/env python
"""spark-submit entry point for training-corpus curation.

Composes the engine's curation operators into the standard corpus-build
job an LLM-data pipeline runs over a crawl snapshot:

    NFC normalization               (textops/normalize.py, --nfc)
    robots compliance filter        (sources/robots.py, optional)
    -> latest capture per url       (sources/recrawl.py)
    -> canonical-url collapse       (sources/canonical.py)
    -> html -> text extraction      (extract/html_text.py, if html input)
    -> keep/drop decision table     (textops/filters.py: lang, length,
                                     quality, repetition, exact-dup,
                                     optional minhash near-dup keep-one)
    -> C4 repeated-sentence removal (textops/sentences.py, --line-dedup)
    (NFC normalization runs FIRST when --nfc, so hashes/dedup see
     canonical forms)
    -> CCNet tail-bucket drop       (textops/buckets.py, --drop-tail)
    -> fixed-window token chunking  (textops/chunk.py)

Outputs under --out:
    decisions/   one row per url with per-rule reject flags (audit table)
    chunks/      training-ready (url, chunk_idx, chunk_text) parquet
    report line  counts per rule on stdout (one JSON line)

Usage:
    spark-submit --py-files codebased_spark.zip jobs/curate_corpus.py \\
        --pages /path/pages_parquet --out /tmp/corpus \\
        [--robots /path/robots_parquet] [--lang en] [--near-dup]
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> None:
    # direct `python jobs/curate_corpus.py` runs (tests, dev); under
    # spark-submit --py-files the zip provides the package instead
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True,
                    help="parquet with (url, warc_ts, html|text, lang)")
    ap.add_argument("--robots", help="parquet with (host, robots_txt)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--near-dup", action="store_true",
                    help="also drop minhash near-dup non-survivors")
    ap.add_argument("--nfc", action="store_true",
                    help="NFC-normalize text before any filter/dedup")
    ap.add_argument("--line-dedup", type=int, default=0, metavar="MIN_COUNT",
                    help="drop sentences occurring >= MIN_COUNT times "
                         "corpus-wide (C4 boilerplate rule)")
    ap.add_argument("--drop-tail", action="store_true",
                    help="drop the per-language tail quality bucket "
                         "(CCNet head/middle/tail)")
    ap.add_argument("--chunk-tokens", type=int, default=512)
    ap.add_argument("--overlap", type=int, default=64)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from codebased_spark.extract.html_text import with_text
    from codebased_spark.session import get_spark
    from codebased_spark.sources.canonical import collapse_canonical
    from codebased_spark.sources.recrawl import latest_captures
    from codebased_spark.textops.chunk import chunk_documents
    from codebased_spark.textops.filters import filter_decisions

    spark = get_spark("codebased-curate-corpus", master=args.master)
    pages = spark.read.parquet(args.pages)
    n_input = pages.count()

    if args.robots:
        from codebased_spark.sources.robots import apply_robots

        robots = spark.read.parquet(args.robots)
        pages = apply_robots(pages, robots).where(F.col("allowed") == 1).drop("allowed")

    if "warc_ts" in pages.columns:
        pages = latest_captures(pages).drop("n_captures")
    if "html" in pages.columns:
        pages = collapse_canonical(pages).drop("src_url", "n_variants")
        pages = with_text(pages, "html", "text")

    docs = pages.select("url", "text", "lang")
    if args.nfc:
        from codebased_spark.textops.normalize import nfc_normalize_docs

        norm = nfc_normalize_docs(docs, id_col="url").select(
            "url", F.col("text_nfc").alias("text")
        )
        docs = norm.join(docs.select("url", "lang"), "url")
    decisions = filter_decisions(
        docs, id_col="url", keep_lang=args.lang, near_dup=args.near_dup
    )
    decisions.write.mode("overwrite").parquet(f"{args.out}/decisions")
    decisions = spark.read.parquet(f"{args.out}/decisions")

    kept = docs.join(decisions.where(F.col("keep") == 1).select("url"), "url", "left_semi")

    if args.line_dedup:
        from codebased_spark.textops.sentences import (
            sentence_occurrence_flags,
            split_sentences,
        )

        flags = sentence_occurrence_flags(
            split_sentences(kept, id_col="url"), min_count=args.line_dedup
        )
        rebuilt = (
            flags.where(F.col("keep"))
            .groupBy("url")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("sent_idx", "sentence"))
                        ),
                        lambda s: s["sentence"],
                    ),
                    " ",
                ).alias("text")
            )
        )
        kept = rebuilt.join(kept.select("url", "lang"), "url")

    if args.drop_tail:
        from codebased_spark.textops.buckets import assign_quality_buckets
        from codebased_spark.textops.quality import doc_quality

        scored = doc_quality(kept, id_col="url", keep_cols=("lang",))
        good = assign_quality_buckets(scored).where(
            F.col("bucket") != "tail"
        )
        kept = kept.join(good.select("url"), "url", "left_semi")

    chunks = chunk_documents(
        kept, id_col="url", chunk_tokens=args.chunk_tokens, overlap=args.overlap
    )
    chunks.write.mode("overwrite").parquet(f"{args.out}/chunks")

    rules = [c for c in decisions.columns if c.startswith("r_")] + ["keep"]
    counts = decisions.agg(
        *[F.sum(c).alias(c) for c in rules], F.count(F.lit(1)).alias("n_urls")
    ).collect()[0].asDict()
    report = {
        "n_input_rows": n_input,
        "n_chunks": spark.read.parquet(f"{args.out}/chunks").count(),
        **{k: int(v) for k, v in counts.items()},
    }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
