"""Recrawl handling: keep the latest capture per url.

A Common-Crawl-style pages table holds MANY captures of the same url
(weekly recrawls); running extraction over all of them both wastes work
and emits conflicting triples from stale content. The reference's
incremental updater keeps exactly one row per file path, reprocessing
only when the content hash changes (incremental.py:37-38, 159-274);
the web-table analog is "latest warc_ts wins per url".

Scale shape: ONE url-keyed aggregation with map-side partial combine —
`groupBy(url).agg(max(struct(warc_ts, tiebreak, payload)))`. This beats
the window/row_number form at 10^12 rows because partial aggregation
collapses each map partition to (distinct urls in partition) rows before
the shuffle, while a window must shuffle + sort every capture. The
tiebreak (md5 of the content) makes equal-timestamp duplicates collapse
deterministically, so reruns are bit-identical (E11 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_captures(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    content_col: str | None = None,
) -> DataFrame:
    """One row per url: the capture with the greatest (ts, content-hash).

    The tiebreak hashes `content_col`; None picks `html` when the table
    has it and `text` otherwise.

    Output keeps the input schema (column order preserved) plus
    `n_captures`, the number of captures collapsed for that url — the
    lineage counter a recrawl-dedup stage reports to the manifest.
    """
    if content_col is None:
        content_col = "html" if "html" in pages.columns else "text"
    payload = [c for c in pages.columns if c != url_col]
    tiebreak = F.md5(F.coalesce(F.col(content_col).cast("string"), F.lit("")))
    # struct comparison is lexicographic over its fields: ts first, then
    # the deterministic content tiebreak, then the payload that rides along
    picked = pages.groupBy(url_col).agg(
        F.max(
            F.struct(
                F.col(ts_col).alias("_ts"),
                tiebreak.alias("_tb"),
                F.struct(*[F.col(c) for c in payload]).alias("_row"),
            )
        ).alias("_best"),
        F.count(F.lit(1)).alias("n_captures"),
    )
    return picked.select(
        *[
            F.col(f"_best._row.{c}").alias(c) if c != url_col else F.col(url_col)
            for c in pages.columns
        ],
        "n_captures",
    )
