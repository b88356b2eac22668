#!/usr/bin/env python
"""Print the normalized optimized plans of the KG pipeline's outputs.

A refactor of graph/pipeline.py that claims no plan change must print the
same text at both revisions:

    python tools/plan_fingerprint.py /path/to/base_checkout > base.txt
    python tools/plan_fingerprint.py . > change.txt
    diff base.txt change.txt

The fixture is gen_pages(n_docs=40, seed=3). Printed plans:
`extract_triples` triples/nodes/edges/mentions by default and with
persist_triples=True, plus the manifest's bucketed graph
(`_materialize_graph(res.pages, res.canon, res.triples, _bucket_of(8))`).

The checkout's package is imported by this driver AND by Spark's Python
workers (PYTHONPATH is set before the JVM starts). Normalization strips
what varies between runs of the same code: expression ids (`#12`, `#12L`),
`plan_id=N` and `pythonUDFN`.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

_VOLATILE = re.compile(r"#\d+L?|plan_id=\d+|pythonUDF\d+")


def normalize(plan: str) -> str:
    return _VOLATILE.sub("", plan)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("checkout", help="repository root whose package is planned")
    args = ap.parse_args(argv)
    checkout = os.path.abspath(args.checkout)
    sys.path.insert(0, checkout)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p
    )

    from codebased_spark.graph.manifest import _bucket_of
    from codebased_spark.graph.pipeline import _materialize_graph, extract_triples
    from codebased_spark.session import get_spark
    from codebased_spark.synth.pages import gen_pages

    spark = get_spark("plan-fingerprint", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = gen_pages(n_docs=40, seed=3)
    pages = spark.createDataFrame(corpus.pages)
    gaz = spark.createDataFrame(corpus.gazetteer)
    for label, kwargs in (("default", {}), ("persist_triples", {"persist_triples": True})):
        res = extract_triples(spark, pages, gaz, **kwargs)
        outputs = {n: getattr(res, n) for n in ("triples", "nodes", "edges", "mentions")}
        if kwargs:
            outputs["bucketed_nodes"], outputs["bucketed_edges"] = _materialize_graph(
                res.pages, res.canon, res.triples, _bucket_of(8)
            )
        for name, df in outputs.items():
            print(f"== {label}.{name}")
            print(normalize(df._jdf.queryExecution().optimizedPlan().toString()))
        res.release()
    spark.stop()


if __name__ == "__main__":
    main()
