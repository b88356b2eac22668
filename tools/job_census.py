#!/usr/bin/env python
"""Count the Spark jobs of one KG build and one refresh, per call site.

Runs `run_partitioned` over gen_pages, then one `incremental_update` that
edits two pages and removes one, with Spark's event log on. Prints, for
each phase, every SQL execution (with its jobs and wall seconds) keyed by
the Python call site that started it, then the phase's totals:

    python tools/job_census.py /path/to/checkout          # or .

A call site is the innermost frame of the checkout's package that called
a DataFrame action, read or write (PySpark itself records one only for
some actions, and writes would show as Java frames). Jobs outside any SQL
execution (a parquet read's file listing, RDD actions) are keyed the same
way. Line numbers in the keys refer to the checkout's files, so two
checkouts compare by the totals and by the files and functions named.

The checkout's package is imported by this driver AND by Spark's Python
workers (PYTHONPATH is set before the JVM starts), so the tool can census
an older checkout that does not have it.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import traceback
from collections import defaultdict

PHASES = ("build", "refresh")
DATAFRAME_ACTIONS = ("collect", "count", "first", "isEmpty", "take", "toPandas")
WRITER_ACTIONS = ("parquet", "save")
READER_ACTIONS = ("parquet",)  # a read lists files and infers the schema
# the corpus and layout of the census: gen_pages(N_DOCS, SEED) in BUCKETS
# buckets, one batch, on local[CPUS]
N_DOCS, SEED, BUCKETS, CPUS = 120, 1, 8, 2


def record_call_sites(spark, package_dir: str) -> None:
    """Make every job of the DataFrame actions and writes carry the Python
    call site that ran them: the innermost frame under `package_dir`, else
    the caller."""
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.traceback_utils import SCCallSiteSync

    sc = spark.sparkContext

    class CallSite(SCCallSiteSync):
        def __init__(self, sc, action):
            frames = traceback.extract_stack()[:-2]
            own = [f for f in frames if f.filename.startswith(package_dir)]
            f = (own or frames)[-1]
            self._call_site = f"{action} at {f.filename}:{f.lineno}"
            self._context = sc

    def wrap(cls, name, label):
        fn = getattr(cls, name)

        def with_site(self, *args, **kwargs):
            # the outermost action names the site (SCCallSiteSync nesting)
            with CallSite(sc, label):
                return fn(self, *args, **kwargs)

        setattr(cls, name, with_site)

    # the session's own DataFrame class: PySpark's public DataFrame is a
    # parent whose methods the concrete class overrides
    for name in DATAFRAME_ACTIONS:
        wrap(type(spark.range(0)), name, name)
    for name in WRITER_ACTIONS:
        wrap(DataFrameWriter, name, f"write.{name}")
    for name in READER_ACTIONS:
        wrap(DataFrameReader, name, f"read.{name}")


def _site(desc: str, checkout: str) -> str:
    """First line of a call-site description, checkout-relative."""
    return (desc or "?").splitlines()[0].replace(checkout + os.sep, "")


def census(event_log: str, checkout: str) -> dict:
    """phase -> {"sites": {site: [executions, jobs, seconds]}, "jobs", "s"}.

    A job belongs to the root SQL execution that started it (AQE and
    subquery executions roll up into their root); a phase is the job group
    the driver set around it."""
    start: dict[int, tuple[int, str]] = {}  # execution id -> (time ms, site)
    root_of: dict[int, int] = {}
    end: dict[int, int] = {}
    phase_of_exec: dict[int, str] = {}
    jobs_of_exec: dict[int, int] = defaultdict(int)
    loose: dict[str, dict[str, list]] = {p: defaultdict(lambda: [0, 0, 0.0]) for p in PHASES}
    job_start: dict[int, tuple[str, str, int]] = {}  # job id -> (phase, site, ms)
    with open(event_log) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart"):
                x = e["executionId"]
                start[x] = (e["time"], _site(e.get("description", ""), checkout))
                root_of[x] = e.get("rootExecutionId", x)
            elif ev.endswith("SQLExecutionEnd"):
                end[e["executionId"]] = e["time"]
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                phase = props.get("spark.jobGroup.id")
                if phase not in PHASES:
                    continue
                x = props.get("spark.sql.execution.id")
                if x is None:
                    site = _site(props.get("callSite.short", ""), checkout)
                    job_start[e["Job ID"]] = (phase, site, e["Submission Time"])
                    continue
                root = root_of.get(int(x), int(x))
                phase_of_exec.setdefault(root, phase)
                jobs_of_exec[root] += 1
            elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_start:
                phase, site, t0 = job_start.pop(e["Job ID"])
                row = loose[phase][site]
                row[0] += 1
                row[1] += 1
                row[2] += (e["Completion Time"] - t0) / 1000.0
    out = {p: {"sites": defaultdict(lambda: [0, 0, 0.0])} for p in PHASES}
    for x, phase in sorted(phase_of_exec.items()):
        t0, site = start[x]
        row = out[phase]["sites"][site]
        row[0] += 1
        row[1] += jobs_of_exec[x]
        row[2] += (end.get(x, t0) - t0) / 1000.0
    for phase in PHASES:
        for site, (n, j, s) in loose[phase].items():
            row = out[phase]["sites"][f"{site} (no SQL execution)"]
            row[0] += n
            row[1] += j
            row[2] += s
        sites = out[phase]["sites"]
        out[phase]["jobs"] = sum(r[1] for r in sites.values())
        out[phase]["s"] = sum(r[2] for r in sites.values())
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("checkout", help="repository root whose package is run")
    args = ap.parse_args(argv)
    checkout = os.path.abspath(args.checkout)
    sys.path.insert(0, checkout)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p
    )

    from codebased_spark.graph.manifest import incremental_update, run_partitioned
    from codebased_spark.session import get_spark
    from codebased_spark.synth.pages import gen_pages

    work = tempfile.mkdtemp(prefix="job-census-")
    events = os.path.join(work, "events")
    os.makedirs(events)
    try:
        spark = get_spark(
            "job-census", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        record_call_sites(spark, os.path.join(checkout, "codebased_spark"))
        corpus = gen_pages(n_docs=N_DOCS, seed=SEED)
        gaz = spark.createDataFrame(corpus.gazetteer)
        pdf = corpus.pages.sort_values("url").reset_index(drop=True)
        out = os.path.join(work, "graph")
        sc = spark.sparkContext

        # the group id alone: a job group's description would replace the
        # call site as every execution's description
        sc.setLocalProperty("spark.jobGroup.id", "build")
        run_partitioned(spark, spark.createDataFrame(pdf), gaz, out,
                        n_buckets=BUCKETS, batch_size=BUCKETS)
        # the refresh: two pages edited, one removed
        edited = pdf.iloc[1:].copy()
        for i in edited.index[:2]:
            edited.at[i, "html"] = edited.at[i, "html"].replace(
                b"</body>", b"<p>Edited.</p></body>"
            )
        sc.setLocalProperty("spark.jobGroup.id", "refresh")
        incremental_update(spark, spark.createDataFrame(edited), gaz, out,
                           n_buckets=BUCKETS, batch_size=BUCKETS)
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.stop()

        (log,) = glob.glob(os.path.join(events, "*"))
        result = census(log, checkout)
        for phase in PHASES:
            r = result[phase]
            print(f"== {phase}: {r['jobs']} jobs, {r['s']:.2f} s")
            print(f"{'execs':>5} {'jobs':>5} {'s':>7}  call site")
            for site, (n, j, s) in r["sites"].items():
                print(f"{n:>5} {j:>5} {s:>7.2f}  {site}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
