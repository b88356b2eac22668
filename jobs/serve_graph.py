#!/usr/bin/env python
"""Minimal HTTP serving layer over a committed graph — the §3.3 analog.

The reference serves `POST /api/query` (read-only Cypher) and
`GET /api/graph` (whole-graph stats) from its stored graph
(src/codebased/api/server.py per SURVEY.md §3.3). This is the same
surface over the Spark-built graph directory, stdlib-only
(http.server — no web framework in this sandbox):

    GET  /api/graph            -> node/edge counts by type (S12 stats)
    POST /api/query            -> {"sql": "SELECT ..."} run through the
                                  read-only guard + auto-LIMIT
                                  (graph/views.py F5/F6 discipline)
    POST /api/pages_mentioning -> {"entity": "..."} canned view
    POST /api/related          -> {"entity": "...", "rel_type": null}

Serving is driver-side BY DESIGN: the API reads a small, committed,
deduplicated graph table; the heavy lifting happened in the pipeline.
Requests scan the cached `nodes`/`edges` views (graph/views.py
register_views): the first request builds their in-memory columnar copy,
and no later request re-runs read_graph's manifest gating and dedup. The
server therefore answers from the graph as committed when it started; an
update of the directory is served after a restart (or a register_views
call in the serving process). Every request is answered: a request that
does not parse or plan is a 400, and any other error (one raised while
the query runs, or views that were never registered) is a JSON 500
naming its class.
A production deployment would put the same routes behind a thrift/
connect server; the query guard and view layer are the part that
carries over unchanged.

Usage:
    spark-submit --py-files codebased_spark.zip jobs/serve_graph.py \\
        --graph /tmp/graph --port 8799          # --once for single-request test mode
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback
from http.server import BaseHTTPRequestHandler, HTTPServer


def _rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def make_handler(spark):
    from pyspark.errors import AnalysisException

    from codebased_spark.graph import views
    from codebased_spark.graph.manifest import graph_stats

    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload) -> None:
            body = json.dumps(payload, default=str).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # noqa: D102 - quiet test output
            pass

        def _fail(self, e: Exception) -> None:
            # e.g. a file the registered views listed that an update has
            # since deleted (FAILED_READ_FILE.FILE_NOT_EXIST), or views
            # that were never registered
            traceback.print_exc()
            self._send(500, {"error": str(e), "error_class": type(e).__name__})

        def _reply(self, build, shape) -> None:
            """Send shape(rows of build()) as a 200, or a JSON 500 naming the
            error raised: every request gets an answer, never a closed
            connection."""
            try:
                payload = shape(_rows(build()))
            except Exception as e:  # noqa: BLE001 - the client must hear of it
                self._fail(e)
                return
            self._send(200, payload)

        def do_GET(self):  # noqa: N802
            if self.path != "/api/graph":
                self._send(404, {"error": "unknown route"})
                return
            # both per-type counts in one query (graph_stats)
            self._reply(
                lambda: graph_stats(spark.table("nodes"), spark.table("edges")),
                lambda stats: {
                    "nodes_by_type": [{"type": r["name"], "n": r["n"]}
                                      for r in stats if r["kind"] == "node"],
                    "edges_by_type": [{"rel_type": r["name"], "n": r["n"]}
                                      for r in stats if r["kind"] == "edge"],
                },
            )

        def do_POST(self):  # noqa: N802
            try:
                n = int(self.headers.get("Content-Length", 0))
                req = json.loads(self.rfile.read(n) or b"{}")
                if self.path == "/api/query":
                    df = views.sql(spark, req["sql"])
                elif self.path == "/api/pages_mentioning":
                    df = views.pages_mentioning(spark, req["entity"])
                elif self.path == "/api/related":
                    df = views.related_entities(
                        spark, req["entity"], req.get("rel_type")
                    )
                else:
                    df = None
            except (ValueError, KeyError, AnalysisException) as e:
                # bad json, read-only guard rejections, missing params and
                # SQL that does not parse or resolve are 400s, never 500s —
                # the guard WORKING is not a server error. Only the request's
                # parsing and planning count: an error while the query runs
                # is the server's.
                self._send(400, {"error": str(e)})
                return
            except Exception as e:  # noqa: BLE001 - the client must hear of it
                self._fail(e)
                return
            if df is None:
                self._send(404, {"error": "unknown route"})
                return
            self._reply(lambda: df, lambda rows: {"rows": rows})

    return Handler


def main(argv: list[str] | None = None) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--graph", required=True, help="committed graph dir")
    ap.add_argument("--port", type=int, default=8799)
    ap.add_argument("--once", type=int, default=0, metavar="N",
                    help="serve N requests then exit (test mode)")
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args(argv)

    from codebased_spark.graph.views import register_views
    from codebased_spark.session import get_spark

    spark = get_spark("serve-graph", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, out_dir=args.graph)

    srv = HTTPServer(("127.0.0.1", args.port), make_handler(spark))
    print(json.dumps({"serving": args.port}), flush=True)
    if args.once:
        for _ in range(args.once):
            srv.handle_request()
        srv.server_close()
        spark.stop()
        # local-mode JVM shutdown can leave non-daemon threads for many
        # seconds; --once is the TEST mode, so end the process decisively
        print(json.dumps({"served": args.once}), flush=True)
        os._exit(0)
    else:  # pragma: no cover - interactive mode
        srv.serve_forever()


if __name__ == "__main__":
    main()
