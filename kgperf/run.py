#!/usr/bin/env python3
"""KG construction benchmark: fresh build, recrawl refresh and serving.

Usage, from the repository root:

    python3 kgperf/run.py --workload link_heavy --seed 1 --seconds 6 --trace 0

One process generates (or loads from its cache) the seeded inputs of the
workload, starts a Spark session at local[nproc] through the program's own
session factory, and drives the production entry points:

- ``graph.manifest.run_partitioned``   a fresh build into an empty directory
- ``graph.manifest.incremental_update`` each recrawl of the crawl snapshot
- ``graph.views.register_views`` plus ``jobs/serve_graph.make_handler``
  served over loopback HTTP to one closed-loop client thread.

Every output is then checked (see METRICS.md) and the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` repeats the workload with spans and Spark job groups around
every layer call, walks the pipeline's layers one by one on the first
snapshot, and reports the per-layer metrics. All state lives under
``kgperf/.work`` of the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

N_BUCKETS = 8  # one batch per build: batch_size == n_buckets
SETUP_REPS = 3
FAILED_REQUEST_MS = 120_000.0  # a failed request misses any latency limit
# per workload: the share of --seconds spent in no-op recrawls (the rest
# is serving), the fewest no-op recrawls, and the fewest served requests
# (a traced run serves only two requests per route). recrawl_serve makes
# one real recrawl instead of no-op ones.
PLANS = {
    "link_heavy": {"noop_share": 0.4, "min_noop_rounds": 5, "min_requests": 12},
    "recrawl_serve": {"noop_share": 0.0, "min_noop_rounds": 0, "min_requests": 12},
}
TRACED_REQUESTS = 8
# requests cycle through the four routes, so every burst has the same mix
ROUTES = ("/api/graph", "/api/query", "/api/pages_mentioning", "/api/related")
END_TO_END_UNITS = {
    "setup_s": "s",
    "build_triples_per_s": "1/s",
    "refresh_s": "s",
    "query_ms_p50": "ms",
    "query_ms_tail": "ms",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
    "peak_mem_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
}


def _program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, *p))
        for p in (
            ("codebased_spark", "graph", "manifest.py"),
            ("codebased_spark", "graph", "views.py"),
            ("jobs", "serve_graph.py"),
        )
    )


def _prepare_env() -> None:
    for d in ("tmp", "spark-local", "graphs", "runs", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # a fixed heap, so hosts with different free memory run the same JVM
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    # the launcher JVM too: no perf-data file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _percentiles(lat_ms: list[float]) -> tuple[float, float, int]:
    """(p50, tail, tail percentile): the tail is the highest whole
    percentile with at least ten samples above it (nearest rank)."""
    xs = sorted(lat_ms)
    n = len(xs)

    def at(p):
        return xs[max(0, math.ceil(p / 100.0 * n) - 1)]

    pct = max(50, (100 * (n - 10)) // n) if n > 10 else 50
    return at(50), at(pct), pct


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Tally:
    """Attempted/failed counts per kind, plus failure notes."""

    KINDS = ("builds", "rounds", "queries", "checks")

    def __init__(self) -> None:
        self.att = dict.fromkeys(self.KINDS, 0)
        self.fail = dict.fromkeys(self.KINDS, 0)
        self.notes: list[str] = []

    def record(self, kind: str, ok: bool, note: str = "") -> bool:
        self.att[kind] += 1
        if not ok:
            self.fail[kind] += 1
            self.notes.append(f"{kind}: {note}")
        return ok


class Bench:
    def __init__(self, args, inputs_dir: str, meta: dict) -> None:
        self.args = args
        self.inputs = inputs_dir
        self.meta = meta
        self.plan = PLANS[args.workload]
        self.tally = Tally()
        self.nproc = _nproc()
        self.n_buckets = N_BUCKETS
        self.graphs = os.path.join(WORK, "graphs", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.recrawl = "pages_1" in meta["n_pages"]
        self.final_pages = "pages_1" if self.recrawl else "pages_0"

    def path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    # -- setup -----------------------------------------------------------

    def start(self) -> None:
        from codebased_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "tmp", "warehouse"),
        }
        if self.args.trace:
            self.event_dir = os.path.join(WORK, "eventlog", f"{os.getpid()}")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            "kgperf", master=f"local[{self.nproc}]", shuffle_partitions=self.nproc,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from spans import Tracer

        self.tracer = Tracer(self.spark.sparkContext, engine=bool(self.args.trace))

    def register(self) -> float:
        """Register the inputs: read the crawl and the gazetteer and fetch
        the alias vocabulary every pipeline call needs. Returns seconds."""
        from codebased_spark.link.alias import build_alias_table

        t0 = time.perf_counter()
        self.pages0 = self.spark.read.parquet(self.path("pages_0"))
        self.gaz = self.spark.read.parquet(self.path("gazetteer"))
        self.surfaces = [
            r.alias_key for r in build_alias_table(self.gaz).select("alias_key").collect()
        ]
        return time.perf_counter() - t0

    # -- operations ------------------------------------------------------

    def build(self, pages_name: str, out: str) -> float | None:
        """One fresh build into an empty directory: committed edges/s."""
        from codebased_spark.graph.manifest import run_partitioned

        shutil.rmtree(out, ignore_errors=True)
        pages = self.spark.read.parquet(self.path(pages_name))
        try:
            with self.tracer.span("graph.manifest.build", wall_start=time.time()) as sp:
                run_partitioned(self.spark, pages, self.gaz, out,
                                n_buckets=N_BUCKETS, batch_size=N_BUCKETS)
        except Exception as e:  # noqa: BLE001 - counted and reported
            self.tally.record("builds", False, f"{pages_name}: {e!r}"[:300])
            return None
        self.tally.record("builds", True)
        from oracle import GraphOracle

        o = GraphOracle(out)
        n = o.n_edges()
        o.close()
        sp["edges"] = n
        sp["bytes"] = _dir_bytes(out)
        if self.args.trace:
            import pyarrow.parquet as pq

            sp["commits"] = sorted(set(pq.read_table(
                os.path.join(out, "manifest"), columns=["committed_at"]
            ).column("committed_at").to_pylist()))
        return n / sp["dur"]

    def refresh(self, snapshot_path: str, out: str) -> float | None:
        """One recrawl: snapshot on disk -> committed and views re-registered;
        returns its seconds."""
        from codebased_spark.graph.manifest import incremental_update
        from codebased_spark.graph.views import register_views

        t0 = time.perf_counter()
        try:
            pages = self.spark.read.parquet(snapshot_path)
            with self.tracer.span("graph.manifest.refresh") as sp:
                rep = incremental_update(self.spark, pages, self.gaz, out,
                                         n_buckets=N_BUCKETS, batch_size=N_BUCKETS)
            with self.tracer.span("graph.views.register"):
                register_views(self.spark, out_dir=out)
        except Exception as e:  # noqa: BLE001 - counted and reported
            self.tally.record("rounds", False, repr(e)[:300])
            return None
        self.tally.record("rounds", True)
        sp["buckets"] = sorted(rep.buckets_processed)
        return time.perf_counter() - t0

    def noop_snapshot(self, k: int) -> str:
        """A recrawl that found every page unchanged, written fresh."""
        d = os.path.join(self.graphs, f"recrawl-{k}")
        shutil.copytree(self.path("pages_0"), d)
        return d

    # -- serving ---------------------------------------------------------

    def start_server(self) -> None:
        from http.server import HTTPServer

        spec = importlib.util.spec_from_file_location(
            "serve_graph", os.path.join(ROOT, "jobs", "serve_graph.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        base = mod.make_handler(self.spark)
        sc = self.spark.sparkContext
        engine = bool(self.args.trace)

        class Handler(base):
            def handle_one_request(self):
                if engine:
                    sc.setJobGroup("graph.views", "graph.views")
                super().handle_one_request()

        self.server = HTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.server.server_address[1]
        self.server_thread = threading.Thread(
            target=self.server.serve_forever, kwargs={"poll_interval": 0.05}, daemon=True
        )
        self.server_thread.start()

    def stop_server(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.server_thread.join()

    def _query_names(self) -> tuple[list[str], list[float]]:
        """Entity names, Zipf-weighted by their rank in mention count."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        g = pq.read_table(self.path(self.golden_name()))
        g = g.filter(pc.equal(g["pred"], "MENTIONS"))
        counts = g.group_by("obj").aggregate([("url", "count")]).to_pydict()
        gaz = pq.read_table(self.path("gazetteer")).to_pydict()
        names = {c: s for s, c, w in zip(gaz["surface_form"], gaz["canonical_id"], gaz["weight"]) if w == 1.0}
        ranked = sorted(
            ((n, c) for c, n in zip(counts["obj"], counts["url_count"]) if c in names),
            key=lambda t: (-t[0], t[1]),
        )
        picked = [names[c] for _, c in ranked]
        weights = [1.0 / (r + 1) for r in range(len(picked))]
        return picked, weights

    def golden_name(self) -> str:
        return "golden_1" if self.recrawl else "golden_0"

    def serve(self, duration_s: float, min_requests: int) -> list[dict]:
        """Closed loop, one client: the next request is sent only after
        the previous answer arrived."""
        import random

        from oracle import QUERY_TEMPLATES
        from probe import request

        rng = random.Random(self.args.seed * 7919 + 17)
        names, weights = self._query_names()
        out = []
        t_end = time.perf_counter() + duration_s
        while len(out) < min_requests or time.perf_counter() < t_end or len(out) % len(ROUTES):
            route = ROUTES[len(out) % len(ROUTES)]
            name = rng.choices(names, weights)[0]
            ordered = False
            if route == "/api/graph":
                payload = None
            elif route == "/api/query":
                sql, ordered = QUERY_TEMPLATES[rng.randrange(len(QUERY_TEMPLATES))]
                payload = {"sql": sql.format(name=name)}
            else:
                payload = {"entity": name}
            try:
                status, body, dt = request(self.port, route, payload)
            except OSError as e:
                status, body, dt = -1, repr(e), FAILED_REQUEST_MS / 1000.0
            ok = status == 200
            self.tally.record("queries", ok, f"{route} -> {status}")
            out.append({
                "route": route, "payload": payload, "ordered": ordered,
                "status": status, "body": body,
                "ms": dt * 1000.0 if ok else FAILED_REQUEST_MS,
            })
        return out

    # -- checks ----------------------------------------------------------

    def check(self, name: str, ok: bool, note: str = "") -> bool:
        return self.tally.record("checks", bool(ok), f"{name}: {note}")

    def graph_sets(self, out: str):
        from codebased_spark.graph.manifest import read_graph

        nodes, edges = read_graph(self.spark, out)
        return (
            {r.id for r in nodes.select("id").collect()},
            {(r.src, r.dst, r.rel_type) for r in edges.select("src", "dst", "rel_type").collect()},
        )

    def text_mismatches(self) -> tuple[int, int]:
        """(urls whose extracted text differs from the expected, urls)."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from codebased_spark.extract.html_text import with_text

        want = dict(zip(*pq.read_table(self.path("text_" + self.final_pages[-1])).to_pydict().values()))
        got = {
            r.url: r.sha
            for r in with_text(self.spark.read.parquet(self.path(self.final_pages)), "html", "text")
            .select("url", F.sha2("text", 256).alias("sha")).collect()
        }
        bad = sum(1 for u, s in want.items() if got.get(u) != s) + len(got.keys() - want.keys())
        return bad, len(want)

    @staticmethod
    def oracle_view(out: str, served: list[dict]) -> dict:
        """The DuckDB oracle's reading of a graph and its answer to every
        distinct served request."""
        from oracle import GraphOracle

        o = GraphOracle(out)
        try:
            answers: dict[str, tuple] = {}
            for q in served:
                key = json.dumps([q["route"], q["payload"], q["ordered"]], sort_keys=True)
                if q["status"] == 200 and key not in answers:
                    answers[key] = o.answer(q["route"], q["payload"], q["ordered"])
            return {
                "node_ids": o.node_ids(), "edges": o.edge_set(),
                "ambiguous": o.ambiguous_ids(), "answers": answers,
            }
        finally:
            o.close()

    def checks(self, res: dict) -> None:
        """Every check after measurement; the two Spark reads run beside
        the DuckDB oracle, and results are tallied on this thread."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        from oracle import precision_recall, same_answer, served_rows

        a = res["graph"]
        scratch = self.recrawl and self.args.trace
        with ThreadPoolExecutor(3) as ex:
            text = ex.submit(self.text_mismatches)
            sets_a = ex.submit(self.graph_sets, a)
            sets_b = ex.submit(self.graph_sets, os.path.join(self.graphs, "B")) if scratch else None
            view = self.oracle_view(a, res["served"])
            bad, n_urls = text.result()
            node_ids, edges = sets_a.result()
            ref = sets_b.result() if scratch else None
        self.check("text_sha256", bad == 0, f"{bad} of {n_urls} urls differ")
        if scratch:
            self.check("incremental_equals_scratch_nodes", node_ids == ref[0],
                       f"{len(node_ids ^ ref[0])} ids differ")
            self.check("incremental_equals_scratch_edges", edges == ref[1],
                       f"{len(edges ^ ref[1])} edges differ")
        if not self.recrawl:
            # the build was from scratch on the same content, so the
            # recrawled graph must still be exactly that build's graph
            self.check("noop_recrawl_keeps_graph",
                       self.sets_after_build == (view["node_ids"], view["edges"]))
        g = pq.read_table(self.path(self.golden_name())).to_pydict()
        p, r = precision_recall(edges, set(zip(g["subj"], g["obj"], g["pred"])))
        self.check("triple_precision", p >= 0.95, f"{p:.4f}")
        self.check("triple_recall", r >= 0.95, f"{r:.4f}")
        self.check("oracle_nodes_match_read_graph", view["node_ids"] == node_ids)
        self.check("oracle_edges_match_read_graph", view["edges"] == edges)
        self.check("node_names_unambiguous", view["ambiguous"] == 0, f"{view['ambiguous']} ids")
        for q in res["served"]:
            if q["status"] != 200:
                continue
            key = json.dumps([q["route"], q["payload"], q["ordered"]], sort_keys=True)
            want, ordered = view["answers"][key]
            self.check(
                "served_answer", same_answer(served_rows(q["route"], q["body"]), want, ordered),
                f"{q['route']} {q['payload']}",
            )
        res["precision"], res["recall"] = p, r
        html_bytes = self.meta["html_bytes"][self.final_pages]
        stored = sum(_dir_bytes(os.path.join(a, t)) for t in ("nodes", "edges", "manifest"))
        res["stored_ratio"] = stored / html_bytes

    # -- the workload ----------------------------------------------------

    def run(self) -> dict:
        from probe import PssSampler, stop_spark

        args = self.args
        t_inputs = self.meta["load_s"]
        with PssSampler() as pss:
            self.start()
            t_session = time.perf_counter() - T_PROCESS - t_inputs
            reps = [self.register() for _ in range(SETUP_REPS)]
            setup_s = t_session + statistics.median(reps)
            try:
                walk = {}
                if args.trace:
                    from walk import layer_walk

                    t_walk = time.perf_counter()
                    walk = layer_walk(self)
                    walk["walk_s"] = time.perf_counter() - t_walk
                res = self.measure(pss)
                res["walk"] = walk
                res["setup_s"] = setup_s
                res["setup_reps"] = reps
                self.checks(res)
            finally:
                if getattr(self, "server", None) is not None:
                    self.stop_server()
                t_stop = time.perf_counter()
                stop_spark(self.spark)
                res_stop = time.perf_counter() - t_stop
        res["stop_s"] = res_stop
        return res

    def measure(self, pss) -> dict:
        a = os.path.join(self.graphs, "A")
        builds, refreshes = [], []
        rate = self.build("pages_0", a)
        builds.append(rate)
        if not self.recrawl:
            v = self.oracle_view(a, [])
            self.sets_after_build = (v["node_ids"], v["edges"])
        if self.recrawl:
            refreshes.append(self.refresh(self.path("pages_1"), a))
        else:
            t_end = time.perf_counter() + self.args.seconds * self.plan["noop_share"]
            k = 0
            while k < self.plan["min_noop_rounds"] or time.perf_counter() < t_end:
                refreshes.append(self.refresh(self.noop_snapshot(k), a))
                k += 1
        if self.args.trace:
            from walk import after_rounds

            after_rounds(self, a)
        self.start_server()
        serve_s = self.args.seconds * (1.0 - self.plan["noop_share"])
        if self.args.trace:
            served = self.serve(0.0, TRACED_REQUESTS)
        else:
            served = self.serve(serve_s, self.plan["min_requests"])
        peak_mb = pss.peak_mb
        if self.recrawl and self.args.trace:
            # the from-scratch reference build of the recrawl; it costs a
            # full build, so only traced runs make it (see METRICS.md)
            self.build("pages_1", os.path.join(self.graphs, "B"))
        return {
            "graph": a, "builds": builds, "refreshes": refreshes, "served": served,
            "peak_mem_mb": peak_mb,
        }


def _metrics(res: dict) -> tuple[dict, dict]:
    lat = [q["ms"] for q in res["served"]]
    p50, tail, pct = _percentiles(lat)
    builds = [b if b is not None else 0.0 for b in res["builds"]]
    refreshes = [r if r is not None else FAILED_REQUEST_MS / 1000.0 for r in res["refreshes"]]
    values = {
        "setup_s": res["setup_s"],
        "build_triples_per_s": statistics.median(builds),
        "refresh_s": statistics.median(refreshes),
        "query_ms_p50": p50,
        "query_ms_tail": tail,
        "triple_precision": res["precision"],
        "triple_recall": res["recall"],
        "peak_mem_mb": res["peak_mem_mb"],
        "stored_bytes_per_input_byte": res["stored_ratio"],
    }
    stated = {
        "query_ms_tail_percentile": pct,
        "query_samples": len(lat),
        "build_samples": len(builds),
        "refresh_rounds": len(refreshes),
    }
    return values, stated


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(PLANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"kgperf: the program's sources are not under {ROOT}", file=sys.stderr)
        return 2
    _prepare_env()
    from gen import load_or_generate

    t0 = time.perf_counter()
    inputs_dir, meta = load_or_generate(WORK, args.workload, args.seed)
    meta["load_s"] = time.perf_counter() - t0
    bench = Bench(args, inputs_dir, meta)
    try:
        res = bench.run()
    finally:
        shutil.rmtree(bench.graphs, ignore_errors=True)
    wall_s = time.perf_counter() - T_PROCESS - meta["load_s"]
    values, stated = _metrics(res)
    tally = bench.tally
    detail = {
        "kgperf": args.workload, "seed": args.seed, "trace": args.trace,
        "wall_s": wall_s, "inputs_s": meta["load_s"], "generated_s": meta["gen_s"],
        "inputs": {k: meta[k] for k in ("n_pages", "html_bytes", "gazetteer_rows", "changes")},
        "attempted_by_kind": tally.att, "failed_by_kind": tally.fail,
        "failures": tally.notes[:20], **stated,
        "setup_reps_s": res["setup_reps"], "build_rates": res["builds"],
        "build_s": [round(sp["dur"], 3) for sp in bench.tracer.spans if sp["name"] == "graph.manifest.build"],
        "refreshes": res["refreshes"], "stop_s": res["stop_s"],
    }
    record = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}.json")
    if args.trace:
        from walk import per_layer

        metrics = per_layer(bench, res, wall_s, os.path.join(WORK, "runs"))
        bench.tracer.write(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"))
        units = {k: u for k, (_, u) in metrics.items()}
        values = {k: v for k, (v, _) in metrics.items()}
    else:
        with open(record, "w") as f:
            json.dump({"wall_s": wall_s}, f)
        units = END_TO_END_UNITS
    print(json.dumps(detail, default=str))
    attempted = sum(tally.att.values())
    failed = sum(tally.fail.values())
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in values},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
