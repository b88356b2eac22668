"""Ad-hoc SQL query surface over the materialized graph.

Reference analog: the single most-used entry point of the reference — type
a query, get rows (`codebased query`, cli.py:231-313; service.py:91-148
runs it against the embedded store with a read-only guard and an injected
row limit, cli.py:252-253). SURVEY.md §3.2: "spark.sql() over nodes/edges
temp views is the entire layer" — Catalyst is the query planner, so the
only code needed here is view registration, the auto-LIMIT guard, and the
canned query library (QUERY_LIBRARY.md analogs restated over web pages).

Read-only is structural: temp views over parquet/Iceberg reads cannot
write (F5 — the reference needed an explicit guard because Cypher mixes
DML into the query language; SQL SELECT over views does not).

Views over a committed graph directory are cached (Spark SQL's in-memory
columnar cache), so a served request scans the deduplicated rows instead
of re-running read_graph's manifest gating and dedup; see register_views
for the cache lifecycle.
"""

from __future__ import annotations

import re
import weakref

from pyspark.sql import DataFrame, SparkSession

from codebased_spark.graph.manifest import read_graph

DEFAULT_LIMIT = 100

# session -> the (nodes, edges) frames its last register_views(out_dir=...)
# cached; only these are ever unpersisted here. Keyed like the temp views
# themselves, which are per-session state.
_CACHED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

_HAS_LIMIT = re.compile(r"\blimit\s+\d+(\s+offset\s+\d+)?\s*;?\s*$", re.I)
_IS_SELECT = re.compile(r"^\s*(select|with)\b", re.I)
# trailing -- line comments (appending LIMIT after one would comment it out)
_TRAILING_COMMENT = re.compile(r"(\s*--[^\n]*)+\s*$")
# top-level DML/DDL forms Spark SQL would happily parse after a WITH list —
# the F5 read-only guard is the stated contract, so reject them explicitly
_DML = re.compile(
    r"\b(insert\s+into|insert\s+overwrite|delete\s+from|update\s+\w+\s+set"
    r"|merge\s+into|drop\s+(table|view|database)|create\s+(or\s+replace\s+)?"
    r"(table|view|temporary)|truncate\s+table|alter\s+table)\b",
    re.I,
)
_STRIP_FOR_GUARD = re.compile(
    r"/\*.*?\*/"      # block comments (INSERT /*x*/ INTO would split the token pair)
    r"|--[^\n]*"      # line comments
    r"|'(?:[^'\\]|\\.)*'",  # single-quoted literals ("... LIKE '%drop table%'")
    re.S,
)


def _guard_view(q: str) -> str:
    """Query text as seen by the read-only guard: comments become spaces
    (so keywords split by a comment re-join for matching) and string
    literals are blanked (so DML phrases in data predicates don't
    false-positive). Applied repeatedly to a fixpoint so nested comment
    tricks can't smuggle tokens through one stripping pass."""
    prev = None
    while prev != q:
        prev = q
        q = _STRIP_FOR_GUARD.sub(" ", q)
    return q


def register_views(
    spark: SparkSession,
    out_dir: str | None = None,
    nodes: DataFrame | None = None,
    edges: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Create `nodes` / `edges` temp views from a committed graph directory
    (manifest-gated, deduped — read_graph) or from in-memory DataFrames.

    Cache lifecycle of an `out_dir` registration:

    - lazy: registration marks read_graph's two frames for caching and
      runs no Spark job of its own; the first query that scans a view
      builds its in-memory columnar copy, and every later query scans
      that copy;
    - released on re-register: every call first unpersists the frames the
      session's previous `out_dir` call cached, and does so BEFORE
      re-reading. Partition deletes go through the Hadoop FileSystem API,
      which does not refresh Spark's cache, and the cache manager matches
      a parquet relation by its root path, so a re-read of the same
      directory would otherwise be answered from the stale copy. Call
      this again after every update of the directory; until then the
      views (and any read_graph of it) serve the cached rows;
    - caller frames (`nodes=`, `edges=`) are registered as given: they are
      never cached nor unpersisted here, persisting them is the caller's
      choice.
    """
    if (nodes is None or edges is None) and out_dir is None:
        raise ValueError("register_views needs out_dir or nodes+edges")
    for df in _CACHED.pop(spark, ()):
        df.unpersist()
    if nodes is None or edges is None:
        nodes, edges = (df.cache() for df in read_graph(spark, out_dir))
        _CACHED[spark] = (nodes, edges)
    nodes.createOrReplaceTempView("nodes")
    edges.createOrReplaceTempView("edges")
    return nodes, edges


def sql(spark: SparkSession, query: str, limit: int | None = DEFAULT_LIMIT) -> DataFrame:
    """Run an ad-hoc SELECT over the registered views with an auto-LIMIT.

    Mirrors cli.py:252-253: a bare exploratory query gets `LIMIT {limit}`
    appended unless it already ends in one; pass ``limit=None`` for the
    full result (aggregates, exports). Non-SELECT statements are rejected
    (F5 read-only guard; structural here, but explicit beats implicit).
    """
    q = _TRAILING_COMMENT.sub("", query.strip()).rstrip().rstrip(";")
    guard = _guard_view(q)
    if not _IS_SELECT.match(guard.strip()):
        raise ValueError("only SELECT/WITH queries are allowed on the graph views")
    if _DML.search(guard):
        raise ValueError("DML/DDL is not allowed on the graph views (read-only)")
    if limit is not None and not _HAS_LIMIT.search(q):
        q = f"{q} LIMIT {limit}"
    return spark.sql(q)


# ---------------------------------------------------------------------------
# canned query library (QUERY_LIBRARY.md analogs, code symbols -> web KG)
# ---------------------------------------------------------------------------


def pages_mentioning(spark: SparkSession, entity_name: str, limit: int | None = None) -> DataFrame:
    """Pages that mention an entity by (canonical) name — the analog of
    'callers of X' (QUERY_LIBRARY.md:28-34: incoming CALLS edges)."""
    df = spark.sql(
        """
        SELECT e.src AS page_id, n_src.name AS url
        FROM edges e
        JOIN nodes n_dst ON e.dst = n_dst.id
        JOIN nodes n_src ON e.src = n_src.id
        WHERE e.rel_type = 'MENTIONS' AND n_dst.name = :name
        ORDER BY url
        """,
        args={"name": entity_name},
    )
    return df.limit(limit) if limit is not None else df


def related_entities(spark: SparkSession, entity_name: str, rel_type: str | None = None) -> DataFrame:
    """Entities directly related to X via typed edges (both directions) —
    the analog of 'subclasses / implementations of X'
    (QUERY_LIBRARY.md:104-108: INHERITS/IMPLEMENTS neighbors)."""
    rel_filter = "AND e.rel_type = :rel" if rel_type else ""
    args = {"name": entity_name}
    if rel_type:
        args["rel"] = rel_type
    return spark.sql(
        f"""
        SELECT DISTINCT
               CASE WHEN n1.name = :name THEN n2.name ELSE n1.name END AS related,
               e.rel_type,
               CASE WHEN n1.name = :name THEN 'out' ELSE 'in' END AS direction
        FROM edges e
        JOIN nodes n1 ON e.src = n1.id
        JOIN nodes n2 ON e.dst = n2.id
        WHERE (n1.name = :name OR n2.name = :name)
          AND n1.name <> n2.name
          AND e.rel_type NOT IN ('LINKS_TO', 'MENTIONS') {rel_filter}
        """,
        args=args,
    )


def impact(spark: SparkSession, entity_name: str, max_hops: int = 3) -> DataFrame:
    """Everything reachable from X in <= max_hops typed edges — the analog
    of the impact-analysis `*1..3` variable-length pattern
    (QUERY_LIBRARY.md:217-225). Bounded BFS as iterated joins: each round
    is one equi-join on the frontier (tiny) against the edge view — the
    same bounded-path shape as graph/paths.k_hop_reach."""
    from pyspark.sql import functions as F

    edges = spark.table("edges").where(
        ~F.col("rel_type").isin("LINKS_TO", "MENTIONS")
    ).select("src", "dst")
    nodes = spark.table("nodes")
    start = nodes.where(F.col("name") == entity_name).select(
        F.col("id").alias("node")
    )
    # each hop's frontier and `seen` are checkpointed: without the cut,
    # hop k's plan nests every earlier hop and isEmpty() re-runs them all
    seen = start.withColumn("hops", F.lit(0)).localCheckpoint()
    frontier = start
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
        ).localCheckpoint()
        if nxt.isEmpty():
            break
        seen = seen.unionByName(nxt.withColumn("hops", F.lit(hop))).localCheckpoint()
        frontier = nxt
    return (
        seen.where(F.col("hops") > 0)
        .join(nodes, seen.node == nodes.id)
        .select(F.col("name").alias("affected"), "type", "hops")
        .orderBy("hops", "affected")
    )
