"""Independent DuckDB oracle over a committed graph directory.

Reads the parquet the program committed and applies the gating and dedup
that ``read_graph`` documents, without using any of the program's code:

- a bucket is committed iff its latest manifest row (by committed_at) has
  a non-NULL content_hash (a NULL hash is a tombstone);
- nodes: one row per id, the real row winning over an ExternalPage stub,
  then the smallest type;
- edges: one row per (src, dst, rel_type).

Served answers are then recomputed here and compared with what the
server returned: ordered answers as lists, the rest as multisets.
"""

from __future__ import annotations

from collections import Counter

import duckdb

_ROUTE_GRAPH = "/api/graph"
_ROUTE_QUERY = "/api/query"
_ROUTE_PAGES = "/api/pages_mentioning"
_ROUTE_RELATED = "/api/related"

# /api/query templates: (sql, ordered). {name} is an entity name; names
# are letters and spaces only, so inlining them is safe.
QUERY_TEMPLATES = (
    ("SELECT rel_type, count(*) AS n FROM edges GROUP BY rel_type", False),
    (
        "SELECT n.type, count(*) AS n FROM edges e JOIN nodes n ON e.dst = n.id "
        "WHERE e.rel_type = 'MENTIONS' GROUP BY n.type",
        False,
    ),
    (
        "SELECT e.rel_type, count(*) AS n FROM edges e JOIN nodes s ON e.src = s.id "
        "WHERE s.name = '{name}' GROUP BY e.rel_type",
        False,
    ),
    (
        "SELECT n.name, count(*) AS pages FROM edges e JOIN nodes n ON e.dst = n.id "
        "WHERE e.rel_type = 'MENTIONS' GROUP BY n.name ORDER BY pages DESC, n.name LIMIT 10",
        True,
    ),
)
_AUTO_LIMIT = 100  # the query route appends LIMIT 100 to a query without one


class GraphOracle:
    def __init__(self, graph_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        g = graph_dir.replace("'", "''")
        self.con.execute(
            f"""
            CREATE TEMP TABLE committed AS
            SELECT bucket FROM (
                SELECT bucket, content_hash,
                       row_number() OVER (PARTITION BY bucket ORDER BY committed_at DESC) AS rn
                FROM read_parquet('{g}/manifest/*.parquet'))
            WHERE rn = 1 AND content_hash IS NOT NULL
            """
        )
        self.con.execute(
            f"""
            CREATE TEMP TABLE raw_nodes AS
            SELECT id, name, type,
                   CASE WHEN type = 'ExternalPage' THEN 1 ELSE 0 END AS prio
            FROM read_parquet('{g}/nodes/*/*.parquet', hive_partitioning = true)
            WHERE bucket IN (SELECT bucket FROM committed)
            """
        )
        self.con.execute(
            """
            CREATE TEMP TABLE nodes AS
            SELECT id, name, type FROM (
                SELECT *, row_number() OVER (PARTITION BY id ORDER BY prio, type) AS rn
                FROM raw_nodes)
            WHERE rn = 1
            """
        )
        self.con.execute(
            f"""
            CREATE TEMP TABLE edges AS
            SELECT DISTINCT src, dst, rel_type
            FROM read_parquet('{g}/edges/*/*.parquet', hive_partitioning = true)
            WHERE bucket IN (SELECT bucket FROM committed)
            """
        )

    def close(self) -> None:
        self.con.close()

    def ambiguous_ids(self) -> int:
        """Ids whose winning rows disagree on name: an answer by name would
        then depend on which row the dedup kept."""
        return self.con.execute(
            """
            SELECT count(*) FROM (
                SELECT id FROM (
                    SELECT id, name,
                           rank() OVER (PARTITION BY id ORDER BY prio, type) AS rk
                    FROM raw_nodes)
                WHERE rk = 1 GROUP BY id HAVING count(DISTINCT name) > 1)
            """
        ).fetchone()[0]

    def node_ids(self) -> set[str]:
        return {r[0] for r in self.con.execute("SELECT id FROM nodes").fetchall()}

    def edge_set(self) -> set[tuple[str, str, str]]:
        return set(self.con.execute("SELECT src, dst, rel_type FROM edges").fetchall())

    def n_edges(self) -> int:
        return self.con.execute("SELECT count(*) FROM edges").fetchone()[0]

    # -- served answers --------------------------------------------------

    def answer(self, route: str, payload: dict | None, ordered: bool = False):
        """(expected rows as tuples, ordered?) for one request; `ordered`
        applies to the query route, whose SQL the client chose."""
        q = self.con.execute
        if route == _ROUTE_GRAPH:
            nodes = q("SELECT type, count(*) FROM nodes GROUP BY 1").fetchall()
            edges = q("SELECT rel_type, count(*) FROM edges GROUP BY 1").fetchall()
            return ([("n",) + r for r in nodes] + [("e",) + r for r in edges]), False
        if route == _ROUTE_PAGES:
            rows = q(
                """
                SELECT e.src, s.name FROM edges e
                JOIN nodes d ON e.dst = d.id JOIN nodes s ON e.src = s.id
                WHERE e.rel_type = 'MENTIONS' AND d.name = ? ORDER BY s.name
                """,
                [payload["entity"]],
            ).fetchall()
            return rows, True
        if route == _ROUTE_RELATED:
            name = payload["entity"]
            rows = q(
                """
                SELECT DISTINCT d.name, e.rel_type, 'out' FROM edges e
                JOIN nodes s ON e.src = s.id JOIN nodes d ON e.dst = d.id
                WHERE s.name = ? AND d.name <> ? AND e.rel_type NOT IN ('LINKS_TO', 'MENTIONS')
                UNION
                SELECT DISTINCT s.name, e.rel_type, 'in' FROM edges e
                JOIN nodes s ON e.src = s.id JOIN nodes d ON e.dst = d.id
                WHERE d.name = ? AND s.name <> ? AND e.rel_type NOT IN ('LINKS_TO', 'MENTIONS')
                """,
                [name, name, name, name],
            ).fetchall()
            return rows, False
        if route == _ROUTE_QUERY:
            sql = payload["sql"]
            if " limit " not in sql.lower():
                sql = f"{sql} LIMIT {_AUTO_LIMIT}"
            return q(sql).fetchall(), ordered
        raise ValueError(route)


def served_rows(route: str, body) -> list[tuple]:
    """The server's JSON answer as tuples in column order."""
    if route == _ROUTE_GRAPH:
        return [("n", r["type"], r["n"]) for r in body["nodes_by_type"]] + [
            ("e", r["rel_type"], r["n"]) for r in body["edges_by_type"]
        ]
    return [tuple(r.values()) for r in body["rows"]]


def same_answer(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    if ordered:
        return got == want
    return Counter(got) == Counter(want)


def precision_recall(edges: set[tuple[str, str, str]], golden: set[tuple[str, str, str]]):
    tp = len(edges & golden)
    return tp / max(len(edges), 1), tp / max(len(golden), 1)
