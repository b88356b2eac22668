"""Connected components over alias edges — the canonicalization fixpoint.

Reference analog: the canonical-ID rewrite (extractor.py:204-233) is a ONE-hop
replacement (unresolved ref → resolved id). The north rule generalizes it to a
fixpoint: surface-form nodes and entity nodes joined by alias/same-as edges
collapse into components, and every member adopts the component's canonical
(minimum) id.

Algorithm: iterative minimum-label propagation over the symmetrized edge set —
each round every node takes min(own label, neighbors' labels); converges in
O(component diameter) rounds. Alias graphs are star/chain shaped (diameter
≤ ~6 in practice), so this beats the constant-factor-heavier large-star/
small-star variant here; for adversarial long-path graphs swap in
large-star/small-star (same DataFrame skeleton, different neighbor rule).

Scale notes (100 TB discipline):
- `localCheckpoint(eager=True)` per round truncates lineage — without it the
  plan doubles each round and the driver OOMs on plan serialization.
- labels and the symmetric edge list are co-partitioned by id once; each
  round's join reuses that partitioning (one shuffle per round, not three).
- convergence test is an aggregate (`count` of changed labels), not collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def min_labels(pairs) -> dict:
    """Union-find over `(a, b)` pairs: every node that appears maps to the
    minimum node of its component. Pure Python, for edge lists already on
    the driver."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        if r not in comp_min or node < comp_min[r]:
            comp_min[r] = node
    return {node: comp_min[find(node)] for node in parent}


def _cc_driver_side(e: DataFrame, rows=None) -> DataFrame:
    """Union-find on the driver for small graphs — identical output.

    The distributed loop costs ~3 Spark jobs per round; below the
    threshold that fixed cost dwarfs the work (an alias vocabulary is a
    few thousand edges even for a 10^12-row corpus), so collect + solve +
    parallelize is the right plan. Component label = min id, matching the
    distributed path bit-for-bit. `rows` lets the caller pass an
    already-collected edge list (the adaptive probe collects while
    counting, saving a job).
    """
    if rows is None:
        rows = e.collect()
    out = list(min_labels(rows).items())
    # explicit schema derived from the edge column type: an empty edge set
    # must return an empty frame, not raise cannot-infer-schema
    from pyspark.sql import types as T

    id_type = e.schema.fields[0].dataType
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("comp", id_type)]
    )
    return e.sparkSession.createDataFrame(out, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Return (id, component) where component = min node id in the component.

    Adaptive: edge sets under `driver_threshold` solve driver-side (one
    collect, zero iteration jobs); larger graphs run the distributed
    min-label loop. Both paths produce identical labels.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    )
    if driver_threshold:
        # ONE probe job: collect up to threshold+1 edges; if under the
        # threshold the rows ARE the union-find input (a count-then-
        # collect pair would pay two fixed job overheads for the common
        # vocabulary-sized case)
        probe = e.limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            return _cc_driver_side(e, rows=probe)
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .repartition(F.col("a"))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "b_id"), sym.b == F.col("b_id"))
            .groupBy(sym.a.alias("id"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias(
                    "comp"
                ),
                F.col("comp").alias("old_comp"),
            )
        ).localCheckpoint(eager=True)
        changed = new_labels.where(F.col("comp") != F.col("old_comp")).limit(1).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    return labels
