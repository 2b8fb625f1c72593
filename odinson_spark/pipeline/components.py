"""Connected components via an iterative DataFrame algorithm.

Canonicalization stage: link-edges from LSH blocking partition surfaces into
equivalence classes; each class takes min(node_id) as its canonical id.

:func:`connected_components_star` — alternating large-star/small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14):
converges in O(log n) rounds regardless of diameter, so a path-shaped
component of length 10^6 still finishes. Each round is two self-aggregating
shuffles on node id; exiting at ``max_iterations`` without convergence
raises (silent non-convergence would split one entity class into several
canonical ids).

Lineage is truncated per round via localCheckpoint so the plan doesn't grow
unboundedly; at 10^12-file scale the same loop runs with checkpointing to
durable storage instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u})."""
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge high→low; for each node u connect all of its smaller
    neighbors (and u itself) to min(Γ≤(u) ∪ {u})."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    pairs = oriented.join(mins, "u")
    child_edges = pairs.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return child_edges.union(self_edges).distinct()


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Large-star/small-star connected components: O(log n) rounds regardless
    of component diameter. Returns (id, component), component = min id.

    Convergence = the oriented edge set is stable across a round (every
    component is then a star centered at its min node). ``max_iterations``
    is a safety net far above log2 of any real graph; hitting it raises.
    """
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # one action per round: both directions of the set difference in a
        # single job instead of two counts
        diff = e2.exceptAll(e).union(e.exceptAll(e2)).limit(1).count()
        e = e2
        if diff == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} rounds"
        )
    # stars point child → center(min); isolated vertices label themselves
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    ids = vertices.select(F.col(id_col).alias("id"))
    return (
        ids.join(labels, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
