"""Graph materialization: triples → canonical node/edge tables with lineage
and per-partition metrics (north-rule stage 4).

Node identity: xxhash64(lower(surface), label) — deterministic, computed
JVM-side; the surface table holds one row per node id. Canonicalization
(linking near-duplicate surfaces into classes) is sized to that table: up
to ``LOCAL_MAX_SURFACES`` surfaces it runs on the driver, above it as
distributed LSH blocking + scoring + large-star/small-star components.
"""

from __future__ import annotations

import logging
from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import connected_components_star
from .linking import canonicalize_local, lsh_candidate_pairs, score_pairs

logger = logging.getLogger(__name__)

# Largest surface table linked and canonicalized on the driver. Small tables
# pay the distributed route's per-job scheduling (46–60 Spark jobs, most of
# them star rounds); large ones outgrow the driver's one core and memory.
# build_graph plus one write of nodes and edges on a 4-core host (local[4]),
# near-duplicate identifier surfaces, driver vs distributed route:
#   10k surfaces:   3.6 s vs 10.8 s (canonicalize_local 0.55 s, 179 MB RSS)
#   50k surfaces:   6.7 s vs 15.9 s (2.4 s, 326 MB)
#   200k surfaces: 21.0 s vs 24.9 s (11.3 s, 894 MB)
# The routes meet a little above 200k on four cores, and more executors only
# speed up the distributed one, so the gate sits well below that.
LOCAL_MAX_SURFACES = 50_000


def _node_id(surface_col, label_col):
    return F.xxhash64(F.lower(surface_col), F.coalesce(label_col, F.lit("")))


def build_graph(
    triples: DataFrame, link_threshold: float = 0.7
) -> Tuple[DataFrame, DataFrame]:
    """triples → (nodes, edges) with canonical ids.

    Stages: surface table, one row per node id (one shuffle, checkpointed
    once) → canonical map (id → min id of its linked class) → id rewrite
    (broadcast join: the canonical map is tiny relative to triples).

    The canonical map is built on the driver by :func:`canonicalize_local`
    when the surface table has at most ``LOCAL_MAX_SURFACES`` rows, and
    otherwise by LSH blocking → exact scoring → ``connected_components_star``
    on the cluster; both give the same map. Surfaces that differ only in
    case share a node id and one row (min surface, min label, summed
    mentions)."""
    subj = triples.select(
        F.col("subj_text").alias("surface"), F.col("label").alias("label")
    )
    obj = triples.select(
        F.col("obj_text").alias("surface"), F.col("label").alias("label")
    )
    surfaces = (
        subj.unionByName(obj)
        .filter(F.col("surface").isNotNull() & (F.length("surface") > 0))
        .withColumn("node_id", _node_id(F.col("surface"), F.col("label")))
        .groupBy("node_id")
        .agg(
            F.min("surface").alias("surface"),
            F.min("label").alias("label"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
        .localCheckpoint(eager=True)
    )
    probe = surfaces.select("node_id", "surface").limit(LOCAL_MAX_SURFACES + 1).collect()
    if len(probe) <= LOCAL_MAX_SURFACES:
        logger.info("build_graph: driver route, %d surfaces", len(probe))
        # a pandas frame becomes an Arrow local relation; a list of rows
        # would start a Python worker to deserialize it
        comp = triples.sparkSession.createDataFrame(
            canonicalize_local(
                [r.node_id for r in probe], [r.surface for r in probe], link_threshold
            ),
            "id long, component long",
        )
    else:
        n = surfaces.count()
        logger.info("build_graph: distributed route, %d surfaces", n)
        # entity linking: near-duplicate surfaces become one canonical node
        pairs = lsh_candidate_pairs(
            surfaces, id_col="node_id", text_col="surface",
            threshold=link_threshold, n_rows=n,
        )
        links = score_pairs(pairs, surfaces, "node_id", "surface", threshold=link_threshold)
        # large-star/small-star: O(log n) rounds regardless of link-chain
        # diameter
        comp = connected_components_star(
            surfaces.select("node_id"), links, id_col="node_id"
        )
    comp = comp.withColumnRenamed("component", "canonical_id")
    nodes = surfaces.join(F.broadcast(comp), surfaces["node_id"] == comp["id"]).select(
        "node_id", "canonical_id", "surface", "label", "n_mentions"
    )
    return nodes, graph_edges(triples, nodes)


def graph_edges(triples: DataFrame, nodes: DataFrame) -> DataFrame:
    """triples → edges between canonical ids, looked up in ``nodes``'
    (node_id → canonical_id) map (broadcast joins: the map is small next to
    the triples). ``nodes`` is :func:`build_graph`'s output, fresh or read
    back from a stage checkpoint."""
    canon = nodes.select("node_id", "canonical_id")
    return (
        triples.withColumn("subj_node", _node_id(F.col("subj_text"), F.col("label")))
        .withColumn("obj_node", _node_id(F.col("obj_text"), F.col("label")))
        .join(
            F.broadcast(canon.withColumnRenamed("node_id", "subj_node").withColumnRenamed("canonical_id", "src_id")),
            "subj_node",
        )
        .join(
            F.broadcast(canon.withColumnRenamed("node_id", "obj_node").withColumnRenamed("canonical_id", "dst_id")),
            "obj_node",
        )
        .select("src_id", "dst_id", "pred", "rule", "doc_id", "sent_id", "content_sha")
    )


def with_lineage(df: DataFrame, stage: str, run_id: str) -> DataFrame:
    return (
        df.withColumn("_stage", F.lit(stage))
        .withColumn("_run_id", F.lit(run_id))
        .withColumn("_partition_id", F.spark_partition_id())
    )


def partition_metrics(df: DataFrame, stage: str) -> DataFrame:
    """Rows-per-partition metrics table (cheap observability at scale)."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .withColumn("stage", F.lit(stage))
    )
