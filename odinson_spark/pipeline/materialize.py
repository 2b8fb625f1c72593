"""Graph materialization: triples → canonical node/edge tables with lineage
and per-partition metrics (north-rule stage 4).

Node identity: xxhash64(lower(surface), label) — deterministic, computed
JVM-side, no shuffle beyond the dedup aggregation. Canonicalization input
comes from the linking stage (surface equivalence classes).
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import connected_components_star
from .linking import lsh_candidate_pairs, score_pairs


def _node_id(surface_col, label_col):
    return F.xxhash64(F.lower(surface_col), F.coalesce(label_col, F.lit("")))


def build_graph(
    triples: DataFrame,
    link_threshold: float = 0.7,
    n_hashes: int | None = None,
    bands: int | None = None,
    n_surfaces: int | None = None,
) -> Tuple[DataFrame, DataFrame]:
    """triples → (nodes, edges) with canonical ids.

    Stages: surface dedup (one shuffle) → LSH linking (one shuffle) →
    connected components (iterative) → id rewrite (broadcast join: the
    canonical-map is tiny relative to triples).

    ``n_hashes``/``bands`` default to None → derived inside
    :func:`lsh_candidate_pairs` from the surface count and
    ``link_threshold`` (no caller tuning at any scale); ``n_surfaces``
    skips that derivation count when the caller knows it."""
    subj = triples.select(
        F.col("subj_text").alias("surface"), F.col("label").alias("label")
    )
    obj = triples.select(
        F.col("obj_text").alias("surface"), F.col("label").alias("label")
    )
    surfaces = (
        subj.unionByName(obj)
        .filter(F.col("surface").isNotNull() & (F.length("surface") > 0))
        .groupBy("surface", "label")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .withColumn("node_id", _node_id(F.col("surface"), F.col("label")))
    )
    # entity linking: near-duplicate surfaces become one canonical node
    pairs = lsh_candidate_pairs(
        surfaces, id_col="node_id", text_col="surface", n_hashes=n_hashes,
        bands=bands, threshold=link_threshold, n_rows=n_surfaces,
    )
    links = score_pairs(pairs, surfaces, "node_id", "surface", threshold=link_threshold)
    # large-star/small-star: O(log n) rounds regardless of link-chain
    # diameter
    comp = connected_components_star(
        surfaces.select("node_id"), links, id_col="node_id"
    ).withColumnRenamed("component", "canonical_id")
    nodes = surfaces.join(F.broadcast(comp), surfaces["node_id"] == comp["id"]).select(
        "node_id", "canonical_id", "surface", "label", "n_mentions"
    )
    canon = nodes.select("node_id", "canonical_id")
    edges = (
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
        .select(
            "src_id",
            "dst_id",
            "pred",
            F.col("rule"),
            "doc_id",
            "sent_id",
            "content_sha",
        )
    )
    return nodes, edges


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
