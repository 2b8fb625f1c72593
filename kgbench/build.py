"""Build phase: repos table → sentences → mentions → triples → nodes/edges.

:func:`run_pipeline` runs the stage sequence of ``tools/run_pipeline.py``
through ``CheckpointedPipeline`` and is what the untraced runs time.
:func:`run_traced` runs the same stages with a span around every call into
an ``odinson_spark`` module. Because Spark is lazy, it materializes each
layer's output at the layer's boundary (``localCheckpoint`` or the stage's
checkpoint write) so the work is charged to the layer that defined it, and
it opens ``build_graph`` up into its linking, components and materialize
calls, in ``build_graph``'s order.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from odinson_spark.lang.rules import RuleReader
from odinson_spark.pipeline.checkpoint import CheckpointedPipeline
from odinson_spark.pipeline.components import connected_components_star
from odinson_spark.pipeline.extract import (
    apply_prefilter,
    extract_mentions_df,
    tokenize_repos,
    triples_from_mentions,
)
from odinson_spark.pipeline.linking import lsh_candidate_pairs, score_pairs
from odinson_spark.pipeline.materialize import _node_id, build_graph, with_lineage

# Event rules walk the code-structure graph (>arg, <assign); the basic rules
# add matcher work that yields mentions but no triples.
GRAMMAR = """
rules:
  - name: assign-call
    type: event
    pattern: |
      trigger = [entity=CALL]
      subject = <assign [tag=IDENT]
      object = >arg [tag=IDENT]
  - name: assign-value
    label: Assign
    type: event
    pattern: |
      trigger = [norm="="]
      subject = <next [tag=IDENT]
      object = >next [tag=IDENT]
  - name: var-chain
    label: Follows
    type: event
    pattern: |
      trigger = [entity=VAR]
      next = >next [entity=VAR]
  - name: def-site
    label: Def
    type: basic
    pattern: |
      [norm=def] [entity=DEF]
  - name: return-call
    label: ReturnsCall
    type: basic
    pattern: |
      [norm=return] [entity=CALL] [norm="("]
  - name: compare
    label: Compare
    type: basic
    pattern: |
      [tag=IDENT] [norm=">"] [tag=NUM]
"""

LINK_THRESHOLD = 0.7
STAGES = ("sentences", "mentions", "triples", "nodes", "edges")


def compile_grammar():
    extractors, _ = RuleReader().compile_rules(GRAMMAR)
    return extractors


def run_pipeline(spark, repos_path: str, out_root: str, extractors, run_id: str):
    """The untraced stage sequence; returns the pipeline's read-back tables."""
    cp = CheckpointedPipeline(spark, out_root, run_id)
    sentences = cp.stage(
        "sentences",
        lambda: with_lineage(tokenize_repos(spark.read.parquet(repos_path)), "sentences", run_id),
    )
    mentions = cp.stage(
        "mentions",
        lambda: with_lineage(
            extract_mentions_df(apply_prefilter(sentences, extractors), extractors),
            "mentions", run_id,
        ),
    )
    triples = cp.stage(
        "triples", lambda: with_lineage(triples_from_mentions(mentions), "triples", run_id)
    )
    graph = {}

    def stage_nodes():
        graph["nodes"], graph["edges"] = build_graph(triples, link_threshold=LINK_THRESHOLD)
        return with_lineage(graph["nodes"], "nodes", run_id)

    nodes = cp.stage("nodes", stage_nodes)
    edges = cp.stage("edges", lambda: with_lineage(graph["edges"], "edges", run_id))
    return {"sentences": sentences, "mentions": mentions, "triples": triples,
            "nodes": nodes, "edges": edges}


def run_traced(spark, repos_path: str, out_root: str, extractors, run_id: str, tr):
    """The same stages under spans. Returns (tables, handles) where handles
    keeps the layer-boundary DataFrames for counting after the run."""
    cp = CheckpointedPipeline(spark, out_root, run_id)
    h = {}

    def staged(layer: str, stage: str, make):
        with tr.span(f"{layer}.compute"):
            df = make().localCheckpoint(eager=True)
        with tr.span(f"pipeline.checkpoint.{stage}"):
            return cp.stage(stage, lambda: df)

    with tr.span("tokenizer"):
        sentences = staged(
            "tokenizer", "sentences",
            lambda: with_lineage(tokenize_repos(spark.read.parquet(repos_path)), "sentences", run_id),
        )
    with tr.span("match"):
        with tr.span("plans.prefilter"):
            passed = h["passed"] = apply_prefilter(sentences, extractors).localCheckpoint(eager=True)
        mentions = staged(
            "match", "mentions",
            lambda: with_lineage(extract_mentions_df(passed, extractors), "mentions", run_id),
        )
    with tr.span("pipeline.extract.triples"):
        triples = staged(
            "pipeline.extract.triples", "triples",
            lambda: with_lineage(triples_from_mentions(mentions), "triples", run_id),
        )
    # build_graph, call by call
    with tr.span("pipeline.linking"):
        with tr.span("pipeline.linking.surfaces"):
            subj = triples.select(F.col("subj_text").alias("surface"), F.col("label").alias("label"))
            obj = triples.select(F.col("obj_text").alias("surface"), F.col("label").alias("label"))
            surfaces = (
                subj.unionByName(obj)
                .filter(F.col("surface").isNotNull() & (F.length("surface") > 0))
                .groupBy("surface", "label")
                .agg(F.count(F.lit(1)).alias("n_mentions"))
                .withColumn("node_id", _node_id(F.col("surface"), F.col("label")))
            ).localCheckpoint(eager=True)
        with tr.span("pipeline.linking.lsh"):
            pairs = lsh_candidate_pairs(
                surfaces, id_col="node_id", text_col="surface", threshold=LINK_THRESHOLD
            ).localCheckpoint(eager=True)
        with tr.span("pipeline.linking.score"):
            links = score_pairs(
                pairs, surfaces, "node_id", "surface", threshold=LINK_THRESHOLD
            ).localCheckpoint(eager=True)
    with tr.span("pipeline.components"):
        comp = (
            connected_components_star(surfaces.select("node_id"), links, id_col="node_id")
            .withColumnRenamed("component", "canonical_id")
            .localCheckpoint(eager=True)
        )
    with tr.span("pipeline.materialize"):
        with tr.span("pipeline.materialize.nodes"):
            nodes = surfaces.join(F.broadcast(comp), surfaces["node_id"] == comp["id"]).select(
                "node_id", "canonical_id", "surface", "label", "n_mentions"
            )
            with tr.span("pipeline.checkpoint.nodes"):
                nodes_out = cp.stage("nodes", lambda: with_lineage(nodes, "nodes", run_id))
        with tr.span("pipeline.materialize.edges"):
            canon = nodes_out.select("node_id", "canonical_id")
            edges = (
                triples.withColumn("subj_node", _node_id(F.col("subj_text"), F.col("label")))
                .withColumn("obj_node", _node_id(F.col("obj_text"), F.col("label")))
                .join(F.broadcast(canon.withColumnRenamed("node_id", "subj_node")
                                  .withColumnRenamed("canonical_id", "src_id")), "subj_node")
                .join(F.broadcast(canon.withColumnRenamed("node_id", "obj_node")
                                  .withColumnRenamed("canonical_id", "dst_id")), "obj_node")
                .select("src_id", "dst_id", "pred", "rule", "doc_id", "sent_id", "content_sha")
            )
            with tr.span("pipeline.checkpoint.edges"):
                edges_out = cp.stage("edges", lambda: with_lineage(edges, "edges", run_id))
    h.update(surfaces=surfaces, pairs=pairs, links=links, comp=comp)
    tables = {"sentences": sentences, "mentions": mentions, "triples": triples,
              "nodes": nodes_out, "edges": edges_out}
    return tables, h


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files
        if not f.startswith(".") and not f.startswith("_")
    )
