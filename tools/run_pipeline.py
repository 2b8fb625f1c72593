"""Full KG-construction pipeline driver (spark-submit entry point).

    spark-submit --py-files odinson_spark.zip tools/run_pipeline.py \
        --input  <repos table path/name> \
        --rules  <grammar.yml> \
        --output <warehouse root> \
        [--mode code|text] [--run-id r1]

Stages (each checkpointed; rerun resumes after the last completed stage):
  1. sentences    — tokenize/annotate (skew-salted input)
  2. mentions     — rule extraction (prefilter pushed to scan)
  3. triples      — (subj, pred, obj) emission
  4. nodes        — LSH linking + connected components
  5. edges        — triples joined to the checkpointed nodes' canonical ids
  6. metrics      — per-stage wall time + per-partition row counts
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--rules", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--mode", default="code", choices=["code", "text"])
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--use-state", action="store_true")
    ap.add_argument("--salt-partitions", type=int, default=0)
    args = ap.parse_args()

    from odinson_spark.session import get_spark
    from odinson_spark.lang.rules import RuleReader
    from odinson_spark.lang.metadata import compile_metadata_query
    from odinson_spark.pipeline.checkpoint import CheckpointedPipeline
    from odinson_spark.pipeline.extract import (
        apply_prefilter,
        extract_mentions_df,
        tokenize_documents,
        tokenize_repos,
        triples_from_mentions,
    )
    from odinson_spark.pipeline.materialize import (
        build_graph,
        graph_edges,
        partition_metrics,
        with_lineage,
    )
    from odinson_spark.pipeline.skew import salted_repartition

    spark = get_spark(app_name=f"odinson-kg-{args.run_id}")
    extractors, metadata_filter = RuleReader().compile_rules(
        Path(args.rules).read_text(), base_dir=Path(args.rules).parent
    )
    cp = CheckpointedPipeline(spark, args.output, args.run_id)

    def stage_sentences():
        src = spark.read.parquet(args.input)
        if metadata_filter:
            src = src.filter(compile_metadata_query(metadata_filter))
        if args.salt_partitions:
            keys = ["repo", "path"] if args.mode == "code" else ["doc_id"]
            src = salted_repartition(src, keys, args.salt_partitions)
        tok = tokenize_repos if args.mode == "code" else tokenize_documents
        return with_lineage(tok(src), "sentences", args.run_id)

    sentences = cp.stage("sentences", stage_sentences)

    def stage_mentions():
        sents = apply_prefilter(sentences, extractors)
        return with_lineage(
            extract_mentions_df(sents, extractors, use_state=args.use_state),
            "mentions",
            args.run_id,
        )

    mentions = cp.stage("mentions", stage_mentions)

    def stage_triples():
        return with_lineage(triples_from_mentions(mentions), "triples", args.run_id)

    triples = cp.stage("triples", stage_triples)

    nodes = cp.stage(
        "nodes", lambda: with_lineage(build_graph(triples)[0], "nodes", args.run_id)
    )
    # from the checkpointed nodes, so a resume after the nodes stage does
    # not re-run linking and components
    cp.stage("edges", lambda: with_lineage(graph_edges(triples, nodes), "edges", args.run_id))

    def stage_metrics():
        return partition_metrics(triples, "triples")

    cp.stage("metrics", stage_metrics)
    cp.write_metrics()
    print(f"pipeline complete → {args.output} (stages: {[m['stage'] for m in cp.metrics]})")
    spark.stop()


if __name__ == "__main__":
    main()
