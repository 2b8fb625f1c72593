"""Output checks and the Spark-free per-core floor.

Each check returns a list of failure messages; the caller counts every
message as one failed operation.
"""

from __future__ import annotations

import hashlib
import time
from collections import Counter
from typing import Dict, List, Sequence, Tuple

from pyspark.sql import functions as F

from odinson_spark.match.extractor import BatchExtractor
from odinson_spark.match.matches import EventMatch
from odinson_spark.pipeline.extract import DEFAULT_OBJ_ROLES, DEFAULT_SUBJ_ROLES
from odinson_spark.testing import sentence_batch_from_docs
from odinson_spark.tokenizer.code_tokenizer import annotate_code

from .gen import doc_id

TRIPLE_COLS = (
    "doc_id", "sent_id", "rule", "label", "subj_role", "subj_start", "subj_end",
    "subj_text", "pred", "obj_role", "obj_start", "obj_end", "obj_text",
)


def _triples_of(m, toks) -> List[Tuple]:
    """One mention → its triples, as pipeline/extract.triples_from_mentions
    derives them."""
    is_event = isinstance(m.match, EventMatch)
    caps = [
        (c.name, c.label, c.match.start, c.match.end, " ".join(toks[c.match.start:c.match.end]))
        for c in (m.match.captures if is_event else m.match.named_captures())
    ]
    if len(caps) < 2:
        return []
    subj = [c for c in caps if c[0] in DEFAULT_SUBJ_ROLES]
    obj = [c for c in caps if c[0] in DEFAULT_OBJ_ROLES]
    if not (subj and obj):
        subj, obj = caps[:1], caps[1:2]
    text = " ".join(toks[m.start:m.end])
    pred = m.label if m.label is not None else (text if is_event else m.found_by)
    return [
        (m.doc_id, m.sent_id, m.found_by, m.label, s[0], s[2], s[3], s[4],
         pred, o[0], o[2], o[3], o[4])
        for s in subj for o in obj if s != o
    ]


def floor_and_reference(rows: Sequence, extractors) -> Tuple[Counter, Dict[str, float]]:
    """Spark-free annotate_code + BatchExtractor over ``rows`` on one core.
    Returns the expected triples and the time of each step."""
    times = {}
    t = time.perf_counter()
    sents, doc_ids, sent_ids = [], [], []
    for row in rows:
        for s in annotate_code(row[4] or "", 100):
            doc_ids.append(doc_id(row))
            sent_ids.append(s.pop("sent_id"))  # not a token layer
            sents.append(s)
    times["tokenizer.core_s"] = time.perf_counter() - t
    t = time.perf_counter()
    batch = sentence_batch_from_docs(sents, build_inout=False, pre_normalized=True)
    times["match.batch_build_s"] = time.perf_counter() - t
    t = time.perf_counter()
    mentions = BatchExtractor(extractors).extract_no_state(batch, doc_ids, sent_ids)
    times["match.core_s"] = time.perf_counter() - t
    idx = {(d, s): i for i, (d, s) in enumerate(zip(doc_ids, sent_ids))}
    expected = Counter()
    for m in mentions:
        expected.update(_triples_of(m, sents[idx[(m.doc_id, m.sent_id)]]["raw"]))
    return expected, times


def check_triples(triples, sample_rows, expected: Counter) -> List[str]:
    ids = [doc_id(r) for r in sample_rows]
    got = Counter(
        tuple(r) for r in triples.filter(F.col("doc_id").isin(ids)).select(*TRIPLE_COLS).collect()
    )
    if got != expected:
        missing = sum((expected - got).values())
        extra = sum((got - expected).values())
        return [f"triples: spark differs from the Spark-free reference "
                f"({missing} missing, {extra} extra on {len(ids)} files)"]
    return []


def check_graph(tables, rows) -> List[str]:
    nodes, edges, triples = tables["nodes"], tables["edges"], tables["triples"]
    fails = []
    canon = nodes.select(F.col("canonical_id").alias("id")).distinct()
    ends = edges.select(F.col("src_id").alias("id")).union(edges.select(F.col("dst_id").alias("id")))
    dangling = ends.join(canon, "id", "left_anti").count()
    if dangling:
        fails.append(f"graph: {dangling} edge ends are not a node's canonical_id")
    bad = (
        nodes.groupBy("canonical_id").agg(F.min("node_id").alias("m"))
        .filter(F.col("m") != F.col("canonical_id")).count()
    )
    if bad:
        fails.append(f"graph: {bad} classes whose canonical_id is not their min node_id")
    # computed here, not with the program's own hash helper, so a change to
    # that helper cannot move the expected value along with the output
    want = {doc_id(r): hashlib.sha256((r[4] or "").encode("utf-8")).hexdigest() for r in rows}
    wrong = [
        d for d, sha in triples.select("doc_id", "content_sha").distinct().collect()
        if want.get(d) != sha
    ]
    if wrong:
        fails.append(f"lineage: {len(wrong)} documents whose content_sha is not sha256(content)")
    return fails


def same_graph(a, b) -> List[str]:
    """Node and edge tables equal as multisets (lineage columns ignored)."""
    fails = []
    for name, cols in (
        ("nodes", ["node_id", "canonical_id", "surface", "label", "n_mentions"]),
        ("edges", ["src_id", "dst_id", "pred", "rule", "doc_id", "sent_id", "content_sha"]),
    ):
        x, y = a[name].select(*cols), b[name].select(*cols)
        if x.exceptAll(y).count() or y.exceptAll(x).count():
            fails.append(f"traced {name} differ from build_graph's")
    return fails
