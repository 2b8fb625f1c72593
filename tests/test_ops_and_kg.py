"""Spark tests: KG stages (linking, components, materialize), sources,
checkpointing."""

import json
from collections import Counter

import pytest

from odinson_spark.lang.rules import RuleReader
from odinson_spark.match.extractor import BatchExtractor
from odinson_spark.pipeline import materialize
from odinson_spark.pipeline.checkpoint import CheckpointedPipeline
from odinson_spark.pipeline.components import connected_components_star
from odinson_spark.pipeline.linking import lsh_candidate_pairs, score_pairs
from odinson_spark.pipeline.materialize import build_graph
from odinson_spark.pipeline.extract import extract_mentions_df
from odinson_spark.sources.document_json import read_document_json, doc_to_sentences
from odinson_spark.testing import batch_from_doc_json


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " ok"),   # near-dup of 1
            (3, "completely different content about spark query planning"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(docs, "doc_id", "text").collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_connected_components(spark):
    vertices = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    comp = {
        r.id: r.component
        for r in connected_components_star(vertices, edges).collect()
    }
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[3] == 3
    assert comp[4] == comp[5] == 4


def test_lsh_linking_pairs(spark):
    surfaces = spark.createDataFrame(
        [
            (1, "deep learning model"),
            (2, "deep learning models"),
            (3, "quantum flux capacitor"),
        ],
        "node_id long, surface string",
    )
    pairs = lsh_candidate_pairs(surfaces, "node_id", "surface")
    scored = score_pairs(pairs, surfaces, "node_id", "surface", threshold=0.5)
    got = {(r.id_a, r.id_b) for r in scored.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_build_graph_canonicalizes(spark):
    triples = spark.createDataFrame(
        [
            ("d1", 0, "sha", "r", "Rel", "s", 0, 1, "deep learning model", "Rel", "o", 2, 3, "gpu"),
            ("d2", 0, "sha", "r", "Rel", "s", 0, 1, "deep learning models", "Rel", "o", 2, 3, "tpu"),
        ],
        """doc_id string, sent_id int, content_sha string, rule string, label string,
           subj_role string, subj_start int, subj_end int, subj_text string,
           pred string, obj_role string, obj_start int, obj_end int, obj_text string""",
    )
    nodes, edges = build_graph(triples, link_threshold=0.5)
    n = nodes.collect()
    # the two near-identical subject surfaces share a canonical id
    canon = {r.surface: r.canonical_id for r in n}
    assert canon["deep learning model"] == canon["deep learning models"]
    assert edges.count() == 2


TRIPLES_SCHEMA = """doc_id string, sent_id int, content_sha string, rule string, label string,
    subj_role string, subj_start int, subj_end int, subj_text string,
    pred string, obj_role string, obj_start int, obj_end int, obj_text string"""


def _triples(spark, pairs):
    """(subj_text, label, obj_text) → triples rows, one document each."""
    return spark.createDataFrame(
        [
            (f"d{i}", 0, "sha", "r", label, "s", 0, 1, subj, "Rel", "o", 2, 3, obj)
            for i, (subj, label, obj) in enumerate(pairs)
        ],
        TRIPLES_SCHEMA,
    )


def test_build_graph_merges_case_variants(spark):
    # node_id hashes lower(surface): "Parser" and "parser" are one node, so
    # one node row per id and one edge per triple
    triples = _triples(spark, [("Parser", "Rel", "gpu"), ("parser", "Rel", "tpu")])
    nodes, edges = build_graph(triples, link_threshold=0.5)
    n = nodes.collect()
    assert len(n) == len({r.node_id for r in n}) == 3
    parser = [r for r in n if r.surface.lower() == "parser"]
    assert [(r.surface, r.n_mentions) for r in parser] == [("Parser", 2)]
    assert edges.count() == triples.count()


def _chain(n=12):
    # each step rewrites one character 5 positions on: neighbours within 3
    # steps stay above Jaccard 0.7, so the class only closes through a chain
    s = list("the quick brown fox jumps over the lazy dog near the riverbank")
    out = []
    for i in range(n):
        s[5 * i] = str(i % 10)
        out.append("".join(s))
    return out


def test_build_graph_routes_agree(spark, monkeypatch):
    """Driver and distributed canonicalization give the same graph."""
    chain = _chain()
    pairs = (
        [(a, "Rel", b) for a, b in zip(chain, chain[1:])]
        + [("Parser", "Rel", "parser"), ("PARSER", "Rel", "tokenizer")]
        + [(None, "Rel", "gpu"), ("", "Rel", "tpu"), ("lexer", None, "")]
        + [("Lexer", "Rel", "lexer"), ("Lexer", "Def", "token stream")]
        # 1001 surfaces with one shingle set: every band bucket is over the
        # 1000-id cap, so both routes must drop it and link none of them
        + [("ab" * n, "Rel", None) for n in range(2, 1003)]
    )
    triples = _triples(spark, pairs)
    cols = {
        "nodes": ["node_id", "canonical_id", "surface", "label", "n_mentions"],
        "edges": ["src_id", "dst_id", "pred", "rule", "doc_id", "sent_id", "content_sha"],
    }

    def graph():
        nodes, edges = build_graph(triples)
        return {
            "nodes": Counter(tuple(r) for r in nodes.select(*cols["nodes"]).collect()),
            "edges": Counter(tuple(r) for r in edges.select(*cols["edges"]).collect()),
        }

    local = graph()
    monkeypatch.setattr(materialize, "LOCAL_MAX_SURFACES", 0)
    assert graph() == local
    # the fixture exercises what it claims to
    canon = {}
    for node_id, canonical_id, surface, label, _ in local["nodes"]:
        canon.setdefault(surface, set()).add(canonical_id)
    assert len(set().union(*(canon[s] for s in chain))) == 1
    assert canon["Lexer"] == canon["lexer"] and len(canon["Lexer"]) == 1
    assert sum(1 for n, c, s, *_ in local["nodes"] if s.startswith("abab") and n == c) == 1001
    assert sum(local["edges"].values()) == len(chain) - 1 + 2 + 2


def test_build_graph_job_budget(spark, tmp_path):
    # a small surface table is linked on the driver: the build plus one
    # write of each table costs 8 tracker jobs on this Spark, against 59
    # when the same input takes the distributed LSH and star-round route
    triples = _triples(spark, [(a, "Rel", b) for a, b in zip(_chain(), _chain()[1:])])
    sc = spark.sparkContext
    sc.setJobGroup("graph-jobcount", "build_graph job-count probe")
    try:
        nodes, edges = build_graph(triples)
        nodes.write.parquet(str(tmp_path / "nodes"))
        edges.write.parquet(str(tmp_path / "edges"))
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("graph-jobcount")
    assert len(jobs) <= 8, f"too many jobs: {len(jobs)}"


def test_checkpoint_resume(spark, tmp_path):
    cp = CheckpointedPipeline(spark, str(tmp_path))
    calls = []

    def stage1():
        calls.append(1)
        return spark.range(5)

    df1 = cp.stage("s1", stage1)
    df2 = cp.stage("s1", stage1)  # second call must load, not recompute
    assert calls == [1]
    assert df1.count() == df2.count() == 5


def test_checkpoint_resume_file_uri_root(spark, tmp_path):
    """A ``file://`` root resumes like a plain path: the rerun skips every
    stage, and each run's metrics land under the root."""
    root = f"file://{tmp_path}/warehouse"
    for run_id in ("first", "rerun"):
        cp = CheckpointedPipeline(spark, root, run_id)
        cp.stage("s1", lambda: spark.range(5))
        cp.stage("s2", lambda: spark.range(3))
        cp.write_metrics()
    assert [(m["stage"], m["skipped"]) for m in cp.metrics] == [("s1", True), ("s2", True)]
    written = json.loads((tmp_path / "warehouse" / "_metrics_rerun.json").read_text())
    assert written == cp.metrics


# one token, one traversal and one event rule over the fixture corpus
_FIXTURE_GRAMMAR = """
rules:
  - name: noun
    label: Noun
    type: basic
    pattern: |
      [tag=/NN.*/]
  - name: subj
    type: basic
    pattern: |
      [tag=/VB.*/] >nsubj []
  - name: verb-event
    label: Event
    type: event
    pattern: |
      trigger = [tag=/VB.*/]
      subject = >nsubj []
      object = >dobj []
"""


def _write_jsonl(path, docs):
    with open(path, "w") as f:
        for doc in docs:
            f.write(json.dumps(doc) + "\n")
    return str(path)


def test_document_json_source(spark, tmp_path, example_docs):
    docs = [example_docs[k] for k in sorted(example_docs)]
    sents = read_document_json(spark, _write_jsonl(tmp_path / "docs.jsonl", docs))
    rows = sents.collect()
    assert len(rows) == sum(len(doc_to_sentences(d)) for d in docs)
    assert {r.doc_id for r in rows} == {str(d["id"]) for d in docs}
    becky = next(r for r in rows if r.raw[0] == "Becky")
    assert becky.tag[0] == "NNP"
    assert "nsubj" in becky.deps_label
    # the Spark source and the test helpers build the same batches: the
    # staged matcher over the stored rows equals the Spark-free matcher over
    # batch_from_doc_json, document by document
    extractors, _ = RuleReader().compile_rules(_FIXTURE_GRAMMAR)
    key = lambda m: (m.doc_id, m.sent_id, m.start, m.end, m.found_by)
    want = []
    for d in docs:
        n = len(doc_to_sentences(d))
        want += map(key, BatchExtractor(extractors).extract_no_state(
            batch_from_doc_json(d), [str(d["id"])] * n, list(range(n))
        ))
    got = [key(r) for r in extract_mentions_df(sents, extractors).collect()]
    assert {k[4] for k in want} == {"noun", "subj", "verb-event"}
    assert sorted(got) == sorted(want)


def test_document_json_word_misaligned_with_raw(spark, tmp_path, misaligned_word_doc):
    path = _write_jsonl(tmp_path / "docs.jsonl", [misaligned_word_doc])
    sents = read_document_json(spark, path, expand_metadata=False)
    rows = sorted(sents.collect(), key=lambda r: r.sent_id)
    assert [r.word for r in rows] == [["a", "b"], ["c", "d"]]
    grammar = "rules:\n" + "".join(
        f"  - name: {t}\n    type: basic\n    pattern: |\n      {t}\n" for t in "cx"
    )
    extractors, _ = RuleReader().compile_rules(grammar)
    got = [(r.found_by, r.sent_id, r.start, r.end) for r in extract_mentions_df(sents, extractors).collect()]
    assert got == [("c", 1, 0, 1)]


def test_document_json_rejects_pretty_printed_file(spark, tmp_path, example_docs):
    p = tmp_path / "doc.json"
    p.write_text(json.dumps(example_docs["becky-gummy-bears"], indent=2))
    with pytest.raises(Exception) as e:
        read_document_json(spark, str(p)).collect()
    msg = str(e.value)
    assert "OdinsonException" in msg and "one Document per line" in msg
    assert "cannot parse '{'" in msg


def test_doc_to_sentences_drops_overlong(example_docs):
    doc = {"id": "x", "sentences": [{"fields": [
        {"$type": "ai.lum.odinson.TokensField", "name": "raw", "tokens": ["a"] * 200}
    ]}]}
    assert doc_to_sentences(doc, max_tokens=100) == []


def test_connected_components_one_job_per_round(spark):
    # the convergence check must not burn a second Spark job per round. A
    # 0-1-2-…-9 chain needs several star rounds; count the tracker jobs.
    n = 10
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    sc = spark.sparkContext
    sc.setJobGroup("cc-jobcount", "cc job-count probe")
    try:
        out = connected_components_star(vertices, edges, max_iterations=20)
        rows = out.collect()
    finally:
        sc.setJobGroup(None, None)
    assert all(r.component == 0 for r in rows) and len(rows) == n
    jobs = sc.statusTracker().getJobIdsForGroup("cc-jobcount")
    # AQE + broadcast stages mean "one action" ≠ one tracker job; measured on
    # this Spark (5 rounds): single set-difference action per round = 66
    # tracker jobs, one count per direction = 76. Budget sits between the
    # two so a regression to two actions per round fails.
    assert len(jobs) <= 71, f"too many jobs: {len(jobs)}"


def test_mersenne_mulmod_matches_bigint():
    """The uint64 Mersenne-61 outer-product mulmod must be bit-identical to
    Python-bigint (a*h + b) % p across random and boundary inputs."""
    import numpy as np

    from odinson_spark.pipeline.linking import MERSENNE_P, _mulmod_mersenne61

    rng = np.random.RandomState(7)
    a = rng.randint(1, MERSENNE_P, size=64, dtype=np.int64).astype(np.uint64)
    h = rng.randint(0, MERSENNE_P, size=257, dtype=np.int64).astype(np.uint64)
    # boundary values on both sides
    a[:4] = [1, 2, MERSENNE_P - 1, (1 << 31) - 1]
    h[:6] = [0, 1, MERSENNE_P - 1, (1 << 60) - 1, 1 << 30, (1 << 31) + 3]
    got = _mulmod_mersenne61(a, h)
    for i in range(len(a)):
        for j in range(len(h)):
            assert int(got[i, j]) == (int(a[i]) * int(h[j])) % MERSENNE_P, (i, j)


def test_batch_signatures_match_per_doc_reference():
    """Vectorized batch_signatures ≡ the per-document object-math
    minhash_signature on varied texts (incl. empty and 1-shingle docs)."""
    from odinson_spark.pipeline.linking import (
        _hash_params,
        batch_signatures,
        minhash_signature,
    )

    a, b = _hash_params(16, seed=42)
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "",
        "x",
        "the quick brown fox",
        "completely different content here with unicode éè",
        " ",
    ]
    got = batch_signatures(texts, 16, 3, a, b)
    for t, sig in zip(texts, got):
        assert sig == minhash_signature(t or "", 16, 3, a, b), t
