"""Regressions for the round-1 advisory findings: prefilter soundness on
non-ASCII text, incoming/outgoing prefilter columns, symmetric metadata
normalization, deterministic salting, connected-components convergence."""

import pytest
from pyspark.sql import functions as F

from odinson_spark.lang.metadata import compile_metadata_query
from odinson_spark.lang.rules import RuleReader
from odinson_spark.pipeline.components import connected_components_star
from odinson_spark.pipeline.extract import apply_prefilter, extract_mentions_df, tokenize_documents
from odinson_spark.pipeline.skew import salted_repartition


def _grammar(pattern):
    g = f"rules:\n  - name: q\n    type: basic\n    pattern: |\n      {pattern}\n"
    extractors, _ = RuleReader().compile_rules(g)
    return extractors


# --- the prefilter must never drop a matchable non-ASCII doc ----------------


def test_text_prefilter_unicode_soundness(spark):
    # "Café" normalizes to norm-token "cafe"; lower(text) does NOT contain
    # "cafe", so a bare contains() prefilter would silently drop doc 1.
    docs = spark.createDataFrame(
        [
            (1, "the Café opened", "fr"),
            (2, "plain cafe here", "en"),
            (3, "nothing relevant", "en"),
            (4, "ＦＵＬＬｗｉｄｔｈ café text", "en"),  # NFKC + combining accent
        ],
        "doc_id long, text string, lang string",
    )
    extractors = _grammar("[norm=cafe]")
    sents = tokenize_documents(docs)
    with_pf = extract_mentions_df(apply_prefilter(sents, extractors), extractors)
    without_pf = extract_mentions_df(sents, extractors)
    key = lambda r: (r.doc_id, r.start, r.end)
    got = sorted(map(key, with_pf.collect()))
    want = sorted(map(key, without_pf.collect()))
    assert got == want
    assert {r[0] for r in got} == {"1", "2", "4"}


def test_text_prefilter_still_prunes_ascii(spark):
    docs = spark.createDataFrame(
        [(1, "fast table", "en"), (2, "nothing here", "en")],
        "doc_id long, text string, lang string",
    )
    extractors = _grammar("fast")
    kept = apply_prefilter(tokenize_documents(docs), extractors).select("doc_id").collect()
    assert [r.doc_id for r in kept] == ["1"]


# --- [incoming=]/[outgoing=] prefilter renders against deps_label -----------


def test_inout_token_constraint_prefilter(spark):
    docs = spark.createDataFrame(
        [(1, "fast table now", "en"), (2, "solo", "en")],
        "doc_id long, text string, lang string",
    )
    sents = tokenize_documents(docs)
    extractors = _grammar("[outgoing=next]")
    filtered = apply_prefilter(sents, extractors)  # must not AnalysisException
    rows = filtered.select("doc_id").distinct().collect()
    # doc 2 is a single token: no edges at all -> pruned by the prefilter
    assert [r.doc_id for r in rows] == ["1"]
    m = extract_mentions_df(filtered, extractors).collect()
    # tokens 0 and 1 of doc 1 have an outgoing next edge; token 2 does not
    assert sorted((r.doc_id, r.start) for r in m) == [("1", 0), ("1", 1)]
    # incoming variant as well
    extractors = _grammar("[incoming=next]")
    m = extract_mentions_df(apply_prefilter(sents, extractors), extractors).collect()
    assert sorted((r.doc_id, r.start) for r in m) == [("1", 1), ("1", 2)]


# --- edge labels compare exactly as stored, on every route -------------------


FULLWIDTH_NSUBJ = "ｎｓｕｂｊ"  # NFKC folds it to "nsubj"


@pytest.fixture(scope="module")
def fullwidth_label_sentences(spark, tmp_path_factory):
    """One sentence ``a b`` whose graph stores the edge 1→0 with a
    fullwidth label."""
    import json

    from odinson_spark.sources.document_json import read_document_json

    doc = {
        "id": "d1",
        "sentences": [
            {
                "numTokens": 2,
                "fields": [
                    {"$type": "ai.lum.odinson.TokensField", "name": "raw", "tokens": ["a", "b"]},
                    {
                        "$type": "ai.lum.odinson.GraphField",
                        "name": "dependencies",
                        "edges": [[1, 0, FULLWIDTH_NSUBJ]],
                        "roots": [1],
                    },
                ],
            }
        ],
    }
    d = tmp_path_factory.mktemp("fullwidth")
    (d / "docs.jsonl").write_text(json.dumps(doc) + "\n")
    return read_document_json(spark, str(d / "docs.jsonl")), str(d / "index")


@pytest.mark.parametrize("route", ["scan", "index"])
def test_edge_labels_compare_as_stored(fullwidth_label_sentences, route):
    """The scan prefilter and the index postings compare a stored label
    exactly as the matcher does; normalizing the query side drops the
    sentence on either route."""
    from odinson_spark.index import TermIndex
    from odinson_spark.search import SearchEngine

    sents, index_path = fullwidth_label_sentences
    if route == "scan":
        engine = SearchEngine(sents)
    else:
        engine = TermIndex.build(sents, index_path).engine(max_candidate_frac=1.0)
    cases = {
        f"[raw=b] >{FULLWIDTH_NSUBJ} [raw=a]": [0],
        f"[incoming={FULLWIDTH_NSUBJ}]": [0],
        f"[outgoing={FULLWIDTH_NSUBJ}]": [1],
        "[raw=b] >nsubj [raw=a]": [],
        "[incoming=nsubj]": [],
    }
    for pattern, starts in cases.items():
        if route == "index":
            assert engine.explain(pattern)["route"] == "index", pattern
        got = sorted(r.start for r in engine.mentions(pattern).select("start").collect())
        assert got == starts, pattern


# --- norm synonym union (raw + word variants at the same position) -----------


def test_norm_synonym_union_raw_and_word(spark, tmp_path):
    # reference indexes normalized variants of BOTH raw and word as
    # same-position synonyms (OdinsonIndexWriter.scala:174-182); a corpus
    # where an NLP pipeline corrected word ("schoen") away from raw ("Schön")
    # must match [norm=...] queries against either variant
    import json

    from odinson_spark.sources.document_json import read_document_json

    doc = {
        "id": "d1",
        "sentences": [
            {
                "numTokens": 2,
                "fields": [
                    {
                        "$type": "ai.lum.odinson.TokensField",
                        "name": "raw",
                        "tokens": ["Schön", "tag"],
                    },
                    {
                        "$type": "ai.lum.odinson.TokensField",
                        "name": "word",
                        "tokens": ["schoen", "tag"],
                    },
                ],
            }
        ],
    }
    p = tmp_path / "docs.jsonl"
    p.write_text(json.dumps(doc) + "\n")
    sents = read_document_json(spark, str(p))
    for term, expect in (("schoen", 1), ("schon", 1), ("SCHÖN", 1), ("nope", 0)):
        extractors = _grammar(f"[norm={term}]")
        # through the staged path WITH the prefilter: both the scan filter
        # and the matcher must honor the union
        m = extract_mentions_df(apply_prefilter(sents, extractors), extractors)
        assert m.count() == expect, term


def test_norm_alt_absent_for_deterministic_tokenizers(spark):
    docs = spark.createDataFrame(
        [(1, "plain text here", "en")], "doc_id long, text string, lang string"
    )
    rows = tokenize_documents(docs).select("norm_alt").collect()
    assert all(r.norm_alt is None for r in rows)


# --- metadata string matching normalizes both sides ---------------------------


def test_metadata_eq_folds_column_side(spark):
    df = spark.createDataFrame(
        [(1, "Mr Darçy"), (2, "mr darcy"), (3, "MR DARCY"), (4, "someone else")],
        "doc_id long, character string",
    )
    got = df.filter(compile_metadata_query("character == 'mr darcy'"))
    assert sorted(r.doc_id for r in got.collect()) == [1, 2, 3]
    # and the reverse orientation (literal on the left)
    got = df.filter(compile_metadata_query("'MR DARÇY' == character"))
    assert sorted(r.doc_id for r in got.collect()) == [1, 2, 3]


def test_metadata_contains_folds_column_side(spark):
    df = spark.createDataFrame(
        [(1, "la Straße grande"), (2, "la strasse grande"), (3, "elsewhere")],
        "doc_id long, venue string",
    )
    got = df.filter(compile_metadata_query("venue contains 'strasse'"))
    assert sorted(r.doc_id for r in got.collect()) == [1, 2]


def test_metadata_nested_folds_column_side(spark):
    df = spark.createDataFrame(
        [(1, [{"name": "José"}]), (2, [{"name": "jose"}]), (3, [{"name": "ana"}])],
        "doc_id long, authors array<struct<name:string>>",
    )
    got = df.filter(compile_metadata_query("authors{ name == 'jose' }"))
    assert sorted(r.doc_id for r in got.collect()) == [1, 2]


# --- deterministic salting -----------------------------------------------------


def test_salted_repartition_is_deterministic(spark):
    df = spark.createDataFrame(
        [(f"repo{i % 3}", f"path{i}", f"content {i}") for i in range(100)],
        "repo string, path string, content string",
    )
    a = (
        salted_repartition(df, ["repo"], 8)
        .withColumn("pid", F.spark_partition_id())
        .select("path", "pid")
        .collect()
    )
    b = (
        salted_repartition(df, ["repo"], 8)
        .withColumn("pid", F.spark_partition_id())
        .select("path", "pid")
        .collect()
    )
    assert {r.path: r.pid for r in a} == {r.path: r.pid for r in b}
    # rows actually spread beyond one partition per hot key
    pids_repo0 = {r.pid for r in a if r.path in {f"path{i}" for i in range(0, 100, 3)}}
    assert len(pids_repo0) > 1


# --- connected components: convergence handling + star variant -------------------


def _path_graph(spark, n):
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    return verts, edges


def test_cc_propagation_raises_on_nonconvergence(spark):
    # one star round cannot collapse a 12-node path; silent non-convergence
    # would split one entity class into several canonical ids
    verts, edges = _path_graph(spark, 12)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(verts, edges, max_iterations=1)


@pytest.mark.slow
def test_cc_star_converges_on_long_path(spark):
    verts, edges = _path_graph(spark, 50)
    out = connected_components_star(verts, edges).collect()
    assert len(out) == 50 and all(r.component == 0 for r in out)


def test_cc_star_matches_propagation_on_random_graph(spark):
    import random

    rng = random.Random(7)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {r.id: r.component for r in connected_components_star(verts, edf).collect()}

    # Spark-free reference: union-find, each root the min id of its class
    # (the min label that propagation to a fixpoint would assign)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    assert star == {i: find(i) for i in range(n)}
