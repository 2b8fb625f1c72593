"""Parity suites:
* patterns/TestNegationOperator.scala (becky-gummy-bears-v2)
* foundations/TestUnicodeNormalization.scala (equivalence classes of
  normalizeUnicode / normalizeUnicodeAggressively)
"""

import pytest

from odinson_spark.lang.compiler import PatternCompiler
from odinson_spark.lang.normalize import (
    normalize_unicode,
    normalize_unicode_aggressively,
)
from odinson_spark.match.engine import find_matches
from odinson_spark.testing import batch_from_doc_json


def match_strings(example_docs, doc_key, pattern):
    program = PatternCompiler().compile(pattern)
    batch = batch_from_doc_json(example_docs[doc_key])
    out = []
    for i in range(batch.n_sentences):
        ctx = batch.context(i)
        raw = batch.raw_layers["raw"][i]
        for m in find_matches(program, ctx):
            out.append(" ".join(raw[m.start : m.end]))
    return out


@pytest.mark.parametrize(
    "pattern,expected",
    [
        ("[tag=/N.*/ & !lemma=bear]", ["Becky"]),
        ("[tag=/N.*/ & lemma!=bear]", ["Becky"]),
        ("[lemma!=bear]", ["Becky", "ate", "gummy", "."]),
        ("[!tag=/NN.*/]", ["ate", "gummy", "."]),
    ],
)
def test_negation_operator(example_docs, pattern, expected):
    assert match_strings(example_docs, "becky-gummy-bears-v2", pattern) == expected


# --- parser: underscore identifiers (compiler/TestParser.scala) ---------------


@pytest.mark.parametrize(
    "query",
    ["_", "_test", "[word=_]", "[word=_test]", "a >_ b", "a >_test b"],
)
def test_parser_underscore_identifiers(query):
    from odinson_spark.lang.parser import QueryParser

    QueryParser().parse_basic_query(query)  # must not raise


# --- unicode normalization equivalence classes --------------------------------


def test_normalize_composed_vs_combining():
    s1, s2 = "café", "café"
    assert s1 != s2
    assert normalize_unicode(s1) == normalize_unicode(s2)
    assert normalize_unicode_aggressively(s1) == normalize_unicode_aggressively(s2)


def test_aggressive_fraction():
    s1, s2 = "½", "1/2"
    assert normalize_unicode(s1) != normalize_unicode(s2)
    assert normalize_unicode_aggressively(s1) == normalize_unicode_aggressively(s2)


def test_normalize_mu():
    mu1, mu2, Mu = "µ", "μ", "Μ"
    assert normalize_unicode(mu1) == normalize_unicode(mu2)
    assert normalize_unicode(mu1) != normalize_unicode(Mu)
    assert (
        normalize_unicode_aggressively(mu1)
        == normalize_unicode_aggressively(mu2)
        == normalize_unicode_aggressively(Mu)
    )


def test_aggressive_casefolding():
    assert normalize_unicode("ß") != normalize_unicode("ss")
    assert normalize_unicode_aggressively("ß") == normalize_unicode_aggressively("ss")


def test_aggressive_removes_diacritics():
    assert normalize_unicode("café") != normalize_unicode("cafe")
    assert normalize_unicode_aggressively("café") == normalize_unicode_aggressively("cafe")


def test_aggressive_replaces_characters():
    # the "Fluent Python" example from the reference suite
    s1 = "“Herr Voß: • ½ cup of Œtker™ caffè latte • bowl of açaí.”"
    s2 = '"Herr Voss: - 1/2 cup of OEtker(TM) caffe latte - bowl of acai."'
    assert normalize_unicode(s1) != normalize_unicode(s2)
    assert normalize_unicode_aggressively(s1) == normalize_unicode_aggressively(s2)


# --- edge labels compare exactly as stored -------------------------------------

FULLWIDTH_NSUBJ = "ｎｓｕｂｊ"  # NFKC folds it to "nsubj"


@pytest.mark.parametrize(
    "pattern,expected",
    [
        # a traversal, [incoming=]/[outgoing=] and label regexes all find
        # the fullwidth label only where it is stored in that form
        (f"[raw=b] >{FULLWIDTH_NSUBJ} [raw=a]", [[(0, 1)], [], []]),
        (f"[incoming={FULLWIDTH_NSUBJ}]", [[(0, 1)], [], []]),
        (f"[outgoing={FULLWIDTH_NSUBJ}]", [[(1, 2)], [], []]),
        (f"[incoming=/{FULLWIDTH_NSUBJ}/]", [[(0, 1)], [], []]),
        # and the ASCII label only where that is stored
        ("[raw=b] >nsubj [raw=a]", [[], [], [(0, 1)]]),
        ("[incoming=nsubj]", [[], [], [(0, 1)]]),
        ("[outgoing=/nsubj/]", [[], [], [(1, 2)]]),
    ],
)
def test_edge_labels_compare_as_stored(pattern, expected):
    from odinson_spark.testing import sentence_batch_from_docs

    batch = sentence_batch_from_docs(
        [
            {"raw": ["a", "b"], "edges": [(1, 0, FULLWIDTH_NSUBJ)]},
            {"raw": ["c"]},
            {"raw": ["a", "b"], "edges": [(1, 0, "nsubj")]},
        ]
    )
    program = PatternCompiler().compile(pattern)
    got = [
        [(m.start, m.end) for m in find_matches(program, batch.context(i))]
        for i in range(batch.n_sentences)
    ]
    assert got == expected
