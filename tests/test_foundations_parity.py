"""Ports of the reference's remaining foundations suites.

* TestFields.scala:18-93 — implicit/explicit norm case folding, raw case
  sensitivity, arbitrary configured token fields end-to-end.
* TestExtractorEngine.scala:19-114 — simple query, invalid-character
  replacement.
* TestExceptions.scala:8-20 — exception type hierarchy.
* TestCustomTokenization.scala:9-21 — tokens with internal whitespace.
"""

import json

import pytest

from odinson_spark.errors import OdinsonException
from odinson_spark.lang.compiler import PatternCompiler
from odinson_spark.lang.parser import ParseError, QueryParser
from odinson_spark.lang.rules import RuleReader
from odinson_spark.match.engine import find_matches
from odinson_spark.match.extractor import BatchExtractor
from odinson_spark.testing import (
    batch_from_doc_json,
    sentence_batch_from_docs,
    sentence_batch_from_texts,
)


def run_pattern(batch, pattern, **parser_kwargs):
    compiler = (
        PatternCompiler(QueryParser(**parser_kwargs)) if parser_kwargs else PatternCompiler()
    )
    program = compiler.compile(pattern)
    out = []
    for i in range(batch.n_sentences):
        out.extend((i, m) for m in find_matches(program, batch.context(i)))
    return out


@pytest.fixture(scope="module")
def becky(example_docs):
    return batch_from_doc_json(example_docs["becky-gummy-bears-v2"])


# ---------------------------------------------------------------------------
# TestFields.scala:18-43 — norm / raw case behavior
# ---------------------------------------------------------------------------


def test_norm_case_insensitive_implicitly(becky):
    assert len(run_pattern(becky, "ATE")) == 1


def test_norm_case_insensitive_explicitly(becky):
    assert len(run_pattern(becky, "[norm=ATE]")) == 1


def test_raw_correct_case_matches(becky):
    assert len(run_pattern(becky, "[raw=ate]")) == 1


def test_raw_wrong_case_does_not_match(becky):
    assert len(run_pattern(becky, "[raw=ATE]")) == 0


# ---------------------------------------------------------------------------
# TestFields.scala:45-93 — arbitrary configured token fields
# ---------------------------------------------------------------------------

_WORDS = "one two three four five six seven eight nine ten".split()
_FIZZBUZZ = "one two fizz four buzz fizz seven eight fizz buzz".split()


@pytest.fixture(scope="module")
def fizz_batch():
    return sentence_batch_from_docs([{"raw": _WORDS, "fizzbuzz": _FIZZBUZZ}])


def test_index_arbitrary_fields(fizz_batch):
    # ee2.getTokensForSpan(0, "fizzbuzz", 2, 3) should contain only "fizz"
    assert fizz_batch.has_field("fizzbuzz")
    assert list(fizz_batch.raw_layers["fizzbuzz"][0][2:3]) == ["fizz"]


def test_compile_pattern_with_arbitrary_field():
    reader = RuleReader.with_extra_token_fields(("fizzbuzz",))
    reader.compiler.compile("[fizzbuzz = buzz]")  # must not raise


def test_execute_pattern_against_arbitrary_indexed_field(fizz_batch):
    rules = """
rules:
  - name: fizzbuzz_rule
    label: TestLabel
    type: basic
    pattern: |
      [fizzbuzz = buzz & raw = five]
"""
    reader = RuleReader.with_extra_token_fields(("fizzbuzz",))
    extractors, _ = reader.compile_rules(rules)
    mentions = BatchExtractor(extractors).extract_no_state(fizz_batch, ["d"], [0])
    assert len(mentions) == 1
    assert (mentions[0].start, mentions[0].end) == (4, 5)


def test_pattern_against_unindexed_field_raises():
    with pytest.raises(ParseError):
        PatternCompiler().compile("[other = buzz]")
    # ParseError is an Exception, like the reference's OdinsonException
    assert issubclass(ParseError, Exception)


def test_arbitrary_field_spark_end_to_end(spark):
    """Config-driven layer set through schema → prefilter → matcher: a user
    adding a field can match it on the sentence table (the round-2 gap)."""
    from odinson_spark.schema import sentences_schema
    from odinson_spark.search import SearchEngine

    schema = sentences_schema(("fizzbuzz",))
    row = {
        "doc_id": "d1",
        "sent_id": 0,
        "content_sha": "x",
        "lang": None,
        "num_tokens": len(_WORDS),
        "raw": _WORDS,
        "word": _WORDS,
        "norm": _WORDS,
        "norm_alt": None,
        "lemma": None,
        "tag": None,
        "chunk": None,
        "entity": None,
        "fizzbuzz": _FIZZBUZZ,
        "deps_src": [],
        "deps_dst": [],
        "deps_label": [],
        "deps_roots": [],
    }
    df = spark.createDataFrame([row], schema)
    engine = SearchEngine(df, extra_token_fields=("fizzbuzz",))
    res = engine.search("[fizzbuzz=buzz & raw=five]", n=10)
    assert len(res.rows) == 1
    assert (res.rows[0].start, res.rows[0].end) == (4, 5)
    # and the prefilter actually constrains the custom column
    from odinson_spark.pipeline.extract import combined_prefilter
    from odinson_spark.plans.prefilter import to_spark_column

    pf_col = to_spark_column(combined_prefilter(engine.compile("[fizzbuzz=buzz & raw=five]")))
    assert "fizzbuzz" in str(pf_col)


# ---------------------------------------------------------------------------
# TestExtractorEngine.scala:19-114
# ---------------------------------------------------------------------------


def test_simple_query_over_two_docs():
    batch = sentence_batch_from_texts(["Rain causes flood", "Rain causes flood"])
    program = PatternCompiler().compile("causes")
    hits = [
        (i, m) for i in range(batch.n_sentences) for m in find_matches(program, batch.context(i))
    ]
    assert len(hits) == 2  # totalHits == 2, one per document


def test_invalid_characters_replaced_before_indexing(example_docs):
    """TestExtractorEngine.scala:96-114 — a whitespace-only token must not
    shift positions; the traversal lands on AKT1."""
    batch = batch_from_doc_json(example_docs["bad-character"])
    hits = run_pattern(batch, "complex <nsubj phosphorylate >dobj []")
    assert len(hits) == 1
    i, m = hits[0]
    assert " ".join(batch.raw_layers["raw"][i][m.start : m.end]) == "AKT1"


# ---------------------------------------------------------------------------
# TestExceptions.scala:8-20
# ---------------------------------------------------------------------------


def test_odinson_exception():
    def exception_thrower(flag: bool):
        if flag:
            raise OdinsonException("we threw an odinson exception!")

    exception_thrower(False)  # no exception
    with pytest.raises(OdinsonException):
        exception_thrower(True)
    with pytest.raises(Exception):
        exception_thrower(True)


# ---------------------------------------------------------------------------
# TestCustomTokenization.scala:9-21 — token with internal whitespace
# ---------------------------------------------------------------------------


def test_token_with_internal_whitespace(example_docs):
    batch = batch_from_doc_json(example_docs["internal-space"])
    hits = run_pattern(batch, '[raw="Figure 3"]')
    # reference asserts totalHits == 1 (one matching DOCUMENT) and the first
    # match's token interval — original token indices are maintained
    assert len({i for i, _ in hits}) == 1
    _, m = hits[0]
    assert (m.start, m.end) == (25, 26)
