"""Parity: serialization/TestJsonSerialization.scala — every match type the
reference round-trips through its JsonSerializer (ngram, event, event with
quantified/ranged args, graph traversal, greedy+lazy repetition, optional,
or, named capture, multi-word) must survive our mention JSON sink round-trip
(write_mentions_json at 'all' verbosity → spark.read.json) with identical
spans, labels, rules, and captures. Grammar: the reference's
serialization.yml over the rainbows fixture ("Rainbows shine bright bright
bright .")."""

import json
import os

import pytest

from odinson_spark.lang.rules import RuleReader
from odinson_spark.match.extractor import BatchExtractor
from odinson_spark.pipeline.extract import apply_prefilter, extract_mentions_df, tokenize_documents
from odinson_spark.sources.document_json import (
    VERBOSITY_COLUMNS,
    read_document_json,
    write_mentions_json,
)
from odinson_spark.testing import batch_from_doc_json

GRAMMAR = """
rules:
  - name: NGram
    label: NgramMention
    priority: 1
    type: basic
    pattern: |
      Rainbows

  - name: Event
    label: EventMention
    priority: 1
    type: event
    pattern: |
      trigger = shine
      subj = >nsubj Rainbows
      obj = >xcomp bright

  - name: Event-plus
    label: EventMention-plus
    priority: 1
    type: event
    pattern: |
      trigger = shine
      subj = >nsubj Rainbows
      obj: ^Concept+ = >> bright

  - name: Event-3
    label: EventMention-3
    priority: 1
    type: event
    pattern: |
      trigger = shine
      subj = >nsubj Rainbows
      obj: ^Concept{1,2} = >> bright

  - name: GraphTraversal
    label: GraphTraversalMention
    priority: 1
    type: basic
    pattern: |
      Rainbows <nsubj shine

  - name: Repetition
    label: RepetitionLabel
    priority: 1
    type: basic
    pattern: |
      [word=bright]{1,3}

  - name: Repetition-lazy
    label: RepetitionLabel
    priority: 1
    type: basic
    pattern: |
      [word=bright]{1,3}?

  - name: Optional
    label: OptionalLabel
    priority: 1
    type: basic
    pattern: |
      Rainbows shine?

  - name: Or
    label: OrLabel
    priority: 1
    type: basic
    pattern: |
      [word=/shine|fine/]

  - name: Named
    label: NamedLabel
    priority: 1
    type: basic
    pattern: |
      (?<name> Rainbows)

  - name: MultipleWords
    label: MultipleWordsLabel
    priority: 1
    type: basic
    pattern: |
      [word=/Rainbows|shine|bright/]{1,3}
"""

RULES = [
    "NGram", "Event", "Event-plus", "Event-3", "GraphTraversal",
    "Repetition", "Repetition-lazy", "Optional", "Or", "Named", "MultipleWords",
]


def test_every_rule_matches(example_docs):
    extractors, _ = RuleReader().compile_rules(GRAMMAR)
    batch = batch_from_doc_json(example_docs["rainbows"])
    mentions = BatchExtractor(extractors).extract_no_state(
        batch, ["d"] * batch.n_sentences, list(range(batch.n_sentences))
    )
    found = {m.found_by for m in mentions}
    assert found == set(RULES)


@pytest.fixture(scope="module")
def roundtrip(spark, example_docs, tmp_path_factory):
    d = tmp_path_factory.mktemp("ser")
    with open(d / "docs.jsonl", "w") as f:
        f.write(json.dumps(example_docs["rainbows"]) + "\n")
    sents = read_document_json(spark, str(d / "docs.jsonl"))
    extractors, _ = RuleReader().compile_rules(GRAMMAR)
    mentions = extract_mentions_df(sents, extractors)
    original = mentions.collect()
    out = str(d / "mentions")
    write_mentions_json(mentions, out, verbosity="all")
    lines = []
    for fn in os.listdir(out):
        if fn.endswith(".json"):
            with open(os.path.join(out, fn)) as fh:
                lines += [json.loads(l) for l in fh if l.strip()]
    return original, lines


def _key(doc_id, found_by, start, end):
    return (doc_id, found_by, start, end)


def test_roundtrip_preserves_every_mention(roundtrip):
    original, lines = roundtrip
    assert len(original) == len(lines) and len(original) > 0
    orig_by_key = {_key(m.doc_id, m.found_by, m.start, m.end): m for m in original}
    assert len(orig_by_key) == len(original)  # keys unique in this grammar
    for row in lines:
        k = _key(row["doc_id"], row["found_by"], row["start"], row["end"])
        m = orig_by_key.pop(k)
        assert row.get("label") == m.label  # JSON writer drops null labels
        assert row["text"] == m.text
        assert row["content_sha"] == m.content_sha
        assert row["is_event"] == m.is_event
        # JSON writer drops nulls: trigger fields present iff event
        if m.is_event:
            assert row["trigger_start"] == m.trigger_start
            assert row["trigger_end"] == m.trigger_end
        else:
            assert "trigger_start" not in row
        got_caps = [
            (c.get("name"), c.get("label"), c["start"], c["end"], c["text"])
            for c in row.get("captures", [])
        ]
        want_caps = [
            (c["name"], c["label"], c["start"], c["end"], c["text"])
            for c in (m.captures or [])
        ]
        assert sorted(got_caps) == sorted(want_caps)
    assert not orig_by_key  # nothing lost


def test_roundtrip_covers_all_match_types(roundtrip):
    original, _ = roundtrip
    assert {m.found_by for m in original} == set(RULES)
    # the quantified-arg EVENT mention serializes every capture; its
    # promoted arguments ride along as separate top-level mentions
    # (reference no-state promotion, ExtractorEngine.scala:504-563)
    plus = [m for m in original if m.found_by == "Event-plus"]
    events = [m for m in plus if m.is_event]
    assert events and all(len(m.captures) >= 2 for m in events)
    assert len(plus) > len(events)  # promoted args present too


# --- the sink at each verbosity level (JsonSerializer.scala:8-55) -------------


def _mentions(spark):
    docs = spark.createDataFrame(
        [(1, "alpha join beta", "en")], "doc_id long, text string, lang string"
    )
    grammar = """
rules:
  - name: pair
    label: Pair
    type: basic
    pattern: |
      (?<left> alpha) join
"""
    extractors, _ = RuleReader().compile_rules(grammar)
    sents = tokenize_documents(docs)
    return extract_mentions_df(apply_prefilter(sents, extractors), extractors)


@pytest.mark.parametrize("verbosity", ["minimal", "display", "all"])
def test_write_mentions_json_roundtrip(spark, tmp_path, verbosity):
    m = _mentions(spark)
    p = str(tmp_path / verbosity)
    write_mentions_json(m, p, verbosity=verbosity)
    files = [f for f in os.listdir(p) if f.endswith(".json")]
    assert files
    lines = []
    for f in files:
        with open(os.path.join(p, f)) as fh:
            lines += [json.loads(l) for l in fh if l.strip()]
    assert len(lines) == m.count() == 1
    row = lines[0]
    # spark.read.json drops null-valued keys per row; require the non-null
    # required fields and forbid anything beyond the verbosity contract
    assert set(row) <= set(VERBOSITY_COLUMNS[verbosity])
    for required in ("doc_id", "sent_id", "found_by", "start", "end"):
        assert required in row
    if verbosity in ("display", "all"):
        assert row["label"] == "Pair" and row["text"] == "alpha join"
    if verbosity == "all":
        assert row["content_sha"] and len(row["content_sha"]) == 64
        assert row["captures"][0]["name"] == "left"
        assert row["captures"][0]["text"] == "alpha"
    # and it reads back through spark
    back = spark.read.json(p)
    assert back.count() == 1
