"""Exercise every TableIO method on the parquet backend (the Iceberg branch
shares the same interface but needs runtime jars this sandbox lacks — see
COVERAGE.md), plus the mention JSON sink at all three verbosity levels
(reference: serialization/JsonSerializer.scala:8-55)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from odinson_spark.lang.rules import RuleReader
from odinson_spark.pipeline.extract import apply_prefilter, extract_mentions_df, tokenize_documents
from odinson_spark.sources.document_json import VERBOSITY_COLUMNS, write_mentions_json
from odinson_spark.sources.table_io import TableIO


@pytest.fixture
def tio(spark):
    io = TableIO(spark, use_iceberg=False)
    assert not io.use_iceberg
    return io


def _docs(spark):
    return spark.createDataFrame(
        [("a", "x1"), ("b", "x2"), ("it's", "x3")], "doc_id string, payload string"
    )


def test_table_io_roundtrip(spark, tio, tmp_path):
    p = str(tmp_path / "t")
    tio.overwrite(_docs(spark), p)
    assert tio.read(p).count() == 3
    tio.append(_docs(spark).filter(F.col("doc_id") == "a"), p)
    assert tio.read(p).count() == 4
    tio.overwrite(_docs(spark), p)
    assert tio.read(p).count() == 3


def test_table_io_overwrite_partitioned(spark, tio, tmp_path):
    p = str(tmp_path / "t")
    tio.overwrite(_docs(spark).withColumn("part", F.lit("x")), p, partition_by=["part"])
    got = tio.read(p)
    assert got.count() == 3 and "part" in got.columns


def test_delete_doc_rewrites_without_self_overwrite(spark, tio, tmp_path):
    p = str(tmp_path / "t")
    tio.overwrite(_docs(spark), p)
    tio.delete_doc(p, "b")
    left = sorted(r.doc_id for r in tio.read(p).collect())
    assert left == ["a", "it's"]
    # no temp/old dirs left behind
    siblings = os.listdir(tmp_path)
    assert siblings == ["t"]


def test_delete_doc_quote_in_id_is_safe(spark, tio, tmp_path):
    # a doc_id containing a quote must delete exactly that row (the old
    # f-string SQL would have raised or mangled the predicate)
    p = str(tmp_path / "t")
    tio.overwrite(_docs(spark), p)
    tio.delete_doc(p, "it's")
    assert sorted(r.doc_id for r in tio.read(p).collect()) == ["a", "b"]


def test_update_doc(spark, tio, tmp_path):
    p = str(tmp_path / "t")
    tio.overwrite(_docs(spark), p)
    new_rows = spark.createDataFrame([("b", "x2-new")], "doc_id string, payload string")
    tio.update_doc(p, "b", new_rows)
    got = {r.doc_id: r.payload for r in tio.read(p).collect()}
    assert got["b"] == "x2-new" and len(got) == 3


# --- mention sink -------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# TestIncrementalIndex.scala:95-247 behavioral port (parquet branch): add to
# an open/closed index, delete one of many, no-op delete/update of a
# non-existent doc, update respecting sentence changes
# ---------------------------------------------------------------------------


def test_incremental_add_to_closed_index(spark, tmp_path):
    """Writing through a NEW TableIO instance appends to a previously
    'closed' index (TestIncrementalIndex.scala:109-123)."""
    p = str(tmp_path / "t")
    TableIO(spark, use_iceberg=False).overwrite(_docs(spark), p)
    # fresh instance == reopened index
    tio2 = TableIO(spark, use_iceberg=False)
    tio2.append(spark.createDataFrame([("d", "x4")], "doc_id string, payload string"), p)
    assert {r.doc_id for r in tio2.read(p).collect()} == {"a", "b", "it's", "d"}


def test_incremental_delete_one_of_many(spark, tio, tmp_path):
    """Deleting one doc leaves the others intact
    (TestIncrementalIndex.scala:163-187)."""
    p = str(tmp_path / "t")
    tio.overwrite(_docs(spark), p)
    tio.delete_doc(p, "b")
    assert {r.doc_id for r in tio.read(p).collect()} == {"a", "it's"}


def test_incremental_delete_nonexistent_doc_is_noop(spark, tio, tmp_path):
    """Deleting a doc that isn't there must not crash or change the table
    (TestIncrementalIndex.scala:189-197)."""
    p = str(tmp_path / "t")
    tio.overwrite(_docs(spark), p)
    tio.delete_doc(p, "no-such-doc")
    assert {r.doc_id for r in tio.read(p).collect()} == {"a", "b", "it's"}


def test_incremental_update_nonexistent_doc_inserts(spark, tio, tmp_path):
    """Updating a non-existent doc must not crash; the new rows land
    (TestIncrementalIndex.scala:241-247)."""
    p = str(tmp_path / "t")
    tio.overwrite(_docs(spark), p)
    rows = spark.createDataFrame([("z", "new")], "doc_id string, payload string")
    tio.update_doc(p, "z", rows)
    out = {r.doc_id: r.payload for r in tio.read(p).collect()}
    assert out["z"] == "new" and len(out) == 4


def test_incremental_update_respects_sentence_changes(spark, tio, tmp_path):
    """An update replaces ALL old rows of the doc, even when the new version
    has a different row count (TestIncrementalIndex.scala:199-214 'respecting
    changes to sentences')."""
    p = str(tmp_path / "t")
    many = spark.createDataFrame(
        [("a", "s0"), ("a", "s1"), ("a", "s2"), ("b", "x")],
        "doc_id string, payload string",
    )
    tio.overwrite(many, p)
    new_rows = spark.createDataFrame([("a", "only")], "doc_id string, payload string")
    tio.update_doc(p, "a", new_rows)
    rows = tio.read(p).collect()
    a_rows = [r.payload for r in rows if r.doc_id == "a"]
    assert a_rows == ["only"]
    assert {r.doc_id for r in rows} == {"a", "b"}


def test_settings_export_load_and_validation(spark, tio, tmp_path):
    """Index settings sidecar: dump + reload + displayField validation +
    survival across the delete_doc rewrite
    (TestIncrementalIndex.scala:38-93 'properly export and load settings',
    'throw an exception if the displayField isn't in the storedFields')."""
    p = str(tmp_path / "t")
    tio.overwrite(_docs(spark), p)
    settings = {
        "display_field": "raw",
        "stored_fields": ["raw", "lemma"],
        "extra_token_fields": ["fizzbuzz"],
    }
    tio.write_settings(p, settings)
    assert tio.read_settings(p) == settings
    # the data itself still reads cleanly (sidecar starts with '_', ignored
    # by the parquet reader)
    assert tio.read(p).count() == 3
    # settings survive the delete_doc temp-then-swap rewrite
    tio.delete_doc(p, "b")
    assert tio.read_settings(p) == settings
    assert tio.read(p).count() == 2
    # invalid: displayField must be stored
    with pytest.raises(ValueError, match="displayField"):
        tio.write_settings(p, {"display_field": "raw", "stored_fields": ["lemma"]})
    # absent settings read as None
    p2 = str(tmp_path / "t2")
    tio.overwrite(_docs(spark), p2)
    assert tio.read_settings(p2) is None
