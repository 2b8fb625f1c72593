"""Spark schemas for every pipeline stage.

The annotated-sentence table is the Spark analogue of the reference's Lucene
index (one row per sentence, token layers as position-aligned arrays,
dependency graph as parallel edge arrays — OdinsonIndexWriter.scala:113-205).
The edge columns (``EDGE_COLUMNS``) are the one sentence-graph format from
annotator to matcher: ``SentenceBatch`` builds one CSR per direction for the
whole Arrow batch from them; traversals walk it, and the per-token
``incoming``/``outgoing`` labels are views of it. Labels are compared
exactly as stored. Traversal prefilters push into the scan as
``array_contains(deps_label, l)`` (the analogue of the reference's traversal
anchor pushdown, QueryCompiler.scala:544-615). ``deps_roots`` is stored for
parity with the reference's ``GraphField``; no matcher reads it.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_S = StringType()
_I = IntegerType()
_AS = ArrayType(StringType())
_AI = ArrayType(IntegerType())

REPOS_SCHEMA = StructType(
    [
        StructField("repo", _S),
        StructField("path", _S),
        StructField("commit", _S),
        StructField("lang", _S),
        StructField("content", _S),
    ]
)

SENTENCES_SCHEMA = StructType(
    [
        StructField("doc_id", _S, False),
        StructField("sent_id", _I, False),
        StructField("content_sha", _S),
        StructField("lang", _S),
        StructField("num_tokens", _I, False),
        StructField("raw", _AS),
        StructField("word", _AS),
        StructField("norm", _AS),
        # synonym union (reference: OdinsonIndexWriter.scala:174-182 indexes
        # casefolded variants of raw AND word at the same position): the
        # normalized-RAW variant, present only when it differs from norm
        StructField("norm_alt", _AS),
        StructField("lemma", _AS),
        StructField("tag", _AS),
        StructField("chunk", _AS),
        StructField("entity", _AS),
        # dependency graph: parallel edge arrays (the CSR is built per batch)
        StructField("deps_src", _AI),
        StructField("deps_dst", _AI),
        StructField("deps_label", _AS),
        StructField("deps_roots", _AI),
    ]
)


EDGE_COLUMNS = ("deps_src", "deps_dst", "deps_label")
GRAPH_COLUMNS = (*EDGE_COLUMNS, "deps_roots")


def graph_columns(edges, roots=()) -> dict:
    """A reference ``GraphField`` (``edges`` as (src, dst, label) triples,
    ``roots``) → the sentence table's graph columns."""
    edges = edges or ()
    return dict(
        zip(
            GRAPH_COLUMNS,
            (
                [e[0] for e in edges],
                [e[1] for e in edges],
                [e[2] for e in edges],
                list(roots or ()),
            ),
        )
    )

def sentences_schema(extra_token_fields=()) -> StructType:
    """SENTENCES_SCHEMA plus user-configured token layers.

    The reference indexes any configured ``TokensField``
    (reference.conf:46-57 ``allTokenFields``, TestFields.scala:42-94); here
    each extra layer is one more position-aligned array<string> column —
    same storage, pruning, and prefilter treatment as the built-ins.
    """
    fields = list(SENTENCES_SCHEMA.fields)
    builtin = {f.name for f in fields}
    at = next(i for i, f in enumerate(fields) if f.name == "deps_src")
    for name in extra_token_fields:
        if name in builtin:
            continue
        fields.insert(at, StructField(name, _AS))
        at += 1
    return StructType(fields)


CAPTURE_STRUCT = StructType(
    [
        StructField("name", _S),
        StructField("label", _S),
        StructField("start", _I),
        StructField("end", _I),
        StructField("text", _S),
    ]
)

MENTIONS_SCHEMA = StructType(
    [
        StructField("doc_id", _S, False),
        StructField("sent_id", _I, False),
        StructField("content_sha", _S),
        StructField("label", _S),
        StructField("found_by", _S, False),
        StructField("start", _I, False),
        StructField("end", _I, False),
        StructField("text", _S),
        StructField("is_event", BooleanType(), False),
        StructField("trigger_start", _I),
        StructField("trigger_end", _I),
        StructField("captures", ArrayType(CAPTURE_STRUCT)),
    ]
)

TRIPLES_SCHEMA = StructType(
    [
        StructField("doc_id", _S, False),
        StructField("sent_id", _I, False),
        StructField("content_sha", _S),
        StructField("rule", _S, False),
        StructField("label", _S),
        StructField("subj_role", _S),
        StructField("subj_start", _I),
        StructField("subj_end", _I),
        StructField("subj_text", _S),
        StructField("pred", _S),
        StructField("obj_role", _S),
        StructField("obj_start", _I),
        StructField("obj_end", _I),
        StructField("obj_text", _S),
    ]
)

NODES_SCHEMA = StructType(
    [
        StructField("node_id", LongType(), False),
        StructField("canonical_id", LongType(), False),
        StructField("surface", _S),
        StructField("label", _S),
        StructField("n_mentions", LongType()),
    ]
)

EDGES_SCHEMA = StructType(
    [
        StructField("src_id", LongType(), False),
        StructField("dst_id", LongType(), False),
        StructField("pred", _S),
        StructField("rule", _S),
        StructField("doc_id", _S),
        StructField("sent_id", _I),
        StructField("content_sha", _S),
    ]
)
