"""Test helpers: build in-memory sentence batches without Spark.

Every helper turns its input into sentence-table rows and builds the batch
with the matcher stage's own functions (``_sentences_frame`` then
``batch_from_pandas``); only the Arrow round trip is skipped. Reference-
style sentences are normalized by the JSON source's
:func:`~odinson_spark.sources.document_json.sentence_row`, so a fixture
matches exactly what ``read_document_json`` would store.

Mirrors the reference's test utilities
(core/src/main/scala/ai/lum/odinson/test/utils/OdinsonTest.scala:153 —
``mkExtractorEngineFromText`` splits on whitespace and indexes only the raw
layer; the synthetic ``norm`` layer derives from it).
"""

from __future__ import annotations

from typing import List, Sequence

from .match.context import SentenceBatch
from .pipeline.extract import _sentences_frame, batch_from_pandas
from .schema import SENTENCES_SCHEMA, graph_columns
from .sources.document_json import doc_to_sentences, sentence_row

# keys of a sentence dict that are not extra token layers
_RESERVED = {f.name for f in SENTENCES_SCHEMA.fields} | {"edges", "roots"}


def _batch(rows: List[dict], extra_token_fields: Sequence[str] = ()) -> SentenceBatch:
    pdf = _sentences_frame([(None, None, None, rows)], extra_token_fields)
    return batch_from_pandas(pdf, extra_token_fields)[0]


def sentence_batch_from_texts(texts: Sequence[str]) -> SentenceBatch:
    return sentence_batch_from_docs([{"raw": s.split()} for s in texts])


def sentence_batch_from_docs(
    sentences: List[dict], build_inout: bool = True, pre_normalized: bool = False
) -> SentenceBatch:
    """Build a batch from sentence dicts of two kinds, told apart by ``norm``:

    - a dict with ``norm`` is a sentence-table row (this engine's
      annotators, code_tokenizer.annotate_text/annotate_code) and is used
      as it is;
    - any other dict is a reference-style sentence: token lists under layer
      names (``raw word lemma tag chunk entity``) and the graph as an
      ``edges`` list of (src, dst, label) with ``roots``. It becomes a row
      through ``sentence_row``.

    Keys beyond the sentence columns and ``edges``/``roots`` become extra
    token layers — arbitrary configured fields index like any other layer
    (reference TestFields.scala:42-94).

    ``build_inout`` and ``pre_normalized`` do nothing: the batch derives
    incoming/outgoing labels from its graph, and whether a dict needs
    normalizing follows from the dict."""
    extra = sorted({k for s in sentences for k in s if k not in _RESERVED})
    rows = [
        s if "norm" in s
        else sentence_row({**s, **graph_columns(s.get("edges"), s.get("roots"))}, extra)
        for s in sentences
    ]
    return _batch(rows, extra)


def match_strings(tokens: Sequence[str], matches) -> List[str]:
    return [" ".join(tokens[m.start : m.end]) for m in matches]


def batch_from_doc_json(doc: dict) -> SentenceBatch:
    """A reference-format Document JSON (OdinsonDocument.scala:13-126) → the
    batch of the rows ``read_document_json`` stores for it."""
    return _batch(doc_to_sentences(doc))
