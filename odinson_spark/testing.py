"""Test helpers: build in-memory sentence batches without Spark.

Mirrors the reference's test utilities
(core/src/main/scala/ai/lum/odinson/test/utils/OdinsonTest.scala:153 —
``mkExtractorEngineFromText`` splits on whitespace and indexes only the raw
layer; the synthetic ``norm`` layer derives from it).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from .lang.normalize import normalize_unicode, normalize_unicode_aggressively, sanitize_token
from .match.context import SentenceBatch
from .schema import GRAPH_COLUMNS, graph_columns


def sentence_batch_from_texts(texts: Sequence[str]) -> SentenceBatch:
    raw = [[sanitize_token(normalize_unicode(t)) for t in s.split()] for s in texts]
    norm = [[normalize_unicode_aggressively(t) for t in toks] for toks in raw]
    return SentenceBatch(
        layers={"raw": raw, "word": raw, "norm": norm},
        num_tokens=[len(t) for t in raw],
    )


def sentence_batch_from_docs(
    sentences: List[dict], build_inout: bool = True, pre_normalized: bool = False
) -> SentenceBatch:
    """Build a batch from annotated-sentence dicts with keys:
    ``raw word lemma tag chunk entity`` (token lists), the graph either as
    the sentence table's ``deps_src``/``deps_dst``/``deps_label``/
    ``deps_roots`` (this engine's annotators) or as a reference-style
    ``edges`` list of (src, dst, label) with ``roots``, and ``mentions``
    (dict label -> [(start, end), …]). ``build_inout`` no longer does
    anything: the batch derives incoming/outgoing labels from its graph.

    ``pre_normalized=True``: trust the input to be already sanitized +
    NFKC'd with a precomputed ``norm`` layer (true for this engine's own
    annotators, code_tokenizer.annotate_text/annotate_code) — skips the
    redundant per-token re-normalization when a Spark-free run matches
    annotator output directly.

    Keys beyond the built-ins and the reserved graph/``mentions`` keys
    become extra token layers verbatim — arbitrary configured fields index
    like any other layer (reference TestFields.scala:42-94)."""
    layer_names = ("raw", "word", "lemma", "tag", "chunk", "entity")
    graphs = [
        s if "deps_src" in s else graph_columns(s.get("edges"), s.get("roots"))
        for s in sentences
    ]
    reserved = set(layer_names) | set(GRAPH_COLUMNS) | {
        "norm", "norm_alt", "edges", "roots", "mentions", "incoming", "outgoing",
    }
    extra_names = sorted({k for s in sentences for k in s.keys() if k not in reserved})
    layers: Dict[str, list] = {k: [] for k in layer_names}
    layers["norm"] = []
    layers["norm_alt"] = []
    for k in extra_names:
        layers[k] = []
    num_tokens = []
    mentions = []
    for s in sentences:
        if pre_normalized:
            raw = list(s["raw"])
            word = list(s.get("word", s["raw"]))
        else:
            raw = [sanitize_token(normalize_unicode(t)) for t in s["raw"]]
            word = [sanitize_token(normalize_unicode(t)) for t in s.get("word", s["raw"])]
        num_tokens.append(len(raw))
        layers["raw"].append(raw)
        layers["word"].append(word)
        # norm is the synonym union of raw+word normalized variants: the
        # norm layer holds the word variant, norm_alt the raw variant where
        # it differs (None otherwise — raw==word in all reference fixtures)
        if pre_normalized and "norm" in s and word == raw:
            norm = list(s["norm"])
            norm_alt = None
        else:
            norm = [normalize_unicode_aggressively(t) for t in word]
            norm_alt = [normalize_unicode_aggressively(t) for t in raw]
            norm_alt = norm_alt if norm_alt != norm else None
        layers["norm"].append(norm)
        layers["norm_alt"].append(norm_alt)
        for k in ("lemma", "tag", "chunk", "entity", *extra_names):
            v = s.get(k)
            if v and not pre_normalized:
                v = [normalize_unicode(t) for t in v]
            layers[k].append(list(v) if v else None)
        mentions.append(s.get("mentions") or {})
    return SentenceBatch(
        layers=layers,
        num_tokens=num_tokens,
        edges=tuple([g[c] for g in graphs] for c in ("deps_src", "deps_dst", "deps_label")),
        roots=[g.get("deps_roots") for g in graphs],
        mentions=mentions,
    )


def match_strings(tokens: Sequence[str], matches) -> List[str]:
    return [" ".join(tokens[m.start : m.end]) for m in matches]


def doc_json_to_sentences(doc: dict) -> List[dict]:
    """Convert a reference-format Document JSON (OdinsonDocument.scala:13-126)
    into the plain sentence dicts :func:`sentence_batch_from_docs` accepts."""
    out = []
    for s in doc.get("sentences", []):
        sent: Dict[str, object] = {}
        for f in s.get("fields", []):
            ftype = f.get("$type", "")
            name = f.get("name")
            if ftype.endswith("TokensField"):
                sent[name] = f.get("tokens")
            elif ftype.endswith("GraphField"):
                sent["edges"] = [tuple(e) for e in f.get("edges", [])]
                sent["roots"] = list(f.get("roots", []))
        if "raw" not in sent and "word" in sent:
            sent["raw"] = sent["word"]
        out.append(sent)
    return out


def batch_from_doc_json(doc: dict, mentions: Optional[List[dict]] = None) -> SentenceBatch:
    sentences = doc_json_to_sentences(doc)
    if mentions:
        for s, m in zip(sentences, mentions):
            s["mentions"] = m
    return sentence_batch_from_docs(sentences)
