"""Deterministic code/text annotation.

The reference annotates documents with an NLP pipeline
(extra/.../AnnotateText.scala:17-87); this engine is model-free: a
deterministic tokenizer produces the same *layer structure* (the match engine
is agnostic to what the layers mean — reference README.md:20). Two flavors:

* :func:`annotate_code` — source files: one sentence per logical line,
  regex lexer (identifiers/numbers/strings/operators), token-class ``tag``
  layer, symbol-role ``entity`` layer, and a code-structure digraph
  (``def``/``assign``/``arg``/``call``/``next`` edges).
* :func:`annotate_text` — whitespace text (e.g. the synthetic ``documents``
  table): split on whitespace, ``next``-chain digraph. Deliberately simple
  enough that a SQL oracle can reproduce every derived layer exactly —
  this is what the DuckDB correctness gate runs against.

Both return sentence dicts keyed by the sentence table's columns
(schema.SENTENCES_SCHEMA): token layers plus the graph as ``deps_src``/
``deps_dst``/``deps_label``/``deps_roots``.

Both cap sentences at ``max_tokens`` (reference drops over-long sentences at
index time, OdinsonIndexWriter.scala:116-120 — a skew guard we keep).
"""

from __future__ import annotations

import hashlib
import re
from typing import Dict, Iterable, List, Optional, Tuple

import numpy as np

from ..lang.normalize import normalize_unicode, normalize_unicode_aggressively, sanitize_token

MAX_TOKENS_PER_SENTENCE = 100

_TOKEN_RE = re.compile(
    r"""
    (?P<STR>  "(?:\\.|[^"\\])*" | '(?:\\.|[^'\\])*' )
  | (?P<NUM>  \d+(?:\.\d+)?(?:[eE][+-]?\d+)? )
  | (?P<IDENT> [A-Za-z_][A-Za-z0-9_]* )
  | (?P<OP>   [+\-*/%=<>!&|^~]+ )
  | (?P<PUNCT> [()\[\]{}.,:;@] )
    """,
    re.VERBOSE,
)

KEYWORDS = frozenset(
    """def class function fn return if else elif for while import from as with
    try except finally raise lambda pass break continue yield async await
    public private static void int float double new var let const struct
    enum match case type impl trait use mod pub""".split()
)


def content_sha(content: str) -> str:
    """Per-row lineage invariant (BASELINE.json input_hint)."""
    return hashlib.sha256(content.encode("utf-8")).hexdigest()


def lex_line(line: str) -> List[Tuple[str, str]]:
    """(token, klass) pairs for one line of code."""
    out = []
    for m in _TOKEN_RE.finditer(line):
        kind = m.lastgroup
        tok = m.group()
        if kind == "IDENT" and tok in KEYWORDS:
            kind = "KEYWORD"
        out.append((tok, kind))
    return out


def _sentence_from_code_tokens(pairs: List[Tuple[str, str]]) -> Dict:
    raw = [sanitize_token(normalize_unicode(t)) for t, _ in pairs]
    tags = [k for _, k in pairs]
    n = len(raw)
    # entity layer: symbol roles
    entity = ["O"] * n
    for i in range(n):
        if tags[i] == "IDENT":
            prev_kw = tags[i - 1] == "KEYWORD" and raw[i - 1] in (
                "def", "class", "fn", "function", "struct", "enum", "trait",
            ) if i > 0 else False
            nxt_paren = i + 1 < n and raw[i + 1] == "("
            if prev_kw:
                entity[i] = "DEF"
            elif nxt_paren:
                entity[i] = "CALL"
            else:
                entity[i] = "VAR"
    # chunk layer: BIO over maximal identifier/number runs
    chunk = ["O"] * n
    in_run = False
    for i in range(n):
        if tags[i] in ("IDENT", "NUM", "KEYWORD"):
            chunk[i] = "I-EXPR" if in_run else "B-EXPR"
            in_run = True
        else:
            in_run = False
    # code-structure digraph, as the table's parallel edge columns
    src: List[int] = list(range(n - 1))
    dst: List[int] = list(range(1, n))
    lab: List[str] = ["next"] * (n - 1)

    def edge(a: int, b: int, label: str) -> None:
        src.append(a)
        dst.append(b)
        lab.append(label)

    for i in range(n):
        if entity[i] == "DEF" and i > 0:
            edge(i - 1, i, "def")
        if entity[i] == "CALL":
            # call -> first token of each top-level argument
            depth = 0
            expect_arg = False
            for j in range(i + 1, n):
                if raw[j] == "(":
                    depth += 1
                    if depth == 1:
                        expect_arg = True
                elif raw[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                elif depth == 1:
                    if raw[j] == ",":
                        expect_arg = True
                    elif expect_arg:
                        edge(i, j, "arg")
                        expect_arg = False
        if tags[i] == "OP" and raw[i] == "=":
            lhs = next((j for j in range(i - 1, -1, -1) if tags[j] == "IDENT"), None)
            rhs = next(
                (j for j in range(i + 1, len(raw)) if tags[j] in ("IDENT", "NUM", "STR")),
                None,
            )
            if lhs is not None and rhs is not None:
                edge(lhs, rhs, "assign")
    lemma = [t.lower() for t in raw]
    return {
        "raw": raw,
        "word": raw,
        "norm": [normalize_unicode_aggressively(t) for t in raw],
        "lemma": lemma,
        "tag": tags,
        "chunk": chunk,
        "entity": entity,
        "deps_src": src,
        "deps_dst": dst,
        "deps_label": lab,
        "deps_roots": [0] if n else [],
    }


def annotate_code(content: str, max_tokens: int = MAX_TOKENS_PER_SENTENCE) -> List[Dict]:
    """content → list of sentence dicts (one per non-empty logical line)."""
    sentences = []
    sent_id = 0
    for line in content.splitlines():
        pairs = lex_line(line)
        if not pairs or len(pairs) > max_tokens:
            continue
        s = _sentence_from_code_tokens(pairs)
        s["sent_id"] = sent_id
        sentences.append(s)
        sent_id += 1
    return sentences


# next-chain edge arrays are identical for every sentence up to length, so
# cache one copy and hand out read-only views (consumers concatenate/copy,
# never mutate)
_EDGE_CACHE_LEN = 4096
_EDGE_IDX = np.arange(_EDGE_CACHE_LEN, dtype=np.int32)
_EDGE_NEXT = np.full(_EDGE_CACHE_LEN, "next", dtype=object)


def _next_chain_edges(n: int):
    if n <= _EDGE_CACHE_LEN:
        return (_EDGE_IDX[: n - 1], _EDGE_IDX[1:n], _EDGE_NEXT[: n - 1])
    src = np.arange(n - 1, dtype=np.int32)
    return (src, src + 1, np.full(n - 1, "next", dtype=object))


def annotate_text(content: str, max_tokens: int = MAX_TOKENS_PER_SENTENCE) -> List[Dict]:
    """Whitespace tokenization with a next-chain graph; one sentence per doc
    (SQL-oracle-reproducible: token i is element i+1 of string_split).

    The graph columns are numpy arrays (read-only views of one cached
    next-chain), which Arrow and the matcher's CSR builder take as they are.

    ASCII fast path: ``str.split`` never yields whitespace-only tokens, so
    ``sanitize_token`` is the identity here; on ASCII input NFKC is also the
    identity and aggressive normalization == ``lower`` (normalize.py:46-52),
    which equals the lemma layer — raw aliases the split tokens and one
    shared lowered list serves both norm and lemma (downstream batch
    builders copy per-layer, so aliasing is safe)."""
    toks = content.split()
    if not toks:
        return []
    toks = toks[:max_tokens]
    if content.isascii():
        raw = toks
        low = [t.lower() for t in toks]
        norm = low
        lemma = low
    else:
        raw = [sanitize_token(normalize_unicode(t)) for t in toks]
        norm = [normalize_unicode_aggressively(t) for t in raw]
        lemma = [t.lower() for t in raw]
    n = len(raw)
    src, dst, lab = _next_chain_edges(n)
    return [
        {
            "sent_id": 0,
            "raw": raw,
            "word": raw,
            "norm": norm,
            "lemma": lemma,
            "tag": ["NUM" if t.isdigit() else "WORD" for t in raw],
            "chunk": ["O"] * n,
            "entity": ["O"] * n,
            "deps_src": src,
            "deps_dst": dst,
            "deps_label": lab,
            "deps_roots": [0],
        }
    ]
