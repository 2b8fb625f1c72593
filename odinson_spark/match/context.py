"""Batch-level evaluation context.

A :class:`SentenceBatch` wraps one Arrow record batch worth of sentences.
Token layers are factorized once per batch (string → int codes + a small
vocabulary); every leaf token-constraint is then evaluated once against the
vocabulary and broadcast to per-token boolean masks with a single numpy
gather. This is what makes a Python matcher viable at scale: the string
work is O(|vocab|) per batch instead of O(|tokens|) per pattern node.

The reference gets an equivalent effect from Lucene's term dictionary
(terms are matched against the dictionary once, then matching is
postings-id based); here the Arrow batch plays the role of the index
segment.

The batch's edges likewise become one CSR per direction for the whole batch
(:meth:`SentenceBatch.csr`): traversals walk it (match/graph.py) and the
``incoming``/``outgoing`` token labels are views of it.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa

from ..lang import ast
from ..lang.parser import DEFAULT_TOKEN_FIELD
from ..lang.normalize import normalize_unicode, normalize_unicode_aggressively
from .graph import LabelVocab
from .matches import StateMatch

MULTI_VALUED_FIELDS = ("incoming", "outgoing")


class _FactorizedField:
    __slots__ = ("codes", "offsets", "vocab", "pred_cache")

    def __init__(self, codes, offsets, vocab):
        self.codes = codes          # int32 flat codes (one per token / per value)
        self.offsets = offsets      # int64, len = n_sentences + 1 (token offsets)
        self.vocab = vocab          # list[str]
        self.pred_cache: Dict[object, np.ndarray] = {}


class _FactorizedMultiField:
    """Field with multiple values per token (incoming/outgoing edge labels):
    a view of the batch CSR, one label code per edge grouped by token."""

    __slots__ = ("codes", "tok_offsets", "sent_offsets", "vocab", "pred_cache", "token_masks")

    def __init__(self, codes, tok_offsets, sent_offsets, vocab):
        self.codes = codes
        self.tok_offsets = tok_offsets    # per-token value offsets (flat across batch)
        self.sent_offsets = sent_offsets  # sentence -> first token index
        self.vocab = vocab
        self.pred_cache: Dict[object, np.ndarray] = {}
        # per-token "some value matches" over the whole batch, per leaf
        self.token_masks: Dict[object, np.ndarray] = {}


def _pred_key(matcher, fuzzy: bool):
    return (
        type(matcher).__name__,
        getattr(matcher, "string", None) or getattr(matcher, "pattern", None),
        fuzzy,
    )


def _factorize(values: Sequence[str]):
    """int32 codes + vocabulary in first-seen order. Arrow compares whole
    strings; ``pd.factorize`` over objects stops at a NUL, so ``"a\\x00b"``
    and ``"a"`` would share one code."""
    enc = pa.array(values, type=pa.string()).dictionary_encode(null_encoding="encode")
    return enc.indices.to_numpy(zero_copy_only=False), enc.dictionary.to_pylist()


def query_value(field_name: str, matcher) -> str:
    """The string or regex a leaf on ``field_name`` compares with the stored
    values — the one normalization the matcher, the scan prefilter and the
    index postings share. Edge labels (``incoming``/``outgoing``) compare
    exactly as stored; a term on the default field or its ``norm_alt``
    synonym is aggressively normalized; anything else is NFKC-normalized."""
    if isinstance(matcher, ast.StringMatcher):
        s = matcher.string
        if field_name in MULTI_VALUED_FIELDS:
            return s
        if field_name in (DEFAULT_TOKEN_FIELD, "norm_alt"):
            return normalize_unicode_aggressively(s)
        return normalize_unicode(s)
    if isinstance(matcher, ast.RegexMatcher):
        p = matcher.pattern
        return p if field_name in MULTI_VALUED_FIELDS else normalize_unicode(p)
    raise TypeError(f"unknown matcher {matcher!r}")


class SentenceBatch:
    """One Arrow batch of sentences: token layers factorized per batch, and
    the batch's graph as one CSR per direction over global token positions
    (a sentence's token base plus the token's index in it).

    ``edges``: the sentence table's (``deps_src``, ``deps_dst``,
    ``deps_label``) columns — three per-sentence columns of equal-length
    sequences (None = no edges). Traversals walk the CSR
    (:meth:`adjacency`); the per-token ``incoming``/``outgoing`` label
    fields are views of it (:meth:`multi_field`)."""

    def __init__(
        self,
        layers: Dict[str, List[Optional[List[str]]]],
        num_tokens: List[int],
        edges: Optional[Tuple[Sequence, Sequence, Sequence]] = None,
    ):
        self.raw_layers = layers
        self.num_tokens = num_tokens
        self.n_sentences = len(num_tokens)
        self._fields: Dict[str, _FactorizedField] = {}
        self._multi_fields: Dict[str, _FactorizedMultiField] = {}
        self._edges = edges
        # per-sentence {label: [(start, end), …]}, filled by the state
        # cascade (BatchExtractor.extract_mentions)
        self._mentions: Optional[List[Dict[str, List[Tuple[int, int]]]]] = None
        self._csr: Dict[str, Tuple[np.ndarray, np.ndarray]] = {}
        self._adjacency: Dict[str, Tuple[list, list]] = {}
        self.label_vocab: Optional[LabelVocab] = None
        self._tok_offsets = np.zeros(self.n_sentences + 1, dtype=np.int64)
        np.cumsum(num_tokens, out=self._tok_offsets[1:])

    # -- token layers ---------------------------------------------------

    def field(self, name: str) -> _FactorizedField:
        f = self._fields.get(name)
        if f is None:
            col = self.raw_layers.get(name)
            if col is None:
                raise KeyError(f"no such token layer: {name}")
            flat: List[str] = []
            for i, toks in enumerate(col):
                if toks is None:
                    toks = [""] * self.num_tokens[i]
                flat.extend(toks)
            codes, vocab = _factorize(flat)
            f = _FactorizedField(codes, self._tok_offsets, vocab)
            self._fields[name] = f
        return f

    def multi_field(self, name: str) -> _FactorizedMultiField:
        """The ``incoming``/``outgoing`` labels of every token: a view of
        the batch CSR (label codes of the edges grouped by token, over the
        label vocabulary)."""
        f = self._multi_fields.get(name)
        if f is None:
            if name not in MULTI_VALUED_FIELDS:
                raise KeyError(f"no such multi-valued layer: {name}")
            flat, cum = self.csr(name)
            f = _FactorizedMultiField(flat[1::2], cum, self._tok_offsets, self.label_vocab.labels)
            self._multi_fields[name] = f
        return f

    def has_field(self, name: str) -> bool:
        return name in self.raw_layers and self.raw_layers[name] is not None

    # -- leaf constraint evaluation --------------------------------------

    def _vocab_pred(self, field_name: str, matcher, fuzzy: bool) -> np.ndarray:
        multi = field_name in MULTI_VALUED_FIELDS
        f = self.multi_field(field_name) if multi else self.field(field_name)
        key = _pred_key(matcher, fuzzy)
        pred = f.pred_cache.get(key)
        if pred is not None:
            return pred
        vocab = f.vocab
        value = query_value(field_name, matcher)
        if isinstance(matcher, ast.StringMatcher):
            if fuzzy:
                pred = np.fromiter(
                    (_edit_distance_le2(value, v) for v in vocab), dtype=bool, count=len(vocab)
                )
            else:
                pred = np.fromiter((v == value for v in vocab), dtype=bool, count=len(vocab))
        else:
            rx = re.compile(value)
            pred = np.fromiter(
                (rx.fullmatch(v) is not None for v in vocab), dtype=bool, count=len(vocab)
            )
        f.pred_cache[key] = pred
        return pred

    def leaf_mask(self, sent_idx: int, field_name: str, matcher, fuzzy: bool = False) -> np.ndarray:
        out = self._leaf_mask_one(sent_idx, field_name, matcher, fuzzy)
        if field_name == DEFAULT_TOKEN_FIELD:
            # synonym union (reference OdinsonIndexWriter.scala:174-182): the
            # default field matches the normalized WORD variant (norm) OR the
            # normalized RAW variant (norm_alt, stored only where different)
            alt = self.raw_layers.get("norm_alt")
            if alt is not None and alt[sent_idx] is not None:
                out = out | self._leaf_mask_one(sent_idx, "norm_alt", matcher, fuzzy)
        return out

    def _leaf_mask_one(self, sent_idx: int, field_name: str, matcher, fuzzy: bool = False) -> np.ndarray:
        pred = self._vocab_pred(field_name, matcher, fuzzy)
        if field_name in MULTI_VALUED_FIELDS:
            f = self.multi_field(field_name)
            key = _pred_key(matcher, fuzzy)
            tokens = f.token_masks.get(key)
            if tokens is None:
                # any matching value per token, for the whole batch at once
                # (per sentence this would cost O(batch edges) each time)
                cum = np.concatenate(([0], np.cumsum(pred[f.codes])))
                tokens = (cum[f.tok_offsets[1:]] - cum[f.tok_offsets[:-1]]) > 0
                f.token_masks[key] = tokens
            t0 = int(f.sent_offsets[sent_idx])
            return tokens[t0 : t0 + self.num_tokens[sent_idx]]
        f = self.field(field_name)
        a, b = int(f.offsets[sent_idx]), int(f.offsets[sent_idx + 1])
        if len(pred) == 0 or not pred.any():
            return np.zeros(b - a, dtype=bool)
        return pred[f.codes[a:b]]

    # -- graph -----------------------------------------------------------

    def csr(self, direction: str) -> Tuple[np.ndarray, np.ndarray]:
        """``(flat, cum)`` of the batch CSR for ``"incoming"`` or
        ``"outgoing"``: ``flat`` interleaves (neighbor, label id) pairs,
        and global token position ``p``'s edges are pairs
        ``cum[p]:cum[p + 1]`` of it."""
        if self.label_vocab is None:
            self._build_graph()
        return self._csr[direction]

    def adjacency(self, direction: str) -> Tuple[list, list]:
        """:meth:`csr` as Python lists, built once per batch: ``flat`` and
        ``slices`` with ``slices[p] = 2 * cum[p]``. Adjacency segments are
        1-3 edges, where list indexing beats numpy slicing ~5× (the
        traversal inner loop is step-at-a-time, not vectorizable)."""
        lists = self._adjacency.get(direction)
        if lists is None:
            flat, cum = self.csr(direction)
            lists = self._adjacency[direction] = (flat.tolist(), (2 * cum).tolist())
        return lists

    def _build_graph(self):
        # flatten all edges across the batch once (labels interned against
        # one batch vocabulary)
        src_col, dst_col, lab_col = self._edges or ((None,) * self.n_sentences,) * 3
        counts = np.fromiter(
            (0 if e is None else len(e) for e in src_col), dtype=np.int64, count=self.n_sentences
        )
        has = np.flatnonzero(counts)
        if len(has):
            src_arr = np.concatenate([src_col[i] for i in has]).astype(np.int64, copy=False)
            dst_arr = np.concatenate([dst_col[i] for i in has]).astype(np.int64, copy=False)
            codes, vocab = _factorize(
                np.concatenate([np.asarray(lab_col[i], dtype=object) for i in has])
            )
        else:
            codes, vocab = np.zeros(0, np.int32), []
            src_arr = np.zeros(0, np.int64)
            dst_arr = np.zeros(0, np.int64)
        self.label_vocab = LabelVocab(vocab)

        # one fully-vectorized CSR pass over the WHOLE batch (no per-sentence
        # argsort/bincount/cumsum — those small-array numpy calls were the
        # matcher's top profile cost at 3 ops × 2 directions × sentence):
        # sorting by the global token position of the CSR key groups edges
        # by sentence AND sorts them within each sentence. Edges with an
        # endpoint outside their sentence are dropped.
        sent_of_edge = np.repeat(np.arange(self.n_sentences), counts)
        edge_nt = np.asarray(self.num_tokens, dtype=np.int64)[sent_of_edge]
        valid = (src_arr >= 0) & (src_arr < edge_nt) & (dst_arr >= 0) & (dst_arr < edge_nt)
        if not valid.all():
            src_arr, dst_arr, codes = src_arr[valid], dst_arr[valid], codes[valid]
            sent_of_edge = sent_of_edge[valid]
        edge_base = self._tok_offsets[sent_of_edge]
        total_pos = int(self._tok_offsets[-1])

        def global_csr(key_local, other_local):
            key = edge_base + key_local
            order = np.argsort(key, kind="stable")
            flat = np.empty(2 * len(key), dtype=np.int32)
            flat[0::2] = other_local[order]
            flat[1::2] = codes[order]
            # cum[p] = #edges with global key position < p
            cum = np.zeros(total_pos + 1, dtype=np.int64)
            np.cumsum(np.bincount(key, minlength=total_pos), out=cum[1:])
            return flat, cum

        self._csr = {
            "incoming": global_csr(dst_arr, src_arr),
            "outgoing": global_csr(src_arr, dst_arr),
        }

    # -- per-sentence contexts --------------------------------------------

    def context(self, sent_idx: int) -> "SentenceContext":
        return SentenceContext(self, sent_idx)


def _edit_distance_le2(a: str, b: str) -> bool:
    """True iff Levenshtein(a, b) <= 2 (Lucene FuzzyQuery default maxEdits)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 2:
        return False
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        best = cur[0]
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (ca != b[j - 1]),
            )
            if cur[j] < best:
                best = cur[j]
        if best > 2:
            return False
        prev = cur
    return prev[lb] <= 2


class SentenceContext:
    __slots__ = ("batch", "idx", "n", "base", "mask_cache", "node_cache")

    def __init__(self, batch: SentenceBatch, idx: int):
        self.batch = batch
        self.idx = idx
        self.n = batch.num_tokens[idx]
        self.base = int(batch._tok_offsets[idx])  # global position of token 0
        self.mask_cache: Dict[int, np.ndarray] = {}
        self.node_cache: Dict[int, object] = {}

    def has_edges(self) -> bool:
        """Whether the sentence's CSR range holds an edge."""
        cum = self.batch.csr("outgoing")[1]
        return bool(cum[self.base + self.n] > cum[self.base])

    def mentions(self, label: str) -> List[StateMatch]:
        ms = self.batch._mentions
        if not ms:
            return []
        spans = ms[self.idx].get(label, []) if ms[self.idx] else []
        return [StateMatch(s, e) for (s, e) in spans]
