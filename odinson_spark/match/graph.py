"""Sentence-local labeled digraphs in CSR form + traversal evaluation.

The dependency/code-structure graph of one sentence is stored as two CSR
adjacency maps (incoming, outgoing) whose flat arrays interleave
``(neighbor, label_id)`` pairs — the same wire shape the reference uses
(/root/reference/core/src/main/scala/ai/lum/odinson/digraph/DirectedGraph.scala:21-62),
chosen here because it round-trips through Arrow ``array<int>`` columns with
zero copies into numpy.

Label ids index a *batch-local* vocabulary (built per Arrow batch by
factorizing edge labels). Label matchers are evaluated once per vocabulary
and cached as boolean arrays, so the traversal inner loop is integer-only.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Sequence

import numpy as np

from ..lang import ast


class Digraph:
    __slots__ = (
        "in_flat", "in_slices", "out_flat", "out_slices", "roots", "n",
        "_in_l", "_in_sl", "_out_l", "_out_sl",
    )

    def __init__(self, in_flat, in_slices, out_flat, out_slices, roots, n):
        self.in_flat = in_flat
        self.in_slices = in_slices
        self.out_flat = out_flat
        self.out_slices = out_slices
        self.roots = roots
        self.n = n
        # lazy python-list mirrors of the CSR arrays: adjacency segments are
        # 1-3 entries, where plain list indexing beats numpy slicing ~5×
        # (the traversal inner loop is step-at-a-time, not vectorizable)
        self._in_l = None
        self._in_sl = None
        self._out_l = None
        self._out_sl = None

    def incoming_lists(self):
        if self._in_l is None:
            self._in_l = (
                self.in_flat.tolist()
                if hasattr(self.in_flat, "tolist")
                else list(self.in_flat)
            )
            self._in_sl = (
                self.in_slices.tolist()
                if hasattr(self.in_slices, "tolist")
                else list(self.in_slices)
            )
        return self._in_l, self._in_sl

    def outgoing_lists(self):
        if self._out_l is None:
            self._out_l = (
                self.out_flat.tolist()
                if hasattr(self.out_flat, "tolist")
                else list(self.out_flat)
            )
            self._out_sl = (
                self.out_slices.tolist()
                if hasattr(self.out_slices, "tolist")
                else list(self.out_slices)
            )
        return self._out_l, self._out_sl

    @staticmethod
    def from_arrays(n: int, src, dst, lab, roots=()) -> "Digraph":
        """Vectorized CSR construction (one stable argsort per direction —
        this runs once per sentence per batch and was the matcher's top
        profile hotspot as a Python loop)."""
        valid = (src >= 0) & (src < n) & (dst >= 0) & (dst < n)
        if not valid.all():
            src, dst, lab = src[valid], dst[valid], lab[valid]

        def csr(key, other):
            order = np.argsort(key, kind="stable")
            flat = np.empty(2 * len(key), dtype=np.int32)
            flat[0::2] = other[order]
            flat[1::2] = lab[order]
            slices = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(2 * np.bincount(key, minlength=n), out=slices[1:])
            return flat, slices

        out_flat, out_slices = csr(src, dst)
        in_flat, in_slices = csr(dst, src)
        return Digraph(in_flat, in_slices, out_flat, out_slices, tuple(roots), n)


class LabelVocab:
    """Batch-local edge-label vocabulary with cached matcher masks."""

    __slots__ = ("labels", "index", "_mask_cache", "_allowed_cache")

    def __init__(self, labels: Sequence[str]):
        self.labels = list(labels)
        self.index = {s: i for i, s in enumerate(self.labels)}
        self._mask_cache: Dict[object, np.ndarray] = {}
        self._allowed_cache: Dict[object, frozenset] = {}

    def matcher_allowed(self, matcher) -> frozenset:
        """Allowed label ids as a frozenset — the traversal inner loop tests
        membership per edge; a set lookup is ~an order of magnitude cheaper
        than a numpy fancy-index + ``.any()`` on 1-3-edge segments (the
        former hot path: 120k ``np.any`` calls per 2000-doc batch)."""
        s = self._allowed_cache.get(matcher)
        if s is None:
            s = frozenset(int(i) for i in np.nonzero(self.matcher_mask(matcher))[0])
            self._allowed_cache[matcher] = s
        return s

    def matcher_mask(self, matcher) -> np.ndarray:
        """Boolean array over the vocabulary for a StringMatcher/RegexMatcher.
        Regexes are fully anchored, mirroring the reference
        (digraph/LabelMatcher.scala:26-34)."""
        key = matcher
        m = self._mask_cache.get(key)
        if m is not None:
            return m
        if isinstance(matcher, ast.StringMatcher):
            mask = np.zeros(len(self.labels), dtype=bool)
            i = self.index.get(matcher.string)
            if i is not None:
                mask[i] = True
        elif isinstance(matcher, ast.RegexMatcher):
            rx = re.compile(matcher.pattern)
            mask = np.fromiter(
                (rx.fullmatch(s) is not None for s in self.labels),
                dtype=bool,
                count=len(self.labels),
            )
        else:
            raise TypeError(f"unknown matcher {matcher!r}")
        self._mask_cache[key] = mask
        return mask


# ---------------------------------------------------------------------------
# traversal evaluation
# traverse(graph, vocab, start_nodes) -> ordered distinct destination nodes
# semantics parity: digraph/GraphTraversal.scala
# ---------------------------------------------------------------------------


def _dedup_keep_order(nodes: List[int]) -> List[int]:
    seen = set()
    out = []
    for x in nodes:
        if x not in seen:
            seen.add(x)
            out.append(x)
    return out


def _step_nodes(
    flat: List[int], slices: List[int], n: int, node: int, allowed
) -> List[int]:
    """One hop from ``node``: neighbor ids whose edge label is in
    ``allowed`` (None = wildcard). Pure-python over the list-mirrored CSR —
    adjacency segments are tiny, so list indexing beats numpy slicing."""
    if node < 0 or node >= n:
        return []
    a, b = slices[node], slices[node + 1]
    if allowed is None:
        return flat[a:b:2]
    return [flat[i] for i in range(a, b, 2) if flat[i + 1] in allowed]


def traverse(tr, graph: Digraph, vocab: LabelVocab, start_nodes: List[int]) -> List[int]:
    t = type(tr)
    if t is ast.NoTraversal:
        return list(start_nodes)
    if t is ast.IncomingWildcard:
        flat, slices = graph.incoming_lists()
        out = []
        for nd in start_nodes:
            out.extend(_step_nodes(flat, slices, graph.n, nd, None))
        return _dedup_keep_order(out)
    if t is ast.OutgoingWildcard:
        flat, slices = graph.outgoing_lists()
        out = []
        for nd in start_nodes:
            out.extend(_step_nodes(flat, slices, graph.n, nd, None))
        return _dedup_keep_order(out)
    if t is ast.IncomingTraversal:
        allowed = vocab.matcher_allowed(tr.matcher)
        if not allowed:
            return []
        flat, slices = graph.incoming_lists()
        out = []
        for nd in start_nodes:
            out.extend(_step_nodes(flat, slices, graph.n, nd, allowed))
        return _dedup_keep_order(out)
    if t is ast.OutgoingTraversal:
        allowed = vocab.matcher_allowed(tr.matcher)
        if not allowed:
            return []
        flat, slices = graph.outgoing_lists()
        out = []
        for nd in start_nodes:
            out.extend(_step_nodes(flat, slices, graph.n, nd, allowed))
        return _dedup_keep_order(out)
    if t is ast.ConcatenatedTraversal:
        current = list(start_nodes)
        for sub in tr.traversals:
            if not current:
                return []
            current = traverse(sub, graph, vocab, current)
        return current
    if t is ast.DisjunctiveTraversal:
        out = []
        for sub in tr.traversals:
            out.extend(traverse(sub, graph, vocab, start_nodes))
        return _dedup_keep_order(out)
    if t is ast.OptionalTraversal:
        out = list(start_nodes)
        out.extend(traverse(tr.traversal, graph, vocab, start_nodes))
        return _dedup_keep_order(out)
    if t is ast.KleeneStarTraversal:
        # cycle-safe BFS fixpoint (GraphTraversal.scala:173-191); deque +
        # extendleft(reversed(...)) reproduces the former
        # `children + frontier` prepend order without O(frontier) copies
        from collections import deque

        sub = tr.traversal
        st = type(sub)
        # single-hop bodies (the overwhelmingly common `>lab*` / `<<*`
        # shapes) inline the step: no per-node dispatch/recursion — the BFS
        # was 124k recursive traverse() calls per 2000-doc batch before
        one_hop = st in (
            ast.OutgoingTraversal,
            ast.IncomingTraversal,
            ast.OutgoingWildcard,
            ast.IncomingWildcard,
        )
        if one_hop:
            if st is ast.OutgoingTraversal or st is ast.OutgoingWildcard:
                flat, slices = graph.outgoing_lists()
            else:
                flat, slices = graph.incoming_lists()
            allowed = None
            if st is ast.OutgoingTraversal or st is ast.IncomingTraversal:
                allowed = vocab.matcher_allowed(sub.matcher)
                if not allowed:
                    return _dedup_keep_order(list(start_nodes))
            n = graph.n
            seen: List[int] = []
            seen_set = set()
            frontier = deque(start_nodes)
            while frontier:
                node = frontier.popleft()
                if node in seen_set:
                    continue
                seen_set.add(node)
                seen.append(node)
                if 0 <= node < n:
                    a, b = slices[node], slices[node + 1]
                    if allowed is None:
                        children = flat[a:b:2]
                    else:
                        children = [
                            flat[i] for i in range(a, b, 2) if flat[i + 1] in allowed
                        ]
                    if children:
                        frontier.extendleft(reversed(children))
            return seen
        seen = []
        seen_set = set()
        frontier = deque(start_nodes)
        while frontier:
            node = frontier.popleft()
            if node in seen_set:
                continue
            seen_set.add(node)
            seen.append(node)
            children = traverse(sub, graph, vocab, [node])
            if children:
                frontier.extendleft(reversed(children))
        return seen
    raise TypeError(f"unknown traversal {tr!r}")
