"""Traversal evaluation over the batch's labeled digraph.

The dependency/code-structure graph of a whole Arrow batch is one CSR map
per direction, kept by :class:`~odinson_spark.match.context.SentenceBatch`:
a flat array interleaving ``(neighbor, label_id)`` pairs — the wire shape
of the reference's digraph/DirectedGraph.scala:21-62 — whose segments are
indexed by *global* token position (a sentence's token base plus the
token's index in it). Neighbors are sentence-local token indices, so a
traversal walks one sentence by adding its base to every node it looks up;
a sentence whose CSR range is empty has no graph.

Label ids index the batch's edge-label vocabulary. Label matchers are
evaluated once per vocabulary and cached as id sets, so the traversal inner
loop is integer-only. Labels compare exactly as stored.
"""

from __future__ import annotations

import re
from collections import deque
from typing import Dict, List, Sequence

from ..lang import ast


class LabelVocab:
    """Batch-local edge-label vocabulary with cached matcher id sets."""

    __slots__ = ("labels", "_allowed_cache")

    def __init__(self, labels: Sequence[str]):
        self.labels = list(labels)
        self._allowed_cache: Dict[object, frozenset] = {}

    def matcher_allowed(self, matcher) -> frozenset:
        """Ids of the labels a StringMatcher/RegexMatcher accepts. Regexes
        are fully anchored, mirroring the reference
        (digraph/LabelMatcher.scala:26-34). A frozenset: the traversal inner
        loop tests membership per edge, and a set lookup is ~an order of
        magnitude cheaper than a numpy fancy-index + ``.any()`` on 1-3-edge
        segments (the former hot path: 120k ``np.any`` calls per 2000-doc
        batch)."""
        s = self._allowed_cache.get(matcher)
        if s is None:
            if isinstance(matcher, ast.StringMatcher):
                accept = matcher.string.__eq__
            elif isinstance(matcher, ast.RegexMatcher):
                accept = re.compile(matcher.pattern).fullmatch
            else:
                raise TypeError(f"unknown matcher {matcher!r}")
            s = frozenset(i for i, lab in enumerate(self.labels) if accept(lab))
            self._allowed_cache[matcher] = s
        return s


# ---------------------------------------------------------------------------
# traversal evaluation
# traverse(tr, batch, base, n, start_nodes) -> ordered distinct destinations
# semantics parity: digraph/GraphTraversal.scala
# ---------------------------------------------------------------------------

_DIRECTION = {
    ast.OutgoingWildcard: "outgoing",
    ast.OutgoingTraversal: "outgoing",
    ast.IncomingWildcard: "incoming",
    ast.IncomingTraversal: "incoming",
}


def _hop(tr, batch):
    """``(flat, slices, allowed)`` of a one-hop step: its direction's
    list-mirrored batch CSR and the label ids it follows (None = any label).
    Global token position ``p``'s edges are ``flat[slices[p]:slices[p+1]]``."""
    flat, slices = batch.adjacency(_DIRECTION[type(tr)])
    if type(tr) in (ast.OutgoingWildcard, ast.IncomingWildcard):
        return flat, slices, None
    return flat, slices, batch.label_vocab.matcher_allowed(tr.matcher)


def traverse(tr, batch, base: int, n: int, start_nodes: List[int]) -> List[int]:
    """Tokens reached from ``start_nodes`` in the sentence of ``n`` tokens
    at global token position ``base`` of ``batch``, in first-reached order."""
    t = type(tr)
    if t is ast.NoTraversal:
        return list(start_nodes)
    if t in _DIRECTION:
        flat, slices, allowed = _hop(tr, batch)
        if allowed is not None and not allowed:
            return []
        out = []
        for node in start_nodes:
            if 0 <= node < n:
                a, b = slices[base + node], slices[base + node + 1]
                if allowed is None:
                    out.extend(flat[a:b:2])
                else:
                    out.extend(flat[i] for i in range(a, b, 2) if flat[i + 1] in allowed)
        return list(dict.fromkeys(out))
    if t is ast.ConcatenatedTraversal:
        current = list(start_nodes)
        for sub in tr.traversals:
            if not current:
                return []
            current = traverse(sub, batch, base, n, current)
        return current
    if t is ast.DisjunctiveTraversal:
        out = []
        for sub in tr.traversals:
            out.extend(traverse(sub, batch, base, n, start_nodes))
        return list(dict.fromkeys(out))
    if t is ast.OptionalTraversal:
        return list(dict.fromkeys([*start_nodes, *traverse(tr.traversal, batch, base, n, start_nodes)]))
    if t is ast.KleeneStarTraversal:
        # cycle-safe BFS fixpoint (GraphTraversal.scala:173-191); deque +
        # extendleft(reversed(...)) reproduces the former
        # `children + frontier` prepend order without O(frontier) copies
        sub = tr.traversal
        # single-hop bodies (the overwhelmingly common `>lab*` / `<<*`
        # shapes) inline the step: no per-node dispatch/recursion — the BFS
        # was 124k recursive traverse() calls per 2000-doc batch before
        one_hop = type(sub) in _DIRECTION
        if one_hop:
            flat, slices, allowed = _hop(sub, batch)
            if allowed is not None and not allowed:
                return list(dict.fromkeys(start_nodes))
        seen: List[int] = []
        seen_set = set()
        frontier = deque(start_nodes)
        while frontier:
            node = frontier.popleft()
            if node in seen_set:
                continue
            seen_set.add(node)
            seen.append(node)
            if not one_hop:
                children = traverse(sub, batch, base, n, [node])
            elif 0 <= node < n:
                a, b = slices[base + node], slices[base + node + 1]
                if allowed is None:
                    children = flat[a:b:2]
                else:
                    children = [flat[i] for i in range(a, b, 2) if flat[i + 1] in allowed]
            else:
                continue
            if children:
                frontier.extendleft(reversed(children))
        return seen
    raise TypeError(f"unknown traversal {tr!r}")
