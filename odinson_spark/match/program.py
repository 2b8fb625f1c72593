"""Compiled, executable pattern programs.

A program node exposes two evaluation modes:

* ``gen(ctx, start)`` — lazily yield every candidate match *beginning at*
  ``start``, in preference order (greedy derivations first for greedy
  quantifiers, leftmost OR clause first, …). Backtracking happens for free
  through generator nesting.
* ``all_matches(ctx)`` — all candidate matches of the whole sentence in
  start-position order. Sentence-level nodes (state mentions, graph
  traversals, expansion, events) compute every match of the sentence at
  once; :class:`PSentenceLevel` memoizes and indexes those per sentence.

Together with :mod:`odinson_spark.match.selector` this reproduces the
reference's spans-enumeration + MatchSelector semantics
(lucene/search/*.scala); the derivation-tree node types emitted here are the
ones the selector walks.

Token constraints are *not* program nodes; they compile to boolean-mask
expressions evaluated batch-vectorized (see ``MaskExpr``), which is this
engine's analogue of Lucene's postings-driven term matching.
"""

from __future__ import annotations

import itertools
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from .context import SentenceContext
from .graph import traverse
from .matches import (
    BaseMatch,
    ConcatMatch,
    EventSketch,
    GraphTraversalMatch,
    NGramMatch,
    NamedMatch,
    OptionalMatch,
    OrMatch,
    RepetitionMatch,
)

_node_counter = itertools.count()


# ---------------------------------------------------------------------------
# token-constraint mask expressions
# ---------------------------------------------------------------------------


class MaskExpr:
    """Compiled token constraint; evaluates to a per-token boolean mask."""

    __slots__ = ("uid",)

    def __init__(self):
        self.uid = next(_node_counter)

    def mask(self, ctx: SentenceContext) -> np.ndarray:
        m = ctx.mask_cache.get(self.uid)
        if m is None:
            m = self._eval(ctx)
            ctx.mask_cache[self.uid] = m
        return m

    def _eval(self, ctx) -> np.ndarray:
        raise NotImplementedError


class TrueMask(MaskExpr):
    def _eval(self, ctx):
        return np.ones(ctx.n, dtype=bool)


class FalseMask(MaskExpr):
    def _eval(self, ctx):
        return np.zeros(ctx.n, dtype=bool)


class LeafMask(MaskExpr):
    __slots__ = ("uid", "field", "matcher", "fuzzy")

    def __init__(self, field: str, matcher, fuzzy: bool = False):
        super().__init__()
        self.field = field
        self.matcher = matcher
        self.fuzzy = fuzzy

    def _eval(self, ctx):
        return ctx.batch.leaf_mask(ctx.idx, self.field, self.matcher, self.fuzzy)


class NotMask(MaskExpr):
    __slots__ = ("uid", "sub")

    def __init__(self, sub):
        super().__init__()
        self.sub = sub

    def _eval(self, ctx):
        return ~self.sub.mask(ctx)


class AndMask(MaskExpr):
    __slots__ = ("uid", "subs")

    def __init__(self, subs):
        super().__init__()
        self.subs = subs

    def _eval(self, ctx):
        m = self.subs[0].mask(ctx).copy()
        for s in self.subs[1:]:
            m &= s.mask(ctx)
        return m


class OrMask(MaskExpr):
    __slots__ = ("uid", "subs")

    def __init__(self, subs):
        super().__init__()
        self.subs = subs

    def _eval(self, ctx):
        m = self.subs[0].mask(ctx).copy()
        for s in self.subs[1:]:
            m |= s.mask(ctx)
        return m


# ---------------------------------------------------------------------------
# program nodes
# ---------------------------------------------------------------------------


class Prog:
    __slots__ = ("uid",)

    def __init__(self):
        self.uid = next(_node_counter)

    def gen(self, ctx: SentenceContext, start: int):
        raise NotImplementedError

    def start_positions(self, ctx: SentenceContext):
        """A SUPERSET of positions where ``gen`` can yield, or None for "all".
        This is the engine's analogue of Lucene's postings-driven skipping:
        term-anchored patterns only attempt starts where the anchor's mask
        fires, instead of every token position."""
        return None

    def all_matches(self, ctx: SentenceContext) -> List[BaseMatch]:
        starts = self.start_positions(ctx)
        if starts is None:
            starts = range(ctx.n + 1)
        out: List[BaseMatch] = []
        for start in starts:
            out.extend(self.gen(ctx, start))
        return out


class PFail(Prog):
    def gen(self, ctx, start):
        return iter(())


class PToken(Prog):
    """Single-token constraint match."""

    __slots__ = ("uid", "expr")

    def __init__(self, expr: MaskExpr):
        super().__init__()
        self.expr = expr

    def gen(self, ctx, start):
        if start < ctx.n and self.expr.mask(ctx)[start]:
            yield NGramMatch(start, start + 1)

    def start_positions(self, ctx):
        return np.nonzero(self.expr.mask(ctx))[0].tolist()


class PAllNGrams(Prog):
    """n consecutive wildcards; n=0 is the zero-width match (valid at every
    position 0..numTokens inclusive)."""

    __slots__ = ("uid", "n")

    def __init__(self, n: int):
        super().__init__()
        self.n = n

    def gen(self, ctx, start):
        if self.n == 0:
            if start <= ctx.n:
                yield NGramMatch(start, start)
        elif start + self.n <= ctx.n:
            yield NGramMatch(start, start + self.n)


class PConcat(Prog):
    __slots__ = ("uid", "clauses")

    def __init__(self, clauses: Sequence[Prog]):
        super().__init__()
        self.clauses = tuple(clauses)

    def gen(self, ctx, start):
        clauses = self.clauses
        k = len(clauses)

        def rec(i: int, pos: int, acc: list):
            if i == k:
                yield ConcatMatch(tuple(acc))
                return
            for m in clauses[i].gen(ctx, pos):
                acc.append(m)
                yield from rec(i + 1, m.end, acc)
                acc.pop()

        yield from rec(0, start, [])

    def start_positions(self, ctx):
        return self.clauses[0].start_positions(ctx)


class POr(Prog):
    __slots__ = ("uid", "clauses")

    def __init__(self, clauses: Sequence[Prog]):
        super().__init__()
        self.clauses = tuple(clauses)

    def gen(self, ctx, start):
        for i, c in enumerate(self.clauses):
            for m in c.gen(ctx, start):
                yield OrMatch(m, i)

    def start_positions(self, ctx):
        acc = set()
        for c in self.clauses:
            s = c.start_positions(ctx)
            if s is None:
                return None
            acc.update(s)
        return sorted(acc)


class PRepeat(Prog):
    """min..max repetitions (min >= 1; the compiler rewrites min=0 cases into
    POptional(PRepeat(1, …)) exactly like the reference,
    QueryCompiler.scala:238-343)."""

    __slots__ = ("uid", "sub", "min", "max", "greedy")

    def __init__(self, sub: Prog, min: int, max: Optional[int], greedy: bool):
        super().__init__()
        assert min >= 1
        self.sub = sub
        self.min = min
        self.max = max if max is not None else 2**31 - 1
        self.greedy = greedy

    def gen(self, ctx, start):
        sub, mn, mx, greedy = self.sub, self.min, self.max, self.greedy

        def rec(pos: int, acc: list):
            cnt = len(acc)

            def more():
                if cnt < mx:
                    for m in sub.gen(ctx, pos):
                        if m.end == pos and cnt >= mn:
                            # zero-width repetition beyond the minimum would
                            # never terminate and adds nothing
                            continue
                        acc.append(m)
                        yield from rec(m.end, acc)
                        acc.pop()

            if greedy:
                yield from more()
                if cnt >= mn:
                    yield RepetitionMatch(tuple(acc), True)
            else:
                if cnt >= mn:
                    yield RepetitionMatch(tuple(acc), False)
                yield from more()

        yield from rec(start, [])

    def start_positions(self, ctx):
        return self.sub.start_positions(ctx)


class POptional(Prog):
    """Zero-or-one; both branches are wrapped in OptionalMatch so the
    selector can apply greedy/lazy preference
    (lucene/search/OdinsonOptionalQuery.scala:57-78)."""

    __slots__ = ("uid", "sub", "greedy")

    def __init__(self, sub: Prog, greedy: bool):
        super().__init__()
        self.sub = sub
        self.greedy = greedy

    def gen(self, ctx, start):
        if start > ctx.n:
            return
        if self.greedy:
            for m in self.sub.gen(ctx, start):
                yield OptionalMatch(m, True)
            yield OptionalMatch(NGramMatch(start, start), True)
        else:
            yield OptionalMatch(NGramMatch(start, start), False)
            for m in self.sub.gen(ctx, start):
                yield OptionalMatch(m, False)


class PNamedCapture(Prog):
    __slots__ = ("uid", "sub", "name", "label")

    def __init__(self, sub: Prog, name: str, label: Optional[str]):
        super().__init__()
        self.sub = sub
        self.name = name
        self.label = label

    def gen(self, ctx, start):
        for m in self.sub.gen(ctx, start):
            yield NamedMatch(m, self.name, self.label)

    def start_positions(self, ctx):
        return self.sub.start_positions(ctx)


class PSentenceStart(Prog):
    def gen(self, ctx, start):
        if start == 0:
            yield NGramMatch(0, 0)

    def start_positions(self, ctx):
        return (0,)


class PSentenceEnd(Prog):
    def gen(self, ctx, start):
        if start == ctx.n:
            yield NGramMatch(start, start)

    def start_positions(self, ctx):
        return (ctx.n,)


class PLookahead(Prog):
    __slots__ = ("uid", "sub", "positive")

    def __init__(self, sub: Prog, positive: bool):
        super().__init__()
        self.sub = sub
        self.positive = positive

    def gen(self, ctx, start):
        if start > ctx.n:
            return
        found = next(iter(self.sub.gen(ctx, start)), None) is not None
        if found == self.positive:
            yield NGramMatch(start, start)

    def start_positions(self, ctx):
        return self.sub.start_positions(ctx) if self.positive else None


class PLookbehind(Prog):
    __slots__ = ("uid", "sub", "positive")

    def __init__(self, sub: Prog, positive: bool):
        super().__init__()
        self.sub = sub
        self.positive = positive

    def gen(self, ctx, start):
        if start > ctx.n:
            return
        found = False
        for s in range(start, -1, -1):
            for m in self.sub.gen(ctx, s):
                if m.end == start:
                    found = True
                    break
            if found:
                break
        if found == self.positive:
            yield NGramMatch(start, start)


class PSentenceLevel(Prog):
    """A node whose matches are computed for the whole sentence at once
    (``_compute``). The results are cached per sentence, sorted by
    (start, end) — a stable sort, so ties keep ``_compute``'s preference
    order — and indexed by start: ``gen`` looks its start up, and
    ``start_positions`` is exact."""

    __slots__ = ()

    def _compute(self, ctx: SentenceContext) -> List[BaseMatch]:
        raise NotImplementedError

    def _results(self, ctx) -> Tuple[List[BaseMatch], Dict[int, List[BaseMatch]]]:
        cached = ctx.node_cache.get(self.uid)
        if cached is None:
            ms = sorted(self._compute(ctx), key=lambda m: (m.start, m.end))
            by_start: Dict[int, List[BaseMatch]] = {}
            for m in ms:
                by_start.setdefault(m.start, []).append(m)
            cached = ctx.node_cache[self.uid] = (ms, by_start)
        return cached

    def all_matches(self, ctx):
        return list(self._results(ctx)[0])

    def gen(self, ctx, start):
        return iter(self._results(ctx)[1].get(start, ()))

    def start_positions(self, ctx):
        return list(self._results(ctx)[1])


class PMention(PSentenceLevel):
    """``@Label`` — replay spans of previously-found mentions (the State)."""

    __slots__ = ("uid", "label")

    def __init__(self, label: str):
        super().__init__()
        self.label = label

    def _compute(self, ctx):
        return ctx.mentions(self.label)


class PFilter(Prog):
    """Spans of ``main`` kept iff they contain a span of ``filter``
    (lucene/search/spans/OdinsonSpanContainingQuery.scala:88-104)."""

    __slots__ = ("uid", "main", "filter")

    def __init__(self, main: Prog, filter: Prog):
        super().__init__()
        self.main = main
        self.filter = filter

    def _filter_matches(self, ctx):
        cached = ctx.node_cache.get(self.uid)
        if cached is None:
            cached = self.filter.all_matches(ctx)
            ctx.node_cache[self.uid] = cached
        return cached

    def gen(self, ctx, start):
        fmatches = self._filter_matches(ctx)
        if not fmatches:
            return
        for m in self.main.gen(ctx, start):
            for f in fmatches:
                if f.start >= m.start and f.end <= m.end:
                    yield m
                    break

    def start_positions(self, ctx):
        return self.main.start_positions(ctx)


# ---------------------------------------------------------------------------
# graph traversal programs
# ---------------------------------------------------------------------------


class FullTraversalProg:
    """One alternating (edge-traversal, surface) chain; maps a list of source
    matches to GraphTraversalMatch results."""

    def run(self, ctx: SentenceContext, src_matches: List[BaseMatch]) -> List[BaseMatch]:
        raise NotImplementedError


def _dedup_matches(ms: List[BaseMatch]) -> List[BaseMatch]:
    seen = set()
    out = []
    for m in ms:
        k = id(m)
        if k not in seen:
            seen.add(k)
            out.append(m)
    return out


class SingleStepFT(FullTraversalProg):
    """Traverse, then intersect reached tokens with destination surface
    matches via an inverted token→match index
    (lucene/search/SingleStepFullTraversalQuery.scala:85-159)."""

    __slots__ = ("uid", "traversal", "surface")

    def __init__(self, traversal, surface: Prog):
        self.uid = next(_node_counter)
        self.traversal = traversal
        self.surface = surface

    def run(self, ctx, src_matches):
        # a sentence without edges matches no traversal, not even a 0-hop
        # optional one (reference: no graph field, no traversal match)
        if not src_matches or not ctx.has_edges():
            return []
        batch, base, n = ctx.batch, ctx.base, ctx.n
        # fast path: width-1 wildcard destination (the shape every
        # `arg = >edge` promoted argument desugars to) — reached tokens ARE
        # the destinations, no inverted index needed
        if isinstance(self.surface, PAllNGrams) and self.surface.n == 1:
            out = []
            for src in src_matches:
                tokens = list(range(src.start, src.end))
                for t in traverse(self.traversal, batch, base, n, tokens):
                    if 0 <= t < n:
                        out.append(GraphTraversalMatch(src, NGramMatch(t, t + 1)))
            return out
        dst_matches = ctx.node_cache.get(self.uid)
        if dst_matches is None:
            dst_matches = self.surface.all_matches(ctx)
            ctx.node_cache[self.uid] = dst_matches
        if not dst_matches:
            return []
        # inverted index: token -> destination matches covering it
        inv: List[Optional[List[BaseMatch]]] = [None] * n
        for d in dst_matches:
            for j in range(d.start, d.end):
                if inv[j] is None:
                    inv[j] = []
                inv[j].append(d)
        out: List[BaseMatch] = []
        for src in src_matches:
            tokens = list(range(src.start, src.end))
            dsts = traverse(self.traversal, batch, base, n, tokens)
            hit: List[BaseMatch] = []
            for t in dsts:
                if 0 <= t < n and inv[t]:
                    hit.extend(inv[t])
            for d in _dedup_matches(hit):
                out.append(GraphTraversalMatch(src, d))
        return out


class ConcatFT(FullTraversalProg):
    __slots__ = ("clauses",)

    def __init__(self, clauses: Sequence[FullTraversalProg]):
        self.clauses = tuple(clauses)

    def run(self, ctx, src_matches):
        current = src_matches
        for c in self.clauses:
            if not current:
                return []
            current = c.run(ctx, current)
        return current


class RepeatFT(FullTraversalProg):
    """min required folds, then up to max optional folds accumulating every
    intermediate result (lucene/search/RepetitionFullTraversalQuery.scala:94-125)."""

    __slots__ = ("min", "max", "sub")

    def __init__(self, min: int, max: int, sub: FullTraversalProg):
        self.min = min
        self.max = max
        self.sub = sub

    def run(self, ctx, src_matches):
        current = list(src_matches)
        i = 0
        while i < self.min and current:
            i += 1
            current = self.sub.run(ctx, current)
        if not current:
            return []
        results = list(current)
        while i < self.max and current:
            i += 1
            current = self.sub.run(ctx, current)
            results.extend(current)
        return _dedup_matches(results)


class PGraphTraversal(PSentenceLevel):
    """Top-level ``src >edge dst …`` pattern. Enumerates *all* candidate src
    matches, runs the full traversal, and exposes the resulting
    GraphTraversalMatches positionally (span = destination span)."""

    __slots__ = ("uid", "src", "full_traversal")

    def __init__(self, src: Prog, full_traversal: FullTraversalProg):
        super().__init__()
        self.src = src
        self.full_traversal = full_traversal

    def _compute(self, ctx):
        return self.full_traversal.run(ctx, self.src.all_matches(ctx))


class PExpand(PSentenceLevel):
    """``(?^ …)`` — group graph matches by their source and widen each group
    to [min(starts), max(ends)] (lucene/search/ExpandQuery.scala:125-145)."""

    __slots__ = ("uid", "sub")

    def __init__(self, sub: Prog):
        super().__init__()
        self.sub = sub

    def _compute(self, ctx):
        # source id -> [source, its graph matches…], in first-seen order
        groups: Dict[int, List[BaseMatch]] = {}
        other = []
        for m in self.sub.all_matches(ctx):
            if isinstance(m, GraphTraversalMatch):
                groups.setdefault(id(m.src), [m.src]).append(m)
            else:
                other.append(m)
        expanded = [
            NGramMatch(min(g.start for g in group), max(g.end for g in group))
            for group in groups.values()
        ]
        return expanded + other


# ---------------------------------------------------------------------------
# events
# ---------------------------------------------------------------------------


class CompiledArgument:
    __slots__ = ("name", "label", "min", "max", "promote", "full_traversal")

    def __init__(self, name, label, min, max, promote, full_traversal: FullTraversalProg):
        self.name = name
        self.label = label
        self.min = min
        self.max = max
        self.promote = promote
        self.full_traversal = full_traversal


def _start_of_path(m: BaseMatch) -> BaseMatch:
    while isinstance(m, GraphTraversalMatch):
        m = m.src
    return m


class PEvent(PSentenceLevel):
    """Trigger + argument traversals → EventSketch candidates
    (lucene/search/OdinsonEventQuery.scala:289-345)."""

    __slots__ = ("uid", "trigger", "required", "optional")

    def __init__(self, trigger: Prog, required: Sequence[CompiledArgument], optional: Sequence[CompiledArgument]):
        super().__init__()
        self.trigger = trigger
        self.required = tuple(required)
        self.optional = tuple(optional)

    def _match_argument(self, ctx, src_matches, arg: CompiledArgument):
        """trigger-match → [(arg, match), …] grouped by path origin."""
        out: Dict[int, list] = {}
        matches = arg.full_traversal.run(ctx, src_matches)
        for m in matches:
            k = id(_start_of_path(m))
            out.setdefault(k, []).append((arg, m))
        return out

    def _compute(self, ctx):
        trigger_matches = self.trigger.all_matches(ctx)
        by_id = {id(t): t for t in trigger_matches}
        sketches: Dict[int, list] = {}
        if self.required:
            sketches = self._match_argument(ctx, trigger_matches, self.required[0])
            for arg in self.required[1:]:
                candidates = [by_id[k] for k in sketches]
                arg_matches = self._match_argument(ctx, candidates, arg)
                sketches = {
                    k: sketches[k] + v for k, v in arg_matches.items() if k in sketches
                }
            if not sketches:
                return []
        else:
            sketches = {id(t): [] for t in trigger_matches}
        for arg in self.optional:
            candidates = [by_id[k] for k in sketches]
            arg_matches = self._match_argument(ctx, candidates, arg)
            sketches = {k: v + arg_matches.get(k, []) for k, v in sketches.items()}
        return [EventSketch(by_id[k], tuple(v)) for k, v in sketches.items()]
