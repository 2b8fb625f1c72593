"""Rule → sentence-level prefilter predicate.

This is the engine's "custom optimizer rule", implemented as query
construction (not a JVM Catalyst extension): from a compiled pattern we
derive a conservative necessary condition — a boolean combination of
``array_contains`` tests over token-layer columns and the edge-label column
— and apply it as a DataFrame ``filter`` *before* the matcher UDF. Catalyst
pushes it into the scan (parquet row-group skipping via column
stats), so the expensive Python stage only sees sentences that can possibly
match.

It generalizes two reference mechanisms:
* Lucene's postings-driven skipping (only docs containing required terms are
  visited — lucene/search/*),
* traversal anchor pushdown (a traversal's first/last step forces an
  incoming/outgoing label on src/dst tokens —
  compiler/QueryCompiler.scala:544-615).

Soundness invariant: prefilter(s) is *necessary* for a match — never drops a
sentence the matcher would accept. Anything uncertain maps to TRUE.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Tuple

from ..lang import ast
from ..lang.normalize import normalize_unicode, normalize_unicode_aggressively
from ..match import program as prog


# --- predicate tree --------------------------------------------------------


@dataclass(frozen=True)
class PFTrue:
    pass


@dataclass(frozen=True)
class PFFalse:
    pass


@dataclass(frozen=True)
class PFTerm:
    field: str
    value: str


@dataclass(frozen=True)
class PFEdge:
    label: str  # an edge with this label must exist in the sentence


@dataclass(frozen=True)
class PFMultiTerm:
    """A regex or fuzzy leaf — unconstrained for the boolean SCAN prefilter
    (rendered TRUE; a per-token regex would be an interpreted HOF in the hot
    path), but the materialized index rewrites it against its term
    dictionary, the way Lucene rewrites MultiTermQuery/FuzzyQuery by
    intersecting the automaton with the terms enum
    (lucene/search/MultiTermQuery rewrite; reference queries compile to
    RegexpQuery/FuzzyQuery in compiler/QueryCompiler.scala).

    ``value`` is already normalized exactly as the matcher normalizes it
    (match/context.py _vocab_pred): fuzzy terms aggressively on the default
    field, plain elsewhere; regex patterns with normalize_unicode.
    """

    field: str
    kind: str  # "regex" | "fuzzy"
    value: str


@dataclass(frozen=True)
class PFPhrase:
    """Positional co-occurrence: literal terms at FIXED token offsets inside
    one fixed-width window — the prefilter rendering of Lucene's
    SpanNearQuery(slop=0, inOrder=true), which the reference compiles
    concatenations into (compiler/QueryCompiler.scala OdinConcatQuery →
    span-near). The boolean scan prefilter renders this TRUE (per-term
    containment is already covered by the accompanying PFTerm conjuncts);
    the materialized index intersects per-term position lists instead of
    just per-sentence key sets, so "fast table" prunes sentences that
    contain both words far apart.

    ``anchors``: ((offset, field, value), ...) with offsets non-decreasing;
    a sentence can match only if for some base position p every anchor's
    term occurs at p + offset. ``multi_anchors``: ((offset, PFMultiTerm),
    ...) — regex/fuzzy tokens at fixed offsets, anchored through the term-
    dictionary expansion (positions unioned over the matched terms). At
    least 2 entries across both with ≥2 distinct offsets (fewer
    degenerates to PFTerm/PFAnd/PFMultiTerm, which pf_and already
    carries).
    """

    anchors: Tuple[Tuple[int, str, str], ...]
    multi_anchors: Tuple[Tuple[int, "PFMultiTerm"], ...] = ()


@dataclass(frozen=True)
class PFAnd:
    subs: Tuple[object, ...]


@dataclass(frozen=True)
class PFOr:
    subs: Tuple[object, ...]


def pf_and(subs) -> object:
    flat = []
    for s in subs:
        if isinstance(s, PFTrue):
            continue
        if isinstance(s, PFFalse):
            return PFFalse()
        if isinstance(s, PFAnd):
            flat.extend(s.subs)
        else:
            flat.append(s)
    flat = list(dict.fromkeys(flat))
    if not flat:
        return PFTrue()
    if len(flat) == 1:
        return flat[0]
    return PFAnd(tuple(flat))


def pf_or(subs) -> object:
    flat = []
    for s in subs:
        if isinstance(s, PFTrue):
            return PFTrue()
        if isinstance(s, PFFalse):
            continue
        if isinstance(s, PFOr):
            flat.extend(s.subs)
        else:
            flat.append(s)
    flat = list(dict.fromkeys(flat))
    if not flat:
        return PFFalse()
    if len(flat) == 1:
        return flat[0]
    return PFOr(tuple(flat))


# --- analysis ---------------------------------------------------------------


def _mask_pf(expr, default_field: str) -> object:
    if isinstance(expr, prog.LeafMask):
        if isinstance(expr.matcher, ast.RegexMatcher):
            # the matcher ignores the fuzzy flag on regex leaves
            # (match/context.py _vocab_pred), so a single node suffices
            return PFMultiTerm(
                expr.field, "regex", normalize_unicode(expr.matcher.pattern)
            )
        if not isinstance(expr.matcher, ast.StringMatcher):
            return PFTrue()
        if expr.field == default_field:
            term = normalize_unicode_aggressively(expr.matcher.string)
        else:
            term = normalize_unicode(expr.matcher.string)
        if expr.fuzzy:
            return PFMultiTerm(expr.field, "fuzzy", term)
        return PFTerm(expr.field, term)
    if isinstance(expr, prog.AndMask):
        return pf_and([_mask_pf(s, default_field) for s in expr.subs])
    if isinstance(expr, prog.OrMask):
        return pf_or([_mask_pf(s, default_field) for s in expr.subs])
    if isinstance(expr, prog.FalseMask):
        return PFFalse()
    # NotMask / TrueMask — unconstrained
    return PFTrue()


def _traversal_pf(tr) -> object:
    t = type(tr)
    if t is ast.OutgoingTraversal or t is ast.IncomingTraversal:
        if isinstance(tr.matcher, ast.StringMatcher):
            return PFEdge(normalize_unicode(tr.matcher.string))
        return PFTrue()
    if t is ast.ConcatenatedTraversal:
        return pf_and([_traversal_pf(s) for s in tr.traversals])
    if t is ast.DisjunctiveTraversal:
        return pf_or([_traversal_pf(s) for s in tr.traversals])
    return PFTrue()  # wildcards, optional, kleene star, no-traversal


def _prog_width(p) -> object:
    """Exact token width of a program fragment, or None when variable.
    Mirrors the NFA's consumption (match/program.py gen methods)."""
    t = type(p)
    if t is prog.PToken:
        return 1
    if t is prog.PAllNGrams:  # []{n} — exact-width wildcard run
        return p.n
    if t in (prog.PSentenceStart, prog.PSentenceEnd, prog.PLookahead, prog.PLookbehind):
        return 0
    if t is prog.PNamedCapture or t is prog.PFilter:
        return _prog_width(p.sub if t is prog.PNamedCapture else p.main)
    if t is prog.PConcat:
        ws = [_prog_width(c) for c in p.clauses]
        return None if any(w is None for w in ws) else sum(ws)
    if t is prog.POr:
        ws = {_prog_width(c) for c in p.clauses}
        return ws.pop() if len(ws) == 1 and None not in ws else None
    if t is prog.PRepeat:
        w = _prog_width(p.sub)
        if w is not None and p.max is not None and p.min == p.max:
            return w * p.min
        return None
    return None  # POptional, PExpand, PGraphTraversal, PAllNGrams, PEvent, …


def _anchors_of(p, default_field: str, base: int):
    """(term_anchors, multi_anchors) of a KNOWN-width fragment: literal
    (offset, field, value) triples plus (offset, PFMultiTerm) pairs for
    regex/fuzzy tokens (anchored through the dictionary expansion). Only
    single-valued token layers anchor positions — incoming/outgoing are
    posted as the sentence's edge-label set in the index, positionless."""
    t = type(p)
    if t is prog.PToken:
        m = _mask_pf(p.expr, default_field)
        subs = m.subs if isinstance(m, PFAnd) else (m,)
        terms = [
            (base, s.field, s.value)
            for s in subs
            if isinstance(s, PFTerm) and s.field not in ("incoming", "outgoing")
        ]
        multis = [
            (base, s)
            for s in subs
            if isinstance(s, PFMultiTerm)
            and s.field not in ("incoming", "outgoing")
        ]
        return terms, multis
    if t is prog.PNamedCapture:
        return _anchors_of(p.sub, default_field, base)
    if t is prog.PConcat:
        terms: List[Tuple[int, str, str]] = []
        multis: list = []
        off = base
        for c in p.clauses:
            ts, ms = _anchors_of(c, default_field, off)
            terms.extend(ts)
            multis.extend(ms)
            off += _prog_width(c)  # parent guaranteed width is known
        return terms, multis
    return [], []


def _phrases_of(clauses, default_field: str) -> List[PFPhrase]:
    """Maximal fixed-width runs of a concatenation → PFPhrase nodes.
    A variable-width clause (quantifier, optional, expansion…) breaks the
    run; anchors on either side of a KNOWN-width gap (wildcards, exact
    quantifiers) stay in one phrase with the gap folded into offsets."""
    phrases: List[PFPhrase] = []
    run: List[Tuple[int, str, str]] = []
    run_multi: list = []
    off = 0

    def _flush():
        offsets = {a[0] for a in run} | {m[0] for m in run_multi}
        if len(offsets) >= 2:
            phrases.append(PFPhrase(tuple(run), tuple(run_multi)))
        run.clear()
        run_multi.clear()

    for c in clauses:
        w = _prog_width(c)
        if w is None:
            _flush()
            off = 0
            continue
        ts, ms = _anchors_of(c, default_field, off)
        run.extend(ts)
        run_multi.extend(ms)
        off += w
    _flush()
    return phrases


def _ft_pf(ft, default_field: str) -> object:
    if isinstance(ft, prog.SingleStepFT):
        return pf_and(
            [_traversal_pf(ft.traversal), prefilter_of(ft.surface, default_field)]
        )
    if isinstance(ft, prog.ConcatFT):
        return pf_and([_ft_pf(c, default_field) for c in ft.clauses])
    if isinstance(ft, prog.RepeatFT):
        if ft.min > 0:
            return _ft_pf(ft.sub, default_field)
        return PFTrue()
    return PFTrue()


def prefilter_of(p: prog.Prog, default_field: str = "norm") -> object:
    t = type(p)
    if t is prog.PToken:
        return _mask_pf(p.expr, default_field)
    if t is prog.PFail:
        return PFFalse()
    if t is prog.PConcat:
        return pf_and(
            [prefilter_of(c, default_field) for c in p.clauses]
            + _phrases_of(p.clauses, default_field)
        )
    if t is prog.POr:
        return pf_or([prefilter_of(c, default_field) for c in p.clauses])
    if t is prog.PRepeat:
        return prefilter_of(p.sub, default_field)  # min >= 1 by construction
    if t is prog.POptional:
        return PFTrue()
    if t is prog.PNamedCapture:
        return prefilter_of(p.sub, default_field)
    if t is prog.PLookahead or t is prog.PLookbehind:
        return prefilter_of(p.sub, default_field) if p.positive else PFTrue()
    if t is prog.PFilter:
        return pf_and(
            [prefilter_of(p.main, default_field), prefilter_of(p.filter, default_field)]
        )
    if t is prog.PExpand:
        return prefilter_of(p.sub, default_field)
    if t is prog.PGraphTraversal:
        return pf_and(
            [prefilter_of(p.src, default_field), _ft_pf(p.full_traversal, default_field)]
        )
    if t is prog.PEvent:
        parts = [prefilter_of(p.trigger, default_field)]
        for arg in p.required:
            parts.append(_ft_pf(arg.full_traversal, default_field))
        return pf_and(parts)
    # PAllNGrams, PMention, PSentenceStart/End — unconstrained
    return PFTrue()


# --- rendering ---------------------------------------------------------------


# a token's incoming/outgoing labels are labels of the sentence's edges, so
# a [incoming=l]/[outgoing=l] constraint or a traversal step over l implies
# that l is in the sentence's edge-label column
EDGE_LABELS = "deps_label"
_FIELD_TO_COLUMN = {"incoming": EDGE_LABELS, "outgoing": EDGE_LABELS}


def to_spark_column(pf, columns=None):
    """``columns``: the sentence table's column list, if known — enables the
    norm synonym-union rendering (norm OR norm_alt) without breaking tables
    that predate the norm_alt column."""
    from pyspark.sql import functions as F

    if isinstance(pf, PFTrue):
        return F.lit(True)
    if isinstance(pf, PFFalse):
        return F.lit(False)
    if isinstance(pf, PFTerm):
        col = F.array_contains(
            F.col(_FIELD_TO_COLUMN.get(pf.field, pf.field)), pf.value
        )
        if pf.field == "norm" and columns is not None and "norm_alt" in columns:
            # default field is a synonym union; norm_alt is null unless it
            # differs from norm, hence the coalesce
            col = col | F.coalesce(
                F.array_contains(F.col("norm_alt"), pf.value), F.lit(False)
            )
        return col
    if isinstance(pf, PFEdge):
        return F.array_contains(F.col(EDGE_LABELS), pf.label)
    if isinstance(pf, PFMultiTerm):
        # sound but unconstrained on the scan path: a per-token regex/edit-
        # distance test would be an interpreted HOF in the hot path; the
        # materialized index consumes this node instead (index.py _expand)
        return F.lit(True)
    if isinstance(pf, PFPhrase):
        # per-term containment is already carried by the sibling PFTerm
        # conjuncts; positional intersection is the index's job
        return F.lit(True)
    if isinstance(pf, PFAnd):
        col = to_spark_column(pf.subs[0], columns)
        for s in pf.subs[1:]:
            col = col & to_spark_column(s, columns)
        return col
    if isinstance(pf, PFOr):
        col = to_spark_column(pf.subs[0], columns)
        for s in pf.subs[1:]:
            col = col | to_spark_column(s, columns)
        return col
    raise TypeError(f"unknown prefilter {pf!r}")
