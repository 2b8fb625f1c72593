"""Recursive-descent parser for the Odinson-compatible rule language.

Grammar parity with the reference parser
(/root/reference/core/src/main/scala/ai/lum/odinson/compiler/QueryParser.scala
and Literals.scala); implemented from scratch as a backtracking
recursive-descent parser. Whitespace and ``#``-comments are insignificant
between tokens (the reference uses fastparse ScriptWhitespace).

Entry points:

* :func:`parse_basic_query`  — surface pattern, optionally followed by a
  graph traversal (the reference's ``basicPattern``).
* :func:`parse_event_query`  — ``trigger = …`` plus argument lines.
* :func:`parse_query` — dispatches on the presence of a trigger line.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from . import ast

DEFAULT_TOKEN_FIELD = "norm"
ALL_TOKEN_FIELDS = (
    "raw",
    "word",
    "norm",
    "lemma",
    "tag",
    "chunk",
    "entity",
    "incoming",
    "outgoing",
)

UNBOUNDED = None  # max=None means unbounded


class ParseError(ValueError):
    def __init__(self, msg: str, text: str, pos: int):
        snippet = text[max(0, pos - 20) : pos + 20]
        super().__init__(f"{msg} at offset {pos}: …{snippet}…")
        self.pos = pos


_JAVA_ESCAPES = {
    "n": "\n",
    "t": "\t",
    "r": "\r",
    "b": "\b",
    "f": "\f",
    "\\": "\\",
    "'": "'",
    '"': '"',
}


def _unescape_java(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt == "u" and i + 5 < len(s):
                out.append(chr(int(s[i + 2 : i + 6], 16)))
                i += 6
                continue
            out.append(_JAVA_ESCAPES.get(nxt, nxt))
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _is_ident_start(c: str) -> bool:
    return c == "_" or c.isalpha()


def _is_ident_part(c: str) -> bool:
    return c == "_" or c.isalnum()


class _P:
    """Cursor over the query text with whitespace/comment skipping."""

    __slots__ = ("text", "pos", "n")

    def __init__(self, text: str):
        self.text = text
        self.pos = 0
        self.n = len(text)

    # -- low level -----------------------------------------------------

    def ws(self):
        t, n = self.text, self.n
        i = self.pos
        while i < n:
            c = t[i]
            if c in " \t\r\n":
                i += 1
            elif c == "#":
                while i < n and t[i] != "\n":
                    i += 1
            else:
                break
        self.pos = i

    def eof(self) -> bool:
        self.ws()
        return self.pos >= self.n

    def peek(self, s: str) -> bool:
        self.ws()
        return self.text.startswith(s, self.pos)

    def take(self, s: str) -> bool:
        self.ws()
        if self.text.startswith(s, self.pos):
            self.pos += len(s)
            return True
        return False

    def expect(self, s: str):
        if not self.take(s):
            raise ParseError(f"expected {s!r}", self.text, self.pos)

    def err(self, msg: str):
        raise ParseError(msg, self.text, self.pos)

    # -- literals (reference: Literals.scala) ---------------------------

    def identifier(self) -> Optional[str]:
        self.ws()
        i = self.pos
        t, n = self.text, self.n
        if i >= n or not _is_ident_start(t[i]):
            return None
        j = i + 1
        while j < n and _is_ident_part(t[j]):
            j += 1
        self.pos = j
        return t[i:j]

    def extended_identifier(self) -> Optional[str]:
        self.ws()
        i = self.pos
        t, n = self.text, self.n
        if i >= n or not _is_ident_start(t[i]):
            return None
        j = i + 1
        while j < n and (_is_ident_part(t[j]) or t[j] in ":-"):
            j += 1
        self.pos = j
        return t[i:j]

    def quoted_string(self) -> Optional[str]:
        self.ws()
        t, n = self.text, self.n
        i = self.pos
        if i >= n or t[i] not in "'\"":
            return None
        q = t[i]
        j = i + 1
        while j < n:
            if t[j] == "\\" and j + 1 < n:
                j += 2
            elif t[j] == q:
                self.pos = j + 1
                return _unescape_java(t[i + 1 : j])
            else:
                j += 1
        self.err("unterminated quoted string")

    def string(self) -> Optional[str]:
        s = self.identifier()
        if s is not None:
            return s
        return self.quoted_string()

    def extended_string(self) -> Optional[str]:
        s = self.extended_identifier()
        if s is not None:
            return s
        return self.quoted_string()

    def regex(self) -> Optional[str]:
        self.ws()
        t, n = self.text, self.n
        i = self.pos
        if i >= n or t[i] != "/":
            return None
        j = i + 1
        while j < n:
            if t[j] == "\\" and j + 1 < n:
                j += 2
            elif t[j] == "/":
                self.pos = j + 1
                # unescape forward slashes only; the regex engine gets the rest
                return t[i + 1 : j].replace("\\/", "/")
            else:
                j += 1
        self.err("unterminated regex")

    def unsigned_int(self) -> Optional[int]:
        self.ws()
        t, n = self.text, self.n
        i = self.pos
        j = i
        while j < n and t[j].isdigit():
            j += 1
        if j == i:
            return None
        self.pos = j
        return int(t[i:j])


class QueryParser:
    def __init__(self, all_token_fields: Tuple[str, ...] = ALL_TOKEN_FIELDS):
        self.all_token_fields = tuple(all_token_fields)

    # ------------------------------------------------------------------
    # entry points
    # ------------------------------------------------------------------

    def parse_basic_query(self, query: str):
        p = _P(query.strip())
        pat = self.graph_traversal_pattern(p)
        if not p.eof():
            p.err("unconsumed input")
        return pat

    def parse_event_query(self, query: str) -> ast.EventPattern:
        p = _P(query.strip())
        p.expect("trigger")
        p.expect("=")
        trigger = self.surface_pattern(p)
        args = []
        while not p.eof():
            args.append(self.argument_pattern(p))
        if not args:
            p.err("event pattern requires at least one argument")
        return ast.EventPattern(trigger, tuple(args))

    def parse_query(self, query: str):
        if re.match(r"^\s*trigger\s*=", query):
            return self.parse_event_query(query)
        return self.parse_basic_query(query)

    # ------------------------------------------------------------------
    # event arguments (reference: QueryParser.scala:26-173)
    # ------------------------------------------------------------------

    def argument_pattern(self, p: _P) -> ast.ArgumentPattern:
        name = p.identifier()
        if name is None:
            p.err("expected argument name")
        label = None
        promote = False
        if p.take(":"):
            if p.take("^"):
                promote = True
            label = p.identifier()
            if label is None:
                p.err("expected argument label")
        quant = self._quantifier(p, include_lazy=False)
        p.expect("=")
        if quant is not None and quant[0] == "greedy":
            mn, mx = quant[1], quant[2]
        else:
            mn, mx = 1, 1

        # a full traversal is a sequence of (traversal, surface) steps,
        # optionally followed by a trailing half-step traversal
        full, last_tr = self._full_traversal_with_optional_half_step(p)

        if label is not None and not promote:
            # existing mention of this label required
            mention = ast.MentionPattern(None, label)
            if full is None:
                full_traversal = ast.SingleStepFullTraversalPattern(last_tr, mention)
            elif last_tr is not None:
                last_step = ast.SingleStepFullTraversalPattern(last_tr, mention)
                full_traversal = ast.ConcatFullTraversalPattern((full, last_step))
            else:
                full_traversal = ast.add_mention_filter_to_terminals(
                    full, mention, allow_promotion=False
                )
            return ast.ArgumentPattern(name, label, full_traversal, mn, mx, promote=False)

        if label is not None and promote:
            mention = ast.MentionPattern(None, label)
            wildcard = ast.ConstraintPattern(ast.Wildcard())
            mention_or_wildcard = ast.DisjunctivePattern((mention, wildcard))
            if full is None:
                full_traversal = ast.SingleStepFullTraversalPattern(
                    last_tr, mention_or_wildcard
                )
            elif last_tr is not None:
                last_step = ast.SingleStepFullTraversalPattern(last_tr, mention_or_wildcard)
                full_traversal = ast.ConcatFullTraversalPattern((full, last_step))
            else:
                full_traversal = ast.add_mention_filter_to_terminals(
                    full, mention, allow_promotion=True
                )
            return ast.ArgumentPattern(name, label, full_traversal, mn, mx, promote=True)

        # untyped: always promoted
        wildcard = ast.ConstraintPattern(ast.Wildcard())
        if full is None:
            full_traversal = ast.SingleStepFullTraversalPattern(last_tr, wildcard)
        elif last_tr is not None:
            last_step = ast.SingleStepFullTraversalPattern(last_tr, wildcard)
            full_traversal = ast.ConcatFullTraversalPattern((full, last_step))
        else:
            full_traversal = full
        return ast.ArgumentPattern(name, None, full_traversal, mn, mx, promote=True)

    def _full_traversal_with_optional_half_step(self, p: _P):
        """Parse ``fullTraversalSurface? disjunctiveTraversal?`` where at least
        one must be present. Returns (full_or_None, trailing_traversal_or_None).
        """
        save = p.pos
        try:
            full = self.full_traversal_surface(p)
        except ParseError:
            p.pos = save
            full = None
        save = p.pos
        try:
            tr = self.disjunctive_traversal(p)
        except ParseError:
            p.pos = save
            tr = None
        if full is None and tr is None:
            p.err("expected traversal")
        return full, tr

    # ------------------------------------------------------------------
    # top level: surface pattern + optional full traversal
    # ------------------------------------------------------------------

    def graph_traversal_pattern(self, p: _P):
        src = self.surface_pattern(p)
        save = p.pos
        try:
            traversal = self.full_traversal_surface(p)
            return ast.GraphTraversalPattern(src, traversal)
        except ParseError:
            p.pos = save
            return src

    # full traversal: one or more (traversal surface) or ( … ){quant} steps
    def full_traversal_surface(self, p: _P):
        steps = [self.atomic_traversal_surface(p)]
        while True:
            save = p.pos
            try:
                steps.append(self.atomic_traversal_surface(p))
            except ParseError:
                p.pos = save
                break
        if len(steps) == 1:
            return steps[0]
        return ast.ConcatFullTraversalPattern(tuple(steps))

    def atomic_traversal_surface(self, p: _P):
        save = p.pos
        try:
            tr = self.disjunctive_traversal(p)
            surf = self.surface_pattern(p)
            return ast.SingleStepFullTraversalPattern(tr, surf)
        except ParseError:
            p.pos = save
        # repeated traversal: "(" fullTraversalSurface ")" quant?
        p.expect("(")
        t = self.full_traversal_surface(p)
        p.expect(")")
        quant = self._quantifier(p, include_lazy=False)
        if quant is None:
            return t
        kind, mn, mx = quant
        return ast.RepeatFullTraversalPattern(mn, mx if mx is not None else ast.UNBOUNDED, t)

    # ------------------------------------------------------------------
    # surface patterns
    # ------------------------------------------------------------------

    def surface_pattern(self, p: _P):
        return self.disjunctive_pattern(p)

    def disjunctive_pattern(self, p: _P):
        clauses = [self.concatenated_pattern(p)]
        while p.take("|"):
            clauses.append(self.concatenated_pattern(p))
        if len(clauses) == 1:
            return clauses[0]
        return ast.DisjunctivePattern(tuple(clauses))

    def concatenated_pattern(self, p: _P):
        pats = [self.quantified_pattern(p)]
        while True:
            save = p.pos
            try:
                pats.append(self.quantified_pattern(p))
            except ParseError:
                p.pos = save
                break
        if len(pats) == 1:
            return pats[0]
        return ast.ConcatenatedPattern(tuple(pats))

    def quantified_pattern(self, p: _P):
        pat = self.atomic_pattern(p)
        quant = self._quantifier(p, include_lazy=True)
        if quant is None:
            return pat
        kind, mn, mx = quant
        if kind == "greedy":
            return ast.GreedyRepetitionPattern(pat, mn, mx)
        return ast.LazyRepetitionPattern(pat, mn, mx)

    def atomic_pattern(self, p: _P):
        p.ws()
        if p.peek("(?<") and not p.peek("(?<=") and not p.peek("(?<!"):
            return self.named_capture_pattern(p)
        if p.peek("(?^"):
            p.expect("(?^")
            pat = self.graph_traversal_pattern(p)
            p.expect(")")
            return ast.ExpandPattern(pat)
        if p.peek("(?=") or p.peek("(?!") or p.peek("(?<=") or p.peek("(?<!"):
            return self.lookaround(p)
        if p.peek("<s>"):
            p.expect("<s>")
            return ast.AssertionPattern(ast.SentenceStartAssertion())
        if p.peek("</s>"):
            p.expect("</s>")
            return ast.AssertionPattern(ast.SentenceEndAssertion())
        if p.peek("@"):
            p.expect("@")
            label = p.string()
            if label is None:
                p.err("expected mention label")
            return ast.MentionPattern(None, label)
        if p.peek("("):
            p.expect("(")
            pat = self.disjunctive_pattern(p)
            p.expect(")")
            return pat
        return ast.ConstraintPattern(self.token_constraint(p))

    def named_capture_pattern(self, p: _P):
        p.expect("(?<")
        name = p.identifier()
        if name is None:
            p.err("expected capture name")
        label = None
        if p.take(":"):
            label = p.identifier()
            if label is None:
                p.err("expected capture label")
        p.expect(">")
        pat = self.disjunctive_pattern(p)
        p.expect(")")
        return ast.NamedCapturePattern(name, label, pat)

    def lookaround(self, p: _P):
        if p.take("(?<="):
            a = ast.PositiveLookbehindAssertion(self.disjunctive_pattern(p))
        elif p.take("(?<!"):
            a = ast.NegativeLookbehindAssertion(self.disjunctive_pattern(p))
        elif p.take("(?="):
            a = ast.PositiveLookaheadAssertion(self.disjunctive_pattern(p))
        elif p.take("(?!"):
            a = ast.NegativeLookaheadAssertion(self.disjunctive_pattern(p))
        else:
            p.err("expected lookaround")
        p.expect(")")
        return ast.AssertionPattern(a)

    # ------------------------------------------------------------------
    # quantifiers — returns (kind, min, max) with max None = unbounded
    # ------------------------------------------------------------------

    def _quantifier(self, p: _P, include_lazy: bool):
        p.ws()
        t, i, n = p.text, p.pos, p.n
        if i < n and t[i] in "?*+":
            is_lazy = include_lazy and i + 1 < n and t[i + 1] == "?"
            c = t[i]
            p.pos = i + (2 if is_lazy else 1)
            kind = "lazy" if is_lazy else "greedy"
            if c == "?":
                return (kind, 0, 1)
            if c == "*":
                return (kind, 0, None)
            return (kind, 1, None)
        if i < n and t[i] == "{":
            save = p.pos
            p.pos = i + 1
            mn = p.unsigned_int()
            if p.take(","):
                mx = p.unsigned_int()
                if not p.take("}"):
                    p.pos = save
                    return None
                is_lazy = False
                if include_lazy and p.pos < n and p.text[p.pos : p.pos + 1] == "?":
                    # "}?" — lazy range
                    p.pos += 1
                    is_lazy = True
                if mn is not None and mx is not None and mn > mx:
                    p.pos = save
                    return None
                kind = "lazy" if is_lazy else "greedy"
                return (kind, mn or 0, mx)
            # exact repetition {n}
            if mn is not None and p.take("}"):
                return ("greedy", mn, mn)
            p.pos = save
            return None
        return None

    # ------------------------------------------------------------------
    # graph traversals
    # ------------------------------------------------------------------

    def disjunctive_traversal(self, p: _P):
        clauses = [self.concatenated_traversal(p)]
        while p.take("|"):
            clauses.append(self.concatenated_traversal(p))
        if len(clauses) == 1:
            return clauses[0]
        return ast.DisjunctiveTraversal(tuple(clauses))

    def concatenated_traversal(self, p: _P):
        ts = [self.quantified_traversal(p)]
        while True:
            save = p.pos
            try:
                ts.append(self.quantified_traversal(p))
            except ParseError:
                p.pos = save
                break
        if len(ts) == 1:
            return ts[0]
        return ast.ConcatenatedTraversal(tuple(ts))

    def quantified_traversal(self, p: _P):
        t = self.atomic_traversal(p)
        quant = self._quantifier(p, include_lazy=False)
        if quant is None:
            return t
        _, mn, mx = quant
        # desugar per reference QueryParser.scala:395-418
        if (mn, mx) == (1, 1):
            return t
        if (mn, mx) == (0, 0):
            return ast.NoTraversal()
        if (mn, mx) == (0, 1):
            return ast.OptionalTraversal(t)
        if (mn, mx) == (0, None):
            return ast.KleeneStarTraversal(t)
        if mx is None:
            return ast.ConcatenatedTraversal(
                tuple([t] * mn + [ast.KleeneStarTraversal(t)])
            )
        if mn == mx:
            return ast.ConcatenatedTraversal(tuple([t] * mn))
        return ast.ConcatenatedTraversal(
            tuple([t] * mn + [ast.OptionalTraversal(t)] * (mx - mn))
        )

    def atomic_traversal(self, p: _P):
        p.ws()
        if p.peek("<<"):
            p.expect("<<")
            return ast.IncomingWildcard()
        if p.peek(">>"):
            p.expect(">>")
            return ast.OutgoingWildcard()
        if p.peek("<s>") or p.peek("</s>"):
            # sentence anchors are surface syntax, not traversals
            p.err("not a traversal")
        if p.peek("<"):
            p.expect("<")
            return ast.IncomingTraversal(self._any_matcher(p))
        if p.peek(">"):
            p.expect(">")
            return ast.OutgoingTraversal(self._any_matcher(p))
        if p.peek("("):
            p.expect("(")
            t = self.disjunctive_traversal(p)
            p.expect(")")
            return t
        p.err("expected traversal")

    def _any_matcher(self, p: _P):
        s = p.extended_string()
        if s is not None:
            return ast.StringMatcher(s)
        r = p.regex()
        if r is not None:
            return ast.RegexMatcher(r)
        p.err("expected edge-label matcher")

    # ------------------------------------------------------------------
    # token constraints
    # ------------------------------------------------------------------

    def token_constraint(self, p: _P):
        p.ws()
        if p.peek("["):
            p.expect("[")
            if p.take("]"):
                return ast.Wildcard()
            c = self.disjunctive_constraint(p)
            p.expect("]")
            return c
        return self.default_field_constraint(p)

    def default_field_constraint(self, p: _P):
        r = p.regex()
        if r is not None:
            return ast.FieldConstraint(DEFAULT_TOKEN_FIELD, ast.RegexMatcher(r))
        s = p.string()
        if s is None:
            p.err("expected token constraint")
        # negative lookahead: must not be an event-argument line
        # (reference QueryParser.scala:458-467)
        save = p.pos
        if p.peek(":"):
            p.pos = save
            p.err("looks like an argument name, not a constraint")
        q = self._quantifier(p, include_lazy=False)
        if p.peek("="):
            p.pos = save
            p.err("looks like an argument name, not a constraint")
        p.pos = save
        if p.take("~"):
            return ast.FuzzyConstraint(DEFAULT_TOKEN_FIELD, ast.StringMatcher(s))
        return ast.FieldConstraint(DEFAULT_TOKEN_FIELD, ast.StringMatcher(s))

    def disjunctive_constraint(self, p: _P):
        clauses = [self.conjunctive_constraint(p)]
        while p.take("|"):
            clauses.append(self.conjunctive_constraint(p))
        if len(clauses) == 1:
            return clauses[0]
        return ast.DisjunctiveConstraint(tuple(clauses))

    def conjunctive_constraint(self, p: _P):
        clauses = [self.negated_constraint(p)]
        while p.take("&"):
            clauses.append(self.negated_constraint(p))
        if len(clauses) == 1:
            return clauses[0]
        return ast.ConjunctiveConstraint(tuple(clauses))

    def negated_constraint(self, p: _P):
        if p.take("!"):
            return ast.NegatedConstraint(self.atomic_constraint(p))
        return self.atomic_constraint(p)

    def atomic_constraint(self, p: _P):
        p.ws()
        if p.peek("("):
            p.expect("(")
            c = self.disjunctive_constraint(p)
            p.expect(")")
            return c
        return self.field_constraint(p)

    def field_constraint(self, p: _P):
        save = p.pos
        name = p.identifier()
        if name is None or name not in self.all_token_fields:
            p.pos = save
            p.err(f"expected a field name (one of {self.all_token_fields})")
        if p.take("!="):
            negated = True
        elif p.take("="):
            negated = False
        else:
            p.err("expected = or !=")
        r = p.regex()
        if r is not None:
            c = ast.FieldConstraint(name, ast.RegexMatcher(r))
            return ast.NegatedConstraint(c) if negated else c
        s = p.extended_string()
        if s is None:
            p.err("expected field value")
        if p.take("~"):
            c = ast.FuzzyConstraint(name, ast.StringMatcher(s))
        else:
            c = ast.FieldConstraint(name, ast.StringMatcher(s))
        return ast.NegatedConstraint(c) if negated else c
