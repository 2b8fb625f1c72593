"""Live-index phase: build a ``TermIndex`` over the build phase's sentences,
then serve a closed loop of first-page searches and exhaustive counts (and,
in traced runs, document updates) from one client with zero think time.

Seven pattern classes are drawn from the corpus vocabulary: a selective
identifier, a frequent keyword, a phrase with a gap, a regex, a fuzzy term,
an ``[entity=CALL] >arg`` traversal, and an event rule. Event rules are not
basic patterns, so that class runs the compiled rule through
``extract_mentions_df`` over the index's live sentences.
"""

from __future__ import annotations

import random
import re
from typing import Dict, List, Sequence

from pyspark.sql import functions as F

from odinson_spark.index import TermIndex
from odinson_spark.lang.rules import RuleReader
from odinson_spark.pipeline.extract import apply_prefilter, extract_mentions_df, tokenize_repos
from odinson_spark.schema import REPOS_SCHEMA

from . import gen

CLASSES = ("ident", "keyword", "phrase", "regex", "fuzzy", "traversal", "event")
PAGE_N = 10
_KEY = ("doc_id", "sent_id", "start", "end")

EVENT_RULE = """
rules:
  - name: q-event
    type: event
    pattern: |
      trigger = [norm={f}]
      subject = <assign [tag=IDENT]
      object = >arg [norm={a}]
"""


class Vocab:
    """Terms the live patterns draw from, taken from the corpus itself so
    that every pattern has hits: (callee, first argument) pairs of real call
    sites, and those of the rarer identifiers that occur."""

    def __init__(self, rows: Sequence, rare: Sequence[str], keywords: Sequence[str]):
        pairs, words = set(), set()
        for row in rows:
            pairs.update(_CALL_RE.findall(row[4]))
            words.update(_WORD_RE.findall(row[4].lower()))
        self.pairs = sorted((f.lower(), a.lower()) for f, a in pairs)
        self.rare = [t.lower() for t in rare if t.lower() in words]
        self.keywords = list(keywords)


_CALL_RE = re.compile(r"([A-Za-z_]\w*)\(([A-Za-z_]\w*)")
_WORD_RE = re.compile(r"[a-z_]\w*")


def make_pattern(rng: random.Random, vocab: Vocab, cls: str) -> str:
    f, a = rng.choice(vocab.pairs)
    if cls == "ident":
        return f"[norm={rng.choice(vocab.rare)}]"
    if cls == "keyword":
        return f"[norm={rng.choice(vocab.keywords)}]"
    if cls == "phrase":
        return f"[norm={f}] [] [norm={a}]"
    if cls == "regex":
        return f"[norm=/{a[:3]}.*/]"
    if cls == "fuzzy":
        i = rng.randrange(1, len(a) - 1) if len(a) > 2 else 0
        return f"[norm={a[:i] + a[i + 1:]}~]"
    if cls == "traversal":
        return f"[entity=CALL] >arg [norm={a}]"
    if cls == "event":
        return EVENT_RULE.format(f=f, a=a)
    raise ValueError(cls)


def plan_ops(seed: int, rnd: int, vocab: Vocab, prev: Dict[str, str], updates: bool) -> List[dict]:
    """Round ``rnd`` of the closed loop: one query per class, a first-page
    search or an exhaustive count by turns (the even classes page on even
    rounds), so two rounds cover both modes of every class. From the second
    round on, the odd classes repeat the previous round's pattern (popular
    queries); the rest are fresh. With ``updates``, an add batch rides in
    the middle of the round and a delete call ends it. The class order is
    fixed, so each class sees the same index state on every seed.
    ``prev`` maps a class to its last pattern and is updated in place."""
    rng = random.Random(f"ops/{seed}/{rnd}")
    ops = []
    for i, cls in enumerate(CLASSES):
        fresh = make_pattern(rng, vocab, cls)
        pattern = prev[cls] if i % 2 and cls in prev else fresh
        prev[cls] = pattern
        ops.append({"op": "page" if (i + rnd) % 2 == 0 else "count", "cls": cls, "pattern": pattern})
        if updates and i == len(CLASSES) // 2:
            ops.append({"op": "add"})
    if updates:
        ops.append({"op": "delete"})
    return ops


class LiveIndex:
    """The index, its current engine, and the reads and writes on it."""

    def __init__(self, spark, index: TermIndex):
        self.spark = spark
        self.index = index
        self.engine = index.engine()
        self._rules: Dict[str, list] = {}  # compiled event rules by text

    def reopen(self) -> None:
        self.index.refresh()
        self.engine = self.index.engine()

    def _event(self, rule: str):
        ex = self._rules.get(rule)
        if ex is None:
            ex, _ = RuleReader().compile_rules(rule)
            self._rules[rule] = ex
        sents = self.index.live_sentences()
        return extract_mentions_df(apply_prefilter(sents, ex), ex)

    def mentions(self, cls: str, pattern: str):
        if cls == "event":
            return self._event(pattern)
        return self.engine.mentions(pattern)

    def page(self, cls: str, pattern: str) -> list:
        if cls == "event":
            m = self._event(pattern)
            return m.orderBy(*[F.col(k).asc() for k in _KEY]).limit(PAGE_N).collect()
        return self.engine.search(pattern, n=PAGE_N).rows

    def count(self, cls: str, pattern: str) -> int:
        return self.mentions(cls, pattern).count()

    def add(self, rows, marker: str) -> int:
        """Add a batch; returns how often a fresh engine sees ``marker``."""
        sents = tokenize_repos(self.spark.createDataFrame(rows, REPOS_SCHEMA))
        self.index.add_documents(sents)
        self.engine = self.index.engine()
        return self.engine.mentions(f"[norm={marker}]").count()

    def delete(self, doc_ids, probe: str) -> int:
        """Delete documents; returns how many ``probe`` mentions a fresh
        engine still sees."""
        self.index.delete_documents(doc_ids)
        self.reopen()
        return self.engine.mentions(probe).count()


def add_batch(seed: int, k: int, n_files: int) -> tuple:
    """Seeded files to add in update ``k``. One file carries a marker that
    must stay visible, one a marker whose file is deleted later."""
    rows = gen.code_repos(seed * 1000 + 17 + k, n_files, n_repos=4, mean_lines=20, giant_frac=0.0)
    keep, drop = f"kgmark{seed}k{k}", f"kgdrop{seed}k{k}"
    out = []
    for i, (repo, path, commit, lang, content) in enumerate(rows):
        path = f"live/add{k}/{path}"
        if i == 0:
            content += f"    {keep} = compute({keep}, x)\n"
        if i == 1:
            content += f"    {drop} = compute(y, {drop})\n"
        out.append((repo, path, commit, lang, content))
    return out, keep, drop
