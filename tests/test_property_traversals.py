"""Property-based graph-traversal oracle: random digraphs × random traversal
patterns, engine results vs an independent brute-force interpreter.

Complements the ported TestTraversals/TestDocumentationGraphtraversals
fixtures the way test_property_regex.py complements the surface-pattern
suites: the test-side interpreter is written independently of the engine
(set-based BFS over explicit edge lists), so any divergence in traversal
semantics — direction, label matching, concatenation, union, optional,
Kleene star — fails loudly on inputs no fixture thought of.

Semantics under test (reference GraphTraversal.scala):
``src >l dst`` follows an outgoing edge labeled l, ``<l`` incoming,
``>>``/``<<`` any label; concatenation composes; ``|`` unions;
``?`` is 0-or-1; ``*`` is reflexive-transitive closure.
"""

import random

import numpy as np
from hypothesis import given, settings, strategies as st

from odinson_spark.lang import ast
from odinson_spark.lang.compiler import PatternCompiler
from odinson_spark.match.context import SentenceBatch
from odinson_spark.match.engine import find_matches
from odinson_spark.testing import sentence_batch_from_docs

LABELS = ["a", "b", "c"]
N_TOKENS = 6


# ---------------------------------------------------------------------------
# independent traversal interpreter (sets over explicit edge lists)
# ---------------------------------------------------------------------------


def step(nodes, edges, direction, label):
    out = set()
    for (s, d, l) in edges:
        if label is not None and l != label:
            continue
        if direction == ">":
            if s in nodes:
                out.add(d)
        else:
            if d in nodes:
                out.add(s)
    return out


def interp(trav, nodes, edges):
    """trav is a nested spec: ('step', dir, label|None) | ('concat', [t…]) |
    ('or', [t…]) | ('opt', t) | ('star', t)."""
    kind = trav[0]
    if kind == "step":
        return step(nodes, edges, trav[1], trav[2])
    if kind == "concat":
        cur = set(nodes)
        for t in trav[1]:
            cur = interp(t, cur, edges)
            if not cur:
                return set()
        return cur
    if kind == "or":
        out = set()
        for t in trav[1]:
            out |= interp(t, nodes, edges)
        return out
    if kind == "opt":
        return set(nodes) | interp(trav[1], nodes, edges)
    if kind == "star":
        seen = set(nodes)
        frontier = set(nodes)
        while frontier:
            nxt = interp(trav[1], frontier, edges) - seen
            seen |= nxt
            frontier = nxt
        return seen
    raise ValueError(trav)


def render(trav) -> str:
    kind = trav[0]
    if kind == "step":
        if trav[2] is None:
            return ">>" if trav[1] == ">" else "<<"
        return f"{trav[1]}{trav[2]}"
    if kind == "concat":
        return " ".join(render(t) for t in trav[1])
    if kind == "or":
        return "(" + " | ".join(render(t) for t in trav[1]) + ")"
    if kind == "opt":
        return f"({render(trav[1])})?"
    if kind == "star":
        return f"({render(trav[1])})*"
    raise ValueError(trav)


def gen_traversal(rng, depth=0):
    choices = ["step", "step", "concat", "or", "opt", "star"]
    kind = rng.choice(choices if depth < 2 else ["step"])
    if kind == "step":
        return ("step", rng.choice("><"), rng.choice(LABELS + [None]))
    if kind == "concat":
        return ("concat", [gen_traversal(rng, depth + 1) for _ in range(rng.randint(2, 3))])
    if kind == "or":
        return ("or", [gen_traversal(rng, depth + 1) for _ in range(2)])
    if kind == "opt":
        return ("opt", gen_traversal(rng, depth + 1))
    return ("star", gen_traversal(rng, depth + 1))


def gen_graph(rng, n=N_TOKENS):
    """1-10 distinct labeled edges between distinct tokens of [0, n)."""
    n_edges = min(rng.randint(1, 10), n * (n - 1) * len(LABELS))
    edges = set()
    while len(edges) < n_edges:
        s = rng.randrange(n)
        d = rng.randrange(n)
        if s != d:
            edges.add((s, d, rng.choice(LABELS)))
    return sorted(edges)


def gen_batch(rng):
    """2-4 sentences of random lengths: random graphs, now and then an
    edgeless sentence, and edges with an endpoint outside their sentence
    (which the batch CSR drops)."""
    out = []
    for _ in range(rng.randint(2, 4)):
        n = rng.randint(2, N_TOKENS)
        edges = [] if rng.random() < 0.2 else gen_graph(rng, n)
        if rng.random() < 0.3:
            ends = [rng.choice([-1, n]), rng.randrange(n)]
            rng.shuffle(ends)
            edges.append((*ends, rng.choice(LABELS)))
        out.append((n, edges))
    return out


def test_random_traversals_match_brute_force():
    """Each case is one batch of several sentences, so every sentence's
    traversal runs at its own token base in the batch CSR."""
    rng = random.Random(20260816)
    compiler = PatternCompiler()
    checked = 0
    for case in range(300):
        sentences = gen_batch(rng)
        trav = gen_traversal(rng)
        src_tok = rng.randrange(N_TOKENS)
        pattern = f"[raw=t{src_tok}] {render(trav)} []"
        batch = sentence_batch_from_docs(
            [{"raw": [f"t{i}" for i in range(n)], "edges": edges} for n, edges in sentences]
        )
        program = compiler.compile(pattern)
        for i, (n, edges) in enumerate(sentences):
            # ≥1 in-range edge: a sentence with NO graph yields no traversal
            # matches at all (reference: missing dependencies field → no
            # binary graph → the traversal query matches nothing, even 0-hop
            # optionals)
            graph = [(s, d, lab) for s, d, lab in edges if 0 <= s < n and 0 <= d < n]
            want = interp(trav, {src_tok}, graph) if graph and src_tok < n else set()
            # engine matches land ON the destination token (span length 1)
            got_dsts = {m.start for m in find_matches(program, batch.context(i))}
            assert got_dsts == want, (
                f"case {case} sentence {i}: pattern={pattern!r} edges={edges} "
                f"got={sorted(got_dsts)} want={sorted(want)}"
            )
            checked += 1
    assert checked >= 600


# ---------------------------------------------------------------------------
# incoming/outgoing token labels: the batch CSR view vs a per-token oracle
# ---------------------------------------------------------------------------

@st.composite
def _sentence_graphs(draw):
    """(num_tokens, [(src, dst, label), …], as_arrays) per sentence: edges
    include self-loops, duplicates and endpoints outside [0, n)."""
    out = []
    for _ in range(draw(st.integers(1, 4))):
        n = draw(st.integers(1, 5))
        end = st.integers(-2, n + 1)
        edges = draw(st.lists(st.tuples(end, end, st.sampled_from(LABELS)), max_size=10))
        if edges and draw(st.booleans()):
            edges.append(edges[0])  # an exact duplicate
        out.append((n, edges, draw(st.booleans())))
    return out


def _per_token_labels(n, edges):
    """The reference's per-token derivation (DependencyTokenStream): every
    in-range edge adds its label to the source's outgoing and the
    destination's incoming list, in edge order."""
    inc = [[] for _ in range(n)]
    out = [[] for _ in range(n)]
    for s, d, lab in edges:
        if 0 <= s < n and 0 <= d < n:
            out[s].append(lab)
            inc[d].append(lab)
    return {"incoming": inc, "outgoing": out}


@given(_sentence_graphs())
@settings(max_examples=200, deadline=None)
def test_inout_labels_from_batch_csr(sentences):
    cols = ([], [], [])
    for _, edges, as_arrays in sentences:
        src, dst, lab = [e[0] for e in edges], [e[1] for e in edges], [e[2] for e in edges]
        if as_arrays:  # the Arrow form; lists are the annotate_code form
            src, dst, lab = np.array(src, np.int32), np.array(dst, np.int32), np.array(lab, object)
        for col, v in zip(cols, (src, dst, lab)):
            col.append(v)
    batch = SentenceBatch(layers={}, num_tokens=[n for n, _, _ in sentences], edges=cols)
    for i, (n, edges, _) in enumerate(sentences):
        want = _per_token_labels(n, edges)
        for field in ("incoming", "outgoing"):
            f = batch.multi_field(field)
            t0 = int(f.sent_offsets[i])
            got = [
                [f.vocab[c] for c in f.codes[f.tok_offsets[t0 + t] : f.tok_offsets[t0 + t + 1]]]
                for t in range(n)
            ]
            assert got == want[field], (field, i, edges)
            for label in LABELS:
                mask = batch.leaf_mask(i, field, ast.StringMatcher(label))
                assert mask.tolist() == [label in ls for ls in want[field]], (field, label)
