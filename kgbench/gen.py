"""Seeded input generator for the KG benchmark workloads.

Every table is a list of ``repos(repo, path, commit, lang, content)`` rows
built from ``random.Random(seed)`` alone, so the same seed gives the same
rows on any host. :func:`table_digest` hashes a table's bytes; the benchmark
generates each table twice and compares digests before it runs anything.

* ``code_repos`` — Python-like source over a small identifier vocabulary.
  Repo sizes follow a Zipf law and a few giant files add partition skew.
* ``link_repos`` — many short files over a large vocabulary whose spellings
  come in near-duplicate families (``user_name``/``userName``/``username2``),
  so most extracted triples carry a distinct surface.
"""

from __future__ import annotations

import hashlib
import os
import random
from typing import List, Sequence, Tuple

Row = Tuple[str, str, str, str, str]

SMALL_VARS = (
    "data result value total count items item node key name path config "
    "buf size index offset state ctx request response user session token "
    "text line row col batch frame cache entry record payload"
).split()
SMALL_FUNCS = (
    "compute load save parse render fetch update merge split build encode "
    "decode validate resolve flush lookup"
).split()
SMALL_OBJS = "self db client logger store queue".split()
COMMENT_WORDS = (
    "the value is cached here so later calls skip the lookup and return "
    "early when the batch is empty or the key was seen before"
).split()

GIANT_LINES = 600  # length of code_repos' giant-file tail
LINK_LINES = 6  # lines per link_repos file

_SYLLABLES = (
    "ab ac ad al am an ar as at ba be bo ca ce co da de di do el em en er "
    "fa fe fi ga ge go ha he hi ka ke ki la le li lo ma me mi mo na ne ni "
    "no pa pe pi po ra re ri ro sa se si so ta te ti to va ve vi wa we xo "
    "za ze"
).split()


def _zipf_weights(n: int, s: float) -> List[float]:
    return [1.0 / (rank ** s) for rank in range(1, n + 1)]


def _commit(*parts) -> str:
    return hashlib.sha1("/".join(map(str, parts)).encode()).hexdigest()


def _code_line(rng: random.Random, vars_, funcs, objs) -> str:
    v, a, b, c = (rng.choice(vars_) for _ in range(4))
    f, g = rng.choice(funcs), rng.choice(funcs)
    o = rng.choice(objs)
    n = rng.randint(0, 99)
    k = rng.random()
    if k < 0.30:
        return f"    {v} = {f}({a}, {b})"
    if k < 0.42:
        return f"    {v} = {f}({a})"
    if k < 0.50:
        return f"    {v} = {o}.{f}({a}, {n})"
    if k < 0.60:
        return f"    {f}({a}, {b}, {c})"
    if k < 0.68:
        return f"    {v} = {a} + {b}"
    if k < 0.76:
        return f"    return {f}({g}({a}), {b})"
    if k < 0.84:
        return f"    if {a} > {n}:"
    if k < 0.90:
        return f"    {v} = {a}"
    return f"    {o}.{f}({v}={a}, {b})"


def _file(rng, n_lines, vars_, funcs, objs) -> str:
    lines = [f"import {rng.choice(objs)}", ""]
    while len(lines) < n_lines:
        f = rng.choice(funcs)
        lines.append(f"def {f}_{rng.randint(0, 9)}({rng.choice(vars_)}, {rng.choice(vars_)}):")
        for _ in range(rng.randint(3, 9)):
            line = _code_line(rng, vars_, funcs, objs)
            if rng.random() < 0.6:
                line += "  # " + " ".join(rng.choices(COMMENT_WORDS, k=rng.randint(4, 10)))
            lines.append(line)
        lines.append("")
    return "\n".join(lines[:n_lines]) + "\n"


def _line_counts(rng, n_files: int, mean_lines: int, giant_frac: float) -> List[int]:
    """Lines per file: exactly ``round(n_files * giant_frac)`` giant files at
    seeded places, the rest Gaussian around ``mean_lines`` and then nudged
    to a total of ``mean_lines`` each, so the table's size, and with it the
    work a run does, is the same for every seed."""
    giants = set(rng.sample(range(n_files), round(n_files * giant_frac)))
    body = [i for i in range(n_files) if i not in giants]
    counts = [GIANT_LINES] * n_files
    for i in body:
        counts[i] = max(4, int(rng.gauss(mean_lines, mean_lines / 3)))
    excess = sum(counts[i] for i in body) - mean_lines * len(body)
    while excess:
        i = rng.choice(body)
        step = 1 if excess < 0 else -1
        if counts[i] + step >= 4:
            counts[i] += step
            excess += step
    return counts


def code_repos(
    seed: int,
    n_files: int,
    n_repos: int = 40,
    mean_lines: int = 30,
    giant_frac: float = 0.01,
) -> List[Row]:
    """Zipf-sized repos of Python-like files over a small vocabulary; a
    ``giant_frac`` tail of files is ``GIANT_LINES`` long."""
    rng = random.Random(f"code/{seed}")
    repos = [f"org{i % 7}/repo{i:03d}" for i in range(n_repos)]
    weights = _zipf_weights(n_repos, 1.1)
    counts = _line_counts(rng, n_files, mean_lines, giant_frac)
    rows = []
    for i, n_lines in enumerate(counts):
        repo = rng.choices(repos, weights)[0]
        content = _file(rng, n_lines, SMALL_VARS, SMALL_FUNCS, SMALL_OBJS)
        path = f"src/mod{i // 50}/f{i}.py"
        rows.append((repo, path, _commit(seed, repo, path), "python", content))
    return rows


def _family(stem: Tuple[str, str]) -> List[str]:
    """Near-duplicate spellings of one two-part identifier, distinct after
    lower-casing (``user_name``, ``userName``, ``username2``, ...)."""
    a, b = stem
    return [
        f"{a}_{b}",
        f"{a}{b.capitalize()}",
        f"{a}{b}2",
        f"{a}_{b}_id",
        f"{a}{b.capitalize()}s",
        f"get_{a}_{b}",
    ]


def link_vocabulary(seed: int, n_stems: int) -> List[str]:
    rng = random.Random(f"vocab/{seed}")
    stems = set()
    while len(stems) < n_stems:
        a = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
        b = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
        stems.add((a, b))
    vocab, seen = [], set()
    for stem in sorted(stems):
        for word in _family(stem):
            if word.lower() not in seen:
                seen.add(word.lower())
                vocab.append(word)
    return vocab


def link_repos(seed: int, n_files: int, n_stems: int) -> List[Row]:
    """Short files whose calls and assignments draw identifiers from a large
    near-duplicate vocabulary."""
    rng = random.Random(f"link/{seed}")
    vocab = link_vocabulary(seed, n_stems)
    funcs = SMALL_FUNCS
    rows = []
    for i in range(n_files):
        body = [f"def {rng.choice(funcs)}_{i}({rng.choice(vocab)}):"]
        while len(body) < LINK_LINES:
            v, a, b = rng.choice(vocab), rng.choice(vocab), rng.choice(vocab)
            if rng.random() < 0.7:
                body.append(f"    {v} = {rng.choice(funcs)}({a}, {b})")
            else:
                body.append(f"    {rng.choice(funcs)}({a}, {b})")
        repo = f"org{i % 13}/svc{i % 97:02d}"
        path = f"pkg/m{i}.py"
        rows.append((repo, path, _commit(seed, repo, path), "python", "\n".join(body) + "\n"))
    return rows


def write_parquet(rows: Sequence[Row], path: str, n_files: int) -> None:
    """Write the table as ``n_files`` parquet files, replacing ``path``."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    cols = ("repo", "path", "commit", "lang", "content")
    for i in range(n_files):
        part = rows[i::n_files]
        table = pa.table({c: [r[j] for r in part] for j, c in enumerate(cols)})
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def doc_id(row: Row) -> str:
    """The ``doc_id`` the pipeline gives a repos row."""
    return f"{row[0]}/{row[1]}@{row[2]}"


def table_digest(rows: Sequence[Row]) -> str:
    """sha256 over the table's bytes (length-prefixed fields, row order)."""
    h = hashlib.sha256()
    for row in rows:
        for field in row:
            b = field.encode("utf-8")
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    return h.hexdigest()


def table_stats(rows: Sequence[Row]) -> dict:
    return {
        "files": len(rows),
        "lines": sum(r[4].count("\n") for r in rows),
        "bytes": sum(len(r[4].encode("utf-8")) for r in rows),
    }
