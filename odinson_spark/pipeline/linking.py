"""Entity linking: MinHash-LSH blocking + candidate-pair scoring.

No reference counterpart (Odinson stops at mentions); required by the
pipeline's north rule. Design:

1. **Signatures** (narrow): per distinct mention surface, k-shingle the
   normalized string, hash each shingle to a 60-bit integer via md5 (stable
   across Python/SQL/JVM — the DuckDB oracle reproduces it bit-for-bit),
   then n_hashes universal-hash permutations ``(a*h + b) mod p`` with
   p = 2^61-1. Arrow-batched pandas stage, no shuffle.
2. **Banding** (one shuffle): split the signature into bands, group by
   (band_idx, band_hash); surfaces sharing a band bucket are candidates.
   This is the standard LSH trade: P(candidate) ≈ 1-(1-s^r)^b.
3. **Scoring** (narrow after the self-join): exact Jaccard over shingle sets
   for candidate pairs, keep pairs ≥ threshold.

Scale notes: the groupBy key is (band_idx, band_hash) — high cardinality, no
hot keys by construction (hash-distributed); bucket blowup from degenerate
surfaces (e.g. empty strings) is capped via ``max_bucket_size``.

:func:`canonicalize_local` runs the same three steps plus union-find in one
process, from the same helpers; ``build_graph`` picks it for surface tables
that fit on the driver.
"""

from __future__ import annotations

import hashlib
import itertools
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

MERSENNE_P = (1 << 61) - 1
_HASH_BITS_HEX = 15  # 60 bits from md5 hex
# defaults shared by the distributed chain and canonicalize_local, whose
# outputs must agree
SHINGLE_K = 3
MINHASH_SEED = 42
MAX_BUCKET_SIZE = 1000

import logging

logger = logging.getLogger(__name__)


def derive_banding(
    n_rows: int, threshold: float = 0.7, n_hashes: int | None = None
) -> Tuple[int, int]:
    """(n_hashes, bands) derived from corpus size and the link threshold —
    the fixed (16, 4) default is only right for small corpora at t≈0.7.

    Permutation count scales with corpus size: false-candidate volume grows
    with the number of pairs, so bigger corpora need a sharper S-curve
    (more rows per band at the same threshold position) to keep the
    candidate set join-sized — 16 hashes under 10^6 rows, 32 under 10^9,
    64 beyond. The band split then minimizes the standard LSH error
    integral at the threshold: fp = ∫₀ᵗ P_cand(s) ds plus
    fn = ∫ₜ¹ (1 − P_cand(s)) ds with P_cand(s) = 1 − (1 − s^r)^b,
    evaluated by deterministic numeric quadrature over the divisor pairs
    of n_hashes. Below 10^6 rows at t=0.7 this lands on (16, 4) — identical
    to the historical default — and shifts toward more selective bandings
    as n grows. Pass ``n_hashes`` to pin the permutation count and derive
    only the band split for it."""
    n = max(int(n_rows), 1)
    if n_hashes is None:
        if n < 1_000_000:
            n_hashes = 16
        elif n < 1_000_000_000:
            n_hashes = 32
        else:
            n_hashes = 64
    s = np.linspace(0.0, 1.0, 1001)
    best, best_err = None, None
    for bands in range(1, n_hashes + 1):
        if n_hashes % bands:
            continue
        r = n_hashes // bands
        p = 1.0 - (1.0 - s**r) ** bands
        fp = np.trapz(np.where(s < threshold, p, 0.0), s)
        fn = np.trapz(np.where(s >= threshold, 1.0 - p, 0.0), s)
        err = fp + fn
        if best_err is None or err < best_err:
            best, best_err = bands, err
    return n_hashes, best


def _hash_params(n_hashes: int, seed: int = 42) -> Tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE_P, size=n_hashes, dtype=np.int64).astype(object)
    b = rng.randint(0, MERSENNE_P, size=n_hashes, dtype=np.int64).astype(object)
    return a, b


def shingles(s: str, k: int = 3) -> List[str]:
    s = " " + s.lower() + " "
    if len(s) <= k:
        return [s]
    return [s[i : i + k] for i in range(len(s) - k + 1)]


_shingle_cache: dict = {}


def shingle_hash(sh: str) -> int:
    # k-shingles over natural text repeat heavily across documents; the
    # md5 memo turns the signature stage from hash-bound to lookup-bound
    h = _shingle_cache.get(sh)
    if h is None:
        h = int(hashlib.md5(sh.encode("utf-8")).hexdigest()[:_HASH_BITS_HEX], 16)
        if len(_shingle_cache) < 2_000_000:
            _shingle_cache[sh] = h
    return h


def minhash_signature(s: str, n_hashes: int, k: int, a, b) -> List[int]:
    hs = np.array(sorted({shingle_hash(x) for x in shingles(s, k)}), dtype=object)
    sig = []
    for i in range(n_hashes):
        sig.append(int(((a[i] * hs + b[i]) % MERSENNE_P).min()))
    return sig


def _mulmod_mersenne61(a_vec: np.ndarray, h_vec: np.ndarray) -> np.ndarray:
    """Exact ``(a ⊗ h) mod (2^61 - 1)`` as an outer product in pure uint64.

    The 122-bit product is decomposed over 30/31-bit halves; 2^61 ≡ 1
    (mod p) folds every partial back under 64 bits, so the result is
    bit-identical to Python-bigint ``(a * h) % p`` (pinned by
    tests/test_ops_and_kg.py::test_mersenne_mulmod_matches_bigint) with no
    object math. Inputs: ``a_vec`` (n_hashes,), ``h_vec`` (n_uniq,), both
    < 2^61; output shape (n_hashes, n_uniq)."""
    P = np.uint64(MERSENNE_P)

    def red(x):
        # one folding step: x < 2^64 → (x & p) + (x >> 61) < 2^61 + 8
        x = (x & P) + (x >> np.uint64(61))
        return np.where(x >= P, x - P, x)

    a64 = a_vec.astype(np.uint64)[:, None]
    h64 = h_vec.astype(np.uint64)[None, :]
    a_hi, a_lo = a64 >> np.uint64(31), a64 & np.uint64(0x7FFFFFFF)  # <2^30, <2^31
    h_hi, h_lo = h64 >> np.uint64(30), h64 & np.uint64(0x3FFFFFFF)  # <2^31, <2^30
    # a*h = a_hi·h_hi·2^61 + a_hi·h_lo·2^31 + a_lo·h_hi·2^30 + a_lo·h_lo
    # and 2^61 ≡ 1 (mod 2^61 − 1), so each 2^61 factor folds to +1
    t0 = red(a_hi * h_hi)  # ·2^61 ≡ ·1; product < 2^61
    t1 = red(a_hi * h_lo)  # < 2^60
    t1 = red((t1 >> np.uint64(30)) + ((t1 & np.uint64(0x3FFFFFFF)) << np.uint64(31)))  # ·2^31
    t2 = red(a_lo * h_hi)  # < 2^62 → red first
    t2 = red((t2 >> np.uint64(31)) + ((t2 & np.uint64(0x7FFFFFFF)) << np.uint64(30)))  # ·2^30
    t3 = red(a_lo * h_lo)  # < 2^61
    return red(red(t0 + t1) + red(t2 + t3))


def batch_signatures(texts, n_hashes: int, k: int, a, b) -> List[List[int]]:
    """Batch-vectorized :func:`minhash_signature` (identical output).

    Shingles repeat heavily across documents, so ``(a*h + b) mod p`` is
    computed ONCE per unique shingle per batch — and entirely in uint64
    via the Mersenne-61 decomposition above (the old path did Python-
    bigint object math per element). The per-document min stays a per-doc
    gather: a batched ``np.minimum.reduceat`` over the concatenated
    indices was A/B'd and LOST ~3× (the 16×Σ|shingles| gather
    materializes ~85 MB per batch on this host's bandwidth)."""
    uniq: dict = {}
    doc_idx: List[np.ndarray] = []
    for s in texts:
        hs = {shingle_hash(x) for x in shingles(s or "", k)}
        idx = np.empty(len(hs), dtype=np.int64)
        for j, h in enumerate(hs):
            i = uniq.get(h)
            if i is None:
                i = len(uniq)
                uniq[h] = i
            idx[j] = i
        doc_idx.append(idx)
    if not uniq:
        return [[0] * n_hashes for _ in texts]
    H = np.fromiter(uniq.keys(), dtype=np.uint64, count=len(uniq))
    a_u = np.fromiter((int(x) for x in a), dtype=np.uint64, count=n_hashes)
    b_u = np.fromiter((int(x) for x in b), dtype=np.uint64, count=n_hashes)
    perm = _mulmod_mersenne61(a_u, H)
    perm += b_u[:, None]
    P = np.uint64(MERSENNE_P)
    perm = (perm & P) + (perm >> np.uint64(61))
    perm = np.where(perm >= P, perm - P, perm)
    return [
        [int(x) for x in perm[:, idx].min(axis=1)] if len(idx) else [0] * n_hashes
        for idx in doc_idx
    ]


def add_minhash(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int, k: int, seed: int
) -> DataFrame:
    """(id, minhash) per row of ``df``. Only the id crosses back out of the
    Python stage: column pruning cannot see through mapInPandas, so
    shipping the text column back would be pure Arrow serialization."""
    from ..pipeline.extract import _fan_out

    df = _fan_out(df)  # signature stage is CPU-bound; small inputs often
    # arrive as one split and would otherwise run single-task
    a, b = _hash_params(n_hashes, seed)
    out_schema = StructType(
        [df.schema[id_col], StructField("minhash", ArrayType(LongType()))]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[[id_col]].copy()
            out["minhash"] = batch_signatures(list(pdf[text_col]), n_hashes, k, a, b)
            yield out

    return df.mapInPandas(fn, out_schema)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int | None = None,
    bands: int | None = None,
    k: int = SHINGLE_K,
    seed: int = MINHASH_SEED,
    max_bucket_size: int = MAX_BUCKET_SIZE,
    threshold: float = 0.7,
    n_rows: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    ``n_hashes``/``bands`` default to None → derived from the corpus size
    and the downstream link ``threshold`` (:func:`derive_banding`), so the
    pipeline needs no caller-supplied tuning at any scale. Pass ``n_rows``
    (callers usually know it) to skip the ``count()`` the derivation
    otherwise pays; pass ``n_hashes``/``bands`` explicitly for
    reproducibility against a fixed oracle."""
    if n_hashes is None or bands is None:
        n = n_rows if n_rows is not None else df.count()
        if bands is None:
            # derive bands FOR the caller's hash count when one was given —
            # deriving both independently can pair a non-divisor (or a band
            # split optimized for the wrong signature length)
            n_hashes, bands = derive_banding(n, threshold, n_hashes=n_hashes)
        else:
            d_hashes, _ = derive_banding(n, threshold)
            n_hashes = d_hashes if d_hashes % bands == 0 else bands * max(
                1, round(d_hashes / bands)
            )
        logger.info(
            "lsh_candidate_pairs: derived n_hashes=%d bands=%d (n_rows=%d, "
            "threshold=%.2f)", n_hashes, bands, n, threshold,
        )
    assert n_hashes % bands == 0
    rows_per_band = n_hashes // bands
    sig = add_minhash(df.select(id_col, text_col), id_col, text_col, n_hashes, k, seed)
    banded = sig.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.slice("minhash", i * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band_idx", "band_hash"),
    )
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.collect_list("_id").alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket_size))
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x: F.transform("ids", lambda y: F.struct(x.alias("a"), y.alias("b"))),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
    ).select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")).distinct()
    return pairs


def score_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SHINGLE_K,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs; keeps pairs ≥ threshold.
    Join strategy: surfaces table is the small side post-dedup → broadcast
    when it fits, else AQE decides."""
    surf = df.select(F.col(id_col).alias("_sid"), F.col(text_col).alias("_stext"))
    joined = (
        pairs.join(surf.withColumnRenamed("_sid", "id_a").withColumnRenamed("_stext", "text_a"), "id_a")
        .join(surf.withColumnRenamed("_sid", "id_b").withColumnRenamed("_stext", "text_b"), "id_b")
    )
    out_schema = StructType(
        [
            StructField("id_a", joined.schema["id_a"].dataType),
            StructField("id_b", joined.schema["id_b"].dataType),
            StructField("score", DoubleType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["id_a", "id_b"]].copy()
            out["score"] = [
                shingle_jaccard(shingle_set(ta, k), shingle_set(tb, k))
                for ta, tb in zip(pdf["text_a"], pdf["text_b"])
            ]
            yield out

    scored = joined.mapInPandas(fn, out_schema)
    return scored.filter(F.col("score") >= threshold)


def shingle_set(text, k: int) -> set:
    return set(shingles((text or "").lower(), k))


def shingle_jaccard(sa: set, sb: set) -> float:
    return len(sa & sb) / (len(sa | sb) or 1)


def canonicalize_local(
    ids: List[int], texts: List[str], threshold: float = 0.7
) -> pd.DataFrame:
    """Driver twin of :func:`lsh_candidate_pairs` → :func:`score_pairs` →
    ``connected_components_star`` for a surface table small enough to hold
    in one process: (id, component) with component = min id of the class.

    Same banding derivation, signatures, bucket cap and exact Jaccard as
    the distributed chain, so it returns the same map. Buckets are keyed by
    the band slice itself rather than its xxhash64, which only differs on a
    64-bit hash collision. ``ids`` must be distinct."""
    n_hashes, bands = derive_banding(len(ids), threshold)
    rows_per_band = n_hashes // bands
    a, b = _hash_params(n_hashes, MINHASH_SEED)
    buckets: dict = {}
    for i, sig in zip(ids, batch_signatures(texts, n_hashes, SHINGLE_K, a, b)):
        for band in range(bands):
            key = (band, tuple(sig[band * rows_per_band : (band + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(i)
    pairs = set()
    for members in buckets.values():
        if 1 < len(members) <= MAX_BUCKET_SIZE:
            pairs.update(itertools.combinations(sorted(members), 2))
    sets = dict(zip(ids, (shingle_set(t, SHINGLE_K) for t in texts)))
    # union-find that always keeps the smaller root, so every root is its
    # class's min id: the label connected_components_star converges to
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in pairs:
        if shingle_jaccard(sets[x], sets[y]) >= threshold:
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
    return pd.DataFrame(
        {"id": ids, "component": [find(i) for i in ids]}, dtype="int64"
    )
