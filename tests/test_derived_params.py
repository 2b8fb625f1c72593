"""End-to-end: large synthetic corpora pick sane partitioning parameters
with NO caller-supplied tuning (round-3 verdict item: wire the derive_*
defaults through the pipeline entry points).

The corpora are pure-Catalyst synthetics (spark.range + hash expressions)
so a million rows costs milliseconds to 'store'; the assertions check both
that the derivation fired with the expected values (via log capture) and
that the derived plan actually executes and returns the right result
shape."""

import logging

from pyspark.sql import functions as F

from odinson_spark.pipeline.linking import derive_banding, lsh_candidate_pairs


def test_banding_derivation_fires_in_linking(spark, caplog):
    surfaces = spark.range(1_000_000).select(
        F.col("id").alias("node_id"),
        F.concat(F.lit("entity_"), F.col("id").cast("string")).alias("surface"),
    )
    with caplog.at_level(logging.INFO, logger="odinson_spark.pipeline.linking"):
        pairs = lsh_candidate_pairs(surfaces, "node_id", "surface")
    # derivation is eager (one count), the signature plan stays lazy
    assert "derived n_hashes=32 bands=4" in caplog.text
    assert pairs.columns == ["id_a", "id_b"]


def test_derive_banding_values():
    # small corpora at the default threshold reproduce the historical (16, 4)
    assert derive_banding(1_000, 0.7) == (16, 4)
    assert derive_banding(999_999, 0.7) == (16, 4)
    # more rows → more permutations (sharper S-curve)
    assert derive_banding(10**8, 0.7)[0] == 32
    assert derive_banding(10**12, 0.7)[0] == 64
    # higher threshold → fewer bands (more rows per band, more selective)
    n16 = {t: derive_banding(10**3, t)[1] for t in (0.5, 0.7, 0.9)}
    assert n16[0.9] <= n16[0.7] <= n16[0.5]


def test_derive_banding_always_divisible():
    # the review-found crash class: every (corpus size, threshold, pinned
    # n_hashes) combination must produce a valid divisor pair
    for n in (1, 10**3, 10**6, 10**9, 10**12):
        for t in (0.1, 0.3, 0.5, 0.7, 0.9, 0.99):
            h, b = derive_banding(n, t)
            assert h % b == 0 and b >= 1
            for pinned in (10, 12, 16, 24, 32, 100):
                h2, b2 = derive_banding(n, t, n_hashes=pinned)
                assert h2 == pinned and pinned % b2 == 0
