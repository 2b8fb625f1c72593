"""Skew handling for giant repos/files (north-rule requirement).

Source-code corpora are badly skewed: a few repos hold millions of files and
a few files hold megabytes of text. ``salted_repartition``, applied before
the tokenize stage, handles hot keys like ``repo``: we shuffle on
(hash(repo, path), salt) so no single task owns a whole giant repo.

Oversized files are split/truncated by the tokenizer's per-sentence cap, so
no single row can blow an executor regardless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_repartition(
    df: DataFrame, cols, num_partitions: int, salt_buckets: int = 16, salt_cols=None
) -> DataFrame:
    """Shuffle on (cols, salt) so a hot key spreads over ``salt_buckets``
    tasks. The salt is derived deterministically from row CONTENT (all
    columns by default), never from ``monotonically_increasing_id()`` or a
    random: a nondeterministic shuffle key re-hashes rows differently when a
    stage retries after a fetch failure, which Spark cannot reconcile and may
    duplicate or drop rows."""
    basis = [F.col(c) for c in (salt_cols or df.columns)]
    salt = F.pmod(F.xxhash64(*basis), F.lit(salt_buckets))
    return (
        df.withColumn("_salt", salt)
        .repartition(num_partitions, *(list(cols) + ["_salt"]))
        .drop("_salt")
    )

